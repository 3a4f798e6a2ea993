"""Pluggable ML engines for CREATE MODEL — the Spark-first shape of the
reference's ML-handler zoo (reference: command_executor.py:1532-1567
resolves the engine named in USING and hands it the training query;
handlers implement create/predict, e.g. the lightwood/statsforecast
integrations).

An engine here is `factory(name, train_df, target, params) -> ModelSpec`.
The MLlib engines train on a *distributed* DataFrame (fit runs on the
cluster, only the fitted parameters come back to the driver) and return
those parameters as Column expressions: the model join is then one
projection in the same Catalyst plan, with no Python worker. The `llm`
and `ts_naive_drift` engines need Python at inference and return a pandas
``predict`` (see `operators/model.py`).
"""

from __future__ import annotations

from functools import reduce

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mindsdb_spark.operators.model import ModelSpec

_NUMERIC = ("int", "bigint", "smallint", "tinyint", "double", "float", "decimal")


def _numeric_features(df: DataFrame, target: str) -> list[str]:
    feats = [
        c for c, t in df.dtypes if c != target and any(t.startswith(n) for n in _NUMERIC)
    ]
    if not feats:
        raise ValueError("no numeric feature columns to train on")
    return feats


def _affine(x: list[Column], weights, intercept: float) -> Column:
    """``intercept + x_0 * w_0 + x_1 * w_1 + …``, folded left in
    coefficient order."""
    return reduce(
        Column.__add__, [xi * F.lit(w) for xi, w in zip(x, weights)], F.lit(intercept)
    )


def spark_ml_linreg(name: str, train_df: DataFrame, target: str, params: dict) -> ModelSpec:
    """Distributed least-squares via MLlib LinearRegression; inference is
    the affine map ``intercept + Σ x_i * w_i`` as a Column expression
    (coefficients only cross the driver)."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import LinearRegression

    feats = _numeric_features(train_df, target)
    casted = train_df
    for c in [*feats, target]:
        casted = casted.withColumn(c, casted[c].cast("double"))
    va = VectorAssembler(inputCols=feats, outputCol="__features")
    lr = LinearRegression(
        featuresCol="__features",
        labelCol=target,
        regParam=float(params.get("reg_param", 0.0)),
        elasticNetParam=float(params.get("elastic_net", 0.0)),
    )
    model = lr.fit(va.transform(casted.dropna(subset=[*feats, target])))
    coefs = dict(zip(feats, [float(w) for w in model.coefficients]))
    intercept = float(model.intercept)

    return ModelSpec(
        name=name, columns=lambda x: [_affine(x, coefs.values(), intercept)],
        output_schema=f"{target} double",
        features=feats,
        info={"engine": "spark_ml_linreg", "coefficients": coefs,
              "intercept": intercept},
    )


def spark_ml_kmeans_label(name: str, train_df: DataFrame, target: str, params: dict) -> ModelSpec:
    """Cluster-id 'prediction': MLlib KMeans fit; inference is the position
    of the smallest squared distance to the centroids, as a Column
    expression (first centroid on ties and on NULL features). `target`
    names the output column."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.feature import VectorAssembler

    feats = _numeric_features(train_df, target) if target in dict(train_df.dtypes) else [
        c for c, t in train_df.dtypes if any(t.startswith(n) for n in _NUMERIC)
    ]
    casted = train_df
    for c in feats:
        casted = casted.withColumn(c, casted[c].cast("double"))
    va = VectorAssembler(inputCols=feats, outputCol="__features")
    km = KMeans(
        k=int(params.get("k", 4)), seed=int(params.get("seed", 42)), featuresCol="__features"
    )
    centers = [
        [float(v) for v in c]
        for c in km.fit(va.transform(casted.dropna(subset=feats))).clusterCenters()
    ]

    def columns(x: list[Column]) -> list[Column]:
        d = [
            reduce(Column.__add__, [(xi - F.lit(ci)) * (xi - F.lit(ci)) for xi, ci in zip(x, c)])
            for c in centers
        ]
        if len(d) == 1:
            return [F.lit(0)]
        # CASE picks the first centroid at the minimum; a NULL distance
        # matches no branch and falls to centroid 0
        nearest = F.least(*d)
        label = F.when(d[0] == nearest, 0)
        for j in range(1, len(d)):
            label = label.when(d[j] == nearest, j)
        return [label.otherwise(0)]

    return ModelSpec(
        name=name, columns=columns, output_schema=f"{target} long",
        features=feats,
        info={"engine": "spark_ml_kmeans", "n_centroids": len(centers)},
    )


def spark_ml_logreg(name: str, train_df: DataFrame, target: str, params: dict) -> ModelSpec:
    """Binary classifier via MLlib LogisticRegression: distributed fit, the
    fitted (coefficients, intercept) predict as the sigmoid of the affine
    map, a Column expression; the label is the positive one where the
    probability is at least 0.5. Target may be any two-valued column; label
    mapping is returned in sorted order so training is deterministic."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import VectorAssembler

    feats = _numeric_features(train_df, target)
    casted = train_df
    for c in feats:
        casted = casted.withColumn(c, casted[c].cast("double"))
    # LIMIT 3 bounds the driver collect even on a mistakenly-continuous
    # target: two rows prove binary, a third proves it isn't
    labels = sorted(r[0] for r in casted.select(target).distinct().limit(3).collect())
    if len(labels) != 2:
        raise ValueError(
            f"spark_ml_logreg needs a binary target, got {'>2' if len(labels) > 2 else len(labels)} values"
        )
    casted = casted.withColumn(
        "__label", (casted[target] == labels[1]).cast("double")
    )
    va = VectorAssembler(inputCols=feats, outputCol="__features")
    lr = LogisticRegression(
        featuresCol="__features",
        labelCol="__label",
        regParam=float(params.get("reg_param", 0.0)),
        maxIter=int(params.get("max_iter", 50)),
    )
    model = lr.fit(va.transform(casted.dropna(subset=[*feats])))
    coefs = [float(w) for w in model.coefficients]
    intercept = float(model.intercept)
    neg, pos = labels

    def columns(x: list[Column]) -> list[Column]:
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-_affine(x, coefs, intercept)))
        # a NULL probability is not >= 0.5: NULL features give the negative label
        return [F.when(p >= 0.5, F.lit(pos)).otherwise(F.lit(neg)), p]

    out_type = "string" if isinstance(pos, str) else "double"
    return ModelSpec(
        name=name,
        columns=columns,
        output_schema=f"{target} {out_type}, {target}_probability double",
        features=feats,
        info={"engine": "spark_ml_logreg", "labels": [neg, pos],
              "coefficients": dict(zip(feats, coefs)),
              "intercept": intercept},
    )


def spark_ml_gbt(name: str, train_df: DataFrame, target: str, params: dict) -> ModelSpec:
    """Gradient-boosted trees regressor (MLlib GBTRegressor): distributed
    fit; each fitted tree is exported as (feature, threshold) nodes and
    predicts as one nested ``CASE WHEN x_f <= thr`` Column expression, the
    trees summed with their weights. A NULL feature takes the right
    branch."""
    from pyspark.ml.feature import VectorAssembler
    from pyspark.ml.regression import GBTRegressor

    feats = _numeric_features(train_df, target)
    casted = train_df
    for c in [*feats, target]:
        casted = casted.withColumn(c, casted[c].cast("double"))
    va = VectorAssembler(inputCols=feats, outputCol="__features")
    gbt = GBTRegressor(
        featuresCol="__features",
        labelCol=target,
        maxDepth=int(params.get("max_depth", 3)),
        maxIter=int(params.get("n_trees", 10)),
        seed=int(params.get("seed", 42)),
    )
    model = gbt.fit(va.transform(casted.dropna(subset=[*feats, target])))
    trees = [
        (_export_tree(t._call_java("rootNode")), float(w))
        for t, w in zip(model.trees, model.treeWeights)
    ]

    def tree(x: list[Column], nodes, w: float, i: int = 0) -> Column:
        feat, thr, left, right, pred = nodes[i]
        if feat < 0:
            return F.lit(w * pred)
        return F.when(x[feat] <= F.lit(thr), tree(x, nodes, w, left)).otherwise(
            tree(x, nodes, w, right)
        )

    def columns(x: list[Column]) -> list[Column]:
        # summed from 0.0 in tree order, as the ensemble accumulates
        return [reduce(Column.__add__, [tree(x, n, w) for n, w in trees], F.lit(0.0))]

    return ModelSpec(
        name=name, columns=columns, output_schema=f"{target} double",
        features=feats,
        info={"engine": "spark_ml_gbt", "n_trees": len(trees),
              "max_depth": int(params.get("max_depth", 3))},
    )


def _export_tree(java_node, nodes=None):
    """Flatten an MLlib decision-tree node to (feature, threshold, left,
    right, prediction) tuples; feature = -1 marks a leaf."""
    if nodes is None:
        nodes = []
    idx = len(nodes)
    cls = java_node.getClass().getSimpleName()
    if cls == "InternalNode":
        split = java_node.split()
        nodes.append(None)  # placeholder until children are numbered
        left = _export_tree_child(java_node.leftChild(), nodes)
        right = _export_tree_child(java_node.rightChild(), nodes)
        nodes[idx] = (
            int(split.featureIndex()),
            float(split.threshold()),
            left,
            right,
            0.0,
        )
    else:
        nodes.append((-1, 0.0, -1, -1, float(java_node.prediction())))
    return nodes


def _export_tree_child(java_node, nodes):
    idx = len(nodes)
    _export_tree(java_node, nodes)
    return idx


def llm_prompt_model(name: str, train_df: DataFrame, target: str, params: dict) -> ModelSpec:
    """Prompt-template LLM "model": CREATE MODEL ... USING engine = 'llm',
    prompt_template = 'Answer using {{col}} ...' PREDICT answer.

    The reference's LLM-handler surface (docs flagship; langchain/LLM
    handlers render the template per row, then complete in batches). No
    training happens — "fit" just validates the template's {{placeholders}}
    against available columns when a FROM query is given. Predict renders
    the template per row and completes one batch per Arrow block (the
    pandas-UDF stage apply_model already provides). The transport defaults
    to the deterministic content-hash mock; a real client plugs in via
    params['transport'] (callable list[str] -> list[str])."""
    import re as _re

    template = params.get("prompt_template")
    if not template:
        raise ValueError("engine 'llm' requires USING prompt_template = '...'")
    placeholders = _re.findall(r"\{\{\s*(\w+)\s*\}\}", template)
    if not placeholders:
        raise ValueError("prompt_template has no {{column}} placeholders")
    if train_df is not None and train_df.columns:
        missing = [p for p in placeholders if p not in {c.lower() for c in train_df.columns}]
        if missing:
            raise ValueError(f"prompt_template placeholders not in input: {missing}")
    transport = params.get("transport")
    if transport is None:
        from mindsdb_spark.operators.agent import mock_complete as transport

    def _predict(pdf: pd.DataFrame) -> pd.DataFrame:
        cols = {c.lower(): c for c in pdf.columns}

        def render(row) -> str:
            out = template
            for p in placeholders:
                v = row[cols[p]] if p in cols else ""
                out = _re.sub(r"\{\{\s*" + p + r"\s*\}\}", "" if v is None else str(v), out)
            return out

        prompts = [render(r) for _, r in pdf.iterrows()]
        return pd.DataFrame({target: transport(prompts)})

    return ModelSpec(
        name=name, predict=_predict, output_schema=f"{target} string",
        info={"engine": "llm", "prompt_template": template},
    )


def ts_naive_drift(name: str, train_df: DataFrame, target: str, params: dict) -> ModelSpec:
    """Time-series forecaster: the naive-drift baseline (last value plus the
    window's mean step), per group over the model's input window — the
    reference's TS planning shape (`CREATE MODEL ... ORDER BY t [GROUP BY g]
    WINDOW w HORIZON h`, plan_join_ts.py) with the standard forecasting
    baseline as the predictor. The forecast is a pure function of the input
    window, so "training" pins the schema contract and TS settings; apply
    routes through ts_apply_model's JVM window slice (groups × window rows
    cross to Python, never the table)."""
    order_raw = params.get("order_by") or []
    order_cols = [order_raw] if isinstance(order_raw, str) else list(order_raw)
    if not order_cols:
        raise ValueError("ts engine requires ORDER BY <time column>")
    group_cols = list(params.get("group_by") or [])
    window = int(params.get("window", 10))
    horizon = int(params.get("horizon", 1))
    tcol = order_cols[0]
    by_name = {f.name.lower(): f for f in train_df.schema.fields}
    out_fields = []
    for c in [*group_cols, tcol]:
        f = by_name.get(c.lower())
        out_fields.append(f"{c} {f.dataType.simpleString() if f else 'string'}")
    out_fields.append(f"{target} double")

    def predict(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_cols)
        y = pdf[target].astype("float64")
        last = float(y.iloc[-1])
        drift = (float(y.iloc[-1]) - float(y.iloc[0])) / max(len(y) - 1, 1)
        t = pdf[tcol]
        step = (t.iloc[-1] - t.iloc[0]) / max(len(t) - 1, 1) if len(t) > 1 else 0
        rows = []
        for h in range(1, horizon + 1):
            row = {g: pdf[g].iloc[-1] for g in group_cols}
            row[tcol] = t.iloc[-1] + h * step
            row[target] = last + h * drift
            rows.append(row)
        out = pd.DataFrame(rows, columns=[*group_cols, tcol, target])
        if pd.api.types.is_datetime64_any_dtype(out[tcol]):
            # mean-step arithmetic lands on nanoseconds; Spark timestamps
            # are microsecond — floor so the Arrow conversion stays safe
            out[tcol] = out[tcol].dt.floor("us")
        return out

    return ModelSpec(
        name=name,
        predict=predict,
        output_schema=", ".join(out_fields),
        order_by=order_cols,
        group_by=group_cols,
        window=window,
        horizon=horizon,
        features=[tcol, target],
        info={"engine": "ts_naive_drift", "window": window, "horizon": horizon},
    )


BUILTIN_ML_ENGINES = {
    "spark_ml_linreg": spark_ml_linreg,
    "spark_ml_kmeans": spark_ml_kmeans_label,
    "spark_ml_logreg": spark_ml_logreg,
    "spark_ml_gbt": spark_ml_gbt,
    "llm": llm_prompt_model,
    "ts_naive_drift": ts_naive_drift,
}
