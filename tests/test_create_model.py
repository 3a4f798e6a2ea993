"""CREATE MODEL / RETRAIN MODEL through the SQL door (reference:
command_executor.py:1532-1567 — engine from USING, training query on the
integration; ML engines are pluggable, command_executor.py:1171-1258).
Training runs as a distributed MLlib job; inference composes with the
model-join path."""

import pandas as pd
import pytest

from mindsdb_spark.engine import EngineSession


@pytest.fixture(scope="module")
def sess(spark, sf_dir):
    s = EngineSession(spark)
    s.register_parquet_source("tpch", sf_dir, tables=["orders", "lineitem"])
    return s


def test_create_model_linreg_recovers_plane(sess, spark):
    # exact linear ground truth: y = 3x1 - 2x2 + 5 must be recovered
    rows = [(float(i % 17), float((i * 7) % 13), 3.0 * (i % 17) - 2.0 * ((i * 7) % 13) + 5.0)
            for i in range(200)]
    spark.createDataFrame(rows, "x1 double, x2 double, y double").createOrReplaceTempView(
        "train_plane"
    )
    out = sess.sql(
        "CREATE MODEL planem (SELECT x1, x2, y FROM train_plane) PREDICT y "
        "USING engine = 'spark_ml_linreg'"
    ).collect()
    assert out[0]["engine"] == "spark_ml_linreg"

    spark.createDataFrame([(1.0, 1.0), (2.0, 0.0)], "x1 double, x2 double").createOrReplaceTempView(
        "infer_plane"
    )
    preds = {
        (r["x1"], r["x2"]): r["y"]
        for r in sess.sql(
            "SELECT t.x1, t.x2, m.y FROM infer_plane t JOIN planem m"
        ).collect()
    }
    assert preds[(1.0, 1.0)] == pytest.approx(6.0, abs=1e-6)
    assert preds[(2.0, 0.0)] == pytest.approx(11.0, abs=1e-6)


def test_create_model_requires_engine(sess):
    with pytest.raises(ValueError, match="engine"):
        sess.sql("CREATE MODEL nope (SELECT o_orderkey FROM tpch_orders) PREDICT o_orderkey")


def test_create_model_no_replace_without_flag(sess, spark):
    spark.createDataFrame([(1.0, 1.0)], "a double, b double").createOrReplaceTempView("tiny")
    sess.sql("CREATE MODEL dupm (SELECT a, b FROM tiny) PREDICT b USING engine='spark_ml_linreg'")
    with pytest.raises(ValueError, match="already exists"):
        sess.sql("CREATE MODEL dupm (SELECT a, b FROM tiny) PREDICT b USING engine='spark_ml_linreg'")
    sess.sql("CREATE OR REPLACE MODEL dupm (SELECT a, b FROM tiny) PREDICT b "
             "USING engine='spark_ml_linreg'")


def test_retrain_uses_stored_recipe(sess, spark):
    spark.createDataFrame([(float(i), 2.0 * i) for i in range(50)],
                          "x double, y double").createOrReplaceTempView("retrain_t")
    sess.sql("CREATE OR REPLACE MODEL rem (SELECT x, y FROM retrain_t) PREDICT y "
             "USING engine='spark_ml_linreg'")
    # change the training data, retrain, the model must follow
    spark.createDataFrame([(float(i), 10.0 * i) for i in range(50)],
                          "x double, y double").createOrReplaceTempView("retrain_t")
    sess.sql("RETRAIN MODEL rem")
    spark.createDataFrame([(4.0,)], "x double").createOrReplaceTempView("infer_one")
    r = sess.sql("SELECT m.y FROM infer_one t JOIN rem m").collect()[0]["y"]
    assert r == pytest.approx(40.0, abs=1e-6)


def test_kmeans_engine_labels(sess, spark):
    pts = [(0.0 + i * 0.01, 0.0) for i in range(20)] + [(10.0 + i * 0.01, 10.0) for i in range(20)]
    spark.createDataFrame(pts, "px double, py double").createOrReplaceTempView("clust")
    sess.sql("CREATE OR REPLACE MODEL cm (SELECT px, py FROM clust) PREDICT cluster "
             "USING engine='spark_ml_kmeans', k=2")
    rows = sess.sql("SELECT t.px, m.cluster FROM clust t JOIN cm m").collect()
    lo = {r["cluster"] for r in rows if r["px"] < 5}
    hi = {r["cluster"] for r in rows if r["px"] > 5}
    assert len(lo) == 1 and len(hi) == 1 and lo != hi


def test_describe_model(sess, spark):
    spark.createDataFrame([(1.0, 2.0)], "a double, b double").createOrReplaceTempView("desc_t")
    sess.sql("CREATE OR REPLACE MODEL descm (SELECT a, b FROM desc_t) PREDICT b "
             "USING engine='spark_ml_linreg'")
    row = sess.sql("DESCRIBE MODEL descm").collect()[0]
    assert row["name"] == "descm"
    assert row["engine"] == "spark_ml_linreg"
    assert "b double" in row["predict_columns"]
    assert "desc_t" in row["training_query"]


def test_finetune_and_versions_lifecycle(sess, spark):
    # create → finetune → both versions queryable → SET ACTIVE switches →
    # DROP MODEL name.v removes one version (reference
    # command_executor.py:1042-1130, 1963-1983)
    spark.createDataFrame([(float(i), 2.0 * i) for i in range(60)],
                          "x double, y double").createOrReplaceTempView("ft_base")
    spark.createDataFrame([(float(i), 2.0 * i) for i in range(200, 800)],
                          "x double, y double").createOrReplaceTempView("ft_more")
    sess.sql("CREATE OR REPLACE MODEL ftm (SELECT x, y FROM ft_base) PREDICT y "
             "USING engine='spark_ml_linreg'")
    out = sess.sql("FINETUNE MODEL ftm (SELECT x, y FROM ft_more)").collect()[0]
    assert out["version"] == 2
    desc = sess.sql("DESCRIBE MODEL ftm").collect()
    assert [(r["version"], r["active"]) for r in desc] == [(1, False), (2, True)]
    spark.createDataFrame([(4.0,)], "x double").createOrReplaceTempView("ft_probe")
    # both versions fit y=2x exactly; each version is individually queryable
    v1 = sess.sql("SELECT m.y FROM ft_probe t JOIN ftm.1 m").collect()[0]["y"]
    v2 = sess.sql("SELECT m.y FROM ft_probe t JOIN ftm.2 m").collect()[0]["y"]
    assert v1 == pytest.approx(8.0, abs=1e-6) and v2 == pytest.approx(8.0, abs=1e-6)
    # active switch
    sess.sql("SET ACTIVE ftm.1")
    assert sess.sql("DESCRIBE MODEL ftm").collect()[0]["active"] is True
    with pytest.raises(ValueError, match="active"):
        sess.sql("DROP MODEL ftm.1")
    sess.sql("DROP MODEL ftm.2")
    assert [r["version"] for r in sess.sql("DESCRIBE MODEL ftm").collect()] == [1]
    row = sess.sql("SELECT versions, active_version FROM information_schema.models "
                   "WHERE name = 'ftm'").collect()[0]
    assert row["versions"] == 1 and row["active_version"] == 1


def test_retrain_appends_version(sess, spark):
    spark.createDataFrame([(float(i), 3.0 * i) for i in range(50)],
                          "x double, y double").createOrReplaceTempView("rv_t")
    sess.sql("CREATE OR REPLACE MODEL rvm (SELECT x, y FROM rv_t) PREDICT y "
             "USING engine='spark_ml_linreg'")
    sess.sql("RETRAIN MODEL rvm")
    assert [r["version"] for r in sess.sql("DESCRIBE MODEL rvm").collect()] == [1, 2]


def test_spark_ml_logreg_engine(spark, sf_dir):
    from mindsdb_spark.engine import EngineSession

    sess = EngineSession(spark)
    sess.register_parquet_source("tpch", sf_dir)
    sess.sql(
        "CREATE MODEL band_clf (SELECT CASE WHEN c_acctbal > 5000 THEN 'hi' ELSE 'lo' END "
        "AS band, c_acctbal, c_nationkey FROM tpch_customer) "
        "PREDICT band USING engine = 'spark_ml_logreg'"
    )
    rows = sess.sql(
        "SELECT t.c_custkey, t.c_acctbal, m.band, m.band_probability "
        "FROM tpch_customer t JOIN band_clf m ORDER BY t.c_custkey"
    ).collect()
    assert rows and all(r["band"] in ("hi", "lo") for r in rows)
    assert all(0.0 <= r["band_probability"] <= 1.0 for r in rows)
    # the boundary is learnable from the feature itself: accuracy >> chance
    acc = sum(
        (r["band"] == "hi") == (r["c_acctbal"] > 5000) for r in rows
    ) / len(rows)
    assert acc > 0.9


def test_spark_ml_gbt_engine(spark, sf_dir):
    from mindsdb_spark.engine import EngineSession

    sess = EngineSession(spark)
    sess.register_parquet_source("tpch", sf_dir)
    sess.sql(
        "CREATE MODEL price_gbt (SELECT o_totalprice AS price, o_orderkey, o_custkey "
        "FROM tpch_orders) PREDICT price USING engine = 'spark_ml_gbt', n_trees = 5"
    )
    rows = sess.sql(
        "SELECT t.o_orderkey, t.o_totalprice, m.price FROM tpch_orders t "
        "JOIN price_gbt m ORDER BY t.o_orderkey LIMIT 50"
    ).collect()
    assert len(rows) == 50
    # tree ensemble output stays within the observed price range
    lo = min(r["o_totalprice"] for r in rows)
    assert all(r["price"] > 0 for r in rows)
    # determinism: same seed, same predictions
    a = [r["price"] for r in rows]
    rows2 = sess.sql(
        "SELECT m.price FROM tpch_orders t JOIN price_gbt m ORDER BY t.o_orderkey LIMIT 50"
    ).collect()
    assert a == [r["price"] for r in rows2]


def test_llm_prompt_template_model(spark, sf_dir):
    """CREATE MODEL with engine='llm': no training query, template renders
    per row, completion is the pluggable transport (mock hashes the
    rendered prompt)."""
    import hashlib

    import pytest

    sess = EngineSession(spark)
    sess.register_parquet_source("tpch", sf_dir)
    sess.sql(
        "CREATE MODEL qa PREDICT answer "
        "USING engine = 'llm', prompt_template = 'Q[{{lang}}]: {{text}}'"
    )
    rows = sess.sql(
        "SELECT t.doc_id, t.lang, t.text, m.answer FROM tpch_documents t "
        "JOIN qa m WHERE t.doc_id < 5 ORDER BY t.doc_id"
    ).collect()
    assert len(rows) == 5
    for r in rows:
        expect = "llm:" + hashlib.md5(f"Q[{r['lang']}]: {r['text']}".encode()).hexdigest()[:12]
        assert r["answer"] == expect

    # template validation: placeholder-free and missing-column templates fail
    with pytest.raises(ValueError, match="placeholders"):
        sess.sql("CREATE MODEL bad1 PREDICT a USING engine = 'llm', prompt_template = 'static'")
    with pytest.raises(ValueError, match="not in input"):
        sess.sql(
            "CREATE MODEL bad2 (SELECT doc_id FROM tpch_documents) PREDICT a "
            "USING engine = 'llm', prompt_template = '{{nope}}'"
        )
    # engines that train still require a FROM query
    with pytest.raises(Exception):
        sess.sql("CREATE MODEL bad3 PREDICT price USING engine = 'spark_ml_linreg'")


def test_create_ts_model_sql_clauses(spark, sf_dir):
    # `CREATE MODEL ... PREDICT y ORDER BY t GROUP BY g WINDOW w HORIZON h`
    # — the reference's TS planning surface (plan_join_ts.py) through the
    # SQL door, with the naive-drift baseline engine
    from mindsdb_spark.engine import EngineSession

    sess = EngineSession(spark)
    sess.register_parquet_source("tpch", sf_dir, tables=["events"])
    sess.sql(
        "CREATE MODEL drift (SELECT user_id, ts, value FROM tpch_events) "
        "PREDICT value ORDER BY ts GROUP BY user_id WINDOW 5 HORIZON 3 "
        "USING engine = 'ts_naive_drift'"
    )
    spec = sess._models["drift"]
    assert spec.order_by == ["ts"] and spec.group_by == ["user_id"]
    assert spec.window == 5 and spec.horizon == 3
    out = sess.sql(
        "SELECT m.user_id, m.ts, m.value FROM tpch_events t JOIN drift m "
        "ORDER BY m.user_id, m.ts"
    )
    rows = out.collect()
    n_users = sess.sql("SELECT count(DISTINCT user_id) AS n FROM tpch_events").collect()[0]["n"]
    assert len(rows) == 3 * n_users  # horizon rows per group
    # forecast timestamps advance beyond the history per group
    import collections
    per_user = collections.defaultdict(list)
    for r in rows:
        per_user[r["user_id"]].append(r["ts"])
    assert all(ts_list == sorted(ts_list) and len(ts_list) == 3
               for ts_list in per_user.values())
    sess.sql("DROP MODEL drift")


def test_describe_model_attributes(spark, sf_dir):
    # DESCRIBE MODEL <name>.features|model|info — the reference's
    # attribute paths (answer_describe_predictor)
    from mindsdb_spark.engine import EngineSession

    sess = EngineSession(spark)
    sess.register_parquet_source("tpch", sf_dir, tables=["customer"])
    sess.sql("CREATE MODEL dma (SELECT c_acctbal AS y, c_custkey, c_nationkey "
             "FROM tpch_customer) PREDICT y USING engine = 'spark_ml_linreg'")
    feats = {r["feature"] for r in sess.sql("DESCRIBE MODEL dma.features").collect()}
    assert feats == {"c_custkey", "c_nationkey"}
    attrs = {r["attribute"]: r["value"]
             for r in sess.sql("DESCRIBE MODEL dma.model").collect()}
    assert attrs["engine"] == "spark_ml_linreg"
    assert "c_custkey" in attrs["coefficients"]
    row = sess.sql("DESCRIBE MODEL dma.info").collect()[0]
    assert row["engine"] == "spark_ml_linreg" and row["kind"] == "row"
    sess.sql("DROP MODEL dma")


# -- Catalyst predict: parity with the pandas formulas it replaced --------------
# The MLlib engines predict with Column expressions. `_reference` spells out, in
# numpy, the pandas formulas those engines predicted with before, over the same
# fitted parameters (recorded from the MLlib fit the engine runs). linreg and gbt
# must agree bit for bit, the logreg probability to 1e-12 relative with equal
# labels, kmeans label for label. The pandas stage read a NULL feature as NaN,
# so the NULL answers below are the NaN answers of those formulas.
_PARITY_SQL = {
    "plin": "(SELECT x1, x2, y FROM ptrain) PREDICT y USING engine = 'spark_ml_linreg'",
    "plog": "(SELECT x1, x2, lab FROM ptrain) PREDICT lab USING engine = 'spark_ml_logreg'",
    "pkm": "(SELECT x1, x2 FROM ptrain) PREDICT cl USING engine = 'spark_ml_kmeans', k = 3",
    "pgbt": "(SELECT x1, x2, y FROM ptrain) PREDICT y USING engine = 'spark_ml_gbt', n_trees = 4",
}
_PARITY_OUT = {
    "plin": "y double", "plog": "lab string, lab_probability double",
    "pkm": "cl bigint", "pgbt": "y double",
}
_PINF = [(1, 1.0, 2), (2, None, 2), (3, 4.0, None), (4, None, None), (5, 7.5, -3),
         (6, -2.0, 1), (7, 3.25, 0), (8, 8.0, 3), (9, 0.0, -1), (10, 5.5, 2)]


@pytest.fixture(scope="module")
def parity(spark):
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.regression import GBTRegressor

    rows = []
    for i in range(80):
        x1, x2 = float(i % 9), float((i * 5) % 7) - 3.0
        y = 1.5 * x1 - 0.75 * x2 + 0.3 + ((i * 37) % 11 - 5) * 0.05
        lab = "hi" if 1.5 * x1 - 0.75 * x2 + ((i * 13) % 7 - 3) * 0.8 > 5 else "lo"
        rows.append((x1, x2, y, lab))
    spark.createDataFrame(rows, "x1 double, x2 double, y double, lab string") \
        .createOrReplaceTempView("ptrain")
    spark.createDataFrame(_PINF, "id int, x1 double, x2 int").createOrReplaceTempView("pinf")
    fitted = {}
    mp = pytest.MonkeyPatch()
    for cls in (KMeans, GBTRegressor):
        def fit(self, *a, _orig=cls.fit, _name=cls.__name__, **k):
            fitted[_name] = _orig(self, *a, **k)
            return fitted[_name]
        mp.setattr(cls, "fit", fit)
    s = EngineSession(spark)
    try:
        for name, sql in _PARITY_SQL.items():
            s.sql(f"CREATE MODEL {name} {sql}")
    finally:
        mp.undo()
    return s, fitted


def _eval_tree(nodes, row):
    i = 0
    while True:
        feat, thr, left, right, pred = nodes[i]
        if feat < 0:
            return pred
        i = left if row[feat] <= thr else right


def _reference(s, fitted, model, x):
    """The former pandas predict formulas over the (n, 2) float64 input
    ``x`` (NULL → NaN); one tuple of outputs per row, NaN → None."""
    import numpy as np

    from mindsdb_spark.operators.ml_engines import _export_tree

    info = s._models[model].info
    if model == "plin":
        out = pd.Series(info["intercept"], index=range(len(x)), dtype="float64")
        for j, w in enumerate(info["coefficients"].values()):
            out = out + pd.Series(x[:, j]) * w
        cols = [out.to_numpy()]
    elif model == "plog":
        neg, pos = info["labels"]
        coefs = np.array(list(info["coefficients"].values()))
        p = 1.0 / (1.0 + np.exp(-(x @ coefs + info["intercept"])))
        cols = [np.where(p >= 0.5, pos, neg), p]
    elif model == "pkm":
        centers = np.stack(fitted["KMeans"].clusterCenters())
        d = ((x[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
        cols = [d.argmin(axis=1)]
    else:
        gbt = fitted["GBTRegressor"]
        out = np.zeros(len(x))
        for t, w in zip(gbt.trees, gbt.treeWeights):
            nodes = _export_tree(t._call_java("rootNode"))
            out += w * np.array([_eval_tree(nodes, row) for row in x])
        cols = [out]
    return [
        tuple(None if isinstance(v, float) and np.isnan(v) else v.item() for v in r)
        for r in zip(*cols)
    ]


def _assert_parity(model, got, expected):
    assert len(got) == len(expected)
    for g, e in zip(got, expected):
        if model == "plog":  # labels equal, probability to 1e-12 relative
            assert g[0] == e[0]
            assert (g[1] is None) == (e[1] is None)
            if e[1] is not None:
                assert g[1] == pytest.approx(e[1], rel=1e-12, abs=0)
        else:  # linreg and gbt bit-identical, kmeans labels equal
            assert g == e


@pytest.mark.parametrize("model", list(_PARITY_SQL))
@pytest.mark.parametrize("case", ["plain", "param", "partition_size"])
def test_mllib_predict_parity(parity, model, case):
    import numpy as np

    from pyspark.sql import types as T

    s, fitted = parity
    x = np.array([[np.nan if v is None else float(v) for v in r[1:]] for r in _PINF])
    tail = {"plain": "", "partition_size": " USING partition_size = 3",
            # a WHERE equality on a feature is a model parameter: it
            # overrides that feature on every row
            "param": " WHERE m.x1 = 2.5"}[case]
    if case == "param":
        x[:, 0] = 2.5
    df = s.sql(f"SELECT * FROM pinf t JOIN {model} m{tail} ORDER BY t.id")
    # the pandas stage's schema: the input columns, then the declared
    # outputs, every one nullable
    out = T._parse_datatype_string(_PARITY_OUT[model])
    assert df.schema == T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in
         s.spark.table("pinf").schema.fields + out.fields]
    )
    rows = df.collect()
    assert [tuple(r[:3]) for r in rows] == _PINF
    _assert_parity(model, [tuple(r[3:]) for r in rows], _reference(s, fitted, model, x))


@pytest.mark.parametrize("model", list(_PARITY_SQL))
def test_mllib_one_shot_predict_parity(parity, model):
    import numpy as np

    s, fitted = parity
    rows = s.sql(f"SELECT * FROM {model} WHERE x1 = 3.5 AND x2 = -2").collect()
    assert [tuple(r[:2]) for r in rows] == [(3.5, -2)]
    _assert_parity(model, [tuple(r[2:]) for r in rows],
                   _reference(s, fitted, model, np.array([[3.5, -2.0]])))


def test_mllib_null_features_follow_the_nan_path(parity):
    import numpy as np

    s, fitted = parity
    null_ids = [r[0] for r in _PINF if None in r]
    x = np.array([[np.nan if v is None else float(v) for v in r[1:]]
                  for r in _PINF if None in r])
    got = {}
    for model in _PARITY_SQL:
        rows = s.sql(f"SELECT * FROM pinf t JOIN {model} m "
                     f"WHERE t.id IN ({', '.join(map(str, null_ids))}) ORDER BY t.id").collect()
        got[model] = [tuple(r[3:]) for r in rows]
        _assert_parity(model, got[model], _reference(s, fitted, model, x))
    # linreg: the affine sum of a NULL is NULL
    assert all(y is None for (y,) in got["plin"])
    # logreg: a NULL probability is not >= 0.5, so the negative label
    neg = s._models["plog"].info["labels"][0]
    assert got["plog"] == [(neg, None)] * len(null_ids)
    # gbt: NULL <= threshold is not true, so every split goes right
    assert all(y is not None for (y,) in got["pgbt"])
    # kmeans: no distance is smallest, so the first centroid
    assert got["pkm"] == [(0,)] * len(null_ids)


def test_mllib_predict_rejects_bad_inputs(parity):
    s, _ = parity
    # a parameter that is not a number fails the statement, as the pandas
    # cast did
    with pytest.raises(ValueError, match="not a number"):
        s.sql("SELECT * FROM pinf t JOIN plin m WHERE m.x1 = 'abc'").collect()
    # a predicted name that is also an input column fails the statement (the
    # pandas stage failed it as an ambiguous reference)
    with pytest.raises(ValueError, match="collide"):
        s.sql("SELECT t.x1 FROM ptrain t JOIN plin m").collect()


def test_model_spec_has_exactly_one_predict_form():
    from mindsdb_spark.operators.model import ModelSpec

    with pytest.raises(ValueError, match="exactly one"):
        ModelSpec(name="both", output_schema="y double",
                  predict=lambda p: p, columns=lambda x: x)
    with pytest.raises(ValueError, match="exactly one"):
        ModelSpec(name="neither", output_schema="y double")
