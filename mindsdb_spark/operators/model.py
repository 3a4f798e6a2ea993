"""Model application operators — the reference's "table JOIN predictor".

Reference semantics: the left side is fetched, the model is applied row-wise
out-of-process, and outputs are re-attached by a synthetic __mindsdb_row_id
(reference: mindsdb/api/executor/sql_query/steps/apply_predictor_step.py:
103-233; join planning plan_join.py:760-818). In Spark the model runs
*inside* the plan, so row identity is free and the re-join disappears.

A model predicts in one of two forms. The MLlib engines export their fitted
parameters as Column expressions (an affine sum, a sigmoid, a nearest
centroid, nested CASE trees), and apply_model projects them next to the
input columns: no Arrow round trip and no Python worker. Models that need
Python — prompt templates, registered pandas callables (the BYOM surface) —
run as one Arrow-batched mapInPandas stage.

Time-series models: the reference fetches per-group `ORDER BY time DESC
LIMIT window` slices and emits `horizon` forecast rows per group
(plan_join_ts.py:244-335; horizon fan-out apply_predictor_step.py:233-412).
Here that is a groupBy(...).applyInPandas stage: each group's pandas frame
is sorted locally, the last `window` rows feed the model, and the model
fans out `horizon` rows — shuffle is by group key only.
"""

from __future__ import annotations

import re
from collections.abc import Callable
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass
class ModelSpec:
    """A predictor plus the DDL of the columns it adds. It carries exactly
    one predict form:

    - ``columns``: the model's ``features``, as double Columns in order, in
      → one Column per ``output_schema`` field out (Catalyst form);
    - ``predict``: pandas in → pandas out (Python form)."""

    name: str
    output_schema: str  # DDL string for the *added* columns
    predict: Callable[[pd.DataFrame], pd.DataFrame] | None = None
    columns: Callable[[list[Column]], list[Column]] | None = None
    # time-series settings (reference: sql_query.py:181-205 model metadata);
    # order_by may list tie-breaker columns for deterministic windows
    order_by: str | list[str] | None = None
    group_by: list[str] = field(default_factory=list)
    window: int = 10
    horizon: int = 1
    # engine internals for DESCRIBE MODEL <name>.model / .features
    # (reference: answer_describe_predictor attribute paths) — e.g. linreg
    # coefficients, kmeans centroid count, gbt tree count
    info: dict = field(default_factory=dict)
    features: list = field(default_factory=list)

    def __post_init__(self):
        if (self.predict is None) == (self.columns is None):
            raise ValueError(f"model {self.name!r} needs exactly one of predict or columns")


def output_fields(ddl: str) -> list[tuple[str, str]]:
    """(name, type) of each field of a DDL string such as
    ``a double, b decimal(10, 2)``."""
    pairs = [p.split(None, 1) for p in re.split(r",(?![^(<]*[)>])", ddl) if p.strip()]
    return [(n.strip("`"), t) for n, t in pairs]


def _feature_value(name: str, v) -> Column:
    """A model parameter that fixes a feature, as a double literal; a value
    that is not a number fails the statement."""
    try:
        return F.lit(float(v))
    except (TypeError, ValueError):
        raise ValueError(f"model parameter {name} = {v!r} is not a number") from None


def apply_model(
    df: DataFrame,
    model: ModelSpec,
    params: dict | None = None,
    batch_rows: int | None = None,
) -> DataFrame:
    """Row-wise model application: input columns pass through, prediction
    columns are appended, with no extra join.

    ``params`` is the reference's row_dict (query_planner.py:569-648 —
    WHERE equalities on predictor columns become fixed model inputs): a
    Column model reads a parameter in place of the feature it names; a
    pandas ``predict`` sees every parameter as a constant column on its
    input frame, without joining the passthrough output.

    ``batch_rows`` is the reference's `USING partition_size = N` on a model
    join (fetch_dataframe_partition.py): each Arrow batch is sliced so a
    pandas model never sees more than N rows per call — for models whose
    memory scales with input size. A Column model reads one row at a time,
    so the bound holds already. Executor parallelism is unchanged."""
    in_cols = df.columns
    fields = output_fields(model.output_schema)
    clash = {n.lower() for n, _t in fields} & {c.lower() for c in in_cols}
    if clash:
        raise ValueError(
            f"model {model.name!r} output column(s) {sorted(clash)} collide with input columns"
        )
    if model.columns is not None:
        fixed = {k.lower(): v for k, v in (params or {}).items()}
        # a NaN feature reads as NULL, as it does for a pandas model (the
        # Arrow hand-off turns NaN into NULL)
        x = [
            _feature_value(f, fixed[f.lower()]) if f.lower() in fixed
            else F.nanvl(F.col(f).cast("double"), F.lit(None).cast("double"))
            for f in model.features
        ]
        # nullif(c, NULL) is c, declared nullable like every column of a
        # pandas model's DDL schema; the optimizer folds it away
        return df.select("*", *[
            F.nullif(c, F.lit(None)).cast(t).alias(n)
            for c, (n, t) in zip(model.columns(x), fields)
        ])
    schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields)
    full_schema = f"{schema}, {model.output_schema}"

    def run(batches):
        for pdf in batches:
            if batch_rows and len(pdf) > batch_rows:
                chunks = [
                    pdf.iloc[i : i + batch_rows] for i in range(0, len(pdf), batch_rows)
                ]
            else:
                chunks = [pdf]
            for c in chunks:
                if params:
                    # non-scalar params must broadcast per-row explicitly:
                    # pandas .assign treats a bare dict/list as an
                    # index-aligned mapping, not a constant
                    kw = {
                        k: (
                            pd.Series([v] * len(c), index=c.index, dtype=object)
                            if isinstance(v, (dict, list, tuple))
                            else v
                        )
                        for k, v in params.items()
                    }
                    preds = model.predict(c.assign(**kw))
                else:
                    preds = model.predict(c)
                yield pd.concat(
                    [c.reset_index(drop=True), preds.reset_index(drop=True)], axis=1
                )

    return df.mapInPandas(run, schema=full_schema)


def ts_apply_model(
    df: DataFrame, model: ModelSpec, first_step_only: bool = False
) -> DataFrame:
    """Time-series forecast: per group, feed the last `window` rows (by
    order_by) to the model; the model returns `horizon` rows per group.

    ``first_step_only`` implements the reference's `WHERE <order col> =
    LATEST` (apply_predictor_step.py apply_ts_filter, op_map '=' vs
    Latest): only the prediction row anchored at the latest observed
    point per group survives — the FIRST forecast step, which every
    engine emits first (horizon loop h=1..H). Slicing inside the pandas
    fn keeps it a pure map stage — no extra shuffle or window pass.

    The window slice happens JVM-side first (row_number over
    partitionBy(group).orderBy(time desc) — the Spark form of the
    reference's per-group `ORDER BY time DESC LIMIT window` fetch,
    plan_join_ts.py:244-335), so Python receives |groups| x window rows,
    not the whole table. At sf0.1 this is ~20x less Arrow traffic; at
    100 TB it is the difference between shipping a table and shipping a
    model input.
    """
    if not model.order_by:
        raise ValueError("ts_apply_model requires model.order_by")
    group_cols = model.group_by or []

    order = model.order_by if isinstance(model.order_by, list) else [model.order_by]
    from pyspark.sql.window import Window

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order).tail(model.window)
        out = model.predict(pdf)
        if first_step_only:
            # the first forecast step is the EARLIEST forecast order-value —
            # select it by the order column(s) when the model emits them,
            # not positionally (predict() may return horizon rows in any
            # order); positional head(1) only as a last resort
            if all(c in out.columns for c in order):
                out = out.sort_values(order, kind="stable").head(1)
            else:
                out = out.head(1)
        return out

    if group_cols:
        w = Window.partitionBy(*group_cols).orderBy(*[F.col(c).desc() for c in order])
        sliced = (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= model.window)
            .drop("__rn")
        )
        # mapInPandas over an explicit repartition instead of
        # groupBy().applyInPandas: the groupBy exchange is ENSURE_REQUIREMENTS,
        # which AQE coalesces to ONE partition for small inputs, serializing
        # every per-group Python call through a single worker. Repartitioning
        # on a DERIVED group hash keeps the exchange (same-key repartitions
        # are eliminated as redundant against the window's exchange) with an
        # explicit partition count AQE must respect; groups stay co-located.
        n_parts = df.sparkSession.sparkContext.defaultParallelism
        sliced = sliced.withColumn("__gh", F.xxhash64(*group_cols)).repartition(
            n_parts, "__gh"
        )

        def run_partition(batches):
            buf = list(batches)
            if not buf:
                return
            whole = pd.concat(buf) if len(buf) > 1 else buf[0]
            whole = whole.drop(columns=["__gh"])
            # one concatenated yield per partition, not one per group —
            # each yield is a separate Arrow batch on the wire, and
            # thousands of 2-row batches cost more than the model calls
            outs = [run(g) for _, g in whole.groupby(group_cols, sort=False)]
            if outs:
                yield pd.concat(outs, ignore_index=True)

        return sliced.mapInPandas(run_partition, schema=model.output_schema)
    # single global group: JVM-side top-k slice, then one executor task
    sliced = df.orderBy(*[F.col(c).desc() for c in order]).limit(model.window)
    return sliced.groupBy().applyInPandas(lambda _k, pdf: run(pdf), schema=model.output_schema)
