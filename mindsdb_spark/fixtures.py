"""Deterministic fixture generator — true-scale bench corpora.

The driver ships seed-42 synthetic fixtures at sf ≤ 0.1 (TESTDATA.md);
the round-3 scale datapoint derived "sf1" by unioning ten key-shifted
copies of sf0.1, which makes every document an exact 10-way duplicate —
a worst-case dedup stress, not a TPC-H-shaped corpus. This module
regenerates the same schema at any scale with the distributions measured
from the driver fixtures (row ratios, value ranges, category weights,
vocab, ~0.5% injected exact-duplicate docs), fully deterministic from
(seed, row id) via xxhash64 — pure JVM expressions, no Python loop, no
RNG state, so generation is distributed and reproducible.

BENCH-ONLY: the correctness gate always runs on the driver's own
fixtures; these exist so the scale sections in bench.py compare engines
on realistically distributed data (round-3 verdict item 8).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mindsdb_spark.catalog import invalidate_table
from mindsdb_spark.session import local_frame

_P = 1_000_000_007

# the sf0.1 driver fixture vocabulary (31 words, measured)
VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
_ADJS = ["small", "hot", "red", "blue", "large", "old", "cold", "new"]
_NOUNS = ["gizmo", "widget", "bolt", "plate", "rod", "ring", "gear", "anvil"]
_MKTS = ["MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE"]
_PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["LARGE", "STANDARD", "SMALL", "PROMO", "ECONOMY", "MEDIUM"]
_ETYPES = ["click", "purchase", "error", "signup", "view"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _h(seed: int, tag: str, *cols):
    return F.xxhash64(F.lit(seed), F.lit(tag), *cols)


def _u(seed: int, tag: str, *cols):
    """Uniform double in [0, 1), deterministic from (seed, tag, cols)."""
    return F.pmod(_h(seed, tag, *cols), F.lit(_P)).cast("double") / F.lit(float(_P))


def _pick(seed: int, tag: str, options: list[str], *cols):
    arr = F.array(*[F.lit(o) for o in options])
    idx = (F.pmod(_h(seed, tag, *cols), F.lit(len(options))) + 1).cast("int")
    return F.element_at(arr, idx)


def generate_sf(
    spark: SparkSession, out_dir: str, scale: float = 10.0, seed: int = 42,
    files: int = 32, tables: set[str] | None = None,
) -> str:
    """Write the fixture star schema at ``scale`` x sf0.1 row counts under
    ``out_dir`` (32-file parquet per table, INT64-micros timestamps).
    Idempotent via a done marker. ``tables`` restricts generation to a
    subset (e.g. {"documents"} for a dedup-only scale run — lineitem
    dominates the full-schema bytes ~10:1); subset runs use their own done
    marker so a later full generation still proceeds."""
    suffix = "" if tables is None else "_" + "_".join(sorted(tables))
    done = os.path.join(out_dir, f"_GEN_DONE{suffix}")
    if os.path.exists(done) or (tables is not None and os.path.exists(
        os.path.join(out_dir, "_GEN_DONE")
    )):
        return out_dir
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    s = scale
    n_cust, n_supp, n_part = int(15000 * s), int(1000 * s), int(20000 * s)
    n_ord, n_ev = int(150000 * s), int(100000 * s)
    n_doc, n_emb = int(5000 * s), int(2000 * s)

    def _want(name: str) -> bool:
        return tables is None or name in tables

    def _write(df: DataFrame, name: str, parts: int = files) -> None:
        if not _want(name):
            return
        df.repartition(parts).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"{name}.parquet")
        )
        # a re-generation overwrites in place — evict any pinned/cached
        # plan for this (dir, table) deterministically rather than relying
        # on the lazy content-signature check
        invalidate_table(out_dir, name)

    _write(
        local_frame(
            spark, [(i, n) for i, n in enumerate(_REGIONS)], "r_regionkey int, r_name string"
        ),
        "region",
        parts=1,
    )
    _write(
        local_frame(
            spark,
            [(i, f"NATION_{i}", i % 5) for i in range(25)],
            "n_nationkey int, n_name string, n_regionkey int",
        ),
        "nation",
        parts=1,
    )

    rid = F.col("id")
    _write(
        spark.range(n_cust).select(
            rid.alias("c_custkey"),
            F.format_string("Customer#%09d", rid).alias("c_name"),
            F.pmod(_h(seed, "cnat", rid), F.lit(25)).cast("int").alias("c_nationkey"),
            F.round(_u(seed, "cbal", rid) * 11000.0 - 1000.0, 2).alias("c_acctbal"),
            _pick(seed, "cmkt", _MKTS, rid).alias("c_mktsegment"),
        ),
        "customer",
    )
    _write(
        spark.range(n_supp).select(
            rid.alias("s_suppkey"),
            F.format_string("Supplier#%09d", rid).alias("s_name"),
            F.pmod(_h(seed, "snat", rid), F.lit(25)).cast("int").alias("s_nationkey"),
            F.round(_u(seed, "sbal", rid) * 10000.0, 2).alias("s_acctbal"),
        ),
        "supplier",
        max(1, files // 4),
    )
    _write(
        spark.range(n_part).select(
            rid.alias("p_partkey"),
            F.concat_ws(
                " ", _pick(seed, "padj", _ADJS, rid), _pick(seed, "pnoun", _NOUNS, rid)
            ).alias("p_name"),
            F.concat(
                F.lit("Brand#"), (F.pmod(_h(seed, "pbr", rid), F.lit(25)) + 1)
            ).alias("p_brand"),
            _pick(seed, "pty", _PTYPES, rid).alias("p_type"),
            (F.pmod(_h(seed, "psz", rid), F.lit(50)) + 1).cast("int").alias("p_size"),
            F.round(F.lit(900.0) + _u(seed, "pret", rid) * 100.0, 2).alias(
                "p_retailprice"
            ),
        ),
        "part",
    )

    # orders; the order date is a pure function of the order id so lineitem
    # can recompute it without a join
    def _odate(oid):
        return F.to_timestamp(
            F.date_add(
                F.to_date(F.lit("1995-01-01")),
                (_u(seed, "odate", oid) * 2404).cast("int"),
            )
        )

    _write(
        spark.range(n_ord).select(
            rid.alias("o_orderkey"),
            F.pmod(_h(seed, "ocust", rid), F.lit(n_cust)).alias("o_custkey"),
            _pick(seed, "ost", ["F", "O", "P"], rid).alias("o_orderstatus"),
            F.round(F.lit(1000.0) + _u(seed, "otot", rid) * 499000.0, 2).alias(
                "o_totalprice"
            ),
            _odate(rid).alias("o_orderdate"),
            _pick(seed, "opri", _PRIOS, rid).alias("o_orderpriority"),
        ),
        "orders",
    )

    # lineitem: 1..7 lines per order (mean ≈ 4, matching the fixtures)
    li = (
        spark.range(n_ord)
        .select(
            rid.alias("l_orderkey"),
            F.explode(
                F.sequence(
                    F.lit(1), (F.pmod(_h(seed, "nli", rid), F.lit(7)) + 1).cast("int")
                )
            ).alias("l_linenumber"),
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_orderkey").alias("__o"),
        )
    )
    lk = [F.col("l_orderkey"), F.col("l_linenumber")]
    qty = (F.pmod(_h(seed, "lqty", *lk), F.lit(50)) + 1).cast("double")
    _write(
        li.select(
            "l_orderkey",
            F.pmod(_h(seed, "lpart", *lk), F.lit(n_part)).alias("l_partkey"),
            F.pmod(_h(seed, "lsupp", *lk), F.lit(n_supp)).alias("l_suppkey"),
            "l_linenumber",
            qty.alias("l_quantity"),
            F.round(qty * (F.lit(900.0) + _u(seed, "lprice", *lk) * 1200.0), 2).alias(
                "l_extendedprice"
            ),
            F.round(_u(seed, "ldisc", *lk) * 0.10, 2).alias("l_discount"),
            F.round(_u(seed, "ltax", *lk) * 0.08, 2).alias("l_tax"),
            _pick(seed, "lrf", ["A", "N", "R"], *lk).alias("l_returnflag"),
            _pick(seed, "lls", ["F", "O"], *lk).alias("l_linestatus"),
            F.to_timestamp(
                F.date_add(
                    _odate(F.col("__o")).cast("date"),
                    (_u(seed, "lship", *lk) * 94).cast("int") + 1,
                )
            ).alias("l_shipdate"),
        ),
        "lineitem",
    )

    # events: one month of microsecond timestamps, exponential values
    base_us = 1_704_067_200_000_000  # 2024-01-01 UTC in epoch micros
    _write(
        spark.range(n_ev).select(
            rid.alias("event_id"),
            F.timestamp_micros(
                (F.lit(base_us) + _u(seed, "ets", rid) * 30 * 86400 * 1e6).cast("long")
            ).alias("ts"),
            F.pmod(_h(seed, "euser", rid), F.lit(int(n_cust / 10))).alias("user_id"),
            _pick(seed, "etype", _ETYPES, rid).alias("event_type"),
            F.round(-F.log(F.lit(1.0) - _u(seed, "eval", rid)) * 50.0, 2).alias(
                "value"
            ),
            F.format_string(
                '{"k": %d}', F.pmod(_h(seed, "ek", rid), F.lit(100)).cast("int")
            ).alias("props"),
        ),
        "events",
    )

    # documents: 10..100 words from the 31-word vocab; ~0.5% of docs copy
    # an earlier doc's text verbatim (exact-dup structure for the dedup
    # operators) — the text is a pure function of an EFFECTIVE id, which
    # for a dup points at a smaller id
    is_dup = (_u(seed, "ddup", rid) < 0.005) & (rid > 0)
    eff = F.when(is_dup, F.pmod(_h(seed, "dref", rid), rid)).otherwise(rid)
    n_words = (F.pmod(_h(seed, "dn", eff), F.lit(91)) + 10).cast("int")
    vocab_arr = F.array(*[F.lit(w) for w in VOCAB])
    words = F.transform(
        F.sequence(F.lit(1), n_words),
        lambda i: F.element_at(
            vocab_arr,
            (F.pmod(F.xxhash64(F.lit(seed), F.lit("dw"), eff, i), F.lit(31)) + 1).cast(
                "int"
            ),
        ),
    )
    text = F.concat_ws(" ", words)
    # lang weights measured from the fixtures: en 41%, de/es/fr/zh ~15%
    lu = _u(seed, "dlang", rid)
    lang = (
        F.when(lu < 0.41, "en")
        .when(lu < 0.56, "de")
        .when(lu < 0.71, "es")
        .when(lu < 0.86, "fr")
        .otherwise("zh")
    )
    _write(
        spark.range(n_doc).select(
            rid.alias("doc_id"),
            text.alias("text"),
            lang.alias("lang"),
            F.concat(F.lit("src"), F.pmod(_h(seed, "dsrc", rid), F.lit(20))).alias(
                "source"
            ),
            F.length(text).alias("n_chars"),
        ),
        "documents",
        max(1, files // 2),
    )

    # embeddings: 64-dim unit-norm gaussian vectors (Box–Muller from two
    # hash uniforms), independent label 0..9 — matching the measured
    # fixtures (unit norm, label uncorrelated with the vector)
    def _gauss(i):
        u1 = F.pmod(F.xxhash64(F.lit(seed), F.lit("g1"), rid, i), F.lit(_P)).cast(
            "double"
        ) / F.lit(float(_P))
        u2 = F.pmod(F.xxhash64(F.lit(seed), F.lit("g2"), rid, i), F.lit(_P)).cast(
            "double"
        ) / F.lit(float(_P))
        return F.sqrt(-2.0 * F.log(u1 + 1e-12)) * F.cos(2.0 * 3.141592653589793 * u2)

    raw = F.transform(F.sequence(F.lit(1), F.lit(64)), _gauss)
    norm = F.sqrt(
        F.aggregate(raw, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    _write(
        spark.range(n_emb).select(
            rid.alias("vec_id"),
            F.transform(raw, lambda x: (x / norm).cast("float")).alias("embedding"),
            F.pmod(_h(seed, "elab", rid), F.lit(10)).cast("int").alias("label"),
        ),
        "embeddings",
        max(1, files // 2),
    )

    with open(done, "w") as f:
        f.write("ok")
    return out_dir
