"""Knowledge-base search operators: BM25 keyword search, exact vector
search, hybrid blending, boolean content algebra, metadata filtering, and
the rerank over-fetch size.

Reference semantics re-expressed Spark-first:

* KB select: embed query → vector top-k, default limit 10, cap 100
  (reference: mindsdb/interfaces/knowledge_base/controller.py:258-380,
  defaults 356-360).
* Hybrid: distance = α·d_keyword + (1-α)·d_vector, α default 0.5, concat +
  dedupe on id + sort (controller.py:316-330,404-424); BM25 keyword scoring
  as in the pgvector handler (pgvector_handler.py:282-333).
* Boolean content algebra: OR → union of per-condition searches, AND →
  intersection on id, NOT → anti-join against the negative set
  (interfaces/knowledge_base/executor.py:28-371).
* Rerank over-fetch: min(2k, k+30) candidates (controller.py:362-367).

Here BM25 is a *distributed scoring job*: tokenize → per-(doc,term) TF →
document-frequency join → score — all shuffle-bounded DataFrame ops, no
UDF-held index, so the corpus can be arbitrarily large. The query side is a
literal IN-list (a handful of terms), which Catalyst folds into the scan
filter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mindsdb_spark.catalog import parallelize_input
from mindsdb_spark.operators.dedup import words_expr

col = F.col

KB_DEFAULT_LIMIT = 10  # controller.py:356-360
KB_MAX_LIMIT = 100
K1 = 1.2
B = 0.75


def tokenize(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, term) rows, lowercased whitespace tokens (not deduplicated)."""
    return parallelize_input(df).select(col(id_col), F.explode(words_expr(col(text_col))).alias("term"))


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """BM25 score per document for the given query terms.

    idf(t) = ln((N - df + 0.5)/(df + 0.5) + 1)   (Lucene/ATIRE variant)
    score  = Σ_t idf·tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl))

    Every stage is an aggregate or a broadcast-sized join keyed on term —
    the corpus-side work is one tokenize pass + two groupBys.
    """
    toks = tokenize(df, text_col, id_col)
    # Document length comes from size(split(text)) on the un-exploded rows —
    # identical value to counting exploded tokens, but it removes a second
    # tokenize+explode+groupBy pass over the corpus (Catalyst does not CSE
    # the tokenize subtree across join branches).
    doclen = parallelize_input(df).select(
        col(id_col), F.size(words_expr(col(text_col))).alias("dl")
        # persisted: the score join, N and avgdl all read it — without the
        # persist each branch replays the corpus map (no cross-branch CSE)
    ).persist()
    # Corpus scalars (N, avgdl) fold from the persisted doclen in ONE
    # aggregate and stay IN the plan as a broadcast 1-row join: eager
    # .count()/.head() here would run extra driver-synchronized jobs.
    stats = doclen.agg(
        F.count("*").cast("double").alias("__n"), F.avg("dl").alias("__avgdl")
    )

    qt = [t.lower() for t in query_terms]
    tf = (
        toks.filter(col("term").isin(qt))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
        # two consumers (dfreq + score join); persisting the term-filtered
        # count table saves the second corpus tokenize
        .persist()
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = F.log((col("__n") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    contrib = (
        tf.join(F.broadcast(dfreq), "term")
        .join(doclen, id_col)
        .crossJoin(F.broadcast(stats))
        .select(
            col(id_col),
            (
                idf
                * (col("tf") * (k1 + 1.0))
                / (col("tf") + k1 * (1.0 - b + b * col("dl") / col("__avgdl")))
            ).alias("c"),
        )
    )
    return contrib.groupBy(id_col).agg(F.sum("c").alias("bm25"))


def boolean_search(
    df: DataFrame,
    must: list[list[str]] | None = None,
    must_not: list[str] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Boolean content algebra over term matches.

    ``must`` is a conjunction of disjunctions (CNF): each inner list is an
    OR-block of terms; blocks are ANDed (left-semi joins on id). ``must_not``
    terms are excluded via a left-anti join — mirroring the reference's
    union / intersect-on-id / negative-set composition
    (executor.py:93-116,255-297).
    """
    toks = tokenize(df, text_col, id_col).select(col(id_col), "term")
    out = df.select(col(id_col))
    for block in must or []:
        hits = toks.filter(col("term").isin([t.lower() for t in block])).select(id_col).distinct()
        out = out.join(hits, id_col, "left_semi")
    if must_not:
        neg = toks.filter(col("term").isin([t.lower() for t in must_not])).select(id_col).distinct()
        out = out.join(neg, id_col, "left_anti")
    return out


def hybrid_topk(
    docs: DataFrame,
    emb: DataFrame,
    query_terms: list[str],
    query_vec: list[float],
    k: int = KB_DEFAULT_LIMIT,
    alpha: float = 0.5,
    text_col: str = "text",
    doc_id: str = "doc_id",
    vec_id: str = "vec_id",
    round_keyword: bool = False,
) -> DataFrame:
    """Hybrid search: distance = α·d_kw + (1-α)·d_vec (controller.py:404-424).

    d_vec = 1 - cosine(embedding, query_vec); d_kw = 1/(1 + bm25) (monotone
    decreasing in keyword relevance, 0-1 bounded). Documents missing from
    either side take the worst distance for that side (1.0) so the blend is
    total over the corpus.

    ``round_keyword`` rounds bm25 to 6dp before deriving d_kw: the
    contribution-sum order is engine-dependent in the last ulp, so
    conformance surfaces (the KB SQL door) pin it; ranking is unaffected
    beyond 1e-6 ties.
    """
    from mindsdb_spark.operators.vector import cosine_similarity

    k = min(k, KB_MAX_LIMIT)
    bm25 = col("bm25")
    if round_keyword:
        bm25 = F.floor(bm25 * 1e6 + F.lit(0.5)) / 1e6
    kw = bm25_scores(docs, query_terms, text_col, doc_id).select(
        col(doc_id).alias("__id"), (1.0 / (1.0 + bm25)).alias("d_kw")
    )
    vec = emb.select(
        col(vec_id).alias("__id"),
        (F.lit(1.0) - cosine_similarity(col("embedding"), query_vec)).alias("d_vec"),
    )
    blended = (
        vec.join(kw, "__id", "full_outer")
        .select(
            col("__id").alias(doc_id),
            (
                F.lit(alpha) * F.coalesce(col("d_kw"), F.lit(1.0))
                + F.lit(1.0 - alpha) * F.coalesce(col("d_vec"), F.lit(1.0))
            ).alias("distance"),
        )
    )
    return blended.orderBy(col("distance").asc(), col(doc_id)).limit(k)


def rerank_candidates(k: int) -> int:
    """Over-fetch size before reranking: min(2k, k+30) (controller.py:362-367)."""
    return min(2 * k, k + 30)


def rrf_fusion(
    sides: list,
    k: int = 10,
    n_candidates: int = 50,
    c: float = 60.0,
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009): fuse
    ranked lists by Σ 1/(c + rank), the score-free alternative to the
    α-blend hybrid (hybrid_topk) — robust when BM25 and cosine magnitudes
    aren't calibrated against each other. ``sides`` is a list of
    (DataFrame, score_col) pairs, each (id, score), higher = better.

    Scale shape: each side contributes only its top-``n_candidates`` via
    orderBy+limit — TakeOrderedAndProject, per-partition top-k with a
    k-row driver merge, so the corpus is never globally sorted. Ranks are
    then assigned inside the bounded candidate set (the single-partition
    window is over ≤ n_candidates rows by construction). A document
    missing from a list contributes 0 for that list, per the paper.
    Deterministic: scores must be pre-rounded by the caller; ties break
    on the id.
    """
    from pyspark.sql.window import Window

    fused = None
    for i, (df, score_col) in enumerate(sides):
        top = df.orderBy(col(score_col).desc(), col(id_col)).limit(n_candidates)
        w = Window.orderBy(col(score_col).desc(), col(id_col))
        ranked = top.select(col(id_col), F.row_number().over(w).alias(f"__r{i}"))
        fused = ranked if fused is None else fused.join(ranked, id_col, "full_outer")
    score = None
    for i in range(len(sides)):
        part = F.coalesce(F.lit(1.0) / (F.lit(c) + col(f"__r{i}")), F.lit(0.0))
        score = part if score is None else score + part
    rrf = F.floor(score * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return (
        fused.select(col(id_col), rrf.alias("rrf"))
        .orderBy(col("rrf").desc(), col(id_col))
        .limit(k)
    )
