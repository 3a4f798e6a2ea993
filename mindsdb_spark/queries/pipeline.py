"""Training-data pipeline queries: dedup, text analysis, similarity search,
multimodal plumbing — each a (spark_fn, oracle_sql) pair like the probes.

The oracle SQL mirrors the Spark expression tree op-for-op (same tokenizer
regex, same hash prefixes, same floor-based rounding) so results are
bit-comparable; see probes._roundc for the cross-engine rounding rationale.

Terminal sorts use ``.repartition(1).sortWithinPartitions(...)`` instead of
``.orderBy(...)``: a global sort's RangePartitioner SAMPLES its child,
which re-runs the entire upstream plan a second time (AQE's stage
materialization avoids this only when adaptive execution is on — it is off
in the small-input session branch). These result sets are bounded by
construction (per-document signals, top-k, rollups), so a single-partition
presentation sort after one round-robin exchange is both faster and
scale-safe — the same contract as TakeOrderedAndProject. Operators keep
their internal partitioning; only the final user-facing ordering changes
shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mindsdb_spark.catalog import load_table as _t
from mindsdb_spark.operators import dedup as D
from mindsdb_spark.operators import multimodal as M
from mindsdb_spark.operators import text as T
from mindsdb_spark.operators.text import LANG_MARKERS
from mindsdb_spark.operators.vector import _dot, _norm
from mindsdb_spark.session import local_frame

col = F.col

# Shared oracle CTE fragments (DuckDB dialect).
_WORDS = r"words AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w FROM documents)"
_EX = (
    "ex AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, len(w)-2), "
    "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle FROM words WHERE len(w) >= 3)"
)
# 60-bit integer shingle hash — mirrors dedup.shingle_hash_expr exactly.
_EXH = (
    "exh AS (SELECT doc_id, CAST(CAST('0x' || substr(md5(shingle), 1, 15) AS UBIGINT) AS BIGINT)"
    " AS sh FROM ex)"
)


def _lane_sql(i: int) -> str:
    from mindsdb_spark.operators.dedup import MINHASH_PRIME, minhash_lane_params

    a, b = minhash_lane_params(16)[i]
    return f"min(({a} * (sh % 4294967296) + {b}) % {MINHASH_PRIME})"


def _media_slice(spark: SparkSession, sf_dir: str, n: int = 100) -> DataFrame:
    """The bounded media conformance slice (first ``n`` documents), coalesced
    to a handful of partitions BEFORE the mapInPandas codec chains.

    Round-10 measurement (guide §4, OPTIMIZATION_r10.md): the cached
    documents table is pinned at session parallelism (32), so a 100-row
    slice fanned every codec stage out to 32 tasks of ~3 rows — each task
    paying the Python-worker round-trip for a few microseconds of work;
    with 2-3 chained mapInPandas stages that overhead dominated (d52-d58
    measured 0.73-1.18 s each, dropping to 0.37-0.47 s at 4 partitions).
    The input is capped at ``n`` rows BY THE QUERY (not by the scale
    factor), so a small fixed fan-out is scale-safe: unbounded media
    operators (d13's full-table chain) keep full parallelism."""
    return (
        _t(spark, sf_dir, "documents").where(col("doc_id") < n).coalesce(4)
    )
_COS = (
    "list_sum(list_transform(generate_series(1, len(embedding)), "
    "i -> CAST(embedding[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))) "
    "/ (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) "
    "* sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"
)


# --- D01 exact dedup ---------------------------------------------------------
def d01_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup(_t(spark, sf_dir, "documents"))


D01_SQL = """
SELECT min(doc_id) AS doc_id, count(*) AS dup_count
FROM documents GROUP BY md5(text) ORDER BY doc_id
"""


# --- D02 token stats ---------------------------------------------------------
def d02_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.token_stats(_t(spark, sf_dir, "documents"))


D02_SQL = f"""
WITH {_WORDS}
SELECT doc_id, len(w) AS n_tokens, len(list_distinct(w)) AS n_uniq_tokens
FROM words ORDER BY doc_id
"""


# --- D03 text quality --------------------------------------------------------
def d03_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.text_quality(_t(spark, sf_dir, "documents"))


D03_SQL = f"""
WITH {_WORDS},
m AS (
  SELECT doc_id,
         length(text) AS n_chars_actual,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
         length(regexp_replace(text, '\\s', '', 'g')) AS n_nospace,
         len(w) AS n_tokens
  FROM documents JOIN words USING (doc_id)
)
SELECT doc_id, n_chars_actual, n_tokens,
       floor(n_alpha / n_chars_actual * 1000000 + 0.5) / 1000000 AS alpha_ratio,
       floor(n_nospace / n_tokens * 1000000 + 0.5) / 1000000 AS avg_token_len,
       floor((0.5 * (n_alpha / n_chars_actual) + 0.5 * (least(n_tokens, 100) / 100.0)) * 1000000 + 0.5) / 1000000 AS quality_score
FROM m ORDER BY doc_id
"""


# --- D04 language ID ---------------------------------------------------------
def d04_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.lang_id(_t(spark, sf_dir, "documents"))


def _lang_sql() -> str:
    langs = list(LANG_MARKERS)
    hits = ",\n  ".join(
        "len(list_filter(w, x -> x IN ({}))) AS {}_hits".format(
            ", ".join(f"'{m}'" for m in LANG_MARKERS[lang]), lang
        )
        for lang in langs
    )
    cases = " ".join(
        "WHEN {} THEN '{}'".format(
            " AND ".join(f"{lang}_hits >= {o}_hits" for o in langs if o != lang), lang
        )
        for lang in langs
    )
    return f"""
WITH {_WORDS},
s AS (SELECT doc_id,\n  {hits}\nFROM words)
SELECT doc_id, CASE {cases} ELSE '{langs[0]}' END AS pred_lang,
       {", ".join(f"{lang}_hits" for lang in langs)}
FROM s ORDER BY doc_id
"""


D04_SQL = _lang_sql()


# --- D05 minhash signatures --------------------------------------------------
def d05_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = D.minhash_signatures(D.shingle_hashes(_t(spark, sf_dir, "documents")))
    return sig.select("doc_id", "h0", "h7", "h15")


D05_SQL = f"""
WITH {_WORDS}, {_EX}, {_EXH}
SELECT doc_id, {_lane_sql(0)} AS h0, {_lane_sql(7)} AS h7, {_lane_sql(15)} AS h15
FROM exh GROUP BY doc_id ORDER BY doc_id
"""


# --- D06 n-gram Jaccard top-k near-dup pairs --------------------------------
def d06_jaccard_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.jaccard_topk_pairs(
        D.shingle_hashes(_t(spark, sf_dir, "documents")), k=20, max_df=1000
    )


# the oracle applies the same max_df=1000 hot-shingle cap, over the same
# filtered shingle space (sizes AND intersections both common-shingle blind)
D06_SQL = f"""
WITH {_WORDS}, {_EX}, {_EXH},
hot AS (SELECT sh FROM exh GROUP BY sh HAVING count(*) > 1000),
kept AS (SELECT e.doc_id, e.sh FROM exh e WHERE e.sh NOT IN (SELECT sh FROM hot)),
sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
  FROM kept a JOIN kept b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       floor(shared / (na.n + nb.n - shared) * 1000000 + 0.5) / 1000000 AS jac
FROM shared JOIN sizes na ON na.doc_id = doc_a JOIN sizes nb ON nb.doc_id = doc_b
ORDER BY jac DESC, doc_a, doc_b LIMIT 20
"""


# --- D07 LSH candidate pairs -------------------------------------------------
def d07_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        D.lsh_candidate_pairs(D.shingle_hashes(_t(spark, sf_dir, "documents")))
        .repartition(1).sortWithinPartitions("doc_a", "doc_b")
    )


def _lsh_pairs_ctes() -> str:
    """Shared CTE chain ending in ``pairs`` — the LSH candidate-pair set
    (used by D07 directly and by D24's connected-components oracle)."""
    from mindsdb_spark.operators.dedup import MINHASH_PRIME

    mins = ", ".join(f"{_lane_sql(i)} AS h{i}" for i in range(16))

    def _band(b: int) -> str:
        acc = f"h{b * 4}"
        for r in range(1, 4):
            acc = f"(({acc}) * 1000003 + h{b * 4 + r}) % {MINHASH_PRIME}"
        return acc

    bands = "\n  UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, {_band(b)} AS band_sig FROM sig" for b in range(4)
    )
    return f"""{_WORDS}, {_EX}, {_EXH},
sig AS (SELECT doc_id, {mins} FROM exh GROUP BY doc_id),
bands AS ({bands}),
pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b ON a.band_id = b.band_id AND a.band_sig = b.band_sig
                           AND a.doc_id < b.doc_id
)"""


D07_SQL = f"""
WITH {_lsh_pairs_ctes()}
SELECT doc_a, doc_b FROM pairs ORDER BY doc_a, doc_b
"""


# --- D08 bottom-k fingerprint ------------------------------------------------
def d08_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.fingerprint_bottom_k(D.shingle_hashes(_t(spark, sf_dir, "documents")), k=4)


D08_SQL = f"""
WITH {_WORDS}, {_EX}, {_EXH},
fp AS (SELECT doc_id, sh AS fp,
              row_number() OVER (PARTITION BY doc_id ORDER BY sh) AS rn
       FROM exh)
SELECT doc_id, fp FROM fp WHERE rn <= 4 ORDER BY doc_id, fp
"""


# --- D09 SimHash -------------------------------------------------------------
def d09_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash(_t(spark, sf_dir, "documents"))


def _simhash_sql() -> str:
    bits = " + ".join(
        "(CASE WHEN list_sum(list_transform(h, v -> CASE WHEN (v >> {b}) & 1 = 1 "
        "THEN 1 ELSE -1 END)) >= 0 THEN (1::BIGINT << {b}) ELSE 0 END)".format(b=b)
        for b in range(32)
    )
    return f"""
WITH {_WORDS},
hs AS (SELECT doc_id,
              list_transform(w, x -> ('0x' || substr(md5(x), 1, 8))::UBIGINT) AS h
       FROM words)
SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM hs ORDER BY doc_id
"""


D09_SQL = _simhash_sql()


# --- D10 exact kNN join (similarity search) ---------------------------------
def d10_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    emb = _t(spark, sf_dir, "embeddings")
    data = emb.select("vec_id", col("embedding").cast("array<double>").alias("__dv"))
    q = emb.filter(col("vec_id") < 10).select(
        col("vec_id").alias("query_id"), col("embedding").cast("array<double>").alias("__qv")
    )
    sim = _dot(col("__dv"), col("__qv")) / (_norm(col("__dv")) * _norm(col("__qv")))
    w = Window.partitionBy("query_id").orderBy(col("__sim").desc(), col("vec_id"))
    return (
        data.crossJoin(F.broadcast(q))
        .withColumn("__sim", sim)
        .withColumn("rnk", F.row_number().over(w))
        .filter(col("rnk") <= 5)
        .select("query_id", "vec_id", "rnk")
        .repartition(1).sortWithinPartitions("query_id", "rnk")
    )


D10_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
sims AS (
  SELECT query_id, vec_id, {_COS} AS sim
  FROM embeddings, q
),
r AS (SELECT query_id, vec_id,
             row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rnk
      FROM sims)
SELECT query_id, vec_id, rnk FROM r WHERE rnk <= 5 ORDER BY query_id, rnk
"""


# --- D11 embedding near-dup: top-k most-similar pairs ------------------------
def d11_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindsdb_spark.operators.vector import allpairs_topk

    emb = _t(spark, sf_dir, "embeddings")
    return allpairs_topk(emb, "embedding", "vec_id", k=20).select(
        col("id_a").alias("vec_a"), col("id_b").alias("vec_b")
    )


D11_SQL = """
WITH e AS (SELECT vec_id, embedding FROM embeddings),
sims AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
    list_sum(list_transform(generate_series(1, len(a.embedding)),
             i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
    / (sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
     * sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim
  FROM e a JOIN e b ON a.vec_id < b.vec_id
)
SELECT vec_a, vec_b FROM sims ORDER BY sim DESC, vec_a, vec_b LIMIT 20
"""


# --- D12 JSON extraction over events ----------------------------------------
def d12_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object(col("props"), "$.k").cast("int")
    return (
        e.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            (F.floor(F.avg(k) * 1e6 + F.lit(0.5)) / 1e6).alias("avg_k"),
        )
        .repartition(1).sortWithinPartitions("event_type")
    )


D12_SQL = """
SELECT event_type, count(*) AS n,
       floor(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)) * 1000000 + 0.5) / 1000000 AS avg_k
FROM events GROUP BY event_type ORDER BY event_type
"""


# --- D13 multimodal feature extraction (Arrow-batched mapInPandas) ----------
def d13_multimodal(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = M.to_media_table(_t(spark, sf_dir, "documents"))
    return M.extract_features(media, fake=True).select("media_id", "n_bytes", "sig8")


D13_SQL = """
SELECT doc_id AS media_id, strlen(text) AS n_bytes, substr(md5(text), 1, 8) AS sig8
FROM documents ORDER BY media_id
"""


# --- D14 IVF approximate search ----------------------------------------------
def d14_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindsdb_spark.operators.vector import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_topk(
        emb, "embedding", query_id=42, k=10, n_centroids=16, n_probes=4
    ).select("vec_id")


D14_SQL = f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 42),
c AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id < 16),
probe AS (
  SELECT cid FROM c, q
  ORDER BY list_sum(list_transform(generate_series(1, len(ce)),
             i -> CAST(ce[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)))
    / (sqrt(list_sum(list_transform(ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       * sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) DESC,
    cid DESC
  LIMIT 4
),
assign AS (
  SELECT e.vec_id, e.embedding, c.cid,
         row_number() OVER (PARTITION BY e.vec_id ORDER BY
           list_sum(list_transform(generate_series(1, len(e.embedding)),
             i -> CAST(e.embedding[i] AS DOUBLE) * CAST(ce[i] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(ce, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) DESC,
           c.cid DESC) AS rn
  FROM embeddings e, c
),
cand AS (SELECT vec_id, embedding FROM assign
         WHERE rn = 1 AND cid IN (SELECT cid FROM probe))
SELECT vec_id FROM (
  SELECT e.vec_id, {_COS} AS sim FROM cand e, q
) ORDER BY sim DESC, vec_id LIMIT 10
"""


# --- D15 BPE-ish token counting ----------------------------------------------
def d15_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.bpe_token_count(_t(spark, sf_dir, "documents"))


D15_SQL = r"""
SELECT doc_id,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+')) AS n_bpe_tokens
FROM documents ORDER BY doc_id
"""


# --- D16 benchmark contamination check ---------------------------------------
# bench set = docs 0..19 (stand-in eval set); every train doc reports its
# 3-gram overlap fraction against the bench shingle union.
def d16_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindsdb_spark.operators.curation import contamination_check

    sh = D.shingle_hashes(_t(spark, sf_dir, "documents"))
    return contamination_check(
        sh.filter(col("doc_id") >= 20), sh.filter(col("doc_id") < 20)
    ).repartition(1).sortWithinPartitions("doc_id")


D16_SQL = f"""
WITH {_WORDS}, {_EX}, {_EXH},
bench AS (SELECT DISTINCT sh FROM exh WHERE doc_id < 20),
tr AS (SELECT doc_id, sh FROM exh WHERE doc_id >= 20),
agg AS (
  SELECT doc_id, count(*) AS n_sh,
         CAST(sum(CASE WHEN sh IN (SELECT sh FROM bench) THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
  FROM tr GROUP BY doc_id
)
SELECT doc_id, n_sh, n_hit,
       floor(n_hit / n_sh * 1000000 + 0.5) / 1000000 AS contamination
FROM agg ORDER BY doc_id
"""


# --- D17 stopword scrub -------------------------------------------------------
def d17_stopword_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindsdb_spark.operators.curation import stopword_scrub

    return stopword_scrub(
        _t(spark, sf_dir, "documents"), ["a", "the"]
    ).repartition(1).sortWithinPartitions("doc_id")


D17_SQL = f"""
WITH {_WORDS},
k AS (SELECT doc_id, list_filter(w, x -> x NOT IN ('a', 'the')) AS kept,
             len(w) AS n_tokens
      FROM words)
SELECT doc_id, array_to_string(kept, ' ') AS clean_text, n_tokens,
       n_tokens - len(kept) AS n_removed,
       floor((n_tokens - len(kept)) / n_tokens * 1000000 + 0.5) / 1000000 AS removed_ratio
FROM k ORDER BY doc_id
"""


# --- D18 deterministic stratified sampling -----------------------------------
_D18_RATES = {"en": 50, "fr": 30, "zh": 20}  # es/de default to 0


def d18_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindsdb_spark.operators.curation import stratified_sample

    return (
        stratified_sample(_t(spark, sf_dir, "documents"), _D18_RATES)
        .select("doc_id", "lang")
        .repartition(1).sortWithinPartitions("doc_id")
    )


D18_SQL = """
SELECT doc_id, lang FROM documents
WHERE (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 100) <
      CASE lang WHEN 'en' THEN 50 WHEN 'fr' THEN 30 WHEN 'zh' THEN 20 ELSE 0 END
ORDER BY doc_id
"""


# --- D19 sequence packing into fixed token budgets ----------------------------
def d19_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindsdb_spark.operators.curation import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    toks = T.token_stats(docs).join(docs.select("doc_id", "lang"), "doc_id")
    return pack_sequences(toks, budget=512).repartition(1).sortWithinPartitions("doc_id")


D19_SQL = f"""
WITH {_WORDS},
tok AS (SELECT doc_id, len(w) AS n_tokens FROM words),
j AS (SELECT t.doc_id, d.lang, t.n_tokens
      FROM tok t JOIN documents d USING (doc_id))
SELECT doc_id, lang, n_tokens,
       CAST(floor(coalesce(sum(n_tokens) OVER (
              PARTITION BY lang ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512)
            AS BIGINT) AS bin
FROM j ORDER BY doc_id
"""


# --- D20 int8 embedding quantization (exploded lanes) ------------------------
def d20_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindsdb_spark.operators.curation import quantize_embeddings

    q = quantize_embeddings(_t(spark, sf_dir, "embeddings"))
    return q.select(
        # posexplode_outer: plain posexplode injects a `size(q)>0 AND q IS
        # NOT NULL` pre-filter that re-evaluates the whole quantization
        # lambda twice more per row after project-collapse; vectors are
        # never empty, so outer semantics are identical and the transform
        # runs once
        "vec_id", "amax", F.posexplode_outer("q").alias("lane", "qv")
    ).repartition(1).sortWithinPartitions("vec_id", "lane")


D20_SQL = """
WITH a AS (
  SELECT vec_id,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS am,
         embedding
  FROM embeddings
)
SELECT vec_id, floor(am * 1000000 + 0.5) / 1000000 AS amax, i - 1 AS lane,
       CAST(floor(CAST(embedding[i] AS DOUBLE) / am * 127 + 0.5) AS INT) AS qv
FROM a, UNNEST(generate_series(1, len(embedding))) AS t(i)
ORDER BY vec_id, lane
"""


# --- D21 repetition signals (Gopher-style duplicate n-gram fractions) --------
def d21_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindsdb_spark.operators.text import repetition_signals

    return repetition_signals(_t(spark, sf_dir, "documents")).repartition(1).sortWithinPartitions("doc_id")


D21_SQL = f"""
WITH {_WORDS},
g AS (SELECT doc_id,
             unnest(list_transform(generate_series(1, len(w) - 1),
                                   i -> w[i] || ' ' || w[i + 1])) AS g
      FROM words WHERE len(w) >= 2),
per AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY doc_id, g)
SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams, count(*) AS n_distinct,
       floor((1.0 - count(*) / CAST(sum(c) AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS dup_frac,
       floor((max(c) / CAST(sum(c) AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS top_frac
FROM per GROUP BY doc_id ORDER BY doc_id
"""


# --- D28 per-doc n-gram novelty (memorization / boilerplate signal) ----------
def d28_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindsdb_spark.operators.text import ngram_novelty

    return ngram_novelty(_t(spark, sf_dir, "documents")).repartition(1).sortWithinPartitions("doc_id")


D28_SQL = f"""
WITH {_WORDS},
g AS (SELECT DISTINCT doc_id,
             unnest(list_transform(generate_series(1, len(w) - 1),
                                   i -> w[i] || ' ' || w[i + 1])) AS g
      FROM words WHERE len(w) >= 2),
df AS (SELECT g, count(*) AS c FROM g GROUP BY g)
SELECT g.doc_id,
       count(*) AS n_distinct,
       CAST(sum(CASE WHEN df.c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       floor((sum(CASE WHEN df.c = 1 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE))
             * 1000000 + 0.5) / 1000000 AS novelty
FROM g JOIN df USING (g)
GROUP BY g.doc_id ORDER BY g.doc_id
"""


# --- D29 DSIR importance weights (target-domain data selection) --------------
def d29_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindsdb_spark.operators.curation import dsir_weights

    docs = _t(spark, sf_dir, "documents")
    return dsir_weights(docs, target=col("source") == "src0").repartition(1).sortWithinPartitions("doc_id")


D29_SQL = f"""
WITH {_WORDS},
tok AS (SELECT w.doc_id, unnest(w.w) AS tok,
               CASE WHEN d.source = 'src0' THEN 1 ELSE 0 END AS is_t
        FROM words w JOIN documents d ON w.doc_id = d.doc_id),
tf AS (SELECT tok, count(*) AS c, sum(is_t) AS ct FROM tok GROUP BY tok),
tot AS (SELECT sum(c) AS n, sum(ct) AS t, count(*) AS v FROM tf)
SELECT doc_id, count(*) AS n_tokens,
       floor(sum(ln((ct + 1.0) / (t + v)) - ln(c * 1.0 / n)) * 1000000 + 0.5)
         / 1000000 AS weight
FROM tok JOIN tf USING (tok), tot
GROUP BY doc_id ORDER BY doc_id
"""


# --- D30 SemDeDup: cell-blocked embedding near-duplicate removal -------------
def d30_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # threshold 0.35 exercises the operator on the synthetic embeddings
    # (random vectors barely correlate); real corpora run ~0.95
    return D.semantic_dedup(
        _t(spark, sf_dir, "embeddings"), threshold=0.35, sign_bits=4
    ).repartition(1).sortWithinPartitions("vec_id")


D30_SQL = """
WITH c AS (
  SELECT vec_id,
         (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
       + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
       + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
       + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS cell,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
n AS (SELECT vec_id, cell, v,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
      FROM c),
p AS (SELECT b.vec_id AS j
      FROM n a JOIN n b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE list_sum(list_transform(generate_series(1, len(a.v)),
                                    i -> a.v[i] * b.v[i]))
            / (a.nrm * b.nrm) >= 0.35)
SELECT vec_id, CAST(cell AS INT) AS cell,
       vec_id IN (SELECT j FROM p) AS is_dup
FROM c ORDER BY vec_id
"""


# --- D31 incremental ingestion dedup (new batch vs existing corpus) ----------
def d31_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return D.incremental_dedup(
        docs.where(col("doc_id") < 400),
        docs.where(col("doc_id") >= 400),
        jaccard_threshold=0.5,
    ).repartition(1).sortWithinPartitions("doc_id")


D31_SQL = f"""
WITH {_lsh_pairs_ctes()},
n AS (SELECT doc_id, count(*) AS c FROM exh GROUP BY doc_id),
cand AS (SELECT doc_a, doc_b FROM pairs WHERE doc_a < 400 AND doc_b >= 400),
i AS (SELECT c.doc_a, c.doc_b, count(*) AS i
      FROM cand c
      JOIN exh a ON a.doc_id = c.doc_a
      JOIN exh b ON b.doc_id = c.doc_b AND b.sh = a.sh
      GROUP BY c.doc_a, c.doc_b),
conf AS (SELECT doc_b, min(doc_a) AS dup_of
         FROM i JOIN n na ON na.doc_id = i.doc_a
                JOIN n nb ON nb.doc_id = i.doc_b
         WHERE i.i * 1.0 / (na.c + nb.c - i.i) >= 0.5
         GROUP BY doc_b)
SELECT d.doc_id, conf.dup_of IS NOT NULL AS is_dup, conf.dup_of
FROM (SELECT doc_id FROM documents WHERE doc_id >= 400) d
LEFT JOIN conf ON conf.doc_b = d.doc_id
ORDER BY d.doc_id
"""


# --- D32 end-to-end curation pipeline (quality -> dedup -> split) ------------
def d32_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation path as ONE composed Catalyst plan: quality
    filter (token count), exact-dedup canonicalization, and deterministic
    split assignment — every doc gets a disposition (kept + reason) and
    survivors get their train/val/test split. Each stage is the
    already-oracle-checked operator; the composition itself is what a
    training-data pipeline actually ships."""
    from mindsdb_spark.operators.curation import split_assign

    docs = _t(spark, sf_dir, "documents")
    # quality already carries every doc_id — joining back to docs was a
    # redundant broadcast join; and split_assign is a PURE MAP of the id,
    # so the split needs no second join either (null it for dropped docs)
    q = T.text_quality(docs).select("doc_id", "n_tokens")
    canon = D.exact_dedup(docs).select(col("doc_id"), F.lit(True).alias("__canon"))
    flags = q.join(canon, "doc_id", "left").select(
        "doc_id",
        F.when(col("n_tokens") < 25, "low_quality")
        .when(col("__canon").isNull(), "duplicate")
        .alias("reason"),
    )
    return (
        split_assign(flags)
        .select(
            "doc_id",
            col("reason").isNull().alias("kept"),
            "reason",
            F.when(col("reason").isNull(), col("split")).alias("split"),
        )
        .repartition(1).sortWithinPartitions("doc_id")
    )


D32_SQL = f"""
WITH {_WORDS},
canon AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
flags AS (
  SELECT w.doc_id,
         CASE WHEN len(w.w) < 25 THEN 'low_quality'
              WHEN c.doc_id IS NULL THEN 'duplicate' END AS reason
  FROM words w LEFT JOIN canon c ON c.doc_id = w.doc_id
)
SELECT f.doc_id, f.reason IS NULL AS kept, f.reason,
       CASE WHEN f.reason IS NOT NULL THEN NULL
            WHEN (('0x' || substr(md5(CAST(f.doc_id AS VARCHAR)), 1, 8))::UBIGINT
                  % 1000) < 800 THEN 'train'
            WHEN (('0x' || substr(md5(CAST(f.doc_id AS VARCHAR)), 1, 8))::UBIGINT
                  % 1000) < 900 THEN 'val'
            ELSE 'test' END AS split
FROM flags f ORDER BY f.doc_id
"""


# --- D33 feature-hashing text embedder (hashing-trick TF, L2-normalized) -----
def d33_hash_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindsdb_spark.operators.kb import hash_embed

    docs = _t(spark, sf_dir, "documents").where(col("doc_id") < 100)
    out = hash_embed(docs, text_col="text", dim=16, out_float=False)
    # coalesce(1)+sortWithinPartitions, not orderBy: a global sort range-
    # samples, which re-runs the whole embed plan a second time — pure
    # overhead on this 100-doc conformance slice (1,600 output rows). The
    # scale path embeds the full corpus unsorted.
    return out.select(
        "doc_id", F.posexplode(col("embedding")).alias("lane", "v")
    ).select(
        "doc_id", "lane",
        (F.floor(col("v") * 1e6 + F.lit(0.5)) / 1e6).alias("v"),
    ).coalesce(1).sortWithinPartitions("doc_id", "lane")


D33_SQL = r"""
WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
           FROM documents WHERE doc_id < 100),
tf AS (SELECT doc_id,
              list_transform(generate_series(0, 15),
                i -> CAST(len(list_filter(w,
                       t -> ('0x' || substr(md5(t), 1, 8))::UBIGINT % 16 = i))
                     AS DOUBLE)) AS tfv
       FROM t),
n AS (SELECT doc_id, tfv,
             greatest(sqrt(list_sum(list_transform(tfv, x -> x * x))), 1e-12) AS nrm
      FROM tf)
SELECT doc_id, i - 1 AS lane,
       floor(tfv[i] / nrm * 1000000 + 0.5) / 1000000 AS v
FROM n, UNNEST(generate_series(1, 16)) AS u(i)
ORDER BY doc_id, lane
"""


# --- D34 TF-IDF weighted hash embeddings -------------------------------------
def d34_tfidf_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindsdb_spark.operators.kb import hash_embed_tfidf

    docs = _t(spark, sf_dir, "documents").where(col("doc_id") < 100)
    out = hash_embed_tfidf(docs, text_col="text", dim=16, out_float=False)
    # same no-global-sort shape as d33 (tiny conformance slice)
    return out.select(
        "doc_id", F.posexplode(col("embedding")).alias("lane", "v")
    ).select(
        "doc_id", "lane",
        (F.floor(col("v") * 1e6 + F.lit(0.5)) / 1e6).alias("v"),
    ).coalesce(1).sortWithinPartitions("doc_id", "lane")


D34_SQL = r"""
WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
           FROM documents WHERE doc_id < 100),
tf AS (SELECT doc_id,
              list_transform(generate_series(0, 15),
                i -> CAST(len(list_filter(w,
                       t -> ('0x' || substr(md5(t), 1, 8))::UBIGINT % 16 = i))
                     AS DOUBLE)) AS tfv
       FROM t),
lanes AS (SELECT doc_id, i - 1 AS lane, tfv[i] AS v
          FROM tf, UNNEST(generate_series(1, 16)) AS u(i)),
dfs AS (SELECT lane, sum(CASE WHEN v > 0 THEN 1 ELSE 0 END) AS dfb
        FROM lanes GROUP BY lane),
n AS (SELECT count(*) AS nd FROM tf),
w AS (SELECT l.doc_id, l.lane, l.v * ln(n.nd / (1.0 + d.dfb)) AS wv
      FROM lanes l JOIN dfs d USING (lane), n),
nrm AS (SELECT doc_id,
               greatest(sqrt(sum(wv * wv)), 1e-12) AS nr
        FROM w GROUP BY doc_id)
SELECT w.doc_id, w.lane,
       floor(w.wv / nrm.nr * 1000000 + 0.5) / 1000000 AS v
FROM w JOIN nrm USING (doc_id)
ORDER BY w.doc_id, w.lane
"""


# --- D35 PageRank centrality over the near-dup graph -------------------------
def d35_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    pairs = D.lsh_candidate_pairs(D.shingle_hashes(docs))
    pr = D.pagerank(docs.select("doc_id"), pairs, iterations=5)
    return pr.select(
        "doc_id",
        (F.floor(col("rank") * 1e9 + F.lit(0.5)) / 1e9).alias("rank"),
    ).repartition(1).sortWithinPartitions("doc_id")


def _pagerank_oracle(iterations: int = 5, damping: float = 0.85) -> str:
    """Unrolled power-iteration CTE chain — fixed iteration count needs no
    recursion, and every layer is the same join+aggregate the operator
    runs."""
    layers = []
    for k in range(1, iterations + 1):
        prev = f"r{k - 1}"
        layers.append(
            f"""r{k} AS (
  SELECT n.doc_id,
         (1 - {damping}) / nn.n + {damping} * coalesce(s.m, 0) AS rank
  FROM (SELECT doc_id FROM documents) n
  CROSS JOIN nn
  LEFT JOIN (SELECT e.dst AS doc_id, sum(p.rank / d.c) AS m
             FROM edges e
             JOIN {prev} p ON p.doc_id = e.src
             JOIN deg d ON d.doc_id = e.src
             GROUP BY e.dst) s ON s.doc_id = n.doc_id
)"""
        )
    return ",\n".join(layers)


D35_SQL = f"""
WITH {_lsh_pairs_ctes()},
edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
deg AS (SELECT src AS doc_id, count(*) AS c FROM edges GROUP BY src),
nn AS (SELECT count(*) AS n FROM documents),
r0 AS (SELECT doc_id, 1.0 / nn.n AS rank FROM documents, nn),
{_pagerank_oracle()}
SELECT doc_id, floor(rank * 1000000000 + 0.5) / 1000000000 AS rank
FROM r5 ORDER BY doc_id
"""


# --- D36 contrastive training triplets (anchor / LSH positive / hash negative)
def d36_contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindsdb_spark.operators.curation import contrastive_triplets

    docs = _t(spark, sf_dir, "documents")
    pairs = D.lsh_candidate_pairs(D.shingle_hashes(docs))
    return contrastive_triplets(docs.select("doc_id"), pairs).repartition(1).sortWithinPartitions("doc_id")


D36_SQL = f"""
WITH {_lsh_pairs_ctes()},
sym AS (SELECT doc_a AS anchor, doc_b AS p FROM pairs
        UNION ALL SELECT doc_b, doc_a FROM pairs),
pos AS (SELECT anchor, min(p) AS positive FROM sym GROUP BY anchor),
cand AS (SELECT doc_id AS cand,
                ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT
                  % 64 AS cb
         FROM documents),
want AS (SELECT anchor, positive,
                ('0x' || substr(md5(CAST(anchor AS VARCHAR) || '#neg'), 1, 8))::UBIGINT
                  % 64 AS wb
         FROM pos)
SELECT w.anchor AS doc_id, w.positive,
       arg_min(c.cand, md5(CAST(w.anchor AS VARCHAR) || '#' || CAST(c.cand AS VARCHAR)))
         AS negative
FROM want w JOIN cand c ON c.cb = w.wb
WHERE c.cand != w.anchor AND c.cand != w.positive
GROUP BY w.anchor, w.positive
ORDER BY doc_id
"""


# --- D37 product-quantization ADC top-k --------------------------------------
def d37_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ compress-then-search: encode 64-dim float vectors to 4 codes
    (16 codewords/subspace = subvectors of the 16 smallest-id vectors, the
    deterministic oracle quantizer), then rank by asymmetric distance: m
    LUT gathers per row, dimension-independent."""
    from mindsdb_spark.operators.vector import pq_topk

    return pq_topk(
        _t(spark, sf_dir, "embeddings"), "embedding",
        query_id=42, k=10, m=4, n_codes=16, dim=64,
    )


def _pq_l2(a: str, b: str) -> str:
    """DuckDB squared-L2 over one 16-wide subspace — same sequential
    left-fold (list_sum) and same per-element doubles as vector._l2sq."""
    d = f"(CAST({a} AS DOUBLE) - CAST({b} AS DOUBLE))"
    return (
        f"list_sum(list_transform(generate_series(1, 16), i -> {d} * {d}))"
        .replace("[i]", "[sub.mi*16 + i]")
    )


D37_SQL = f"""
WITH cb AS (SELECT vec_id AS k, embedding AS cw FROM embeddings WHERE vec_id < 16),
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 42),
sub AS (SELECT unnest(generate_series(0, 3)) AS mi),
assign AS (
  SELECT e.vec_id, sub.mi, cb.k,
         row_number() OVER (PARTITION BY e.vec_id, sub.mi ORDER BY
           {_pq_l2("e.embedding[i]", "cb.cw[i]")} ASC, cb.k ASC) AS rn
  FROM embeddings e, sub, cb
),
codes AS (SELECT vec_id, mi, k FROM assign WHERE rn = 1),
lut AS (
  SELECT sub.mi, cb.k, {_pq_l2("q.qe[i]", "cb.cw[i]")} AS d
  FROM sub, cb, q
),
dist AS (
  SELECT c.vec_id,
         (((sum(CASE WHEN c.mi = 0 THEN l.d END)
            + sum(CASE WHEN c.mi = 1 THEN l.d END))
           + sum(CASE WHEN c.mi = 2 THEN l.d END))
          + sum(CASE WHEN c.mi = 3 THEN l.d END)) AS dist
  FROM codes c JOIN lut l ON l.mi = c.mi AND l.k = c.k
  GROUP BY c.vec_id
)
SELECT vec_id FROM dist ORDER BY dist ASC, vec_id ASC LIMIT 10
"""


# --- D38 per-source Zipf rank-frequency slope --------------------------------
def d38_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.zipf_slope(_t(spark, sf_dir, "documents")).repartition(1).sortWithinPartitions("source")


D38_SQL = r"""
WITH tok AS (SELECT source AS grp,
                    unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
             FROM documents),
tf AS (SELECT grp, tok, count(*) AS c FROM tok GROUP BY grp, tok),
ranked AS (SELECT grp, tok, c,
                  row_number() OVER (PARTITION BY grp ORDER BY c DESC, tok ASC) AS rank
           FROM tf),
top AS (SELECT grp, ln(CAST(rank AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y
        FROM ranked WHERE rank <= 200),
agg AS (SELECT grp, CAST(count(*) AS DOUBLE) AS n,
               sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy, sum(x*x) AS sxx
        FROM top GROUP BY grp)
SELECT grp AS source, CAST(n AS BIGINT) AS n_ranks,
       floor((n*sxy - sx*sy)/(n*sxx - sx*sx) * 10000 + 0.5) / 10000 AS zipf_slope
FROM agg ORDER BY source
"""


# --- D39 asymmetric containment over LSH candidate pairs ---------------------
def d39_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindsdb_spark.operators.dedup import containment_pairs

    docs = _t(spark, sf_dir, "documents")
    sh = D.shingle_hashes(docs)
    return containment_pairs(sh, D.lsh_candidate_pairs(sh)).repartition(1).sortWithinPartitions("doc_a", "doc_b")


D39_SQL = f"""
WITH {_lsh_pairs_ctes()},
sizes AS (SELECT doc_id, count(*) AS n FROM exh GROUP BY doc_id),
inter AS (
  SELECT p.doc_a, p.doc_b, count(*) AS shared
  FROM pairs p JOIN exh a ON a.doc_id = p.doc_a
  WHERE EXISTS (SELECT 1 FROM exh b WHERE b.doc_id = p.doc_b AND b.sh = a.sh)
  GROUP BY p.doc_a, p.doc_b
)
SELECT i.doc_a, i.doc_b,
  floor(shared / CAST(na.n AS DOUBLE) * 1000000 + 0.5)/1000000 AS cont_a,
  floor(shared / CAST(nb.n AS DOUBLE) * 1000000 + 0.5)/1000000 AS cont_b,
  floor(greatest(shared / CAST(na.n AS DOUBLE), shared / CAST(nb.n AS DOUBLE))
        * 1000000 + 0.5)/1000000 AS containment
FROM inter i
JOIN sizes na ON na.doc_id = i.doc_a
JOIN sizes nb ON nb.doc_id = i.doc_b
ORDER BY doc_a, doc_b
"""


# --- D22 corpus top-V vocabulary coverage / OOV fraction ---------------------
def d22_vocab_oov(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindsdb_spark.operators.text import vocab_coverage

    return vocab_coverage(_t(spark, sf_dir, "documents"), vocab_size=50).repartition(1).sortWithinPartitions("doc_id")


D22_SQL = f"""
WITH {_WORDS},
tok AS (SELECT doc_id, unnest(w) AS tok FROM words),
tf AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
vocab AS (SELECT tok FROM tf ORDER BY c DESC, tok LIMIT 50),
j AS (SELECT t.doc_id, CASE WHEN v.tok IS NULL THEN 0 ELSE 1 END AS iv
      FROM tok t LEFT JOIN vocab v USING (tok))
SELECT doc_id, count(*) AS n_tokens, CAST(sum(iv) AS BIGINT) AS in_vocab,
       floor((1.0 - sum(iv) / CAST(count(*) AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS oov_frac
FROM j GROUP BY doc_id ORDER BY doc_id
"""


# --- D23 corpus composition (data-mixture report per source) -----------------
def d23_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindsdb_spark.operators.curation import source_mixture

    return source_mixture(_t(spark, sf_dir, "documents"))


D23_SQL = r"""
WITH s AS (SELECT source,
                  len(string_split_regex(lower(trim(text)), '\s+')) AS nt
           FROM documents),
per AS (SELECT source, count(*) AS n_docs, CAST(sum(nt) AS BIGINT) AS n_tokens,
               floor(avg(nt) * 1000000 + 0.5) / 1000000 AS avg_tokens
        FROM s GROUP BY source),
tot AS (SELECT sum(n_tokens) AS total FROM per)
SELECT source, n_docs, n_tokens, avg_tokens,
       floor((n_tokens / CAST(total AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS token_share
FROM per, tot ORDER BY source
"""


# --- D24 near-dup clusters (connected components over LSH pairs) -------------
def d24_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    pairs = D.lsh_candidate_pairs(D.shingle_hashes(docs))
    return D.connected_components(docs.select("doc_id"), pairs).repartition(1).sortWithinPartitions("doc_id")


D24_SQL = f"""
WITH RECURSIVE {_lsh_pairs_ctes()},
edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION ALL SELECT doc_b, doc_a FROM pairs),
walk(node, label) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.b, w.label FROM walk w JOIN edges e ON e.a = w.node
)
SELECT node AS doc_id, min(label) AS cluster FROM walk GROUP BY node ORDER BY doc_id
"""


# --- D25 per-label embedding centroids (class-separability diagnostic) -------
def d25_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "label", F.posexplode_outer(col("embedding").cast("array<double>")).alias("lane", "v")
        )
        .groupBy("label", "lane")
        .agg(
            (F.floor(F.avg("v") * 1e6 + F.lit(0.5)) / 1e6).alias("c"),
            F.count("*").alias("n"),
        )
        .repartition(1).sortWithinPartitions("label", "lane")
    )


D25_SQL = """
SELECT label, i - 1 AS lane,
       floor(avg(CAST(embedding[i] AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS c,
       count(*) AS n
FROM embeddings, UNNEST(generate_series(1, len(embedding))) t(i)
GROUP BY label, i ORDER BY label, lane
"""


# --- D26 deterministic train/val/test split assignment ------------------------
def d26_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindsdb_spark.operators.curation import split_assign

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return split_assign(docs).repartition(1).sortWithinPartitions("doc_id")


D26_SQL = """
SELECT doc_id, lang,
       CASE WHEN (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 1000) < 800
            THEN 'train'
            WHEN (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT % 1000) < 900
            THEN 'val'
            ELSE 'test' END AS split
FROM documents ORDER BY doc_id
"""


# --- D27 unigram-LM NLL (perplexity-proxy quality score) ----------------------
def d27_unigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindsdb_spark.operators.text import unigram_nll

    return unigram_nll(_t(spark, sf_dir, "documents")).repartition(1).sortWithinPartitions("doc_id")


D27_SQL = f"""
WITH {_WORDS},
tok AS (SELECT doc_id, unnest(w) AS tok FROM words),
tf AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
tot AS (SELECT count(*) AS t FROM tok)
SELECT doc_id, count(*) AS n_tokens,
       floor(avg(-ln(c / CAST(t AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS nll
FROM tok JOIN tf USING (tok), tot
GROUP BY doc_id ORDER BY doc_id
"""


# --- S01 BM25 keyword search -------------------------------------------------
_Q_TERMS = ["spark", "join", "fast"]
_TOKS = "toks AS (SELECT doc_id, unnest(w) AS term FROM words)"


def _bm25_cte(terms: list[str]) -> str:
    tl = ", ".join(f"'{t}'" for t in terms)
    return f"""{_WORDS}, {_TOKS},
dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
stats AS (SELECT count(*) AS n FROM documents),
avgdl AS (SELECT avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE term IN ({tl}) GROUP BY doc_id, term),
dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
contrib AS (
  SELECT tf.doc_id,
         ln((stats.n - dfq.df + 0.5) / (dfq.df + 0.5) + 1.0)
         * (tf.tf * (1.2 + 1.0))
         / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / avgdl.avgdl)) AS c
  FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id), stats, avgdl
),
bm25 AS (SELECT doc_id, floor(sum(c) * 1000000 + 0.5) / 1000000 AS bm25
         FROM contrib GROUP BY doc_id)"""


def s01_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindsdb_spark.operators.search import bm25_scores

    docs = _t(spark, sf_dir, "documents")
    scores = bm25_scores(docs, _Q_TERMS)
    return (
        scores.select("doc_id", (F.floor(col("bm25") * 1e6 + F.lit(0.5)) / 1e6).alias("bm25"))
        .repartition(1).sortWithinPartitions(col("bm25").desc(), "doc_id")
        .limit(10)
    )


S01_SQL = f"""
WITH {_bm25_cte(_Q_TERMS)}
SELECT doc_id, bm25 FROM bm25 ORDER BY bm25 DESC, doc_id LIMIT 10
"""


# --- S02 boolean content algebra --------------------------------------------
def s02_boolean_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindsdb_spark.operators.search import boolean_search

    docs = _t(spark, sf_dir, "documents")
    return boolean_search(
        docs, must=[["spark", "join"], ["table"]], must_not=["vector"]
    ).repartition(1).sortWithinPartitions("doc_id")


S02_SQL = f"""
WITH {_WORDS}, {_TOKS},
b1 AS (SELECT DISTINCT doc_id FROM toks WHERE term IN ('spark', 'join')),
b2 AS (SELECT DISTINCT doc_id FROM toks WHERE term IN ('table')),
neg AS (SELECT DISTINCT doc_id FROM toks WHERE term IN ('vector'))
SELECT d.doc_id FROM documents d
JOIN b1 USING (doc_id) JOIN b2 USING (doc_id)
WHERE d.doc_id NOT IN (SELECT doc_id FROM neg)
ORDER BY doc_id
"""


# --- S03 hybrid search (α·keyword + (1-α)·vector distance) -------------------
def s03_hybrid_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindsdb_spark.operators.vector import cosine_similarity

    from mindsdb_spark.operators.search import bm25_scores

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(col("vec_id") == 0).select("embedding").head()[0]
    # round bm25 to 6dp BEFORE deriving the distance: the group-sum order
    # of BM25 contributions is not pinned across engines, so the raw double
    # can differ by an ulp; rounding first makes every downstream input
    # bitwise identical in both engines.
    bm25_r = F.floor(col("bm25") * 1e6 + F.lit(0.5)) / 1e6
    kw = bm25_scores(docs, _Q_TERMS).select(
        col("doc_id").alias("__id"), (1.0 / (1.0 + bm25_r)).alias("d_kw")
    )
    vec = emb.select(
        col("vec_id").alias("__id"),
        (F.lit(1.0) - cosine_similarity(col("embedding"), [float(x) for x in q])).alias("d_vec"),
    )
    dist = F.lit(0.5) * F.coalesce(col("d_kw"), F.lit(1.0)) + F.lit(0.5) * F.coalesce(
        col("d_vec"), F.lit(1.0)
    )
    return (
        vec.join(kw, "__id", "full_outer")
        .select(
            col("__id").alias("doc_id"),
            (F.floor(dist * 1e6 + F.lit(0.5)) / 1e6).alias("distance"),
        )
        .repartition(1).sortWithinPartitions(col("distance").asc(), "doc_id")
        .limit(10)
    )


S03_SQL = f"""
WITH {_bm25_cte(_Q_TERMS)},
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
vec AS (SELECT vec_id AS doc_id, 1.0 - ({_COS}) AS d_vec FROM embeddings, q),
kw AS (SELECT doc_id, 1.0 / (1.0 + bm25) AS d_kw FROM bm25)  -- bm25 CTE already rounds to 6dp
SELECT doc_id,
       floor((0.5 * coalesce(d_kw, 1.0) + 0.5 * coalesce(d_vec, 1.0)) * 1000000 + 0.5) / 1000000 AS distance
FROM vec FULL OUTER JOIN kw USING (doc_id)
ORDER BY distance ASC, doc_id LIMIT 10
"""


# --- S04 metadata-filtered vector search ------------------------------------
def s04_metadata_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindsdb_spark.operators.vector import cosine_similarity

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(col("vec_id") == 0).select("embedding").head()[0]
    filtered = emb.join(
        docs.filter(col("lang") == "en").select(col("doc_id").alias("vec_id")), "vec_id"
    )
    sim = cosine_similarity(col("embedding"), [float(x) for x in q])
    return (
        filtered.select("vec_id", sim.alias("__sim"))
        .repartition(1).sortWithinPartitions(col("__sim").desc(), "vec_id")
        .limit(10)
        .select("vec_id")
    )


S04_SQL = f"""
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
f AS (SELECT e.vec_id, e.embedding FROM embeddings e
      JOIN documents d ON d.doc_id = e.vec_id WHERE d.lang = 'en')
SELECT vec_id FROM (
  SELECT vec_id, {_COS.replace("embedding", "f.embedding").replace("f.f.", "f.")} AS sim
  FROM f, q
) ORDER BY sim DESC, vec_id LIMIT 10
"""


# --- S05 rerank stage (deterministic mock scorer, reference over-fetch) ------
def s05_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindsdb_spark.operators.search import bm25_scores, rerank_candidates

    docs = _t(spark, sf_dir, "documents")
    n_cand = rerank_candidates(10)  # min(2k, k+30) = 20
    cand = (
        bm25_scores(docs, _Q_TERMS)
        .select("doc_id", (F.floor(col("bm25") * 1e6 + F.lit(0.5)) / 1e6).alias("bm25"))
        .repartition(1).sortWithinPartitions(col("bm25").desc(), "doc_id")
        .limit(n_cand)
    )
    # mock LLM relevance: first 4 md5 hex chars of the text / 65535 — the
    # real scorer is a pandas-UDF LLM call (controller.py:426-436 shape)
    rel = (F.conv(F.substring(F.md5(col("text")), 1, 4), 16, 10).cast("double") / 65535.0)
    scored = cand.join(docs.select("doc_id", "text"), "doc_id").select(
        "doc_id", (F.floor(rel * 1e6 + F.lit(0.5)) / 1e6).alias("relevance")
    )
    return (
        scored.filter(col("relevance") >= 0.2)
        .repartition(1).sortWithinPartitions(col("relevance").desc(), "doc_id")
        .limit(10)
    )


S05_SQL = f"""
WITH {_bm25_cte(_Q_TERMS)},
cand AS (SELECT doc_id, bm25 FROM bm25 ORDER BY bm25 DESC, doc_id LIMIT 20),
scored AS (
  SELECT c.doc_id,
         floor((('0x' || substr(md5(d.text), 1, 4))::INTEGER / 65535.0) * 1000000 + 0.5) / 1000000 AS relevance
  FROM cand c JOIN documents d USING (doc_id)
)
SELECT doc_id, relevance FROM scored WHERE relevance >= 0.2
ORDER BY relevance DESC, doc_id LIMIT 10
"""


# --- S06 hybrid search through the KB SQL door -------------------------------
# `SELECT ... FROM kb WHERE content = '...' USING hybrid_search = true, ...`
# (reference: controller.py:316-330,404-424). The KB is built with the
# md5 embedder and whole-doc chunks so EVERY stage — query embedding, store
# embeddings, bm25, blend, top-k tie-breaks — is reproducible in DuckDB.
def s06_hybrid_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindsdb_spark.engine import EngineSession

    sess = EngineSession(spark)
    sess.register_knowledge_base(
        "kbh", _t(spark, sf_dir, "documents"), dim=8, embedder="md5", chunk=False
    )
    return sess.sql(
        "SELECT doc_id, FLOOR(distance * 1000000 + 0.5) / 1000000 AS distance "
        "FROM kbh WHERE content = 'spark join fast' "
        "ORDER BY distance, doc_id LIMIT 10 "
        "USING hybrid_search = true, hybrid_search_alpha = 0.5"
    )


def _md5_lane(text_sql: str, i: int) -> str:
    """DuckDB mirror of kb.md5_embed's lane i (same md5, mod, scale, FLOAT)."""
    return (
        f"CAST((('0x' || substr(md5({text_sql} || ':{i}'), 1, 8))::UBIGINT % 1000)"
        " / 500.0 - 1.0 AS FLOAT)"
    )


def _s06_sql() -> str:
    store_lanes = ", ".join(_md5_lane("text", i) for i in range(8))
    q_lanes = ", ".join(_md5_lane("'spark join fast'", i) for i in range(8))
    return f"""
WITH {_bm25_cte(_Q_TERMS)},
emb AS (SELECT doc_id, [{store_lanes}] AS embedding FROM documents),
q AS (SELECT [{q_lanes}] AS qe),
vec AS (SELECT doc_id, 1.0 - ({_COS}) AS d_vec FROM emb, q),
kw AS (SELECT doc_id, 1.0 / (1.0 + bm25) AS d_kw FROM bm25),
blend AS (
  SELECT doc_id,
         0.5 * coalesce(d_kw, 1.0) + 0.5 * coalesce(d_vec, 1.0) AS dist_raw
  FROM vec FULL OUTER JOIN kw USING (doc_id)
),
top AS (SELECT doc_id, dist_raw FROM blend
        ORDER BY dist_raw, md5(CAST(doc_id AS VARCHAR)) LIMIT 10)
SELECT doc_id, floor(dist_raw * 1000000 + 0.5) / 1000000 AS distance
FROM top ORDER BY distance, doc_id
"""


S06_SQL = _s06_sql()


# --- S07 rerank + relevance threshold through the KB SQL door -----------------
# `USING rerank = true, relevance_threshold = x` — over-fetch min(2k, k+30)
# vector candidates, score with the deterministic mock reranker, threshold,
# top-k by relevance (reference: controller.py:360-370,404-424). Same
# md5-embedder KB as s06 so every stage reproduces in DuckDB.
def s07_rerank_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindsdb_spark.engine import EngineSession

    sess = EngineSession(spark)
    sess.register_knowledge_base(
        "kbr", _t(spark, sf_dir, "documents"), dim=8, embedder="md5", chunk=False
    )
    return sess.sql(
        "SELECT doc_id, FLOOR(distance * 1000000 + 0.5) / 1000000 AS distance, "
        "FLOOR(relevance * 1000000 + 0.5) / 1000000 AS relevance "
        "FROM kbr WHERE content = 'spark join fast' "
        "ORDER BY relevance DESC, doc_id LIMIT 10 "
        "USING rerank = true, relevance_threshold = 0.2"
    )


def _s07_sql() -> str:
    store_lanes = ", ".join(_md5_lane("text", i) for i in range(8))
    q_lanes = ", ".join(_md5_lane("'spark join fast'", i) for i in range(8))
    return f"""
WITH emb AS (SELECT doc_id, text, [{store_lanes}] AS embedding FROM documents),
q AS (SELECT [{q_lanes}] AS qe),
scored AS (SELECT doc_id, text, ({_COS}) AS sim FROM emb, q),
cand AS (SELECT doc_id, text, 1.0 - sim AS dist FROM scored
         ORDER BY sim DESC, md5(CAST(doc_id AS VARCHAR)) LIMIT 20),
rel AS (SELECT doc_id, dist,
               ('0x' || substr(md5(text), 1, 4))::INTEGER / 65535.0 AS relevance
        FROM cand),
top AS (SELECT doc_id, dist, relevance FROM rel WHERE relevance >= 0.2
        ORDER BY relevance DESC, md5(CAST(doc_id AS VARCHAR)) LIMIT 10)
SELECT doc_id, floor(dist * 1000000 + 0.5) / 1000000 AS distance,
       floor(relevance * 1000000 + 0.5) / 1000000 AS relevance
FROM top ORDER BY relevance DESC, doc_id
"""


S07_SQL = _s07_sql()


# --- M01 MySQL-dialect SQL through EngineSession -----------------------------
def m01_mysql_dialect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindsdb_spark.engine import EngineSession

    es = EngineSession(spark)
    es.register_parquet_source("tpch", sf_dir)
    return es.sql(
        """
        SELECT o_orderkey,
               DAYNAME(o_orderdate) AS dn,
               DATE_FORMAT(o_orderdate, '%Y-%m %H:%i') AS df,
               DATEDIFF(o_orderdate, date '2024-01-01') AS dd,
               LENGTH(o_orderpriority) AS lp,
               SUBSTRING_INDEX(o_orderpriority, '-', 1) AS pfx
        FROM orders ORDER BY o_orderkey
        """
    )


M01_SQL = """
SELECT o_orderkey,
       dayname(o_orderdate) AS dn,
       strftime(o_orderdate, '%Y-%m %H:%M') AS df,
       datediff('day', DATE '2024-01-01', o_orderdate) AS dd,
       strlen(o_orderpriority) AS lp,
       split_part(o_orderpriority, '-', 1) AS pfx
FROM orders ORDER BY o_orderkey
"""


# --- A01 model application ("table JOIN predictor") --------------------------
def a01_model_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    from mindsdb_spark.operators.model import ModelSpec, apply_model

    def predict(pdf):
        import pandas as pd

        risk = np.minimum(pdf["o_totalprice"].to_numpy() / 500000.0, 1.0)
        risk = np.floor(risk * 1e6 + 0.5) / 1e6
        return pd.DataFrame(
            {"predicted_risk": risk, "risk_band": np.where(risk > 0.5, "hi", "lo")}
        )

    model = ModelSpec(
        name="risk", predict=predict, output_schema="predicted_risk double, risk_band string"
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return apply_model(o, model).select("o_orderkey", "predicted_risk", "risk_band")


A01_SQL = """
SELECT o_orderkey,
       floor(least(o_totalprice / 500000.0, 1.0) * 1000000 + 0.5) / 1000000 AS predicted_risk,
       CASE WHEN floor(least(o_totalprice / 500000.0, 1.0) * 1000000 + 0.5) / 1000000 > 0.5
            THEN 'hi' ELSE 'lo' END AS risk_band
FROM orders ORDER BY o_orderkey
"""


# --- A02 time-series forecast (per-group window → horizon fan-out) -----------
def a02_ts_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindsdb_spark.operators.model import ModelSpec, ts_apply_model

    HORIZON = 2

    def predict(pdf):
        import numpy as np
        import pandas as pd

        # mean of the (already windowed) values: 2-decimal doubles sum
        # exactly, so the mean is bit-identical across engines
        base = float(pdf["value"].sum()) / len(pdf)
        base = float(np.floor(base * 1e6 + 0.5) / 1e6)
        max_ts = pdf["ts"].max()
        return pd.DataFrame(
            {
                "user_id": [int(pdf["user_id"].iloc[0])] * HORIZON,
                "h": list(range(1, HORIZON + 1)),
                "ts_pred": [max_ts + pd.Timedelta(hours=i) for i in range(1, HORIZON + 1)],
                "value_pred": [base] * HORIZON,
            }
        )

    model = ModelSpec(
        name="forecast",
        predict=predict,
        output_schema="user_id long, h int, ts_pred timestamp, value_pred double",
        order_by=["ts", "event_id"],
        group_by=["user_id"],
        window=3,
        horizon=HORIZON,
    )
    e = _t(spark, sf_dir, "events").select("user_id", "event_id", "ts", "value")
    return ts_apply_model(e, model).repartition(1).sortWithinPartitions("user_id", "h")


A02_SQL = """
WITH ranked AS (
  SELECT user_id, ts, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
),
agg AS (SELECT user_id, max(ts) AS max_ts, avg(value) AS base
        FROM ranked WHERE rn <= 3 GROUP BY user_id),
h AS (SELECT unnest([1, 2]) AS h)
SELECT user_id, h.h AS h, agg.max_ts + h.h * INTERVAL 1 HOUR AS ts_pred,
       floor(base * 1000000 + 0.5) / 1000000 AS value_pred
FROM agg, h ORDER BY user_id, h
"""



# --- D40 cross-document boilerplate scrub (CCNet/RefinedWeb line dedup) ------
def d40_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindsdb_spark.operators.curation import boilerplate_scrub

    return boilerplate_scrub(_t(spark, sf_dir, "documents"), k=4, min_df=2).repartition(1).sortWithinPartitions(
        "doc_id"
    )


D40_SQL = f"""
WITH {_WORDS},
segs AS (SELECT doc_id, i AS pos, array_to_string(w[(i - 1) * 4 + 1 : i * 4], ' ') AS seg
         FROM words, UNNEST(generate_series(1, CAST(ceil(len(w) / 4.0) AS BIGINT))) AS t(i)),
dfreq AS (SELECT seg, count(DISTINCT doc_id) AS dfc FROM segs GROUP BY seg)
SELECT doc_id, count(*) AS n_segments,
       CAST(sum(CASE WHEN dfc >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
       coalesce(string_agg(CASE WHEN dfc < 2 THEN seg END, ' ' ORDER BY pos), '') AS clean_text
FROM segs JOIN dfreq USING (seg)
GROUP BY doc_id ORDER BY doc_id
"""


# --- D41 JL random projection (±1 sign matrix, Achlioptas 2003) --------------
def d41_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindsdb_spark.operators.vector import random_project

    return random_project(
        _t(spark, sf_dir, "embeddings"), out_dim=16, in_dim=64, seed=0
    ).repartition(1).sortWithinPartitions("vec_id", "lane")


def _d41_sql() -> str:
    # the SAME rp_signs call the Spark operator makes, inlined as a DuckDB
    # list-of-lists literal, so both engines multiply the identical matrix
    from mindsdb_spark.operators.vector import rp_signs

    m = rp_signs(64, 16, seed=0)
    lit = "[" + ", ".join("[" + ", ".join(str(v) for v in row) + "]" for row in m) + "]"
    return (
        "SELECT vec_id, j - 1 AS lane, "
        "floor(list_sum(list_transform(generate_series(1, 64), "
        "i -> CAST(embedding[i] AS DOUBLE) * m[j][i])) * 0.25 * 1000000 + 0.5) "
        "/ 1000000 AS value "
        f"FROM embeddings, (SELECT {lit} AS m), UNNEST(generate_series(1, 16)) AS t(j) "
        "ORDER BY vec_id, lane"
    )


D41_SQL = _d41_sql()


# --- D42 exact-substring duplication fraction (Lee et al. 2022 diagnostic) ---
def d42_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindsdb_spark.operators.text import dup_span_frac

    return dup_span_frac(_t(spark, sf_dir, "documents"), n=3).repartition(1).sortWithinPartitions("doc_id")


D42_SQL = f"""
WITH {_WORDS},
sp AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 2),
              i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS span
       FROM words WHERE len(w) >= 3),
c AS (SELECT span, count(*) AS c FROM sp GROUP BY span)
SELECT doc_id, count(*) AS n_spans,
       CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_spans,
       floor(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE)
             * 1000000 + 0.5) / 1000000 AS dup_span_frac
FROM sp JOIN c USING (span)
GROUP BY doc_id ORDER BY doc_id
"""



# --- D43 Naive-Bayes quality classifier (trained filter, closed form) --------
def d43_nb_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindsdb_spark.operators.curation import nb_quality

    docs = _t(spark, sf_dir, "documents")
    return nb_quality(docs, target=col("source") == "src0").repartition(1).sortWithinPartitions("doc_id")


D43_SQL = f"""
WITH {_WORDS},
tok AS (SELECT w.doc_id, unnest(w.w) AS tok,
               CASE WHEN d.source = 'src0' THEN 1 ELSE 0 END AS is_t
        FROM words w JOIN documents d ON w.doc_id = d.doc_id),
tf AS (SELECT tok, count(*) AS c, sum(is_t) AS ct FROM tok GROUP BY tok),
tot AS (SELECT sum(c) AS n, sum(ct) AS t, count(*) AS v FROM tf),
pr AS (SELECT ln(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) * 1.0
             / sum(CASE WHEN source = 'src0' THEN 0 ELSE 1 END)) AS prior
       FROM documents),
agg AS (SELECT doc_id, count(*) AS n_tokens,
               sum(ln((ct + 1.0) / (t + v)) - ln((c - ct + 1.0) / ((n - t) + v))) AS s
        FROM tok JOIN tf USING (tok), tot GROUP BY doc_id)
SELECT doc_id, n_tokens,
       floor((s + prior) * 1000000 + 0.5) / 1000000 AS score,
       floor((s + prior) * 1000000 + 0.5) / 1000000 > 0 AS pred_target
FROM agg, pr ORDER BY doc_id
"""


# --- S08 reciprocal-rank fusion (Cormack et al. 2009) ------------------------
def s08_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindsdb_spark.operators.search import bm25_scores, rrf_fusion
    from mindsdb_spark.operators.vector import cosine_similarity

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(col("vec_id") == 0).select("embedding").head()[0]
    # both scores pre-rounded to 6dp so candidate rank order is identical
    # across engines (fusion consumes RANKS, so this fully pins the output)
    kw = bm25_scores(docs, _Q_TERMS).select(
        "doc_id", (F.floor(col("bm25") * 1e6 + F.lit(0.5)) / 1e6).alias("bm25")
    )
    vec = emb.select(
        col("vec_id").alias("doc_id"),
        (
            F.floor(
                cosine_similarity(col("embedding"), [float(x) for x in q]) * 1e6
                + F.lit(0.5)
            )
            / 1e6
        ).alias("sim"),
    )
    return rrf_fusion([(kw, "bm25"), (vec, "sim")], k=10, n_candidates=50)


S08_SQL = f"""
WITH {_bm25_cte(_Q_TERMS)},
q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
vecs AS (SELECT vec_id AS doc_id, floor(({_COS}) * 1000000 + 0.5) / 1000000 AS sim
         FROM embeddings, q),
ktop AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rk
         FROM bm25 ORDER BY bm25 DESC, doc_id LIMIT 50),
vtop AS (SELECT doc_id, row_number() OVER (ORDER BY sim DESC, doc_id) AS rv
         FROM vecs ORDER BY sim DESC, doc_id LIMIT 50)
SELECT doc_id,
       floor((coalesce(1.0 / (60 + rk), 0) + coalesce(1.0 / (60 + rv), 0))
             * 1000000 + 0.5) / 1000000 AS rrf
FROM ktop FULL OUTER JOIN vtop USING (doc_id)
ORDER BY rrf DESC, doc_id LIMIT 10
"""



# --- K08 reciprocal-rank fusion through the KB SQL door ----------------------
# `USING hybrid_search = true, hybrid_search_fusion = 'rrf'` — the engine's
# score-free hybrid (engine.py _kb_search rrf branch) on the md5-embedder KB,
# so BM25 ranks, cosine ranks and the fusion all reproduce in DuckDB.
def k08_kb_rrf_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindsdb_spark.engine import EngineSession

    sess = EngineSession(spark)
    sess.register_knowledge_base(
        "kbrrf", _t(spark, sf_dir, "documents"), dim=8, embedder="md5", chunk=False
    )
    return sess.sql(
        "SELECT doc_id, FLOOR(distance * 1000000 + 0.5) / 1000000 AS distance "
        "FROM kbrrf WHERE content = 'spark join fast' "
        "ORDER BY distance, doc_id LIMIT 10 "
        "USING hybrid_search = true, hybrid_search_fusion = 'rrf'"
    )


def _k08_sql() -> str:
    store_lanes = ", ".join(_md5_lane("text", i) for i in range(8))
    q_lanes = ", ".join(_md5_lane("'spark join fast'", i) for i in range(8))
    tie = "md5(CAST(doc_id AS VARCHAR))"  # chunk_id = md5(doc_id), chunk=False
    return f"""
WITH {_bm25_cte(_Q_TERMS)},
emb AS (SELECT doc_id, [{store_lanes}] AS embedding FROM documents),
q AS (SELECT [{q_lanes}] AS qe),
vecs AS (SELECT doc_id, floor(({_COS}) * 1000000 + 0.5) / 1000000 AS sim FROM emb, q),
ktop AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, {tie}) AS rk
         FROM bm25 ORDER BY bm25 DESC, {tie} LIMIT 50),
vtop AS (SELECT doc_id, row_number() OVER (ORDER BY sim DESC, {tie}) AS rv
         FROM vecs ORDER BY sim DESC, {tie} LIMIT 50),
fused AS (SELECT doc_id,
                 floor((coalesce(1.0 / (60 + rk), 0) + coalesce(1.0 / (60 + rv), 0))
                       * 1000000 + 0.5) / 1000000 AS rrf
          FROM ktop FULL OUTER JOIN vtop USING (doc_id)),
top AS (SELECT doc_id, rrf FROM fused ORDER BY rrf DESC, {tie} LIMIT 10)
SELECT doc_id, floor((1.0 - rrf) * 1000000 + 0.5) / 1000000 AS distance
FROM top ORDER BY distance, doc_id
"""


K08_SQL = _k08_sql()



# --- D44 curation pipeline v2: scrub → NB quality gate → split in ONE plan ---
def d44_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The round-3 operators composed the way a production curation run
    chains them — cross-doc boilerplate measurement, trained NB quality
    gate, deterministic split for survivors — all ONE Catalyst plan (d32
    is the heuristic-gate ancestor). Gates: docs that are >=50%% boilerplate
    drop first, then NB log-odds <= -3.39 (corpus median)."""
    from mindsdb_spark.operators.curation import boilerplate_scrub, nb_quality

    docs = _t(spark, sf_dir, "documents")
    scrub = boilerplate_scrub(docs, k=4, min_df=2)
    nb = nb_quality(docs, target=col("source") == "src0").select("doc_id", "score")
    j = scrub.join(nb, "doc_id")
    heavy = col("n_removed") * 2 >= col("n_segments")
    lowq = col("score") <= F.lit(-3.39)
    kept = ~heavy & ~lowq
    bucket = (
        F.conv(F.substring(F.md5(col("doc_id").cast("string")), 1, 8), 16, 10).cast("long")
        % 1000
    )
    split = F.when(bucket < 800, "train").when(bucket < 900, "val").otherwise("test")
    return j.select(
        "doc_id",
        "n_segments",
        "n_removed",
        "score",
        F.when(heavy, "boilerplate").when(lowq, "low_quality").otherwise("kept").alias("reason"),
        kept.alias("kept"),
        F.when(kept, split).alias("split"),
    ).repartition(1).sortWithinPartitions("doc_id")


D44_SQL = f"""
WITH scrub AS (SELECT * FROM ({D40_SQL})),
nbq AS (SELECT * FROM ({D43_SQL}))
SELECT s.doc_id, s.n_segments, s.n_removed, n.score,
       CASE WHEN s.n_removed * 2 >= s.n_segments THEN 'boilerplate'
            WHEN n.score <= -3.39 THEN 'low_quality' ELSE 'kept' END AS reason,
       (s.n_removed * 2 < s.n_segments AND n.score > -3.39) AS kept,
       CASE WHEN s.n_removed * 2 < s.n_segments AND n.score > -3.39 THEN
         CASE WHEN (('0x' || substr(md5(CAST(s.doc_id AS VARCHAR)), 1, 8))::UBIGINT % 1000) < 800
              THEN 'train'
              WHEN (('0x' || substr(md5(CAST(s.doc_id AS VARCHAR)), 1, 8))::UBIGINT % 1000) < 900
              THEN 'val' ELSE 'test' END
       END AS split
FROM scrub s JOIN nbq n ON s.doc_id = n.doc_id
ORDER BY s.doc_id
"""


# --- D45 bigram-LM NLL (interpolated perplexity proxy) -----------------------
def d45_bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindsdb_spark.operators.text import bigram_nll

    return bigram_nll(_t(spark, sf_dir, "documents")).repartition(1).sortWithinPartitions("doc_id")


D45_SQL = f"""
WITH {_WORDS},
bg AS (SELECT doc_id, w[i] AS prev, w[i + 1] AS cur
       FROM words, UNNEST(generate_series(1, len(w) - 1)) AS t(i)
       WHERE len(w) >= 2),
uni AS (SELECT unnest(w) AS tok FROM words),
uf AS (SELECT tok, count(*) AS cu FROM uni GROUP BY tok),
tot AS (SELECT count(*) AS n FROM uni),
bc AS (SELECT prev, cur, count(*) AS c2 FROM bg GROUP BY prev, cur),
cc AS (SELECT prev, sum(c2) AS ccnt FROM bc GROUP BY prev)
SELECT bg.doc_id, count(*) AS n_bigrams,
       floor(avg(-ln(0.9 * c2 / ccnt + 0.1 * cu / CAST(n AS DOUBLE)))
             * 1000000 + 0.5) / 1000000 AS nll
FROM bg JOIN bc USING (prev, cur) JOIN cc USING (prev)
JOIN uf ON bg.cur = uf.tok, tot
GROUP BY bg.doc_id ORDER BY bg.doc_id
"""


# --- D46 distributed BPE tokenizer training ----------------------------------
def d46_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindsdb_spark.operators.text import bpe_train_merges

    # k=3 for the gate/bench query: each round is a fixed-cost Spark job
    # (the fixture vocab is tiny, so rounds are pure scheduling floor that
    # only amortizes at scale); the operator default stays 8
    return bpe_train_merges(_t(spark, sf_dir, "documents"), k=3).repartition(1).sortWithinPartitions("rank")


def _d46_sql(k: int = 3) -> str:
    """The SAME k BPE rounds the Spark operator iterates, unrolled as CTE
    levels: per level, pair counts over the previous symbol state, argmax
    with the (count desc, lhs, rhs) tie-break, replace() merge application.
    replace()'s left-to-right non-overlap scan over double-space-separated
    symbols equals canonical leftmost BPE pairing in BOTH engines."""
    ctes = [
        _WORDS,
        "vocab AS (SELECT tok AS w, count(*) AS c"
        " FROM (SELECT unnest(w) AS tok FROM words) GROUP BY tok)",
        "s0 AS (SELECT '  ' || regexp_replace(w, '(.)', '\\1  ', 'g') AS seq, c FROM vocab)",
    ]
    for i in range(1, k + 1):
        ctes.append(
            f"p{i} AS (SELECT s[j] AS lhs, s[j + 1] AS rhs, sum(c) AS cnt"
            f" FROM (SELECT string_split(trim(seq), '  ') AS s, c FROM s{i - 1}) t,"
            f" UNNEST(generate_series(1, len(s) - 1)) AS u(j)"
            f" WHERE len(s) >= 2 GROUP BY 1, 2)"
        )
        ctes.append(
            f"t{i} AS (SELECT lhs, rhs, cnt FROM p{i} ORDER BY cnt DESC, lhs, rhs LIMIT 1)"
        )
        if i < k:
            ctes.append(
                f"s{i} AS (SELECT replace(seq, ' ' || t.lhs || '  ' || t.rhs || ' ',"
                f" ' ' || t.lhs || t.rhs || ' ') AS seq, c FROM s{i - 1}, t{i} t)"
            )
    sel = "\nUNION ALL ".join(
        f"SELECT {i} AS rank, lhs, rhs, lhs || rhs AS merged,"
        f" CAST(cnt AS BIGINT) AS cnt FROM t{i}"
        for i in range(1, k + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + sel + "\nORDER BY rank"


D46_SQL = _d46_sql()


# --- D47 BPE tokenization with the trained merges ----------------------------
def d47_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindsdb_spark.operators.text import bpe_tokenize_counts, bpe_train_merges

    docs = _t(spark, sf_dir, "documents")
    merges = [
        (r["lhs"], r["rhs"]) for r in bpe_train_merges(docs, k=3).collect()
    ]
    return bpe_tokenize_counts(docs, merges).repartition(1).sortWithinPartitions("doc_id")


def _d47_sql(k: int = 3) -> str:
    """d46's k training rounds unrolled with the word column carried through
    every state level, then the FINAL symbol state joined back to the corpus
    words — per-doc counts under the trained merges."""
    ctes = [
        _WORDS,
        "vocab AS (SELECT tok AS w, count(*) AS c"
        " FROM (SELECT unnest(w) AS tok FROM words) GROUP BY tok)",
        "s0 AS (SELECT w, c,"
        " '  ' || regexp_replace(w, '(.)', '\\1  ', 'g') AS seq FROM vocab)",
    ]
    for i in range(1, k + 1):
        ctes.append(
            f"p{i} AS (SELECT s[j] AS lhs, s[j + 1] AS rhs, sum(c) AS cnt"
            f" FROM (SELECT string_split(trim(seq), '  ') AS s, c FROM s{i - 1}) t,"
            f" UNNEST(generate_series(1, len(s) - 1)) AS u(j)"
            f" WHERE len(s) >= 2 GROUP BY 1, 2)"
        )
        ctes.append(
            f"t{i} AS (SELECT lhs, rhs, cnt FROM p{i} ORDER BY cnt DESC, lhs, rhs LIMIT 1)"
        )
        ctes.append(
            f"s{i} AS (SELECT w, c, replace(seq, ' ' || t.lhs || '  ' || t.rhs || ' ',"
            f" ' ' || t.lhs || t.rhs || ' ') AS seq FROM s{i - 1}, t{i} t)"
        )
    return (
        "WITH " + ",\n".join(ctes) + f""",
tokc AS (SELECT w, len(string_split(trim(seq), '  ')) AS nt FROM s{k}),
tok AS (SELECT doc_id, unnest(w) AS tok FROM words)
SELECT doc_id, count(*) AS n_words, CAST(sum(c.nt) AS BIGINT) AS n_bpe_tokens
FROM tok JOIN tokc c ON c.w = tok.tok
GROUP BY doc_id ORDER BY doc_id
"""
    )


D47_SQL = _d47_sql()


# --- D48 CCNet perplexity buckets --------------------------------------------
def d48_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindsdb_spark.operators.curation import perplexity_buckets

    return perplexity_buckets(_t(spark, sf_dir, "documents")).repartition(1).sortWithinPartitions("doc_id")


D48_SQL = f"""
WITH {_WORDS},
tok AS (SELECT doc_id, unnest(w) AS tok FROM words),
tf AS (SELECT tok, count(*) AS c FROM tok GROUP BY tok),
tot AS (SELECT count(*) AS t FROM tok),
nll AS (SELECT doc_id, count(*) AS n_tokens,
               floor(avg(-ln(c / CAST(t AS DOUBLE))) * 1000000 + 0.5) / 1000000 AS nll
        FROM tok JOIN tf USING (tok), tot GROUP BY doc_id),
cuts AS (SELECT quantile_cont(nll, 1.0/3.0) AS t1,
                quantile_cont(nll, 2.0/3.0) AS t2 FROM nll)
SELECT doc_id, n_tokens, nll,
       CASE WHEN nll < t1 THEN 'head'
            WHEN nll < t2 THEN 'middle' ELSE 'tail' END AS ppl_bucket
FROM nll, cuts ORDER BY doc_id
"""


# --- D49 temperature-scaled source mixture -----------------------------------
def d49_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindsdb_spark.operators.curation import temperature_mixture

    return temperature_mixture(
        _t(spark, sf_dir, "documents"), alpha=0.5, budget=1_000_000
    ).repartition(1).sortWithinPartitions("source")


D49_SQL = f"""
WITH {_WORDS},
per AS (SELECT d.source, count(*) AS n_docs, CAST(sum(len(w.w)) AS BIGINT) AS n_tokens
        FROM words w JOIN documents d USING (doc_id) GROUP BY d.source),
tot AS (SELECT sum(n_tokens) AS t FROM per),
powed AS (SELECT source, n_tokens,
                 floor(n_tokens / CAST(t AS DOUBLE) * 1000000 + 0.5) / 1000000
                   AS token_share,
                 sqrt(CAST(n_tokens AS DOUBLE)) AS p
          FROM per, tot),
z AS (SELECT sum(p) AS z FROM powed)
SELECT source, n_tokens, token_share,
       floor(p / z * 1000000 + 0.5) / 1000000 AS temp_weight,
       CAST(floor(p / z * 1000000.0 + 0.5) AS BIGINT) AS alloc_tokens
FROM powed, z ORDER BY source
"""


# --- M05 QUALIFY clause (DuckDB-dialect window filter) -----------------------
def m05_qualify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALIFY through the SQL door: the reference's internal DuckDB
    executor accepts it natively; our engine rewrites it to the subquery
    form (dialect/rewriter.py:rewrite_qualify). Top order per customer."""
    from mindsdb_spark.engine import EngineSession

    es = EngineSession(spark)
    es.register_parquet_source("tpch", sf_dir)
    return es.sql(
        """
        SELECT o_custkey, o_orderkey, o_totalprice FROM orders
        WHERE o_orderstatus = 'F'
        QUALIFY row_number() OVER (PARTITION BY o_custkey
                                   ORDER BY o_totalprice DESC, o_orderkey) = 1
        ORDER BY o_custkey
        """
    )


# DuckDB runs the IDENTICAL text — QUALIFY is native there
M05_SQL = """
SELECT o_custkey, o_orderkey, o_totalprice FROM orders
WHERE o_orderstatus = 'F'
QUALIFY row_number() OVER (PARTITION BY o_custkey
                           ORDER BY o_totalprice DESC, o_orderkey) = 1
ORDER BY o_custkey
"""


# --- D50 Gopher quality rules ------------------------------------------------
def d50_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindsdb_spark.operators.curation import gopher_rules

    return gopher_rules(_t(spark, sf_dir, "documents")).repartition(1).sortWithinPartitions("doc_id")


D50_SQL = f"""
WITH {_WORDS},
stats AS (
  SELECT doc_id, len(w) AS n,
         list_sum(list_transform(w, x -> length(x))) * 1.0 / len(w) AS ml,
         len(list_filter(w, x -> contains(x, '#') OR contains(x, '...'))) AS nsym,
         len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]'))) AS nalpha,
         len(list_intersect(list_distinct(w),
             ['the','be','to','of','and','that','have','with'])) AS nstop
  FROM words)
SELECT doc_id, CAST(n AS BIGINT) AS n_words,
       floor(ml * 1000000 + 0.5) / 1000000 AS mean_word_len,
       n >= 50 AND n <= 100000 AS ok_word_count,
       ml >= 3.0 AND ml <= 10.0 AS ok_word_length,
       nsym * 1.0 / n < 0.1 AS ok_symbol_ratio,
       nalpha * 1.0 / n >= 0.8 AS ok_alpha_words,
       nstop >= 2 AS ok_stopwords,
       (n >= 50 AND n <= 100000) AND (ml >= 3.0 AND ml <= 10.0)
         AND (nsym * 1.0 / n < 0.1) AND (nalpha * 1.0 / n >= 0.8)
         AND (nstop >= 2) AS keep
FROM stats ORDER BY doc_id
"""


# --- D51 duplicate-cluster size distribution ---------------------------------
def d51_dup_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup audit report: how much of the corpus sits in duplicate groups
    of each size — (dup_count, n_groups, n_docs, doc_share). The first
    table a curation run inspects after exact dedup (is duplication mass
    head-heavy or long-tail?). Two map-side-combinable aggregates over the
    hash-group table; the corpus total folds from the persisted histogram.
    """
    from mindsdb_spark.operators.dedup import exact_dedup

    groups = exact_dedup(_t(spark, sf_dir, "documents"))
    hist = (
        groups.groupBy("dup_count")
        .agg(F.count("*").alias("n_groups"))
        .persist()
    )
    total = hist.agg(F.sum(col("dup_count") * col("n_groups")).alias("__t"))
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return (
        hist.crossJoin(F.broadcast(total))
        .select(
            col("dup_count"),
            col("n_groups"),
            (col("dup_count") * col("n_groups")).alias("n_docs"),
            r6(col("dup_count") * col("n_groups") / col("__t")).alias("doc_share"),
        )
        .repartition(1).sortWithinPartitions("dup_count")
    )


D51_SQL = """
WITH g AS (SELECT count(*) AS dup_count FROM documents GROUP BY md5(text)),
h AS (SELECT dup_count, count(*) AS n_groups FROM g GROUP BY dup_count),
t AS (SELECT sum(dup_count * n_groups) AS t FROM h)
SELECT dup_count, n_groups, dup_count * n_groups AS n_docs,
       floor(dup_count * n_groups / CAST(t AS DOUBLE) * 1000000 + 0.5) / 1000000
         AS doc_share
FROM h, t ORDER BY dup_count
"""


# --- D52 audio DSP features over synthesized PCM -----------------------------
# Real decode + real DSP (np.frombuffer int16 -> windowed RMS with an EXACT
# int64 sum-of-squares + zero-crossing rate), Arrow-batched mapInPandas;
# only the SIGNAL is synthetic (no audio files in the container) — a
# deterministic ramp both engines recompute from the same closed form
# (sample_i = (md5-seed * i) % 65536 - 32768), so the oracle checks the
# full decode->window->feature chain without parsing bytes in SQL.
def d52_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _media_slice(spark, sf_dir)
    pcm = M.synth_pcm(docs, n_samples=2000)
    feats = M.audio_features(pcm, window=250)
    return feats.select(
        "media_id", "win",
        (F.floor(col("rms") * 1e6 + F.lit(0.5)) / 1e6).alias("rms"),
        (F.floor(col("zcr") * 1e6 + F.lit(0.5)) / 1e6).alias("zcr"),
    ).repartition(1).sortWithinPartitions("media_id", "win")


D52_SQL = """
WITH seeds AS (
  SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT AS seed
  FROM documents WHERE doc_id < 100
),
samp AS (
  SELECT doc_id,
         list_transform(generate_series(1, 2000),
           i -> CAST((seed * i) % 65536 AS BIGINT) - 32768) AS s
  FROM seeds
),
wins AS (
  SELECT doc_id AS media_id, w AS win, s[w * 250 + 1 : (w + 1) * 250] AS seg
  FROM samp, UNNEST(generate_series(0, 7)) AS t(w)
),
feat AS (
  SELECT media_id, win,
         sqrt(list_sum(list_transform(seg, x -> x * x)) / 250.0) AS rms,
         (SELECT CAST(coalesce(list_sum(list_transform(
             generate_series(2, len(sv)),
             i -> CASE WHEN sv[i] <> sv[i - 1] THEN 1 ELSE 0 END)), 0) AS DOUBLE)
          FROM (SELECT list_transform(list_filter(seg, x -> x <> 0),
                       x -> CASE WHEN x > 0 THEN 1 ELSE -1 END) AS sv)
         ) / 249.0 AS zcr
  FROM wins
)
SELECT media_id, win,
       floor(rms * 1000000 + 0.5) / 1000000 AS rms,
       floor(zcr * 1000000 + 0.5) / 1000000 AS zcr
FROM feat ORDER BY media_id, win
"""

# --- D53 image block-mean downsample over synthesized bitmaps ----------------
# Companion to d52: real raster math (np.frombuffer uint8 -> reshape ->
# exact int64 tile sums -> one double division) over pixels both engines
# recompute from the same closed form (pixel(x,y) = (md5-seed * (y*W+x+1))
# % 256). The image twin of d52's audio.
def d53_image_blockmean(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _media_slice(spark, sf_dir)
    img = M.synth_image(docs, width=32, height=32)
    blocks = M.downsample_block_mean(img, block=8)
    return blocks.select(
        "media_id", "by", "bx",
        (F.floor(col("mean") * 1e6 + F.lit(0.5)) / 1e6).alias("mean"),
    ).repartition(1).sortWithinPartitions("media_id", "by", "bx")


D53_SQL = """
WITH seeds AS (
  SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT AS seed
  FROM documents WHERE doc_id < 100
),
px AS (
  SELECT doc_id,
         CAST((i - 1) % 32 AS BIGINT) AS x,
         CAST((i - 1) // 32 AS BIGINT) AS y,
         CAST((seed * i) % 256 AS BIGINT) AS v
  FROM seeds, UNNEST(generate_series(1, 1024)) AS t(i)
)
SELECT doc_id AS media_id, y // 8 AS by, x // 8 AS bx,
       floor(sum(v) / 64.0 * 1000000 + 0.5) / 1000000 AS mean
FROM px GROUP BY doc_id, y // 8, x // 8
ORDER BY media_id, by, bx
"""

# --- D54 real PNG decode → block-mean (stdlib codec, round-6 verdict item 5) --
# The pixels are the same closed form as d53, but the payload ROUND-TRIPS
# through a genuine PNG: encode_png writes zlib-compressed IDAT with the
# scanline filter CYCLING through all five types (None/Sub/Up/Average/
# Paeth), decode_png_media reconstructs the raster executor-side, and the
# block means are hashed against the closed-form oracle — any filter-
# reconstruction bug anywhere in the codec breaks the hash. 48x32 exercises
# non-square strides. Real-decode-at-scale shape: both codec stages are
# Arrow-batched mapInPandas, payloads never leave the executors.
def d54_png_blockmean(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _media_slice(spark, sf_dir)
    png = M.synth_png(docs, width=48, height=32, filters=(0, 1, 2, 3, 4))
    raster = M.decode_png_media(png)
    blocks = M.downsample_block_mean(raster, block=8)
    return blocks.select(
        "media_id", "by", "bx",
        (F.floor(col("mean") * 1e6 + F.lit(0.5)) / 1e6).alias("mean"),
    ).repartition(1).sortWithinPartitions("media_id", "by", "bx")


D54_SQL = """
WITH seeds AS (
  SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT AS seed
  FROM documents WHERE doc_id < 100
),
px AS (
  SELECT doc_id,
         CAST((i - 1) % 48 AS BIGINT) AS x,
         CAST((i - 1) // 48 AS BIGINT) AS y,
         CAST((seed * i) % 256 AS BIGINT) AS v
  FROM seeds, UNNEST(generate_series(1, 1536)) AS t(i)
)
SELECT doc_id AS media_id, y // 8 AS by, x // 8 AS bx,
       floor(sum(v) / 64.0 * 1000000 + 0.5) / 1000000 AS mean
FROM px GROUP BY doc_id, y // 8, x // 8
ORDER BY media_id, by, bx
"""

# --- D55 edit-distance-confirmed near-dup pairs -------------------------------
# The precision step after LSH recall: banded minhash proposes candidate
# pairs (d07's plumbing — never all-pairs), exact Levenshtein confirms.
# Both engines share the same integer metric (unit-cost
# insert/delete/substitute), so the oracle reproduces the distances
# bit-for-bit; Spark uses the early-exit threshold form (rows abandon the
# DP table past max_dist) — the shape that keeps the quadratic metric
# bounded by TRUE duplication, not corpus size, at 100 TB.
def d55_editdist_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    cand = D.lsh_candidate_pairs(D.shingle_hashes(docs))
    return (
        D.editdist_confirm(docs, cand, max_dist=8)
        .repartition(1)
        .sortWithinPartitions("doc_a", "doc_b")
    )


D55_SQL = f"""
WITH {_lsh_pairs_ctes()}
SELECT p.doc_a, p.doc_b, levenshtein(a.text, b.text) AS edit_dist
FROM pairs p
JOIN documents a ON a.doc_id = p.doc_a
JOIN documents b ON b.doc_id = p.doc_b
WHERE levenshtein(a.text, b.text) <= 8
ORDER BY doc_a, doc_b
"""


def d56_tfidf_full_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-8: the FULL-corpus TF-IDF embedder (no conformance slice) —
    the shape whose sf10 measure beat DuckDB 0.65x
    (BENCH_sf10.json:d34_full_corpus_r08) — reduced to a 16-row per-lane
    checksum so the oracle gate covers the at-scale formula end-to-end:
    md5-bucket TF fold, idf = ln(N/(1+df)) from the one-row broadcast
    stats, per-doc L2 normalization. Lane sums of ~1e3 unit-normalized
    doubles carry ~1e-12 absolute error, far inside the 4-decimal round."""
    from mindsdb_spark.operators.kb import hash_embed_tfidf

    docs = _t(spark, sf_dir, "documents")
    emb = hash_embed_tfidf(docs, text_col="text", dim=16, out_float=False)
    lanes = emb.select(F.posexplode(col("embedding")).alias("lane", "v"))
    return (
        lanes.groupBy("lane")
        .agg((F.floor(F.sum("v") * 1e4 + F.lit(0.5)) / 1e4).alias("s"))
        .coalesce(1)
        .sortWithinPartitions("lane")
    )


D56_SQL = r"""
WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS w
           FROM documents),
tf AS (SELECT doc_id,
              list_transform(generate_series(0, 15),
                i -> CAST(len(list_filter(w,
                       t -> ('0x' || substr(md5(t), 1, 8))::UBIGINT % 16 = i))
                     AS DOUBLE)) AS tfv
       FROM t),
lanes AS (SELECT doc_id, i - 1 AS lane, tfv[i] AS v
          FROM tf, UNNEST(generate_series(1, 16)) AS u(i)),
dfs AS (SELECT lane, sum(CASE WHEN v > 0 THEN 1 ELSE 0 END) AS dfb,
               count(DISTINCT doc_id) AS n
        FROM lanes GROUP BY lane),
tfidf AS (SELECT l.doc_id, l.lane, l.v * ln(d.n / (1.0 + d.dfb)) AS v
          FROM lanes l JOIN dfs d ON l.lane = d.lane),
normed AS (SELECT doc_id, lane,
                  v / greatest(sqrt(sum(v * v) OVER (PARTITION BY doc_id)), 1e-12) AS v
           FROM tfidf)
SELECT lane, floor(sum(v) * 10000 + 0.5) / 10000 AS s
FROM normed GROUP BY lane ORDER BY lane
"""



# --- D57 JPEG round-trip block means ------------------------------------------
# The round-8 stdlib JPEG codec's oracle gate (the d54 pattern): gray
# payloads built from CONSTANT 8x8 tiles with EVEN values encode at
# quality=50 (q_dc = 16) bit-exactly — the DC of a constant block is
# 8*(v-128), which quantizes and reconstructs losslessly, and every AC is
# exactly zero — so the full DCT/quantize/zigzag/Huffman encode + parse/
# decode/IDCT path runs for real while the decoded pixels stay closed-form:
# the oracle recomputes the tile values from the same md5 formula. Any
# Huffman table, zigzag, dequant or IDCT defect breaks the value hash.
def d57_jpeg_blockmean(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _media_slice(spark, sf_dir)
    jpg = M.synth_jpeg(docs, width=48, height=32, tile=8, quality=50)
    raster = M.decode_jpeg_media(jpg)
    blocks = M.downsample_block_mean(raster, block=8)
    return blocks.select(
        "media_id", "by", "bx",
        (F.floor(col("mean") * 1e6 + F.lit(0.5)) / 1e6).alias("mean"),
    ).repartition(1).sortWithinPartitions("media_id", "by", "bx")


D57_SQL = """
WITH seeds AS (
  SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT AS seed
  FROM documents WHERE doc_id < 100
),
tiles AS (
  SELECT doc_id,
         CAST((k - 1) % 6 AS BIGINT) AS bx,
         CAST((k - 1) // 6 AS BIGINT) AS by,
         CAST(2 * ((seed * k) % 128) AS BIGINT) AS v
  FROM seeds, UNNEST(generate_series(1, 24)) AS t(k)
)
SELECT doc_id AS media_id, by, bx,
       floor(v * 1000000 + 0.5) / 1000000 AS mean
FROM tiles ORDER BY media_id, by, bx
"""


# --- D58 real resize through the PNG codec ------------------------------------
# Oracle gate for the round-8 REAL image resize (retired stub): synth_png's
# closed-form pixels → PNG encode → resize_images(fake=False) — executor-side
# decode → nearest-neighbor numpy index gather → re-encode — → decode →
# block-means. The NN map is exact integer math (xs[x] = x*W_in // W_out),
# so DuckDB recomputes the resized raster from the pixel formula directly:
# a halving resize keeps exactly the even-coordinate pixels. Any codec or
# gather bug (filter reconstruction, row/col swap, off-by-one in the index
# map) breaks the hash. Reference analog: image preprocessing handlers
# delegate to PIL (mindsdb/integrations/utilities/handlers — no codec of
# its own); here the full chain is from-spec and distributed.
def d58_png_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _media_slice(spark, sf_dir)
    png = M.synth_png(docs, width=48, height=32, filters=(0, 1, 2, 3, 4))
    resized = M.resize_images(png, 24, 16, fake=False)
    raster = M.decode_png_media(resized)
    blocks = M.downsample_block_mean(raster, block=8)
    return blocks.select(
        "media_id", "by", "bx",
        (F.floor(col("mean") * 1e6 + F.lit(0.5)) / 1e6).alias("mean"),
    ).repartition(1).sortWithinPartitions("media_id", "by", "bx")


D58_SQL = """
WITH seeds AS (
  SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::UBIGINT AS seed
  FROM documents WHERE doc_id < 100
),
px AS (
  -- resized(y, x) = source(2y, 2x): nearest-neighbor halving keeps the
  -- even-coordinate pixels; source value = (seed * (i0 + 1)) % 256 with
  -- i0 = row-major index in the 48-wide source raster
  SELECT doc_id,
         CAST((i - 1) % 24 AS BIGINT) AS x,
         CAST((i - 1) // 24 AS BIGINT) AS y,
         CAST((seed * (((i - 1) // 24) * 2 * 48 + ((i - 1) % 24) * 2 + 1))
              % 256 AS BIGINT) AS v
  FROM seeds, UNNEST(generate_series(1, 384)) AS t(i)
)
SELECT doc_id AS media_id, y // 8 AS by, x // 8 AS bx,
       floor(sum(v) / 64.0 * 1000000 + 0.5) / 1000000 AS mean
FROM px GROUP BY doc_id, y // 8, x // 8
ORDER BY media_id, by, bx
"""


# --- D59/D60: ROUND-10 CANDIDATES (implemented + compare()-tested in round
# 9; NOT in the PIPELINE dict yet — each registered key rides the driver's
# ~50-slot correctness window, and round 9's 2-key budget went to a11/d58.
# Round 10: add the two dict lines.) ------------------------------------------


def d59_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-classify vote table: hashes the OPERATOR's own shared plan
    (vector.py:_knn_votes — driver-collected query batch riding the GEMM
    mapInPandas closure, NaN-guarded cosine,
    WindowGroupLimit neighbor rank, vote counts) reduced to EXACT-INT
    parity, plus the predicted label under (count desc, label asc). The
    operator's similarity tie-break is deliberately NOT oracle-hashed (a
    float sum's fold order may differ between engines when counts tie);
    the integer vote counts pin the ranking."""
    from pyspark.sql.window import Window

    from mindsdb_spark.operators.vector import _knn_votes

    emb = _t(spark, sf_dir, "embeddings")
    votes = _knn_votes(
        emb.filter(col("vec_id") >= 20),
        emb.filter(col("vec_id") < 20),
        k=5, vec_col="embedding", id_col="vec_id", label_col="label",
    )
    pick = Window.partitionBy("__qid").orderBy(col("n").desc(), col("__lbl").asc())
    return (
        votes.withColumnRenamed("__n", "n")
        .withColumn("__p", F.row_number().over(pick))
        .select(
            col("__qid").alias("vec_id"), col("__lbl").alias("label"),
            col("n"), (col("__p") == 1).alias("is_predicted"),
        )
        .repartition(1).sortWithinPartitions("vec_id", "label")
    )


D59_SQL = f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 20),
l AS (SELECT vec_id, label, embedding FROM embeddings WHERE vec_id >= 20),
sims AS (SELECT q.qid, l.vec_id, l.label, {_COS} AS sim FROM l, q WHERE l.vec_id != q.qid),
r AS (SELECT qid, label,
             row_number() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rnk
      FROM sims),
v AS (SELECT qid, label, count(*) AS n FROM r WHERE rnk <= 5 GROUP BY qid, label),
p AS (SELECT qid, label, n,
             row_number() OVER (PARTITION BY qid ORDER BY n DESC, label ASC) AS pk
      FROM v)
SELECT qid AS vec_id, label, n, (pk = 1) AS is_predicted
FROM p ORDER BY vec_id, label
"""


# Damaged fixture rows for d60, constructed by the REAL failure mechanism
# (utf-8 bytes misdecoded) — shared verbatim by the Spark callable and the
# oracle SQL so both engines score identical strings.
_D60_DAMAGED = [
    (900001, "h\u00e9llo w\u00f6rld caf\u00e9".encode().decode("latin-1")),
    (900002, "it\u2019s a \u201ctest \u2013 dash".encode().decode("cp1252")),
    (900003, "repl " + chr(0xFFFD) + " and c1 " + chr(0x85) + " here"),
]


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def d60_mojibake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-damage scores over the fixture corpus (healthy — pins the
    zero-false-positive contract on 500 real rows) UNION three
    mechanism-constructed damaged rows (pins detection). Pure map stage;
    the oracle reruns the identical chr()-built patterns through DuckDB's
    RE2 (parity already unit-pinned in tests/test_mojibake.py)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text").unionAll(
        local_frame(spark, _D60_DAMAGED, "doc_id long, text string")
    )
    return (
        T.mojibake_score(docs)
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )


def _d60_sql() -> str:
    pats = {
        "m2": T.MOJIBAKE_2BYTE, "m3": T.MOJIBAKE_3BYTE,
        "c1": T.C1_CONTROLS, "rep": T.REPLACEMENT_CHAR,
    }
    counts = {k: f"len(regexp_extract_all(text, {_sql_str(v)}))" for k, v in pats.items()}
    total = f"({counts['m2']} * 2 + {counts['m3']} * 2 + {counts['c1']} + {counts['rep']})"
    damaged = ", ".join(f"({i}, {_sql_str(t)})" for i, t in _D60_DAMAGED)
    return f"""
WITH corpus AS (
  SELECT doc_id, coalesce(text, '') AS text FROM documents
  UNION ALL SELECT * FROM (VALUES {damaged}) AS d(doc_id, text)
)
SELECT doc_id,
       CAST({counts['m2']} AS INTEGER) AS n_moj2,
       CAST({counts['m3']} AS INTEGER) AS n_moj3,
       CAST({counts['c1']} AS INTEGER) AS n_c1,
       CAST({counts['rep']} AS INTEGER) AS n_replacement,
       coalesce(floor({total} * 1000.0 / nullif(length(text), 0) * 1000000 + 0.5) / 1000000,
                0.0) AS damage_per_kchar,
       {total} > 0 AS is_suspect
FROM corpus ORDER BY doc_id
"""


D60_SQL = _d60_sql()


# --- D61/D62: ROUND-11 CANDIDATES (implemented + compare()-tested in round
# 10; NOT in the PIPELINE dict — the round-10 window budget went to d59/d60,
# and each registered key rides the driver's ~50-slot correctness window.
# Round 11: add the two dict lines.) -------------------------------------------


def d61_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease / FK grade over the corpus (operators/text.py:
    readability — one map stage, per-word vowel-group syllables via JVM
    higher-order functions, zero shuffle)."""
    return (
        T.readability(_t(spark, sf_dir, "documents"))
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )


D61_SQL = r"""
WITH t AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x != '') AS w
  FROM documents
),
s AS (
  SELECT doc_id,
         CAST(len(w) AS INTEGER) AS n_words,
         CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS INTEGER)
           AS n_sentences,
         CAST(coalesce(list_sum(list_transform(w,
             x -> greatest(len(regexp_extract_all(x, '[aeiouy]+')), 1))), 0)
           AS INTEGER) AS n_syllables
  FROM t
)
SELECT doc_id, n_words, n_sentences, n_syllables,
       floor((CAST(206.835 AS DOUBLE)
              - CAST(1.015 AS DOUBLE) * (n_words / n_sentences)
              - CAST(84.6 AS DOUBLE) * (n_syllables / nullif(n_words, 0)))
             * 1000000 + 0.5) / 1000000 AS flesch,
       floor((CAST(0.39 AS DOUBLE) * (n_words / n_sentences)
              + CAST(11.8 AS DOUBLE) * (n_syllables / nullif(n_words, 0))
              - CAST(15.59 AS DOUBLE))
             * 1000000 + 0.5) / 1000000 AS fk_grade
FROM s ORDER BY doc_id
"""


# Seed rows for d62: the fixture corpus is ASCII-clean (NFC is identity
# there — that pins the zero-false-rewrite contract), so rows built by the
# real damage mechanisms pin the normalization itself. Shared verbatim by
# the Spark callable and the oracle SQL.
_D62_SEEDED = [
    (910001, "cafe\u0301  du  monde"),  # decomposed e+combining acute; ws runs
    (910002, "tab\tand\x0bvtab\x07bell"),  # kept-ws vs stripped controls
    (910003, "  already clean  "),
    (910004, None),
]


def d62_nfc_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-normalization scrub over corpus + mechanism-seeded rows
    (operators/text.py:nfc_scrub — Arrow-batched NFC, then JVM control
    strip + whitespace collapse). Oracle replays DuckDB's nfc_normalize
    through the byte-identical regex chain."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text").unionAll(
        local_frame(spark, _D62_SEEDED, "doc_id long, text string")
    )
    return (
        T.nfc_scrub(docs)
        .repartition(1)
        .sortWithinPartitions("doc_id")
    )


def _d62_sql() -> str:
    damaged = ", ".join(
        f"({i}, {_sql_str(t) if t is not None else 'NULL'})"
        for i, t in _D62_SEEDED
    )
    ctrl, ws = _sql_str(T.CONTROL_STRIP), _sql_str(T.WS_RUN)
    return f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL SELECT * FROM (VALUES {damaged}) AS d(doc_id, text)
),
c AS (
  SELECT doc_id, text,
         trim(regexp_replace(regexp_replace(nfc_normalize(text),
              {ctrl}, '', 'g'), {ws}, ' ', 'g')) AS clean_text
  FROM corpus
)
SELECT doc_id, clean_text,
       NOT (clean_text IS NOT DISTINCT FROM text) AS changed
FROM c ORDER BY doc_id
"""


D62_SQL = _d62_sql()


# --- registry ----------------------------------------------------------------
PIPELINE = {
    "d01_dedup_exact": (d01_dedup_exact, D01_SQL),
    "d02_token_stats": (d02_token_stats, D02_SQL),
    "d03_text_quality": (d03_text_quality, D03_SQL),
    "d04_lang_id": (d04_lang_id, D04_SQL),
    "d05_minhash_sig": (d05_minhash_sig, D05_SQL),
    "d06_jaccard_topk": (d06_jaccard_topk, D06_SQL),
    "d07_lsh_pairs": (d07_lsh_pairs, D07_SQL),
    "d08_fingerprint": (d08_fingerprint, D08_SQL),
    "d09_simhash": (d09_simhash, D09_SQL),
    "d10_knn_join": (d10_knn_join, D10_SQL),
    "d11_embedding_pairs": (d11_embedding_pairs, D11_SQL),
    "d12_json_extract": (d12_json_extract, D12_SQL),
    "d13_multimodal": (d13_multimodal, D13_SQL),
    "d14_ivf_topk": (d14_ivf_topk, D14_SQL),
    "d15_bpe_tokens": (d15_bpe_tokens, D15_SQL),
    "d16_contamination": (d16_contamination, D16_SQL),
    "d17_stopword_scrub": (d17_stopword_scrub, D17_SQL),
    "d18_stratified_sample": (d18_stratified_sample, D18_SQL),
    "d19_pack_sequences": (d19_pack_sequences, D19_SQL),
    "d20_quantize": (d20_quantize, D20_SQL),
    "d21_repetition": (d21_repetition, D21_SQL),
    "d22_vocab_oov": (d22_vocab_oov, D22_SQL),
    "d23_source_mix": (d23_source_mix, D23_SQL),
    "d24_dedup_clusters": (d24_dedup_clusters, D24_SQL),
    "d25_label_centroids": (d25_label_centroids, D25_SQL),
    "d26_split_assign": (d26_split_assign, D26_SQL),
    "d27_unigram_nll": (d27_unigram_nll, D27_SQL),
    "d28_ngram_novelty": (d28_ngram_novelty, D28_SQL),
    "d29_dsir_weights": (d29_dsir_weights, D29_SQL),
    "d30_semantic_dedup": (d30_semantic_dedup, D30_SQL),
    "d31_incremental_dedup": (d31_incremental_dedup, D31_SQL),
    "d32_curation_pipeline": (d32_curation_pipeline, D32_SQL),
    "d33_hash_embed": (d33_hash_embed, D33_SQL),
    "d34_tfidf_embed": (d34_tfidf_embed, D34_SQL),
    "d35_pagerank": (d35_pagerank, D35_SQL),
    "d36_contrastive_triplets": (d36_contrastive_triplets, D36_SQL),
    "d37_pq_topk": (d37_pq_topk, D37_SQL),
    "d38_zipf_slope": (d38_zipf_slope, D38_SQL),
    "d39_containment": (d39_containment, D39_SQL),
    "d40_boilerplate": (d40_boilerplate, D40_SQL),
    "d41_random_projection": (d41_random_projection, D41_SQL),
    "d42_dup_spans": (d42_dup_spans, D42_SQL),
    "d43_nb_quality": (d43_nb_quality, D43_SQL),
    "d44_curation_v2": (d44_curation_v2, D44_SQL),
    "d45_bigram_nll": (d45_bigram_nll, D45_SQL),
    "d46_bpe_merges": (d46_bpe_merges, D46_SQL),
    "d47_bpe_tokenize": (d47_bpe_tokenize, D47_SQL),
    "d48_ppl_buckets": (d48_ppl_buckets, D48_SQL),
    "d49_temperature_mix": (d49_temperature_mix, D49_SQL),
    "d50_gopher_rules": (d50_gopher_rules, D50_SQL),
    "d51_dup_distribution": (d51_dup_distribution, D51_SQL),
    "d52_audio_features": (d52_audio_features, D52_SQL),
    "d53_image_blockmean": (d53_image_blockmean, D53_SQL),
    "d54_png_blockmean": (d54_png_blockmean, D54_SQL),
    "d55_editdist_pairs": (d55_editdist_pairs, D55_SQL),
    "d56_tfidf_full": (d56_tfidf_full_checksum, D56_SQL),
    "d57_jpeg_blockmean": (d57_jpeg_blockmean, D57_SQL),
    "d58_png_resize": (d58_png_resize, D58_SQL),
    "d59_knn_classify": (d59_knn_classify, D59_SQL),
    "d60_mojibake": (d60_mojibake, D60_SQL),
    "s01_bm25_topk": (s01_bm25_topk, S01_SQL),
    "s02_boolean_search": (s02_boolean_search, S02_SQL),
    "s03_hybrid_topk": (s03_hybrid_topk, S03_SQL),
    "s04_metadata_search": (s04_metadata_search, S04_SQL),
    "s05_rerank": (s05_rerank, S05_SQL),
    "s06_hybrid_sql": (s06_hybrid_sql, S06_SQL),
    "s07_rerank_sql": (s07_rerank_sql, S07_SQL),
    "s08_rrf_fusion": (s08_rrf_fusion, S08_SQL),
    "k08_kb_rrf_sql": (k08_kb_rrf_sql, K08_SQL),
    "m01_mysql_dialect": (m01_mysql_dialect, M01_SQL),
    "m05_qualify": (m05_qualify, M05_SQL),
    "a01_model_apply": (a01_model_apply, A01_SQL),
    "a02_ts_forecast": (a02_ts_forecast, A02_SQL),
}
