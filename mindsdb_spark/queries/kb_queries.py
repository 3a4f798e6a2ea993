"""Oracle-checked KB lifecycle queries: chunking and retrieval evaluation.

k01 drives the KB insert preprocessing stage (chunk → content-hash id,
reference: mindsdb/interfaces/knowledge_base/controller.py:647-983) and k02
the KB evaluate metrics (hit@k / MRR / NDCG, reference:
mindsdb/interfaces/knowledge_base/evaluate.py:82-560) — both as pure
DataFrame plans DuckDB can replay in ANSI SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mindsdb_spark.catalog import load_table as _t
from mindsdb_spark.operators.kb import chunk_documents, retrieval_metrics
from mindsdb_spark.queries.probes import _roundc

col = F.col


# --- K01 chunking with content-hash ids -------------------------------------
def k01_kb_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, chunk_size=200, overlap=50)
    return chunks.select(
        "doc_id",
        "chunk_idx",
        "chunk_id",
        F.length("chunk_text").alias("clen"),
    )


K01_SQL = """
WITH c AS (
  SELECT doc_id, i - 1 AS chunk_idx,
         substr(text, (i - 1) * 150 + 1, 200) AS chunk_text
  FROM documents,
       UNNEST(generate_series(1,
         greatest(CAST(ceil((length(text) - 50) / 150.0) AS BIGINT), 1))) AS t(i)
)
SELECT doc_id, chunk_idx,
       md5(doc_id || ':' || chunk_idx || ':' || chunk_text) AS chunk_id,
       length(chunk_text) AS clen
FROM c ORDER BY doc_id, chunk_idx
"""


# --- K02 retrieval evaluation metrics ---------------------------------------
# Deterministic eval harness: queries are embeddings vec_id < 5, a candidate
# is relevant iff it shares the query's label, ranking is exact cosine top-10
# (self included at rank 1 — sim 1.0).
def k02_kb_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(col("vec_id") < 5).select(
        col("vec_id").alias("query_id"),
        col("embedding").alias("qe"),
        col("label").alias("qlabel"),
    )
    # Query side is tiny and broadcast; the corpus side streams — the same
    # shape scales to any corpus size with a bounded candidate state per
    # query via the rank window.
    pairs = emb.crossJoin(F.broadcast(q))
    dot = F.expr(
        "aggregate(zip_with(embedding, qe, (a, b) -> cast(a as double) * cast(b as double)),"
        " cast(0 as double), (acc, x) -> acc + x)"
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.expr(
            f"aggregate({c}, cast(0 as double), (acc, x) ->"
            " acc + cast(x as double) * cast(x as double))"
        )
    )
    scored = pairs.select(
        "query_id",
        "vec_id",
        (col("label") == col("qlabel")).cast("int").alias("rel"),
        (dot / (norm("embedding") * norm("qe"))).alias("sim"),
    )
    ranked = scored.withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy(col("sim").desc(), col("vec_id"))
        ),
    )
    m = retrieval_metrics(ranked, k=10)
    return m.select(
        "query_id",
        "hit",
        _roundc(col("mrr"), 6).alias("mrr"),
        _roundc(col("ndcg"), 6).alias("ndcg"),
    )


K02_SQL = """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qe, label AS qlabel
  FROM embeddings WHERE vec_id < 5
),
s AS (
  SELECT q.query_id, e.vec_id,
    CAST(e.label = q.qlabel AS INT) AS rel,
    list_sum(list_transform(generate_series(1, len(e.embedding)),
             i -> CAST(e.embedding[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE)))
    / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       * sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS sim
  FROM embeddings e, q
),
r AS (
  SELECT query_id, vec_id, rel,
         row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rnk
  FROM s
),
m AS (
  SELECT query_id, max(rel) AS hit,
         min(CASE WHEN rel = 1 THEN rnk END) AS first_rel,
         sum(rel / (ln(rnk + 1) / ln(2))) AS dcg,
         sum(rel) AS n_rel
  FROM r WHERE rnk <= 10 GROUP BY query_id
)
SELECT query_id, hit,
  floor(coalesce(1.0 / first_rel, 0) * 1000000 + 0.5) / 1000000 AS mrr,
  floor((CASE WHEN n_rel > 0 THEN dcg / list_sum(list_transform(
           generate_series(1, CAST(greatest(least(n_rel, 10), 1) AS BIGINT)),
           i -> 1.0 / (ln(i + 1) / ln(2))))
         ELSE 0 END) * 1000000 + 0.5) / 1000000 AS ndcg
FROM m ORDER BY query_id
"""


# --- K03 agent batch application ("table JOIN agent") ------------------------
# The mock completion is content-hash-deterministic, so unlike a live LLM it
# IS oracle-checkable; the plan shape (Arrow-batched pandas UDF stage) is the
# real agent path (reference: apply_predictor_step.py:36-53).
def k03_agent_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindsdb_spark.operators.agent import AgentSpec, agent_apply, mock_complete

    docs = _t(spark, sf_dir, "documents").filter(col("doc_id") < 50)
    agent = AgentSpec(name="helper", complete=mock_complete)
    res = agent_apply(docs.select("doc_id", col("text").alias("question")), agent, "question")
    return res.select("doc_id", "answer").orderBy("doc_id")


K03_SQL = """
SELECT doc_id, 'llm:' || substr(md5(text), 1, 12) AS answer
FROM documents WHERE doc_id < 50 ORDER BY doc_id
"""


# --- K04 KB end-to-end: chunk → embed → upsert → semantic search -------------
# Fully oracle-checked (round-2 VERDICT item 4): the md5 embedder is the one
# hash both engines share, so DuckDB replays every stage — chunking,
# per-lane embedding, cosine ranking, tie-breaks. The upsert re-inserts the
# first 10 docs' chunks; content-hash ids make that a value-level no-op, so
# the oracle needs no upsert stage — if Spark's upsert duplicated or dropped
# rows the top-k set would diverge and the hash would catch it.
def k04_kb_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindsdb_spark.operators.kb import chunk_documents, kb_upsert, md5_embed
    from mindsdb_spark.operators.vector import cosine_topk

    docs = _t(spark, sf_dir, "documents")
    store = md5_embed(chunk_documents(docs), dim=8).select("chunk_id", "doc_id", "embedding")
    # re-insert the first 10 docs: upsert must keep the row count stable
    incoming = md5_embed(chunk_documents(docs.filter(col("doc_id") < 10)), dim=8).select(
        "chunk_id", "doc_id", "embedding"
    )
    merged = kb_upsert(store, incoming, id_col="chunk_id")
    probe = [0.25, -0.5, 0.75, -0.25, 0.5, -0.75, 0.1, -0.1]
    hits = cosine_topk(merged, "embedding", probe, k=10, id_col="chunk_id")
    return hits.select("chunk_id", "doc_id").orderBy("chunk_id")


def _md5_lane_sql(text_sql: str, i: int) -> str:
    """DuckDB mirror of kb.md5_embed's lane i (same md5, mod, scale, FLOAT)."""
    return (
        f"CAST((('0x' || substr(md5({text_sql} || ':{i}'), 1, 8))::UBIGINT % 1000)"
        " / 500.0 - 1.0 AS FLOAT)"
    )


_K04_CHUNKS = """
c AS (
  SELECT doc_id, i - 1 AS chunk_idx,
         substr(text, (i - 1) * 150 + 1, 200) AS chunk_text
  FROM documents,
       UNNEST(generate_series(1,
         greatest(CAST(ceil((length(text) - 50) / 150.0) AS BIGINT), 1))) AS t(i)
),
ch AS (
  SELECT doc_id,
         md5(doc_id || ':' || chunk_idx || ':' || chunk_text) AS chunk_id,
         chunk_text
  FROM c
)
"""

_COS_SQL = (
    "list_sum(list_transform(generate_series(1, len(embedding)), "
    "i -> CAST(embedding[i] AS DOUBLE) * CAST(qe[i] AS DOUBLE))) "
    "/ (sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) "
    "* sqrt(list_sum(list_transform(qe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"
)


def _k04_sql() -> str:
    lanes = ", ".join(_md5_lane_sql("chunk_text", i) for i in range(8))
    return f"""
WITH {_K04_CHUNKS},
emb AS (SELECT doc_id, chunk_id, [{lanes}] AS embedding FROM ch),
q AS (SELECT [0.25, -0.5, 0.75, -0.25, 0.5, -0.75, 0.1, -0.1]::DOUBLE[] AS qe),
top AS (
  SELECT chunk_id, doc_id, {_COS_SQL} AS sim
  FROM emb, q ORDER BY sim DESC, chunk_id LIMIT 10
)
SELECT chunk_id, doc_id FROM top ORDER BY chunk_id
"""


K04_SQL = _k04_sql()


# --- K05 batched resumable KB insert through the SQL door --------------------
# CREATE KNOWLEDGE_BASE → INSERT INTO kb <select> USING batch_size = N →
# semantic search. The insert routes through streaming.incremental
# .batched_insert (keyset pagination + persisted cursor — the reference's
# partitioned/resumable KB insert, controller.py:647-983) with batch_size
# forcing multiple batches; the final search result is oracle-checked, so a
# batch skipped/duplicated by the pagination would change the top-k and
# fail the hash.
def k05_kb_batched_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindsdb_spark.engine import EngineSession

    sess = EngineSession(spark)
    sess.register_parquet_source("src", sf_dir)
    sess.sql("CREATE KNOWLEDGE_BASE kbi USING dim = 8, embedder = 'md5'")
    sess.sql(
        "INSERT INTO kbi SELECT doc_id, text FROM src_documents WHERE doc_id < 40 "
        "USING batch_size = 10"
    )
    return sess.sql(
        "SELECT doc_id, FLOOR(distance * 1000000 + 0.5) / 1000000 AS distance "
        "FROM kbi WHERE content = 'spark join fast' "
        "ORDER BY distance, doc_id LIMIT 10"
    )


def _k05_sql() -> str:
    lanes = ", ".join(_md5_lane_sql("chunk_text", i) for i in range(8))
    q_lanes = ", ".join(_md5_lane_sql("'spark join fast'", i) for i in range(8))
    return f"""
WITH {_K04_CHUNKS},
emb AS (SELECT doc_id, chunk_id, [{lanes}] AS embedding FROM ch WHERE doc_id < 40),
q AS (SELECT [{q_lanes}] AS qe),
top AS (
  SELECT chunk_id, doc_id, 1.0 - ({_COS_SQL}) AS dist
  FROM emb, q ORDER BY dist, chunk_id LIMIT 10
)
SELECT doc_id, floor(dist * 1000000 + 0.5) / 1000000 AS distance
FROM top ORDER BY distance, doc_id
"""


K05_SQL = _k05_sql()


# --- K06 RAG: KB-backed agent (retrieve → prompt → complete) -----------------
# The reference's agents take `data.knowledge_bases` and retrieve context
# before the LLM call (agents_controller.py:200-231). One Catalyst plan per
# question batch: broadcast question embeddings × streaming chunk store, rank
# window bounds state to k chunks/question, ordered context via array
# functions, completion in an Arrow-batched pandas UDF. The md5 embedder +
# content-hash mock LLM make every stage — retrieval ranking, prompt
# assembly, completion — reproducible in DuckDB.
def k06_agent_rag(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import partial

    from mindsdb_spark.operators.agent import AgentSpec, agent_apply, mock_complete, rag_prompts
    from mindsdb_spark.operators.kb import md5_embed

    docs = _t(spark, sf_dir, "documents")
    store = md5_embed(
        docs.select(
            col("doc_id"),
            col("text").alias("chunk_text"),
            F.md5(F.concat_ws(":", col("doc_id"), F.lit("0"), col("text"))).alias("chunk_id"),
        ),
        dim=8,
    )
    questions = docs.filter(col("doc_id") < 5).select(
        col("doc_id").alias("qid"), F.substring("text", 1, 40).alias("question")
    )
    prompts = rag_prompts(questions, store, partial(md5_embed, dim=8), k=3)
    agent = AgentSpec(name="rag", complete=mock_complete)
    return (
        agent_apply(prompts, agent, question_col="prompt")
        .select("qid", "answer")
        .orderBy("qid")
    )


def _k06_sql() -> str:
    store_lanes = ", ".join(_md5_lane_sql("text", i) for i in range(8))
    q_lanes = ", ".join(_md5_lane_sql("question", i) for i in range(8))
    return f"""
WITH store AS (
  SELECT doc_id, text AS chunk_text,
         md5(doc_id || ':0:' || text) AS chunk_id,
         [{store_lanes}] AS embedding
  FROM documents
),
qs AS (
  SELECT doc_id AS qid, substr(text, 1, 40) AS question,
         [{q_lanes}] AS qe
  FROM (SELECT doc_id, text, substr(text, 1, 40) AS question FROM documents
        WHERE doc_id < 5)
),
scored AS (
  SELECT q.qid, q.question, s.chunk_id, s.chunk_text,
         1.0 - ({_COS_SQL.replace("embedding", "s.embedding").replace("qe", "q.qe")}) AS dist
  FROM store s, qs q
),
ranked AS (
  SELECT qid, question, chunk_text,
         row_number() OVER (PARTITION BY qid ORDER BY dist, chunk_id) AS rnk
  FROM scored
),
ctx AS (
  SELECT qid, question, string_agg(chunk_text, chr(10) ORDER BY rnk) AS c
  FROM ranked WHERE rnk <= 3 GROUP BY qid, question
)
SELECT qid,
       'llm:' || substr(md5('Context:' || chr(10) || c ||
                            chr(10) || chr(10) || 'Question: ' || question), 1, 12) AS answer
FROM ctx ORDER BY qid
"""


K06_SQL = _k06_sql()


# --- K07 chatbot respond tick ------------------------------------------------
# One poll tick of the reference's chatbot task (chatbot_task.py + memory.py):
# every message gets answered with the preceding memory_k turns of ITS chat
# as context — a frame window over the conversation, one agent_apply stage.
# The md5 mock transport lets DuckDB replay the exact prompt construction.
def k07_chatbot_tick(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindsdb_spark.operators.agent import AgentSpec, mock_complete
    from mindsdb_spark.operators.chatbot import ChatbotSpec, chatbot_respond

    ev = _t(spark, sf_dir, "events").filter(col("user_id") < 20)
    msgs = ev.select(
        col("user_id").alias("chat_id"), col("ts"), col("event_type").alias("text")
    )
    agent = AgentSpec(name="helper", complete=mock_complete)
    bot = ChatbotSpec(name="support", agent="helper", messages_table="msgs", memory_k=2)
    return chatbot_respond(msgs, agent, bot).orderBy("chat_id", "ts", "question", "answer")


K07_SQL = """
WITH msgs AS (SELECT user_id AS chat_id, ts, event_type AS text
              FROM events WHERE user_id < 20),
p AS (SELECT chat_id, ts, text,
             string_agg(text, chr(10)) OVER (
               PARTITION BY chat_id ORDER BY ts, text
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS prompt
      FROM msgs)
SELECT chat_id, ts, text AS question,
       'llm:' || substr(md5(prompt), 1, 12) AS answer
FROM p ORDER BY chat_id, ts, question, answer
"""


# --- S08 KB metadata filter through the SQL door -----------------------------
# Non-content INSERT columns (here `lang`) ride the chunk rows as metadata;
# `WHERE content = ... AND lang = 'en'` narrows the candidate space BEFORE
# top-k (reference: vectordatabase_handler.py:103-176 FilterConditions) and
# the hit rows return the metadata. md5 embedder → DuckDB replays everything.
def s08_kb_metadata_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindsdb_spark.engine import EngineSession

    sess = EngineSession(spark)
    sess.register_parquet_source("src", sf_dir)
    sess.sql("CREATE KNOWLEDGE_BASE kbm USING dim = 8, embedder = 'md5'")
    sess.sql(
        "INSERT INTO kbm SELECT doc_id, text, lang FROM src_documents WHERE doc_id < 60"
    )
    return sess.sql(
        "SELECT doc_id, lang, FLOOR(distance * 1000000 + 0.5) / 1000000 AS distance "
        "FROM kbm WHERE content = 'spark join fast' AND lang = 'en' "
        "ORDER BY distance, doc_id LIMIT 10"
    )


def _s08_sql() -> str:
    lanes = ", ".join(_md5_lane_sql("chunk_text", i) for i in range(8))
    q_lanes = ", ".join(_md5_lane_sql("'spark join fast'", i) for i in range(8))
    return f"""
WITH c AS (
  SELECT doc_id, lang, i - 1 AS chunk_idx,
         substr(text, (i - 1) * 150 + 1, 200) AS chunk_text
  FROM documents,
       UNNEST(generate_series(1,
         greatest(CAST(ceil((length(text) - 50) / 150.0) AS BIGINT), 1))) AS t(i)
  WHERE doc_id < 60
),
ch AS (
  SELECT doc_id, lang,
         md5(doc_id || ':' || chunk_idx || ':' || chunk_text) AS chunk_id,
         chunk_text
  FROM c
),
emb AS (SELECT doc_id, lang, chunk_id, [{lanes}] AS embedding
        FROM ch WHERE lang = 'en'),
q AS (SELECT [{q_lanes}] AS qe),
top AS (
  SELECT doc_id, lang, chunk_id, 1.0 - ({_COS_SQL}) AS dist
  FROM emb, q ORDER BY dist, chunk_id LIMIT 10
)
SELECT doc_id, lang, floor(dist * 1000000 + 0.5) / 1000000 AS distance
FROM top ORDER BY distance, doc_id
"""


S08_SQL = _s08_sql()


# --- K09 KB evaluate with LLM-generated test set -----------------------------
# `EVALUATE KNOWLEDGE_BASE kb USING generate = true` (round-3 VERDICT item
# 4): sample chunks deterministically, "generate" the QA pair via the mock
# LLM transport, score retrieval by doc id (EvaluateDocID: doc_found /
# doc_position / top-10 accuracy; reference evaluate.py:117-186,468-560).
# The oracle replays chunking, md5 embedding, the md5-ordered sample, the
# mock completions (answers_digest pins them), the per-question top-20
# cosine ranking and the summary row.
def k09_kb_evaluate_generated(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindsdb_spark.engine import EngineSession

    sess = EngineSession(spark)
    sess.register_parquet_source("src", sf_dir)
    sess.sql("CREATE KNOWLEDGE_BASE kbe USING dim = 8, embedder = 'md5'")
    sess.sql("INSERT INTO kbe SELECT doc_id, text FROM src_documents WHERE doc_id < 60")
    res = sess.sql("EVALUATE KNOWLEDGE_BASE kbe USING generate = true, count = 20, k = 20")
    return res.select(
        "name",
        "total_questions",
        "total_found",
        "accurate_in_top_10",
        F.expr(
            "floor(avg_first_position * 1000000 + 0.5) / 1000000"
        ).alias("avg_first_position"),
        F.expr(
            "floor(cumulative_recall_at_10 * 1000000 + 0.5) / 1000000"
        ).alias("cumulative_recall_at_10"),
        "answers_digest",
    )


def _k09_sql() -> str:
    lanes = ", ".join(_md5_lane_sql("chunk_text", i) for i in range(8))
    q_lanes = ", ".join(_md5_lane_sql("question", i) for i in range(8))
    return f"""
WITH {_K04_CHUNKS},
emb AS (SELECT doc_id, chunk_id, chunk_text, [{lanes}] AS embedding
        FROM ch WHERE doc_id < 60),
samp AS (SELECT chunk_id AS qid, doc_id AS rel_doc_id, chunk_text AS question
         FROM emb ORDER BY md5(chunk_id || ':sample') LIMIT 20),
q AS (SELECT qid, rel_doc_id, question,
             'llm:' || substr(md5(question), 1, 12) AS answer,
             [{q_lanes}] AS qe
      FROM samp),
ranked AS (
  SELECT qid, rel_doc_id, doc_id,
         row_number() OVER (
           PARTITION BY qid ORDER BY ({_COS_SQL}) DESC, chunk_id
         ) AS rnk
  FROM emb, q
),
per_q AS (
  SELECT qid,
         min(CASE WHEN doc_id = rel_doc_id THEN rnk - 1 END) AS first_pos
  FROM ranked WHERE rnk <= 20 GROUP BY qid
),
m AS (
  SELECT count(*) AS total_questions,
         CAST(sum(CASE WHEN first_pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS total_found,
         CAST(sum(CASE WHEN first_pos < 10 THEN 1 ELSE 0 END) AS BIGINT)
           AS accurate_in_top_10,
         avg(first_pos) AS avg_first_position
  FROM per_q
),
d AS (SELECT md5(string_agg(answer, '|' ORDER BY answer)) AS answers_digest FROM q)
SELECT 'kbe' AS name, total_questions, total_found, accurate_in_top_10,
       floor(avg_first_position * 1000000 + 0.5) / 1000000 AS avg_first_position,
       floor(accurate_in_top_10 * 1.0 / total_questions * 1000000 + 0.5) / 1000000
         AS cumulative_recall_at_10,
       answers_digest
FROM m, d
"""


K09_SQL = _k09_sql()


# --- K10 KB evaluate, llm_relevancy version ----------------------------------
# `EVALUATE ... USING generate = true, version = 'llm_relevancy'` — the
# reference's EvaluateRerank (evaluate.py:271-466): per question, top-10 by
# cosine, every retrieved chunk scored by the (mock) relevance model,
# binary cut at 0.5, then avg relevancy / first-relevant position / MRR /
# hit@k / precision@k / entropy / nDCG averaged over queries. The oracle
# replays retrieval, the md5-mock scorer, and every metric as list math.
def k10_kb_evaluate_relevancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindsdb_spark.engine import EngineSession

    sess = EngineSession(spark)
    sess.register_parquet_source("src", sf_dir)
    sess.sql("CREATE KNOWLEDGE_BASE kbr USING dim = 8, embedder = 'md5'")
    sess.sql("INSERT INTO kbr SELECT doc_id, text FROM src_documents WHERE doc_id < 60")
    return sess.sql(
        "EVALUATE KNOWLEDGE_BASE kbr USING generate = true, count = 20, "
        "version = 'llm_relevancy'"
    )


def _k10_sql() -> str:
    lanes = ", ".join(_md5_lane_sql("chunk_text", i) for i in range(8))
    q_lanes = ", ".join(_md5_lane_sql("question", i) for i in range(8))
    dcg = (
        "list_sum(list_transform(generate_series(1, len({0})),"
        " i -> {0}[i] / log2(i + 1)))"
    )
    return f"""
WITH {_K04_CHUNKS},
emb AS (SELECT doc_id, chunk_id, chunk_text, [{lanes}] AS embedding
        FROM ch WHERE doc_id < 60),
samp AS (SELECT chunk_id AS qid, doc_id AS rel_doc_id, chunk_text AS question
         FROM emb ORDER BY md5(chunk_id || ':sample') LIMIT 20),
q AS (SELECT qid, question,
             'llm:' || substr(md5(question), 1, 12) AS answer,
             [{q_lanes}] AS qe
      FROM samp),
ranked AS (
  SELECT qid, chunk_text,
         row_number() OVER (
           PARTITION BY qid ORDER BY ({_COS_SQL}) DESC, chunk_id
         ) AS rnk
  FROM emb, q
),
scored AS (
  SELECT qid, rnk,
         ('0x' || substr(md5(chunk_text), 1, 4))::UBIGINT / 65535.0 AS score
  FROM ranked WHERE rnk <= 10
),
per_q AS (
  SELECT qid,
         avg(score) AS q_rel,
         min(CASE WHEN score >= 0.5 THEN rnk - 1 END) AS first_pos,
         max(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END) AS hit_k,
         sum(CASE WHEN score >= 0.5 THEN 1.0 ELSE 0 END) / count(*) AS prec_k,
         list(score ORDER BY rnk) AS sc
  FROM scored GROUP BY qid
),
per_q2 AS (
  SELECT *,
         coalesce({dcg.format("sc")}
                  / {dcg.format("list_reverse_sort(sc)")}, 0.0) AS ndcg,
         list_sum(list_transform(
           list_filter(sc, x -> x > 0),
           x -> -(x / list_sum(sc)) * ln(x / list_sum(sc)))) AS entropy
  FROM per_q
),
m AS (
  SELECT count(*) AS total_questions,
         floor(avg(q_rel) * 1000000 + 0.5) / 1000000 AS avg_relevancy,
         floor(avg(first_pos) * 1000000 + 0.5) / 1000000
           AS avg_first_relevant_position,
         floor(avg(coalesce(1.0 / (first_pos + 1), 0.0)) * 1000000 + 0.5) / 1000000
           AS mean_mrr,
         floor(avg(hit_k) * 1000000 + 0.5) / 1000000 AS hit_at_k,
         floor(avg(prec_k) * 1000000 + 0.5) / 1000000 AS bin_precision_at_k,
         floor(avg(entropy) * 1000000 + 0.5) / 1000000 AS avg_entropy,
         floor(avg(ndcg) * 1000000 + 0.5) / 1000000 AS avg_ndcg
  FROM per_q2
),
d AS (SELECT md5(string_agg(answer, '|' ORDER BY answer)) AS answers_digest FROM q)
SELECT 'kbr' AS name, total_questions, avg_relevancy,
       avg_first_relevant_position, mean_mrr, hit_at_k, bin_precision_at_k,
       avg_entropy, avg_ndcg, answers_digest
FROM m, d
"""


K10_SQL = _k10_sql()


# --- S09 idf-weighted KB retrieval (store-side frozen statistics) ------------
# `CREATE KNOWLEDGE_BASE ... USING embedder = 'hash_tfidf'` (round-4 verdict
# item 5): the first INSERT fits per-bucket idf weights over the full chunk
# corpus and FREEZES them (engine._kb_insert → kb.fit_idf_weights); both the
# stored chunk vectors and every query embedding reuse the frozen weights
# (engine._kb_embed_fn → kb.hash_embed_idf). The oracle refits the identical
# statistics in DuckDB and replays the exact computation order — TF fold,
# L2-normalize, idf-weight, re-normalize, float32 quantize — so the top-10
# distances hash-match end-to-end.
def s09_kb_tfidf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindsdb_spark.engine import EngineSession

    sess = EngineSession(spark)
    sess.register_parquet_source("src", sf_dir)
    sess.sql("CREATE KNOWLEDGE_BASE kbw USING dim = 8, embedder = 'hash_tfidf'")
    sess.sql(
        "INSERT INTO kbw SELECT doc_id, text FROM src_documents WHERE doc_id < 60"
    )
    return sess.sql(
        "SELECT doc_id, FLOOR(distance * 1000000 + 0.5) / 1000000 AS distance "
        "FROM kbw WHERE content = 'spark join fast' ORDER BY distance, doc_id "
        "LIMIT 10"
    )


def _s09_sql() -> str:
    def tf_lanes(text_sql: str) -> str:
        bks = (
            f"list_transform(string_split_regex(lower(trim({text_sql})), '\\s+'), "
            "t -> ('0x' || substr(md5(t), 1, 8))::UBIGINT % 8)"
        )
        return (
            "list_transform(generate_series(0, 7), i -> "
            f"CAST(len(list_filter({bks}, b -> b = i)) AS DOUBLE))"
        )

    l2 = "greatest(sqrt(list_sum(list_transform({0}, y -> y * y))), 1e-12)"
    return f"""
WITH c AS (
  SELECT doc_id, i - 1 AS chunk_idx,
         substr(text, (i - 1) * 150 + 1, 200) AS chunk_text
  FROM documents,
       UNNEST(generate_series(1,
         greatest(CAST(ceil((length(text) - 50) / 150.0) AS BIGINT), 1))) AS t(i)
  WHERE doc_id < 60
),
ch AS (
  SELECT doc_id,
         md5(doc_id || ':' || chunk_idx || ':' || chunk_text) AS chunk_id,
         chunk_text
  FROM c
),
tf AS (SELECT doc_id, chunk_id, {tf_lanes('chunk_text')} AS tfv FROM ch),
tfn AS (SELECT doc_id, chunk_id,
               list_transform(tfv, x -> x / {l2.format('tfv')}) AS tfnv,
               tfv
        FROM tf),
lanes AS (
  SELECT i,
         CAST(count(*) FILTER (WHERE tfv[i + 1] > 0) AS DOUBLE) AS dfc,
         CAST(count(*) AS DOUBLE) AS n
  FROM tf, UNNEST(generate_series(0, 7)) AS u(i)
  GROUP BY i
),
w AS (SELECT list(ln(n / (1 + dfc)) ORDER BY i) AS wv FROM lanes),
emb AS (
  SELECT doc_id, chunk_id,
         list_transform(wv2, x -> CAST(x / {l2.format('wv2')} AS FLOAT)) AS embedding
  FROM (SELECT doc_id, chunk_id,
               list_transform(generate_series(1, 8), i -> tfnv[i] * wv[i]) AS wv2
        FROM tfn, w)
),
qtf AS (SELECT {tf_lanes("'spark join fast'")} AS tfv),
qtfn AS (SELECT list_transform(tfv, x -> x / {l2.format('tfv')}) AS tfnv FROM qtf),
q AS (
  SELECT list_transform(wv2, x -> CAST(x / {l2.format('wv2')} AS FLOAT)) AS qe
  FROM (SELECT list_transform(generate_series(1, 8), i -> tfnv[i] * wv[i]) AS wv2
        FROM qtfn, w)
),
top AS (
  SELECT doc_id, chunk_id, 1.0 - ({_COS_SQL}) AS dist
  FROM emb, q ORDER BY dist, chunk_id LIMIT 10
)
SELECT doc_id, floor(dist * 1000000 + 0.5) / 1000000 AS distance
FROM top ORDER BY distance, doc_id
"""


S09_SQL = _s09_sql()


# --- K11 partition-pruned IVF index through the KB SQL door -------------------
# CREATE INDEX ON KNOWLEDGE_BASE persists the chunk store PARTITIONED BY
# nearest-centroid cell (vector.py:ivf_write_partitioned — the layout that
# won the sf100 ANN decade, and the KB's only index: `layout =
# 'partitioned'` below just names it) and the KB select routes through
# ivf_read_probe: probe cells are picked driver-side from the tiny centroid
# list and the scan reads ONLY those partition directories (PartitionFilters
# — asserted in tests/test_kb_sql.py). Probing every cell (the default) is
# EXACT, so the brute-force top-k oracle must hash-match; narrowed n_probes
# trades recall for scan fraction at 100 TB.
def k11_kb_indexed_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mindsdb_spark.engine import EngineSession

    sess = EngineSession(spark)
    sess.register_parquet_source("src", sf_dir)
    sess.sql("CREATE KNOWLEDGE_BASE kbx USING dim = 8, embedder = 'md5'")
    sess.sql(
        "INSERT INTO kbx SELECT doc_id, text FROM src_documents WHERE doc_id < 80"
    )
    sess.sql(
        "CREATE INDEX ON KNOWLEDGE_BASE kbx "
        "USING layout = 'partitioned', n_centroids = 4"
    )
    return sess.sql(
        "SELECT doc_id, FLOOR(distance * 1000000 + 0.5) / 1000000 AS distance "
        "FROM kbx WHERE content = 'stream error rate' "
        "ORDER BY distance, doc_id LIMIT 10"
    )


def _k11_sql() -> str:
    lanes = ", ".join(_md5_lane_sql("chunk_text", i) for i in range(8))
    q_lanes = ", ".join(_md5_lane_sql("'stream error rate'", i) for i in range(8))
    return f"""
WITH {_K04_CHUNKS},
emb AS (SELECT doc_id, chunk_id, [{lanes}] AS embedding FROM ch WHERE doc_id < 80),
q AS (SELECT [{q_lanes}] AS qe),
top AS (
  SELECT chunk_id, doc_id, 1.0 - ({_COS_SQL}) AS dist
  FROM emb, q ORDER BY dist, chunk_id LIMIT 10
)
SELECT doc_id, floor(dist * 1000000 + 0.5) / 1000000 AS distance
FROM top ORDER BY distance, doc_id
"""


K11_SQL = _k11_sql()


KB_QUERIES = {
    "k01_kb_chunks": (k01_kb_chunks, K01_SQL),
    "k02_kb_eval": (k02_kb_eval, K02_SQL),
    "k03_agent_batch": (k03_agent_batch, K03_SQL),
    "k04_kb_e2e": (k04_kb_e2e, K04_SQL),
    "k05_kb_batched_insert": (k05_kb_batched_insert, K05_SQL),
    "k06_agent_rag": (k06_agent_rag, K06_SQL),
    "k07_chatbot_tick": (k07_chatbot_tick, K07_SQL),
    "s08_kb_metadata_sql": (s08_kb_metadata_sql, S08_SQL),
    "k09_kb_evaluate_generated": (k09_kb_evaluate_generated, K09_SQL),
    "k10_kb_evaluate_relevancy": (k10_kb_evaluate_relevancy, K10_SQL),
    "s09_kb_tfidf_retrieval": (s09_kb_tfidf_retrieval, S09_SQL),
    "k11_kb_indexed_search": (k11_kb_indexed_search, K11_SQL),
}
