"""Native-query passthrough (`FROM src (raw sql)`, reference NativeQuery —
query_planner.py:825-831) and the KB SQL lifecycle
(CREATE KNOWLEDGE_BASE / INSERT INTO kb / search / DROP —
controller.py:647-983)."""

import pytest

from mindsdb_spark.engine import EngineSession
from mindsdb_spark.sources.duckdb_source import DuckDBSource


@pytest.fixture(scope="module")
def sess(spark, sf_dir):
    s = EngineSession(spark)
    s.register_parquet_source("tpch", sf_dir, tables=["documents", "orders"])
    s._duck = DuckDBSource.from_parquet_dir(spark, sf_dir, tables=["nation", "region"])
    s.register_native_source("duck", s._duck)
    return s


def test_native_query_passthrough(sess):
    df = sess.sql(
        "SELECT n_name, c FROM duck "
        "(SELECT n_name, n_nationkey % 3 AS c FROM nation WHERE n_nationkey < 10) t "
        "WHERE c > 0 ORDER BY n_name"
    )
    rows = df.collect()
    assert len(rows) > 0
    assert all(r["c"] > 0 for r in rows)


def test_native_query_joined_with_spark_table(sess):
    # the native result participates in a normal Catalyst join
    df = sess.sql(
        "SELECT COUNT(*) AS cnt FROM tpch_orders o JOIN duck "
        "(SELECT n_nationkey FROM nation) n ON o.o_custkey % 5 = n.n_nationkey"
    )
    assert df.collect()[0][0] > 0


def test_kb_sql_lifecycle(sess):
    sess.sql("CREATE KNOWLEDGE_BASE kbtest USING dim = 8")
    names = [r[0] for r in sess.sql("SHOW KNOWLEDGE_BASES").collect()]
    assert "kbtest" in names

    inserted = sess.sql(
        "INSERT INTO kbtest SELECT doc_id, text FROM tpch_documents WHERE doc_id < 50"
    ).collect()[0][0]
    assert inserted > 0

    hits = sess.sql("SELECT * FROM kbtest WHERE content = 'spark engine' LIMIT 5").collect()
    assert 0 < len(hits) <= 5
    assert {"chunk_id", "doc_id", "content", "distance"} <= set(hits[0].asDict())

    # content-hash upsert: re-inserting identical docs does not grow the store
    before = sess._kbs["kbtest"]["store"].count()
    sess.sql("INSERT INTO kbtest SELECT doc_id, text FROM tpch_documents WHERE doc_id < 50")
    assert sess._kbs["kbtest"]["store"].count() == before

    sess.sql("DROP KNOWLEDGE_BASE kbtest")
    assert "kbtest" not in [r[0] for r in sess.sql("SHOW KNOWLEDGE_BASES").collect()]


def test_kb_insert_batched_resume_after_failure(spark, sf_dir, tmp_path, monkeypatch):
    """Keyset-resumable KB insert (reference: controller.py:647-983): a
    crash mid-insert persists the cursor at the last completed batch, and a
    rerun of the SAME statement resumes there — completed batches are not
    re-embedded, no chunk is duplicated or lost."""
    import json
    import os

    import mindsdb_spark.operators.kb as kbmod

    sess = EngineSession(spark, state_dir=str(tmp_path))
    sess.register_parquet_source("tpch", sf_dir, tables=["documents"])
    sess.sql("CREATE KNOWLEDGE_BASE kbr USING dim = 8, embedder = 'md5'")
    insert_sql = (
        "INSERT INTO kbr SELECT doc_id, text FROM tpch_documents "
        "WHERE doc_id < 40 USING batch_size = 10"
    )

    real = kbmod.md5_embed
    calls = {"n": 0}

    def flaky(df, text_col="chunk_text", dim=8):
        calls["n"] += 1
        if calls["n"] == 3:  # die embedding the third batch
            raise RuntimeError("embedder crashed")
        return real(df, text_col=text_col, dim=dim)

    monkeypatch.setattr(kbmod, "md5_embed", flaky)
    with pytest.raises(RuntimeError, match="embedder crashed"):
        sess.sql(insert_sql)

    cursor_path = os.path.join(str(tmp_path), "kb_insert_kbr", "insert_cursor.json")
    assert os.path.exists(cursor_path)
    with open(cursor_path) as f:
        assert json.load(f)["cursor"] == 19  # two completed batches of 10 docs

    # resume: the rerun starts AFTER the cursor — the embedder runs only for
    # the remaining batches (doc_ids 20..39 → 2 more batches)
    monkeypatch.setattr(kbmod, "md5_embed", real)
    calls_before = calls["n"]
    sess.sql(insert_sql)
    store = sess._kbs["kbr"]["store"]
    assert store.select("doc_id").distinct().count() == 40
    assert store.count() == store.select("chunk_id").distinct().count()
    assert calls["n"] == calls_before  # flaky no longer patched; sanity only
    # a successful insert clears the cursor so the next statement is fresh
    assert not os.path.exists(cursor_path)
    sess.sql("DROP KNOWLEDGE_BASE kbr")


def test_kb_delete_and_update_sql(sess):
    """DELETE FROM <kb> / UPDATE <kb> route to the chunk store the way the
    reference dispatches them to the vector store (controller.py:604-637);
    updates that touch chunk_text re-embed with the KB's embedder."""
    sess.sql("CREATE KNOWLEDGE_BASE kbdu USING dim = 8, embedder = 'md5'")
    sess.sql("INSERT INTO kbdu SELECT doc_id, text FROM tpch_documents WHERE doc_id < 20")
    store = sess._kbs["kbdu"]["store"]
    before = store.count()
    n_low = store.filter("doc_id < 5").count()
    assert before > 0 and n_low > 0

    deleted = sess.sql("DELETE FROM kbdu WHERE doc_id < 5").collect()[0][0]
    assert deleted == n_low
    store = sess._kbs["kbdu"]["store"]
    assert store.count() == before - n_low
    assert store.filter("doc_id < 5").count() == 0
    # NULL-safe: a NULL predicate deletes nothing
    assert sess.sql("DELETE FROM kbdu WHERE NULL").collect()[0][0] == 0

    # update one doc's chunks: text replaced AND embedding re-derived
    old = {
        r["chunk_id"]: (r["chunk_text"], list(r["embedding"]))
        for r in sess._kbs["kbdu"]["store"].filter("doc_id = 7").collect()
    }
    updated = sess.sql(
        "UPDATE kbdu SET chunk_text = 'replaced text' WHERE doc_id = 7"
    ).collect()[0][0]
    assert updated == len(old) > 0
    new = {
        r["chunk_id"]: (r["chunk_text"], list(r["embedding"]))
        for r in sess._kbs["kbdu"]["store"].filter("doc_id = 7").collect()
    }
    assert set(new) == set(old)  # ids stable
    for cid in new:
        assert new[cid][0] == "replaced text"
        assert new[cid][1] != old[cid][1]  # re-embedded
    # untouched rows keep their embeddings
    other = sess._kbs["kbdu"]["store"].filter("doc_id = 8").head()
    assert other is not None and other["chunk_text"] != "replaced text"
    sess.sql("DROP KNOWLEDGE_BASE kbdu")


def test_create_agent_and_ask(sess):
    sess.sql("CREATE AGENT helper USING model = 'mock-llm'")
    assert "helper" in [r[0] for r in sess.sql("SHOW AGENTS").collect()]
    rows = sess.sql("SELECT answer FROM helper WHERE question = 'hi there'").collect()
    assert len(rows) == 1 and rows[0]["answer"].startswith("llm:")
    sess.sql("DROP AGENT helper")
    assert "helper" not in [r[0] for r in sess.sql("SHOW AGENTS").collect()]


def test_kb_metadata_columns(spark, sf_dir):
    """Non-content INSERT columns become chunk metadata: stored on the
    chunk rows, usable as search pre-filters, returned with hits
    (reference: controller.py:685-700 _adapt_column_names routes extra
    columns into vector-store metadata; filters narrow BEFORE top-k)."""
    sess = EngineSession(spark)
    sess.register_parquet_source("tpch", sf_dir, tables=["documents"])
    sess.sql("CREATE KNOWLEDGE_BASE kbmeta USING dim = 8, embedder = 'md5'")
    sess.sql(
        "INSERT INTO kbmeta SELECT doc_id, text, lang, source "
        "FROM tpch_documents WHERE doc_id < 40"
    )
    store = sess._kbs["kbmeta"]["store"]
    assert {"lang", "source"} <= set(store.columns)

    langs = {r[0] for r in store.select("lang").distinct().collect()}
    assert len(langs) > 1, "fixture needs multiple langs for the filter test"
    pick = sorted(langs)[0]
    hits = sess.sql(
        f"SELECT * FROM kbmeta WHERE content = 'spark join' AND lang = '{pick}' LIMIT 5"
    ).collect()
    assert 0 < len(hits) <= 5
    # metadata returned with hits AND the filter narrowed the candidates
    assert all(h["lang"] == pick for h in hits)
    assert "source" in hits[0].asDict()

    # upsert with a NEW metadata column: schema evolves, old rows get NULLs
    sess.sql(
        "INSERT INTO kbmeta SELECT doc_id, text, lang, source, n_chars "
        "FROM tpch_documents WHERE doc_id >= 40 AND doc_id < 45"
    )
    store = sess._kbs["kbmeta"]["store"]
    assert "n_chars" in store.columns
    assert store.filter("doc_id < 40 AND n_chars IS NOT NULL").count() == 0
    assert store.filter("doc_id >= 40 AND n_chars IS NULL").count() == 0
    sess.sql("DROP KNOWLEDGE_BASE kbmeta")


def test_describe_knowledge_base(spark, sf_dir):
    sess = EngineSession(spark)
    sess.register_parquet_source("tpch", sf_dir, tables=["documents"])
    sess.sql("CREATE KNOWLEDGE_BASE kbd USING dim = 8, embedder = 'md5'")
    sess.sql(
        "INSERT INTO kbd SELECT doc_id, text, lang FROM tpch_documents WHERE doc_id < 10"
    )
    row = sess.sql("DESCRIBE KNOWLEDGE_BASE kbd").collect()[0]
    assert row["name"] == "kbd" and row["dim"] == 8 and row["embedder"] == "md5"
    assert row["chunks_estimate"] >= 1 and row["has_index"] is False
    assert row["index_layout"] == ""
    assert "lang" in row["metadata_columns"]
    # index layout surfaces through DESCRIBE and information_schema (round-7)
    sess.sql("CREATE INDEX ON KNOWLEDGE_BASE kbd USING layout = 'partitioned', n_centroids = 2")
    row2 = sess.sql("DESCRIBE KNOWLEDGE_BASE kbd").collect()[0]
    assert row2["has_index"] is True and row2["index_layout"] == "partitioned"
    info = sess.sql(
        "SELECT index_layout FROM information_schema.knowledge_bases WHERE name = 'kbd'"
    ).collect()[0]
    assert info["index_layout"] == "partitioned"
    # a mutation invalidates the snapshot: layout degrades to inplan
    sess.sql("INSERT INTO kbd SELECT doc_id, text, lang FROM tpch_documents "
             "WHERE doc_id >= 10 AND doc_id < 12")
    row3 = sess.sql("DESCRIBE KNOWLEDGE_BASE kbd").collect()[0]
    assert row3["index_layout"] == "inplan" and row3["has_index"] is True
    with pytest.raises(KeyError):
        sess.sql("DESCRIBE KNOWLEDGE_BASE nope")
    sess.sql("DROP KNOWLEDGE_BASE kbd")


def test_kb_backed_agent_rag(spark, sf_dir):
    """CREATE AGENT ... USING knowledge_bases = 'kb' retrieves top-k chunks
    as context before completion (reference: agents data sources,
    agents_controller.py:200-231). The mock transport hashes the full
    prompt, so the answer proves the retrieved context reached the LLM."""
    import hashlib

    sess = EngineSession(spark)
    sess.register_parquet_source("tpch", sf_dir, tables=["documents"])
    sess.sql("CREATE KNOWLEDGE_BASE ragkb USING dim = 8, embedder = 'md5'")
    sess.sql("INSERT INTO ragkb SELECT doc_id, text FROM tpch_documents WHERE doc_id < 30")
    with pytest.raises(KeyError):
        sess.sql("CREATE AGENT bad_rag USING knowledge_bases = 'missing_kb'")
    sess.sql(
        "CREATE AGENT rag_helper USING model = 'mock-llm', "
        "knowledge_bases = 'ragkb', retrieval_k = 2"
    )
    q = "what is spark"
    row = sess.sql(f"SELECT answer FROM rag_helper WHERE question = '{q}'").collect()[0]
    assert row["answer"].startswith("llm:")
    # reproduce the expected prompt: top-2 chunks by cosine, ties by chunk_id
    hits = sess._kb_search("ragkb", q, k=2).collect()
    ctx = "\n".join(h["content"] for h in hits)
    prompt = f"Context:\n{ctx}\n\nQuestion: {q}"
    assert row["answer"] == "llm:" + hashlib.md5(prompt.encode()).hexdigest()[:12]
    # a plain agent (no KBs) answers from the bare question
    sess.sql("CREATE AGENT plain_helper USING model = 'mock-llm'")
    plain = sess.sql(f"SELECT answer FROM plain_helper WHERE question = '{q}'").collect()[0]
    assert plain["answer"] == "llm:" + hashlib.md5(q.encode()).hexdigest()[:12]
    assert plain["answer"] != row["answer"]
    sess.sql("DROP AGENT rag_helper")
    sess.sql("DROP KNOWLEDGE_BASE ragkb")


def test_multi_kb_agent_rejects_mixed_idf_spaces(spark, sf_dir):
    """Two hash_tfidf KBs with different corpora freeze DIFFERENT idf
    weights; embedder name + dim alone don't make their vectors
    cosine-comparable, so a multi-KB agent over them must error instead of
    silently ranking across incompatible embedding spaces."""
    s = EngineSession(spark)
    s.register_parquet_source("tpch", sf_dir, tables=["documents"])
    s.sql("CREATE KNOWLEDGE_BASE mixa USING dim = 8, embedder = 'hash_tfidf'")
    s.sql("INSERT INTO mixa SELECT doc_id, text FROM tpch_documents WHERE doc_id < 30")
    s.sql("CREATE KNOWLEDGE_BASE mixb USING dim = 8, embedder = 'hash_tfidf'")
    s.sql(
        "INSERT INTO mixb SELECT doc_id, text FROM tpch_documents "
        "WHERE doc_id >= 30 AND doc_id < 60"
    )
    assert s._kbs["mixa"]["idf_weights"] != s._kbs["mixb"]["idf_weights"]
    s.sql(
        "CREATE AGENT mixed_rag USING model = 'mock-llm', "
        "knowledge_bases = 'mixa, mixb', retrieval_k = 2"
    )
    with pytest.raises(ValueError, match="idf"):
        s.sql("SELECT answer FROM mixed_rag WHERE question = 'what'").collect()
    # corpus-independent embedders stay unioned and answer fine
    s.sql("CREATE KNOWLEDGE_BASE plna USING dim = 8, embedder = 'md5'")
    s.sql("INSERT INTO plna SELECT doc_id, text FROM tpch_documents WHERE doc_id < 30")
    s.sql("CREATE KNOWLEDGE_BASE plnb USING dim = 8, embedder = 'md5'")
    s.sql(
        "INSERT INTO plnb SELECT doc_id, text FROM tpch_documents "
        "WHERE doc_id >= 30 AND doc_id < 60"
    )
    s.sql(
        "CREATE AGENT union_rag USING model = 'mock-llm', "
        "knowledge_bases = 'plna, plnb', retrieval_k = 2"
    )
    row = s.sql("SELECT answer FROM union_rag WHERE question = 'what'").collect()[0]
    assert row["answer"].startswith("llm:")


def test_evaluate_knowledge_base(sess, spark):
    sess.sql("CREATE KNOWLEDGE_BASE evkb USING dim = 8")
    sess.sql("INSERT INTO evkb SELECT doc_id, text FROM tpch_documents WHERE doc_id < 30")
    # self-retrieval test set: each query is a prefix of its own document,
    # the relevant doc is itself
    docs = sess.sql("SELECT doc_id, text FROM tpch_documents WHERE doc_id < 5")
    docs.selectExpr(
        "doc_id AS query_id", "substring(text, 1, 40) AS query_text", "doc_id AS rel_doc_id"
    ).createOrReplaceTempView("kb_testset")
    row = sess.sql(
        "EVALUATE KNOWLEDGE_BASE evkb USING test_table = kb_testset, k = 5"
    ).collect()[0]
    assert row["queries"] == 5
    for m in ("hit_at_k", "mrr", "ndcg"):
        assert 0.0 <= row[m] <= 1.0
    sess.sql("DROP KNOWLEDGE_BASE evkb")


def test_query_resume_and_cancel_service_functions(spark, sf_dir, tmp_path, monkeypatch):
    """`SELECT query_resume('<id>')` re-runs an interrupted resumable
    statement from its persisted cursor; `query_cancel` forgets it
    (reference: command_executor.py:703-726 exec_service_function)."""
    import os

    import mindsdb_spark.operators.kb as kbmod

    sess = EngineSession(spark, state_dir=str(tmp_path))
    sess.register_parquet_source("tpch", sf_dir, tables=["documents"])
    sess.sql("CREATE KNOWLEDGE_BASE kbq USING dim = 8, embedder = 'md5'")
    insert_sql = ("INSERT INTO kbq SELECT doc_id, text FROM tpch_documents "
                  "WHERE doc_id < 40 USING batch_size = 10")

    real = kbmod.md5_embed
    calls = {"n": 0}

    def flaky(df, text_col="chunk_text", dim=8):
        calls["n"] += 1
        if calls["n"] == 3:
            raise RuntimeError("embedder crashed")
        return real(df, text_col=text_col, dim=dim)

    monkeypatch.setattr(kbmod, "md5_embed", flaky)
    with pytest.raises(RuntimeError):
        sess.sql(insert_sql)
    # the interrupted statement is registered for resume by id
    assert "kb_insert_kbq" in sess._resumable
    monkeypatch.setattr(kbmod, "md5_embed", real)
    sess.sql("SELECT query_resume('kb_insert_kbq')")
    assert sess._kbs["kbq"]["store"].select("doc_id").distinct().count() == 40
    assert "kb_insert_kbq" not in sess._resumable  # success clears it
    with pytest.raises(KeyError):
        sess.sql("SELECT query_resume('kb_insert_kbq')")
    # cancel drops the recorded statement and its cursor state
    monkeypatch.setattr(kbmod, "md5_embed", flaky)
    calls["n"] = 0
    sess.sql("DROP KNOWLEDGE_BASE kbq")
    sess.sql("CREATE KNOWLEDGE_BASE kbq USING dim = 8, embedder = 'md5'")
    with pytest.raises(RuntimeError):
        sess.sql(insert_sql)
    sess.sql("SELECT query_cancel('kb_insert_kbq')")
    assert "kb_insert_kbq" not in sess._resumable
    assert not os.path.exists(os.path.join(str(tmp_path), "kb_insert_kbq"))
    sess.sql("DROP KNOWLEDGE_BASE kbq")
