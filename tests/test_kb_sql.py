"""KB semantic search through the SQL door."""

import os
import re

import pytest

from mindsdb_spark.catalog import load_table
from pyspark.sql import functions as F
from mindsdb_spark.engine import EngineSession


@pytest.fixture(scope="module")
def kbsess(spark, sf_dir):
    s = EngineSession(spark)
    s.register_parquet_source("tpch", sf_dir)
    docs = load_table(spark, sf_dir, "documents").limit(200)
    s.register_knowledge_base("docs_kb", docs)
    return s


_Q = "SELECT * FROM {} WHERE content = 'spark join fast' LIMIT 5"


def _hits(sess, kb):
    """A KB's top-5 for the shared query, as comparable tuples."""
    return [
        (r["chunk_id"], r["doc_id"], r["content"], r["distance"])
        for r in sess.sql(_Q.format(kb)).collect()
    ]


def _explain(sess, kb):
    """EXPLAIN text of the shared query with attribute, lambda-variable and
    exchange ids blanked: a new plan numbers those afresh, nothing else may
    change."""
    plan = sess.sql("EXPLAIN " + _Q.format(kb)).collect()[0]["plan"]
    return re.sub(r"(_\d+)?#\d+|plan_id=\d+", "#", plan)


def test_kb_select_default_limit(kbsess):
    rows = kbsess.sql("SELECT * FROM docs_kb WHERE content = 'spark joins'").collect()
    assert len(rows) == 10  # reference default limit (controller.py:356-360)
    assert set(rows[0].asDict()) == {
        "chunk_id", "doc_id", "content", "distance", "relevance"
    }
    # ranked ascending by distance
    dists = [r["distance"] for r in rows]
    assert dists == sorted(dists)


def test_kb_select_explicit_limit_and_projection(kbsess):
    rows = kbsess.sql(
        "SELECT doc_id, distance FROM docs_kb WHERE content = 'hello world' LIMIT 3"
    ).collect()
    assert len(rows) == 3
    assert set(rows[0].asDict()) == {"doc_id", "distance"}


def test_kb_select_limit_capped(kbsess):
    rows = kbsess.sql(
        "SELECT * FROM docs_kb WHERE content = 'query' LIMIT 5000"
    ).collect()
    assert len(rows) <= 100  # reference cap


def test_kb_query_deterministic(kbsess):
    a = [tuple(r) for r in kbsess.sql("SELECT * FROM docs_kb WHERE content = 'x y z'").collect()]
    b = [tuple(r) for r in kbsess.sql("SELECT * FROM docs_kb WHERE content = 'x y z'").collect()]
    assert a == b


def test_non_kb_content_filter_untouched(kbsess):
    # a real table filtered on a column named `content` must not be hijacked
    kbsess.spark.sql("SELECT 'a' AS content").createOrReplaceTempView("plain_t")
    rows = kbsess.sql("SELECT * FROM plain_t WHERE content = 'a'").collect()
    assert len(rows) == 1


def test_kb_meta_prefilter_and_order(kbsess):
    """Metadata conditions pre-filter the search space (k results FROM the
    filtered set); residual ORDER BY runs over the search output."""
    hits = kbsess.sql(
        "SELECT doc_id, distance FROM docs_kb "
        "WHERE content = 'spark engine' AND doc_id < 20 "
        "ORDER BY doc_id LIMIT 5"
    ).collect()
    assert 0 < len(hits) <= 5
    assert all(r["doc_id"] < 20 for r in hits)
    assert [r["doc_id"] for r in hits] == sorted(r["doc_id"] for r in hits)


def test_kb_hybrid_search_flag(kbsess):
    # USING hybrid_search = true blends keyword + vector distance
    # (controller.py:316-330,404-424); alpha=1 is pure keyword, alpha=0
    # pure vector
    rows = kbsess.sql(
        "SELECT * FROM docs_kb WHERE content = 'spark join fast' "
        "USING hybrid_search = true, hybrid_search_alpha = 0.5 LIMIT 5"
    ).collect()
    assert len(rows) == 5
    dists = [r["distance"] for r in rows]
    assert dists == sorted(dists)
    vec_only = kbsess.sql(
        "SELECT * FROM docs_kb WHERE content = 'spark join fast' "
        "USING hybrid_search = true, hybrid_search_alpha = 0.0 LIMIT 5"
    ).collect()
    pure_vec = kbsess.sql(
        "SELECT * FROM docs_kb WHERE content = 'spark join fast' LIMIT 5"
    ).collect()
    assert [r["chunk_id"] for r in vec_only] == [r["chunk_id"] for r in pure_vec]


def test_kb_relevance_threshold(kbsess):
    all_rows = kbsess.sql(
        "SELECT * FROM docs_kb WHERE content = 'table scan' LIMIT 20"
    ).collect()
    thr = 1.0 - all_rows[len(all_rows) // 2]["distance"]  # mid-pack cutoff
    kept = kbsess.sql(
        "SELECT * FROM docs_kb WHERE content = 'table scan' "
        f"USING relevance_threshold = {thr} LIMIT 20"
    ).collect()
    assert 0 < len(kept) < len(all_rows)
    assert all(1.0 - r["distance"] >= thr - 1e-12 for r in kept)


def test_kb_rerank_flag(kbsess):
    rows = kbsess.sql(
        "SELECT * FROM docs_kb WHERE content = 'spark join fast' "
        "USING rerank = true, relevance_threshold = 0.1 LIMIT 5"
    ).collect()
    assert 0 < len(rows) <= 5
    assert "relevance" in rows[0].asDict()
    rels = [r["relevance"] for r in rows]
    assert rels == sorted(rels, reverse=True)
    assert all(r["relevance"] >= 0.1 for r in rows)


def test_kb_using_with_metadata_prefilter(kbsess):
    rows = kbsess.sql(
        "SELECT * FROM docs_kb WHERE content = 'spark' AND doc_id < 50 "
        "USING hybrid_search = true LIMIT 10"
    ).collect()
    assert len(rows) == 10
    assert all(r["doc_id"] < 50 for r in rows)


def test_create_index_on_knowledge_base(spark, sf_dir, tmp_path):
    """CREATE INDEX without USING writes the cell-partitioned snapshot: the
    search plan prunes partitions, probing every cell equals the exact
    scan, and the retired 'inplan' layout is refused without touching the
    index it would have replaced."""
    sess = EngineSession(spark, state_dir=str(tmp_path))
    sess.register_knowledge_base(
        "kbi", load_table(spark, sf_dir, "documents"), dim=8, embedder="md5", chunk=False
    )
    exact = _hits(sess, "kbi")
    row = sess.sql("CREATE INDEX ON KNOWLEDGE_BASE kbi").collect()[0]
    assert row["knowledge_base"] == "kbi" and row["n_centroids"] >= 1
    assert row["layout"] == "partitioned"
    plan = sess.sql(_Q.format("kbi"))._jdf.queryExecution().executedPlan().toString()
    assert "__cell" in plan.split("PartitionFilters")[1].splitlines()[0]
    # probing every cell is exhaustive: indexed search == exact search
    assert _hits(sess, "kbi") == exact
    # narrowed probing still returns k rows (approximate path)
    few = sess.sql(
        "SELECT * FROM kbi WHERE content = 'spark join fast' LIMIT 5 USING n_probes = 2"
    )
    assert few.count() == 5
    explained = _explain(sess, "kbi")
    with pytest.raises(ValueError, match="layout"):
        sess.sql("CREATE INDEX ON KNOWLEDGE_BASE kbi USING layout = 'inplan'")
    assert _explain(sess, "kbi") == explained
    assert any(d.startswith("__cell=") for d in os.listdir(tmp_path / "kb_index_kbi"))


def test_kb_chunking_config(spark, sf_dir):
    # CREATE KNOWLEDGE_BASE ... USING chunk_size/chunk_overlap rides on the
    # KB and applies at every INSERT (reference: preprocessing
    # text_chunking_config)
    from mindsdb_spark.engine import EngineSession

    sess = EngineSession(spark)
    sess.register_parquet_source("tpch", sf_dir, tables=["documents"])
    sess.sql("CREATE KNOWLEDGE_BASE ck_small USING dim = 8, embedder = 'md5', "
             "chunk_size = 80, chunk_overlap = 10")
    sess.sql("CREATE KNOWLEDGE_BASE ck_big USING dim = 8, embedder = 'md5', "
             "chunk_size = 4000, chunk_overlap = 0")
    sess.sql("INSERT INTO ck_small SELECT doc_id, text FROM tpch_documents WHERE doc_id < 20")
    sess.sql("INSERT INTO ck_big SELECT doc_id, text FROM tpch_documents WHERE doc_id < 20")
    n_small = sess._kbs["ck_small"]["store"].count()
    n_big = sess._kbs["ck_big"]["store"].count()
    assert n_big == 20  # one chunk per doc at 4000 chars
    assert n_small > n_big  # small chunks fan out
    ml = sess._kbs["ck_small"]["store"].agg(
        F.max(F.length("chunk_text")).alias("m")).collect()[0]["m"]
    assert ml <= 80
    sess.sql("DROP KNOWLEDGE_BASE ck_small"); sess.sql("DROP KNOWLEDGE_BASE ck_big")


def test_hash_embedder_semantic_retrieval(spark, sf_dir):
    """The hashing-trick embedder is a REAL representation: a KB built
    with it retrieves the chunk sharing the query's tokens ahead of
    unrelated chunks (content hashes can't do that)."""
    sess = EngineSession(spark)
    sess.register_parquet_source("tpch", sf_dir, tables=["documents"])
    sess.sql("CREATE KNOWLEDGE_BASE hkb USING dim = 32, embedder = 'hash', "
             "chunk_size = 4000, chunk_overlap = 0")
    spark.createDataFrame(
        [(0, "spark shuffle partitions exchange broadcast join"),
         (1, "zebra giraffe lion savanna wildlife safari"),
         (2, "window frame rank lag lead analytic")],
        "doc_id long, text string",
    ).createOrReplaceTempView("hkb_docs")
    sess.sql("INSERT INTO hkb SELECT doc_id, text FROM hkb_docs")
    top = sess.sql(
        "SELECT * FROM hkb WHERE content = 'broadcast join shuffle' LIMIT 1"
    ).collect()[0]
    assert top["doc_id"] == 0
    top = sess.sql(
        "SELECT * FROM hkb WHERE content = 'lion safari wildlife' LIMIT 1"
    ).collect()[0]
    assert top["doc_id"] == 1
    sess.sql("DROP KNOWLEDGE_BASE hkb")


def test_kb_rrf_fusion_flag(kbsess):
    # hybrid_search_fusion = 'rrf' swaps the alpha blend for
    # reciprocal-rank fusion of the BM25 and cosine candidate lists
    rows = kbsess.sql(
        "SELECT * FROM docs_kb WHERE content = 'spark join fast' "
        "USING hybrid_search = true, hybrid_search_fusion = 'rrf' LIMIT 5"
    ).collect()
    assert len(rows) == 5
    dists = [r["distance"] for r in rows]
    assert dists == sorted(dists)
    # rrf distance = 1 - sum(1/(60+rank)) stays in (0.96, 1)
    assert all(0.9 < d < 1.0 for d in dists)
    # deterministic: re-run returns the identical ranking
    again = kbsess.sql(
        "SELECT * FROM docs_kb WHERE content = 'spark join fast' "
        "USING hybrid_search = true, hybrid_search_fusion = 'rrf' LIMIT 5"
    ).collect()
    assert [r["chunk_id"] for r in rows] == [r["chunk_id"] for r in again]


def test_kb_join_table_and_browse(kbsess, spark, sf_dir):
    # reference test_knowledge_base.py:396-460: KB search joined to a
    # table in one statement, and content-less browse with id filters
    rows = kbsess.sql(
        "SELECT t.lang, k.doc_id, k.distance FROM docs_kb k "
        "JOIN tpch_documents t ON t.doc_id = k.doc_id "
        "WHERE k.content = 'spark join fast' ORDER BY k.distance, k.doc_id LIMIT 5"
    ).collect()
    assert len(rows) == 5 and all(r["lang"] is not None for r in rows)
    # browse: no content condition -> plain filtered store rows
    one = kbsess.sql("SELECT * FROM docs_kb WHERE doc_id = 7").collect()
    assert len(one) >= 1 and all(r["doc_id"] == 7 for r in one)
    ne = kbsess.sql("SELECT DISTINCT doc_id FROM docs_kb WHERE doc_id IN (3, 5)").collect()
    assert {r["doc_id"] for r in ne} == {3, 5}
    notin = kbsess.sql(
        "SELECT DISTINCT doc_id FROM docs_kb WHERE doc_id NOT IN (3, 5) ORDER BY doc_id LIMIT 4"
    ).collect()
    assert {r["doc_id"] for r in notin}.isdisjoint({3, 5})
    # whole-store browse with LIMIT
    head = kbsess.sql("SELECT doc_id, content FROM docs_kb ORDER BY doc_id LIMIT 3").collect()
    assert len(head) == 3 and "content" in head[0].asDict()


def test_create_kb_documented_json_syntax(spark):
    # the reference's documented create.mdx form: JSON model objects and
    # array column lists survive the USING split and land on the KB record
    from mindsdb_spark.engine import EngineSession

    sess = EngineSession(spark)
    sess.sql(
        "CREATE KNOWLEDGE_BASE kb_doc USING "
        'embedding_model = {"provider": "openai", "model_name": "text-embedding-3-large"}, '
        'reranking_model = {"provider": "openai", "model_name": "gpt-4o"}, '
        "metadata_columns = ['date', 'creator'], "
        "content_columns = ['review'], "
        "id_column = 'id'"
    )
    kb = sess._kbs["kb_doc"]
    assert kb["embedding_model"]["model_name"] == "text-embedding-3-large"
    assert kb["reranking_model"]["provider"] == "openai"
    assert kb["metadata_columns"] == ["date", "creator"]
    assert kb["content_columns"] == ["review"]
    assert kb["id_column"] == "id"
    sess.sql("DROP KNOWLEDGE_BASE kb_doc")


def test_kb_documented_query_forms(kbsess):
    # query.mdx forms: relevance filter after top-k, chunk_content browse,
    # id-scoped nested subselect excluded from a second search
    r = kbsess.sql(
        "SELECT chunk_id, relevance FROM docs_kb "
        "WHERE content = 'spark joins' AND relevance >= 0.0 LIMIT 3"
    ).collect()
    assert len(r) == 3 and all(0.0 <= x.relevance <= 1.0 for x in r)
    b = kbsess.sql("SELECT * FROM docs_kb WHERE chunk_content LIKE '%spark%' LIMIT 2")
    assert b.count() > 0 and "content" in b.columns
    sub = kbsess.sql(
        "SELECT id FROM docs_kb WHERE id NOT IN "
        "(SELECT DISTINCT id FROM docs_kb WHERE content = 'spark joins' LIMIT 2) "
        "LIMIT 3"
    )
    assert sub.columns == ["id"] and sub.count() == 3


def test_kb_content_literal_with_id_word_not_rewritten(kbsess):
    # round-3 advice (medium): _kb_alias rewrote `id`/`chunk_content`
    # INSIDE string literals, silently mutating the search text
    import mindsdb_spark.operators.vector as vec

    seen = {}
    orig = kbsess._kb_search

    def spy(name, content, *a, **k):
        seen["content"] = content
        return orig(name, content, *a, **k)

    kbsess._kb_search = spy
    try:
        rows = kbsess.sql(
            "SELECT * FROM docs_kb WHERE content = 'document id 5 chunk_content'"
        ).collect()
    finally:
        kbsess._kb_search = orig
    assert seen["content"] == "document id 5 chunk_content"
    assert len(rows) == 10


def test_kb_hash_tfidf_frozen_idf(spark, sf_dir):
    # embedder = 'hash_tfidf' (round-4 verdict item 5): first INSERT fits
    # idf weights over the insert's chunk corpus and freezes them; queries
    # and later inserts reuse the frozen statistics
    s = EngineSession(spark)
    s.register_parquet_source("tpch", sf_dir)
    s.sql("CREATE KNOWLEDGE_BASE kbw USING dim = 8, embedder = 'hash_tfidf'")
    # querying before any insert is a clear error (no statistics yet)
    with pytest.raises(ValueError, match="idf"):
        s.sql("SELECT * FROM kbw WHERE content = 'spark'").collect()
    s.sql("INSERT INTO kbw SELECT doc_id, text FROM tpch_documents WHERE doc_id < 40")
    w1 = list(s._kbs["kbw"]["idf_weights"])
    assert len(w1) == 8 and any(x != 0.0 for x in w1)
    rows = s.sql(
        "SELECT doc_id, distance FROM kbw WHERE content = 'spark join fast' LIMIT 5"
    ).collect()
    assert len(rows) == 5
    dists = [r["distance"] for r in rows]
    assert dists == sorted(dists)
    # a second insert must NOT refit: stored vectors stay mutually consistent
    s.sql(
        "INSERT INTO kbw SELECT doc_id, text FROM tpch_documents "
        "WHERE doc_id >= 40 AND doc_id < 60"
    )
    assert list(s._kbs["kbw"]["idf_weights"]) == w1
    # register_knowledge_base path fits at creation time
    docs = load_table(spark, sf_dir, "documents").limit(50)
    s.register_knowledge_base("kbw2", docs, dim=8, embedder="hash_tfidf")
    assert len(s._kbs["kbw2"]["idf_weights"]) == 8
    hits = s.sql("SELECT doc_id FROM kbw2 WHERE content = 'data' LIMIT 3").collect()
    assert len(hits) == 3
    # an EMPTY corpus must not freeze all-zero weights (review finding):
    # registration and a zero-row insert stay unfitted no-ops, the first
    # real insert fits
    empty = spark.createDataFrame([], "doc_id long, text string")
    s.register_knowledge_base("kbw3", empty, dim=8, embedder="hash_tfidf")
    assert s._kbs["kbw3"]["idf_weights"] is None
    assert s._kb_insert("kbw3", empty).collect()[0][0] == 0
    assert s._kbs["kbw3"]["idf_weights"] is None
    s._kb_insert("kbw3", docs)
    assert any(x != 0.0 for x in s._kbs["kbw3"]["idf_weights"])


def test_kb_partitioned_index_layout(spark, sf_dir, tmp_path):
    """layout='partitioned' (round-6 verdict item 3): CREATE INDEX persists
    the chunk store partitioned by IVF cell, the KB select routes through
    ivf_read_probe, and a narrowed probe PRUNES partitions (PartitionFilters
    proven from directory names — the 100 TB scan-fraction contract)."""
    from mindsdb_spark.catalog import load_table
    from mindsdb_spark.engine import EngineSession

    sess = EngineSession(spark, state_dir=str(tmp_path))
    sess.register_knowledge_base(
        "kbp", load_table(spark, sf_dir, "documents"), dim=8, embedder="md5",
        chunk=False,
    )
    exact = [
        (r["chunk_id"], r["distance"])
        for r in sess.sql(
            "SELECT * FROM kbp WHERE content = 'spark join fast' LIMIT 5"
        ).collect()
    ]
    row = sess.sql(
        "CREATE INDEX ON KNOWLEDGE_BASE kbp "
        "USING layout = 'partitioned', n_centroids = 4"
    ).collect()[0]
    assert row["layout"] == "partitioned" and row["n_centroids"] == 4
    idx_path = str(tmp_path / "kb_index_kbp")  # engine-managed default
    assert os.path.isdir(idx_path)
    # cell directories exist (partitionBy layout)
    assert any(d.startswith("__cell=") for d in os.listdir(idx_path))

    # probing every cell is exhaustive: indexed search == exact search
    indexed = sess.sql(
        "SELECT * FROM kbp WHERE content = 'spark join fast' LIMIT 5"
    )
    assert [(r["chunk_id"], r["distance"]) for r in indexed.collect()] == exact
    # the plan proves partition pruning, not a row filter over a full scan
    plan = indexed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "__cell" in plan.split("PartitionFilters")[1].splitlines()[0]

    # a narrowed probe reads a subset of the cell directories
    few = sess.sql(
        "SELECT * FROM kbp WHERE content = 'spark join fast' LIMIT 5 "
        "USING n_probes = 1"
    )
    assert few.count() == 5
    plan_few = few._jdf.queryExecution().executedPlan().toString()
    pf_line = plan_few.split("PartitionFilters")[1].splitlines()[0]
    assert "__cell" in pf_line

    # metadata prefilter narrows BEFORE top-k inside the pruned scan
    filtered = sess.sql(
        "SELECT * FROM kbp WHERE content = 'spark join fast' AND doc_id < 10 LIMIT 5"
    ).collect()
    assert len(filtered) == 5 and all(r["doc_id"] < 10 for r in filtered)

    # mutations unindex the KB (stale directories must not serve reads)
    # and reclaim the engine-owned snapshot
    sess.register_parquet_source("tp", sf_dir, tables=["documents"])
    sess.sql("INSERT INTO kbp SELECT doc_id + 100000 AS doc_id, text "
             "FROM tp_documents WHERE doc_id < 3")
    assert not os.path.exists(idx_path)
    assert sess.sql("DESCRIBE KNOWLEDGE_BASE kbp").collect()[0]["has_index"] is False
    after = sess.sql(
        "SELECT * FROM kbp WHERE content = 'spark join fast' LIMIT 5"
    )
    assert after.count() == 5

    # DROP reclaims the session-owned layout directory
    sess.sql("CREATE INDEX ON KNOWLEDGE_BASE kbp USING layout = 'partitioned', n_centroids = 2")
    assert os.path.isdir(idx_path)
    sess.sql("DROP KNOWLEDGE_BASE kbp")
    assert not os.path.exists(idx_path)


def test_create_index_on_empty_kb_clean_error(spark):
    """CREATE INDEX on an empty KB must fail at the door with an actionable
    message, not a raw executor error from KMeans on zero vectors."""
    sess = EngineSession(spark)
    empty = spark.createDataFrame([], "doc_id long, text string")
    sess.register_knowledge_base("ekb", empty, dim=8, embedder="md5", chunk=False)
    with pytest.raises(ValueError, match="empty"):
        sess.sql("CREATE INDEX ON KNOWLEDGE_BASE ekb")
    with pytest.raises(ValueError, match="empty"):
        sess.sql(
            "CREATE INDEX ON KNOWLEDGE_BASE ekb USING layout = 'partitioned'"
        )
    sess.sql("DROP KNOWLEDGE_BASE ekb")


def test_create_index_bad_layout_leaves_state_consistent(spark, sf_dir, tmp_path):
    """An invalid layout must fail BEFORE any mutation: refitting centroids
    first would pair new probe cells with a stale partitioned snapshot
    (silently wrong recall — review finding)."""
    from mindsdb_spark.catalog import load_table

    sess = EngineSession(spark, state_dir=str(tmp_path))
    sess.register_knowledge_base(
        "kbv", load_table(spark, sf_dir, "documents"), dim=8, embedder="md5",
        chunk=False,
    )
    sess.sql("CREATE INDEX ON KNOWLEDGE_BASE kbv "
             "USING layout = 'partitioned', n_centroids = 4")
    plan, hits = _explain(sess, "kbv"), _hits(sess, "kbv")
    with pytest.raises(ValueError, match="layout"):
        sess.sql("CREATE INDEX ON KNOWLEDGE_BASE kbv "
                 "USING n_centroids = 8, layout = 'partitionedd'")
    # nothing changed: the OLD index and snapshot still serve the search
    assert "4 centroids), layout: partitioned" in plan
    assert os.path.isdir(tmp_path / "kb_index_kbv")
    assert _explain(sess, "kbv") == plan
    assert _hits(sess, "kbv") == hits


def test_kb_snapshot_dir_reclaimed_on_mutation(spark, sf_dir, tmp_path):
    """Invalidation must DELETE the engine-owned snapshot directory, not
    just forget it — a corpus-sized parquet copy per insert-after-index is
    a leak at scale (review finding). An os.sep-anchored ownership check
    keeps sibling dirs that merely string-prefix state_dir safe."""
    import os

    from mindsdb_spark.catalog import load_table

    sess = EngineSession(spark, state_dir=str(tmp_path / "state"))
    sess.register_knowledge_base(
        "kbr", load_table(spark, sf_dir, "documents"), dim=8, embedder="md5",
        chunk=False,
    )
    sess.register_parquet_source("tp2", sf_dir, tables=["documents"])
    sess.sql("CREATE INDEX ON KNOWLEDGE_BASE kbr "
             "USING layout = 'partitioned', n_centroids = 2")
    idx = str(tmp_path / "state" / "kb_index_kbr")
    assert os.path.isdir(idx)
    sess.sql("INSERT INTO kbr SELECT doc_id + 500000 AS doc_id, text "
             "FROM tp2_documents WHERE doc_id < 2")
    assert not os.path.exists(idx)  # reclaimed, not leaked
    # a user-supplied path that string-prefixes the state dir is NEVER
    # deleted (os.sep anchoring)
    outside = str(tmp_path / "state_sibling" / "myidx")
    sess.sql("CREATE INDEX ON KNOWLEDGE_BASE kbr "
             f"USING layout = 'partitioned', n_centroids = 2, path = '{outside}'")
    assert os.path.isdir(outside)
    sess.sql("DROP KNOWLEDGE_BASE kbr")
    assert os.path.isdir(outside)  # user's to manage


def test_kb_explain_route_and_staleness(spark, sf_dir, tmp_path):
    """EXPLAIN on a KB select names the route that WILL run — and after a
    mutation unindexes the KB, says so explicitly (round-7 verdict item 5:
    the unused index must be visible before the query runs slow). The
    search after the mutation is the exact scan: it equals an unindexed
    twin KB holding the same rows, and it leaves EXPLAIN unchanged."""
    docs = load_table(spark, sf_dir, "documents").filter("doc_id < 50")
    sess = EngineSession(spark, state_dir=str(tmp_path))
    sess.register_knowledge_base("kbe", docs, dim=8, chunk=False)
    sess.register_knowledge_base("kbe_twin", docs, dim=8, chunk=False)

    plan = _explain(sess, "kbe")
    assert "== Knowledge Base Search ==" in plan
    assert "index: none" in plan and "exact cosine" in plan
    assert "note:" not in plan

    sess.sql("CREATE INDEX ON KNOWLEDGE_BASE kbe "
             "USING layout = 'partitioned', n_centroids = 2")
    plan = _explain(sess, "kbe")
    assert "layout: partitioned" in plan and "snapshot: " in plan
    assert "partitioned probe" in plan

    # a mutation drops the snapshot: EXPLAIN must surface the exact scan
    sess.register_parquet_source("te", sf_dir, tables=["documents"])
    for kb in ("kbe", "kbe_twin"):
        sess.sql(f"INSERT INTO {kb} SELECT doc_id + 90000 AS doc_id, text "
                 "FROM te_documents WHERE doc_id < 2")
    plan = _explain(sess, "kbe")
    assert "index: none" in plan and "exact cosine" in plan
    assert "note: the index was invalidated by a mutation" in plan
    assert _hits(sess, "kbe") == _hits(sess, "kbe_twin")
    assert _explain(sess, "kbe") == plan

    # reindex restores the pruned-probe route and clears the note
    sess.sql("CREATE INDEX ON KNOWLEDGE_BASE kbe "
             "USING layout = 'partitioned', n_centroids = 2")
    plan = _explain(sess, "kbe")
    assert "layout: partitioned" in plan
    assert "note:" not in plan
    # the Spark physical plan still follows the header
    assert "== Physical Plan ==" in plan
    sess.sql("DROP KNOWLEDGE_BASE kbe"); sess.sql("DROP KNOWLEDGE_BASE kbe_twin")


def test_create_index_user_path_refuses_clobber(spark, sf_dir, tmp_path):
    """CREATE INDEX ... USING path='<dir>' must not silently destroy an
    existing non-empty directory that isn't OUR index snapshot (round-7/8
    ADVICE, medium): refuse with a clear error. Ownership is proven by the
    engine sentinel file — NOT by _SUCCESS, which every Spark-written
    dataset contains, so a user's unrelated Spark output is protected."""
    from mindsdb_spark.operators.vector import KB_INDEX_SENTINEL

    sess = EngineSession(spark, state_dir=str(tmp_path / "state"))
    sess.register_knowledge_base(
        "kbg", load_table(spark, sf_dir, "documents").limit(30), dim=8,
        chunk=False,
    )
    precious = tmp_path / "precious"
    precious.mkdir()
    (precious / "data.txt").write_text("do not clobber")
    with pytest.raises(ValueError, match="exists and is not"):
        sess.sql("CREATE INDEX ON KNOWLEDGE_BASE kbg "
                 f"USING layout = 'partitioned', n_centroids = 2, path = '{precious}'")
    assert (precious / "data.txt").read_text() == "do not clobber"

    # the round-8 ADVICE hazard: an unrelated SPARK-WRITTEN dataset
    # (contains _SUCCESS but no engine sentinel) must also be refused
    spark_ds = tmp_path / "user_spark_dataset"
    spark.range(5).write.parquet(str(spark_ds))
    assert (spark_ds / "_SUCCESS").exists()
    with pytest.raises(ValueError, match="exists and is not"):
        sess.sql("CREATE INDEX ON KNOWLEDGE_BASE kbg "
                 f"USING layout = 'partitioned', n_centroids = 2, path = '{spark_ds}'")
    assert (spark_ds / "_SUCCESS").exists()  # untouched

    # a fresh (empty/new) user dir is fine, and reindexing over our own
    # snapshot (recognized by the engine sentinel) stays allowed
    target = tmp_path / "idx_out"
    sess.sql("CREATE INDEX ON KNOWLEDGE_BASE kbg "
             f"USING layout = 'partitioned', n_centroids = 2, path = '{target}'")
    assert (target / KB_INDEX_SENTINEL).exists()
    sess.sql("CREATE INDEX ON KNOWLEDGE_BASE kbg "
             f"USING layout = 'partitioned', n_centroids = 2, path = '{target}'")
    assert (target / KB_INDEX_SENTINEL).exists()

    # crash-window recovery is SESSION-SCOPED: a snapshot whose sentinel
    # write never landed (parquet present, marker missing) is recognized
    # because this session's kb still remembers it as prev_index_path —
    # a restarted session would refuse the half-written dir (safe side)
    (target / KB_INDEX_SENTINEL).unlink()
    sess.sql("CREATE INDEX ON KNOWLEDGE_BASE kbg "
             f"USING layout = 'partitioned', n_centroids = 2, path = '{target}'")
    assert (target / KB_INDEX_SENTINEL).exists()
    sess.sql("DROP KNOWLEDGE_BASE kbg")


def test_kb_insert_validation_failure_keeps_index(spark, sf_dir, tmp_path):
    """A rejected INSERT must leave the partitioned snapshot intact
    (round-7 ADVICE): invalidation happens only after validation, so a
    failed mutation doesn't permanently degrade search to the in-plan
    path."""
    sess = EngineSession(spark, state_dir=str(tmp_path))
    sess.register_knowledge_base(
        "kbf", load_table(spark, sf_dir, "documents").limit(30), dim=8,
        chunk=False,
    )
    sess.sql("CREATE INDEX ON KNOWLEDGE_BASE kbf "
             "USING layout = 'partitioned', n_centroids = 2")
    plan = _explain(sess, "kbf")
    with pytest.raises(ValueError, match="content column"):
        sess.sql("INSERT INTO kbf SELECT 1 AS a, 2 AS b, 3 AS c")
    # the snapshot survived the failed insert and still serves the search
    assert os.path.isdir(tmp_path / "kb_index_kbf")
    assert "layout: partitioned" in plan and _explain(sess, "kbf") == plan
    sess.sql("DROP KNOWLEDGE_BASE kbf")


def test_kb_snapshot_external_removal_falls_back(spark, sf_dir, tmp_path):
    """A snapshot directory deleted OUTSIDE the engine (round-7 ADVICE
    second clause) must degrade to the exact scan — correct results, a
    note in EXPLAIN — never a failed query over a dangling path. Reads
    change no KB state, so EXPLAIN reads the same before and after the
    search."""
    import shutil

    docs = load_table(spark, sf_dir, "documents").filter("doc_id < 40")
    sess = EngineSession(spark, state_dir=str(tmp_path / "state"))
    sess.register_knowledge_base("kbx", docs, dim=8, chunk=False)
    sess.register_knowledge_base("kbx_twin", docs, dim=8, chunk=False)
    target = tmp_path / "ext_idx"
    sess.sql("CREATE INDEX ON KNOWLEDGE_BASE kbx "
             f"USING layout = 'partitioned', n_centroids = 2, path = '{target}'")
    assert (target / "_SUCCESS").exists()
    shutil.rmtree(target)  # external actor removes the layout

    plan = _explain(sess, "kbx")
    assert "index: none" in plan and "exact cosine" in plan
    assert f"note: the index snapshot at {target} is missing" in plan
    assert _hits(sess, "kbx") == _hits(sess, "kbx_twin")
    assert _explain(sess, "kbx") == plan
    sess.sql("DROP KNOWLEDGE_BASE kbx"); sess.sql("DROP KNOWLEDGE_BASE kbx_twin")


def test_create_index_refuses_users_own_cell_partitioned_data(spark, sf_dir, tmp_path):
    """Round-9 review finding: a user's OWN ivf_assign output is
    partitioned by the same __cell column as an engine snapshot — a bare
    __cell= layout must NOT count as ownership (only the sentinel, or the
    kb's own previous index_path for the crash window)."""
    from mindsdb_spark.operators.vector import ivf_assign

    sess = EngineSession(spark, state_dir=str(tmp_path / "state"))
    sess.register_knowledge_base(
        "kbh", load_table(spark, sf_dir, "documents").limit(20), dim=8,
        chunk=False,
    )
    users_data = tmp_path / "users_cells"
    emb = load_table(spark, sf_dir, "embeddings").limit(50)
    centroids = [(0, [1.0] * 8), (1, [-1.0] * 8)]
    ivf_assign(
        emb.selectExpr("vec_id", "slice(embedding, 1, 8) AS embedding"),
        "embedding", centroids, "__cell",
    ).write.partitionBy("__cell").parquet(str(users_data))
    assert any(d.name.startswith("__cell=") for d in users_data.iterdir())
    with pytest.raises(ValueError, match="exists and is not"):
        sess.sql("CREATE INDEX ON KNOWLEDGE_BASE kbh "
                 f"USING layout = 'partitioned', n_centroids = 2, path = '{users_data}'")
    # the user's dataset survived untouched
    assert spark.read.parquet(str(users_data)).count() == 50
    sess.sql("DROP KNOWLEDGE_BASE kbh")


def test_create_index_refuses_other_kbs_live_snapshot(spark, sf_dir, tmp_path):
    """Round-9 ADVICE: CREATE INDEX ON kb_a USING path='<kb_b snapshot
    dir>' must refuse — overwriting it would leave kb_b's index_path
    pointing at kb_a's chunks (silently wrong search results). The engine
    sentinel is NOT an exemption here; it records the owner, and a
    different live owner is exactly the refusal case. Applies to
    engine-managed (state-dir) snapshot paths too."""
    from mindsdb_spark.operators.vector import read_index_sentinel_owner

    sess = EngineSession(spark, state_dir=str(tmp_path / "state"))
    docs = load_table(spark, sf_dir, "documents")
    sess.register_knowledge_base("kb_a", docs.limit(20), dim=8, chunk=False)
    sess.register_knowledge_base("kb_b", docs.limit(25), dim=8, chunk=False)
    target = tmp_path / "kb_b_idx"
    sess.sql("CREATE INDEX ON KNOWLEDGE_BASE kb_b "
             f"USING layout = 'partitioned', n_centroids = 2, path = '{target}'")
    # round-10: the sentinel names its owner (written via the Hadoop FS API)
    assert read_index_sentinel_owner(spark, str(target)) == "kb_b"
    with pytest.raises(ValueError, match="live index snapshot of knowledge base 'kb_b'"):
        sess.sql("CREATE INDEX ON KNOWLEDGE_BASE kb_a "
                 f"USING layout = 'partitioned', n_centroids = 2, path = '{target}'")
    # kb_b's snapshot is intact and still routes its searches
    assert f"snapshot: {target}\n" in _explain(sess, "kb_b")
    assert sess.sql("SELECT * FROM kb_b WHERE content = 'x' LIMIT 3").count() == 3
    # the engine-managed default path of kb_b is refused for kb_a too
    sess.sql("CREATE INDEX ON KNOWLEDGE_BASE kb_b "
             "USING layout = 'partitioned', n_centroids = 2")
    managed = str(tmp_path / "state" / "kb_index_kb_b")
    assert f"snapshot: {managed}\n" in _explain(sess, "kb_b")
    with pytest.raises(ValueError, match="live index snapshot"):
        sess.sql("CREATE INDEX ON KNOWLEDGE_BASE kb_a "
                 f"USING layout = 'partitioned', n_centroids = 2, path = '{managed}'")
    # kb_b itself may still rebuild over its own snapshot
    sess.sql("CREATE INDEX ON KNOWLEDGE_BASE kb_b "
             f"USING layout = 'partitioned', n_centroids = 2, path = '{managed}'")
    sess.sql("DROP KNOWLEDGE_BASE kb_a"); sess.sql("DROP KNOWLEDGE_BASE kb_b")


def test_create_index_scheme_uri_respelling_still_refused(spark, sf_dir, tmp_path):
    """Round-10 hardening: the cross-KB guard compares index paths after
    trailing-slash normalization, so a scheme-URI respelling of kb_b's
    live snapshot ('file:///x/y/' vs 'file:///x/y') is still refused —
    the primary index_path comparison must not depend on the
    sentinel-owner backstop. file:// exercises the same Hadoop-FS branch
    as hdfs:// / s3a:// without needing a remote store."""
    sess = EngineSession(spark, state_dir=str(tmp_path / "state"))
    docs = load_table(spark, sf_dir, "documents")
    sess.register_knowledge_base("kb_a", docs.limit(20), dim=8, chunk=False)
    sess.register_knowledge_base("kb_b", docs.limit(25), dim=8, chunk=False)
    uri = f"file://{tmp_path}/kb_b_idx"
    sess.sql("CREATE INDEX ON KNOWLEDGE_BASE kb_b "
             f"USING layout = 'partitioned', n_centroids = 2, path = '{uri}'")
    # a URI snapshot is listed through the Hadoop FS API and serves searches
    assert sess.sql("DESCRIBE KNOWLEDGE_BASE kb_b").collect()[0]["index_layout"] == "partitioned"
    with pytest.raises(ValueError, match="live index snapshot of knowledge base 'kb_b'"):
        sess.sql("CREATE INDEX ON KNOWLEDGE_BASE kb_a "
                 f"USING layout = 'partitioned', n_centroids = 2, path = '{uri}/'")
    # kb_b may still rebuild over its own snapshot under either spelling
    sess.sql("CREATE INDEX ON KNOWLEDGE_BASE kb_b "
             f"USING layout = 'partitioned', n_centroids = 2, path = '{uri}/'")
    sess.sql("DROP KNOWLEDGE_BASE kb_a"); sess.sql("DROP KNOWLEDGE_BASE kb_b")
