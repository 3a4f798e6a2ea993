"""KB lifecycle: chunking, deterministic embedding, content-hash upsert,
retrieval metrics — plus the oracle checks for k01/k02."""

import pytest

from mindsdb_spark.compare import compare
from mindsdb_spark.operators.kb import (
    chunk_documents,
    fake_embed,
    kb_upsert,
    retrieval_metrics,
)
from mindsdb_spark.queries.kb_queries import KB_QUERIES


@pytest.mark.parametrize("name", sorted(KB_QUERIES))
def test_kb_query_matches_oracle(spark, sf_dir, name):
    fn, sql = KB_QUERIES[name]
    if sql is None:  # rows-only entries (non-SQL-expressible): must run, >0 rows
        assert fn(spark, sf_dir).count() > 0
        return
    ok, detail = compare(fn(spark, sf_dir), sql, sf_dir)
    assert ok, f"{name}: {detail}"


def _docs(spark):
    rows = [
        (1, "a" * 450),  # 3 chunks at size 200 / stride 150
        (2, "b" * 30),  # shorter than overlap -> exactly 1 chunk
        (3, "c" * 200),  # exactly one chunk size -> 1 chunk
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_chunking_coverage_and_ids(spark):
    chunks = chunk_documents(_docs(spark), chunk_size=200, overlap=50).collect()
    by_doc = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert len(by_doc[1]) == 3 and len(by_doc[2]) == 1 and len(by_doc[3]) == 1
    # chunks reassemble the document: stride-aligned starts, full coverage
    doc1 = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    assert doc1[0]["chunk_text"] == "a" * 200
    assert doc1[2]["chunk_text"] == "a" * 150  # tail chunk truncated
    # ids unique across all chunks
    ids = [r["chunk_id"] for r in chunks]
    assert len(set(ids)) == len(ids)


def test_chunking_is_idempotent_by_content_hash(spark):
    a = {r["chunk_id"] for r in chunk_documents(_docs(spark)).collect()}
    b = {r["chunk_id"] for r in chunk_documents(_docs(spark)).collect()}
    assert a == b


def test_fake_embed_deterministic(spark):
    chunks = chunk_documents(_docs(spark))
    e1 = fake_embed(chunks, dim=8).orderBy("chunk_id").collect()
    e2 = fake_embed(chunks, dim=8).orderBy("chunk_id").collect()
    assert all(len(r["embedding"]) == 8 for r in e1)
    assert [r["embedding"] for r in e1] == [r["embedding"] for r in e2]
    assert all(-1.0 <= v <= 1.0 for r in e1 for v in r["embedding"])


def test_kb_upsert_replaces_matching_ids(spark):
    existing = spark.createDataFrame(
        [("id1", "old1", 1), ("id2", "old2", 1)], ["chunk_id", "chunk_text", "ver"]
    )
    incoming = spark.createDataFrame(
        [("id2", "new2", 2), ("id3", "new3", 2)], ["chunk_id", "chunk_text", "ver"]
    )
    out = {r["chunk_id"]: (r["chunk_text"], r["ver"]) for r in kb_upsert(existing, incoming).collect()}
    assert out == {"id1": ("old1", 1), "id2": ("new2", 2), "id3": ("new3", 2)}


def test_kb_upsert_idempotent(spark):
    existing = spark.createDataFrame([("id1", "x")], ["chunk_id", "chunk_text"])
    once = kb_upsert(existing, existing)
    twice = kb_upsert(once, existing)
    assert twice.count() == 1


def test_retrieval_metrics_hand_check(spark):
    # query 1: relevant at ranks 1 and 3 -> hit 1, mrr 1.0,
    #   dcg = 1/log2(2) + 1/log2(4) = 1.5; idcg (2 rel) = 1 + 1/log2(3)
    # query 2: no relevant in top-k -> all zeros
    rows = [
        (1, 1, 1), (1, 2, 0), (1, 3, 1),
        (2, 1, 0), (2, 2, 0),
    ]
    ranked = spark.createDataFrame(rows, ["query_id", "rank", "rel"])
    m = {r["query_id"]: r for r in retrieval_metrics(ranked, k=10).collect()}
    assert m[1]["hit"] == 1 and m[1]["mrr"] == 1.0
    import math

    idcg = 1.0 + 1.0 / math.log2(3)
    assert abs(m[1]["ndcg"] - 1.5 / idcg) < 1e-12
    assert m[2]["hit"] == 0 and m[2]["mrr"] == 0.0 and m[2]["ndcg"] == 0.0
