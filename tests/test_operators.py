"""Operator-level unit tests: properties the oracle comparison can't see."""

import pytest
from pyspark.sql import functions as F

from mindsdb_spark.catalog import SourceCatalog, load_table
from mindsdb_spark.operators import multimodal as M
from mindsdb_spark.operators.vector import cosine_topk


def test_catalog_resolution(spark, sf_dir):
    cat = SourceCatalog(spark)
    cat.register_parquet_source("tpch", sf_dir)
    assert cat.table("tpch.nation").count() == 25
    assert cat.table("NATION").count() == 25  # case-insensitive, bare name
    assert cat.table("tpch_nation").count() == 25  # source_table form, as has_table
    with pytest.raises(KeyError):
        cat.table("tpch.nope")
    with pytest.raises(KeyError):
        cat.table("tpch_nope")


def test_catalog_views(spark, sf_dir):
    cat = SourceCatalog(spark)
    cat.register_parquet_source("tpch", sf_dir)
    cat.register_views()
    assert spark.sql("SELECT count(*) AS n FROM tpch_region").collect()[0].n == 5
    assert spark.sql("SELECT count(*) AS n FROM region").collect()[0].n == 5


def test_events_timestamp_conversion(spark, sf_dir):
    e = load_table(spark, sf_dir, "events")
    assert dict(e.dtypes)["ts"] == "timestamp"
    assert e.filter(F.col("ts").isNull()).count() == 0


def test_cosine_topk_self_is_top1(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 3).select("embedding").head()[0]
    top = cosine_topk(emb, "embedding", [float(x) for x in q], k=5).collect()
    assert top[0].vec_id == 3
    assert abs(top[0].sim - 1.0) < 1e-9
    sims = [r.sim for r in top]
    assert sims == sorted(sims, reverse=True)


def test_multimodal_stub_raises():
    with pytest.raises(NotImplementedError):
        M.decode_media(b"abc", "image/png", fake=False)


def test_multimodal_fake_deterministic():
    a = M.decode_media(b"abc", "image/png", fake=True)
    b = M.decode_media(b"abc", "image/png", fake=True)
    assert a == b and len(a) == 4


def test_extract_features_schema(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(20)
    out = M.extract_features(M.to_media_table(docs), fake=True)
    rows = out.collect()
    assert len(rows) == 20
    assert all(len(r.features) == 4 for r in rows)
    assert all(len(r.sig8) == 8 for r in rows)


def test_resize_images_updates_metadata(spark, sf_dir):
    from mindsdb_spark.catalog import load_table
    from mindsdb_spark.operators.multimodal import resize_images, to_media_table

    media = to_media_table(load_table(spark, sf_dir, "documents").limit(20))
    out = resize_images(media, 224, 224)
    rows = out.collect()
    assert len(rows) == 20
    assert all(r["meta_width"] == 224 and r["meta_height"] == 224 for r in rows)
    # payload passthrough in the stub
    assert all(r["content"] is not None for r in rows)


def test_kmeans_ivf_probe_all_equals_exact(spark, sf_dir):
    from mindsdb_spark.catalog import load_table
    from mindsdb_spark.operators.vector import cosine_topk, ivf_search, kmeans_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    q = [float(x) for x in emb.filter("vec_id = 3").select("embedding").head()[0]]
    cents = kmeans_centroids(emb, n_centroids=8)
    # probing every cell must reproduce the exact scan
    exact = [r["vec_id"] for r in cosine_topk(emb, "embedding", q, k=10).collect()]
    ivf_all = [
        r["vec_id"]
        for r in ivf_search(emb, "embedding", q, cents, k=10, n_probes=8).collect()
    ]
    assert ivf_all == exact


def test_kmeans_ivf_partial_probe_recall(spark, sf_dir):
    from mindsdb_spark.catalog import load_table
    from mindsdb_spark.operators.vector import cosine_topk, ivf_search, kmeans_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    q = [float(x) for x in emb.filter("vec_id = 3").select("embedding").head()[0]]
    cents = kmeans_centroids(emb, n_centroids=8)
    exact = {r["vec_id"] for r in cosine_topk(emb, "embedding", q, k=10).collect()}
    got = {
        r["vec_id"]
        for r in ivf_search(emb, "embedding", q, cents, k=10, n_probes=3).collect()
    }
    # approximate: must return k results with meaningful overlap, and the
    # query's own vector (similarity 1.0) must be found
    assert len(got) == 10
    assert 3 in got
    assert len(got & exact) >= 3


def test_ivf_partitioned_layout_prunes_and_matches(spark, sf_dir, tmp_path):
    # the partition-pruned probe must (a) return exactly what the filter
    # formulation returns and (b) prove the pruning in the plan
    from mindsdb_spark.operators.vector import (
        ivf_read_probe, ivf_search, ivf_write_partitioned, kmeans_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_centroids(emb, n_centroids=8)
    path = str(tmp_path / "ivf_store")
    ivf_write_partitioned(emb, path, "embedding", cents)
    q = [float(x) for x in emb.filter("vec_id = 3").select("embedding").head()[0]]
    probed = ivf_read_probe(spark, path, q, cents, k=10, n_probes=3)
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "cell" in plan.split("PartitionFilters")[1].splitlines()[0]
    want = [r["vec_id"] for r in ivf_search(emb, "embedding", q, cents, k=10, n_probes=3).collect()]
    got = [r["vec_id"] for r in probed.collect()]
    assert got == want


def test_zipf_slope_near_minus_one_on_zipfian_corpus(spark):
    # tokens drawn with freq(rank) = C / rank must regress to slope ≈ -1
    from mindsdb_spark.operators.text import zipf_slope

    words = []
    for rank in range(1, 51):
        words += [f"w{rank:03d}"] * (1000 // rank)
    rows = [(i, " ".join(words[i::10]), "zipf") for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = zipf_slope(df, top_r=50).collect()
    assert len(out) == 1
    assert out[0]["n_ranks"] == 50
    assert -1.15 < out[0]["zipf_slope"] < -0.85


def test_containment_catches_embedded_doc_jaccard_misses(spark):
    from mindsdb_spark.operators.dedup import (
        containment_pairs, jaccard_topk_pairs, shingle_hashes,
    )

    small = " ".join(f"tok{i}" for i in range(10))
    big = small + " " + " ".join(f"pad{i}" for i in range(200))
    df = spark.createDataFrame(
        [(1, small), (2, big)], "doc_id long, text string"
    )
    sh = shingle_hashes(df)
    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    got = containment_pairs(sh, pairs).collect()[0]
    # every shingle of the small doc appears in the big one
    assert got["cont_a"] == 1.0
    assert got["containment"] == 1.0
    jac = jaccard_topk_pairs(sh, k=1).collect()[0]["jac"]
    assert jac < 0.1  # Jaccard alone would never flag this pair


def test_jaccard_hot_shingle_cap(spark):
    # pathological skew: one stopword shingle shared by EVERY doc. Without
    # the max_df cap the self-join alone generates n^2/2 pairs from that
    # single key; with the cap, only genuine overlap survives.
    from mindsdb_spark.operators.dedup import jaccard_topk_pairs, shingle_hashes

    rows = [(i, f"common phrase here u{i}a u{i}b u{i}c") for i in range(300)]
    rows += [(300, "alpha beta gamma delta epsilon"),
             (301, "alpha beta gamma delta epsilon")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = shingle_hashes(docs)
    got = jaccard_topk_pairs(sh, k=50, max_df=100).collect()
    # the only surviving pair is the true near-dup; the 300-doc clique
    # induced solely by the hot shingle is gone
    assert [(r.doc_a, r.doc_b, r.jac) for r in got] == [(300, 301, 1.0)]
    # uncapped (max_df above corpus size): the hot shingle creates ~45k
    # weak pairs that drown the ranking — proves the cap is load-bearing
    uncapped = jaccard_topk_pairs(sh, k=50, max_df=10_000)
    assert uncapped.filter(F.col("jac") < 0.5).count() + 2 >= 50


def test_jaccard_pruned_paths_match_unpruned(spark):
    # round-10: the threshold-pruned plan (phase-A bound + size-ratio
    # filter) and the packed/struct key paths must all produce the exact
    # rows of the unpruned plan, including ties at the bound
    from pyspark.sql import functions as F

    from mindsdb_spark.operators.dedup import jaccard_topk_pairs, shingle_hashes

    rows = []
    # three exact-dup classes (certify jac-1.0 pairs for phase A1) plus
    # near-dups and noise, with deliberately EQUAL sizes so the size
    # filter's tie boundary is exercised
    for c in range(3):
        for m in range(4):
            rows.append((c * 10 + m, f"alpha{c} beta{c} gamma{c} delta{c} eps{c}"))
    rows.append((100, "alpha0 beta0 gamma0 delta0 zeta0"))   # near-dup of class 0
    for i in range(40):
        rows.append((200 + i, f"n{i}a n{i}b n{i}c n{i}d n{i}e"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = shingle_hashes(docs)
    want = [tuple(r) for r in jaccard_topk_pairs(
        sh, k=25, prune_threshold=1 << 60).collect()]          # unpruned
    pruned = [tuple(r) for r in jaccard_topk_pairs(
        sh, k=25, prune_threshold=0).collect()]  # probe forced; with k=25 >
    # certifiable pairs here q stays 0 and the (probed) unpruned plan runs —
    # this covers the probe/struct/packed key paths; the q>1 pruned-flood
    # branch is exercised by test_jaccard_size_prune_branch below
    assert pruned == want
    # struct-key path (ids beyond 2^31), pruned and unpruned
    big = docs.select((F.col("doc_id") + F.lit(1 << 40)).alias("doc_id"), "text")
    shb = shingle_hashes(big)
    want_b = [tuple(r) for r in jaccard_topk_pairs(
        shb, k=25, prune_threshold=1 << 60).collect()]
    pruned_b = [tuple(r) for r in jaccard_topk_pairs(
        shb, k=25, prune_threshold=0).collect()]
    assert pruned_b == want_b
    assert [(a - (1 << 40), b - (1 << 40), j) for a, b, j in want_b] == want


def test_jaccard_prune_lsh_bound_branch(spark):
    # fewer than k exact-dup pairs forces the LSH-confirm bound (phase A2);
    # with fewer than k confirmable pairs overall, q stays 0 and the
    # unpruned plan runs — either way the output matches
    from mindsdb_spark.operators.dedup import jaccard_topk_pairs, shingle_hashes

    rows = [(0, "w1 w2 w3 w4 w5"), (1, "w1 w2 w3 w4 w6"),
            (2, "x1 x2 x3 x4 x5"), (3, "x1 x2 x3 x9 x5")]
    rows += [(10 + i, f"z{i}a z{i}b z{i}c z{i}d") for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = shingle_hashes(docs)
    want = [tuple(r) for r in jaccard_topk_pairs(
        sh, k=3, prune_threshold=1 << 60).collect()]
    got = [tuple(r) for r in jaccard_topk_pairs(
        sh, k=3, prune_threshold=0).collect()]
    assert got == want


def test_jaccard_size_prune_branch(spark):
    # round-11 (ADVICE item): the size-ratio pruned-FLOOD branch (q > 1 but
    # below _PREFIX_MIN_Q — the default path for ordinary corpora at scale)
    # was previously never executed by any committed test. Fixture: zero
    # exact-dup classes (A1 yields ndup=0 < k) but >= k LSH-confirmable
    # near-dup pairs at jac = 7/9 (10-word docs differing in the last word:
    # 8 shingles, 7 shared), so phase A2 derives q = 777778 — strictly
    # between 1 and _PREFIX_MIN_Q. Assert the flood branch actually fired
    # (sizes ride the grouped arrays as the `idn` struct; no row_number —
    # that is the prefix branch's node) and rows equal the unpruned plan.
    from pyspark.sql import functions as F

    from mindsdb_spark.operators.dedup import jaccard_topk_pairs, shingle_hashes

    rows = []
    for i in range(8):  # 8 near-dup pairs at jac 7/9
        base = " ".join(f"p{i}w{j}" for j in range(9))
        rows.append((2 * i, base + f" p{i}tailA"))
        rows.append((2 * i + 1, base + f" p{i}tailB"))
    for i in range(40):  # noise docs, no shared shingles
        rows.append((200 + i, f"n{i}a n{i}b n{i}c n{i}d n{i}e"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = shingle_hashes(docs)
    want = [tuple(r) for r in jaccard_topk_pairs(
        sh, k=5, prune_threshold=1 << 60).collect()]           # unpruned
    got_df = jaccard_topk_pairs(sh, k=5, prune_threshold=0)    # probe forced
    plan = got_df._jdf.queryExecution().optimizedPlan().toString()
    assert "idn" in plan and "row_number" not in plan, (
        "expected the q>1 pruned-flood branch (A2 must confirm >= 5 pairs "
        "at jac 7/9; if this fires the fixture's LSH recall regressed)"
    )
    assert [tuple(r) for r in got_df.collect()] == want
    # struct-key width (ids beyond 2^31) through the same branch
    big = docs.select((F.col("doc_id") + F.lit(1 << 40)).alias("doc_id"), "text")
    shb = shingle_hashes(big)
    want_b = [tuple(r) for r in jaccard_topk_pairs(
        shb, k=5, prune_threshold=1 << 60).collect()]
    got_b = jaccard_topk_pairs(shb, k=5, prune_threshold=0)
    assert "idn" in got_b._jdf.queryExecution().optimizedPlan().toString()
    assert [tuple(r) for r in got_b.collect()] == want_b


def test_jaccard_prefix_path_matches_unpruned(spark, monkeypatch):
    # round-10: a dup-class-certified bound (ndup >= k -> q = 1e6 >=
    # _PREFIX_MIN_Q) routes pair generation through the PPJoin prefix
    # filter; output must be row-identical to the unpruned plan for both
    # the packed-long and struct pair-key widths. The branch is asserted
    # to have actually fired via its one distinguishing plan node (the
    # row_number prefix-position window — no other jaccard path uses a
    # window function). The enumeration/index cost-ratio gate is lowered
    # to 0 — a 57-doc corpus can never reach the real crossover.
    from pyspark.sql import functions as F

    from mindsdb_spark.operators import dedup
    from mindsdb_spark.operators.dedup import jaccard_topk_pairs, shingle_hashes

    monkeypatch.setattr(dedup, "_PREFIX_COST_RATIO", 0)

    rows = []
    for c in range(3):  # 3 classes x 4 docs = 18 certified jac-1.0 pairs
        for m in range(4):
            rows.append((c * 10 + m, f"alpha{c} beta{c} gamma{c} delta{c} eps{c}"))
    rows.append((100, "alpha0 beta0 gamma0 delta0 zeta0"))  # near-dup, ties top-k
    for i in range(40):
        rows.append((200 + i, f"n{i}a n{i}b n{i}c n{i}d n{i}e"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = shingle_hashes(docs)
    want = [tuple(r) for r in jaccard_topk_pairs(
        sh, k=10, prune_threshold=1 << 60).collect()]          # unpruned
    got_df = jaccard_topk_pairs(sh, k=10, prune_threshold=0)   # 18 >= k=10
    assert "row_number" in got_df._jdf.queryExecution().optimizedPlan().toString()
    assert [tuple(r) for r in got_df.collect()] == want
    # struct-key width (ids beyond 2^31)
    big = docs.select((F.col("doc_id") + F.lit(1 << 40)).alias("doc_id"), "text")
    shb = shingle_hashes(big)
    want_b = [tuple(r) for r in jaccard_topk_pairs(
        shb, k=10, prune_threshold=1 << 60).collect()]
    got_b_df = jaccard_topk_pairs(shb, k=10, prune_threshold=0)
    assert "row_number" in got_b_df._jdf.queryExecution().optimizedPlan().toString()
    assert [tuple(r) for r in got_b_df.collect()] == want_b
    assert [(a - (1 << 40), b - (1 << 40), j) for a, b, j in want_b] == want


def test_allpairs_no_corpus_pass(spark, sf_dir):
    # sizing must come from plan metadata, not an eager count(): building
    # the operator may run at most the 1-task single-row dim probe
    from mindsdb_spark.operators.vector import allpairs_topk, _estimate_rows

    emb = load_table(spark, sf_dir, "embeddings")
    est = _estimate_rows(emb, "embedding")
    true_n = emb.count()
    assert 0.1 * true_n <= est <= 10 * true_n  # order-of-magnitude is enough
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or [])
    plan = allpairs_topk(emb, k=5)  # construction only — no action
    after = set(tracker.getJobIdsForGroup(None) or [])
    new_jobs = after - before
    assert len(new_jobs) <= 1  # the dim probe, never a count
    for j in new_jobs:
        info = tracker.getJobInfo(j)
        ntasks = sum(tracker.getStageInfo(s).numTasks for s in info.stageIds
                     if tracker.getStageInfo(s) is not None)
        assert ntasks <= 1
    # and the result is still the exact top-k
    got = {(r.id_a, r.id_b) for r in plan.collect()}
    exact = {(r.id_a, r.id_b) for r in allpairs_topk(emb, k=5, nblocks=1).collect()}
    assert got == exact


def test_contamination_broadcasts_bench(spark, sf_dir):
    # the eval-set side must broadcast: the corpus side is a map-side probe,
    # never a corpus shuffle
    from mindsdb_spark.operators.curation import contamination_check
    from mindsdb_spark.operators.dedup import shingle_hashes

    sh = shingle_hashes(load_table(spark, sf_dir, "documents"))
    plan = contamination_check(
        sh.filter(F.col("doc_id") >= 20), sh.filter(F.col("doc_id") < 20)
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # clean doc (no bench overlap) scores 0; a bench doc re-checked scores 1
    from mindsdb_spark.operators.curation import contamination_check as cc
    self_hit = cc(sh.filter(F.col("doc_id") < 20), sh.filter(F.col("doc_id") < 20))
    assert self_hit.filter(F.col("contamination") != 1.0).count() == 0


def test_pack_sequences_budget(spark, sf_dir):
    from mindsdb_spark.operators.curation import pack_sequences
    from mindsdb_spark.operators.text import token_stats

    docs = load_table(spark, sf_dir, "documents")
    toks = token_stats(docs).join(docs.select("doc_id", "lang"), "doc_id")
    packed = pack_sequences(toks, budget=512).collect()
    # bins are contiguous from 0 per stratum, and the tokens BEFORE each
    # doc in its bin stay under budget (greedy straddle semantics)
    by_stratum = {}
    for r in sorted(packed, key=lambda r: (r.lang, r.doc_id)):
        cum = by_stratum.setdefault(r.lang, [0, 0])  # [cum_before, max_bin]
        assert r.bin == cum[0] // 512
        cum[0] += r.n_tokens
    assert max(r.bin for r in packed) > 0  # actually splits at sf0.001+


def test_stratified_sample_deterministic(spark, sf_dir):
    from mindsdb_spark.operators.curation import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    a = {r.doc_id for r in stratified_sample(docs, {"en": 50}).select("doc_id").collect()}
    b = {r.doc_id for r in stratified_sample(docs, {"en": 50}).select("doc_id").collect()}
    assert a == b and a  # same set on rerun, non-empty
    half = stratified_sample(docs, {"en": 50}).count()
    full = stratified_sample(docs, {"en": 100}).count()
    en_total = docs.filter(F.col("lang") == "en").count()
    assert full == en_total
    assert 0.3 * en_total < half < 0.7 * en_total  # hash buckets ≈ uniform


def test_pii_scrub_redacts_and_counts(spark):
    from mindsdb_spark.operators.curation import pii_scrub

    rows = [
        (0, "contact bob@example.com or +1 (555) 123-4567 today"),
        (1, "server at 192.168.0.1 charged 4111 1111 1111 1111"),
        (2, "no pii here at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in pii_scrub(df).collect()}
    assert "<EMAIL>" in got[0].text_scrubbed and "<PHONE>" in got[0].text_scrubbed
    assert "bob@" not in got[0].text_scrubbed
    assert got[0].n_email == 1 and got[0].n_phone == 1 and got[0].n_card == 0
    assert "<IP>" in got[1].text_scrubbed and "<CARD>" in got[1].text_scrubbed
    assert got[1].n_ipv4 == 1 and got[1].n_card == 1
    assert got[2].text_scrubbed == "no pii here at all"
    assert got[2].n_email == got[2].n_phone == got[2].n_ipv4 == got[2].n_card == 0


def test_connected_components_chain_triangle_singleton(spark):
    from mindsdb_spark.operators.dedup import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    # chain 0-1-2-3 (diameter > 1 forces multiple propagation rounds),
    # triangle 4-5-6, singleton 7
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (4, 5), (5, 6), (4, 6)], "doc_a long, doc_b long"
    )
    got = {r.doc_id: r.cluster for r in connected_components(nodes, pairs).collect()}
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 4, 6: 4, 7: 7}


def test_connected_components_pathological_chain_logn_rounds(spark):
    """Star contraction must converge in O(log n) rounds on a diameter-n
    chain — the topology where plain label propagation needs n rounds
    (round-2 weak-at-scale flag on d24)."""
    import math

    from mindsdb_spark.operators.dedup import connected_components

    n = 64  # one long path: 0-1-2-...-63, diameter 63
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    stats = {}
    got = connected_components(
        nodes, pairs, max_iter=20, stats=stats, local_threshold=0
    )
    assert stats["path"] == "distributed"
    assert {r.cluster for r in got.collect()} == {0}
    # each round (large-star + small-star) at least halves component height;
    # +1 for the convergence-confirming round
    assert stats["rounds"] <= math.ceil(math.log2(n)) + 2, stats


def test_connected_components_star_skew(spark):
    """Hub-and-spoke (one hot node) — the skewed-key shape; converges fast
    and labels all spokes with the hub's component min."""
    from mindsdb_spark.operators.dedup import connected_components

    n = 200
    nodes = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    # hub is the HIGHEST id so the min label must still flow everywhere
    pairs = spark.createDataFrame(
        [(n - 1, i) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    stats = {}
    got = connected_components(nodes, pairs, stats=stats, local_threshold=0)
    assert stats["path"] == "distributed"
    assert {r.cluster for r in got.collect()} == {0}
    assert stats["rounds"] <= 5, stats


def test_connected_components_local_path_matches_distributed(spark):
    """The size-gated driver union-find (post-LSH graphs are tiny) must
    label identically to the distributed star-contraction loop."""
    from mindsdb_spark.operators.dedup import connected_components

    nodes = spark.createDataFrame([(i,) for i in range(30)], "doc_id long")
    pairs = spark.createDataFrame(
        # two chains, one triangle (with highest-id hub), singletons
        [(0, 1), (1, 2), (2, 3), (10, 11), (11, 12), (29, 20), (29, 21), (20, 21)],
        "doc_a long, doc_b long",
    )
    s_local, s_dist = {}, {}
    local = {
        r.doc_id: r.cluster
        for r in connected_components(nodes, pairs, stats=s_local).collect()
    }
    dist = {
        r.doc_id: r.cluster
        for r in connected_components(
            nodes, pairs, stats=s_dist, local_threshold=0
        ).collect()
    }
    assert s_local["path"] == "local" and s_dist["path"] == "distributed"
    assert local == dist
    assert local[3] == 0 and local[12] == 10 and local[29] == 20 and local[5] == 5


def test_dsir_weights_match_counter_reference(spark):
    import math
    from collections import Counter

    from mindsdb_spark.operators.curation import dsir_weights

    rows = [
        (0, "spark fast spark join", "tgt"),
        (1, "slow scan slow scan table", "other"),
        (2, "spark join fast fast", "tgt"),
        (3, "table scan window group", "other"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {
        r.doc_id: (r.n_tokens, r.weight)
        for r in dsir_weights(df, target=F.col("source") == "tgt").collect()
    }
    corpus = Counter()
    target = Counter()
    for _id, text, src in rows:
        toks = text.split()
        corpus.update(toks)
        if src == "tgt":
            target.update(toks)
    n, t, v = sum(corpus.values()), sum(target.values()), len(corpus)
    for doc_id, text, _src in rows:
        toks = text.split()
        want = sum(
            math.log((target[w] + 1.0) / (t + v)) - math.log(corpus[w] / n)
            for w in toks
        )
        got_n, got_w = out[doc_id]
        assert got_n == len(toks)
        assert abs(got_w - want) < 1e-5, doc_id
    # target-domain docs outscore off-domain docs
    assert out[0][1] > out[1][1] and out[2][1] > out[3][1]


def test_semantic_dedup_flags_lower_id_winner(spark):
    from mindsdb_spark.operators.dedup import semantic_dedup

    base = [0.5, 0.1, 0.2, 0.3] + [0.0] * 4
    near = [0.5, 0.1, 0.2, 0.31] + [0.0] * 4  # same cell, cosine ~1
    far = [0.5, 0.1, 0.2, -5.0] + [0.0] * 4  # different sign cell
    ortho = [-0.5, 0.1, 0.2, 0.3] + [0.0] * 4  # different cell via dim 1
    df = spark.createDataFrame(
        [(0, base), (1, near), (2, far), (3, ortho)],
        "vec_id long, embedding array<float>",
    )
    out = {r.vec_id: (r.cell, r.is_dup) for r in semantic_dedup(df, threshold=0.95).collect()}
    assert out[0][1] is False  # lowest id wins its cell
    assert out[1][1] is True  # near-dup of 0, higher id
    assert out[2][1] is False  # different cell — never compared
    assert out[3][1] is False
    assert out[0][0] == out[1][0] and out[0][0] != out[2][0]
    # raising the threshold above their similarity clears the flag
    out_hi = {r.vec_id: r.is_dup for r in semantic_dedup(df, threshold=0.9999999).collect()}
    assert out_hi[1] is False


def test_incremental_dedup_batch_vs_corpus(spark):
    from mindsdb_spark.operators.dedup import incremental_dedup

    base = "the quick brown fox jumps over the lazy dog again and again today"
    corpus = spark.createDataFrame(
        [(0, base), (1, "completely different words about spark shuffles and joins here")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(10, base),  # exact dup of 0
         (11, "unrelated fresh content never seen in the corpus at all whatsoever"),
         (12, base + " with a tiny suffix")],  # high-overlap near-dup
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.is_dup, r.dup_of)
           for r in incremental_dedup(corpus, batch, jaccard_threshold=0.5).collect()}
    assert out[10] == (True, 0)
    assert out[11] == (False, None)
    assert out[12][0] is True and out[12][1] == 0
    # a strict threshold keeps only the exact duplicate
    strict = {r.doc_id: r.is_dup
              for r in incremental_dedup(corpus, batch, jaccard_threshold=0.999).collect()}
    assert strict[10] is True and strict[12] is False


def test_incremental_dedup_external_candidates_prefilter(spark):
    """Round-10: the confirm joins semi-filter the shingle sets down to
    candidate doc ids before the pinned SMJ. Externally-supplied
    candidates may name ids with NO shingle rows (empty/absent docs) and
    may omit real near-dups; both must behave exactly as the inner joins
    always did — the absent id confirms nothing, the omitted pair is
    never flagged."""
    from mindsdb_spark.operators.dedup import incremental_dedup

    base = "the quick brown fox jumps over the lazy dog again and again today"
    corpus = spark.createDataFrame(
        [(0, base), (1, "completely different words about spark shuffles and joins here")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(10, base), (11, base + " with a tiny suffix")],
        "doc_id long, text string",
    )
    cand = spark.createDataFrame(
        [(10, 0),      # real pair -> confirms
         (11, 999),    # corpus id with no shingle rows -> confirms nothing
         (999, 1)],    # batch id with no shingle rows -> no output row for it
        "__bid long, __cid long",
    )
    out = {r.doc_id: (r.is_dup, r.dup_of)
           for r in incremental_dedup(
               corpus, batch, jaccard_threshold=0.5, candidates=cand
           ).collect()}
    assert out[10] == (True, 0)
    assert out[11] == (False, None)  # its only candidate id is absent
    assert set(out) == {10, 11}  # output stays one row per batch doc


def test_pagerank_local_matches_distributed(spark):
    # round-10: the edge-count-gated local fallback must produce the same
    # ranks (up to float fold order) as the distributed power iteration
    from mindsdb_spark.operators.dedup import pagerank

    nodes = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (2, 3), (4, 5), (5, 6)],
        "doc_a long, doc_b long",
    )
    local = {r.doc_id: r.rank
             for r in pagerank(nodes, pairs, iterations=6).collect()}
    dist = {r.doc_id: r.rank
            for r in pagerank(nodes, pairs, iterations=6,
                              local_threshold=0).collect()}
    assert set(local) == set(dist) == set(range(8))
    for n in local:
        assert abs(local[n] - dist[n]) < 1e-12, n


def test_pagerank_hub_ranks_highest(spark):
    from mindsdb_spark.operators.dedup import pagerank

    nodes = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    # star: 0 is the hub; 5 is isolated
    pairs = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (0, 4)], "doc_a long, doc_b long"
    )
    pr = {r.doc_id: r.rank for r in pagerank(nodes, pairs, iterations=10).collect()}
    assert pr[0] == max(pr.values())
    assert pr[5] == min(pr.values())  # isolated settles at (1-d)/N
    assert abs(pr[5] - 0.15 / 6) < 1e-12
    assert abs(pr[1] - pr[4]) < 1e-12  # symmetric spokes tie exactly
    # rank mass stays bounded above by 1 (isolated nodes leak mass — the
    # documented no-dangling-redistribution simplification)
    assert 0.0 < sum(pr.values()) <= 1.0 + 1e-9


def test_contrastive_triplets_deterministic_and_valid(spark):
    from mindsdb_spark.operators.curation import contrastive_triplets

    docs = spark.createDataFrame([(i,) for i in range(20)], "doc_id long")
    pairs = spark.createDataFrame(
        [(0, 5), (5, 9), (2, 7)], "doc_a long, doc_b long"
    )
    out = contrastive_triplets(docs, pairs, n_buckets=4)
    rows = {r.doc_id: (r.positive, r.negative) for r in out.collect()}
    # every paired doc anchors once; positive = min LSH partner
    assert set(rows) == {0, 2, 5, 7, 9}
    assert rows[5] == (0, rows[5][1])  # min partner of 5 is 0
    assert rows[0][0] == 5 and rows[2][0] == 7 and rows[9][0] == 5
    for a, (p, n) in rows.items():
        assert n not in (a, p)
    # deterministic across reruns
    again = {r.doc_id: (r.positive, r.negative)
             for r in contrastive_triplets(docs, pairs, n_buckets=4).collect()}
    assert again == rows


def test_boilerplate_scrub_removes_repeated_segments(spark):
    from mindsdb_spark.operators.curation import boilerplate_scrub

    banner = "accept all cookies now"  # 4 tokens = exactly one k=4 segment
    docs = spark.createDataFrame(
        [
            (1, banner + " alpha beta gamma delta"),
            (2, banner + " epsilon zeta eta theta"),
            (3, "iota kappa lambda mu"),
            (4, banner),  # all-boilerplate doc -> empty clean_text
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in boilerplate_scrub(docs, k=4, min_df=2).collect()
    }
    assert out[1]["n_removed"] == 1 and out[1]["clean_text"] == "alpha beta gamma delta"
    assert out[2]["n_removed"] == 1 and out[2]["clean_text"] == "epsilon zeta eta theta"
    assert out[3]["n_removed"] == 0 and out[3]["clean_text"] == "iota kappa lambda mu"
    assert out[4]["n_removed"] == 1 and out[4]["clean_text"] == ""
    assert out[4]["n_segments"] == 1


def test_dup_span_frac_counts_within_doc_repeats(spark):
    from mindsdb_spark.operators.text import dup_span_frac

    docs = spark.createDataFrame(
        [
            (1, "a b c a b c"),  # span "a b c" occurs twice WITHIN the doc
            (2, "x y z w v u"),  # fully unique
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dup_span_frac(docs, n=3).collect()}
    # doc 1 spans: [a b c, b c a, c a b, a b c] -> "a b c" multiplicity 2
    assert out[1]["n_spans"] == 4 and out[1]["n_dup_spans"] == 2
    assert out[2]["n_dup_spans"] == 0 and out[2]["dup_span_frac"] == 0.0


def test_random_project_deterministic_and_linear(spark):
    from mindsdb_spark.operators.vector import random_project, rp_signs

    # deterministic matrix: same seed -> same signs, different seed differs
    assert rp_signs(8, 4, seed=0) == rp_signs(8, 4, seed=0)
    assert rp_signs(8, 4, seed=0) != rp_signs(8, 4, seed=1)
    v = [float(i % 5 - 2) for i in range(8)]
    df = spark.createDataFrame(
        [(1, v), (2, [2 * x for x in v])], "vec_id long, embedding array<double>"
    )
    out = random_project(df, out_dim=4, in_dim=8, seed=0).collect()
    lanes = {(r["vec_id"], r["lane"]): r["value"] for r in out}
    assert len(lanes) == 8  # 2 vecs x 4 lanes
    for j in range(4):
        # projection is linear: P(2v) = 2 P(v) (exact up to the 1e-6 round)
        assert abs(lanes[(2, j)] - 2 * lanes[(1, j)]) < 1e-5


def test_seasonal_baseline_residuals(spark):
    from mindsdb_spark.operators.temporal import seasonal_baseline

    rows = [
        # (event_id, ts, event_type, value): three obs in cell (click, 10h)
        (1, "2024-01-01 10:00:00", "click", 1.0),
        (2, "2024-01-02 10:30:00", "click", 1.0),
        (3, "2024-01-03 10:15:00", "click", 4.0),  # spike
        (4, "2024-01-01 11:00:00", "view", 7.0),  # lone obs -> residual 0
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts string, event_type string, value double"
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {r["event_id"]: r for r in seasonal_baseline(df).collect()}
    assert out[1]["baseline"] == 2.0 and out[1]["residual"] == -1.0
    assert out[3]["residual"] == 2.0
    assert out[4]["residual"] == 0.0 and out[4]["hod"] == 11


def test_nb_quality_separates_vocabularies(spark):
    from mindsdb_spark.operators.curation import nb_quality

    rows = [
        (1, "good clean prose writing", "curated"),
        (2, "good prose clean style", "curated"),
        (3, "spam click buy now", "crawl"),
        (4, "buy spam now cheap", "crawl"),
        (5, "clean prose style writing", "crawl"),  # curated-looking crawl doc
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {
        r["doc_id"]: r
        for r in nb_quality(df, target=F.col("source") == "curated").collect()
    }
    assert out[1]["pred_target"] and out[2]["pred_target"]
    assert not out[3]["pred_target"] and not out[4]["pred_target"]
    # the classifier scores CONTENT, not the label: curated-vocab doc wins
    assert out[5]["pred_target"] and out[5]["score"] > 0


def test_rrf_fusion_prefers_docs_in_both_lists(spark):
    from mindsdb_spark.operators.search import rrf_fusion

    kw = spark.createDataFrame(
        [(1, 9.0), (2, 8.0), (3, 7.0)], "doc_id long, s1 double"
    )
    vec = spark.createDataFrame(
        [(2, 0.9), (4, 0.8), (1, 0.7)], "doc_id long, s2 double"
    )
    out = rrf_fusion([(kw, "s1"), (vec, "s2")], k=4, n_candidates=10).collect()
    order = [r["doc_id"] for r in out]
    # doc 2: ranks (2,1) -> 1/62+1/61; doc 1: (1,3) -> 1/61+1/63 -> doc 2 first
    assert order[0] == 2 and order[1] == 1
    # single-list docs (3: kw rank 3; 4: vec rank 2) score below dual-list docs
    assert set(order[2:]) == {3, 4}
    scores = {r["doc_id"]: r["rrf"] for r in out}
    assert scores[4] > scores[3]  # 1/62 > 1/63


def test_psi_drift_flags_shifted_population(spark):
    from mindsdb_spark.operators.monitoring import psi_drift

    base = spark.createDataFrame(
        [(float(i % 100),) for i in range(1000)], "v double"
    )
    # shifted AND out-of-range: values beyond baseline max clamp to bin 9
    cur = spark.createDataFrame(
        [(float(60 + i % 80),) for i in range(1000)], "v double"
    )
    rows = psi_drift(base, cur, "v", n_bins=10).collect()
    total = sum(r["psi"] for r in rows)
    assert total > 0.25  # "retrain" territory by the scorecard rule
    by_bin = {r["bin"]: r for r in rows}
    assert by_bin[9]["n_cur"] > by_bin[9]["n_base"]  # clamped tail mass
    assert all(0 <= r["bin"] <= 9 for r in rows)
    # identical populations -> psi ~ 0
    same = psi_drift(base, base, "v", n_bins=10).collect()
    assert abs(sum(r["psi"] for r in same)) < 1e-9


def test_categorical_drift_new_category(spark):
    from mindsdb_spark.operators.monitoring import categorical_drift

    base = spark.createDataFrame([("a",)] * 50 + [("b",)] * 50, "c string")
    cur = spark.createDataFrame(
        [("a",)] * 20 + [("b",)] * 20 + [("c",)] * 60, "c string"
    )
    rows = {r["category"]: r for r in categorical_drift(base, cur, "c").collect()}
    # category "c" is new in the serving window: n_base 0, big psi share
    assert rows["c"]["n_base"] == 0 and rows["c"]["n_cur"] == 60
    assert sum(r["psi"] for r in rows.values()) > 0.25


def test_boilerplate_scrub_hot_segment_skew(spark):
    # a banner shared by EVERY doc is the worst skew case: one segment key
    # carries the whole corpus. The df-aggregate must combine map-side and
    # the reassembly stays per-doc — output correct, no hot-key blowup.
    from mindsdb_spark.operators.curation import boilerplate_scrub

    banner = "accept all cookies now"
    docs = [(i, f"{banner} unique{i} token{i} word{i} tail{i}") for i in range(2000)]
    df = spark.createDataFrame(docs, "doc_id long, text string").repartition(8)
    out = boilerplate_scrub(df, k=4, min_df=2)
    sample = {r["doc_id"]: r for r in out.filter("doc_id < 3").collect()}
    assert all(r["n_removed"] == 1 for r in sample.values())
    assert sample[1]["clean_text"] == "unique1 token1 word1 tail1"
    assert out.count() == 2000


def test_bigram_nll_matches_counter_reference(spark):
    import math
    from collections import Counter

    from mindsdb_spark.operators.text import bigram_nll

    rows = [
        (0, "the cat sat on the mat"),
        (1, "the cat sat on the cat"),
        (2, "mat on sat cat the the"),  # same unigrams as 0, scrambled order
        (3, "dog runs"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: (r.n_bigrams, r.nll) for r in bigram_nll(df).collect()}

    uni = Counter()
    bc = Counter()
    cc = Counter()
    for _id, text in rows:
        toks = text.split()
        uni.update(toks)
        for a, b in zip(toks, toks[1:]):
            bc[(a, b)] += 1
            cc[a] += 1
    n = sum(uni.values())
    for doc_id, text in rows:
        toks = text.split()
        pairs = list(zip(toks, toks[1:]))
        want = sum(
            -math.log(0.9 * bc[(a, b)] / cc[a] + 0.1 * uni[b] / n) for a, b in pairs
        ) / len(pairs)
        got_n, got_nll = out[doc_id]
        assert got_n == len(pairs), doc_id
        assert abs(got_nll - want) < 1e-5, doc_id
    # scrambled word order: identical unigram stats, worse bigram NLL
    assert out[2][1] > out[0][1]


def test_bpe_train_merges_matches_python_reference(spark):
    from collections import Counter

    from mindsdb_spark.operators.text import bpe_train_merges

    rows = [
        (0, "low lower lowest low low"),
        (1, "new newer newest new"),
        (2, "low new lower newer"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = [(r.rank, r.lhs, r.rhs, r.merged, r.cnt) for r in bpe_train_merges(df, k=4).collect()]

    vocab = Counter(w for _id, t in rows for w in t.split())
    state = {w: list(w) for w in vocab}
    want = []
    for rank in range(1, 5):
        pc = Counter()
        for w, syms in state.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += vocab[w]
        if not pc:
            break
        (l, r), cnt = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        want.append((rank, l, r, l + r, cnt))
        for w, syms in state.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            state[w] = out
    assert got == want


def test_bpe_tokenize_counts_applies_merges_in_order(spark):
    from mindsdb_spark.operators.text import bpe_tokenize_counts

    df = spark.createDataFrame(
        [(0, "low lot"), (1, "lol low low")], "doc_id long, text string"
    )
    # ordered merges: l+o -> lo, lo+w -> low
    out = {
        r.doc_id: (r.n_words, r.n_bpe_tokens)
        for r in bpe_tokenize_counts(df, [("l", "o"), ("lo", "w")]).collect()
    }
    # "low" -> [low] (1), "lot" -> [lo, t] (2), "lol" -> [lo, l] (2)
    assert out[0] == (2, 3)
    assert out[1] == (3, 4)


def test_perplexity_buckets_terciles(spark, sf_dir):
    from mindsdb_spark.catalog import load_table
    from mindsdb_spark.operators.curation import perplexity_buckets

    out = perplexity_buckets(load_table(spark, sf_dir, "documents")).collect()
    by_bucket = {}
    for r in out:
        by_bucket.setdefault(r.ppl_bucket, []).append(r.nll)
    assert set(by_bucket) == {"head", "middle", "tail"}
    n = len(out)
    for vals in by_bucket.values():  # terciles within one doc of n/3
        assert abs(len(vals) - n / 3) <= max(2, n * 0.05)
    assert max(by_bucket["head"]) <= min(by_bucket["middle"])
    assert max(by_bucket["middle"]) <= min(by_bucket["tail"])


def test_temperature_mixture_upsamples_small_sources(spark):
    from mindsdb_spark.operators.curation import temperature_mixture

    rows = [(i, "tok " * (200 if i % 10 else 2), "big" if i % 10 else "small")
            for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r.source: r for r in temperature_mixture(df, alpha=0.5, budget=1000).collect()}
    # alpha < 1 moves weight from the dominant source to the rare one
    assert out["small"].temp_weight > out["small"].token_share
    assert out["big"].temp_weight < out["big"].token_share
    assert abs(sum(r.temp_weight for r in out.values()) - 1.0) < 1e-4
    assert abs(sum(r.alloc_tokens for r in out.values()) - 1000) <= 1


def test_bpe_train_merges_stops_when_no_pairs(spark):
    from mindsdb_spark.operators.text import bpe_train_merges

    df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    out = bpe_train_merges(df, k=5).collect()
    # single-char words have no within-word pairs: zero merges, empty table
    assert out == []


def test_bigram_nll_short_docs_excluded(spark):
    from mindsdb_spark.operators.text import bigram_nll

    df = spark.createDataFrame(
        [(0, "one"), (1, "two words here")], "doc_id long, text string"
    )
    out = {r.doc_id: r.n_bigrams for r in bigram_nll(df).collect()}
    assert 0 not in out  # 1-token doc has no bigrams
    assert out[1] == 2


def test_gopher_rules_flags(spark):
    from mindsdb_spark.operators.curation import gopher_rules

    good = "the cat and dog have fun with toys that " * 10  # 100 words, stopwords
    short = "tiny doc with few words"
    symbolic = ("the and of " + "#tag " * 30) * 3  # symbol-heavy but long
    df = spark.createDataFrame(
        [(0, good), (1, short), (2, symbolic)], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in gopher_rules(df).collect()}
    assert out[0].keep and out[0].ok_word_count and out[0].ok_stopwords
    assert not out[1].keep and not out[1].ok_word_count
    assert not out[2].ok_symbol_ratio and not out[2].keep


def test_synth_pcm_and_audio_features(spark, sf_dir):
    # audio DSP over synthesized PCM: real pcm16le bytes (4000 per row at
    # n_samples=2000), real frombuffer decode, RMS from an exact int64
    # sum-of-squares, ZCR sign-flip count — deterministic across reruns
    import hashlib

    import numpy as np

    from mindsdb_spark.catalog import load_table
    from mindsdb_spark.operators.multimodal import audio_features, synth_pcm

    docs = load_table(spark, sf_dir, "documents").limit(5)
    pcm = synth_pcm(docs, n_samples=2000)
    rows = {r["media_id"]: r for r in pcm.collect()}
    assert all(len(r["content"]) == 4000 for r in rows.values())
    # byte-level contract: sample_i = (md5-seed * (i+1)) % 65536 - 32768
    mid, r = next(iter(rows.items()))
    seed = int(hashlib.md5(str(mid).encode()).hexdigest()[:8], 16)
    samples = np.frombuffer(r["content"], dtype="<i2")
    expect = ((seed * np.arange(1, 2001, dtype=np.int64)) % 65536 - 32768)
    assert (samples == expect).all()
    feats = audio_features(pcm, window=250).collect()
    assert len(feats) == 5 * 8
    by_key = {(f["media_id"], f["win"]): f for f in feats}
    # manual recompute of one window
    seg = expect[:250]
    rms = (float((seg * seg).sum()) / 250.0) ** 0.5
    sv = np.sign(seg)
    sv = sv[sv != 0]
    zcr = float((sv[1:] != sv[:-1]).sum()) / 249.0
    got = by_key[(mid, 0)]
    assert got["rms"] == pytest.approx(rms, abs=1e-9)
    assert got["zcr"] == pytest.approx(zcr, abs=1e-12)
    # window=1 would divide by zero inside the executor UDF — clear plan-time
    # error instead
    with pytest.raises(ValueError, match="window"):
        M.audio_features(pcm, window=1)


def test_ts_first_step_picks_earliest_not_positional(spark):
    # `= LATEST` selects the forecast row anchored at the latest observed
    # point — the EARLIEST forecast order-value — even when the model emits
    # its horizon rows in descending order (review finding: positional
    # head(1) silently returned the LAST step for such models)
    import pandas as pd

    from mindsdb_spark.operators.model import ModelSpec, ts_apply_model

    df = spark.createDataFrame(
        [(g, t, float(g * 10 + t)) for g in (1, 2) for t in (1, 2, 3, 4)],
        "g int, ts int, v double",
    )

    def predict(pdf: pd.DataFrame) -> pd.DataFrame:
        last = int(pdf["ts"].max())
        g = int(pdf["g"].iloc[0])
        # horizon rows emitted DESCENDING on purpose
        return pd.DataFrame(
            {"g": [g, g], "ts": [last + 2, last + 1], "pred": [2.0, 1.0]}
        )

    spec = ModelSpec(
        name="desc_ts", predict=predict,
        output_schema="g int, ts int, pred double",
        order_by=["ts"], group_by=["g"], window=3, horizon=2,
    )
    rows = {r["g"]: r for r in ts_apply_model(df, spec, first_step_only=True).collect()}
    assert set(rows) == {1, 2}
    assert all(r["ts"] == 5 and r["pred"] == 1.0 for r in rows.values())


def test_synth_image_and_block_mean(spark, sf_dir):
    # real raster math over synthesized gray8 bitmaps: byte-level pixel
    # contract + one tile recomputed by hand; malformed payloads skip
    import hashlib

    import numpy as np

    from mindsdb_spark.catalog import load_table
    from mindsdb_spark.operators.multimodal import downsample_block_mean, synth_image

    docs = load_table(spark, sf_dir, "documents").limit(4)
    img = synth_image(docs, width=32, height=32)
    rows = {r["media_id"]: r for r in img.collect()}
    assert all(len(r["content"]) == 1024 for r in rows.values())
    mid, r = next(iter(rows.items()))
    seed = int(hashlib.md5(str(mid).encode()).hexdigest()[:8], 16)
    px = np.frombuffer(r["content"], dtype=np.uint8)
    expect = ((seed * np.arange(1, 1025, dtype=np.int64)) % 256)
    assert (px == expect).all()
    blocks = downsample_block_mean(img, block=8).collect()
    assert len(blocks) == 4 * 16  # 4 images x (32/8)^2 tiles
    by_key = {(b["media_id"], b["by"], b["bx"]): b["mean"] for b in blocks}
    tile = expect.reshape(32, 32)[:8, :8]
    assert by_key[(mid, 0, 0)] == pytest.approx(tile.sum() / 64.0, abs=1e-12)


def test_png_codec_roundtrip_all_filters():
    """The stdlib PNG codec (round-6 verdict item 5): every scanline filter
    type must reconstruct bit-exactly, gray and RGB, odd sizes included."""
    from mindsdb_spark.operators.multimodal import decode_png, encode_png

    for w, h, ch in [(32, 32, 1), (48, 32, 1), (7, 5, 1), (16, 9, 3), (1, 1, 1)]:
        raster = bytes((i * 37 + 11) % 256 for i in range(w * h * ch))
        for filters in [(0,), (1,), (2,), (3,), (4,), (0, 1, 2, 3, 4)]:
            png = encode_png(raster, w, h, ch, filters)
            assert decode_png(png) == (w, h, ch, raster), (w, h, ch, filters)


def test_png_decode_gates_and_decode_media():
    import struct
    import zlib

    import pytest

    from mindsdb_spark.operators.multimodal import (
        PNG_MAGIC,
        decode_media,
        decode_png,
        encode_png,
    )

    with pytest.raises(ValueError, match="signature"):
        decode_png(b"not a png at all")
    # 16-bit depth is out of scope: clear NotImplementedError, not garbage
    import binascii
    ihdr = struct.pack(">IIBBBBB", 2, 2, 16, 0, 0, 0, 0)
    chunk = struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr + struct.pack(
        ">I", binascii.crc32(b"IHDR" + ihdr) & 0xFFFFFFFF
    )
    with pytest.raises(NotImplementedError, match="depth=16"):
        decode_png(PNG_MAGIC + chunk)
    # decode_media really decodes PNG now (no fake=True needed)
    png = encode_png(bytes(range(64)), 8, 8, 1, (0, 4))
    assert decode_media(png, "image/png") == [8.0, 8.0, 1.0, 31.5]
    # non-PNG codecs stay honestly gated
    # JPEG now decodes for real (round-8 stdlib codec); the remaining
    # codecs stay honestly gated
    import numpy as np

    from mindsdb_spark.operators.jpeg import encode_jpeg

    img = np.full((8, 8), 60, dtype=np.uint8)
    feats = decode_media(encode_jpeg(img.tobytes(), 8, 8, 1), "image/jpeg")
    assert feats[:3] == [8.0, 8.0, 1.0] and abs(feats[3] - 60) < 2
    with pytest.raises(NotImplementedError):
        decode_media(b"ID3\x04mp3 payload", "audio/mpeg")


def test_synth_png_decode_pipeline(spark, sf_dir):
    """synth_png → decode_png_media reproduces synth_image's raster exactly
    (same closed-form pixels, PNG round-trip in between), with metadata
    taken from the decoded IHDR."""
    from mindsdb_spark.catalog import load_table
    from mindsdb_spark.operators.multimodal import (
        decode_png_media,
        synth_image,
        synth_png,
    )

    docs = load_table(spark, sf_dir, "documents").where("doc_id < 5")
    plain = {
        r["media_id"]: bytes(r["content"])
        for r in synth_image(docs, width=24, height=16).collect()
    }
    decoded = decode_png_media(synth_png(docs, width=24, height=16)).collect()
    assert len(decoded) == len(plain)
    for r in decoded:
        assert r["mime"] == "image/x-gray8"
        assert (r["meta_width"], r["meta_height"]) == (24, 16)
        assert bytes(r["content"]) == plain[r["media_id"]]


def test_editdist_confirm(spark):
    """LSH-candidate confirmation by exact Levenshtein: distances match the
    metric, pairs beyond max_dist drop (the threshold form's -1 sentinel
    must never leak through)."""
    from mindsdb_spark.operators.dedup import editdist_confirm

    docs = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "the quick brown fax"),
         (3, "the quick brown foxes"), (4, "something else entirely")],
        "doc_id long, text string",
    )
    cand = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "doc_a long, doc_b long"
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["edit_dist"]
        for r in editdist_confirm(docs, cand, max_dist=3).collect()
    }
    assert got == {(1, 2): 1, (1, 3): 2}  # (1,4) is far beyond 3: dropped


def test_lsh_candidate_pairs_matches_selfjoin_reference(spark):
    """Round-10: lsh_candidate_pairs generates i<j pairs per collision
    bucket (grouped band index) instead of the two-sided band self-join.
    The candidate SET must be identical to the reference self-join shape,
    including a mass-dup bucket (one band value shared by many docs) and
    docs with no collisions at all."""
    from pyspark.sql import functions as F

    from mindsdb_spark.operators.dedup import (
        lsh_bands,
        lsh_candidate_pairs,
        minhash_signatures,
        shingle_hashes,
    )

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [(i, base) for i in range(8)]  # mass-dup class: all 8 collide
    rows += [(100, "spark shuffles sort merge join partitions memory spill"),
             (101, "spark shuffles sort merge join partitions memory spilled"),
             (200, "an entirely unrelated document about png scanline filters")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = shingle_hashes(docs)

    got = {(r.doc_a, r.doc_b) for r in lsh_candidate_pairs(sh).collect()}

    bd = lsh_bands(minhash_signatures(sh, "doc_id", 16), "doc_id", 4, 4)
    a = bd.select(F.col("doc_id").alias("doc_a"), "band_id", "band_sig")
    b = bd.select(F.col("doc_id").alias("doc_b"), "band_id", "band_sig")
    ref = {(r.doc_a, r.doc_b)
           for r in a.join(b, ["band_id", "band_sig"])
                     .filter(F.col("doc_a") < F.col("doc_b"))
                     .select("doc_a", "doc_b").distinct().collect()}
    assert got == ref
    # the 8-doc dup class contributes all 28 i<j pairs exactly once
    dup_pairs = {(x, y) for x in range(8) for y in range(8) if x < y}
    assert dup_pairs <= got
    assert all(p[0] < p[1] for p in got)


def test_lsh_chunked_buckets_match_unchunked(spark):
    """Round-11 (VERDICT item 4): the bounded-buffer chunked bucket path
    (chunk_cap forces every mega-bucket to split into id-sorted chunks,
    exercising both within-chunk and cross-chunk pair generation) must
    produce the identical candidate SET as the single-array plan, and the
    chunked plan must actually contain the splitting window."""
    from mindsdb_spark.operators.dedup import lsh_candidate_pairs, shingle_hashes

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [(i, base) for i in range(40)]  # mega dup class: 40-doc buckets
    rows += [(100, "spark shuffles sort merge join partitions memory spill"),
             (101, "spark shuffles sort merge join partitions memory spilled"),
             (200, "an entirely unrelated document about png scanline filters")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = shingle_hashes(docs)

    ref = {(r.doc_a, r.doc_b) for r in lsh_candidate_pairs(sh, chunk_cap=0).collect()}
    chunked_df = lsh_candidate_pairs(sh, chunk_cap=7)  # 40-id buckets -> 6 chunks
    plan = chunked_df._jdf.queryExecution().optimizedPlan().toString()
    assert "row_number" in plan, "chunk path did not fire"
    got = {(r.doc_a, r.doc_b) for r in chunked_df.collect()}
    assert got == ref
    dup_pairs = {(x, y) for x in range(40) for y in range(40) if x < y}
    assert dup_pairs <= got
    assert all(p[0] < p[1] for p in got)
    # cap boundary: chunk == bucket size (single chunk, cross join empty)
    got_eq = {(r.doc_a, r.doc_b)
              for r in lsh_candidate_pairs(sh, chunk_cap=64).collect()}
    assert got_eq == ref


def test_lsh_missing_size_estimate_builds_chunked_index(spark, monkeypatch):
    """The chunk gate fails closed: when Catalyst's size estimate is
    unavailable, lsh_candidate_pairs builds the bounded chunked index, with
    the same candidate set as the single-array plan."""
    from mindsdb_spark.operators import dedup
    from mindsdb_spark.operators.dedup import lsh_candidate_pairs, shingle_hashes

    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [(i, base) for i in range(12)]
    rows += [(100, "spark shuffles sort merge join partitions memory spill"),
             (101, "spark shuffles sort merge join partitions memory spilled"),
             (200, "an entirely unrelated document about png scanline filters")]
    sh = shingle_hashes(spark.createDataFrame(rows, "doc_id long, text string"))
    ref = {(r.doc_a, r.doc_b) for r in lsh_candidate_pairs(sh, chunk_cap=0).collect()}

    monkeypatch.setattr(dedup, "_plan_size_estimate", lambda df: None)
    got_df = lsh_candidate_pairs(sh)
    assert "__chunk" in got_df._jdf.queryExecution().optimizedPlan().toString()
    assert {(r.doc_a, r.doc_b) for r in got_df.collect()} == ref


def test_lsh_band_settings_must_divide_lanes(spark):
    """n_hashes must be a positive multiple of bands: 16 lanes in 32 bands
    would key every band on lane h0 (389 pairs instead of 3 on a 1k-doc
    corpus), and 10 lanes in 4 bands would silently drop two lanes."""
    from mindsdb_spark.operators.dedup import (
        incremental_dedup,
        lsh_candidate_pairs,
        rowwise_lsh_bands,
        shingle_hashes,
    )

    docs = spark.createDataFrame(
        [(1, "one two three four"), (2, "one two three five"), (3, "one two three four")],
        "doc_id long, text string",
    )
    sh = shingle_hashes(docs)
    for n_hashes, bands in ((16, 32), (10, 4), (16, 0), (0, 4)):
        with pytest.raises(ValueError, match="multiple of bands"):
            lsh_candidate_pairs(sh, n_hashes=n_hashes, bands=bands)
    with pytest.raises(ValueError, match="multiple of bands"):
        rowwise_lsh_bands(docs, n_hashes=10, bands=4)
    with pytest.raises(ValueError, match="multiple of bands"):
        incremental_dedup(docs, docs, n_hashes=16, bands=32)
    got = {(r.doc_a, r.doc_b) for r in lsh_candidate_pairs(sh, n_hashes=8, bands=8).collect()}
    assert (1, 3) in got  # one-lane bands are valid
