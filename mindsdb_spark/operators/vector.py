"""Vector / similarity-search operators.

Reference semantics: a knowledge base select embeds the query text and asks
the vector store for a similarity top-k with metadata pre-filters, default
limit 10, cap 100 (reference: mindsdb/interfaces/knowledge_base/controller.py:
258-380, defaults 356-360; condition extraction
mindsdb/integrations/libs/vectordatabase_handler.py:103-176).

Spark-first re-expression:

* ``cosine_topk`` — exact brute-force scan: JVM-side ``zip_with`` +
  ``aggregate`` dot product against a literal query vector, then
  ``orderBy(...).limit(k)`` which compiles to TakeOrderedAndProject
  (per-partition top-k, k-row driver merge — no global sort, no collect).
  This is the deterministic oracle-checked baseline and scales linearly with
  executors.
* ``ivf_topk`` / ``ivf_search`` / ``ivf_read_probe`` — the approximate
  scale path: k-means cells (IVF) assign each vector to a centroid, and a
  query scans only the rows of its ``n_probes`` nearest cells.
* ``pq_topk`` — product-quantization ADC top-k over a deterministic
  codebook; ``allpairs_topk`` and ``knn_classify`` are the blocked
  all-pairs and labeled-neighbor joins.

All arithmetic is double precision (embeddings are array<float> on disk).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mindsdb_spark.session import local_frame

col = F.col

# name of the ownership sentinel file ivf_write_partitioned drops in every
# snapshot directory; the SQL-door clobber-guard keys on it (engine.py)
KB_INDEX_SENTINEL = "_MINDSDB_SPARK_KB_INDEX"


def _lit_vec(values) -> Column:
    """Constant array<double> literal built as ONE SQL string parsed JVM-side.

    ``F.array(*[F.lit(x) ...])`` costs one py4j round-trip per element —
    ~1.7s of pure driver latency for 16×64 centroid arrays. A single
    ``F.expr`` parse yields the identical literal (repr() round-trips the
    exact double; the ``D`` suffix forces DoubleType, not decimal)."""
    return F.expr("array(" + ",".join(f"{float(x)!r}D" for x in values) + ")")


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_similarity(vec_col: Column, query: list[float]) -> Column:
    """Cosine similarity of an array column against a constant query vector.

    Stays entirely inside whole-stage codegen (no Python UDF): zip_with +
    aggregate are JVM higher-order functions.
    """
    q = _lit_vec(query)
    import math

    q_norm = math.sqrt(sum(float(x) * float(x) for x in query))
    v = vec_col.cast("array<double>")
    return _dot(v, q) / (_norm(v) * F.lit(q_norm))


def cosine_topk(
    df: DataFrame,
    vec_col: str,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    sim_col: str = "sim",
) -> DataFrame:
    """Exact cosine top-k: the KB-search baseline (default limit 10 mirrors
    controller.py:356-360). Deterministic: ties broken by id_col."""
    sim = cosine_similarity(col(vec_col), query).alias(sim_col)
    return df.select("*", sim).orderBy(col(sim_col).desc(), col(id_col)).limit(k)


def _estimate_rows(df: DataFrame, vec_col: str) -> int:
    """Row-count estimate WITHOUT a corpus pass.

    Prefers the optimizer's plan statistics rowCount (exact under CBO /
    cached plans, driver-side only); otherwise divides the plan's
    sizeInBytes (parquet footer metadata) by a per-row byte estimate whose
    vector dimension comes from a single-row probe — a 1-task job, not a
    scan. Block sizing tolerates a few-× estimation error, so a compressed
    source just shifts block sizes, never correctness.
    """
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    rc = stats.rowCount()
    if rc.isDefined():
        return max(1, int(str(rc.get())))
    head = df.select(F.size(col(vec_col)).alias("d")).head()
    if head is None:
        return 0
    row_bytes = 4 * int(head["d"]) + 24
    return max(1, int(str(stats.sizeInBytes())) // row_bytes)


def allpairs_topk(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 20,
    block_target: int = 256,
    nblocks: int | None = None,
) -> DataFrame:
    """Top-k most-similar vector pairs (cosine) over the whole table.

    All-pairs similarity is O(N²d); the scalable shape is block-pair GEMM:
    vectors are hashed into B ≈ N/block_target blocks, each block is packed
    into one row (collect_list), the B(B+1)/2 block pairs are enumerated by
    a self-join, and each pair's similarity matrix is one numpy float64
    GEMM inside Arrow-batched mapInPandas, emitting only its local top-k.
    A final orderBy(...).limit(k) (TakeOrderedAndProject) merges locals.
    Work distributes across executors as B² tasks; nothing ever
    materializes the N² pair table.
    """
    import math

    import numpy as np
    import pandas as pd

    if nblocks is None:
        # metadata-derived sizing: the old eager df.count() here was a full
        # corpus pass run as a separate job on every invocation — at 100 TB
        # that is a job over every row just to choose a block count
        n = _estimate_rows(df, vec_col)
        nblocks = max(1, math.ceil(n / block_target))
    blocks = (
        df.select(
            (F.pmod(F.xxhash64(col(id_col)), F.lit(nblocks))).alias("__b"),
            F.struct(col(id_col).alias("id"), col(vec_col).cast("array<double>").alias("v")).alias("__e"),
        )
        .groupBy("__b")
        .agg(F.collect_list("__e").alias("items"))
    )
    a = blocks.select(col("__b").alias("ba"), col("items").alias("ia"))
    b = blocks.select(col("__b").alias("bb"), col("items").alias("ib"))
    pairs = a.join(b, col("ba") <= col("bb"))

    out_schema = "id_a long, id_b long, sim double"

    def gemm(batches):
        for pdf in batches:
            rows = {"id_a": [], "id_b": [], "sim": []}
            for _, r in pdf.iterrows():
                ids_a = np.array([e["id"] for e in r["ia"]])
                ids_b = np.array([e["id"] for e in r["ib"]])
                ma = np.stack([np.asarray(e["v"]) for e in r["ia"]])
                mb = np.stack([np.asarray(e["v"]) for e in r["ib"]])
                ma /= np.linalg.norm(ma, axis=1, keepdims=True)
                mb /= np.linalg.norm(mb, axis=1, keepdims=True)
                s = ma @ mb.T
                if r["ba"] == r["bb"]:
                    # same block joins itself: keep the strict upper triangle
                    mask = ids_a[:, None] < ids_b[None, :]
                else:
                    # distinct blocks meet exactly once (ba < bb): keep every
                    # pair, canonicalize ids below. Masking by id order here
                    # would silently drop pairs whose smaller id hashed into
                    # the higher block.
                    mask = np.ones_like(s, dtype=bool)
                s = np.where(mask, s, -np.inf)
                flat = s.ravel()
                top = min(k, int(mask.sum()))
                if top == 0:
                    continue
                idx = np.argpartition(flat, -top)[-top:]
                ai, bi = np.unravel_index(idx, s.shape)
                lo = np.minimum(ids_a[ai], ids_b[bi])
                hi = np.maximum(ids_a[ai], ids_b[bi])
                rows["id_a"].extend(lo.tolist())
                rows["id_b"].extend(hi.tolist())
                rows["sim"].extend(flat[idx].tolist())
            yield pd.DataFrame(rows, columns=["id_a", "id_b", "sim"])

    local = pairs.mapInPandas(gemm, schema=out_schema)
    return local.orderBy(col("sim").desc(), "id_a", "id_b").limit(k)


def _knn_votes(
    labeled: DataFrame,
    queries: DataFrame,
    k: int,
    vec_col: str,
    id_col: str,
    label_col: str,
) -> DataFrame:
    """Shared neighbor-rank + vote-count plan behind ``knn_classify`` and
    its registry gate (queries/pipeline.py d59 hashes exactly this frame's
    integer counts, so a change here breaks the oracle, not a private
    copy). Returns (__qid, __lbl, __n count, __s summed similarity).

    GEMM kernel (round-10): the query batch — small by the operator's
    contract; it is collected to the driver exactly like the previous
    formulation broadcast it — rides the mapInPandas closure as one numpy
    matrix, and each Arrow batch of the labeled corpus computes ALL its
    query similarities as a single float64 BLAS product, emitting only its
    per-batch top-k rows per query. A rank window over that bounded
    candidate set (≤ k·|Q| rows per Arrow batch) finishes the exact global
    top-k; per-batch top-k is lossless because every global top-k member
    is also top-k within its own batch. The per-element JVM-HOF
    formulation this replaced (broadcast query join + zip_with/aggregate
    cosine + rank window) measured 6.7x slower than DuckDB at sf100
    (BENCH_sf100_relational.json:knn_classify_study_r10); the GEMM path
    moves the 200M-similarity pass into BLAS while keeping everything
    after the kernel in Catalyst.

    Semantics preserved from the HOF path: self-pairs (same id) are
    excluded, zero-norm/NULL vectors score -2.0 (below any real cosine,
    still rankable), neighbor ties break by id ascending. For corpus-scale
    query sides, pre-bucket with IVF cells (``ivf_assign``) and apply per
    cell — same discipline as the dedup family."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T
    from pyspark.sql.window import Window

    q_rows = queries.select(col(id_col), col(vec_col)).collect()
    schema = T.StructType(
        [
            T.StructField("__qid", queries.schema[id_col].dataType),
            T.StructField("__nid", labeled.schema[id_col].dataType),
            T.StructField("__lbl", labeled.schema[label_col].dataType),
            T.StructField("__sim", T.DoubleType()),
        ]
    )
    spark = labeled.sparkSession
    if not q_rows:
        cand = local_frame(spark, [], schema)
    else:
        qids = np.asarray([r[0] for r in q_rows])
        qvecs = [r[1] for r in q_rows]
        # NULL / empty / dim-mismatched query vectors become zero rows →
        # zero norm → every sim -2.0, exactly the HOF path's semantics
        dim = next(
            (len(v) for v in qvecs if v is not None and len(v) > 0), 1
        )
        qm = np.stack(
            [
                np.asarray([float(x) for x in v], dtype=np.float64)
                if v is not None and len(v) == dim
                else np.zeros(dim, dtype=np.float64)
                for v in qvecs
            ]
        )
        qn = np.linalg.norm(qm, axis=1)
        kk = int(k)

        def topk_part(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                nids = np.asarray(pdf["__nid"])
                lbls = pdf["__lbl"].to_numpy()
                vecs = [
                    v if v is not None and len(v) == dim else None
                    for v in pdf["__dv"]
                ]
                zero = np.zeros(dim, dtype=np.float64)
                m = np.stack(
                    [np.asarray(v, dtype=np.float64) if v is not None else zero
                     for v in vecs]
                )
                nrm = np.linalg.norm(m, axis=1)
                with np.errstate(divide="ignore", invalid="ignore"):
                    sims = (m @ qm.T) / (nrm[:, None] * qn[None, :])
                # NULL/zero-norm/dim-mismatch → -2.0 (the HOF path's
                # try_divide→coalesce(-2) semantics: below any real cosine)
                sims = np.where(np.isfinite(sims), sims, -2.0)
                # self-pairs excluded entirely (HOF path: __nid != __qid)
                sims = np.where(nids[:, None] == qids[None, :], -np.inf, sims)
                out = {"__qid": [], "__nid": [], "__lbl": [], "__sim": []}
                n = len(nids)
                for j in range(len(qids)):
                    sj = sims[:, j]
                    if n > kk:
                        # O(n) preselect: everything >= the kth-largest sim.
                        # The >= keeps the COMPLETE tie class at the
                        # boundary, so the nid tie-break below stays exact
                        vk = np.partition(sj, n - kk)[n - kk]
                        idx = np.flatnonzero(sj >= vk)
                    else:
                        idx = np.arange(n)
                    order = idx[np.lexsort((nids[idx], -sj[idx]))][:kk]
                    keep = order[sj[order] > -np.inf]
                    if len(keep) == 0:
                        continue
                    out["__qid"].extend([qids[j]] * len(keep))
                    out["__nid"].extend(nids[keep].tolist())
                    out["__lbl"].extend(lbls[keep].tolist())
                    out["__sim"].extend(sj[keep].tolist())
                yield pd.DataFrame(out, columns=list(out))

        data = labeled.select(
            col(id_col).alias("__nid"),
            col(label_col).alias("__lbl"),
            col(vec_col).cast("array<double>").alias("__dv"),
        )
        cand = data.mapInPandas(topk_part, schema=schema)

    w = Window.partitionBy("__qid").orderBy(col("__sim").desc(), col("__nid"))
    neighbors = cand.withColumn("__rnk", F.row_number().over(w)).filter(
        col("__rnk") <= k
    )
    return neighbors.groupBy("__qid", "__lbl").agg(
        F.count("*").alias("__n"), F.sum("__sim").alias("__s")
    )


def knn_classify(
    labeled: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    weighted: bool = False,
) -> DataFrame:
    """Semi-supervised labeling: predict each query vector's label as the
    majority label among its k nearest LABELED neighbors by cosine — the
    standard data-labeling / label-spreading step of a training-data
    pipeline (label a small seed set by hand, kNN-classify the rest).
    Training-data extension; no reference analog (the reference delegates
    classification to its ML handlers).

    Scale shape: the QUERY batch is the small side (a labeling pass
    classifies a batch against the full labeled corpus) and rides into
    ``_knn_votes``' GEMM kernel; the labeled corpus streams through ONE
    scan, a rank window partitioned by query id bounds per-query state to
    k rows, and the vote is a (query, label) count argmax. For
    corpus-scale query sides, pre-bucket with IVF cells (``ivf_assign``)
    and apply per cell (the same candidate-bounding discipline as the
    dedup family).

    Deterministic: neighbor ties break by neighbor id; vote ties break by
    (count desc, summed similarity desc, label asc). ``weighted=True``
    votes by summed cosine similarity instead of neighbor count.

    Returns (query id, predicted label, vote strength of the winner).
    """
    from pyspark.sql.window import Window

    votes = _knn_votes(labeled, queries, k, vec_col, id_col, label_col)
    strength = col("__s") if weighted else col("__n").cast("double")
    pick = Window.partitionBy("__qid").orderBy(
        strength.desc(), col("__s").desc(), col("__lbl").asc()
    )
    return (
        votes.withColumn("__p", F.row_number().over(pick))
        .filter(col("__p") == 1)
        .select(
            col("__qid").alias(id_col),
            col("__lbl").alias("predicted_label"),
            strength.alias("vote_strength"),
        )
    )


def ivf_assign(
    df: DataFrame, vec_col: str, centroids: list[tuple[int, list[float]]], out_col: str = "__cid"
) -> DataFrame:
    """Assign each vector to its nearest centroid (cosine; ties → larger id).

    The centroid list is tiny (n_centroids ≪ N) and becomes literal arrays
    inside one JVM expression — no join, no shuffle; assignment stays a
    pure map stage, which is the property that matters at 100 TB (a
    join+argmax formulation would shuffle the corpus). greatest() over
    (sim, cid) structs picks the argmax. The literal expression costs some
    one-off plan-compile time locally; that is driver-side and constant in
    data size.
    """
    import math

    v = col(vec_col).cast("array<double>")
    # factor the vector's own norm out of the per-centroid expressions:
    # computed once per row instead of once per (row, centroid)
    with_norm = df.withColumn("__vnorm", _norm(v))
    entries = []
    for cid, cvec in centroids:
        q = _lit_vec(cvec)
        qn = math.sqrt(sum(float(x) * float(x) for x in cvec))
        sim = _dot(v, q) / (col("__vnorm") * F.lit(qn))
        entries.append(F.struct(sim.alias("s"), F.lit(cid).alias("c")))
    best = F.greatest(*entries) if len(entries) > 1 else entries[0]
    return with_norm.withColumn(out_col, best.getField("c")).drop("__vnorm")


def ivf_topk(
    df: DataFrame,
    vec_col: str,
    query: list[float] | None = None,
    k: int = 10,
    id_col: str = "vec_id",
    n_centroids: int = 16,
    n_probes: int = 4,
    query_id: int | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: probe the n_probes nearest of
    n_centroids coarse cells, exact-rank only their members.

    The coarse quantizer here is deterministic (centroids = the vectors with
    the n_centroids smallest ids) so the operator is oracle-checkable
    end-to-end; swap in MLlib KMeans centroids for recall-tuned production
    use — the plan shape is unchanged. Scan cost drops to ~n_probes/
    n_centroids of the corpus; at scale, write the table partitioned by
    cell id so probing prunes partitions instead of filtering.

    Fully in-plan: the centroid set (and optionally the query row) is packed
    into ONE broadcast row — array<struct<c,cv,cn>> — and every per-centroid
    computation is a single JVM higher-order ``transform`` over that array.
    No driver collect, one Spark action, and plan size is independent of
    n_centroids (the per-centroid-literal formulation cost ~1s of driver
    latency building 2 lambda conversions per centroid). All dot/norm folds
    are sequential left-folds, matching DuckDB list_sum exactly.
    """
    sid = col(id_col)
    v = col(vec_col).cast("array<double>")
    side_filter = sid < n_centroids
    aggs = [
        F.sort_array(
            F.collect_list(
                F.when(
                    col("__sid") < n_centroids,
                    F.struct(col("__sid").alias("c"), col("__sv").alias("cv")),
                )
            )
        ).alias("__cents")
    ]
    if query is None:
        side_filter = side_filter | (sid == query_id)
        aggs.append(
            F.first(F.when(col("__sid") == query_id, col("__sv")), ignorenulls=True).alias("__q")
        )
    side = (
        df.filter(side_filter)
        .select(sid.alias("__sid"), v.alias("__sv"))
        .groupBy()
        .agg(*aggs)
    )
    if query is not None:
        side = side.withColumn("__q", _lit_vec(query))
    # precompute centroid norms once (1 row), rank centroids by (sim desc,
    # cid desc) against the query, keep the top n_probes cell ids
    side = side.withColumn(
        "__cents",
        F.transform(
            col("__cents"),
            lambda c: F.struct(c["c"].alias("c"), c["cv"].alias("cv"), _norm(c["cv"]).alias("cn")),
        ),
    ).withColumn("__qn", _norm(col("__q")))
    probe_sims = F.transform(
        col("__cents"),
        lambda c: F.struct((_dot(c["cv"], col("__q")) / (c["cn"] * col("__qn"))).alias("s"), c["c"].alias("c")),
    )
    side = side.withColumn(
        "__probes",
        F.transform(F.slice(F.reverse(F.array_sort(probe_sims)), 1, n_probes), lambda p: p["c"]),
    )

    # one broadcast crossJoin carries centroids + query + probe set to every
    # row; assignment is array_max over a transform (identical struct-max
    # semantics to greatest() over (sim, cid))
    main = df.crossJoin(F.broadcast(side)).withColumn("__vnorm", _norm(v))
    entries = F.transform(
        col("__cents"),
        lambda c: F.struct((_dot(v, c["cv"]) / (col("__vnorm") * c["cn"])).alias("s"), c["c"].alias("c")),
    )
    cand = main.filter(F.array_contains(col("__probes"), F.array_max(entries)["c"]))
    sim = (_dot(v, col("__q")) / (col("__vnorm") * col("__qn"))).alias("sim")
    return (
        cand.select(*[col(c) for c in df.columns], sim)
        .orderBy(col("sim").desc(), sid)
        .limit(k)
    )


def kmeans_centroids(
    df: DataFrame, vec_col: str = "embedding", n_centroids: int = 16, seed: int = 42
) -> list[tuple[int, list[float]]]:
    """Learn IVF coarse-quantizer centroids with MLlib KMeans.

    The production path for `ivf_search`: trained centroids give real
    cluster structure (the smallest-id quantizer in `ivf_topk` exists for
    oracle determinism, not recall). Distributed fit; only k centers come
    back to the driver.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    data = df.select(array_to_vector(col(vec_col).cast("array<double>")).alias("features"))
    model = KMeans(k=n_centroids, seed=seed, maxIter=10).fit(data)
    return [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())]


def ivf_search(
    df: DataFrame,
    vec_col: str,
    query: list[float],
    centroids: list[tuple[int, list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    n_probes: int = 4,
) -> DataFrame:
    """IVF top-k against a prepared centroid list (e.g. kmeans_centroids).

    Probe selection is driver-side numpy over the k centroid vectors;
    candidate filtering and exact ranking stay distributed. At scale,
    persist the assignment as a partition column so probing prunes
    partitions instead of filtering rows.
    """
    import math

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb) if na and nb else -1.0

    q = [float(x) for x in query]
    ranked = sorted(centroids, key=lambda c: (-cos(c[1], q), -c[0]))
    probes = [cid for cid, _v in ranked[:n_probes]]
    cand = ivf_assign(df, vec_col, centroids).filter(col("__cid").isin(probes)).drop("__cid")
    return cosine_topk(cand, vec_col, q, k, id_col)


def _l2sq(a: Column, b: Column) -> Column:
    """Squared L2 distance as a sequential left-fold (matches DuckDB
    list_sum over list_transform exactly — same add order, same doubles)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)), F.lit(0.0), lambda acc, x: acc + x
    )


def pq_topk(
    df: DataFrame,
    vec_col: str = "embedding",
    query_id: int = 42,
    k: int = 10,
    id_col: str = "vec_id",
    m: int = 4,
    n_codes: int = 16,
    dim: int = 64,
) -> DataFrame:
    """Asymmetric-distance (ADC) PQ top-k: the query builds an m × n_codes
    lookup table of exact subspace distances ONCE (inside the broadcast side
    row), and each encoded row's approximate distance is m table gathers +
    m-1 adds — no per-row vector math at all. This is the classic
    Jégou-style PQ search shape: scan cost per row is O(m), independent of
    the original dimension.

    Deterministic smallest-id codebook → oracle-checkable; the LUT distance
    fold and the encode argmin both use sequential left-folds so DuckDB
    reproduces every double bit-for-bit. Ties (dist, then id) ascending.
    """
    sub = dim // m
    sid = col(id_col)
    v = col(vec_col).cast("array<double>")
    # one broadcast row carrying the codebook and the query, pre-sliced per
    # subspace; no driver collect: the side is a tiny filtered two-stage
    # aggregate, and everything downstream is a map stage over
    # crossJoin(broadcast(side))
    side = (
        df.filter((sid < n_codes) | (sid == query_id))
        .select(sid.alias("__sid"), v.alias("__sv"))
        .groupBy()
        .agg(
            F.sort_array(
                F.collect_list(
                    F.when(
                        col("__sid") < n_codes,
                        F.struct(col("__sid").cast("int").alias("k"), col("__sv").alias("cv")),
                    )
                )
            ).alias("__cb_raw"),
            F.first(F.when(col("__sid") == query_id, col("__sv")), ignorenulls=True).alias("__q"),
        )
        .withColumn(
            "__cb",
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda mi: F.transform(
                    col("__cb_raw"),
                    lambda c: F.struct(
                        c["k"].alias("k"), F.slice(c["cv"], mi * sub + 1, sub).alias("sv")
                    ),
                ),
            ),
        )
        .withColumn(
            "__qsub",
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda mi: F.slice(col("__q"), mi * sub + 1, sub),
            ),
        )
        .withColumn(
            "__lut",
            F.zip_with(
                col("__qsub"),
                col("__cb"),
                lambda qs, cws: F.transform(cws, lambda c: _l2sq(qs, c["sv"])),
            ),
        )
        .select("__cb", "__lut")
    )
    main = df.crossJoin(F.broadcast(side))
    vsub = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)), lambda mi: F.slice(v, mi * sub + 1, sub)
    )
    codes = F.zip_with(
        vsub,
        col("__cb"),
        lambda vs, cws: F.array_min(
            F.transform(cws, lambda c: F.struct(_l2sq(vs, c["sv"]).alias("d"), c["k"].alias("k")))
        )["k"],
    )
    dist = F.aggregate(
        F.zip_with(codes, col("__lut"), lambda c, lt: F.element_at(lt, c + 1)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        main.select(sid, dist.alias("__dist"))
        .orderBy(col("__dist").asc(), sid.asc())
        .limit(k)
        .select(id_col)
    )


def ivf_write_partitioned(
    df: DataFrame,
    path: str,
    vec_col: str,
    centroids: list[tuple[int, list[float]]],
    cell_col: str = "cell",
    owner: str = "",
) -> None:
    """Materialize the corpus partitioned by IVF cell id: one parquet
    partition directory per coarse cell. This is the layout that turns a
    probe from a full-scan filter into PARTITION PRUNING — at 100 TB a
    4-of-64-cell probe reads ~6% of the files and Spark's planner proves
    it from directory names alone (PartitionFilters, no data touched).

    ``owner`` (the owning knowledge base's name) is recorded in the
    sentinel so a later CREATE INDEX on a DIFFERENT kb pointed at this
    path can be refused instead of silently clobbering a live snapshot.
    """
    ivf_assign(df, vec_col, centroids, cell_col).write.mode("overwrite").partitionBy(
        cell_col
    ).parquet(path)
    # engine sentinel: marks the directory as an engine-written KB index
    # snapshot so the CREATE INDEX clobber-guard can distinguish "our
    # previous snapshot, safe to overwrite" from an arbitrary Spark-written
    # dataset (every Spark write leaves _SUCCESS, so _SUCCESS proves
    # nothing about ownership)
    write_index_sentinel(df.sparkSession, path, owner)


def _sentinel_fs(spark, path: str):
    """(FileSystem, sentinel Path, jvm) for ``path`` via the Hadoop FS API
    — the sentinel must land wherever the parquet does (hdfs://, s3a://,
    local), not assume a local filesystem (round-9 ADVICE: a local open()
    raised after a successful object-store write)."""
    jvm = spark._jvm
    jdir = jvm.org.apache.hadoop.fs.Path(str(path))
    fs = jdir.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jvm.org.apache.hadoop.fs.Path(jdir, KB_INDEX_SENTINEL), jvm


def write_index_sentinel(spark, path: str, owner: str = "") -> None:
    fs, jfile, _ = _sentinel_fs(spark, path)
    out = fs.create(jfile, True)
    try:
        out.write(bytearray(
            f"mindsdb_spark kb index snapshot\nowner={owner}\n".encode()
        ))
    finally:
        out.close()


def hadoop_dir_nonempty(spark, path: str) -> bool:
    """True when ``path`` exists and has at least one child, via the
    Hadoop FS API — the existence check the clobber-guard needs for
    non-local URIs where os.listdir can't look."""
    fs, _, jvm = _sentinel_fs(spark, path)
    jdir = jvm.org.apache.hadoop.fs.Path(str(path))
    try:
        return bool(fs.exists(jdir)) and len(fs.listStatus(jdir)) > 0
    except Exception:
        return False


def read_index_sentinel_owner(spark, path: str):
    """None if no sentinel at ``path``; else the recorded owner kb name
    ('' for pre-round-10 sentinels, which carried no owner line)."""
    fs, jfile, jvm = _sentinel_fs(spark, path)
    try:
        if not fs.exists(jfile):
            return None
    except Exception:
        return None
    ins = fs.open(jfile)
    try:
        baos = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(ins, baos, 4096)
        text = bytes(baos.toByteArray()).decode("utf-8", "replace")
    finally:
        ins.close()
    for line in text.splitlines():
        if line.startswith("owner="):
            return line[len("owner="):].strip()
    return ""


def ivf_read_probe(
    spark,
    path: str,
    query: list[float],
    centroids: list[tuple[int, list[float]]],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_probes: int = 4,
    cell_col: str = "cell",
    where: "Column | str | None" = None,
) -> DataFrame:
    """Probe an `ivf_write_partitioned` layout: pick the n_probes nearest
    cells driver-side (k centroid vectors — tiny), filter on the partition
    column so only those directories are listed/read, exact-rank inside.

    ``where`` is an optional row-level predicate (metadata prefilter from
    the KB SQL door) applied AFTER the partition filter — partition pruning
    is still proven from directory names alone, and the predicate pushes
    into the pruned scan, so top-k comes from the filtered space.
    """
    import math

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return dot / (na * nb) if na and nb else -1.0

    q = [float(x) for x in query]
    ranked = sorted(centroids, key=lambda c: (-cos(c[1], q), -c[0]))
    probes = [cid for cid, _v in ranked[:n_probes]]
    cand = spark.read.parquet(path).filter(col(cell_col).isin(probes))
    if where is not None:
        cand = cand.filter(F.expr(where) if isinstance(where, str) else where)
    return cosine_topk(cand, vec_col, q, k, id_col)


def rp_signs(in_dim: int, out_dim: int, seed: int = 0) -> list[list[int]]:
    """Deterministic ±1 sign matrix for the database-friendly JL projection
    (Achlioptas 2003): sign[j][i] derived from md5, so any engine — and the
    DuckDB oracle — reproduces the identical matrix. Metadata-sized
    (out_dim × in_dim ints); computed driver-side, inlined as literals."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"rp_{seed}_{j}_{i}".encode()).hexdigest()[:8], 16) % 2 == 0
            else -1
            for i in range(in_dim)
        ]
        for j in range(out_dim)
    ]


def random_project(
    df: DataFrame,
    out_dim: int = 16,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 0,
    in_dim: int | None = None,
) -> DataFrame:
    """Johnson–Lindenstrauss random projection D → out_dim with a ±1 sign
    matrix: lane_j = Σ_i emb[i]·sign[j][i] / sqrt(out_dim).

    The embedding-pipeline dimensionality reducer (store/search cost drops
    D/out_dim× with bounded cosine distortion). A pure zero-shuffle Arrow
    map stage: the sign matrix is a task-local numpy constant and each batch
    is ONE (batch × in_dim) @ (in_dim × out_dim) GEMM — measured 1.7×
    faster than the equivalent 16-lane JVM zip_with+aggregate fold chain
    (interpreted HOF exprs don't codegen), with bit-identical output at
    sf0.1. Returns long form (id, lane, value), value rounded to 1e-6.
    """
    import math

    import numpy as np

    if in_dim is None:
        # bounded probe: one row, schema-free way to learn the vector width
        in_dim = df.select(F.size(emb_col)).first()[0]
    m_t = np.array(rp_signs(in_dim, out_dim, seed), dtype=np.float64).T
    scale = 1.0 / math.sqrt(out_dim)
    id_type = df.schema[id_col].dataType.simpleString()

    def _project(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            e = np.array([np.asarray(v, dtype=np.float64) for v in pdf[emb_col]])
            p = np.floor(e @ m_t * scale * 1e6 + 0.5) / 1e6
            yield pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].values, out_dim),
                    "lane": np.tile(np.arange(out_dim, dtype=np.int32), len(pdf)),
                    "value": p.ravel(),
                }
            )

    return df.select(id_col, emb_col).mapInPandas(
        _project, f"{id_col} {id_type}, lane int, value double"
    )
