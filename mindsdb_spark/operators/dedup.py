"""Deduplication operators over a document table — the training-data-pipeline
surface the reference lacks (its KB insert dedups only by content-hash id:
reference: mindsdb/interfaces/knowledge_base/controller.py:647-983, upsert by
content hash in vectordatabase_handler.py:295-400).

Every near-duplicate consumer composes one small shingle → minhash → band →
pair-key core instead of spelling its own plan pieces:

* ``_gram_arrays``: tokenize once per document and PROJECT the word n-gram
  array before any explode or per-row fold (``shingles``,
  ``rowwise_lsh_bands``);
* ``shingle_hash_expr`` + ``_lane``: the 60-bit md5 shingle hash and the
  affine minhash lane, shared by the batch signature
  (``minhash_signatures``, one groupBy with k min-aggregates) and the
  per-row one (``rowwise_lsh_bands``);
* ``_band_fold``: the polynomial band fold of k lanes into band keys — batch
  and per-row band values are equal by construction. It rejects band
  settings that do not divide the lanes;
* ``_band_table`` (signature → bands) and ``_collision_buckets`` (bands →
  sorted id arrays per (band_id, band_sig), optionally id-chunked): the LSH
  index behind ``lsh_candidate_pairs``, d06's bound probe and
  ``incremental_dedup``;
* ``_pair_keys`` / ``_pair_cols``: i<j pair keys over a sorted id array
  (packed long or struct, optionally size-pruned) and their decoder;
* ``_pinned_smj_intersection`` / ``_semi_intersection``: |A∩B| per
  candidate pair, in the two join shapes the confirm passes need;
* ``_plan_size_estimate``: Catalyst's driver-side size estimate — a missing
  statistic picks the safe branch at every gate.

On that core: exact (content-hash groupBy), minhash/LSH candidate pairs,
exact top-k Jaccard (grouped shingle inverted index; cost Σ freq(shingle)²,
bounded by the ``max_df`` stopword-shingle cap), containment, incremental
and streaming dedup; plus simhash, SemDeDup-style embedding dedup, connected
components, pagerank and edit-distance confirmation. Every corpus-sized
stage is a shuffle-bounded DataFrame plan; Python/pandas never touches the
hot path, and only size-gated graphs and probe scalars reach the driver.
"""

from __future__ import annotations

from functools import reduce

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mindsdb_spark.catalog import parallelize_input
from mindsdb_spark.session import local_frame

col = F.col


def words_expr(text_col):
    """Lowercased whitespace tokenization; identical to the oracle's
    string_split_regex(lower(trim(x)), '\\s+')."""
    return F.split(F.lower(F.trim(text_col)), r"\s+")


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact duplicate grouping by content hash: one row per distinct text,
    canonical id = min id, dup_count = group size."""
    return (
        df.groupBy(F.md5(col(text_col)).alias("__h"))
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("dup_count"))
        .drop("__h")
        .select(id_col, "dup_count")
    )


def grams_expr(ws, n: int):
    """Word n-grams over a token-array column, as a zip_with chain over n
    shifted slices — ~3-10× faster than transform(sequence(...)) with
    per-index slice+concat_ws (each lambda is a flat two-arg concat
    instead of per-index array probing; measured 7.8s → 0.9s on 5k docs
    for shingles, 1.0s → 0.3s on 50k docs for bigrams)."""
    ln = F.size(ws) - (n - 1)
    grams = F.slice(ws, 1, ln)
    for j in range(1, n):
        grams = F.zip_with(
            grams, F.slice(ws, j + 1, ln), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    return grams


def _gram_arrays(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(id, __g): each document's distinct word n-gram array, for documents
    of at least n tokens.

    The token array and the gram array are PROJECTED as columns, so the
    explode or per-row fold that follows reads a plain column. zip_with is
    CodegenFallback: a gram chain inlined into a generator runs interpreted
    and re-evaluates split(lower(trim(text))) once per textual occurrence
    (6-7 `split(` sites in such a plan, 2 here — the optimizer's filter
    pushdown keeps one copy in the size filter). CollapseProject keeps both
    projections separate (the arrays are referenced repeatedly and are
    non-cheap). Measured on the full signature pass, interleaved,
    bit-identical rows (OPTIMIZATION_r11.md §2): sf10-docs 6.66→5.00 s,
    sf100-docs 53.7→37.0 s (1.45x).
    """
    toks = df.select(col(id_col), words_expr(col(text_col)).alias("__ws")).filter(
        F.size("__ws") >= n
    )
    return toks.select(col(id_col), F.array_distinct(grams_expr(col("__ws"), n)).alias("__g"))


def shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles, exploded to (id, shingle) rows; the
    explode of the projected gram array is codegen-able (see _gram_arrays)."""
    grams = _gram_arrays(parallelize_input(df), text_col, id_col, n)
    return grams.select(col(id_col), F.explode("__g").alias("shingle"))


MINHASH_PRIME = 4294967311  # smallest prime > 2^32
_TWO32 = 1 << 32
_LANE_SEED = 42
# jaccard_topk_pairs small-input gate (bytes of Catalyst's driver-side
# estimate for the shingle input; sf0.1 ≈ 0.47 MB, sf1 ≈ 4.9 MB — the
# gate sits between with ~2x margin each way and is ~3x under the row
# count the default prune_threshold would need)
_PROBE_STATS_GATE = 1_000_000
# jaccard_topk_pairs prefix-filter gate: the PPJoin prefix path only runs
# under a STRONG top-k bound (q >= this, i.e. prefix length <= ~0.1·|doc|
# + 1); at weak bounds the prefix keeps most of each doc and the direct
# pruned-flood aggregate is cheaper than candidates + confirm joins
_PREFIX_MIN_Q = 900_000
# ... and only when per-group pair ENUMERATION (Σ f(f−1)/2, exact, read in
# the same probe job as `total`) dwarfs the linear index passes the prefix
# path pays for (two windows + semi-filtered SMJ confirm ∝ total). The
# crossover is a RATIO of the two cost drivers, not an absolute size, so
# it holds for any corpus/cluster: measured flood≈prefix at ratio 44
# (sf1, 0.92-1.08x both ways), prefix 2.4x at 133 (sf3), 6.8x at 444
# (sf10) — BENCH_r10_jaccard_scale.json
_PREFIX_COST_RATIO = 64
# lsh_candidate_pairs bucket chunking (round-11, VERDICT item 4): at or
# above the stats gate, or when the statistic is missing, collision buckets
# are built in id-sorted chunks of at most _LSH_CHUNK_CAP ids, bounding
# every collect_list aggregation buffer at ~512 KB (an adversarial
# mass-dup bucket previously materialized the whole bucket — O(corpus) —
# in ONE buffer). Below the gate the round-10 single-array plan runs
# unchanged (the bench scales sit far below it; sf0.1 ≈ 0.5 MB, sf1 ≈ 5 MB
# of Catalyst-estimated shingle input).
_LSH_CHUNK_CAP = 65536
_LSH_CHUNK_STATS_GATE = 64 * 1024 * 1024


def _plan_size_estimate(df: DataFrame) -> int | None:
    """Catalyst's driver-side size estimate of ``df`` in bytes (no job), or
    None when the statistic is unavailable (no JVM plan, or stats fail)."""
    try:
        return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))
    except (AttributeError, ValueError, Py4JError):
        return None


def minhash_lane_params(n_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) per minhash lane. a < 2^30 keeps a·s32 + b
    below 2^63 on BOTH engines (DuckDB BIGINT overflow raises; Spark's
    would silently wrap) — the bound is part of the cross-engine contract."""
    import random

    rnd = random.Random(_LANE_SEED)
    return [(rnd.randrange(1, 1 << 30), rnd.randrange(0, 1 << 30)) for _ in range(n_hashes)]


def shingle_hash_expr(shingle_col):
    """60-bit integer shingle hash: first 15 hex chars of md5, base-16
    decoded. One md5 per shingle feeds every minhash lane, and all joins/
    aggregates downstream move 8-byte ints instead of hex strings. md5 is
    the hash both engines share, so the oracle reproduces it exactly."""
    return F.conv(F.substring(F.md5(shingle_col), 1, 15), 16, 10).cast("long")


def _lane(a: int, b: int):
    """Minhash lane (a·s32 + b) mod P over s32 = sh mod 2^32, as a one-arg
    function — usable on a column and as a higher-order-function lambda
    (pyspark binds HOF variables from the SIGNATURE, so the lane constants
    are closed over here rather than passed as default args)."""
    return lambda s32: (F.lit(a) * s32 + F.lit(b)) % F.lit(MINHASH_PRIME)


def _band_fold(lanes: list, bands: int):
    """Array of (band_id, band_sig) structs from k lane values: band b folds
    lanes [b·r, (b+1)·r) polynomially mod MINHASH_PRIME, r = k / bands —
    integer arithmetic both engines evaluate identically (each partial stays
    under 2^52), and band joins move 8-byte keys. Raises ValueError unless
    bands >= 1 and k is a positive multiple of bands: otherwise lanes would
    be dropped silently, or every band would key on one lane."""
    n_hashes = len(lanes)
    if bands < 1 or n_hashes < 1 or n_hashes % bands:
        raise ValueError(
            f"n_hashes ({n_hashes}) must be a positive multiple of bands ({bands})"
        )
    rows = n_hashes // bands
    fold = lambda acc, h: (acc * F.lit(1000003) + h) % F.lit(MINHASH_PRIME)
    sigs = [reduce(fold, lanes[b * rows + 1 : (b + 1) * rows], lanes[b * rows]) for b in range(bands)]
    return F.array(
        *[F.struct(F.lit(b).alias("band_id"), s.alias("band_sig")) for b, s in enumerate(sigs)]
    )


def _explode_bands(df: DataFrame, id_col: str, band_arr) -> DataFrame:
    """(id, band_id, band_sig) rows from a ``_band_fold`` array column."""
    return df.select(col(id_col), F.explode(band_arr).alias("bd")).select(
        id_col, col("bd.band_id"), col("bd.band_sig")
    )


def shingle_hashes(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Distinct shingles as (id, sh) 60-bit integer hash rows."""
    sh = shingles(df, text_col, id_col, n)
    return sh.select(col(id_col), shingle_hash_expr(col("shingle")).alias("sh"))


def minhash_signatures(
    sh: DataFrame, id_col: str = "doc_id", n_hashes: int = 16
) -> DataFrame:
    """MinHash signature per document from hashed shingles (id, sh):
    signature_i = min over shingles of lane_i (see _lane).

    min() is algebraic, so Spark computes it map-side and shuffles only
    n_hashes longs per document regardless of document size; the affine
    family costs two multiply-adds per lane instead of an md5.
    """
    s32 = col("sh") % F.lit(_TWO32)
    aggs = [
        F.min(_lane(a, b)(s32)).alias(f"h{i}")
        for i, (a, b) in enumerate(minhash_lane_params(n_hashes))
    ]
    return sh.groupBy(id_col).agg(*aggs)


def lsh_bands(sig: DataFrame, id_col: str = "doc_id", bands: int = 4, rows: int = 4) -> DataFrame:
    """Fold a minhash signature (lanes h0..h{bands·rows-1}) into band
    signatures: (id, band_id, band_sig) — see _band_fold."""
    arr = _band_fold([col(f"h{i}") for i in range(bands * rows)], bands)
    return _explode_bands(sig, id_col, arr)


def _band_table(
    sh: DataFrame, id_col: str = "doc_id", n_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """Band table (id, band_id, band_sig) of hashed shingles (id, sh):
    minhash signature → band fold."""
    arr = _band_fold([col(f"h{i}") for i in range(n_hashes)], bands)
    return _explode_bands(minhash_signatures(sh, id_col, n_hashes), id_col, arr)


def lsh_candidate_pairs(
    sh: DataFrame,
    id_col: str = "doc_id",
    n_hashes: int = 16,
    bands: int = 4,
    chunk_cap: int | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs: docs sharing any LSH band, over
    hashed shingles (id, sh).

    Round-10 shape (guide §2.3/§2.4; same family as the d06 grouped
    index): the band table is grouped by (band_id, band_sig) ONCE and
    pairs are generated per collision bucket as i<j combinations over the
    sorted id array — the old two-sided self-join shuffled the band table
    twice and streamed f² rows per bucket through the join to keep f(f-1)/2.
    Every singleton bucket (the overwhelming majority — docs without a
    near-dup) dies in the size(ids) >= 2 filter BEFORE pair generation,
    where the self-join shuffled those rows on both sides just to join
    them with themselves. Pair rows stream through posexplode + slice
    (per-row state stays O(bucket), never O(bucket²) — a mass-dup bucket
    degrades exactly like the join did: output-bound, not memory-bound).

    The collision-bucket table is the materialized LSH index — persist
    marks it compute-once (the standard build-the-index-once posture at
    cluster scale; the candidate consumers — clusters, pagerank,
    containment, confirm passes — all read the same index).

    Memory bound (round-11, VERDICT item 4): the grouped form holds one
    collision bucket per aggregation buffer, which an adversarial mass-dup
    corpus makes O(corpus) in a single buffer (~80 MB per 10⁷-id bucket).
    At or above a Catalyst-stats gate, when the statistic is unavailable,
    or when ``chunk_cap`` forces it, the index is built as id-sorted
    CHUNKS of at most ``chunk_cap`` ids per row: a window (count + row_number over the bucket key; spillable
    sort-based buffering, unlike an aggregation buffer) sizes and splits
    each bucket, the groupBy reuses the window's exchange (same key
    prefix), and every collect_list buffer is bounded at ~512 KB. Pair
    generation adds cross-chunk pairs via a self-join of the persisted
    chunk table on the bucket key: chunks are id-ordered, so chunk i's ids
    all precede chunk j's for i<j and the (doc_a < doc_b) orientation is
    preserved without comparisons. Candidate SET identical either way
    (parity test on a mega-bucket corpus); singleton buckets still die
    before any pair work (window count >= 2 — now BEFORE the aggregate,
    where the old plan aggregated them first and filtered after).
    ``chunk_cap``: None = auto (stats gate), 0 = never chunk, int = force
    that cap. ``n_hashes`` must be a positive multiple of ``bands``.
    """
    bd = _band_table(sh, id_col, n_hashes, bands)
    cap = chunk_cap
    if cap is None:
        est = _plan_size_estimate(sh)
        # fail closed: without a statistic the bounded chunked index runs
        cap = _LSH_CHUNK_CAP if est is None or est >= _LSH_CHUNK_STATS_GATE else 0
    buckets = _collision_buckets(bd, id_col, cap).persist()
    pairs = _pairs_from_buckets(buckets)
    if cap:
        pairs = pairs.unionByName(_cross_chunk_pairs(buckets))
    return pairs.distinct()


def _collision_buckets(
    bd: DataFrame, id_col: str = "doc_id", cap: int = 0
) -> DataFrame:
    """Collision buckets (band_id, band_sig[, __chunk], ids) from a band
    table — UNPERSISTED; callers choose the cache posture
    (lsh_candidate_pairs persists the index; the d06 bound probe
    persists-then-releases). ``cap`` > 0 splits buckets into id-sorted
    chunks of at most ``cap`` ids (bounded aggregation buffers)."""
    if not cap:
        return (
            bd.groupBy("band_id", "band_sig")
            .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
            .where(F.size("ids") >= 2)
        )
    from pyspark.sql import Window as _W

    wk = _W.partitionBy("band_id", "band_sig").orderBy(col(id_col))
    full = wk.rowsBetween(_W.unboundedPreceding, _W.unboundedFollowing)
    pre = bd.select(
        "band_id",
        "band_sig",
        col(id_col),
        F.count(F.lit(1)).over(full).alias("__f"),
        F.row_number().over(wk).alias("__rn"),
    ).where(col("__f") >= 2)
    return (
        pre.groupBy(
            "band_id", "band_sig", F.expr(f"(__rn - 1) div {int(cap)}").alias("__chunk")
        )
        # input arrives id-sorted from the window, but collect_list order
        # is an implementation detail — sort_array keeps determinism
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
    )


def _pairs_from_buckets(buckets: DataFrame) -> DataFrame:
    """i<j candidate pairs from sorted collision-bucket id arrays
    (posexplode + slice: per-row state stays O(bucket), never O(bucket²)).
    NOT distinct-ed — callers dedup once over all pair sources."""
    return (
        buckets.select(F.posexplode("ids").alias("i", "doc_a"), col("ids"))
        .select(
            "doc_a",
            F.explode(
                F.slice("ids", col("i") + F.lit(2), F.size("ids"))
            ).alias("doc_b"),
        )
    )


def _cross_chunk_pairs(buckets: DataFrame) -> DataFrame:
    """Pairs across chunks of the same bucket: chunk arrays are id-ordered
    (row_number over an id-ordered window), so for __chunk a < b every id
    of a precedes every id of b — the full cross product is already
    (doc_a < doc_b)-oriented. Streams one pair row per combination; per-row
    state is two arrays of <= cap ids."""
    a = buckets.select(
        "band_id", "band_sig", col("__chunk").alias("__ca"), col("ids").alias("__ia")
    )
    b = buckets.select(
        "band_id", "band_sig", col("__chunk").alias("__cb"), col("ids").alias("__ib")
    )
    return (
        a.join(b, ["band_id", "band_sig"])
        .where(col("__ca") < col("__cb"))
        .select(F.explode("__ia").alias("doc_a"), "__ib")
        .select("doc_a", F.explode("__ib").alias("doc_b"))
    )


def _pair_keys(arr, packable: bool, prune_q: int | None = None):
    """Exploded i<j pair keys ``pk`` over each row's sorted array ``arr``:
    a packed long a·2³² + b when ``packable``, else a struct (a, b).

    With ``prune_q``, elements are (a, n) structs (see _sorted_idn) and the
    size filter runs INSIDE pair generation, before anything is
    materialized or shuffled: exact jac <= min(na, nb)/max(na, nb), so
    1e6·min < (q-1)·max proves rounded jac < q and the pair is dropped.
    """

    def key(x, y):
        a, b = (x, y) if prune_q is None else (x["a"], y["a"])
        k = a * F.lit(_TWO32) + b if packable else F.struct(a.alias("a"), b.alias("b"))
        if prune_q is None:
            return k
        keep = (F.least(x["n"], y["n"]) * F.lit(1_000_000)) >= (
            F.lit(prune_q - 1) * F.greatest(x["n"], y["n"])
        )
        return F.when(keep, k)

    pairs = F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + F.lit(2), F.size(arr)), lambda y: key(x, y)
            ),
        )
    )
    return F.explode(pairs if prune_q is None else F.array_compact(pairs)).alias("pk")


def _pair_cols(packable: bool) -> list:
    """(doc_a, doc_b) columns decoding the pair key ``pk``."""
    if packable:
        return [
            F.shiftright(col("pk"), 32).alias("doc_a"),
            col("pk").bitwiseAND(F.lit(_TWO32 - 1)).alias("doc_b"),
        ]
    return [col("pk.a").alias("doc_a"), col("pk.b").alias("doc_b")]


def _sorted_idn(id_col: str):
    """Aggregate: the group's sorted (a = id, n = set size) structs, ``idn``."""
    return F.sort_array(
        F.collect_list(F.struct(col(id_col).alias("a"), col("n").alias("n")))
    ).alias("idn")


def _pinned_smj_intersection(
    cand: DataFrame, sh_a: DataFrame, sh_b: DataFrame, a: str, b: str, id_col: str, out: str
) -> DataFrame:
    """(a, b, out = |A∩B|) for candidate pairs (a, b) over shingle tables
    (id, sh), with both confirm joins pinned to sort-merge and each side
    first cut to the candidate ids.

    The confirm joins carry UNBOUNDED key skew: under mass duplication one
    hot document can pair with thousands of others, so a single join
    partition can hold most of the candidate set. AQE's SMJ→hash
    conversion gates on the AVERAGE map-output size and skew splitting
    cannot shrink a skewed BUILD side (the whole partition must fit one
    in-task hash map) — measured at sf100 under an 8 GB heap: "Can't
    acquire 134217728 bytes to build hash relation". The merge hint on
    both inputs sorts and SPILLS gracefully at any skew.

    Semi-join prefilter (round-10, guide §3): the SMJ used to sort the FULL
    shingle sets to serve the candidate pairs — at sf1 a 2.6M-row sort
    against 13 pairs (0.88 s of d31's 2.3 s). Each side is first cut by a
    semi-join on the DISTINCT candidate ids. Exactness: the inner joins
    restrict to those very ids, so the aggregate input is row-identical.
    Skew-safety: the semi-join build side is a set of UNIQUE ids, and under
    mass duplication (every doc a candidate) the filter keeps everything
    and the plan degrades to exactly the un-cut pinned SMJ. ``cand`` is
    read three times — callers persist it.
    """
    la = sh_a.select(col(id_col).alias(a), "sh").join(cand.select(a).distinct(), a, "leftsemi")
    lb = sh_b.select(col(id_col).alias(b), "sh").join(cand.select(b).distinct(), b, "leftsemi")
    return (
        cand.hint("merge")
        .join(la.hint("merge"), a)
        .hint("merge")
        .join(lb.hint("merge"), [b, "sh"])
        .groupBy(a, b)
        .agg(F.count(F.lit(1)).alias(out))
    )


def _semi_intersection(pairs: DataFrame, sh: DataFrame, id_col: str, out: str) -> DataFrame:
    """(doc_a, doc_b, out = |A∩B|) for candidate pairs over one shingle
    table (id, sh): doc_a's shingles join on doc_a, then a semi-join keeps
    the ones doc_b also holds — one keyed aggregate, never the corpus cross
    product."""
    return (
        pairs.join(sh.select(col(id_col).alias("doc_a"), "sh"), "doc_a")
        .join(sh.select(col(id_col).alias("doc_b"), "sh"), ["doc_b", "sh"], "leftsemi")
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias(out))
    )


def _join_sizes(pairs: DataFrame, sizes: DataFrame, id_col: str) -> DataFrame:
    """Pairs (doc_a, doc_b, ...) with both docs' set sizes ``na``, ``nb``
    from ``sizes`` (id, n)."""
    na = sizes.select(col(id_col).alias("doc_a"), col("n").alias("na"))
    nb = sizes.select(col(id_col).alias("doc_b"), col("n").alias("nb"))
    return pairs.join(na, "doc_a").join(nb, "doc_b")


def jaccard_topk_pairs(
    sh: DataFrame,
    id_col: str = "doc_id",
    k: int = 20,
    max_df: int = 1000,
    prune_threshold: int = 1_500_000,
) -> DataFrame:
    """Top-k most-similar document pairs by exact shingle Jaccard.

    Round-10 shape (optimization round; guide §1.2/§2.3/§2.4 — measured
    24.6 s → 14.4 s → 5.6 s same-window at sf1, profile in
    OPTIMIZATION_r10.md):

    * the inverted index is grouped by shingle ONCE (`collect_list`); the
      ``max_df`` hot-shingle cap is a ``size(ids) <= max_df`` filter on the
      grouped rows — the old df-count pass + broadcast anti-join and one
      full shuffle of the index are gone;
    * candidate pairs are generated per group from the SORTED id array as
      i<j combinations — exactly f(f-1)/2 rows where the old self-join
      emitted f² and filtered half;
    * profiling showed the pair aggregate barely collapses (117M generated
      → 106M distinct at sf1), so the (doc_a, doc_b) hash-aggregate IS the
      cost. Two independent attacks, both exact:

      1. **Packed keys** — when one probe job over the persisted grouped
         index proves every id fits [0, 2³¹), the pair becomes ONE long
         (a·2³² + b): the aggregate hashes/shuffles a fixed-width 8-byte
         key (guide §2.3 "narrower types"). Ids outside the bound keep a
         struct key — correct for arbitrary longs.
      2. **Threshold prune** (the size filter of the AllPairs/PPJoin
         similarity-join family — exact Jaccard is bounded above by the
         set-size ratio, jac(A,B) ≤ min(|A|,|B|)/max(|A|,|B|)): first
         derive a PROVEN lower bound q on the top-k'th ROUNDED jaccard by
         exhibiting k real pairs — exact-duplicate shingle-set classes
         (one md5-of-sorted-set pass; a dup class of m docs certifies
         m(m-1)/2 pairs at jac 1.0) or, when those are fewer than k,
         exact confirmation of LSH candidate pairs. Then pair generation
         drops every pair whose integer size test
         1e6·min(na,nb) < (q-1)·max(na,nb) proves its rounded jac < q —
         such a pair can never displace the k exhibited ones. Ties at q
         survive (strict inequality), so the output — ordered by the
         SAME rounded jac — is bit-identical to the unpruned plan: at sf1
         the 117M-pair flood shrinks to 1.6M before the aggregate.
         The bound probe is gated on ``prune_threshold`` kept-index rows:
         below it the flood is cheaper than the probe and the unpruned
         plan runs unchanged.
      3. **Prefix filter** (the other member of the PPJoin family): under
         a STRONG bound (q ≥ ``_PREFIX_MIN_Q``) AND a corpus where pair
         enumeration dwarfs linear index passes (Σf(f−1)/2 ≥
         ``_PREFIX_COST_RATIO``·total, both read in the same probe job),
         pair generation runs only over each doc's rarest
         |doc| − ⌈t*·|doc|⌉ + 1 shingles under a global (df, sh) order —
         every pair that can still make top-k provably co-occurs there —
         then candidates confirm by exact intersection over the full
         index. Measured: flood≈prefix at ratio 44 (sf1), prefix 2.4x at
         133 (sf3), 6.8x at 444 (sf10).

    ``max_df`` caps shingle document frequency BEFORE pair generation: a
    stopword shingle shared by 1M docs would alone generate ~10^12 pair
    rows — standard near-dup practice ("common-shingle blind"). Set sizes
    |A|, |B| are computed over the SAME filtered shingle space, so jac
    stays a true Jaccard of the capped sets. orderBy+limit compiles to
    TakeOrderedAndProject — no global sort.
    """
    # the grouped index feeds every downstream consumer (probe, sizes,
    # dup-class signatures, pair generation) and Catalyst does not CSE
    # across them — persist marks it compute-once (MEMORY_AND_DISK; the
    # standard materialize-the-inverted-index step at cluster scale).
    # Session hygiene: this persist (and the prefix branch's candidate
    # persist) lives inside the RETURNED plan, so it cannot be released
    # here; it is dropped by unpersist()/ContextCleaner when the caller
    # drops the plan. Probe-only intermediates (the A2 bucket index) ARE
    # released before return (round-10 verdict item 7).
    # Catalyst's driver-side size estimate of the shingle input (no job)
    # gates the probe job below. ~linear in corpus size here.
    est = _plan_size_estimate(sh)
    grouped = (
        sh.groupBy("sh")
        .agg(F.collect_list(id_col).alias("ids"))
        .where(F.size("ids") <= max_df)
        .select("sh", F.array_sort("ids").alias("ids"))
        .persist()
    )
    # small-input gate (guide §1.2: don't pay a driver job where it buys
    # nothing): the probe exists to (a) prove ids packable and (b) read
    # `total` for the prune gate. Far below
    # the prune threshold both answers are worthless — the pair aggregate
    # is tiny either way — so the probe job is skipped and the proven
    # struct-key unpruned plan runs. An unavailable or OVERestimated stat
    # runs the probe (probe cost wasted at worst); an UNDERestimated stat
    # skips it, losing key packing and the prune for that call — a
    # perf-only miss, never a correctness one (the unpruned struct-key
    # plan is exact at any size). An explicitly lowered prune_threshold
    # (how the branch tests force pruning) disables the gate entirely.
    if est is not None and est < _PROBE_STATS_GATE and prune_threshold > _PROBE_STATS_GATE:
        probe = None
    else:
        probe = grouped.agg(
            F.min(F.element_at("ids", 1)).alias("lo"),
            F.max(F.element_at("ids", -1)).alias("hi"),
            F.sum(F.size("ids")).alias("rows"),
            F.sum(
                F.expr("cast(size(ids) as bigint) * (size(ids) - 1) div 2")
            ).alias("pairs"),
        ).head()
    packable = (
        probe is not None
        and probe["lo"] is not None
        and probe["lo"] >= 0
        and probe["hi"] < 1 << 31
    )
    total = (probe["rows"] or 0) if probe is not None else 0
    pairs_enum = (probe["pairs"] or 0) if probe is not None else 0
    kept = grouped.select("sh", F.explode("ids").alias(id_col))
    sizes = kept.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))

    q = 0
    if total >= prune_threshold and k >= 1:
        # phase A1: exact-duplicate shingle-set classes — each class of m
        # docs certifies m(m-1)/2 pairs at jac exactly 1.0 (rounded 1e6)
        ndup = (
            kept.groupBy(id_col)
            .agg(
                F.md5(
                    F.concat_ws(",", F.sort_array(F.collect_list("sh")))
                ).alias("__sig")
            )
            .groupBy("__sig")
            .agg(F.count(F.lit(1)).alias("m"))
            .agg(F.sum(F.expr("m * (m - 1) div 2")))
            .head()[0]
            or 0
        )
        if ndup >= k:
            q = 1_000_000
        else:
            # phase A2: exact-confirm LSH candidates; ANY k confirmed pairs
            # give a valid lower bound (recall affects speed, not
            # correctness — q stays 0 if fewer than k confirm). The 50k
            # sample is ORDERED (TakeOrderedAndProject — bounded heap per
            # partition) so the derived bound, hence the chosen plan path,
            # is deterministic across runs/partitionings (round-10 ADVICE).
            bkts = _collision_buckets(_band_table(kept, id_col), id_col).persist()
            try:
                cand = (
                    _pairs_from_buckets(bkts)
                    .distinct()  # duplicate pairs would inflate intersections
                    .orderBy("doc_a", "doc_b")
                    .limit(50_000)
                )
                qv = (
                    _join_sizes(_semi_intersection(cand, kept, id_col, "i"), sizes, id_col)
                    .select(
                        F.floor(
                            col("i") / (col("na") + col("nb") - col("i")) * 1e6
                            + F.lit(0.5)
                        )
                        .cast("long")
                        .alias("qv")
                    )
                    .orderBy(col("qv").desc())
                    .limit(k)
                    .collect()
                )
                q = int(qv[-1][0]) if len(qv) >= k else 0
            finally:
                # the bound is collected (or the probe failed) — the bucket
                # index is dead; release it so repeated server-path calls
                # don't pin storage
                bkts.unpersist()

    if (
        q >= _PREFIX_MIN_Q
        and k >= 1
        and pairs_enum >= _PREFIX_COST_RATIO * total
    ):
        # PPJoin/AllPairs PREFIX filter (second member of the similarity-
        # join family; the size filter above is the first). Exactness:
        # rounded(jac) >= q  ⟺  jac >= t* = (2q-1)/2e6. If jac(A,B) >= t*
        # then |A∩B| >= t*·max(|A|,|B|) >= ceil(t*·|A|) = α(A) (integer),
        # and the SMALLEST shared shingle e under any fixed total order
        # must sit within the first |A| - α(A) + 1 shingles of A (were e
        # deeper, fewer than α(A) shingles of A could be shared at all) —
        # symmetrically for B. So every pair that can still make top-k
        # co-occurs in some shingle group restricted to BOTH docs'
        # prefixes under the global (df asc, sh asc) order; pairs only
        # ever DROPPED here have rounded jac < q and cannot displace the
        # k exhibited pairs. Candidates then confirm by exact
        # intersection count over the FULL kept index (the d31 pinned-SMJ
        # + distinct-id semi-filter pattern — candidate multiplicity
        # carries the same unbounded skew). Gated on a STRONG bound
        # (q >= _PREFIX_MIN_Q ⟹ prefix length <= ~0.1·|doc| + 1): at
        # weak bounds the prefix keeps most of each doc and the direct
        # pruned flood below is cheaper than candidates + confirm joins —
        # AND on the measured enumeration/index cost-ratio crossover
        # (_PREFIX_COST_RATIO; below it the flood's Σf(f−1)/2 is cheap
        # enough that two windows + confirm joins cost more than they
        # save).
        # At q = 1e6 (a dup-class-certified bound) each doc indexes
        # exactly ONE shingle — its globally rarest — and the f(f-1)/2
        # enumeration collapses to candidate-output size.
        from pyspark.sql import Window as _W

        w_ord = _W.partitionBy(id_col).orderBy(col("__df").asc(), col("sh").asc())
        w_doc = _W.partitionBy(id_col)
        pre = grouped.select(
            "sh", F.size("ids").alias("__df"), F.explode("ids").alias(id_col)
        ).select(
            id_col,
            "sh",
            F.row_number().over(w_ord).alias("__pos"),
            F.count(F.lit(1)).over(w_doc).alias("n"),
        )
        alpha = F.expr(f"(({2 * q - 1} * n) + 1999999) div 2000000")
        prefix_rows = pre.where(col("__pos") <= col("n") - alpha + F.lit(1))
        cand = (
            prefix_rows.groupBy("sh")
            .agg(_sorted_idn(id_col))
            .where(F.size("idn") >= 2)
            .select(_pair_keys(col("idn"), packable, q))
            .select(*_pair_cols(packable))
            # three consumers (two id sets + the pair join); no cross-branch CSE
            .distinct()
            .persist()
        )
        shared = _pinned_smj_intersection(cand, kept, kept, "doc_a", "doc_b", id_col, "shared")
    else:
        if q > 1:
            # sizes ride the arrays so the prune happens INSIDE pair generation
            src = (
                kept.join(sizes, id_col)
                .groupBy("sh")
                .agg(_sorted_idn(id_col))
                .where(F.size("idn") >= 2)
                .select(_pair_keys(col("idn"), packable, q))
            )
        else:
            src = grouped.where(F.size("ids") >= 2).select(_pair_keys(col("ids"), packable))
        count = F.count(F.lit(1)).alias("shared")
        if packable:
            shared = src.groupBy("pk").agg(count).select(*_pair_cols(True), "shared")
        else:
            shared = src.groupBy(*_pair_cols(False)).agg(count)
    jac = col("shared") / (col("na") + col("nb") - col("shared"))
    return (
        _join_sizes(shared, sizes, id_col)
        .select("doc_a", "doc_b", (F.floor(jac * 1e6 + F.lit(0.5)) / 1e6).alias("jac"))
        .orderBy(col("jac").desc(), "doc_a", "doc_b")
        .limit(k)
    )


def containment_pairs(
    sh: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Asymmetric near-containment over candidate pairs: for each (a, b),
    containment(a→b) = |Sₐ ∩ S_b| / |Sₐ| over distinct shingle hashes.

    Jaccard misses the quote/excerpt case — a 50-shingle doc fully embedded
    in a 5000-shingle doc has Jaccard ≈ 0.01 but containment(small→big) =
    1.0 (the Broder containment measure). Scoring is restricted to the LSH
    candidate set, so cost is |pairs| × involved-doc shingles, never the
    corpus cross product: the shingle index joins once per side keyed on
    doc id, the intersection count is one keyed aggregate.

    Reference has no sub-document dedup at all; this is the training-data
    scale path (detect boilerplate wrappers, quoted reposts).

    Round-11 (guide §3; the d31 semi-join prefilter pattern): every
    consumer below — the two intersection legs AND the set-size
    aggregate — only ever reads shingles of docs that appear in ``pairs``,
    so the shingle index is first cut by a ``leftsemi`` on the DISTINCT
    candidate ids and the cut table is what gets persisted (candidate-
    sized, not corpus-sized). Exactness: the inner joins restrict to those
    very ids and per-doc counts are untouched by dropping whole docs, so
    every downstream row is identical. Skew-safety: the semi-join build
    side is a set of unique ids (pair-multiplicity skew cannot occur on a
    distinct-id set); under mass duplication the filter keeps everything
    and the plan degrades to exactly the old shape. Session hygiene: the
    two persists live inside the returned plan and are released by
    ``unpersist``/``ContextCleaner`` when the plan is dropped.
    """
    pairs = pairs.persist()  # three consumers (id set + pair join legs)
    ids = (
        pairs.select(col("doc_a").alias(id_col))
        .union(pairs.select(col("doc_b").alias(id_col)))
        .distinct()
    )
    kept = sh.join(ids, id_col, "leftsemi").persist()
    sizes = kept.groupBy(id_col).agg(F.count("*").alias("n"))
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return (
        _join_sizes(_semi_intersection(pairs, kept, id_col, "shared"), sizes, id_col)
        .select(
            "doc_a",
            "doc_b",
            r6(col("shared") / col("na")).alias("cont_a"),
            r6(col("shared") / col("nb")).alias("cont_b"),
            r6(F.greatest(col("shared") / col("na"), col("shared") / col("nb"))).alias(
                "containment"
            ),
        )
    )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32) -> DataFrame:
    """Per-document 32-bit SimHash.

    word hash = first 8 hex chars of md5 (32 bits); bit b of the signature =
    sign of Σ_words (±1 by bit b of the word hash). Expressed as explode +
    one groupBy with `bits` conditional-sum aggregates: per-bit votes are
    algebraic, so they combine map-side inside whole-stage codegen and
    shuffle `bits` ints per doc. (A higher-order-function formulation was
    ~20× slower: bits × words interpreted lambda evals per row.)

    No parallelize_input here, deliberately: unlike shingles(), the only
    pre-shuffle work is one md5 per word (measured 0.15s at sf0.1) and the
    groupBy redistributes everything anyway — the extra raw-text
    repartition cost 0.45s for nothing. Input-splitting at real scale
    comes from the source layout, not an injected shuffle.
    """
    w = words_expr(col(text_col))
    h = F.conv(F.substring(F.md5(col("__w")), 1, 8), 16, 10).cast("long")
    exploded = df.select(col(id_col), F.explode(w).alias("__w")).select(
        col(id_col), h.alias("__h")
    )
    # round-10: sum the raw bit (branch-free) and recover the ±1 vote sign
    # from 2·c_b >= n — same integer semantics as sum(when(bit,1).otherwise(-1))
    # >= 0, one fewer conditional per row per lane in the partial aggregate
    # (~10% same-window; a 3-counters-per-long packing A/B'd no better — the
    # per-row cost is the 32 bit-extracts, not the aggregate slots)
    votes = exploded.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("__n"),
        *[
            F.sum(F.shiftright(col("__h"), b).bitwiseAND(F.lit(1))).alias(f"v{b}")
            for b in range(bits)
        ],
    )
    bit_terms = [
        F.when(col(f"v{b}") * 2 >= col("__n"), F.lit(1 << b)).otherwise(F.lit(0))
        for b in range(bits)
    ]
    sig = reduce(lambda x, y: x + y, bit_terms).cast("long")
    return votes.select(col(id_col), sig.alias("simhash"))


def _large_star(edges: DataFrame) -> DataFrame:
    """One large-star round: every node connects its strictly-larger
    neighbors to the minimum of its closed neighborhood. Expressed as ONE
    window min over the symmetrized edges — no join, single shuffle; the
    output may carry duplicates (bounded by 2|E|), which the small-star
    distinct collapses."""
    from pyspark.sql.window import Window

    sym = edges.union(edges.select(col("v").alias("u"), col("u").alias("v")))
    withm = sym.select(
        "u", "v", F.least(F.min("v").over(Window.partitionBy("u")), col("u")).alias("__m")
    )
    return withm.where(col("v") > col("u")).select(
        col("v").alias("u"), col("__m").alias("v")
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One small-star round: orient edges high→low, then connect every
    smaller neighbor (and the node itself) to the minimum neighbor. One
    window min + one explode + the canonicalizing distinct — two shuffles,
    no join."""
    from pyspark.sql.window import Window

    e = edges.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
    withm = e.select("u", "v", F.min("v").over(Window.partitionBy("u")).alias("__m"))
    # per oriented row emit (v, m) [unless v IS m] and (u, m); duplicates of
    # (u, m) across the node's rows collapse in the distinct
    emitted = withm.select(
        F.explode(
            F.array(
                F.when(
                    col("v") != col("__m"),
                    F.struct(col("v").alias("u"), col("__m").alias("v")),
                ),
                F.struct(col("u"), col("__m").alias("v")),
            )
        ).alias("__e")
    ).where(col("__e").isNotNull())
    return emitted.select(col("__e.u").alias("u"), col("__e.v").alias("v")).distinct()


def connected_components(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 20,
    stats: dict | None = None,
    local_threshold: int = 1_000_000,
) -> DataFrame:
    """Near-dup clusters from candidate pairs: alternating large-star /
    small-star contraction (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14 — the GraphFrames/GraphX production
    algorithm).

    The keep-one-per-cluster step after LSH: (node, cluster) where cluster
    is the min doc id reachable through the pair graph — docs keep iff
    node == cluster. Unlike plain label propagation (rounds = graph
    diameter, full label-table checkpoint + driver sync per round — the
    round-2 weak-at-scale flag), star contraction halves component height
    every round and provably converges in O(log n) rounds on any topology,
    including pathological chains. Each round is two equi-joins over the
    EDGE set (which only shrinks toward one edge per non-root node), the
    convergence probe doubles as the materializing action, and lineage is
    truncated only every other round — half the checkpoint I/O of the
    per-iteration Pregel pattern. Deterministic: min/greatest/distinct are
    order-free.
    """
    edges = (
        pairs.select(col(a_col).alias("u"), col(b_col).alias("v"))
        .where(col("u") != col("v"))
        # materialize the candidate-pair pipeline ONCE — without this every
        # star round's convergence action re-executes the upstream LSH plan.
        # LAZY (round-11): the gate count below is the first action, so
        # materialize-and-count is one job instead of an eager checkpoint
        # job plus a count job (r11 A/B: marginal, ~30-50 ms at sf0.1, but
        # directionally positive in every interleaved sample and one fewer
        # scheduling round-trip at any scale)
        .localCheckpoint(eager=False)
    )
    # adaptive small-graph path: the POST-LSH candidate graph is usually
    # tiny relative to the corpus (it holds only near-duplicate pairs), and
    # a size-gated driver union-find beats log n distributed rounds the same
    # way AQE broadcasts a small join side. The gate is on EDGES, not corpus
    # size — a pathological graph above the threshold takes the distributed
    # star-contraction loop below. The count is free (edges just
    # materialized); the collect and the union-find dict are bounded by
    # local_threshold edges (~16 MB per million).
    if edges.count() <= local_threshold:
        parent: dict = {}

        def _find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u, v in edges.collect():
            parent.setdefault(u, u)
            parent.setdefault(v, v)
            ru, rv = _find(u), _find(v)
            if ru != rv:
                # attach the larger root under the smaller so every root is
                # its component's minimum — deterministic labels
                hi, lo = (ru, rv) if ru > rv else (rv, ru)
                parent[hi] = lo
        if stats is not None:
            stats["rounds"], stats["path"] = 0, "local"
        from pyspark.sql.types import StructField, StructType

        utype = edges.schema["u"].dataType
        schema = StructType(
            [StructField("node", utype), StructField("label", utype)]
        )
        spark = nodes.sparkSession
        labels = local_frame(spark, [(n, _find(n)) for n in parent], schema)
        base = nodes.select(col(id_col).alias("node"))
        return base.join(F.broadcast(labels), "node", "left").select(
            col("node").alias(id_col),
            F.coalesce(col("label"), col("node")).alias("cluster"),
        )
    if stats is not None:
        stats["path"] = "distributed"
    prev_chk = None
    for i in range(max_iter):
        edges = _small_star(_large_star(edges))
        if i % 2 == 1:
            # truncate lineage every other round only — between checkpoints
            # the probe's shuffle map outputs are reused (skipped stages),
            # so the per-round probe does not re-execute prior rounds
            edges = edges.localCheckpoint(eager=True)
        # convergence probe: count + order-free hash-sum of the edge set —
        # the distinct-ed set is stable iff converged
        row = edges.agg(
            F.count("*").alias("n"),
            F.sum(F.hash("u", "v").cast("long")).alias("h"),
        ).first()
        chk = (row["n"], row["h"])
        if stats is not None:
            stats["rounds"] = i + 1
        if chk == prev_chk:
            break
        prev_chk = chk
    # at the fixed point every non-root node holds exactly one (node, root)
    # edge; roots and isolated nodes label themselves
    stars = (
        edges.groupBy(col("u").alias("node")).agg(F.min("v").alias("label"))
    )
    base = nodes.select(col(id_col).alias("node"))
    return base.join(stars, "node", "left").select(
        col("node").alias(id_col),
        F.coalesce(col("label"), col("node")).alias("cluster"),
    )


def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    sign_bits: int = 4,
) -> DataFrame:
    """SemDeDup-style embedding near-duplicate removal: block vectors into
    deterministic cells, compare cosine similarity only WITHIN a cell, and
    mark every vector that has a more-canonical (lower-id) neighbor at
    ``sim >= threshold`` as a duplicate. Training-data extension; no
    reference analog.

    The cell is the sign pattern of the first ``sign_bits`` dimensions — a
    deterministic, engine-reproducible stand-in for the paper's k-means
    cells (the MLlib-KMeans path in vector.py:kmeans_centroids slots into
    the same blocking role in production). Scale posture: the only shuffle
    is keyed on the cell; cell population is bounded by raising
    ``sign_bits`` (2^b cells) — the same dial the paper turns with k. The
    pair join never leaves a cell, so no N² blowup; winners are decided by
    id in one pass — no iterative clustering. All cosine math is double
    with a fixed lane fold order, so a DuckDB oracle reproduces it
    bit-for-bit.
    """
    df = parallelize_input(df)
    cell = None
    for i in range(sign_bits):
        bit = F.when(F.element_at(col(vec_col), i + 1) > 0, 2**i).otherwise(0)
        cell = bit if cell is None else cell + bit
    base = df.select(
        col(id_col),
        cell.cast("int").alias("cell"),
        F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))").alias("__v"),
    ).withColumn(
        "__nrm",
        F.sqrt(F.expr("aggregate(__v, CAST(0 AS DOUBLE), (acc, x) -> acc + x * x)")),
        # three consumers (both join sides + the output flag join) of a pure
        # map stage — persist marks the cast/norm compute-once per action
    ).persist()
    a = base.select(
        col(id_col).alias("__ida"), col("cell"),
        col("__v").alias("__va"), col("__nrm").alias("__na"),
    )
    b = base.select(
        col(id_col).alias("__idb"), col("cell"),
        col("__v").alias("__vb"), col("__nrm").alias("__nb"),
    )
    sim = (
        F.expr(
            "aggregate(zip_with(__va, __vb, (x, y) -> x * y), "
            "CAST(0 AS DOUBLE), (acc, x) -> acc + x)"
        )
        / (col("__na") * col("__nb"))
    )
    dups = (
        a.join(b, "cell")
        .where(col("__ida") < col("__idb"))
        .where(sim >= threshold)
        .select(col("__idb").alias(id_col))
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    return (
        base.select(id_col, "cell")
        .join(dups, id_col, "left")
        .select(
            col(id_col), col("cell"),
            F.coalesce(col("is_dup"), F.lit(False)).alias("is_dup"),
        )
    )


def incremental_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Incremental-ingestion dedup: flag each document of a NEW batch that
    near-duplicates anything in the EXISTING corpus — the streaming-append
    companion to ``lsh_candidate_pairs`` (which dedups a corpus against
    itself). Training-data extension; no reference analog.

    Scale shape: the band join runs ACROSS the two frames (batch bands
    probe corpus bands — never a self-join over the union), so a small
    daily batch against a huge corpus shuffles band rows, not documents.
    Candidates then confirm by exact shingle Jaccard >= threshold with the
    intersection computed only for candidate pairs. One row per batch doc:
    (id, is_dup, dup_of = min matching corpus id).

    ``candidates`` (columns __bid, __cid) skips the band stage and confirms
    an externally-derived pair set — the streaming door computes candidates
    with per-row signatures (rowwise_lsh_bands probing a static band index)
    and hands them here for the exact-Jaccard confirm.
    """
    sh_b = shingle_hashes(batch, text_col, id_col).persist()
    sh_c = shingle_hashes(corpus, text_col, id_col).persist()
    if candidates is not None:
        cand = candidates.select("__bid", "__cid").distinct()
    else:
        bd_b = _band_table(sh_b, id_col, n_hashes, bands)
        bd_c = _band_table(sh_c, id_col, n_hashes, bands)
        cand = (
            bd_b.select(col(id_col).alias("__bid"), "band_id", "band_sig")
            .join(
                bd_c.select(col(id_col).alias("__cid"), "band_id", "band_sig"),
                ["band_id", "band_sig"],
            )
            .select("__bid", "__cid")
            .distinct()
        )
    # the confirm below consumes cand three times (pair join + two
    # semi-join id sets) and Catalyst does not CSE across branches —
    # persist marks the band join compute-once (spillable, like sh_*)
    cand = cand.persist()
    # set sizes are only ever read for docs that appear in `cand` (the
    # confirm joins are inner on __bid/__cid), so both count aggregates are
    # cut by the same distinct-id semi-join as the confirm legs below —
    # the corpus-side groupBy then counts candidate docs' shingles, never
    # the corpus's (exact: per-doc counts are untouched by dropping docs)
    def cut_sizes(sh, key, out):
        return (
            sh.join(cand.select(key).distinct(), col(id_col) == col(key), "leftsemi")
            .groupBy(id_col)
            .agg(F.count("*").alias(out))
            .withColumnRenamed(id_col, key)
        )

    nb, nc = cut_sizes(sh_b, "__bid", "__nb"), cut_sizes(sh_c, "__cid", "__nc")
    # the confirm joins are pinned to sort-merge (unbounded key skew under
    # mass duplication — see _pinned_smj_intersection); the evenly-keyed
    # band/count joins above and below stay hash-convertible
    inter = _pinned_smj_intersection(cand, sh_b, sh_c, "__bid", "__cid", id_col, "__i")
    confirmed = (
        inter.join(nb, "__bid")
        .join(nc, "__cid")
        .where(
            col("__i") / (col("__nb") + col("__nc") - col("__i"))
            >= jaccard_threshold
        )
        .groupBy("__bid")
        .agg(F.min("__cid").alias("dup_of"))
        .withColumnRenamed("__bid", id_col)
    )
    return (
        batch.select(col(id_col))
        .join(confirmed, id_col, "left")
        .select(
            col(id_col), col("dup_of").isNotNull().alias("is_dup"), col("dup_of")
        )
    )


def pagerank(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    iterations: int = 5,
    damping: float = 0.85,
    local_threshold: int = 1_000_000,
) -> DataFrame:
    """PageRank over an undirected pair graph (here: the LSH near-dup
    graph — rank centrality identifies template/boilerplate hubs that
    connected components alone can't distinguish from chance pairs).
    Training-data extension; no reference analog.

    Synchronous power iteration, fixed iteration count: each round is one
    edge-keyed join + one destination-keyed aggregate — the same Pregel
    shape as connected_components, with lineage checkpointed every other
    round. Isolated nodes settle at (1-d)/N (dangling mass is not
    redistributed — documented simplification, shared with the oracle).
    The node count is the only driver scalar.

    Round-10: the same edge-count-gated local fallback as
    connected_components (guide §1.2 — the POST-LSH near-dup graph is tiny
    relative to the corpus, and 5 distributed rounds of join+aggregate are
    pure scheduling latency on it; measured 2.26 s → 1.47 s at sf0.1; the residual is the LSH candidate pipeline itself).
    The gate is on EDGES: a graph above ``local_threshold`` symmetrized
    edges takes the distributed loop below, identical to before. Only
    ranks of edge-touching nodes are computed locally (isolated nodes
    settle at (1-d)/N after the first round — the closed form the
    distributed path also produces), so driver memory is bounded by the
    collected edge list exactly as in connected_components."""
    e = (
        pairs.select(col("doc_a").alias("src"), col("doc_b").alias("dst"))
        .unionAll(pairs.select(col("doc_b").alias("src"), col("doc_a").alias("dst")))
        .distinct()
        # materialize once: the gate count below and every consumer after it
        # (either path) reuse the computed edge set instead of re-running
        # the upstream LSH pipeline per action. LAZY: the first action (the
        # gate count) materializes and counts in one job — see
        # connected_components
        .localCheckpoint(eager=False)
    )
    n_nodes = nodes.count()
    base_val = (1.0 - damping) / n_nodes
    if e.count() <= local_threshold:
        deg_l: dict = {}
        adj: list = e.collect()
        for s, _d in adj:
            deg_l[s] = deg_l.get(s, 0) + 1
        rank_l = dict.fromkeys(deg_l, 1.0 / n_nodes)
        for _ in range(iterations):
            msum = dict.fromkeys(deg_l, 0.0)
            for s, d_ in adj:
                msum[d_] += rank_l[s] / deg_l[s]
            rank_l = {u: base_val + damping * msum[u] for u in deg_l}
        from pyspark.sql.types import DoubleType, StructField, StructType

        utype = e.schema["src"].dataType
        schema = StructType(
            [StructField("node", utype), StructField("rank", DoubleType())]
        )
        labels = local_frame(nodes.sparkSession, list(rank_l.items()), schema)
        # after >=1 iterations every node outside the edge set sits at the
        # isolated-node fixed point (1-d)/N; iterations=0 means untouched
        # initial ranks
        fill = base_val if iterations > 0 else 1.0 / n_nodes
        return (
            nodes.select(col(id_col).alias("node"))
            .join(F.broadcast(labels), "node", "left")
            .select(
                col("node").alias(id_col),
                F.coalesce(col("rank"), F.lit(fill)).alias("rank"),
            )
        )
    deg = e.groupBy("src").agg(F.count("*").alias("__deg"))
    base = F.lit(base_val)
    ranks = nodes.select(col(id_col).alias("node")).withColumn(
        "rank", F.lit(1.0 / n_nodes)
    )
    for i in range(iterations):
        contrib = (
            e.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(deg, "src")
            .groupBy("dst")
            .agg(F.sum(col("rank") / col("__deg")).alias("__m"))
        )
        ranks = (
            nodes.select(col(id_col).alias("node"))
            .join(contrib.withColumnRenamed("dst", "node"), "node", "left")
            .select(
                "node",
                (base + F.lit(damping) * F.coalesce(col("__m"), F.lit(0.0))).alias(
                    "rank"
                ),
            )
        )
        if i % 2 == 1:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select(col("node").alias(id_col), "rank")


def rowwise_lsh_bands(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Per-ROW LSH band signatures: the whole shingle → minhash → band fold
    runs as higher-order functions over each document's own token array, so
    the expression contains NO aggregation and is legal on a STREAMING
    DataFrame (Structured Streaming forbids aggregate-then-join plans; the
    batch minhash path groups exploded shingles). Values equal
    shingle_hashes → minhash_signatures → lsh_bands by construction — the
    same _gram_arrays, shingle_hash_expr, _lane and _band_fold — so a stream
    probing a batch-built band index joins on equal keys.

    Scale: state-free map stage; each row costs n_hashes array scans of its
    own distinct-shingle array. The batch path stays preferable for batch
    jobs (shuffle-level min() beats 16 per-row array passes when documents
    are huge); this exists for stream-side sketching.

    Round-11 (the _gram_arrays finding applied to the streaming path): HOFs
    are CodegenFallback AND interpreted evaluation has no subexpression
    elimination, so an inlined generator re-tokenizes each row once per
    textual `split(` occurrence and re-reduces `sh % 2^32` once per lane per
    shingle. The gram array, the 32-bit-reduced shingle-hash array (one md5
    + one mod per shingle) and the band-entry array are PROJECTED stepwise,
    and the explode runs over a plain column. The mod applied once per
    shingle gives the same lane_i = min((a_i·(sh mod 2^32) + b_i) mod P).
    """
    s32_arr = F.transform("__g", lambda g: shingle_hash_expr(g) % F.lit(_TWO32))
    hashed = _gram_arrays(df, text_col, id_col, n).select(col(id_col), s32_arr.alias("__s32"))
    lanes = [
        F.array_min(F.transform(col("__s32"), _lane(a, b)))
        for a, b in minhash_lane_params(n_hashes)
    ]
    banded = hashed.select(col(id_col), _band_fold(lanes, bands).alias("__bands"))
    return _explode_bands(banded, id_col, col("__bands"))


def editdist_confirm(
    docs: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dist: int = 24,
) -> DataFrame:
    """Confirm near-duplicate CANDIDATE pairs by exact Levenshtein distance.

    Edit distance is the precision step after LSH recall: banding finds
    pairs that share a minhash band (high-recall, cheap), and the O(|a|·|b|)
    metric runs ONLY on those pairs — never all-pairs, which is what keeps
    the quadratic cost bounded at 100 TB (candidate count scales with true
    duplication, not corpus size squared). The distance evaluates JVM-side
    with the built-in ``levenshtein`` and its early-exit threshold form
    (cells beyond ``max_dist`` abandon the row without filling the DP
    table), joined to the text exactly twice on the id — both joins are
    plain equi-joins AQE can broadcast or hash.

    Returns (doc_a, doc_b, edit_dist) for confirmed pairs, dist <= max_dist.
    """
    t = docs.select(col(id_col), col(text_col))
    a = t.select(col(id_col).alias("doc_a"), col(text_col).alias("__ta"))
    b = t.select(col(id_col).alias("doc_b"), col(text_col).alias("__tb"))
    return (
        candidates.select("doc_a", "doc_b")
        .join(a, "doc_a")
        .join(b, "doc_b")
        .withColumn("edit_dist", F.expr(f"levenshtein(__ta, __tb, {int(max_dist)})"))
        .filter(col("edit_dist") >= 0)  # threshold form returns -1 above it
        .select("doc_a", "doc_b", "edit_dist")
    )
