"""Text-analysis operators for the training-data pipeline: token statistics,
quality scoring, heuristic language ID, document fingerprinting.

Everything is built from JVM-side expressions (split / regexp_replace /
higher-order functions) — no Python UDFs — so the operators run inside
whole-stage codegen and scale with executors. Each has an exact SQL twin in
queries/pipeline.py used as the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mindsdb_spark.catalog import parallelize_input
from mindsdb_spark.operators.dedup import grams_expr, words_expr
from mindsdb_spark.session import local_frame

col = F.col


def _round6(c):
    return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)


def token_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, n_tokens, n_uniq_tokens) by whitespace tokenization."""
    df = parallelize_input(df)
    w = words_expr(col(text_col))
    return df.select(
        col(id_col),
        F.size(w).alias("n_tokens"),
        F.size(F.array_distinct(w)).alias("n_uniq_tokens"),
    )


def text_quality(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Quality heuristics: length, alpha ratio, avg token length, composite.

    Mirrors the shape of standard pretraining-corpus filters (doc length,
    symbol-to-word ratio); deterministic and fully JVM-side.
    """
    df = parallelize_input(df)
    t = col(text_col)
    w = words_expr(t)
    n_chars = F.length(t)
    n_alpha = F.length(F.regexp_replace(t, "[^A-Za-z]", ""))
    n_nospace = F.length(F.regexp_replace(t, r"\s", ""))
    n_tokens = F.size(w)
    # try_divide: an EMPTY document (0 chars / 0 tokens) yields NULL
    # ratios, matching SQL division-by-zero semantics (DuckDB oracle
    # returns NULL) instead of an ANSI runtime error — real corpora
    # contain empty docs (found by the real-text e2e suite, round 8)
    alpha_ratio = _round6(F.try_divide(n_alpha, n_chars))
    avg_token_len = _round6(F.try_divide(n_nospace, n_tokens))
    score = _round6(
        F.lit(0.5) * F.try_divide(n_alpha, n_chars)
        + F.lit(0.5) * (F.least(n_tokens, F.lit(100)) / F.lit(100.0))
    )
    return df.select(
        col(id_col),
        n_chars.alias("n_chars_actual"),
        n_tokens.alias("n_tokens"),
        alpha_ratio.alias("alpha_ratio"),
        avg_token_len.alias("avg_token_len"),
        score.alias("quality_score"),
    )


# Encoding-damage signatures. UTF-8 bytes misdecoded as Latin-1/cp1252 and
# re-encoded leave fingerprints: a 2-byte sequence becomes U+00C2/U+00C3
# ("Â"/"Ã") + one char from the continuation range; a 3-byte punctuation
# sequence becomes U+00E2 U+20AC ("â€") + one char. Plain character
# classes both regex engines (Java in Spark, RE2 in the DuckDB oracle)
# read identically — built with chr() because several class members are
# invisible C1 controls (U+0080-U+009F) that editors/transports mangle.
# The continuation class [\x80-\xBF] covers a latin-1 misdecode;
# _CP1252_HIGH covers the cp1252 misdecode (0x80-0x9F remap to the euro/
# quote/dash set below).
_CP1252_HIGH = "".join(
    chr(c) for c in (0x20AC, 0x201A, 0x0192, 0x201E, 0x2026, 0x2020, 0x2021,
                     0x02C6, 0x2030, 0x0160, 0x2039, 0x0152, 0x017D, 0x2018,
                     0x2019, 0x201C, 0x201D, 0x2022, 0x2013, 0x2014, 0x02DC,
                     0x2122, 0x0161, 0x203A, 0x0153, 0x017E, 0x0178)
)
_CONT = chr(0x80) + "-" + chr(0xBF)
MOJIBAKE_2BYTE = "[" + chr(0xC2) + chr(0xC3) + "][" + _CONT + _CP1252_HIGH + "]"
MOJIBAKE_3BYTE = chr(0xE2) + chr(0x20AC) + "[" + _CONT + _CP1252_HIGH + "]"
C1_CONTROLS = "[" + chr(0x80) + "-" + chr(0x9F) + "]"
REPLACEMENT_CHAR = chr(0xFFFD)


def mojibake_score(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Encoding-damage detection: count mojibake signatures (UTF-8 read as
    Latin-1/cp1252 then re-encoded — "Ã©" for é, "â€™" for ’), bare C1
    control characters, and U+FFFD replacement chars. The standard
    corpus-cleaning signal (ftfy/CCNet's encoding fix step decides on
    exactly these fingerprints); here it's a pure map stage — four
    regexp_count expressions inside whole-stage codegen, zero shuffle at
    any corpus size. Training-data extension; no reference analog.

    Returns per doc: the three signature counts, damage per 1000 chars,
    and is_suspect (any signature present). NULL-safe for real: text is
    coalesced to '' FIRST — regexp_count(NULL) would yield NULL counts and
    a NULL is_suspect that silently drops the row from BOTH the suspect
    filter and its negation (round-9 review); NULL/empty docs score 0.
    """
    df = parallelize_input(df)
    t = F.coalesce(col(text_col), F.lit(""))
    # ASCII fast path (round-10, from the sf100 study): every signature
    # is a non-ASCII codepoint, so a doc whose char count equals its
    # UTF-8 byte count cannot contain any — skip all four regexes. Java's
    # backtracking Pattern is ~5x slower than RE2 on these classes, and a
    # healthy corpus is overwhelmingly ASCII: measured 6.5 s -> 2.1 s
    # over 5M docs / 1.5 GB (DuckDB 1.4 s). CASE WHEN branches evaluate
    # lazily per row inside codegen, so damaged docs still pay only their
    # own regex cost.
    is_ascii = F.length(t) == F.octet_length(t)

    def _count(pattern):
        return F.when(is_ascii, F.lit(0)).otherwise(
            F.regexp_count(t, F.lit(pattern))
        )

    n2 = _count(MOJIBAKE_2BYTE)
    n3 = _count(MOJIBAKE_3BYTE)
    nc1 = _count(C1_CONTROLS)
    nrep = _count(REPLACEMENT_CHAR)
    # 3-byte hits also match the 2-byte pattern's prefix? No: MOJIBAKE_2BYTE
    # anchors on Â/Ã, MOJIBAKE_3BYTE on â€ — disjoint first chars. C1 hits
    # inside a mojibake pair ARE double-counted by design (both signals are
    # true). total weighs pair signatures over single-char ones.
    total = n2 * 2 + n3 * 2 + nc1 + nrep
    per_kchar = _round6(
        F.try_divide(total * F.lit(1000.0), F.length(t))
    )
    return df.select(
        col(id_col),
        n2.alias("n_moj2"),
        n3.alias("n_moj3"),
        nc1.alias("n_c1"),
        nrep.alias("n_replacement"),
        F.coalesce(per_kchar, F.lit(0.0)).alias("damage_per_kchar"),
        (total > 0).alias("is_suspect"),
    )


# Marker words per language for the n-gram/stopword-hit heuristic. Priority
# order (ties resolve to the earlier entry) is part of the operator contract.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to"),
    "fr": ("le", "la", "les", "et", "de"),
    "es": ("el", "los", "las", "y", "que"),
    "de": ("der", "die", "das", "und", "ist"),
    "zh": ("的", "了", "是"),
}


# GPT-2-style pretokenizer shape: letter runs, digit runs, punctuation runs.
# Kept to character classes both regex engines (Java in Spark, RE2 in the
# DuckDB oracle) interpret identically.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def bpe_token_count(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Approximate BPE token count: pretokenizer runs per document.

    The training-pipeline "how many tokens is this corpus" operator —
    whitespace counting undershoots punctuation-heavy text; this counts
    letter/digit/punctuation runs the way BPE pretokenizers split, all
    inside one JVM regexp expression.
    """
    df = parallelize_input(df)
    n = F.size(F.regexp_extract_all(col(text_col), F.lit(BPE_ISH_PATTERN), F.lit(0)))
    return df.select(col(id_col), n.alias("n_bpe_tokens"))


def lang_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic language ID: count marker-word hits per language, argmax
    with fixed priority order. (id, pred_lang, <lang>_hits...)."""
    df = parallelize_input(df)
    w = words_expr(col(text_col))

    def _hit(markers):
        # factory, not a default arg: PySpark counts lambda params, and a
        # bound default would select the (element, index) two-arg form
        return lambda x: x.isin(*markers)

    scores = {
        lang: F.size(F.filter(w, _hit(markers))) for lang, markers in LANG_MARKERS.items()
    }
    langs = list(LANG_MARKERS)
    pred = None
    for i, lang in enumerate(langs):
        cond = None
        for other in langs:
            if other == lang:
                continue
            # >= vs earlier priorities is implied by chain order; strict
            # comparison set: this lang wins ties against later langs only.
            c = scores[lang] >= scores[other]
            cond = c if cond is None else (cond & c)
        branch = F.when(cond, F.lit(lang))
        pred = branch if pred is None else pred.when(cond, F.lit(lang))
    return df.select(
        col(id_col),
        pred.otherwise(F.lit(langs[0])).alias("pred_lang"),
        *[scores[lang].alias(f"{lang}_hits") for lang in langs],
    )


def fingerprint_bottom_k(sh: DataFrame, id_col: str = "doc_id", k: int = 4) -> DataFrame:
    """Bottom-k sketch fingerprint: the k smallest shingle hashes per doc.

    A compact, unionable document signature (bottom-k sketches support set
    resemblance estimation) over hashed shingles (id, sh). Expressed as
    groupBy + array_sort + slice: one hash-aggregate keyed on the doc id,
    no global sort — the window/row_number formulation paid a full
    partition sort plus a second pass to filter ranks.
    """
    topk = F.slice(F.array_sort(F.collect_list("sh")), 1, k)
    return (
        sh.groupBy(id_col)
        .agg(topk.alias("__fps"))
        .select(col(id_col), F.explode("__fps").alias("fp"))
    )


def repetition_signals(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 2
) -> DataFrame:
    """Gopher-style repetition filters: duplicate / top n-gram fractions.

    Per doc: (n_grams, n_distinct, dup_frac = 1 - distinct/total,
    top_frac = most-frequent-gram count / total). Pretraining pipelines drop
    docs with high duplicate-n-gram mass (the "repetition" rows of the
    Gopher quality table; the reference has no equivalent — training-data
    extension).

    Every statistic is WITHIN-document, so the whole operator is a pure map
    stage: gram array → array_distinct for the distinct count → sort_array +
    one aggregate() scan for the longest equal-run (= max gram frequency).
    ZERO shuffle — the previous (doc, gram) hash-aggregate pushed every
    corpus n-gram through an exchange; this ships nothing. All JVM
    higher-order functions, ~3 linear passes over each doc's gram array.
    """
    df = parallelize_input(df)
    t = df.select(
        col(id_col).alias(id_col), words_expr(col(text_col)).alias("__ws")
    ).where(F.size("__ws") >= n)
    t = t.withColumn("__gs", grams_expr(col("__ws"), n))
    # longest run of equal values in the sorted gram array == max frequency
    top = F.expr(
        "aggregate(sort_array(__gs), "
        "struct(cast(null as string) AS prev, 0 AS run, 0 AS mx), "
        "(acc, x) -> struct(x AS prev, "
        "  IF(x <=> acc.prev, acc.run + 1, 1) AS run, "
        "  greatest(acc.mx, IF(x <=> acc.prev, acc.run + 1, 1)) AS mx), "
        "acc -> acc.mx)"
    )
    total, dis = F.size("__gs"), F.size(F.array_distinct("__gs"))
    return t.select(
        col(id_col),
        total.cast("long").alias("n_grams"),
        dis.cast("long").alias("n_distinct"),
        _round6(F.lit(1.0) - dis / total).alias("dup_frac"),
        _round6(top / total).alias("top_frac"),
    )


def vocab_coverage(
    df: DataFrame, vocab_size: int = 100, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus top-V vocabulary coverage: per-doc OOV fraction.

    Pass 1 builds the top-`vocab_size` token list (count desc, token asc —
    the tie-break makes the vocabulary deterministic across engines and
    partitionings) and collapses it to ONE array row. Pass 2 broadcast-joins
    that single row to the tokenized docs and computes per-doc membership
    with higher-order functions — no second corpus explode and no
    token-keyed shuffle: the only shuffle over corpus-sized data is the
    map-side-combinable vocab groupBy. The vocabulary is bounded by V, so
    the broadcast is one row of V strings no matter the corpus size.
    Training-data extension (no reference analog).
    """
    df = parallelize_input(df)
    ws = df.select(
        col(id_col), words_expr(col(text_col)).alias("__ws")
    ).where(F.size("__ws") >= 1)
    vocab_arr = (
        ws.select(F.explode("__ws").alias("__tok"))
        .groupBy("__tok")
        .agg(F.count("*").alias("__c"))
        .orderBy(F.desc("__c"), F.asc("__tok"))
        .limit(vocab_size)
        # membership as a MAP, not an array: map_contains_key is a hash
        # probe where array_contains linear-scans all V entries per token
        # (measured 1.06 s → 0.72 s at sf1, V=100; the gap grows with V)
        .agg(
            F.map_from_arrays(
                F.collect_list("__tok"),
                F.expr("transform(collect_list(__tok), t -> true)"),
            ).alias("__vm")
        )
    )
    n_tok = F.size("__ws").cast("long")
    in_v = F.size(F.expr("filter(__ws, t -> map_contains_key(__vm, t))")).cast("long")
    return ws.join(F.broadcast(vocab_arr)).select(
        col(id_col),
        n_tok.alias("n_tokens"),
        in_v.alias("in_vocab"),
        _round6(F.lit(1.0) - in_v / n_tok).alias("oov_frac"),
    )


def zipf_slope(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
    top_r: int = 200,
) -> DataFrame:
    """Per-group Zipf fit: OLS slope of ln(freq) vs ln(rank) over the top-R
    token ranks. Natural language sits near −1; far-off groups (code dumps,
    boilerplate, spam) flag for curation review — the rank-frequency
    diagnostic corpus analyses run per source/domain.

    One corpus explode feeds a map-side-combinable (group, token) count;
    ranking happens on the COUNT table (|vocab| rows, not |corpus|) and
    only the top-R rows per group reach the regression aggregate, which is
    four plain sums. At extreme per-group vocabularies, pre-filter the
    count table with an approximate frequency floor before the rank window
    so the per-group sort never sees the singleton tail.
    Slope rounded to 4 decimals: parallel-fold double addition across ≤R
    terms perturbs ~1e-13 relative, far inside the rounding margin.
    """
    df = parallelize_input(df)
    tf = (
        df.select(col(group_col).alias("grp"), F.explode(words_expr(col(text_col))).alias("tok"))
        .groupBy("grp", "tok")
        .agg(F.count("*").alias("c"))
    )
    w = Window.partitionBy("grp").orderBy(F.desc("c"), F.asc("tok"))
    ranked = tf.withColumn("rank", F.row_number().over(w)).filter(col("rank") <= top_r)
    x = F.log(col("rank").cast("double"))
    y = F.log(col("c").cast("double"))
    agg = ranked.groupBy("grp").agg(
        F.count("*").cast("double").alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
    )
    slope = (col("n") * col("sxy") - col("sx") * col("sy")) / (
        col("n") * col("sxx") - col("sx") * col("sx")
    )
    r4 = lambda c: F.floor(c * F.lit(1e4) + F.lit(0.5)) / F.lit(1e4)
    return agg.select(
        col("grp").alias(group_col),
        col("n").cast("long").alias("n_ranks"),
        r4(slope).alias("zipf_slope"),
    )


def ngram_novelty(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 2
) -> DataFrame:
    """Per-doc n-gram novelty: the fraction of the doc's DISTINCT n-grams
    that appear in no other document — the cheap memorization/overlap
    signal novelty analyses use (a doc whose grams all recur elsewhere is
    boilerplate or a near-dup; training-data extension, no reference
    analog).

    One (doc, gram) distinct pass, one gram-keyed document-frequency
    aggregate (map-side combinable, uniform md5-hashed keys — no skew),
    one join back keyed on the gram. All shuffles keyed and linear in the
    distinct-gram count; nothing collects.
    """
    df = parallelize_input(df)
    t = df.select(
        col(id_col), words_expr(col(text_col)).alias("__ws")
    ).where(F.size("__ws") >= n)
    grams = t.select(
        col(id_col),
        F.explode(F.array_distinct(grams_expr(col("__ws"), n))).alias("__g"),
        # two consumers (df-count + join-back) and no CSE across them —
        # persist marks the exploded grams compute-once within the action
    ).persist()
    docfreq = grams.groupBy("__g").agg(F.count("*").alias("__df"))
    novel = (col("__df") == 1).cast("long")
    joined = grams.join(docfreq, "__g")
    n_distinct, n_novel = F.count("*"), F.sum(novel)
    return joined.groupBy(id_col).agg(
        n_distinct.alias("n_distinct"),
        n_novel.alias("n_novel"),
        _round6(n_novel / n_distinct).alias("novelty"),
    )


def unigram_nll(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-doc negative log-likelihood under the corpus unigram LM — the
    cheap perplexity proxy quality filters use before a real LM pass.

    Pass 1: global token frequencies (map-side-combinable groupBy) with the
    corpus total carried on a 1-row broadcast; pass 2: tokens re-join their
    frequencies (shuffle keyed on the token — scale-safe, no driver state)
    and average -ln p per doc. Training-data extension; no reference analog.
    """
    df = parallelize_input(df)
    tok = df.select(
        col(id_col), F.explode(words_expr(col(text_col))).alias("__tok")
        # two consumers (frequency aggregate + join-back), no cross-branch CSE
    ).persist()
    tf = tok.groupBy("__tok").agg(F.count("*").alias("__c")).persist()
    total = tf.agg(F.sum("__c").alias("__t"))
    scored = (
        tok.join(tf, "__tok")
        .crossJoin(F.broadcast(total))
        .select(col(id_col), (-F.log(col("__c") / col("__t"))).alias("__nll"))
    )
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_tokens"), _round6(F.avg("__nll")).alias("nll")
    )


def dup_span_frac(
    df: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact-substring duplication signal (the per-doc diagnostic form of
    Lee et al. 2022's ExactSubstr dedup): positional n-token spans — NOT
    deduplicated within the doc — counted corpus-wide; per doc, the
    fraction of spans whose exact text occurs more than once anywhere in
    the corpus (including repeats inside the same doc).

    Distinct from ngram_novelty: novelty counts DISTINCT grams and
    document frequency; this keeps positional multiplicity, so a doc that
    repeats its own boilerplate scores high even if no other doc shares it.

    Plan: one explode, one span-keyed count aggregate (map-side
    combinable), one join back on the span, one per-doc aggregate. Shuffle
    keys are uniformly-distributed span strings; nothing collects.
    """
    df = parallelize_input(df)
    spans = (
        df.select(col(id_col), words_expr(col(text_col)).alias("__ws"))
        .where(F.size("__ws") >= n)
        .select(
            col(id_col),
            F.explode(grams_expr(col("__ws"), n)).alias("span"),
        )
        # two consumers (span-frequency aggregate + the join back) and no
        # cross-branch CSE — persist marks the explode compute-once per action
    ).persist()
    counts = spans.groupBy("span").agg(F.count("*").alias("__c"))
    n_dup = F.sum((col("__c") > 1).cast("int"))
    return (
        spans.join(counts, "span")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_spans"),
            n_dup.cast("long").alias("n_dup_spans"),
            _round6(n_dup / F.count("*")).alias("dup_span_frac"),
        )
    )


def bigram_nll(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", lam: float = 0.9
) -> DataFrame:
    """Per-doc NLL under an interpolated corpus bigram LM — one rung up the
    perplexity-proxy ladder from unigram_nll: p(w_i|w_{i-1}) =
    lam * c(prev,cur)/c(prev,*) + (1-lam) * c(cur)/N. Catches fluent-word-
    salad documents a unigram model scores well (every token common, no
    coherent transitions) — the filter step LM-based curation pipelines run
    after cheap token stats. Training-data extension; no reference analog.

    Plan: three corpus passes total (score stream, bigram counts, unigram
    counts — explodes are per-partition, no shuffle), each feeding a
    map-side-combinable count aggregate. The derived statistics — context
    counts and the corpus total — fold from the PERSISTED count tables
    (|vocab| rows, not |corpus|; Catalyst has no cross-branch CSE, so
    without the persist each derived table would replay its corpus scan).
    The bigram stream then re-joins its statistics on uniformly-distributed
    token keys and folds to one row per doc; the corpus total rides a 1-row
    broadcast. Nothing collects; executor state is bounded by vocab shards.
    """
    df = parallelize_input(df)
    ws = df.select(col(id_col), words_expr(col(text_col)).alias("__ws"))
    bg = ws.where(F.size("__ws") >= 2).select(
        col(id_col),
        F.explode(
            F.expr(
                "transform(sequence(1, size(__ws) - 1), "
                "i -> struct(element_at(__ws, i) AS prev, element_at(__ws, i + 1) AS cur))"
            )
        ).alias("__bg"),
    ).select(col(id_col), col("__bg.prev").alias("__prev"), col("__bg.cur").alias("__cur"))
    uni = ws.select(F.explode("__ws").alias("__tok"))
    uf = uni.groupBy("__tok").agg(F.count("*").alias("__cu")).persist()
    total = uf.agg(F.sum("__cu").alias("__n"))
    bc = bg.groupBy("__prev", "__cur").agg(F.count("*").alias("__c2")).persist()
    cc = bc.groupBy("__prev").agg(F.sum("__c2").alias("__cc"))
    p = F.lit(lam) * col("__c2") / col("__cc") + F.lit(1.0 - lam) * col("__cu") / col("__n")
    scored = (
        bg.join(bc, ["__prev", "__cur"])
        .join(cc, "__prev")
        .join(uf, bg["__cur"] == uf["__tok"])
        .crossJoin(F.broadcast(total))
        .select(col(id_col), (-F.log(p)).alias("__nll"))
    )
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"), _round6(F.avg("__nll")).alias("nll")
    )


def bpe_train_merges(
    df: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_word_forms: int = 1_000_000,
) -> DataFrame:
    """BPE tokenizer training: learn the top-``k`` merge rules over the
    corpus (Sennrich et al. 2016) — the step every pretraining stack runs
    before tokenizing. Returns one row per learned merge:
    (rank, lhs, rhs, merged, cnt), deterministic via (count desc, lhs, rhs)
    tie-break.

    Shape (round-5): the corpus is touched exactly ONCE — a distributed
    explode + map-side-combined word count — and the merge LOOP runs
    driver-side over the collected word-frequency histogram, the bounded
    state every production tokenizer trainer uses (pair statistics live on
    word FORMS weighted by frequency, never on corpus tokens; HuggingFace
    tokenizers train the same way). ``max_word_forms`` is the standard
    frequency cutoff that caps driver memory at scale: TakeOrdered
    (count desc, word) keeps the histogram bounded no matter the corpus
    size. Earlier rounds ran 2k vocab-table Spark aggregates for the k
    argmaxes; the local loop removes every per-round job (measured
    ~0.78 s -> ~0.25 s at sf0.1) while computing the identical merges —
    leftmost non-overlapping pairing, the convention the DuckDB oracle
    unrolls as CTE levels.
    """
    df = parallelize_input(df)
    vocab_rows = (
        df.select(F.explode(words_expr(col(text_col))).alias("__w"))
        .groupBy("__w")
        .agg(F.count("*").alias("__c"))
        .orderBy(F.desc("__c"), F.asc("__w"))
        .limit(max_word_forms)
        .collect()
    )
    hist: dict[tuple, int] = {}
    for row in vocab_rows:
        key = tuple(row["__w"])
        hist[key] = hist.get(key, 0) + int(row["__c"])
    merges = []
    for rank in range(1, k + 1):
        counts: dict[tuple, int] = {}
        for syms, c in hist.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + c
        if not counts:
            break
        (l, r), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((rank, l, r, l + r, int(cnt)))
        new_hist: dict[tuple, int] = {}
        for syms, c in hist.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            t = tuple(out)
            new_hist[t] = new_hist.get(t, 0) + c
        hist = new_hist
    return local_frame(
        df.sparkSession, merges, "rank int, lhs string, rhs string, merged string, cnt long"
    )


def bpe_tokenize_counts(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply learned BPE merges and count the resulting tokens per document
    — the "how many tokens is this corpus under MY tokenizer" pass that
    follows bpe_train_merges (d15's regex count approximates a generic
    pretokenizer; this one applies the trained merge table).

    Per-word symbol counts are computed ONCE on the vocab table (each word's
    char sequence through the ordered replace() chain — a pure map over
    |vocab| rows) and the corpus re-joins them by word: token keys shuffle
    uniformly, multiplicity stays in the per-doc sum, and the merge chain
    never touches corpus-sized data.
    """
    df = parallelize_input(df)
    # collapse the raw token stream to (doc, word, multiplicity) FIRST: the
    # groupBy combines map-side, so the join below shuffles distinct
    # doc-word pairs (≈Σ unique words per doc) instead of every token —
    # strictly less shuffle volume at any scale
    tok = (
        df.select(col(id_col), F.explode(words_expr(col(text_col))).alias("__w"))
        .groupBy(id_col, "__w")
        .agg(F.count("*").alias("__m"))
        # two consumers (vocab distinct + the join back) and no cross-branch
        # CSE — persist marks the corpus pass compute-once per action
        .persist()
    )
    vocab = tok.select("__w").distinct()
    seq = F.concat(F.lit("  "), F.regexp_replace(col("__w"), "(.)", "$1  "))
    for l, r in merges:
        seq = F.replace(seq, F.lit(f" {l}  {r} "), F.lit(f" {l}{r} "))
    counts = vocab.select(
        "__w", F.size(F.split(F.trim(seq), "  ")).alias("__nt")
    )
    return (
        # deliberately NOT a forced broadcast: distinct-word vocab of a web
        # corpus can reach 10^8+ rows (hapax-heavy), which would OOM a
        # broadcast at 100 TB — AQE converts this join to broadcast at
        # runtime exactly when the counts side measures small
        tok.join(counts, "__w")
        .groupBy(id_col)
        .agg(
            F.sum("__m").cast("long").alias("n_words"),
            F.sum(col("__m") * col("__nt")).cast("long").alias("n_bpe_tokens"),
        )
    )


# Control characters a cleaned corpus must not contain (C0 minus the
# whitespace we keep, plus DEL). Spelled with \x escapes — which Java's
# Pattern and DuckDB's RE2 parse identically — so the oracle SQL can
# embed the class VERBATIM without raw control bytes (a raw NUL inside a
# SQL literal is transport-hostile in a way the C1 mojibake classes are
# not).
CONTROL_STRIP = r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]"
# explicit whitespace class shared by both engines: Java's \s includes
# \x0B where RE2's does not, so neither engine's \s can be used verbatim
WS_RUN = r"[ \t\n\r\f]+"


def nfc_scrub(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Unicode-normalization scrub — the standard first cleanup step of a
    web-corpus pipeline (CCNet/RefinedWeb normalize before hashing or
    filtering): NFC-compose the text, strip bare control characters,
    collapse whitespace runs to single spaces, trim. Returns
    (id, clean_text, changed). Training-data extension; no reference
    analog.

    NFC composition is the ONE step with no JVM expression (Spark has no
    normalization builtin), so it runs as an Arrow-batched pandas UDF —
    a pure per-row CPU transform with zero shuffle that scales linearly
    with executors; everything after it (control strip, whitespace
    collapse) stays in whole-stage codegen. The DuckDB oracle replays
    nfc_normalize + the identical regexp_replace chain.
    """
    import pandas as pd
    from pyspark.sql.types import StringType

    def _nfc_fn(s):
        import unicodedata

        # no explicit ASCII short-circuit: CPython's normalize() already
        # quick-checks and returns ASCII input unchanged — an isascii()
        # guard measured dead even at sf100 (interleaved, text_ops_study)
        return s.map(
            lambda t: unicodedata.normalize("NFC", t) if t is not None else None
        )

    # annotate with the REAL pandas types (string hints don't resolve
    # against a function-local import in pyspark's typehint parser)
    _nfc_fn.__annotations__ = {"s": pd.Series, "return": pd.Series}
    _nfc = F.pandas_udf(_nfc_fn, StringType())

    df = parallelize_input(df)
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(_nfc(col(text_col)), CONTROL_STRIP, ""),
            WS_RUN,
            " ",
        )
    )
    return df.select(
        col(id_col),
        cleaned.alias("clean_text"),
        (~cleaned.eqNullSafe(col(text_col))).alias("changed"),
    )


def readability(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Flesch reading-ease + Flesch-Kincaid grade per document — the
    classic corpus quality signal (edu-quality filters score on exactly
    these inputs: words/sentence, syllables/word). Sentences = terminal
    punctuation runs (floor 1); syllables = per-word vowel-group count
    (floor 1/word, the standard heuristic). Entirely JVM higher-order
    expressions in one map stage — zero shuffle at any corpus size.
    Training-data extension; no reference analog.

    NULL/empty docs yield NULL scores (try_divide semantics, like
    text_quality). Scores are NOT clamped to [0, 100]: degenerate docs
    legitimately score negative, and the filter threshold is the
    caller's.
    """
    df = parallelize_input(df)
    t = col(text_col)
    w = F.filter(words_expr(t), lambda x: x != F.lit(""))
    n_words = F.size(w)
    n_sentences = F.greatest(F.regexp_count(t, F.lit("[.!?]+")), F.lit(1))
    n_syllables = F.aggregate(
        F.transform(
            w,
            lambda x: F.greatest(F.regexp_count(x, F.lit("[aeiouy]+")), F.lit(1)),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    wps = F.try_divide(n_words, n_sentences)
    spw = F.try_divide(n_syllables, n_words)
    flesch = _round6(F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw)
    grade = _round6(F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59))
    return df.select(
        col(id_col),
        n_words.alias("n_words"),
        n_sentences.alias("n_sentences"),
        n_syllables.alias("n_syllables"),
        flesch.alias("flesch"),
        grade.alias("fk_grade"),
    )
