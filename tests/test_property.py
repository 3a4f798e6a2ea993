"""Property-based tests (Hypothesis): operators vs independent references.

The reference repo has no property-based testing (SURVEY §5); these close
that gap where an independent implementation exists — pandas.merge_asof
for the as-of join, brute-force containment for the range join, and
python-set Jaccard for the shingle pipeline.
"""

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mindsdb_spark.operators.temporal import asof_join, range_join

_settings = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

_keys = st.integers(min_value=0, max_value=3)
_times = st.integers(min_value=0, max_value=1000)


@st.composite
def _events(draw, max_rows=12):
    n = draw(st.integers(min_value=1, max_value=max_rows))
    rows = []
    used = set()
    for i in range(n):
        k = draw(_keys)
        t = draw(_times)
        if (k, t) in used:  # unique (key, time): as-of determinism contract
            continue
        used.add((k, t))
        rows.append((i, k, t, float(draw(st.integers(0, 100)))))
    return rows or [(0, 0, 0, 0.0)]


@_settings
@given(left=_events(), right=_events())
def test_asof_backward_matches_pandas(spark, left, right):
    ldf = spark.createDataFrame(left, "lid long, k long, t long, lv double")
    rdf = spark.createDataFrame(
        [(k, t, v) for (_i, k, t, v) in right], "k long, t long, rv double"
    ).dropDuplicates(["k", "t"])
    got = {
        r["lid"]: r["rv"]
        for r in asof_join(ldf, rdf, on="t", by="k").collect()
    }

    lp = pd.DataFrame(left, columns=["lid", "k", "t", "lv"]).sort_values("t")
    rp = (
        pd.DataFrame([(k, t, v) for (_i, k, t, v) in right], columns=["k", "t", "rv"])
        .drop_duplicates(["k", "t"])
        .sort_values("t")
    )
    exp_df = pd.merge_asof(lp, rp, on="t", by="k", direction="backward")
    exp = {
        int(r.lid): (None if pd.isna(r.rv) else float(r.rv))
        for r in exp_df.itertuples()
    }
    assert got == exp


@_settings
@given(points=_events(max_rows=8), ivs=_events(max_rows=6))
def test_range_join_matches_bruteforce(spark, points, ivs):
    pdf = spark.createDataFrame(
        [(i, k, t) for (i, k, t, _v) in points], "pid long, k long, t long"
    )
    intervals = [(i, k, t, t + int(v) + 1) for (i, k, t, v) in ivs]
    idf = spark.createDataFrame(intervals, "iid long, k long, s long, e long")
    got = sorted(
        (r["pid"], r["iid"])
        for r in range_join(
            pdf, idf, point_col="t", start_col="s", end_col="e", by="k",
            bucket_width_seconds=7,
        ).collect()
    )
    exp = sorted(
        (pi, ii)
        for (pi, pk, pt, _pv) in points
        for (ii, ik, s, e) in intervals
        if pk == ik and s <= pt <= e
    )
    assert got == exp


@st.composite
def _docs(draw, max_rows=10):
    n = draw(st.integers(min_value=1, max_value=max_rows))
    words = ["alpha", "beta", "gamma", "delta", "x"]
    return [
        (i, " ".join(draw(st.lists(st.sampled_from(words), min_size=0, max_size=8))))
        for i in range(n)
    ]


@_settings
@given(docs=_docs(), budget=st.integers(min_value=1, max_value=20))
def test_pack_sequences_matches_running_sum(spark, docs, budget):
    # bin assignment must equal the python running-sum reference, and bins
    # within a stratum must be contiguous starting at 0
    from mindsdb_spark.operators.curation import pack_sequences

    rows = [(i, "s", max(len(t.split()), 0) if t.strip() else 0) for i, t in docs]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_tokens long")
    got = {r.doc_id: r.bin for r in pack_sequences(df, budget).collect()}
    cum = 0
    for i, _lang, n in sorted(rows):
        assert got[i] == cum // budget
        cum += n


@_settings
@given(docs=_docs())
def test_contamination_matches_set_overlap(spark, docs):
    # contamination == python-set overlap of 3-gram shingles
    from mindsdb_spark.operators.curation import contamination_check
    from mindsdb_spark.operators.dedup import shingle_hashes

    def sh_set(text):
        w = text.lower().split()
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

    bench_ids = [i for i, _t in docs][: max(1, len(docs) // 2)]
    rows = [(i, t) for i, t in docs if len(t.split()) >= 3]
    if not rows:
        return
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = shingle_hashes(df)
    bench = sh.filter(F.col("doc_id").isin(bench_ids))
    train = sh.filter(~F.col("doc_id").isin(bench_ids))
    got = {r.doc_id: (r.n_hit, r.n_sh) for r in contamination_check(train, bench).collect()}
    bench_set = set().union(*[sh_set(t) for i, t in rows if i in bench_ids], set())
    for i, t in rows:
        if i in bench_ids:
            continue
        s = sh_set(t)
        assert got[i] == (len(s & bench_set), len(s))


@_settings
@given(docs=_docs())
def test_repetition_signals_match_counter(spark, docs):
    # dup/top n-gram fractions == python collections.Counter reference;
    # docs with fewer than n tokens are excluded on both sides
    from collections import Counter

    from mindsdb_spark.operators.text import repetition_signals

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r for r in repetition_signals(df).collect()}
    import math

    for i, t in docs:
        ws = t.lower().strip().split() if t.strip() else [""]
        grams = [" ".join(ws[j:j + 2]) for j in range(len(ws) - 1)]
        if len(ws) < 2:
            assert i not in got
            continue
        c = Counter(grams)
        r = got[i]
        assert r.n_grams == len(grams) and r.n_distinct == len(c)
        assert r.dup_frac == math.floor((1.0 - len(c) / len(grams)) * 1e6 + 0.5) / 1e6
        assert r.top_frac == math.floor((max(c.values()) / len(grams)) * 1e6 + 0.5) / 1e6


@_settings
@given(docs=_docs(), v=st.integers(min_value=1, max_value=4))
def test_vocab_coverage_matches_python(spark, docs, v):
    # top-V vocab with (count desc, token asc) tie-break, then OOV fractions
    from collections import Counter

    import math

    from mindsdb_spark.operators.text import vocab_coverage

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {r.doc_id: r for r in vocab_coverage(df, vocab_size=v).collect()}
    toks = {i: (t.lower().strip().split() if t.strip() else [""]) for i, t in docs}
    cnt = Counter(tok for ws in toks.values() for tok in ws)
    vocab = {t for t, _ in sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:v]}
    for i, ws in toks.items():
        r = got[i]
        in_v = sum(1 for tok in ws if tok in vocab)
        assert (r.n_tokens, r.in_vocab) == (len(ws), in_v)
        assert r.oov_frac == math.floor((1.0 - in_v / len(ws)) * 1e6 + 0.5) / 1e6


_words_st = st.lists(
    st.sampled_from(["spark", "table", "join", "scan", "fast", "slow", "row", "key"]),
    min_size=4, max_size=12,
)


@st.composite
def _corpus(draw, max_docs=6):
    n = draw(st.integers(min_value=2, max_value=max_docs))
    return [(i, " ".join(draw(_words_st))) for i in range(n)]


@_settings
@given(corpus=_corpus(), batch_extra=_corpus(max_docs=4))
def test_incremental_dedup_flags_exact_copies(spark, corpus, batch_extra):
    """Any batch doc whose text exactly matches a corpus doc must be
    flagged (LSH catches identical band signatures with probability 1);
    a batch doc over a disjoint vocabulary must never be flagged."""
    from mindsdb_spark.operators.dedup import incremental_dedup

    schema = "doc_id long, text string"
    cdf = spark.createDataFrame(corpus, schema)
    copies = [(100 + i, text) for i, (_id, text) in enumerate(corpus)]
    fresh = [(200 + i, "zebra quokka lemur wombat axolotl " + t)
             for i, (_id, t) in enumerate(batch_extra)]
    disjoint = [(300, "aaa bbb ccc ddd eee fff ggg hhh")]
    bdf = spark.createDataFrame(copies + fresh + disjoint, schema)
    out = {r.doc_id: r.is_dup
           for r in incremental_dedup(cdf, bdf, jaccard_threshold=0.999).collect()}
    for i in range(len(copies)):
        assert out[100 + i] is True, f"exact copy {100+i} not flagged"
    assert out[300] is False


@_settings
@given(vecs=st.lists(
    st.lists(st.floats(min_value=-1, max_value=1, allow_nan=False,
                       allow_infinity=False, width=32),
             min_size=8, max_size=8),
    min_size=2, max_size=6,
))
def test_semantic_dedup_identical_vectors_flagged(spark, vecs):
    """An exact duplicate vector (same cell by construction, cosine 1)
    must always be flagged against its lower-id twin; no vector may be a
    dup of itself alone (is_dup requires a distinct lower-id neighbor)."""
    from hypothesis import assume

    from mindsdb_spark.operators.dedup import semantic_dedup

    assume(all(any(abs(x) > 1e-3 for x in v) for v in vecs))
    rows = [(i, v) for i, v in enumerate(vecs)]
    rows.append((1000, vecs[0]))  # exact twin of vec 0
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r.is_dup for r in semantic_dedup(df, threshold=0.9999).collect()}
    assert out[1000] is True
    assert out[0] in (False, True)  # 0 flags only if some OTHER lower id matches
    if len(vecs) == 1:
        assert out[0] is False


@_settings
@given(
    parts=st.lists(
        st.one_of(
            st.sampled_from(["SELECT 1", " FROM t ", "WHERE x = 'a#b'",
                             '"quo#ted"', "`ba#ck`", "# comment\n", "#tail"]),
            st.text(alphabet="abc #'\"`\n", max_size=8),
        ),
        max_size=8,
    )
)
def test_strip_mysql_comments_properties(parts):
    """Idempotent; never touches # inside string literals or backtick
    identifiers; output contains no bare # outside such regions."""
    from mindsdb_spark.dialect.rewriter import lex, strip_mysql_comments

    sql = "".join(parts)
    out = strip_mysql_comments(sql)
    assert strip_mysql_comments(out) == out  # idempotent

    def outside_strings(s):
        return "".join(tok for kind, tok, _ in lex(s) if kind not in ("str", "name"))

    assert "#" not in outside_strings(out)


_sql_text = st.one_of(
    st.text(),
    st.text(alphabet="ab1 \\'\"`#@.\n({[]})", max_size=40),
)


@_settings
@given(text=_sql_text)
def test_lexer_tokens_cover_text_and_code_subs_keep_literals(text):
    """The tokens concatenate back to the text, and a code-only substitution
    never changes a string-literal token."""
    from mindsdb_spark.dialect.rewriter import lex, sub_code

    tokens = lex(text)
    assert "".join(tok for _, tok, _ in tokens) == text
    assert all(text.startswith(tok, s) for _, tok, s in tokens)

    def literals(s):
        return [tok for kind, tok, _ in lex(s) if kind == "str"]

    out = sub_code(text, (r"[ab]+", "WORD"), (r"\.", ""), (r"[(){}\[\]]", "x"))
    assert literals(out) == literals(text)


_unit_words_st = st.lists(
    st.sampled_from(["alpha", "beta", "gamma", "delta", "eps", "zeta"]),
    min_size=1,
    max_size=24,
)


@_settings
@given(docs=st.lists(_unit_words_st, min_size=1, max_size=6))
def test_boilerplate_scrub_identity_when_threshold_unreachable(spark, docs):
    # min_df above the corpus doc count can never fire: clean_text must be
    # the whitespace-normalized original for EVERY doc (reassembly is the
    # identity), n_removed == 0
    from mindsdb_spark.operators.curation import boilerplate_scrub

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = boilerplate_scrub(df, k=3, min_df=len(rows) + 1).collect()
    got = {r["doc_id"]: r for r in out}
    for i, ws in enumerate(docs):
        assert got[i]["n_removed"] == 0
        assert got[i]["clean_text"] == " ".join(ws)


@_settings
@given(
    vec=st.lists(
        st.integers(min_value=-50, max_value=50), min_size=6, max_size=6
    )
)
def test_random_project_matches_numpy(spark, vec):
    # the operator must equal the straight numpy matmul with the same sign
    # matrix (to the declared 1e-6 rounding)
    import numpy as np

    from mindsdb_spark.operators.vector import random_project, rp_signs

    v = [float(x) for x in vec]
    df = spark.createDataFrame([(0, v)], "vec_id long, embedding array<double>")
    out = random_project(df, out_dim=4, in_dim=6, seed=7).collect()
    m = np.array(rp_signs(6, 4, seed=7), dtype=float)
    want = (m @ np.array(v)) / np.sqrt(4)
    for r in out:
        assert abs(r["value"] - want[r["lane"]]) < 2e-6


@_settings
@given(docs=st.lists(_unit_words_st, min_size=2, max_size=6))
def test_nb_quality_antisymmetric_under_label_flip(spark, docs):
    # swapping the positive/negative classes must exactly negate the
    # log-odds (prior and every token ratio flip sign)
    from mindsdb_spark.operators.curation import nb_quality

    rows = [(i, " ".join(ws), "a" if i % 2 == 0 else "b") for i, ws in enumerate(docs)]
    if len({s for (_i, _t, s) in rows}) < 2:
        rows.append((len(rows), "filler text", "b"))
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    pos = {r["doc_id"]: r["score"] for r in nb_quality(df, F.col("source") == "a").collect()}
    neg = {r["doc_id"]: r["score"] for r in nb_quality(df, F.col("source") == "b").collect()}
    for i in pos:
        assert abs(pos[i] + neg[i]) < 5e-6  # rounded at 1e-6 each side


@_settings
@given(docs=st.lists(_unit_words_st, min_size=1, max_size=5))
def test_rowwise_lsh_bands_equal_batch_path(spark, docs):
    # the streaming-legal per-row signature fold must be BIT-identical to
    # shingle_hashes -> minhash_signatures -> lsh_bands on any corpus
    from mindsdb_spark.operators.dedup import (
        lsh_bands, minhash_signatures, rowwise_lsh_bands, shingle_hashes,
    )

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(map(tuple, rowwise_lsh_bands(df).collect()))
    want = sorted(map(tuple,
        lsh_bands(minhash_signatures(shingle_hashes(df))).collect()))
    assert got == want


# --- round-10 text additions: randomized parity vs pure-python references ----

# hostile text: normal words, decomposed/composed accents, Hangul jamo,
# control chars, whitespace runs, combining marks on their own
_hostile_chars = st.sampled_from(
    ["a", "e", "Z", "7", ".", "!", "?", " ", "  ", "\t", "\n", "\x0b",
     "\x07", "\x1f", "\x7f", "́", "é", "é", "Å",
     "Å", "각", "각", "y", "xyz "]
)
_hostile_text = st.lists(_hostile_chars, min_size=0, max_size=20).map("".join)


@_settings
@given(texts=st.lists(_hostile_text, min_size=1, max_size=6))
def test_nfc_scrub_matches_python_reference(spark, texts):
    import re as _re
    import unicodedata

    from mindsdb_spark.operators.text import CONTROL_STRIP, WS_RUN, nfc_scrub

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.clean_text, r.changed) for r in nfc_scrub(df).collect()}
    for i, t in rows:
        ref = _re.sub(
            WS_RUN, " ", _re.sub(CONTROL_STRIP, "", unicodedata.normalize("NFC", t))
        ).strip(" ")
        # Spark trim() strips ASCII space only after WS collapse, matching
        # python strip(' ') here because runs are already single spaces
        assert got[i][0] == ref, (repr(t), repr(got[i][0]), repr(ref))
        assert got[i][1] == (ref != t)


@_settings
@given(texts=st.lists(_hostile_text, min_size=1, max_size=6))
def test_readability_matches_python_reference(spark, texts):
    import re as _re

    from mindsdb_spark.operators.text import readability

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in readability(df).collect()}
    for i, t in rows:
        # emulate the JVM exactly: Spark trim() strips ASCII space only,
        # and Java's \s is [ \t\n\x0b\f\r] — unlike Python, whose
        # str.strip()/\s also treat \x1c-\x1f as whitespace (hypothesis
        # found this divergence with the text "\x1f")
        words = [
            w
            for w in _re.split(r"[ \t\n\x0b\f\r]+", t.strip(" ").lower())
            if w != ""
        ]
        n_words = len(words)
        n_sent = max(len(_re.findall(r"[.!?]+", t)), 1)
        n_syl = sum(max(len(_re.findall(r"[aeiouy]+", w)), 1) for w in words)
        r = got[i]
        assert (r.n_words, r.n_sentences, r.n_syllables) == (n_words, n_sent, n_syl), t
        if n_words == 0:
            assert r.flesch is None and r.fk_grade is None
        else:
            import math

            wps, spw = n_words / n_sent, n_syl / n_words
            assert math.isclose(
                r.flesch, 206.835 - 1.015 * wps - 84.6 * spw, abs_tol=2e-6
            )
