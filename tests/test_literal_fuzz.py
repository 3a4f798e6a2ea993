"""Literal-robustness fuzz over the regex command layer (round-3 verdict
item 5): string literals packed with SQL keywords — JOIN/WHERE/(SELECT/
QUALIFY/EXCLUDE/LATEST, quotes, backslashes — must ride through ``sql()``
on every statement family either executing correctly (the literal
round-trips byte-identical) or failing with a clean error; a keyword inside
a literal must never re-route a statement down a different command path.
"""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from mindsdb_spark.engine import EngineSession

_settings = settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

# fragments chosen to collide with every regex dispatcher: join/model
# routing, DML subselect scan, QUALIFY/EXCLUDE rewrites, KB aliasing,
# AND-splitting, LATEST, comment stripping, quote/backslash escapes
_FRAGMENTS = [
    "JOIN model",
    " WHERE x = 1",
    "(SELECT 1)",
    "(select secret",
    "qualify",
    "* EXCLUDE (x)",
    "id",
    "chunk_content",
    "AND y",
    "GROUP BY z",
    "ORDER BY beta",
    "LIMIT 5",
    "USING hybrid = true",
    "> LATEST",
    "-- comment",
    "# hash",
    "union all",
    "''",
    "it's",
    "back\\slash",
    '"dquote"',
    "evil`tick",
]

_literals = st.lists(
    st.sampled_from(_FRAGMENTS), min_size=1, max_size=4
).map(lambda parts: " ".join(parts))


def _esc(s: str) -> str:
    return s.replace("\\", "\\\\").replace("'", "''")


@pytest.fixture(scope="module")
def fsess(spark, sf_dir, tmp_path_factory):
    s = EngineSession(spark)
    s.register_parquet_source("tpch", sf_dir, tables=["nation", "region"])
    s.register_writable_source("whf", str(tmp_path_factory.mktemp("whf")))
    s.sql(
        "CREATE OR REPLACE TABLE whf.fuzz AS SELECT * FROM VALUES "
        "(1, 'seed') AS t(id, note)"
    )
    return s


@_settings
@given(lit=_literals)
def test_select_literal_roundtrips(fsess, lit):
    rows = fsess.sql(
        f"SELECT '{_esc(lit)}' AS lit, n_nationkey FROM tpch_nation "
        "ORDER BY n_nationkey LIMIT 1"
    ).collect()
    assert rows[0]["lit"] == lit


@_settings
@given(lit=_literals)
def test_where_literal_never_matches_or_reroutes(fsess, lit):
    # no nation is named like any fuzz literal → count must be 0; a
    # mis-route would error or return a different shape
    rows = fsess.sql(
        f"SELECT count(*) AS n FROM tpch_nation WHERE n_name = '{_esc(lit)}'"
    ).collect()
    assert rows[0]["n"] == 0


@_settings
@given(lit=_literals)
def test_dml_literal_roundtrips(fsess, lit):
    # UPDATE writes the literal, SELECT reads it back byte-identical,
    # DELETE removes exactly that row by literal equality
    e = _esc(lit)
    n = fsess.sql(f"UPDATE whf.fuzz SET note = '{e}' WHERE id = 1").collect()[0][
        "updated"
    ]
    assert n == 1
    got = fsess.sql("SELECT note FROM whf_fuzz WHERE id = 1").collect()[0]["note"]
    assert got == lit
    fsess.sql(f"INSERT INTO whf.fuzz VALUES (2, '{e}')")
    d = fsess.sql(f"DELETE FROM whf.fuzz WHERE note = '{e}' AND id = 2").collect()[0][
        "deleted"
    ]
    assert d == 1


@pytest.fixture(scope="module")
def doorsess(spark, sf_dir):
    # round-4 verdict item 8: fuzz the KB, model-join and agent/KB-DML
    # routers too — the regex dispatchers most exposed to keyword-shaped
    # literals (`(SELECT`, `JOIN model`, `id`, LATEST, quotes, backslashes)
    import pandas as pd

    from mindsdb_spark.operators.model import ModelSpec

    s = EngineSession(spark)
    s.register_parquet_source("tpch", sf_dir, tables=["orders", "documents"])
    docs = s.sql("SELECT doc_id, text FROM tpch_documents LIMIT 100")
    s.register_knowledge_base("fkb", docs)

    def predict(pdf):
        risk = (pdf["o_totalprice"] / 500000.0).clip(upper=1.0)
        return pd.DataFrame(
            {"risk": risk, "band": risk.map(lambda r: "hi" if r > 0.5 else "lo")}
        )

    s.register_model(
        ModelSpec(name="fm", predict=predict, output_schema="risk double, band string")
    )
    return s


@_settings
@given(lit=_literals)
def test_kb_search_literal_is_search_text(doorsess, lit):
    # the content literal must reach the KB search byte-identical — no
    # alias rewrite (`id`, `chunk_content`), no subselect routing, no
    # QUALIFY/LATEST misfire inside the quoted text
    seen = {}
    orig = doorsess._kb_search

    def spy(name, content, *a, **k):
        seen["content"] = content
        return orig(name, content, *a, **k)

    doorsess._kb_search = spy
    try:
        rows = doorsess.sql(
            f"SELECT doc_id FROM fkb WHERE content = '{_esc(lit)}' LIMIT 3"
        ).collect()
    finally:
        doorsess._kb_search = orig
    assert seen["content"] == lit
    assert len(rows) == 3


@_settings
@given(lit=_literals)
def test_model_join_output_literal_filter(doorsess, lit):
    # model-join WHERE with a fuzz literal on an output column: the literal
    # must act as a plain post-apply equality — band is only 'hi'/'lo', so
    # the count is 0 — and must not trip the LATEST/param/subselect routes
    rows = doorsess.sql(
        f"SELECT t.o_orderkey, m.band FROM tpch_orders t JOIN fm m "
        f"WHERE t.o_orderkey <= 20 AND m.band = '{_esc(lit)}'"
    ).collect()
    assert rows == []


@_settings
@given(lit=_literals)
def test_kb_delete_literal_no_subselect_misroute(doorsess, lit):
    # KB DELETE with a keyword-shaped literal: `(SELECT` inside the quoted
    # string must not be lifted into a subquery view; equality on a
    # non-matching literal deletes exactly 0 chunks
    before = doorsess._kbs["fkb"]["store"].count()
    out = doorsess.sql(
        f"DELETE FROM fkb WHERE chunk_text = '{_esc(lit)}'"
    ).collect()[0][0]
    assert out == 0
    assert doorsess._kbs["fkb"]["store"].count() == before


# Raw literal SOURCE strings (the text between the quotes) whose decode must
# be byte-identical to Spark's own parser — unicode/octal escapes included
# (the KB content regexes hand _sql_literal_text exactly this raw source).
# Built with chr(92) so no tool/layer ever pre-decodes the escapes.
_BS = chr(92)
_ESCAPE_SOURCES = [
    _BS + "u0041BC",                    # 4-hex unicode escape -> "ABC"
    _BS + "u00e9 caf" + _BS + "u00e9",  # lowercase hex, repeated
    _BS + "101BC",                      # 3-digit octal -> "ABC"
    _BS + "12x",                        # too-short octal: backslash drops
    _BS + "uZZZZ",                      # malformed unicode: backslash drops
    "a" + _BS + "nb" + _BS + "tc",      # classic single-char escapes
    "back" + _BS + _BS + "slash",
    "pct " + _BS + "% und " + _BS + "_",  # LIKE escapes keep the backslash
    "ctrl " + _BS + "Z end",
    "two''quotes",
    _BS + "177hi",                      # octal max: 0o177 decodes
    _BS + "377hi",                      # first digit >1: backslash drops
    _BS + "201hi",                      # first digit 2: backslash drops
    _BS + "U0001F600ok",                # 8-hex 32-bit escape -> emoji
    _BS + "U0001F6",                    # truncated 8-hex: backslash drops
    _BS + "08x",                        # \0 + non-octal: NUL then "8x"
    _BS + "0end",                       # bare \0 -> NUL
]


@pytest.mark.parametrize("raw", _ESCAPE_SOURCES)
def test_sql_literal_text_matches_spark_parser(spark, raw):
    from mindsdb_spark.engine import _sql_literal_text

    expected = spark.sql("SELECT '" + raw + "' AS v").first()["v"]
    assert _sql_literal_text(raw) == expected


@_settings
@given(lit=_literals)
def test_kb_index_using_path_literal(doorsess, lit, tmp_path_factory):
    # round-7: CREATE INDEX ON KNOWLEDGE_BASE grew a USING clause; a
    # keyword-shaped literal in `path = '...'` must neither re-route the
    # statement nor be split mid-literal by the kv parser. Use it as the
    # final path segment (sanitized only by the filesystem, not the
    # engine) and prove the round-trip by searching the indexed KB.
    import os
    import re as _re

    e = lit.replace("\\", "\\\\").replace("'", "''")
    # USING values go through _param_value, whose contract (matching the
    # reference's parameter fill) is strip-quotes, not SQL-literal decode —
    # so quote characters are not representable in a path value; keyword
    # shapes, parens, spaces and comment markers are what must not misroute
    safe_seg = _re.sub(r"[^\w ,()\[\]{}=<>*#-]", "_", lit)[:60].strip()
    base = tmp_path_factory.mktemp("kbidx")
    target = os.path.join(str(base), safe_seg or "x")
    te = target
    try:
        row = doorsess.sql(
            f"CREATE INDEX ON KNOWLEDGE_BASE fkb "
            f"USING layout = 'partitioned', n_centroids = 2, path = '{te}'"
        ).collect()[0]
    except (ValueError, KeyError, OSError):
        return  # clean rejection is acceptable; misrouting is not
    assert row["layout"] == "partitioned"
    # the snapshot landed at exactly the literal path
    assert any(d.startswith("__cell=") for d in os.listdir(target))
    hits = doorsess.sql(
        f"SELECT doc_id FROM fkb WHERE content = '{e}' LIMIT 3"
    ).collect()
    assert len(hits) == 3  # partitioned probe serves the search
    # reset for the next example: a no-op mutation unindexes the KB
    doorsess.sql("DELETE FROM fkb WHERE 1 = 0")


# --- round-8 families: multi-sheet names, editdist payloads ----------------

_SHEET_NAMES = [
    "JOIN model", "select secret", "it's fine", "union all", "GROUP BY z",
    "WHERE x = 1", "qualify", "LIMIT 5", "Q1 2024", "Q1_2024", "order by",
    "files_book", "sheet", "USING hybrid",
]


@_settings
@given(names=st.lists(st.sampled_from(_SHEET_NAMES), min_size=2, max_size=3,
                      unique=True))
def test_multisheet_keyword_sheet_names(spark, tmp_path_factory, names):
    """Sheet names packed with SQL keywords must register as queryable
    files_<name>_<sheet> views without re-routing any statement, and a
    re-registration with FEWER sheets must drop the stale views (round-7
    ADVICE fix)."""
    import re as _re

    from test_files_joins import _write_multisheet_xlsx

    from mindsdb_spark.engine import EngineSession
    from pyspark.sql.utils import AnalysisException

    sess = EngineSession(spark)
    base = tmp_path_factory.mktemp("msfuzz")
    p = str(base / "book.xlsx")
    sheets = {
        i + 1: (nm, ["k", "v"], [[f"r{i}", i]]) for i, nm in enumerate(names)
    }
    _write_multisheet_xlsx(p, sheets)
    sess.register_file("fz", p)
    suffixes, taken = [], set()
    for nm in names:  # mirror the engine's sanitize-with-ordinal rule
        sfx = _re.sub(r"\W+", "_", nm).strip("_").lower() or "sheet"
        b, i = sfx, 2
        while sfx in taken:
            sfx = f"{b}_{i}"
            i += 1
        taken.add(sfx)
        suffixes.append(sfx)
    for i, sfx in enumerate(suffixes):
        got = sess.sql(f"SELECT k, v FROM files_fz_{sfx}").collect()
        assert [(r["k"], r["v"]) for r in got] == [(f"r{i}", i)]
    # shrink the workbook to sheet 1 only and re-register the SAME path:
    # the removed sheets' views must be gone from the catalog
    _write_multisheet_xlsx(p, {1: (names[0], ["k", "v"], [["only", 9]])})
    sess.register_file("fz", p)
    assert [r["k"] for r in sess.sql("SELECT k FROM files_fz").collect()] == ["only"]
    for sfx in suffixes[1:]:
        with pytest.raises(AnalysisException):
            spark.sql(f"SELECT * FROM files_fz_{sfx}").collect()
    sess.drop_file("fz")


def _py_lev(a: str, b: str, cap: int) -> int:
    """Reference Levenshtein with threshold semantics (-1 above cap)."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                           prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1] if prev[-1] <= cap else -1


_NASTY_TEXT = st.lists(
    st.sampled_from(list("ab'\"\\%_\n\t;`—é日") + ["''", "\\n"]),
    min_size=0, max_size=12,
).map("".join)


@_settings
@given(ta=_NASTY_TEXT, tb=_NASTY_TEXT)
def test_editdist_confirm_quote_backslash_payloads(spark, ta, tb):
    """d55's confirm step must compute exact distances on texts full of
    quotes, backslashes, newlines and unicode — payloads ride as column
    VALUES (never re-parsed as SQL), so the JVM levenshtein must agree
    with a reference implementation byte-for-byte."""
    from mindsdb_spark.operators.dedup import editdist_confirm

    docs = spark.createDataFrame([(1, ta), (2, tb)], "doc_id long, text string")
    cand = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    got = editdist_confirm(docs, cand, max_dist=6).collect()
    exp = _py_lev(ta, tb, 6)
    if exp == -1:
        assert got == []
    else:
        assert len(got) == 1 and got[0]["edit_dist"] == exp
