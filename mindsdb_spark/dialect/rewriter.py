"""SQL-text lexer and function rewriter.

The reference adapts MySQL-dialect functions for its DuckDB executor with a
per-function rewrite table (reference:
mindsdb/api/executor/utilities/mysql_to_duckdb_functions.py:678-712). We do
the same MySQL → Spark SQL adaptation, but on the SQL text itself: the
rewriter finds function calls outside string literals, splits their
top-level arguments, recursively rewrites them, and applies the rule.

This is intentionally *not* a SQL parser — Spark's parser handles the
grammar; the rewriter only needs to relocate function spellings, which is
exactly the role the reference's SQLAlchemy-level adapter plays. Every text
pass of the engine (clause splits, masking, renames) reads the one token
stream ``lex`` makes, so where a literal, a backtick name or a comment ends
is decided in one place.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterator

# rule: (args: list[str]) -> replacement SQL
Rule = Callable[[list[str]], str]

# The quoting rules. A '…' literal takes '' doubling and backslash escapes,
# a "…" literal and a `…` name take doubling only; an unterminated literal
# or name runs to the end of the text. `#` starts a MySQL comment that runs
# to the end of the line.
_TOKEN_RE = re.compile(
    r"""(?P<word>[^\W\d]\w*)
      |(?P<ws>\s+)
      |(?P<str>'(?:[^'\\]+|\\[\s\S]?|'')*'?|"(?:[^"]+|"")*"?)
      |(?P<name>`(?:[^`]+|``)*`?)
      |(?P<var>@@[\w.]*)
      |(?P<comment>\#[^\n]*)
      |(?P<open>[(\[{])
      |(?P<close>[)\]}])
      |(?P<other>[\s\S])""",
    re.VERBOSE,
)


def lex(text: str) -> list[tuple[str, str, int]]:
    """``(kind, token text, start)`` for every token of ``text``; the token
    texts concatenate back to ``text``. Kinds: ``str`` (quoted literal),
    ``name`` (backtick identifier), ``var`` (``@@name``), ``word``, ``ws``,
    ``comment``, ``open``/``close`` (any bracket), ``other`` (one char)."""
    return [(m.lastgroup, m.group(), m.start()) for m in _TOKEN_RE.finditer(text)]


def _depths(text: str) -> Iterator[tuple[int, str, str, int]]:
    """``(depth, kind, token, start)``: ``depth`` is the bracket depth around
    the token, so a bracket carries the depth of what encloses it."""
    depth = 0
    for kind, tok, start in lex(text):
        if kind == "close":
            depth -= 1
        yield depth, kind, tok, start
        if kind == "open":
            depth += 1


def top_words(text: str) -> list[tuple[int, str]]:
    """``(start, word)`` of every bare word at bracket depth 0, outside
    string literals and backtick names. Clause splits use these instead of
    lazy regex splits, so a literal like ``' WHERE x'`` can never provide a
    clause boundary."""
    return [(s, tok) for d, kind, tok, s in _depths(text) if d == 0 and kind == "word"]


def split_top_level(body: str, sep: str = ",") -> list[str]:
    """Split ``body`` on ``sep`` at bracket depth 0 (parens, braces and
    brackets — JSON-object USING values), outside literals and names; the
    parts are stripped, and a blank body has none."""
    parts, start = [], 0
    for d, _kind, tok, s in _depths(body):
        if d == 0 and tok == sep:
            parts.append(body[start:s].strip())
            start = s + 1
    tail = body[start:].strip()
    if tail or parts:
        parts.append(tail)
    return parts


def matching_close(text: str, i: int) -> int:
    """Index of the bracket closing the one at ``text[i]`` (``len(text)``
    when unclosed)."""
    tokens = _depths(text[i:])
    next(tokens)
    return next((i + s for d, kind, _t, s in tokens if kind == "close" and d == 0), len(text))


def sub_code(text: str, *subs: tuple) -> str:
    """Apply each ``(pattern, repl)`` of ``subs`` in turn, as ``re.sub``
    does, to the code between string literals only, so a literal like
    ``'document id 5'`` is never edited. Backtick names are code and are
    rewritten."""

    def sub(code: str) -> str:
        for pattern, repl in subs:
            code = re.sub(pattern, repl, code)
        return code

    out, start = [], 0
    for kind, tok, s in lex(text):
        if kind == "str":
            out += [sub(text[start:s]), tok]
            start = s + len(tok)
    out.append(sub(text[start:]))
    return "".join(out)


def strip_mysql_comments(sql: str) -> str:
    """Remove MySQL ``#``-to-end-of-line comments. The reference's parser
    accepts them (MySQL dialect); Spark SQL only knows ``--`` and block
    comments, so they are stripped before any command matching or rewrite.
    String literals and backtick identifiers are preserved."""
    if "#" not in sql:
        return sql
    return "".join(tok for kind, tok, _s in lex(sql) if kind != "comment")


def rewrite_sql(sql: str, rules: dict[str, Rule], vars_: dict[str, str] | None = None) -> str:
    """Rewrite every FUNC(args...) whose upper-cased name is in `rules`.

    `vars_` maps @@variable names (lowercase, without @@) to literal SQL;
    an unknown variable reads NULL.
    """
    tokens = lex(sql)
    out, end = [], 0
    for k, (kind, tok, s) in enumerate(tokens):
        if s < end:
            continue  # inside a call already rewritten
        if kind == "var":
            name = tok[2:].lower().split(".")[-1]
            tok = vars_[name] if vars_ and name in vars_ else "NULL"
        elif kind == "word" and tok.upper() in rules:
            o = k + 1 + (k + 1 < len(tokens) and tokens[k + 1][0] == "ws")
            if o < len(tokens) and tokens[o][1] == "(":
                end = matching_close(sql, tokens[o][2]) + 1
                args = split_top_level(sql[tokens[o][2] + 1 : end - 1])
                tok = rules[tok.upper()]([rewrite_sql(a, rules, vars_) for a in args])
        out.append(tok)
    return "".join(out)


_QUALIFY_TERMINATORS = ("ORDER", "LIMIT", "OFFSET", "UNION", "INTERSECT", "EXCEPT")


def rewrite_qualify(sql: str) -> str:
    """QUALIFY clause support: DuckDB (the reference's internal executor)
    accepts `... QUALIFY <window predicate>`; Spark has no QUALIFY, so the
    clause rewrites to the standard subquery form —

        SELECT * EXCEPT (__qualify__) FROM (
            SELECT <targets>, (<pred>) AS __qualify__ <rest-of-query>
        ) WHERE __qualify__ <order/limit tail>

    — which is semantically what QUALIFY means (filter after window
    evaluation, before ORDER BY/LIMIT). Top-level QUALIFY only; set
    operations around it and DISTINCT targets are refused with a clear
    error rather than silently changing semantics.
    """
    words = [(i, w.upper()) for i, w in top_words(sql)]
    froms_all = [i for i, w in words if w == "FROM"]
    # a QUALIFY clause can only follow the FROM — a bare identifier named
    # `qualify` in the projection must not trigger the rewrite
    q = [
        (i, w)
        for i, w in words
        if w == "QUALIFY" and froms_all and i > froms_all[0]
    ]
    if not q:
        return sql
    if len(q) > 1:
        raise ValueError("multiple top-level QUALIFY clauses are not supported")
    qi, _ = q[0]

    def _is_star_except(idx: int) -> bool:
        # `* EXCEPT (cols)` / `t.* EXCEPT (cols)` is a projection modifier,
        # not a set operation — recognized by the `*` immediately before
        return sql[:idx].rstrip().endswith("*")

    if any(
        w in ("UNION", "INTERSECT") or (w == "EXCEPT" and not _is_star_except(i))
        for i, w in words
        if i < qi
    ):
        raise ValueError("QUALIFY combined with set operations is not supported")
    selects = [i for i, w in words if w == "SELECT"]
    froms = [i for i in froms_all if i < qi]
    if not selects or not froms:
        raise ValueError("QUALIFY requires a SELECT ... FROM query")
    sel_i = selects[0]
    from_i = froms[0]
    if any(w == "DISTINCT" and sel_i < i < from_i for i, w in words):
        raise ValueError("QUALIFY with SELECT DISTINCT is not supported")
    # predicate runs until the first top-level terminator after QUALIFY
    tail_i = len(sql)
    for i, w in words:
        if i > qi and w in _QUALIFY_TERMINATORS:
            tail_i = i
            break
    pred = sql[qi + len("QUALIFY"):tail_i].strip().rstrip(";")
    tail = sql[tail_i:].strip()
    inner = (
        sql[:from_i].rstrip()
        + f", ({pred}) AS __qualify__ "
        + sql[from_i:qi].strip()
    )
    out = f"SELECT * EXCEPT (__qualify__) FROM ({inner}) WHERE __qualify__"
    if tail:
        out += " " + tail
    return out
