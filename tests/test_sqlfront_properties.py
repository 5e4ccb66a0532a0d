"""Property-based tests (hypothesis) for the SQL front door.

The splitter and the rewriter both read SQL through one lexer
(splitter.lex: strings, raw strings, quoted identifiers and comments);
properties catch the corner cases example tests miss: statement
round-trips, quote-escape handling in globs, and text inside any quoted
span or comment never split or rewritten.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from chapterhousedb_spark.sqlfront import (
    default_table_function_registry,
    split_statements,
)

# statement bodies free of splitter-significant characters
_plain = st.text(
    alphabet=st.characters(
        whitelist_categories=("Lu", "Ll", "Nd"), whitelist_characters=" _,()=<>."
    ),
    min_size=1,
    max_size=60,
).filter(lambda s: s.strip())

# (open, close) of every span the lexer keeps out of code
_WRAPS = [("'", "'"), ('"', '"'), ("`", "`"), ("-- ", "\n"), ("/* ", " */")]

# glob paths, including single quotes (embedded doubled) and glob chars
_glob = st.text(
    alphabet=st.characters(
        whitelist_categories=("Ll", "Nd"), whitelist_characters="/*.?_-'"
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=200, deadline=None)
@given(st.lists(_plain, min_size=1, max_size=8))
def test_split_round_trips_plain_statements(stmts):
    joined = "; ".join(stmts)
    assert split_statements(joined) == [s.strip() for s in stmts]


def _rewrite(sql, view_prefix="__read_files"):
    return default_table_function_registry().rewrite(sql, view_prefix=view_prefix)


@settings(max_examples=200, deadline=None)
@given(_plain, _plain, st.sampled_from(_WRAPS))
def test_split_ignores_semicolons_inside_literals(a, b, wrap):
    opener, closer = wrap
    text = f"select {opener}{a}; not a split{closer} as x; select {b}"
    out = split_statements(text)
    assert len(out) == 2
    assert out[0].endswith("as x")


@settings(max_examples=300, deadline=None)
@given(st.lists(_glob, min_size=1, max_size=4))
def test_rewrite_recovers_planted_globs(globs):
    calls_sql = ", ".join(
        f"read_files('{g.replace(chr(39), chr(39) * 2)}') t{i}"
        for i, g in enumerate(globs)
    )
    sql = f"select * from {calls_sql}"
    rewritten, calls = _rewrite(sql, view_prefix="__v")
    assert [c.glob for c in calls] == globs
    assert "read_files" not in rewritten.lower()  # every call site replaced
    for c in calls:
        assert c.view_name in rewritten


@settings(max_examples=200, deadline=None)
@given(_glob, st.sampled_from(_WRAPS))
def test_rewrite_never_touches_string_literals(g, wrap):
    opener, closer = wrap
    lit = f"read_files('{g.replace(chr(39), chr(39) * 2)}')"
    if opener == "'":
        lit = lit.replace(chr(39), chr(39) * 2)
    sql = f"select {opener}{lit}{closer} as s"
    rewritten, calls = _rewrite(sql)
    assert calls == []
    assert rewritten == sql
