"""The SQL front door's lexer and multi-statement splitting.

The reference accepts SQL files containing multiple ';'-separated
statements and relies on sqlparser to not split on ';' inside string
literals (reference src/planner/test_sqlparser_behavior.rs:6-27 pins
that behavior; src/bin/client_tui.rs:372 feeds whole files). Here `lex`
is the one place that knows where literals, quoted identifiers and
comments start and end, following Spark's own lexer:

- `'...'` and `"..."` are strings: a backslash escapes the next
  character and a doubled quote is a quote;
- `r'...'` / `R"..."` are raw strings, with no backslash escapes;
- `` `...` `` is an identifier, and a doubled backtick is a backtick;
- `--` runs to the end of the line; `/* ... */` comments nest;
- anything unterminated runs to the end of the text.

Neither `spark.sql.ansi.doubleQuotedIdentifiers` nor
`spark.sql.parser.escapedStringLiterals` moves these extents, so the
lexer reads no conf. Everything outside them is code: `split_statements`
splits on code ';' and the table-function rewrite matches calls and
parentheses in code only.
"""

from __future__ import annotations

import re

CODE, QUOTED, COMMENT = "code", "quoted", "comment"

# a raw-string prefix only where an identifier cannot run into the `r`
_OPENER = re.compile(r"""(?<!\w)[rR](?=['"])|['"`]|--|/\*""")
_RAW = re.compile(r"""[rR](?:'[^']*'?|"[^"]*"?)""")
_SCANNERS = {
    "'": re.compile(r"'(?:[^'\\]+|\\.?|'')*'?", re.DOTALL),
    '"': re.compile(r'"(?:[^"\\]+|\\.?|"")*"?', re.DOTALL),
    "`": re.compile(r"`(?:[^`]+|``)*`?"),
    "r": _RAW,
    "R": _RAW,
    "--": re.compile(r"--[^\n]*"),
}
_BLOCK_DELIM = re.compile(r"/\*|\*/")


def lex(sql: str) -> list[tuple[str, int, int]]:
    """Cut `sql` into (kind, start, end) spans that cover it in order:
    CODE, QUOTED (a string, raw string or quoted identifier, quotes
    included) or COMMENT."""
    spans: list[tuple[str, int, int]] = []
    pos = 0
    while (m := _OPENER.search(sql, pos)) is not None:
        start = m.start()
        if start > pos:
            spans.append((CODE, pos, start))
        if m.group() == "/*":
            kind, end = COMMENT, _block_comment_end(sql, start)
        else:
            scanned = _SCANNERS[m.group()].match(sql, start)
            kind, end = (COMMENT if m.group() == "--" else QUOTED), scanned.end()
        spans.append((kind, start, end))
        pos = end
    if pos < len(sql):
        spans.append((CODE, pos, len(sql)))
    return spans


def _block_comment_end(sql: str, start: int) -> int:
    """End of the (nesting) block comment opened at `start`."""
    depth = 0
    for m in _BLOCK_DELIM.finditer(sql, start):
        depth += 1 if m.group() == "/*" else -1
        if not depth:
            return m.end()
    return len(sql)


def split_statements(text: str) -> list[str]:
    """Split SQL text on code ';'; drop empty statements.

    Comments are preserved inside statements (Spark's parser accepts
    them); a statement that is only comments/whitespace is dropped.
    """
    statements: list[str] = []
    start = 0
    has_sql = False
    for kind, a, b in lex(text):
        if kind == QUOTED:
            has_sql = True
        elif kind == CODE:
            i = a
            while (j := text.find(";", i, b)) != -1:
                if has_sql or text[i:j].strip():
                    statements.append(text[start:j].strip())
                start = i = j + 1
                has_sql = False
            has_sql = has_sql or bool(text[i:b].strip())
    if has_sql:
        statements.append(text[start:].strip())
    return statements
