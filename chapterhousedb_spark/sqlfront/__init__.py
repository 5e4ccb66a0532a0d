"""SQL front door: one lexer, statement splitting and table-function
rewriting.

This is the thin layer the reference implements with the sqlparser crate
(reference src/planner/logical_planner.rs:209-216) before its own
planner. `splitter.lex` follows Spark's lexer and is the only code that
knows where literals, quoted identifiers and comments start and end:
'...' and "..." strings (backslash escapes the next character, a
doubled quote is a quote), r'...' / R"..." raw strings, `...`
identifiers (a doubled backtick is a backtick), -- line comments and
nesting /* */ comments, each running to the end of the text when
unterminated. `split_statements` splits on ';' and
`TableFunctionRegistry.rewrite` replaces table-function calls, both in
code only. Everything after the rewrite is handed to spark.sql() and
planned by Catalyst.
"""

from chapterhousedb_spark.sqlfront.splitter import split_statements

# The table-function names resolve on first touch (PEP 562), because
# table_funcs imports pyspark and the splitter must not: the CLI's
# --connect client lexes its input on a machine without Spark.
_TABLE_FUNC_EXPORTS = {
    "TableFuncCall",
    "TableFuncSyntaxError",
    "TableFunction",
    "TableFunctionRegistry",
    "default_table_function_registry",
}

__all__ = sorted(_TABLE_FUNC_EXPORTS) + ["split_statements"]


def __getattr__(name: str):
    if name in _TABLE_FUNC_EXPORTS:
        from chapterhousedb_spark.sqlfront import table_funcs

        return getattr(table_funcs, name)
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
