"""SQL front door unit tests.

Mirrors the reference's parser/planner tests: multi-statement splitting
with ';' inside strings (test_sqlparser_behavior.rs:6-27) and
read_files arg parsing incl. the connection named arg
(test_logical_planner.rs:10-159, read_files_task.rs:65-114).
"""

import pytest

from chapterhousedb_spark.sqlfront import (
    TableFuncSyntaxError,
    TableFunction,
    default_table_function_registry,
    split_statements,
)


def _rewrite(sql):
    return default_table_function_registry().rewrite(sql, view_prefix="__read_files")


class TestSplitStatements:
    def test_single(self):
        assert split_statements("select 1") == ["select 1"]

    def test_multiple(self):
        assert split_statements("select 1; select 2;") == ["select 1", "select 2"]

    def test_semicolon_inside_string(self):
        stmts = split_statements("select 'a;b' as x; select 2")
        assert stmts == ["select 'a;b' as x", "select 2"]

    def test_escaped_quote_inside_string(self):
        stmts = split_statements("select 'it''s; fine'; select 2")
        assert stmts == ["select 'it''s; fine'", "select 2"]

    def test_line_comment_with_semicolon(self):
        stmts = split_statements("select 1 -- trailing; comment\n; select 2")
        assert len(stmts) == 2
        assert stmts[1] == "select 2"

    def test_block_comment(self):
        stmts = split_statements("select /* ; */ 1; select 2")
        assert len(stmts) == 2

    def test_empty_and_comment_only_dropped(self):
        assert split_statements(";;  ; -- nothing\n;") == []

    def test_double_quoted_identifier(self):
        stmts = split_statements('select "a;b" from t; select 2')
        assert len(stmts) == 2

    def test_backquoted_identifier(self):
        assert split_statements("select 1 as `a;b`") == ["select 1 as `a;b`"]

    def test_backslash_escaped_quote_inside_string(self):
        sql = r"select 'it\'s; fine' as s"
        assert split_statements(sql) == [sql]

    def test_nested_block_comment(self):
        sql = "select 1 /* a /* b */ ; */ as x"
        assert split_statements(sql) == [sql]

    def test_raw_string_keeps_trailing_backslash(self):
        stmts = split_statements(r"select r'C:\dir\' as s, 'x;y' as t; select 2")
        assert stmts == [r"select r'C:\dir\' as s, 'x;y' as t", "select 2"]


class TestRewriteReadFiles:
    def test_basic(self):
        sql, calls = _rewrite(
            "select * from read_files('data/*.parquet')"
        )
        assert sql == "select * from __read_files_0"
        assert len(calls) == 1
        assert calls[0].glob == "data/*.parquet"
        assert calls[0].connection is None

    def test_connection_named_arg(self):
        sql, calls = _rewrite(
            "select * from READ_FILES('simple/*.parquet', connection=>'s3_dev')"
        )
        assert calls[0].connection == "s3_dev"
        assert "__read_files_0" in sql

    def test_multiple_calls(self):
        sql, calls = _rewrite(
            "select * from read_files('a/*.parquet') t1, read_files('b/*.parquet') t2"
        )
        assert [c.view_name for c in calls] == ["__read_files_0", "__read_files_1"]
        assert "__read_files_0 t1" in sql and "__read_files_1 t2" in sql

    def test_ignores_inside_string_literal(self):
        sql, calls = _rewrite("select 'read_files(''x'')' as s")
        assert calls == []
        assert sql == "select 'read_files(''x'')' as s"

    def test_quote_escape_in_glob(self):
        _, calls = _rewrite("select * from read_files('it''s/*.parquet')")
        assert calls[0].glob == "it's/*.parquet"

    def test_backslash_quote_escape_in_glob(self):
        _, calls = _rewrite(r"select * from read_files('a\'b.parquet')")
        assert calls[0].glob == "a'b.parquet"

    @pytest.mark.parametrize(
        "sql",
        [
            """select "read_files('nope.parquet')" as s""",
            "select `read_files('t')` from t",
            r"select 'it\'s read_files(''x.parquet'')' as s",
        ],
    )
    def test_ignores_inside_quotes(self, sql):
        assert _rewrite(sql) == (sql, [])

    def test_bad_args_raise(self):
        with pytest.raises(TableFuncSyntaxError):
            _rewrite("select * from read_files(42)")

    def test_no_call_passthrough(self):
        sql, calls = _rewrite("select 1 as x")
        assert sql == "select 1 as x" and calls == []


class TestTableFunctionRegistry:
    """The extension point mirroring the reference's
    add_table_func_task_builder + TableFuncSyntaxValidator
    (operator_task_registry.rs:106-126)."""

    def test_read_csv_named_args(self):
        reg = default_table_function_registry()
        sql, calls = reg.rewrite(
            "select * from read_csv('d/*.csv', header=>'false', delimiter=>'|')"
        )
        assert calls[0].func == "read_csv"
        assert calls[0].glob == "d/*.csv"
        assert calls[0].named_args == {"header": "false", "delimiter": "|"}
        assert "__tf_0" in sql

    def test_unknown_named_arg_rejected(self):
        reg = default_table_function_registry()
        with pytest.raises(TableFuncSyntaxError):
            reg.rewrite(
                "select * from read_files('a.parquet', compression=>'zip')"
            )

    def test_read_files_format_dispatch(self):
        """read_files dispatches on extension (the reference's roadmap
        formats, README.md:63-66) or an explicit format=> override;
        a bogus format value raises the syntax-error class."""
        from chapterhousedb_spark.sqlfront.table_funcs import (
            TableFuncCall,
            _read_files_format,
        )

        def call(glob, **named):
            return TableFuncCall(
                func="read_files", glob=glob, named_args=named, view_name="v"
            )

        assert _read_files_format(call("a/*.parquet")) == "parquet"
        assert _read_files_format(call("a/*")) == "parquet"  # no extension
        assert _read_files_format(call("a/*.csv")) == "csv"
        assert _read_files_format(call("a/*.TSV")) == "csv"
        assert _read_files_format(call("a/*.json")) == "json"
        assert _read_files_format(call("a/*.jsonl")) == "json"
        assert _read_files_format(call("a/*.ndjson")) == "json"
        # explicit format beats the extension
        assert _read_files_format(call("a/*.dat", format="csv")) == "csv"
        with pytest.raises(TableFuncSyntaxError, match="format must be"):
            _read_files_format(call("a/*.csv", format="xml"))

    def test_read_files_explicit_schema(self, spark, tmp_path):
        """schema=> ('name type, ...' DDL) skips the inference pass —
        the 100 TB path (inference re-reads every file); parquet is
        self-describing so schema=> on parquet is a syntax error."""
        import pyspark.sql.types as T

        from chapterhousedb_spark.config import ConnectionRegistry
        from chapterhousedb_spark.sqlfront.table_funcs import (
            TableFuncCall,
            _build_read_files,
        )

        (tmp_path / "t.csv").write_text("a,b\n1,x\n2,y\n")

        def call(**named):
            return TableFuncCall(
                func="read_files",
                glob=str(tmp_path / "t.csv"),
                named_args=named,
                view_name="v",
            )

        df = _build_read_files(spark, ConnectionRegistry(), call(
            schema="a bigint, b string"))
        assert df.schema == T.StructType([
            T.StructField("a", T.LongType()),
            T.StructField("b", T.StringType()),
        ])
        assert df.count() == 2
        with pytest.raises(TableFuncSyntaxError, match="self-describing"):
            _build_read_files(
                spark,
                ConnectionRegistry(),
                TableFuncCall(
                    func="read_files", glob="x/*.parquet",
                    named_args={"schema": "a int"}, view_name="v",
                ),
            )
        # schema=> and infer_schema=> together: the explicit schema
        # would silently swallow infer_schema — reject (ADVICE r14)
        with pytest.raises(TableFuncSyntaxError, match="mutually exclusive"):
            _build_read_files(
                spark,
                ConnectionRegistry(),
                call(schema="a bigint, b string", infer_schema="true"),
            )
        # format-irrelevant args raise instead of being silently
        # dropped (csv options on json, csv/json options on parquet)
        for glob, named in (
            ("x/*.json", {"delimiter": "|"}),
            ("x/*.json", {"header": "false"}),
            ("x/*.parquet", {"header": "false"}),
            ("x/*.csv", {"multiline": "true"}),
        ):
            with pytest.raises(TableFuncSyntaxError, match="do not apply"):
                _build_read_files(
                    spark,
                    ConnectionRegistry(),
                    TableFuncCall(
                        func="read_files", glob=glob,
                        named_args=named, view_name="v",
                    ),
                )

    def test_read_files_csv_json_args_allowed(self):
        reg = default_table_function_registry()
        _, calls = reg.rewrite(
            "select * from read_files('d/*.csv', header=>'false', "
            "delimiter=>'|', format=>'csv')"
        )
        assert calls[0].named_args["delimiter"] == "|"
        _, calls = reg.rewrite(
            "select * from read_files('d/*.json', multiline=>'true')"
        )
        assert calls[0].named_args["multiline"] == "true"

    def test_mixed_functions_one_statement(self):
        reg = default_table_function_registry()
        _, calls = reg.rewrite(
            "select * from read_files('a.parquet') t1 "
            "join read_csv('b.csv') t2 on t1.id = t2.id"
        )
        assert [c.func for c in calls] == ["read_files", "read_csv"]

    def test_user_registered_function_rewrites(self):
        reg = default_table_function_registry()
        reg.register(
            TableFunction(
                name="my_source",
                build=lambda spark, conns, call: None,
                allowed_args=frozenset({"n"}),
            )
        )
        _, calls = reg.rewrite("select * from my_source('x', n=>'3')")
        assert calls[0].func == "my_source" and calls[0].named_args == {"n": "3"}

    def test_unregistered_function_untouched(self):
        reg = default_table_function_registry()
        sql, calls = reg.rewrite("select * from other_func('x')")
        assert calls == [] and "other_func('x')" in sql
