"""Pluggable table-function registry for the SQL front door.

Mirrors the reference's extension point — the operator task registry
accepts user-registered table functions, each with a syntax validator
and a task builder (reference
src/handlers/operator_handler/operator_task_registry.rs:106-126,
`add_table_func_task_builder` + `TableFuncSyntaxValidator`;
`read_files` is the sole registered entry there, registry.rs:196-210).

The reference implements read_files as a registered table-function task
that lists storage by glob prefix and streams parquet batches (reference
src/handlers/operator_handler/operators/table_func_tasks/read_files_task.rs:65-114
for arg parsing, 156-232 for the list+match loop). Spark reads parquet
globs natively, so the whole operator collapses to a pre-parse rewrite:
`TableFunctionRegistry.rewrite` replaces every registered
`func('<glob>' [, name=>'value']...)` call site in code (never inside a
literal, quoted identifier or comment, as `splitter.lex` marks them)
with a generated table reference, and the engine registers the call's
DataFrame (for read_files, `spark.read.parquet(resolved_glob)`) as a
temp view under that name. Catalyst then gets predicate pushdown,
column pruning and partition pruning on the scan for free (all absent
in the reference — SURVEY.md §4.1).

A TableFunction pairs a validator (allowed named args) with a builder
that turns a parsed call into a DataFrame. Built-ins: `read_files`
(parquet, the reference's function, plus csv/json), `read_csv` and
`read_json` (the reference's README.md:63-66 unchecked roadmap boxes —
proving the plug point), and the operator-library functions below.
"""

from __future__ import annotations

import re
from collections.abc import Callable
from dataclasses import dataclass, replace
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession

from chapterhousedb_spark.sqlfront.splitter import CODE, QUOTED, lex

if TYPE_CHECKING:
    from chapterhousedb_spark.config import ConnectionRegistry


class TableFuncSyntaxError(ValueError):
    """Bad table-function arguments (the validator half of the
    reference's TableFuncSyntaxValidator trait)."""


@dataclass(frozen=True)
class TableFuncCall:
    """One parsed call site of a registered table function."""

    func: str
    glob: str
    named_args: dict[str, str]
    view_name: str

    @property
    def connection(self) -> str | None:
        return self.named_args.get("connection")


Builder = Callable[[SparkSession, "ConnectionRegistry", TableFuncCall], DataFrame]


@dataclass(frozen=True)
class TableFunction:
    """A registered table function: name + arg whitelist (+ required
    args — both checked in the rewrite's validate pass, surfacing
    through the engine's normal statement-error contract) + builder."""

    name: str
    build: Builder
    allowed_args: frozenset[str] = frozenset({"connection"})
    required_args: frozenset[str] = frozenset()

    def validate(self, call: TableFuncCall) -> None:
        unknown = set(call.named_args) - self.allowed_args
        if unknown:
            raise TableFuncSyntaxError(
                f"{self.name}: unknown named argument(s) {sorted(unknown)}; "
                f"allowed: {sorted(self.allowed_args)}"
            )
        absent = self.required_args - set(call.named_args)
        if absent:
            raise TableFuncSyntaxError(
                f"{self.name} requires named argument(s) {sorted(absent)}"
            )


# ------------------------------------------------------------ arg parsing

_NAMED_ARG_RE = re.compile(r"\s*,\s*(?P<name>[A-Za-z_][A-Za-z0-9_]*)\s*=>\s*")
_ESCAPE_RE = re.compile(r"''|\\.", re.DOTALL)
_PAREN_RE = re.compile(r"[()]")


def _unquote(literal: str) -> str:
    """Body of a '...' literal with '' and \\' decoded to '; every other
    backslash pair stays as written (a glob's own escapes, like \\*)."""
    return _ESCAPE_RE.sub(
        lambda m: "'" if m.group() in ("''", "\\'") else m.group(), literal[1:-1]
    )


def parse_call_args(func: str, arg_text: str) -> tuple[str, dict[str, str]]:
    """Parse `'<glob>' [, name=>'value']...` (the argument grammar of the
    reference's read_files, read_files_task.rs:65-114, generalized to
    any named args — each function's whitelist is checked separately).
    The literals' extents come from the front door's lexer."""
    literals = [(kind, a, b) for kind, a, b in lex(arg_text) if kind != CODE]
    if (
        not literals
        or arg_text[: literals[0][1]].strip()
        or any(kind != QUOTED or arg_text[a] != "'" for kind, a, _ in literals)
    ):
        raise TableFuncSyntaxError(
            f"{func} arguments must be '<glob>' [, name=>'value']...; got: {arg_text!r}"
        )
    named: dict[str, str] = {}
    for (_, _, prev_end), (_, a, b) in zip(literals, literals[1:]):
        nm = _NAMED_ARG_RE.fullmatch(arg_text, prev_end, a)
        if not nm:
            raise TableFuncSyntaxError(
                f"{func}: malformed named argument near {arg_text[prev_end:]!r}"
            )
        named[nm.group("name").lower()] = _unquote(arg_text[a:b])
    tail = arg_text[literals[-1][2] :]
    if tail.strip():
        raise TableFuncSyntaxError(f"{func}: malformed named argument near {tail!r}")
    _, a, b = literals[0]
    return _unquote(arg_text[a:b]), named


def _closing_paren(
    sql: str, code: list[tuple[int, int]], k: int, pos: int
) -> tuple[int, int] | None:
    """(code-span index, end) of the ')' closing a '(' just before `pos`
    in code span k, counting parentheses in code spans only."""
    depth = 1
    for k in range(k, len(code)):
        a, b = code[k]
        for m in _PAREN_RE.finditer(sql, max(a, pos), b):
            depth += 1 if m.group() == "(" else -1
            if not depth:
                return k, m.end()
    return None


# ---------------------------------------------------------------- registry


class TableFunctionRegistry:
    """Named table functions consumed by the SQL front door's rewriter
    (the reference's build_default_operator_task_registry shape)."""

    def __init__(self) -> None:
        self._funcs: dict[str, TableFunction] = {}

    def register(self, func: TableFunction) -> None:
        self._funcs[func.name.lower()] = func

    def get(self, name: str) -> TableFunction:
        key = name.lower()
        if key not in self._funcs:
            raise KeyError(
                f"unknown table function '{name}'; registered: {self.names()}"
            )
        return self._funcs[key]

    def names(self) -> list[str]:
        return sorted(self._funcs)

    def rewrite(
        self, sql: str, view_prefix: str = "__tf"
    ) -> tuple[str, list[TableFuncCall]]:
        """Replace every registered-function call in code with a
        generated view name `<view_prefix>_<i>` and validate its
        arguments. Returns (rewritten_sql, calls); the caller builds
        each call's DataFrame and registers it as a temp view named
        call.view_name."""
        if not self._funcs:
            return sql, []
        # longest-first so a name that prefixes another can't shadow it
        ordered = sorted(self._funcs, key=len, reverse=True)
        call_re = re.compile(
            r"\b(" + "|".join(re.escape(n) for n in ordered) + r")\s*\(",
            re.IGNORECASE,
        )
        code = [(a, b) for kind, a, b in lex(sql) if kind == CODE]
        out: list[str] = []
        calls: list[TableFuncCall] = []
        last = k = 0
        while k < len(code):
            m = call_re.search(sql, max(code[k][0], last), code[k][1])
            if m is None:
                k += 1
                continue
            func = m.group(1).lower()
            closed = _closing_paren(sql, code, k, m.end())
            if closed is None:
                raise TableFuncSyntaxError(f"unterminated {func}(...) call")
            k, end = closed
            glob, named = parse_call_args(func, sql[m.end() : end - 1])
            call = TableFuncCall(
                func=func,
                glob=glob,
                named_args=named,
                view_name=f"{view_prefix}_{len(calls)}",
            )
            self._funcs[func].validate(call)
            calls.append(call)
            out.append(sql[last : m.start()])
            out.append(call.view_name)
            last = end
        out.append(sql[last:])
        return "".join(out), calls


# --------------------------------------------------------------- built-ins


def _read_files_format(call: TableFuncCall) -> str:
    """Format of a read_files() call: the explicit format=> argument,
    else the glob's extension (.csv/.tsv -> csv, .json/.jsonl -> json,
    anything else -> parquet, the reference's native format). The
    reference's own roadmap lists CSV and JSON as unchecked read_files
    formats (README.md:63-66); Spark reads both natively, so the front
    door dispatches the same call-site syntax across all three."""
    fmt = call.named_args.get("format")
    if fmt is not None:
        if fmt not in ("parquet", "csv", "json"):
            raise TableFuncSyntaxError(
                f"read_files: format must be parquet|csv|json, got {fmt!r}"
            )
        return fmt
    ext = call.glob.rsplit(".", 1)[-1].lower() if "." in call.glob else ""
    if ext in ("csv", "tsv"):
        return "csv"
    if ext in ("json", "jsonl", "ndjson"):
        return "json"
    return "parquet"


# which read_files named args apply to which resolved format — an arg
# given for a format it cannot affect raises instead of being silently
# dropped (round-14 review: read_files('d/*.json', delimiter=>'|')
# validated cleanly and read with the default comma semantics)
_READ_FILES_FMT_ARGS = {
    "parquet": frozenset({"connection", "format"}),
    "csv": frozenset(
        {"connection", "format", "header", "delimiter", "infer_schema",
         "schema"}
    ),
    "json": frozenset({"connection", "format", "multiline", "schema"}),
}


def _build_read_files(
    spark: SparkSession, connections: "ConnectionRegistry", call: TableFuncCall
) -> DataFrame:
    path = connections.resolve(call.glob, call.connection)
    fmt = _read_files_format(call)
    inapplicable = set(call.named_args) - _READ_FILES_FMT_ARGS[fmt]
    if inapplicable:
        raise TableFuncSyntaxError(
            f"read_files: argument(s) {sorted(inapplicable)} do not apply "
            f"to format {fmt!r}"
            + (
                " (parquet is self-describing)"
                if fmt == "parquet" and "schema" in inapplicable
                else ""
            )
        )
    # explicit schema ('name type, ...' DDL) skips the inference pass —
    # at scale, inference is a full extra read of the files; parquet is
    # self-describing so the arg is csv/json-only
    schema = call.named_args.get("schema")
    if schema is not None and "infer_schema" in call.named_args:
        # mutually exclusive by construction: an explicit schema skips
        # the inference pass entirely, so infer_schema would be
        # silently inert — exactly the class _READ_FILES_FMT_ARGS
        # rejects for cross-format args (ADVICE r14)
        raise TableFuncSyntaxError(
            "read_files: schema=> and infer_schema=> are mutually "
            "exclusive (an explicit schema skips inference)"
        )
    if fmt == "csv":
        sep = call.named_args.get("delimiter")
        if sep is None:
            sep = "\t" if call.glob.lower().endswith(".tsv") else ","
        reader = spark.read.option(
            "header", call.named_args.get("header", "true")
        ).option("sep", sep)
        if schema is not None:
            return reader.schema(schema).csv(path)
        return reader.option(
            "inferSchema", call.named_args.get("infer_schema", "true")
        ).csv(path)
    if fmt == "json":
        reader = spark.read
        if call.named_args.get("multiline", "false") == "true":
            reader = reader.option("multiLine", "true")
        if schema is not None:
            reader = reader.schema(schema)
        return reader.json(path)
    return spark.read.parquet(path)


def _build_read_csv(
    spark: SparkSession, connections: "ConnectionRegistry", call: TableFuncCall
) -> DataFrame:
    # a comma even for a .tsv glob, which read_files would read tab-separated
    args = {"delimiter": ",", **call.named_args, "format": "csv"}
    return _build_read_files(spark, connections, replace(call, named_args=args))


READ_FILES = TableFunction(
    name="read_files",
    build=_build_read_files,
    allowed_args=frozenset(
        {
            "connection",
            "format",
            "header",
            "delimiter",
            "infer_schema",
            "multiline",
            "schema",
        }
    ),
)

READ_CSV = TableFunction(
    name="read_csv",
    build=_build_read_csv,
    allowed_args=frozenset({"connection", "header", "delimiter", "infer_schema"}),
)


def _build_read_json(
    spark: SparkSession, connections: "ConnectionRegistry", call: TableFuncCall
) -> DataFrame:
    args = {**call.named_args, "format": "json"}
    return _build_read_files(spark, connections, replace(call, named_args=args))


READ_JSON = TableFunction(
    name="read_json",
    build=_build_read_json,
    allowed_args=frozenset({"connection", "multiline"}),
)


def _build_diff_tables(
    spark: SparkSession, connections: "ConnectionRegistry", call: TableFuncCall
) -> DataFrame:
    """diff_tables('<left-glob>', right=>'<right-glob>', keys=>'k1[,k2]'
    [, compare=>'c1,c2'] [, connection=>..., right_connection=>...]):
    key-level change set
    between two parquet table versions (operators/diff.py table_diff
    exposed at the SQL front door — `select change_type, count(*) from
    diff_tables(...) group by 1` is the post-merge audit one-liner)."""
    from chapterhousedb_spark.operators.diff import table_diff

    right_glob = call.named_args["right"]
    keys_arg = call.named_args["keys"]
    left = spark.read.parquet(connections.resolve(call.glob, call.connection))
    right = spark.read.parquet(
        connections.resolve(
            right_glob,
            call.named_args.get("right_connection", call.connection),
        )
    )
    keys = [k.strip() for k in keys_arg.split(",") if k.strip()]
    compare = call.named_args.get("compare")
    compare_cols = (
        [c.strip() for c in compare.split(",") if c.strip()] if compare else None
    )
    return table_diff(left, right, keys=keys, compare_cols=compare_cols)


DIFF_TABLES = TableFunction(
    name="diff_tables",
    build=_build_diff_tables,
    allowed_args=frozenset(
        {"connection", "right", "right_connection", "keys", "compare"}
    ),
    required_args=frozenset({"right", "keys"}),
)


def _build_profile(
    spark: SparkSession, connections: "ConnectionRegistry", call: TableFuncCall
) -> DataFrame:
    """profile('<glob>' [, exact=>'true'] [, connection=>...]):
    per-column count/nulls/distinct/min/max of a parquet table
    (operators/profile.py — HLL approx distinct by default, one scan)."""
    from chapterhousedb_spark.operators.profile import profile

    df = spark.read.parquet(connections.resolve(call.glob, call.connection))
    exact = call.named_args.get("exact", "false") == "true"
    return profile(df, exact_distinct=exact)


PROFILE = TableFunction(
    name="profile",
    build=_build_profile,
    allowed_args=frozenset({"connection", "exact"}),
)




def _build_text_quality(
    spark: SparkSession, connections: "ConnectionRegistry", call: TableFuncCall
) -> DataFrame:
    """text_quality('<glob>' [, text=>'text'] [, id=>'doc_id']
    [, connection=>...]): per-document quality statistics + composite
    pass flag (operators/text.py text_stats at the SQL front door —
    `select * from text_quality('docs/*.parquet') where not
    passes_quality` is the corpus-triage one-liner)."""
    from chapterhousedb_spark.operators.text import text_stats

    df = spark.read.parquet(connections.resolve(call.glob, call.connection))
    return text_stats(
        df,
        text_col=call.named_args.get("text", "text"),
        id_col=call.named_args.get("id", "doc_id"),
    )


TEXT_QUALITY = TableFunction(
    name="text_quality",
    build=_build_text_quality,
    allowed_args=frozenset({"connection", "text", "id"}),
)


def _build_rarity(
    spark: SparkSession, connections: "ConnectionRegistry", call: TableFuncCall
) -> DataFrame:
    """rarity('<glob>' [, common_k=>'1000'] [, text=>...] [, id=>...]
    [, connection=>...]): per-document token-rarity features against
    the corpus' own frequency distribution (operators/text.py
    rarity_stats — high hapax_frac flags OCR noise/gibberish)."""
    from chapterhousedb_spark.operators.text import rarity_stats

    df = spark.read.parquet(connections.resolve(call.glob, call.connection))
    return rarity_stats(
        df,
        text_col=call.named_args.get("text", "text"),
        id_col=call.named_args.get("id", "doc_id"),
        common_k=int(call.named_args.get("common_k", "1000")),
    )


RARITY = TableFunction(
    name="rarity",
    build=_build_rarity,
    allowed_args=frozenset({"connection", "common_k", "text", "id"}),
)


def _build_trending(
    spark: SparkSession, connections: "ConnectionRegistry", call: TableFuncCall
) -> DataFrame:
    """trending('<glob>', keys=>'k1[,k2]', ts=>'<ts col>',
    ref=>'YYYY-MM-DD' [, half_life_days=>'1'] [, connection=>...]):
    exact power-of-two time-decayed counts per key
    (operators/rollup.py decayed_counts)."""
    from chapterhousedb_spark.operators.rollup import decayed_counts

    df = spark.read.parquet(connections.resolve(call.glob, call.connection))
    keys = [k.strip() for k in call.named_args["keys"].split(",") if k.strip()]
    return decayed_counts(
        df,
        keys,
        ts_col=call.named_args["ts"],
        ref_date=call.named_args["ref"],
        half_life_days=int(call.named_args.get("half_life_days", "1")),
    )


TRENDING = TableFunction(
    name="trending",
    build=_build_trending,
    allowed_args=frozenset({"connection", "keys", "ts", "ref", "half_life_days"}),
    required_args=frozenset({"keys", "ts", "ref"}),
)


def _build_near_dups(
    spark: SparkSession, connections: "ConnectionRegistry", call: TableFuncCall
) -> DataFrame:
    """near_dups('<glob>' [, threshold=>'0.8'] [, text=>...]
    [, id=>...] [, connection=>...]): confirmed near-duplicate pairs
    with verification features via the two-stage pipeline
    (operators/dedup.two_stage_dedup: LSH candidates -> exact
    token-set rerank -> exact-jaccard threshold) —
    `select id_a, id_b, jaccard_tokens from near_dups('docs/*.parquet',
    threshold=>'0.9')` is the corpus-dedup one-liner."""
    from chapterhousedb_spark.operators.dedup import two_stage_dedup

    df = spark.read.parquet(connections.resolve(call.glob, call.connection))
    return two_stage_dedup(
        df,
        text_col=call.named_args.get("text", "text"),
        id_col=call.named_args.get("id", "doc_id"),
        jaccard_threshold=float(call.named_args.get("threshold", "0.8")),
        persist=False,
    )


NEAR_DUPS = TableFunction(
    name="near_dups",
    build=_build_near_dups,
    allowed_args=frozenset({"connection", "threshold", "text", "id"}),
)


def _build_span_rewrite(
    spark: SparkSession, connections: "ConnectionRegistry", call: TableFuncCall
) -> DataFrame:
    """span_rewrite('<glob>' [, span_tokens=>'16'] [, min_df=>'2']
    [, text=>...] [, id=>...] [, connection=>...]): substring-level
    dedup REWRITE (operators/dedup.remove_duplicate_spans — every
    token under a corpus-duplicated window dropped everywhere but the
    keeper doc, text rebuilt) — `select doc_id, clean_text from
    span_rewrite('docs/*.parquet') where n_removed > 0` is the
    boilerplate-scrub one-liner."""
    from chapterhousedb_spark.operators.dedup import remove_duplicate_spans

    df = spark.read.parquet(connections.resolve(call.glob, call.connection))
    return remove_duplicate_spans(
        df,
        span_tokens=int(call.named_args.get("span_tokens", "16")),
        text_col=call.named_args.get("text", "text"),
        id_col=call.named_args.get("id", "doc_id"),
        min_df=int(call.named_args.get("min_df", "2")),
        persist=False,
    )


SPAN_REWRITE = TableFunction(
    name="span_rewrite",
    build=_build_span_rewrite,
    allowed_args=frozenset({"connection", "span_tokens", "min_df", "text", "id"}),
)


def _build_semantic_dedup(
    spark: SparkSession, connections: "ConnectionRegistry", call: TableFuncCall
) -> DataFrame:
    """semantic_dedup('<glob>' [, threshold=>'0.95'] [, planes=>'12']
    [, vec=>'embedding'] [, id=>'vec_id'] [, connection=>...]):
    SemDeDup-style keep-one survivors over an embedding column
    (operators/similarity.embedding_dedup_survivors)."""
    from chapterhousedb_spark.operators.similarity import (
        embedding_dedup_survivors,
    )

    df = spark.read.parquet(connections.resolve(call.glob, call.connection))
    return embedding_dedup_survivors(
        df,
        threshold=float(call.named_args.get("threshold", "0.95")),
        vec_col=call.named_args.get("vec", "embedding"),
        id_col=call.named_args.get("id", "vec_id"),
        planes=int(call.named_args.get("planes", "12")),
        persist=False,
    )


SEMANTIC_DEDUP = TableFunction(
    name="semantic_dedup",
    build=_build_semantic_dedup,
    allowed_args=frozenset({"connection", "threshold", "planes", "vec", "id"}),
)


def _build_quality_scores(
    spark: SparkSession, connections: "ConnectionRegistry", call: TableFuncCall
) -> DataFrame:
    """quality_scores('<glob>', positive=>'src0[,src1]',
    negative=>'src2[,src3]' [, iters=>'6'] [, text=>...] [, id=>...]
    [, source=>'source'] [, connection=>...]): the learned quality
    classifier end-to-end (operators/classifier.train_quality_classifier
    — weak source labels, IRLS fit as Spark jobs, every doc scored)."""
    from chapterhousedb_spark.operators.classifier import (
        train_quality_classifier,
    )

    df = spark.read.parquet(connections.resolve(call.glob, call.connection))
    pos = [s.strip() for s in call.named_args["positive"].split(",") if s.strip()]
    neg = [s.strip() for s in call.named_args["negative"].split(",") if s.strip()]
    _beta, scored = train_quality_classifier(
        df,
        positive_sources=pos,
        negative_sources=neg,
        text_col=call.named_args.get("text", "text"),
        id_col=call.named_args.get("id", "doc_id"),
        source_col=call.named_args.get("source", "source"),
        iters=int(call.named_args.get("iters", "6")),
    )
    return scored


QUALITY_SCORES = TableFunction(
    name="quality_scores",
    build=_build_quality_scores,
    allowed_args=frozenset(
        {"connection", "positive", "negative", "iters", "text", "id", "source"}
    ),
    required_args=frozenset({"positive", "negative"}),
)


def _build_repetition(
    spark: SparkSession, connections: "ConnectionRegistry", call: TableFuncCall
) -> DataFrame:
    """repetition('<glob>' [, text=>...] [, id=>...]
    [, connection=>...]): Gopher repetition-coverage fractions —
    top-{2,3,4}-gram char fraction + duplicated-{5..10}-gram char mass
    per doc (operators/text.py ngram_repetition_stats) —
    `select doc_id from repetition('docs/*.parquet') where
    top2gram_char_frac > 0.2` is the loop-text triage one-liner."""
    from chapterhousedb_spark.operators.text import ngram_repetition_stats

    df = spark.read.parquet(connections.resolve(call.glob, call.connection))
    return ngram_repetition_stats(
        df,
        text_col=call.named_args.get("text", "text"),
        id_col=call.named_args.get("id", "doc_id"),
    )


REPETITION = TableFunction(
    name="repetition",
    build=_build_repetition,
    allowed_args=frozenset({"connection", "text", "id"}),
)


def _build_c4_clean(
    spark: SparkSession, connections: "ConnectionRegistry", call: TableFuncCall
) -> DataFrame:
    """c4_clean('<glob>' [, min_words=>'5'] [, min_sentences=>'3']
    [, text=>...] [, id=>...] [, connection=>...]): C4 line-level
    cleanup (operators/text.py c4_line_filters) — `select doc_id,
    text_clean from c4_clean('docs/*.parquet') where keep`."""
    from chapterhousedb_spark.operators.text import c4_line_filters

    df = spark.read.parquet(connections.resolve(call.glob, call.connection))
    return c4_line_filters(
        df,
        text_col=call.named_args.get("text", "text"),
        id_col=call.named_args.get("id", "doc_id"),
        min_words=int(call.named_args.get("min_words", "5")),
        min_sentences=int(call.named_args.get("min_sentences", "3")),
    )


C4_CLEAN = TableFunction(
    name="c4_clean",
    build=_build_c4_clean,
    allowed_args=frozenset(
        {"connection", "min_words", "min_sentences", "text", "id"}
    ),
)


def _build_temperature_mix(
    spark: SparkSession, connections: "ConnectionRegistry", call: TableFuncCall
) -> DataFrame:
    """temperature_mix('<glob>' [, alpha=>'0.5'] [, target=>'0.25']
    [, source=>'source'] [, id=>'doc_id'] [, salt=>'tmix']
    [, connection=>...]): mT5-style n^alpha source resampling
    (operators/sampling.temperature_mix) — the corpus-mixing
    one-liner at the SQL front door."""
    from chapterhousedb_spark.operators.sampling import temperature_mix

    df = spark.read.parquet(connections.resolve(call.glob, call.connection))
    return temperature_mix(
        df,
        alpha=float(call.named_args.get("alpha", "0.5")),
        target_frac=float(call.named_args.get("target", "0.25")),
        source_col=call.named_args.get("source", "source"),
        id_col=call.named_args.get("id", "doc_id"),
        salt=call.named_args.get("salt", "tmix"),
    )


TEMPERATURE_MIX = TableFunction(
    name="temperature_mix",
    build=_build_temperature_mix,
    allowed_args=frozenset(
        {"connection", "alpha", "target", "source", "id", "salt"}
    ),
)


def _build_knn_graph(
    spark: SparkSession, connections: "ConnectionRegistry", call: TableFuncCall
) -> DataFrame:
    """knn_graph('<glob>' [, k=>'5'] [, planes=>'12'] [, vec=>...]
    [, id=>...] [, connection=>...]): each vector's k nearest
    bucket-mates (operators/similarity.knn_join) — `select * from
    knn_graph('embeddings/*.parquet', k=>'3')` builds the similarity
    graph at the SQL front door."""
    from chapterhousedb_spark.operators.similarity import knn_join

    df = spark.read.parquet(connections.resolve(call.glob, call.connection))
    # persist=False like every self-join TVF (near_dups/span_rewrite/
    # semantic_dedup): SQL-front callers can't release the cache, so a
    # long-lived engine would leak one pinned RDD per invocation
    return knn_join(
        df,
        k=int(call.named_args.get("k", "5")),
        vec_col=call.named_args.get("vec", "embedding"),
        id_col=call.named_args.get("id", "vec_id"),
        planes=int(call.named_args.get("planes", "12")),
        persist=False,
    )


KNN_GRAPH = TableFunction(
    name="knn_graph",
    build=_build_knn_graph,
    allowed_args=frozenset({"connection", "k", "planes", "vec", "id"}),
)


def _build_vector_topk(
    spark: SparkSession, connections: "ConnectionRegistry", call: TableFuncCall
) -> DataFrame:
    """vector_topk('<glob>', q=>'0.1,0.2,...' [, k=>'10']
    [, method=>'exact'|'bq'|'sq8'|'srp'|'mrl'] [, refine=>'0']
    [, prefix_dims=>'16'] [, vec=>...]
    [, id=>...] [, connection=>...]): top-k similarity search at the
    SQL front door — exact brute force by default, or the compressed /
    LSH / prefix-dimension scans (operators/similarity) with their
    documented recall/exactness contracts; refine (bq/mrl take it
    directly) reranks exactly."""
    from chapterhousedb_spark.operators.similarity import (
        bq_topk,
        cosine_topk,
        mrl_topk,
        sq8_topk,
        srp_ann_topk,
    )

    df = spark.read.parquet(connections.resolve(call.glob, call.connection))
    q = [float(x) for x in call.named_args["q"].split(",") if x.strip()]
    k = int(call.named_args.get("k", "10"))
    vec = call.named_args.get("vec", "embedding")
    ident = call.named_args.get("id", "vec_id")
    method = call.named_args.get("method", "exact")
    if method == "exact":
        return cosine_topk(df, q, k, vec, ident)
    if method == "bq":
        return bq_topk(
            df, q, k, vec, ident, refine=int(call.named_args.get("refine", "0"))
        )
    if method == "sq8":
        return sq8_topk(df, q, k, vec, ident)
    if method == "srp":
        return srp_ann_topk(df, q, k, vec, ident)
    if method == "mrl":
        return mrl_topk(
            df,
            q,
            k,
            prefix_dims=int(call.named_args.get("prefix_dims", "16")),
            refine=int(call.named_args.get("refine", "0")),
            vec_col=vec,
            id_col=ident,
        )
    raise ValueError(
        f"vector_topk: unknown method {method!r} "
        "(expected exact|bq|sq8|srp|mrl)"
    )


VECTOR_TOPK = TableFunction(
    name="vector_topk",
    build=_build_vector_topk,
    allowed_args=frozenset(
        {"connection", "q", "k", "method", "refine", "prefix_dims", "vec",
         "id"}
    ),
    required_args=frozenset({"q"}),
)


def default_table_function_registry() -> TableFunctionRegistry:
    """read_files (the reference's sole function) + the reference's
    unchecked roadmap formats (README.md:63-66: CSV, JSON) + the
    operator-library functions the registry design exists for
    (diff_tables, profile — the same add_table_func_task_builder
    extension point a reference user would register theirs through,
    operator_task_registry.rs:106-126)."""
    reg = TableFunctionRegistry()
    reg.register(READ_FILES)
    reg.register(READ_CSV)
    reg.register(READ_JSON)
    reg.register(DIFF_TABLES)
    reg.register(PROFILE)
    reg.register(TEXT_QUALITY)
    reg.register(RARITY)
    reg.register(TRENDING)
    reg.register(NEAR_DUPS)
    reg.register(SPAN_REWRITE)
    reg.register(SEMANTIC_DEDUP)
    reg.register(QUALITY_SCORES)
    reg.register(REPETITION)
    reg.register(C4_CLEAN)
    reg.register(TEMPERATURE_MIX)
    reg.register(KNN_GRAPH)
    reg.register(VECTOR_TOPK)
    return reg
