"""Query registry plumbing shared by the workload modules."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def scratch_dir(prefix: str) -> str:
    """tempfile.mkdtemp registered for removal at interpreter exit
    (ADVICE r11 #2): the streaming/lifecycle queries write landing dirs,
    checkpoints and parquet sinks that the returned DataFrame reads
    LAZILY, so nothing can delete them inline — repeated bench/pytest
    runs were accumulating chdb_* temp roots. atexit runs after the
    last possible action on the returned frame; ignore_errors because
    a dir already swept (or a second atexit pass) must not raise."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a named query; `oracle` is the DuckDB twin (None => the
    driver records a weaker rows-only check)."""

    def deco(fn: QueryFn) -> QueryFn:
        assert name not in QUERIES, f"duplicate query name {name}"
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def fan_out(df: DataFrame, key: str = "doc_id") -> DataFrame:
    """Rebalance a small scan across the session's cores ahead of a
    compute-dense per-row stage (guide §2: scale-adaptive partitioning,
    the pipeline_ccnet discipline generalized). A local testdata
    parquet arrives as ONE scan split, serializing the whole downstream
    map stage onto one core while the rest idle (measured r15:
    dedup_minhash 4.9–12.6 s -> 1.5–3.2 s at sf0.1 on local[32]).
    Scale-adaptive: when the scan already supplies >=
    defaultParallelism partitions — the 100 TB case — this is a no-op,
    so the exchange is never paid where the scan parallelism suffices.
    Hash-repartition on the row id keeps the exchange deterministic;
    only apply where the result is partitioning-independent (per-row
    outputs, exact/int aggregations, min/max folds — every use site is
    oracle-gated).

    Probe cost (r16, VERDICT r15 minor #5): `df.rdd` builds a full
    Python-wrapped RDD per call (~130-190 ms); the JVM-side
    `queryExecution().toRdd()` plans the same physical RDD without the
    Python serializer wrapper (~60 ms), and the (key, result) pair is
    memoized ON the input DataFrame — every call site passes the
    session-memoized `load()` frame, so each (table, key) pays the
    probe once per session instead of once per query. A DataFrame is
    an immutable lazy plan, so handing back the same fanned-out plan
    changes nothing downstream."""
    cached = getattr(df, "_chdb_fan_out", None)
    if cached is not None and cached[0] == key:
        return cached[1]
    sc = df.sparkSession.sparkContext
    p = sc.defaultParallelism
    if df._jdf.queryExecution().toRdd().getNumPartitions() >= p:
        out = df
    else:
        out = df.repartition(p, key)
    df._chdb_fan_out = (key, out)
    return out


def parallel_writes(*thunks) -> None:
    """Run independent write thunks as concurrent driver-thread jobs
    (guide §2.6): fixture scaffolds write several small files whose
    walls are job-scheduling + FS-commit constants, so overlapping the
    independent writes cuts the scaffold wall without changing any
    artifact. Each thunk must be self-contained (no shared mutable
    state); the first failure re-raises."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        for fut in [pool.submit(t) for t in thunks]:
            fut.result()


# Session-scoped relation memo (r16, guide §6.1): spark.read.parquet
# re-lists the directory and re-reads the parquet footer for schema on
# EVERY call (~0.1 s driver-side each), and one bench run issues ~153
# load() calls over the same ~10 immutable tables. Catalog tables get
# this for free (Spark caches the resolved relation per session);
# bare-path reads don't, so memoize the resolved DataFrame per
# (session, dir, table). A DataFrame is an immutable lazy plan — every
# action on it still computes from the parquet files, so NOTHING about
# query results, caching or timing semantics changes; only the
# repeated footer/listing constant goes away. Weak-keyed by session so
# a closed session's entries drop with it.
import threading as _threading
import weakref as _weakref

_LOAD_MEMO: "_weakref.WeakKeyDictionary[SparkSession, dict]" = (
    _weakref.WeakKeyDictionary()
)
_LOAD_MEMO_LOCK = _threading.Lock()


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """Read one testdata table (TESTDATA.md layout).

    events.ts normalization: downstream consumers (sessionize,
    windowed aggs, as-of) all expect a session-zoned TimestampType.
    The testdata has shipped the column two ways across rounds:
    parquet TIMESTAMP(NANOS), which Spark reads as a nanos long under
    spark.sql.legacy.parquet.nanosAsLong, and plain timestamp[us]
    with isAdjustedToUTC=false, which Spark reads as TIMESTAMP_NTZ.
    Both branches convert to TimestampType; the session timezone is
    pinned to UTC (session.py), so the NTZ->LTZ cast preserves the
    raw microsecond value and hash-matches DuckDB, which reads the
    same file as a naive TIMESTAMP.
    """
    if table == "events":
        # Defensive: the correctness harness builds its own plain
        # SparkSession where build_session()'s conf is absent; without
        # this, reading TIMESTAMP(NANOS) throws PARQUET_TYPE_ILLEGAL.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Same defense for the timezone: the NTZ->LTZ cast below and
        # every downstream unix_timestamp/date_trunc interpret wall
        # clocks in the SESSION zone; DuckDB reads the file naive. Only
        # UTC makes them agree, so don't inherit the harness JVM's zone.
        # Both pins run before the memo lookup: queries built on a
        # memoized frame read the session zone when they run.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    with _LOAD_MEMO_LOCK:
        memo = _LOAD_MEMO.setdefault(spark, {})
        cached = memo.get((sf_dir, table))
    if cached is not None:
        return cached
    df = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    if table == "events":
        from pyspark.sql import functions as F

        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":  # TIMESTAMP(NANOS) read as nanos long
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":  # timestamp[us], not UTC-adjusted
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    with _LOAD_MEMO_LOCK:
        _LOAD_MEMO.setdefault(spark, {})[(sf_dir, table)] = df
    return df
