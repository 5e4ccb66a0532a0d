"""Query engine: submit -> execute -> materialize -> paged fetch.

Reproduces the reference's client-visible lifecycle (SURVEY.md §3):

- submit SQL, get a query id immediately (reference AsyncQueryClient::run_query,
  src/client/async_query_client.rs:40-60);
- poll status through Queued/Running/Complete/Error (reference
  query_handler_state.rs:28-35);
- fetch results by cursor over per-query materialized parquet
  (query_data_handler.rs:239-571).

Planning/scheduling/execution (reference stages 3-8: logical planner,
physical planner, capacity-claim scheduler, exchange dataflow) are
entirely Catalyst + the Spark scheduler here; the engine only rewrites
the `read_files()` table function before handing the statement to
spark.sql(). Statements execute on a driver-side thread pool — Spark
schedules jobs from concurrent threads fairly, which replaces the
reference's multi-query admission loop (query_handler_state.rs:421-466).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import threading
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from chapterhousedb_spark.config import ConnectionRegistry
from chapterhousedb_spark.results import QueryDataIterator, ResultCursor, ResultManifest
from chapterhousedb_spark.session import build_session
from chapterhousedb_spark.sqlfront import split_statements
from chapterhousedb_spark.sqlfront.table_funcs import (
    TableFunction,
    TableFunctionRegistry,
    default_table_function_registry,
)


# QueryStatus lives in the Spark-free status module so thin clients
# (server.QueryClient, CLI --connect) can share it without pyspark;
# re-exported here for backward compatibility.
from chapterhousedb_spark.status import QueryStatus  # noqa: E402

# Row-group cap for materialized results: the reference's
# max_rows_per_batch (physical_planner.rs:580). ResultCursor decodes
# every row group a page overlaps, so this bounds the rows a page fetch
# decodes per file it touches.
RESULT_ROW_GROUP_ROWS = 10_000


@dataclass
class QueryHandle:
    query_id: str
    sql: str
    status: QueryStatus = QueryStatus.QUEUED
    cancelled: bool = False
    error: str | None = None
    result_dir: str | None = None
    num_rows: int | None = None
    pool: str | None = None
    pool_applied: str | None = None
    finished_at: float | None = None  # time.time() at COMPLETE/ERROR
    _done: threading.Event = field(default_factory=threading.Event, repr=False)

    def wait(self, timeout: float | None = None) -> "QueryHandle":
        self._done.wait(timeout)
        return self


class Engine:
    """Driver-side engine facade around one SparkSession."""

    def __init__(
        self,
        spark: SparkSession | None = None,
        results_dir: str | None = None,
        connections: ConnectionRegistry | None = None,
        max_concurrent_queries: int = 8,
        table_functions: TableFunctionRegistry | None = None,
        default_pool: str | None = None,
    ):
        # ownership decides whether close() releases the session's
        # self-join caches: an engine handed someone else's session
        # must not unpersist intermediates other components still use
        self._owns_session = spark is None
        self.spark = spark or build_session()
        self.default_pool = default_pool
        self.results_dir = results_dir or os.path.join(
            tempfile.gettempdir(), "chdb_spark_results"
        )
        os.makedirs(self.results_dir, exist_ok=True)
        self.connections = connections or ConnectionRegistry()
        self.connections.apply_hadoop_conf(self.spark)
        self.table_functions = table_functions or default_table_function_registry()
        self._queries: dict[str, QueryHandle] = {}
        self._streams: dict[str, object] = {}
        # sid -> time the engine OBSERVED the stream stopped (explicit
        # stop_stream, or first vacuum pass that saw it inactive);
        # vacuum ages checkpoints from this, never from dir mtime,
        # which reflects creation (progress lands in subdirs)
        self._stream_stopped: dict[str, float] = {}
        self._pool = ThreadPoolExecutor(max_workers=max_concurrent_queries)
        self._lock = threading.Lock()

    # ---------------------------------------------------------------- registry

    def register_table_function(self, func: TableFunction) -> None:
        """Register a user table function for the SQL front door (the
        reference's add_table_func_task_builder extension point,
        operator_task_registry.rs:106-126)."""
        self.table_functions.register(func)

    def register_table(self, name: str, glob: str, connection: str | None = None) -> None:
        """Register a parquet path as a named table queryable by plain
        `FROM <name>`. The reference plans a Table node but cannot
        execute it (operators/builder.rs:67-72 NotImplemented); here it
        is a registered temp view over the resolved path."""
        path = self.connections.resolve(glob, connection)
        self.spark.read.parquet(path).createOrReplaceTempView(name)

    def register_function(
        self, name: str, fn, return_type: str = "double", vectorized: bool = True
    ):
        """Register a scalar SQL function (UDFs are an unchecked roadmap
        box in the reference, README.md:67-77 — here they are
        first-class). vectorized=True wraps an Arrow-batched pandas UDF
        (pd.Series -> pd.Series; the 10-100x-faster path — keep the hot
        path here); False is row-at-a-time Python (debug only)."""
        from pyspark.sql import functions as F

        udf = F.pandas_udf(fn, return_type) if vectorized else F.udf(fn, return_type)
        self.spark.udf.register(name, udf)
        return udf

    def register_udtf(self, name: str, udtf_cls, return_type: str):
        """Register a Python table function (UDTF): a class with an
        eval() that yields output rows, callable as `FROM name(...)`.
        Completes the reference's table-function extension idea with
        user-defined row generators."""
        from pyspark.sql.functions import udtf

        wrapped = udtf(udtf_cls, returnType=return_type)
        self.spark.udtf.register(name, wrapped)
        return wrapped

    # ------------------------------------------------------------------ submit

    def sql(self, text: str, pool: str | None = None) -> list[QueryHandle]:
        """Submit every statement in `text`; returns handles immediately."""
        return [self.submit(stmt, pool=pool) for stmt in split_statements(text)]

    def sql_wait(self, text: str, pool: str | None = None) -> list[QueryHandle]:
        """Submit and block until all statements reach a terminal status."""
        handles = self.sql(text, pool=pool)
        for h in handles:
            h.wait()
        return handles

    def submit(self, statement: str, pool: str | None = None) -> QueryHandle:
        """Submit one statement; `pool` routes its Spark jobs to a named
        scheduler pool (the admission-control mapping of the reference's
        per-query capacity-claim loop, query_handler_state.rs:421-466:
        instead of workers claiming per-operator compute budgets, each
        query's jobs land in a FAIR pool whose weight/minShare bounds
        its cluster share). Pools need spark.scheduler.mode=FAIR — see
        session.build_session(fair_pools=...); an unknown pool name
        falls back to a default-weight pool, Spark-side."""
        handle = QueryHandle(
            query_id=uuid.uuid4().hex, sql=statement, pool=pool or self.default_pool
        )
        with self._lock:
            self._queries[handle.query_id] = handle
        self._pool.submit(self._run, handle)
        return handle

    def dataframe(self, statement: str) -> DataFrame:
        """Plan a single statement to a DataFrame without materializing.

        View names are unique per call: concurrent statements share one
        SparkSession temp-view namespace, so a fixed prefix would let one
        query's read_files view clobber another's mid-flight. Views are
        dropped right after planning (spark.sql analyzes eagerly; the
        resolved plan no longer needs the view).
        """
        prefix = f"__read_files_{uuid.uuid4().hex[:12]}"
        rewritten, calls = self.table_functions.rewrite(statement, view_prefix=prefix)
        try:
            for call in calls:
                df = self.table_functions.get(call.func).build(
                    self.spark, self.connections, call
                )
                df.createOrReplaceTempView(call.view_name)
            return self.spark.sql(rewritten)
        finally:
            for call in calls:
                self.spark.catalog.dropTempView(call.view_name)

    def explain(self, statement: str, formatted: bool = True) -> str:
        """Optimized plan text for one statement WITHOUT executing it —
        the engine's window into Catalyst (the reference logs its
        logical/physical plan structs at planning time; here the plan
        is also the performance contract, see plans/). formatted=True
        gives the sectioned operator tree + details; False the compact
        physical tree."""
        from chapterhousedb_spark.plans import formatted_plan, physical_plan

        df = self.dataframe(statement)
        return formatted_plan(df) if formatted else physical_plan(df)

    def write(
        self,
        statement: str,
        dest_glob: str,
        connection: str | None = None,
        mode: str = "overwrite",
        data_format: str = "parquet",
        partition_by: list[str] | None = None,
        cluster_by: list[str] | None = None,
        cluster_files: int | None = None,
        cluster_mode: str = "range",
        bloom_filters: list[str] | None = None,
    ) -> str:
        """CTAS-style materialization: run one statement and write the
        result to a user destination resolved through the connection
        registry (the reference's MaterializeFiles sink generalized
        beyond the internal results dir, materialize_files_task.rs:68-171).
        partition_by writes a hive-partitioned layout so downstream
        scans prune on those columns. cluster_by range-partitions and
        sorts the data on the given columns before writing, so each
        output file (and parquet row group) covers a narrow, disjoint
        value range — point/range filters on those columns then skip
        whole files via footer min/max stats without the directory
        explosion of partition_by on a high-cardinality key (the
        standard layout for timestamp-filtered scans at 100 TB).
        cluster_files pins the output file count (default: let
        AQE/shuffle-partitions decide — size it so files land near the
        row-group sweet spot, ~128 MB-1 GB).
        cluster_mode='zorder' lays files out along the Morton curve of
        cluster_by instead (operators/zorder.py): every z-column's
        per-file min/max is narrow, so filters on ANY of them prune
        files — range mode prunes only on the leading column. Requires
        cluster_files (the z-curve needs an explicit file budget).
        bloom_filters writes a parquet BLOOM FILTER for each named
        column (standard parquet writer options): the complement to
        min/max clustering for HIGH-CARDINALITY POINT lookups — an
        `id = X` probe skips a row group whose bloom says absent even
        when the id range overlaps, exactly the case range stats
        cannot prune. Returns the resolved path."""
        df = self.dataframe(statement)
        if cluster_mode not in ("range", "zorder"):
            raise ValueError(
                f"unknown cluster_mode {cluster_mode!r}; use 'range' or 'zorder'"
            )
        if cluster_mode == "zorder" and not cluster_by:
            # without this, asking for z-ordering with no columns would
            # silently fall through to an unclustered write
            raise ValueError("cluster_mode='zorder' requires cluster_by")
        if cluster_by and cluster_mode == "zorder":
            from chapterhousedb_spark.operators.zorder import zorder_cluster

            if not cluster_files:
                raise ValueError("cluster_mode='zorder' requires cluster_files")
            df = zorder_cluster(df, cluster_by, n_files=cluster_files)
        elif cluster_by:
            if cluster_files:
                df = df.repartitionByRange(cluster_files, *cluster_by)
            else:
                df = df.repartitionByRange(*cluster_by)
            df = df.sortWithinPartitions(*cluster_by)
        path = self.connections.resolve(dest_glob, connection)
        writer = df.write.mode(mode).format(data_format)
        for col in bloom_filters or []:
            writer = writer.option(
                f"parquet.bloom.filter.enabled#{col}", "true"
            )
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.save(path)
        return path

    # ----------------------------------------------------------------- execute

    def _run(self, handle: QueryHandle) -> None:
        handle.status = QueryStatus.RUNNING
        out_dir = os.path.join(self.results_dir, handle.query_id)
        sc = self.spark.sparkContext
        try:
            # scheduler-pool routing is a thread-local property read at
            # job-submit time, so it must be set HERE, on the executor-
            # pool thread that triggers the write action (not in submit)
            sc.setLocalProperty("spark.scheduler.pool", handle.pool)
            handle.pool_applied = sc.getLocalProperty("spark.scheduler.pool")
            # every job this query triggers lands in its own job group
            # so cancel() can target exactly this query's work
            sc.setJobGroup(
                f"chdb-{handle.query_id}",
                f"engine query {handle.query_id}",
                interruptOnCancel=True,
            )
            if handle.cancelled:
                raise RuntimeError("cancelled before execution started")
            df = self.dataframe(handle.sql)
            # last pre-job check: a cancel that landed during analysis
            # must not let the write submit jobs the (already-fired)
            # one-shot part of cancelJobGroup never saw
            if handle.cancelled:
                raise RuntimeError("cancelled before execution started")
            df.write.mode("overwrite").option(
                "parquet.block.row.count.limit", RESULT_ROW_GROUP_ROWS
            ).parquet(out_dir)
            manifest = ResultManifest.build(out_dir)
            manifest.save(out_dir)
            handle.result_dir = out_dir
            handle.num_rows = manifest.total_rows
            handle.status = QueryStatus.COMPLETE
        except Exception as exc:  # surfaced via status/error like the reference
            handle.status = QueryStatus.ERROR
            handle.error = (
                "cancelled" if handle.cancelled
                else f"{type(exc).__name__}: {exc}"
            )
        finally:
            # clear EVERY property setJobGroup/pool set, so a reused
            # pool thread doesn't leak this query's pool, group id,
            # description, or interrupt-on-cancel into later work
            sc.setLocalProperty("spark.scheduler.pool", None)
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            sc.setLocalProperty("spark.job.interruptOnCancel", None)
            handle.finished_at = time.time()
            handle._done.set()

    def compact(
        self,
        glob: str,
        connection: str | None = None,
        dest_glob: str | None = None,
        target_file_mb: int = 256,
        sort_by: list[str] | None = None,
        n_files: int | None = None,
    ) -> dict:
        """Small-files compaction for parquet landing zones: rewrite a
        directory of many small files (the natural output of streaming
        sinks and per-micro-batch materialization) into ~target_file_mb
        files. Small files are the classic 100 TB operational killer —
        scan tasks, footer reads and S3 requests all scale with file
        count, not bytes; the reference materializes one file PER
        RECORD BATCH (materialize_files_task.rs:117-142: rec_<id>
        .parquet), so a compaction pass is the missing maintenance op
        its layout needs.

        Sizing reads the source byte size via the Hadoop FileSystem
        (works for fs and s3a alike) and round-robin repartitions to
        ceil(bytes / target) — balanced files regardless of input skew.
        sort_by instead range-partitions + sorts, so compaction doubles
        as clustering (file-skipping min/max stats, see write()).

        Writes to dest_glob (default: '<glob>__compacted' sibling) —
        never in place: overwriting a directory while scanning it would
        corrupt the read; atomically swapping directories is the
        caller's storage-layer concern. Returns
        {path, files_before, files_after, bytes_before}.
        """
        src = self.connections.resolve(glob, connection)
        dest = self.connections.resolve(
            dest_glob if dest_glob is not None else f"{glob.rstrip('/')}__compacted",
            connection,
        )
        jvm = self.spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(src)
        fs = jpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
        summary = fs.getContentSummary(jpath)
        total_bytes = summary.getLength()
        if n_files is None:  # explicit override beats size-derived count
            n_files = max(1, -(-int(total_bytes) // (target_file_mb * 1024 * 1024)))
        df = self.spark.read.parquet(src)
        files_before = len(df.inputFiles())
        if sort_by:
            out = df.repartitionByRange(n_files, *sort_by).sortWithinPartitions(
                *sort_by
            )
        else:
            out = df.repartition(n_files)
        out.write.mode("overwrite").parquet(dest)
        files_after = len(self.spark.read.parquet(dest).inputFiles())
        return {
            "path": dest,
            "files_before": files_before,
            "files_after": files_after,
            "bytes_before": int(total_bytes),
        }

    def write_bucketed(
        self,
        statement: str,
        table_name: str,
        bucket_cols: list[str],
        n_buckets: int = 32,
        sort_cols: list[str] | None = None,
        mode: str = "overwrite",
    ) -> None:
        """Materialize a statement as a BUCKETED catalog table: rows are
        hash-partitioned into n_buckets files by bucket_cols at write
        time, so later joins/aggregations on those columns read
        co-located data and skip the shuffle entirely (verified by plan
        test: no Exchange). This is the 100 TB answer for repeatedly
        joined fact tables — pay one shuffle at write, none per query.
        sort_cols additionally sorts within buckets (sort-merge joins
        without the sort)."""
        df = self.dataframe(statement)
        writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
        if sort_cols:
            writer = writer.sortBy(*sort_cols)
        writer.saveAsTable(table_name)

    # --------------------------------------------------------------- streaming

    def start_stream(
        self,
        stream: DataFrame,
        dest_glob: str,
        connection: str | None = None,
        checkpoint_dir: str | None = None,
        output_mode: str = "append",
        trigger_interval: str | None = None,
        available_now: bool = False,
    ) -> str:
        """Start a streaming sink to a connection-resolved destination;
        returns a stream id for stream_status/stop_stream — the
        streaming twin of the submit/status/stop query lifecycle (the
        reference only sketches streaming in DEV_NOTES; here it is a
        first-class engine surface). Checkpoints default under the
        engine results dir, so restarts resume exactly-once."""
        stream_id = uuid.uuid4().hex
        path = self.connections.resolve(dest_glob, connection)
        ckpt = checkpoint_dir or os.path.join(
            self.results_dir, "_checkpoints", stream_id
        )
        writer = (
            stream.writeStream.format("parquet")
            .option("path", path)
            .option("checkpointLocation", ckpt)
            .outputMode(output_mode)
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        elif trigger_interval:
            writer = writer.trigger(processingTime=trigger_interval)
        with self._lock:
            self._streams[stream_id] = writer.start()
        return stream_id

    def stream_status(self, stream_id: str) -> dict:
        q = self._streams[stream_id]
        return {
            "active": q.isActive,
            "last_progress": q.lastProgress,
            "exception": q.exception() if not q.isActive else None,
        }

    def await_stream(self, stream_id: str, timeout: float | None = None) -> None:
        self._streams[stream_id].awaitTermination(timeout)

    def stop_stream(self, stream_id: str) -> None:
        # pop AND record the stop under one critical section: vacuum
        # iterates _streams under the lock, so an unlocked pop here
        # could change the dict mid-iteration (RuntimeError) or hand
        # vacuum an active/tracked snapshot that disagrees with the
        # stop-time map
        with self._lock:
            q = self._streams.pop(stream_id)
            self._stream_stopped[stream_id] = time.time()
        q.stop()

    # ------------------------------------------------------------------- fetch

    def status(self, query_id: str) -> QueryStatus:
        return self._queries[query_id].status

    def cancel(self, query_id: str) -> bool:
        """Cancel a QUEUED or RUNNING query: its Spark job group is
        cancelled (running tasks interrupted) and the handle lands in
        ERROR('cancelled') — the kill switch every multi-tenant engine
        needs against runaway queries (the reference's async client can
        only await or drop; its handler has no kill path). Terminal
        queries return False (nothing to do).

        cancelJobGroup only covers jobs RUNNING at the moment of the
        call — a job the query's write action submits a moment later
        would escape a one-shot cancel (observed: the cancelled handle
        erred while its cartesian kept burning every core until
        Engine.close blocked on it). A small daemon reaper therefore
        re-cancels the group every 200 ms until the run loop observes
        a terminal state, closing the submit/cancel race completely;
        _run also re-checks the cancelled flag right before the write
        so a pre-execution cancel never starts jobs at all."""
        h = self._queries[query_id]
        if h.status.terminal():
            return False
        h.cancelled = True
        group = f"chdb-{query_id}"
        sc = self.spark.sparkContext

        def _reaper() -> None:
            while not h.status.terminal():
                try:
                    sc.cancelJobGroup(group)
                except Exception:
                    return  # context shut down — nothing left to kill
                h._done.wait(0.2)

        threading.Thread(target=_reaper, daemon=True).start()
        return True

    def handle(self, query_id: str) -> QueryHandle:
        return self._queries[query_id]

    def fetch(self, query_id: str, offset: int = 0, limit: int = 50) -> pa.Table:
        h = self._queries[query_id]
        if h.status is not QueryStatus.COMPLETE:
            raise RuntimeError(f"query {query_id} not complete (status={h.status})")
        assert h.result_dir is not None
        return ResultCursor(h.result_dir).fetch(offset, limit)

    def iterator(self, query_id: str, page_size: int = 50) -> QueryDataIterator:
        h = self._queries[query_id]
        if h.status is not QueryStatus.COMPLETE:
            raise RuntimeError(f"query {query_id} not complete (status={h.status})")
        assert h.result_dir is not None
        return QueryDataIterator(ResultCursor(h.result_dir), page_size)

    # ----------------------------------------------------------------- cleanup

    def drop_results(self, query_id: str) -> None:
        h = self._queries.pop(query_id, None)
        if h and h.result_dir and os.path.isdir(h.result_dir):
            shutil.rmtree(h.result_dir, ignore_errors=True)

    def vacuum(self, older_than_seconds: float = 0.0) -> list[str]:
        """Drop the materialized results (and tracking) of every
        TERMINAL query that finished more than `older_than_seconds`
        ago, plus the checkpoint dirs of STOPPED streams; returns the
        dropped query/stream ids. The retention maintenance op for
        long-lived engines — the reference's query data lives until its
        handler drops it too; without a sweep, per-query parquet
        results and per-stream `_checkpoints/<id>` dirs accumulate
        without bound. Running/queued queries and ACTIVE streams are
        never touched."""
        now = time.time()
        ckpt_root = os.path.join(self.results_dir, "_checkpoints")
        with self._lock:
            victims = [
                qid
                for qid, h in self._queries.items()
                if h.status.terminal()
                and h.finished_at is not None
                and now - h.finished_at >= older_than_seconds
            ]
            # snapshot the dir listing UNDER the lock: start_stream
            # creates the checkpoint while holding the lock, so any
            # listed dir belonging to a just-started stream already has
            # its _streams entry — no window where a live checkpoint
            # looks untracked
            listed = (
                [d for d in os.listdir(ckpt_root)]
                if os.path.isdir(ckpt_root)
                else []
            )
            active_streams = {
                sid for sid, q in self._streams.items() if q.isActive
            }
            # a tracked stream observed inactive for the FIRST time gets
            # its stop time recorded NOW — it ages from observation, not
            # from the checkpoint dir's (creation-time) mtime, so a
            # 2-day-old stream stopped seconds ago is not swept early
            for sid, q in self._streams.items():
                if not q.isActive and sid not in self._stream_stopped:
                    self._stream_stopped[sid] = now
            stopped = dict(self._stream_stopped)
            tracked = set(self._streams)
        for qid in victims:
            self.drop_results(qid)
        for sid in listed:
            full = os.path.join(ckpt_root, sid)
            if sid in active_streams or not os.path.isdir(full):
                continue
            if sid in stopped:
                aged = now - stopped[sid] >= older_than_seconds
            elif sid in tracked:
                continue  # tracked but not yet observed stopped: keep
            else:
                # orphan from a previous process: mtime is the only
                # signal available
                aged = now - os.path.getmtime(full) >= older_than_seconds
            if aged:
                shutil.rmtree(full, ignore_errors=True)
                victims.append(sid)
                with self._lock:
                    self._stream_stopped.pop(sid, None)
                    # drop the dead StreamingQuery handle too —
                    # otherwise it leaks for the engine's lifetime and
                    # every later vacuum pass re-records a fresh stop
                    # time for a stream whose checkpoint is long gone
                    self._streams.pop(sid, None)
        return victims

    def close(self, release_caches: bool | None = None) -> None:
        """Shut the submit pool down; release the session's self-join
        caches only when this engine OWNS the session (it built it) or
        the caller passes release_caches=True — an engine constructed
        on a shared session must not unpersist intermediates that other
        components on that session may still be consuming."""
        self._pool.shutdown(wait=True)
        if release_caches is None:
            release_caches = self._owns_session
        if release_caches:
            from chapterhousedb_spark.operators.dedup import (
                release_self_join_caches,
            )

            release_self_join_caches(self.spark)
