"""Per-layer tracing from the benchmark's own files.

With `--trace 1` the benchmark wraps the public entry point of each
layer for the length of the workload and records spans and counts:

| layer    | wrapped call                                   | records                    |
|----------|------------------------------------------------|----------------------------|
| sqlfront | `split_statements` as the engine calls it,     | wall per call              |
|          | `TableFunctionRegistry.rewrite`                |                            |
| engine   | `Engine.submit`, `Engine.dataframe`            | submit / plan start / end  |
| results  | `ResultManifest.build`, `ResultCursor.fetch`,  | manifest wall and files,   |
|          | `pyarrow.parquet.ParquetFile.read_row_groups`  | fetch wall, rows decoded   |
| server   | `QueryClient.status` of the workload's clients | status requests per query  |
| spark    | `SparkContext.statusTracker()` on the engine's | jobs, stages, tasks        |
|          | job group `chdb-<query_id>`                    |                            |
| streams  | `DataStreamWriter.start`, `.toTable`           | each stream's job group    |

Spans of one query share its query id: `Engine.dataframe` runs under the
job group the engine set, and a result directory is named after the
query. The write phase is the gap between the end of planning and the
start of the manifest build. Everything is kept in memory and reduced
to the per-layer metrics when the workload ends; `uninstall` restores
every wrapped attribute.
"""

from __future__ import annotations

import os
import threading
import time
from collections import Counter, defaultdict
from statistics import fmean

BATCH_QUERIES = [
    "pipeline_pretrain",
    "dedup_clusters_star",
    "quality_classifier",
    "dedup_minhash",
    "pipeline_ccnet",
    "streaming_ingest_corpus",
]

# Every per-layer metric a traced run prints, with its unit.
LAYER_UNITS = {
    "sqlfront.split_ms": "ms",
    "sqlfront.rewrite_ms": "ms",
    "engine.queue_wait_ms": "ms",
    "engine.plan_ms": "ms",
    "engine.write_s": "s",
    "results.manifest_build_ms": "ms",
    "results.files_per_result": "count",
    "spark.jobs_per_query": "count",
    "spark.stages_per_query": "count",
    "spark.tasks_per_query": "count",
    "results.fetch_ms": "ms",
    "results.rows_decoded_per_row_returned": "ratio",
    "server.fetch_overhead_ms": "ms",
    "server.page_bytes": "bytes",
    "server.status_requests_per_query": "count",
}
# Filled in by batch_pipeline only; the other workloads report them as 0.
BATCH_LAYER_UNITS = {
    "workload.construct_s": "s",
    "workload.execute_s": "s",
    "spark.construct_jobs": "count",
    "spark.execute_jobs": "count",
}
for _q in BATCH_QUERIES:
    BATCH_LAYER_UNITS[f"spark.{_q}.construct_jobs"] = "count"
    BATCH_LAYER_UNITS[f"spark.{_q}.execute_jobs"] = "count"
LAYER_UNITS.update(BATCH_LAYER_UNITS)


def job_counts(spark, group: str) -> tuple[int, int, int]:
    """(jobs, stages that ran, tasks that completed) of one job group."""
    tracker = spark.sparkContext.statusTracker()
    stages: set[int] = set()
    jobs = tracker.getJobIdsForGroup(group)
    for job in jobs:
        info = tracker.getJobInfo(job)
        if info is not None:
            stages.update(info.stageIds)
    ran, tasks = 0, 0
    for stage in stages:
        info = tracker.getStageInfo(stage)
        if info is not None and info.numCompletedTasks > 0:
            ran += 1
            tasks += info.numCompletedTasks
    return len(jobs), ran, tasks


class Tracer:
    def __init__(self, engine):
        self._engine = engine
        self._lock = threading.Lock()
        self._local = threading.local()
        self._undo: list[tuple[object, str, object, bool]] = []
        self.calls: dict[str, list[float]] = defaultdict(list)
        self.queries: dict[str, dict] = defaultdict(dict)
        self.status_requests: Counter = Counter()
        self.stream_groups: list[str] = []
        self.rows_decoded = 0
        self.rows_returned = 0

    # ------------------------------------------------------------ install

    def _replace(self, owner, name: str, new) -> None:
        on_class = isinstance(owner, type)
        # restore the raw class attribute (staticmethod object included)
        # or, for an instance, just drop the shadowing attribute
        old = owner.__dict__[name] if on_class or name in vars(owner) else None
        self._undo.append((owner, name, old, on_class or old is not None))
        setattr(owner, name, new)

    def _timed(self, name: str, fn):
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                self._add(name, time.perf_counter() - t0)

        return wrapper

    def _add(self, name: str, seconds: float) -> None:
        with self._lock:
            self.calls[name].append(seconds)

    def _mark(self, qid: str, **fields) -> None:
        with self._lock:
            self.queries[qid].update(fields)

    def install(self) -> "Tracer":
        import pyarrow.parquet as pq

        import chapterhousedb_spark.engine as engine_mod
        from chapterhousedb_spark.results import ResultCursor, ResultManifest

        engine = self._engine
        spark = engine.spark
        sc = spark.sparkContext
        self._replace(
            engine_mod, "split_statements",
            self._timed("sqlfront.split", engine_mod.split_statements),
        )
        self._replace(
            engine.table_functions, "rewrite",
            self._timed("sqlfront.rewrite", engine.table_functions.rewrite),
        )

        submit = engine.submit

        def traced_submit(statement, pool=None):
            t0 = time.perf_counter()
            handle = submit(statement, pool=pool)
            self._mark(handle.query_id, submit=t0)
            return handle

        self._replace(engine, "submit", traced_submit)

        dataframe = engine.dataframe

        def traced_dataframe(statement):
            group = sc.getLocalProperty("spark.jobGroup.id")
            t0 = time.perf_counter()
            try:
                return dataframe(statement)
            finally:
                if group and group.startswith("chdb-"):
                    self._mark(group[5:], plan_start=t0, plan_end=time.perf_counter())

        self._replace(engine, "dataframe", traced_dataframe)

        build = ResultManifest.build

        def traced_build(result_dir):
            t0 = time.perf_counter()
            manifest = build(result_dir)
            self._mark(
                os.path.basename(result_dir.rstrip("/")),
                manifest_start=t0,
                manifest_end=time.perf_counter(),
                files=len(manifest.files),
            )
            return manifest

        self._replace(ResultManifest, "build", staticmethod(traced_build))

        fetch = ResultCursor.fetch

        def traced_fetch(cursor, offset, limit):
            self._local.decoded = 0
            t0 = time.perf_counter()
            try:
                table = fetch(cursor, offset, limit)
            finally:
                dt = time.perf_counter() - t0
                decoded, self._local.decoded = self._local.decoded, None
            with self._lock:
                self.calls["results.fetch"].append(dt)
                self.rows_returned += table.num_rows
                self.rows_decoded += decoded
            return table

        self._replace(ResultCursor, "fetch", traced_fetch)

        read_row_groups = pq.ParquetFile.read_row_groups

        def traced_read_row_groups(pf, *args, **kwargs):
            table = read_row_groups(pf, *args, **kwargs)
            if getattr(self._local, "decoded", None) is not None:
                self._local.decoded += table.num_rows
            return table

        self._replace(pq.ParquetFile, "read_row_groups", traced_read_row_groups)
        return self

    def watch_client(self, client) -> None:
        """Count the status requests a workload client sends per query."""
        status = client.status

        def traced_status(query_id, wait_s=0.0):
            with self._lock:
                self.status_requests[query_id] += 1
            return status(query_id, wait_s=wait_s)

        self._replace(client, "status", traced_status)

    def watch_streams(self) -> None:
        """Collect the job group of every streaming query started from
        Python: Spark runs a stream's micro-batches, foreachBatch
        callbacks included, in a job group named after its `runId`."""
        from pyspark.sql.streaming import DataStreamWriter

        def collect(fn):
            def wrapper(*args, **kwargs):
                query = fn(*args, **kwargs)
                with self._lock:
                    self.stream_groups.append(str(query.runId))
                return query

            return wrapper

        for name in ("start", "toTable"):
            self._replace(DataStreamWriter, name, collect(getattr(DataStreamWriter, name)))

    def uninstall(self) -> None:
        while self._undo:
            owner, name, old, restore = self._undo.pop()
            if restore:
                setattr(owner, name, old)
            else:
                delattr(owner, name)

    # ------------------------------------------------------------- reduce

    def metrics(
        self,
        qids: list[str],
        counted: list[str],
        client_fetch_s: list[float],
        page_bytes: list[int],
    ) -> dict[str, float]:
        """Per-layer metrics over the workload's engine queries `qids`.
        Counters use `counted`, a seed-determined subset, so they repeat
        exactly between runs with the same seed. The batch-only metrics
        read 0 here; batch_pipeline fills them in."""
        q = [self.queries[x] for x in qids]
        spark = self._engine.spark
        counts = {x: job_counts(spark, f"chdb-{x}") for x in counted}
        fetch_s = self.calls["results.fetch"]
        return {
            "sqlfront.split_ms": 1e3 * fmean(self.calls["sqlfront.split"]),
            "sqlfront.rewrite_ms": 1e3 * fmean(self.calls["sqlfront.rewrite"]),
            "engine.queue_wait_ms": 1e3 * fmean(p["plan_start"] - p["submit"] for p in q),
            "engine.plan_ms": 1e3 * fmean(p["plan_end"] - p["plan_start"] for p in q),
            "engine.write_s": fmean(p["manifest_start"] - p["plan_end"] for p in q),
            "results.manifest_build_ms": 1e3 * fmean(
                p["manifest_end"] - p["manifest_start"] for p in q
            ),
            "results.files_per_result": fmean(self.queries[x]["files"] for x in counted),
            "spark.jobs_per_query": fmean(c[0] for c in counts.values()),
            "spark.stages_per_query": fmean(c[1] for c in counts.values()),
            "spark.tasks_per_query": fmean(c[2] for c in counts.values()),
            "results.fetch_ms": 1e3 * fmean(fetch_s),
            "results.rows_decoded_per_row_returned": self.rows_decoded
            / max(1, self.rows_returned),
            "server.fetch_overhead_ms": 1e3 * (fmean(client_fetch_s) - fmean(fetch_s)),
            "server.page_bytes": fmean(page_bytes),
            "server.status_requests_per_query": fmean(
                self.status_requests[x] for x in qids
            ),
            **dict.fromkeys(BATCH_LAYER_UNITS, 0),
        }


def ipc_bytes(table) -> int:
    """Size of `table` as the Arrow IPC stream the server sends a page in."""
    import pyarrow as pa

    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as writer:
        writer.write_table(table)
    return sink.getvalue().size
