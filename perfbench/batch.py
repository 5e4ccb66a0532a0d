"""batch_pipeline: one cold pass of six declared LLM-pipeline queries.

After one fixed warm-up statement (served over the socket, and not one
of the six), each query runs exactly once through
`QUERIES[name](spark, data_dir)` (construct: build the DataFrame,
including any jobs an iterative solver runs first) and is then forced
to Spark's noop sink (execute). One pass per process: a second pass in
the same process finds the session memos filled and runs far fewer
jobs, which is not what a fresh pipeline run costs.

Nearly all the time goes to the workload, operators and streaming
layers and to Spark execution; server and results are bypassed. The
set mixes construct-heavy queries (iterative solvers), execute-heavy
ones and one commit-heavy streaming ingest.
"""

from __future__ import annotations

import time

import checks
import harness
from harness import OP_TIMEOUT_S, PAGE_SIZE, OpLog, Outcome
from tracing import BATCH_QUERIES, Tracer, ipc_bytes

WARMUP_SQL = (
    "SELECT lang, count(*) AS docs, avg(n_chars) AS avg_chars "
    "FROM {documents} GROUP BY lang ORDER BY lang"
)
# Expected row counts on the generated data. Four come from the
# queries' DuckDB twins (`ORACLES`), which take minutes on DuckDB, so
# they are pinned here; re-derive them with `python3 perfbench/batch.py`.
# quality_classifier and dedup_minhash have no twin: their counts are
# pinned as the program gave them at the commit that added this file.
EXPECTED_ROWS = {
    "pipeline_pretrain": 752,
    "dedup_clusters_star": 1000,
    "quality_classifier": 1000,
    "dedup_minhash": 153,
    "pipeline_ccnet": 236,
    "streaming_ingest_corpus": 916,
}


def _warm_up(stack, log: OpLog, tracer) -> tuple[str, float, object]:
    """The fixed warm-up statement, submitted and paged like a user
    would; absorbs the JVM's warm-up before the first timed query."""
    sql = WARMUP_SQL.format(documents="read_files('documents.parquet', connection=>'d')")
    with stack.client() as client:
        if tracer:
            tracer.watch_client(client)
        qid = client.submit(sql)[0]["query_id"]
        st = client.wait(qid, timeout=OP_TIMEOUT_S)
        if st["status"] != "COMPLETE":
            raise RuntimeError(f"warm-up failed: {st}")
        t0 = time.perf_counter()
        page = client.fetch(qid, 0, PAGE_SIZE)
        fetch_s = time.perf_counter() - t0
    con = checks.connect(stack.data_dir, ["documents"])
    why = checks.compare(con, page, WARMUP_SQL.format(documents="documents"))
    con.close()
    if why:
        log.mismatch(f"warm-up statement: {why}")
    return qid, fetch_s, page


def oracle_rows(data_dir: str) -> dict[str, int]:
    """Row counts of the batch queries' DuckDB twins on `data_dir`."""
    from chapterhousedb_spark.workload import ORACLES

    con = checks.connect(data_dir, ["documents"])
    try:
        return {
            name: con.sql(f"SELECT count(*) FROM ({ORACLES[name]})").fetchone()[0]
            for name in BATCH_QUERIES
            if name in ORACLES
        }
    finally:
        con.close()


def run(stack, seed: int, seconds: float, traced: bool) -> Outcome:
    # the pass is fixed: the seed selects nothing here
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from chapterhousedb_spark.operators.dedup import release_self_join_caches
    from chapterhousedb_spark.workload import QUERIES

    spark, log = stack.spark, OpLog()
    tracer = Tracer(stack.engine).install() if traced else None
    try:
        warm_qid, warm_fetch_s, warm_page = _warm_up(stack, log, tracer)
    finally:
        if tracer:
            tracer.uninstall()
    walls, jobs = {}, {}
    # the queries run on this thread, outside any job group; the jobs of
    # the streams they start are in the streams' own groups
    streams = Tracer(stack.engine) if traced else None
    if streams:
        streams.watch_streams()
    tracker = spark.sparkContext.statusTracker()

    def counted() -> set[int]:
        if not streams:
            return set()
        ids = set(tracker.getJobIdsForGroup(None))
        for group in streams.stream_groups:
            ids.update(tracker.getJobIdsForGroup(group))
        return ids

    try:
        for name in BATCH_QUERIES:
            before = counted()
            t0 = time.perf_counter()
            try:
                df = QUERIES[name](spark, stack.data_dir)
                t1 = time.perf_counter()
                built = counted()
                # the row count for the check rides along with the one
                # execution instead of re-running the query afterwards
                rows = Observation(f"rows_{name}")
                t2 = time.perf_counter()
                df.observe(rows, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
                    "overwrite"
                ).save()
                t3 = time.perf_counter()
            except Exception as exc:  # one failed query must not hide the others
                log.fail(f"{name}: {type(exc).__name__}: {exc}")
                continue
            finally:
                release_self_join_caches(spark)
            log.ok(t3 - t0)
            walls[name] = (t1 - t0, t3 - t2)
            if rows.get["n"] != EXPECTED_ROWS[name]:
                log.mismatch(f"{name}: {rows.get['n']} rows, expected {EXPECTED_ROWS[name]}")
            if streams:
                jobs[name] = (len(built - before), len(counted() - built))
    finally:
        if streams:
            streams.uninstall()
    missing = [OP_TIMEOUT_S] * (len(BATCH_QUERIES) - len(walls))
    construct = [c for c, _ in walls.values()] + missing
    per_query = [c + e for c, e in walls.values()] + missing
    batch_wall = sum(per_query)
    layers = None
    if tracer:
        layers = tracer.metrics([warm_qid], [warm_qid], [warm_fetch_s], [ipc_bytes(warm_page)])
        layers["workload.construct_s"] = sum(c for c, _ in walls.values())
        layers["workload.execute_s"] = sum(e for _, e in walls.values())
        layers["spark.construct_jobs"] = sum(c for c, _ in jobs.values())
        layers["spark.execute_jobs"] = sum(e for _, e in jobs.values())
        for name, (c, e) in jobs.items():
            layers[f"spark.{name}.construct_jobs"] = c
            layers[f"spark.{name}.execute_jobs"] = e
    p = harness.percentile
    report = {"batch_wall_s": (batch_wall, "s"), "query_p95_s": (p(per_query, 95), "s")}
    for name, (c, e) in walls.items():
        report[f"workload.{name}.construct_s"] = (c, "s")
        report[f"workload.{name}.execute_s"] = (e, "s")
    return Outcome(
        e2e={
            "ready_p50_s": p(construct, 50),
            "op_p50_ms": 1e3 * p(per_query, 50),
            "op_p90_ms": 1e3 * p(per_query, 90),
            "ops_per_s": len(walls) / batch_wall,
        },
        report=report,
        layers=layers,
        log=log,
    )


if __name__ == "__main__":
    import json
    import os
    import sys

    import datagen

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(1, root)
    work_dir = os.path.join(root, ".perfbench_work")
    print(json.dumps(oracle_rows(datagen.ensure_data(work_dir)), indent=1))
