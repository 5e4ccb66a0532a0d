"""The system under test and the shared measurement plumbing.

`Stack` is one set-up of the serving path: a `local[nproc]` SparkSession
from `chdb.build_session`, a `chdb.Engine` on it and a `chdb.serve`
QueryServer on a free localhost port. Every workload starts the same
way, once per process, so `setup_s` means the same thing on all of them.

`RunDir` owns the per-run temporary root inside the checkout. Spark's
local dirs, the JVM's temp dir, the Python temp dir, the warehouse and
the engine's `results_dir` all live under it, and it is removed when
the run ends, so repeated runs leave no materialized parquet behind.
"""

from __future__ import annotations

import math
import os
import shutil
import subprocess
import tempfile
import threading
from dataclasses import dataclass, field

import numpy as np
import pyarrow.types as pat

# A failed operation is recorded with this latency: longer than any
# latency limit, so it counts as missing every percentile.
OP_TIMEOUT_S = 60.0
PAGE_SIZE = 50  # the reference TUI's page size (client_tui.rs:303)
DRIVER_MEMORY = "4g"  # leaves most of a 15 GB host to the OS and workers


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # exists, owned by someone else
        pass
    return True


class RunDir:
    """Per-run temporary root under `<work_dir>/run-<pid>`; must be
    created before the JVM starts so Spark picks up its local dirs."""

    def __init__(self, work_dir: str):
        self.path = os.path.join(work_dir, f"run-{os.getpid()}")
        for name in os.listdir(work_dir):  # left behind by killed runs
            if name.startswith("run-") and not _alive(int(name[4:])):
                shutil.rmtree(os.path.join(work_dir, name), ignore_errors=True)
        for sub in ("spark-local", "java-tmp", "py-tmp", "results", "warehouse"):
            os.makedirs(os.path.join(self.path, sub))
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.path, "spark-local")
        os.environ["TMPDIR"] = os.path.join(self.path, "py-tmp")
        tempfile.tempdir = os.environ["TMPDIR"]
        os.environ["SPARK_GRAFT_CPUS"] = str(host_cpus())
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY

    def sub(self, name: str) -> str:
        return os.path.join(self.path, name)

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


@dataclass
class Stack:
    spark: object
    engine: object
    server: object
    data_dir: str

    def client(self):
        import chapterhousedb_spark as chdb

        return chdb.QueryClient(self.server.host, self.server.port)

    def result(self, qid: str):
        """A whole materialized result, read in process with the
        engine's own cursor (checks only: no socket round trips)."""
        import chapterhousedb_spark as chdb

        cursor = chdb.ResultCursor(self.engine.handle(qid).result_dir)
        return cursor.fetch(0, cursor.total_rows)

    def close(self) -> None:
        self.server.close()
        self.engine.close(release_caches=True)
        self.spark.stop()


def start_stack(run_dir: RunDir, data_dir: str) -> Stack:
    """Build session, engine and server, then answer one query over the
    socket: the stack is set up once that first page arrives."""
    import chapterhousedb_spark as chdb

    spark = chdb.build_session(
        app_name="perfbench",
        shuffle_partitions=host_cpus(),
        extra_conf={
            # no hsperfdata file under /tmp: a run writes only in its checkout
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={run_dir.sub('java-tmp')} -XX:-UsePerfData"
            ),
            "spark.sql.warehouse.dir": run_dir.sub("warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    engine = chdb.Engine(
        spark=spark,
        results_dir=run_dir.sub("results"),
        connections=chdb.ConnectionRegistry(
            {"d": chdb.FsConnection(name="d", base_path=data_dir)}
        ),
    )
    stack = Stack(spark, engine, chdb.serve(engine), data_dir)
    with stack.client() as client:
        qid = client.submit("SELECT 1 AS one")[0]["query_id"]
        st = client.wait(qid, timeout=OP_TIMEOUT_S)
        if st["status"] != "COMPLETE" or client.fetch(qid).to_pylist() != [{"one": 1}]:
            raise RuntimeError(f"set-up query did not answer: {st}")
    return stack


def stop_jvm() -> None:
    """Shut the Py4J gateway down and wait for the JVM process to exit
    (it exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ------------------------------------------------------------------ stats


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    k = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


@dataclass
class OpLog:
    """Attempted and failed operations of one workload, thread-safe.
    A failed operation keeps a latency of OP_TIMEOUT_S."""

    latencies: list[float] = field(default_factory=list)
    failures: list[str] = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock, repr=False)

    def ok(self, latency: float) -> None:
        with self._lock:
            self.latencies.append(latency)

    def fail(self, why: str) -> None:
        with self._lock:
            self.latencies.append(OP_TIMEOUT_S)
            self.failures.append(why)

    def mismatch(self, why: str) -> None:
        """A check failed for an operation already counted as attempted."""
        with self._lock:
            self.failures.append(why)

    @property
    def attempted(self) -> int:
        return len(self.latencies)

    @property
    def failed(self) -> int:
        return len(self.failures)


@dataclass
class Outcome:
    """What one workload run measured. `e2e` holds the end-to-end
    metrics of BENCHMARK.json; `report` the workload's own named
    figures (value, unit), printed for people; `layers` the per-layer
    metrics of a traced run."""

    e2e: dict[str, float]
    report: dict[str, tuple[float, str]]
    layers: dict[str, float] | None
    log: OpLog


def run_threads(target, args_per_thread: list[tuple]) -> None:
    """Run one thread per argument tuple and re-raise the first error."""
    errors: list[BaseException] = []

    def guarded(*args):
        try:
            target(*args)
        except BaseException as exc:  # surfaced after join
            errors.append(exc)

    threads = [threading.Thread(target=guarded, args=a) for a in args_per_thread]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]


def pages_match(a, b) -> bool:
    """Same rows in the same order; float columns within 1e-9 relative,
    since sums over groups may be added in another order on each run."""
    if a.num_rows != b.num_rows or a.column_names != b.column_names:
        return False
    for ca, cb in zip(a.columns, b.columns):
        if pat.is_floating(ca.type):
            if not np.allclose(ca.to_numpy(), cb.to_numpy(), rtol=1e-9, atol=1e-6, equal_nan=True):
                return False
        elif not ca.equals(cb):
            return False
    return True
