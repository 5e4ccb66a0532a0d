"""result_paging: page large materialized results over the socket.

Two rounds of four large `lineitem` results are materialized one at a
time (each an ordered quarter of the table, 150k rows; the seed deals
the quarters) after three untimed rounds of the same writes.
Then four clients page the eight results in 50-row pages through the
public iterator (`QueryClient.iterator`, the fixed-grid pager of
`results.QueryDataIterator`). A walk reads forward from the first page
and takes seeded backward jumps of one to three pages.

Nearly all the time goes to the results and server layers; Spark is
idle while paging. The materialize step runs the same engine write path
as interactive_sql at a large result size.
"""

from __future__ import annotations

import random
import time
from dataclasses import dataclass

import checks
import harness
from harness import OP_TIMEOUT_S, PAGE_SIZE, OpLog, Outcome
from tracing import Tracer, ipc_bytes

CLIENTS = 4
WARMUP_ROUNDS = 2  # untimed rounds of one write at a time, before timing
ROUNDS = 2  # timed rounds of materialized results; materialize_s is their p50
WARMUP_PAGES = 20  # per client, before timing
BACK_P = 0.15  # chance that a step starts a backward jump
MAX_WALK = 60  # pages read forward in one walk, at most


ORDER = [("l_orderkey", "ascending"), ("l_linenumber", "ascending")]


def _results(rng: random.Random) -> list[str]:
    """One ordered quarter of lineitem per client (150k rows each, so
    every seed writes the same amount); the seed deals the quarters."""
    quarters = list(range(CLIENTS))
    rng.shuffle(quarters)
    return [
        "SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice, "
        f"l_discount, l_returnflag FROM {{lineitem}} WHERE l_orderkey % {CLIENTS} = {q} "
        "ORDER BY l_orderkey, l_linenumber"
        for q in quarters
    ]


def _engine_sql(sql: str) -> str:
    return sql.format(lineitem="read_files('lineitem.parquet', connection=>'d')")


@dataclass
class Page:
    qid: str
    index: int  # page number on the fixed grid the contract promises
    latency_s: float
    table: object


def _materialize(stack, results, log, out, index, tracer) -> None:
    with stack.client() as client:
        if tracer:
            tracer.watch_client(client)
        t0 = time.perf_counter()
        try:
            qid = client.submit(_engine_sql(results[index]))[0]["query_id"]
            st = client.wait(qid, timeout=OP_TIMEOUT_S)
        except Exception as exc:  # RemoteQueryError, timeout, socket
            log.fail(f"{type(exc).__name__}: {exc}")
            return
        if st["status"] != "COMPLETE":
            log.fail(f"{st['status']}: {st.get('error')}")
            return
        wall = time.perf_counter() - t0
        log.ok(wall)
        out[index] = (qid, wall)


def _walk_pages(stack, seed, phase, client_id, qids, t_end, max_pages, log, pages, tracer):
    """Seeded walks over the results until `t_end` or `max_pages`."""
    rng = random.Random(f"paging:{seed}:{phase}:{client_id}")
    client = stack.client()
    if tracer:
        tracer.watch_client(client)
    served = 0
    try:
        while time.perf_counter() < t_end and served < max_pages:
            qid = rng.choice(qids)
            it = client.iterator(qid, page_size=PAGE_SIZE)
            nxt = 0  # the contract's cursor: index of the next forward page
            back = 0
            for _ in range(rng.randrange(5, MAX_WALK)):
                if time.perf_counter() >= t_end or served >= max_pages:
                    break
                if back == 0 and nxt >= 2 and rng.random() < BACK_P:
                    back = rng.randrange(1, 4)
                backward = back > 0 and nxt >= 2
                t0 = time.perf_counter()
                try:
                    table = it.prev_page() if backward else it.next_page()
                except Exception as exc:  # RemoteQueryError, timeout, socket
                    log.fail(f"{type(exc).__name__}: {exc}")
                    client.close()
                    client = stack.client()
                    if tracer:
                        tracer.watch_client(client)
                    break
                dt = time.perf_counter() - t0
                if backward:
                    back -= 1
                    nxt -= 1
                    index = nxt - 1
                else:
                    back = 0
                    index = nxt
                    nxt += 1
                served += 1
                if table is None:
                    log.mismatch(f"page {index} of {qid} was not served")
                    break
                log.ok(dt)
                if pages is not None:
                    pages.append(Page(qid, index, dt, table))
    finally:
        client.close()


def check(stack, results, made, pages, log) -> None:
    """Each result once against DuckDB; every page served, forward or
    backward, against its slice of the full result."""
    con = checks.connect(stack.data_dir, ["lineitem"])
    full = {}
    for r, (qid, _) in zip(results, made):
        table = full[qid] = stack.result(qid)
        oracle = r.format(lineitem=f"read_parquet('{stack.data_dir}/lineitem.parquet')")
        why = checks.compare(con, table, oracle)
        if why is None and not checks.is_ordered(table, ORDER):
            why = "rows are not in ORDER BY order"
        if why:
            log.mismatch(f"{_engine_sql(r)}: {why}")
    con.close()
    for p in pages:
        want = full[p.qid].slice(p.index * PAGE_SIZE, PAGE_SIZE)
        if not p.table.equals(want):
            log.mismatch(f"page {p.index} of {p.qid} differs from the result")


def run(stack, seed: int, seconds: float, traced: bool) -> Outcome:
    rng = random.Random(f"paging:{seed}:results")
    # untimed rounds first: the first large writes of a process pay
    # the JVM's warm-up for this plan shape, one concurrent round, then
    # rounds of one write at a time, as the timed rounds run
    warm = _results(rng)
    harness.run_threads(_materialize, [
        (stack, warm, OpLog(), [None] * CLIENTS, c, None) for c in range(CLIENTS)
    ])
    for _ in range(WARMUP_ROUNDS):
        warm = _results(rng)
        for i in range(CLIENTS):
            _materialize(stack, warm, OpLog(), [None] * CLIENTS, i, None)
    results = [sql for _ in range(ROUNDS) for sql in _results(rng)]
    tracer = Tracer(stack.engine).install() if traced else None
    mat_log, page_log = OpLog(), OpLog()
    made: list = [None] * len(results)
    pages: list[Page] = []
    try:
        # one write at a time: four concurrent writes on four cores made
        # each one's wall depend on how the others were scheduled
        for i in range(len(results)):
            _materialize(stack, results, mat_log, made, i, tracer)
        if mat_log.failed:
            raise RuntimeError(f"materialize failed: {mat_log.failures[0]}")
        qids = [m[0] for m in made]
        harness.run_threads(_walk_pages, [
            (stack, seed, "warm", c, qids, float("inf"), WARMUP_PAGES, OpLog(), None, None)
            for c in range(CLIENTS)
        ])
        t0 = time.perf_counter()
        harness.run_threads(_walk_pages, [
            (stack, seed, "timed", c, qids, t0 + seconds, float("inf"), page_log, pages, tracer)
            for c in range(CLIENTS)
        ])
        wall = time.perf_counter() - t0
    finally:
        if tracer:
            tracer.uninstall()
    check(stack, results, made, pages, page_log)
    log = OpLog(mat_log.latencies + page_log.latencies, mat_log.failures + page_log.failures)
    mat = [m[1] for m in made]
    lat = page_log.latencies
    layers = None
    if tracer:
        layers = tracer.metrics(qids, qids, [p.latency_s for p in pages],
                                [ipc_bytes(p.table) for p in pages])
    p = harness.percentile
    return Outcome(
        e2e={
            "ready_p50_s": p(mat, 50),
            "op_p50_ms": 1e3 * p(lat, 50),
            "op_p90_ms": 1e3 * p(lat, 90),
            "ops_per_s": len(pages) / wall,
        },
        report={
            "materialize_s": (p(mat, 50), "s"),
            "materialize_walls_s": (", ".join(f"{m:.3f}" for m in mat), "s"),
            "page_p50_ms": (1e3 * p(lat, 50), "ms"),
            "page_p95_ms": (1e3 * p(lat, 95), "ms"),
            "page_p99_ms": (1e3 * p(lat, 99), "ms"),
            "rows_per_s": (sum(pg.table.num_rows for pg in pages) / wall, "rows/s"),
            "samples": (len(lat), "count"),
        },
        layers=layers,
        log=log,
    )
