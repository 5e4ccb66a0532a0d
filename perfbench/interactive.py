"""interactive_sql: short statements from 4 closed-loop socket clients.

Each client submits one statement, waits for COMPLETE, fetches the first
50-row page, and only then sends its next statement. Statements come
from seeded templates in the shapes of the reference's sample queries:
arithmetic projections over a filtered scan with ORDER BY, small GROUP
BY aggregates, and one broadcast join with `nation`. Every ORDER BY is a
total order, so a result's row order is fully determined.

Nearly all of a statement's time goes to per-query constants (SQL
rewrite, Catalyst planning, job scheduling, the parquet materialize
write and the manifest), not to bulk reads.
"""

from __future__ import annotations

import random
import threading
import time
from dataclasses import dataclass

import checks
import harness
from harness import OP_TIMEOUT_S, PAGE_SIZE, OpLog, Outcome
from tracing import Tracer, ipc_bytes

CLIENTS = 4
# The completion rate climbs for about 20 s as the JVM compiles the hot
# paths (on 4 cores: 7, 11, 12, 13, 10, 12, 16, then 16-17 statements
# per 3 s window), then holds. The warm-up is a fixed 5 windows, which
# covers the steep part of the climb and keeps a run inside the time
# budget of the whole benchmark; a fixed length puts every run at the
# same point of the climb, where an adaptive stop made the timed rate
# depend on when noise first looked like a plateau.
WARMUP_WINDOW_S = 3.0
WARMUP_WINDOWS = 5
COUNTED_PER_CLIENT = 5  # statements per client behind the traced counters
TABLES = ["lineitem", "orders", "customer", "nation"]


@dataclass(frozen=True)
class Statement:
    sql: str  # with {table} placeholders
    order: tuple[tuple[str, str], ...]  # ORDER BY keys, for the order check

    def for_engine(self) -> str:
        return self.sql.format(
            **{t: f"read_files('{t}.parquet', connection=>'d')" for t in TABLES}
        )

    def for_duckdb(self, data_dir: str) -> str:
        return self.sql.format(**{t: f"read_parquet('{data_dir}/{t}.parquet')" for t in TABLES})


def _scan_arith(rng: random.Random) -> Statement:
    lo = rng.randrange(1, 149_000)
    hi = lo + rng.randrange(50, 400)
    d = rng.choice(["ASC", "DESC"])
    direction = "ascending" if d == "ASC" else "descending"
    return Statement(
        "SELECT l_orderkey, l_linenumber, l_extendedprice * (1 - l_discount) AS net_price, "
        "l_quantity + 10.0 AS qty_plus_10, (l_tax + 10) / 100 AS tax_scaled "
        f"FROM {{lineitem}} WHERE l_orderkey BETWEEN {lo} AND {hi} "
        f"ORDER BY l_orderkey {d}, l_linenumber {d}",
        (("l_orderkey", direction), ("l_linenumber", direction)),
    )


def _orders_arith(rng: random.Random) -> Statement:
    lo = rng.randrange(1, 14_800)
    hi = lo + rng.randrange(20, 150)
    return Statement(
        "SELECT o_orderkey, o_custkey, o_totalprice, o_totalprice / 1000 AS price_k, "
        "CAST(1 AS DOUBLE) / (o_custkey * o_custkey) AS inv_sq "
        f"FROM {{orders}} WHERE o_custkey BETWEEN {lo} AND {hi} "
        "ORDER BY o_totalprice DESC, o_orderkey",
        (("o_totalprice", "descending"), ("o_orderkey", "ascending")),
    )


def _lineitem_groups(rng: random.Random) -> Statement:
    q = rng.randrange(5, 50)
    return Statement(
        "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS sum_qty, "
        "avg(l_extendedprice) AS avg_price, avg(l_discount) AS avg_disc "
        f"FROM {{lineitem}} WHERE l_quantity < {q} "
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
        (("l_returnflag", "ascending"), ("l_linestatus", "ascending")),
    )


def _orders_groups(rng: random.Random) -> Statement:
    p = rng.randrange(1_000, 450_000, 1_000)
    return Statement(
        "SELECT o_orderpriority, o_orderstatus, count(*) AS n, sum(o_totalprice) AS revenue "
        f"FROM {{orders}} WHERE o_totalprice > {p} "
        "GROUP BY o_orderpriority, o_orderstatus ORDER BY o_orderpriority, o_orderstatus",
        (("o_orderpriority", "ascending"), ("o_orderstatus", "ascending")),
    )


def _nation_join(rng: random.Random) -> Statement:
    x = rng.randrange(-900, 9_000, 100)
    return Statement(
        "SELECT n.n_name, count(*) AS customers, sum(c.c_acctbal) AS balance "
        "FROM {customer} c JOIN {nation} n ON c.c_nationkey = n.n_nationkey "
        f"WHERE c.c_acctbal > {x} GROUP BY n.n_name ORDER BY n.n_name",
        (("n_name", "ascending"),),
    )


# One deck holds each template this many times; every client deals
# itself seeded shuffles of the deck, so the template mix of a run
# barely depends on the seed while the order and literals do.
_DECK = [
    (_scan_arith, 3),
    (_orders_arith, 2),
    (_lineitem_groups, 2),
    (_orders_groups, 2),
    (_nation_join, 1),
]


def statements(seed: int, client: int, phase: str):
    """The endless seeded statement stream of one client in one phase."""
    rng = random.Random(f"interactive:{seed}:{phase}:{client}")
    deck = [make for make, n in _DECK for _ in range(n)]
    while True:
        rng.shuffle(deck)
        for make in deck:
            yield make(rng)


@dataclass
class Done:
    client: int
    index: int
    stmt: Statement
    qid: str
    ready_s: float
    first_page_s: float
    fetch_s: float
    end: float  # perf_counter() when the first page arrived
    page: object


class _Switch:
    """Moves every client from its warm-up stream to its timed stream
    without pausing the load, so clients stay out of step with each
    other; stopping and restarting them would start timing with four
    statements submitted at once."""

    def __init__(self, seconds: float):
        self.seconds = seconds
        self.flip = threading.Event()
        self.tracer = None
        self.start = self.end = 0.0

    def wait_and_flip(self, engine, traced: bool) -> None:
        time.sleep(WARMUP_WINDOWS * WARMUP_WINDOW_S)
        if traced:
            self.tracer = Tracer(engine).install()
        self.start = time.perf_counter()
        self.end = self.start + self.seconds
        self.flip.set()


def _client(stack, client_id, seed, switch, warm, timed) -> None:
    """One closed-loop client: its warm-up stream until the switch
    flips, then its timed stream until the timed window closes. `warm`
    and `timed` are (OpLog, list[Done]) pairs."""
    phases = [
        (statements(seed, client_id, "warm"), *warm),
        (statements(seed, client_id, "timed"), *timed),
    ]
    phase, issued = 0, [0, 0]
    client = stack.client()
    try:
        while True:
            if phase == 0 and switch.flip.is_set():
                phase = 1
                if switch.tracer:
                    switch.tracer.watch_client(client)
            if phase == 1 and time.perf_counter() >= switch.end:
                return
            stream, log, done = phases[phase]
            index = issued[phase]
            issued[phase] += 1
            stmt = next(stream)
            t0 = time.perf_counter()
            try:
                qid = client.submit(stmt.for_engine())[0]["query_id"]
                st = client.wait(qid, timeout=OP_TIMEOUT_S)
                t1 = time.perf_counter()
                if st["status"] != "COMPLETE":
                    log.fail(f"{st['status']}: {st.get('error')}")
                    continue
                page = client.fetch(qid, 0, PAGE_SIZE)
                t2 = time.perf_counter()
            except Exception as exc:  # RemoteQueryError, timeout, socket
                log.fail(f"{type(exc).__name__}: {exc}")
                client.close()
                client = stack.client()
                if phase == 1 and switch.tracer:
                    switch.tracer.watch_client(client)
                continue
            log.ok(t2 - t0)
            done.append(Done(client_id, index, stmt, qid, t1 - t0, t2 - t0, t2 - t1, t2, page))
    finally:
        client.close()


def _role(role, stack, seed, switch, traced, warm, timed) -> None:
    if role == "switch":
        switch.wait_and_flip(stack.engine, traced)
    else:
        _client(stack, role, seed, switch, warm, timed)


def check(stack, done: list[Done], log: OpLog) -> None:
    """Each distinct statement once against DuckDB; every first page
    against the first rows of its statement's checked result."""
    con = checks.connect(stack.data_dir, TABLES)
    full = {}
    for d in done:
        if d.stmt.sql in full:
            continue
        table = stack.result(d.qid)
        full[d.stmt.sql] = table
        why = checks.compare(con, table, d.stmt.for_duckdb(stack.data_dir))
        if why is None and not checks.is_ordered(table, list(d.stmt.order)):
            why = "rows are not in ORDER BY order"
        if why:
            log.mismatch(f"{d.stmt.for_engine()}: {why}")
    con.close()
    for d in done:
        if not harness.pages_match(d.page, full[d.stmt.sql].slice(0, PAGE_SIZE)):
            log.mismatch(f"first page differs from the result: {d.stmt.for_engine()}")


def run(stack, seed: int, seconds: float, traced: bool) -> Outcome:
    switch = _Switch(seconds)
    warm, timed = (OpLog(), []), (OpLog(), [])
    t0 = time.perf_counter()
    try:
        harness.run_threads(_role, [
            (role, stack, seed, switch, traced, warm, timed)
            for role in ["switch", *range(CLIENTS)]
        ])
    finally:
        if switch.tracer:
            switch.tracer.uninstall()
    if warm[0].failed:
        raise RuntimeError(f"warm-up failed: {warm[0].failures[0]}")
    windows = [0] * WARMUP_WINDOWS
    for d in warm[1]:
        w = int((d.end - t0) / WARMUP_WINDOW_S)
        if w < WARMUP_WINDOWS:  # not the statements still in flight at the switch
            windows[w] += 1
    wall = time.perf_counter() - switch.start
    tracer = switch.tracer
    log, done = timed
    # closed loop: each client is busy from one submit to its next, so
    # a client's rate is its operations over the sum of their latencies
    busy = [sum(d.first_page_s for d in done if d.client == c) for c in range(CLIENTS)]
    rate = sum(sum(1 for d in done if d.client == c) / b for c, b in enumerate(busy) if b)
    ready = [d.ready_s for d in done] + [OP_TIMEOUT_S] * log.failed
    first = [d.first_page_s for d in done] + [OP_TIMEOUT_S] * log.failed
    check(stack, done, log)
    layers = None
    if tracer:
        counted = [d.qid for d in done if d.index < COUNTED_PER_CLIENT]
        layers = tracer.metrics(
            [d.qid for d in done], counted,
            [d.fetch_s for d in done], [ipc_bytes(d.page) for d in done],
        )
    p = harness.percentile
    return Outcome(
        e2e={
            "ready_p50_s": p(ready, 50),
            "op_p50_ms": 1e3 * p(first, 50),
            "op_p90_ms": 1e3 * p(first, 90),
            "ops_per_s": rate,
        },
        report={
            "query_p50_s": (p(ready, 50), "s"),
            "query_p95_s": (p(ready, 95), "s"),
            "first_page_p50_s": (p(first, 50), "s"),
            "first_page_p95_s": (p(first, 95), "s"),
            "queries_per_s": (rate, "1/s"),
            "queries_per_s_wall": (len(done) / wall, "1/s"),
            "samples": (len(ready), "count"),
            "warmup_ops_per_window": (", ".join(map(str, windows)), "count"),
        },
        layers=layers,
        log=log,
    )
