"""Out-of-process serving endpoint: a localhost TCP server wrapping
Engine, so a SECOND process can submit queries, poll status, page
results, and cancel — the reference's client/server lifecycle
(AsyncQueryClient::run_query submit -> GetQueryStatus poll ->
GetQueryData paged fetch over the message router,
src/client/async_query_client.rs:40-60, query_data_handler.rs:132-181)
re-expressed as a thin JSON + Arrow-IPC protocol over a socket. The
Spark driver stays in the serving process; clients are Spark-free
(stdlib + pyarrow only), like the reference's thin TCP client.

Wire protocol (persistent connection, any number of requests):

    frame   := u32 big-endian length + body
    request := one JSON frame, {"op": ..., ...}
    response:= one JSON frame; when it carries {"arrow": true} it is
               followed by ONE Arrow IPC stream frame with the rows

A response and its Arrow frame go out as ONE write on a TCP_NODELAY
socket, and requests likewise, on both ends. Two small writes in a row
(JSON frame, then Arrow frame) with Nagle on make the second segment
wait for the peer's delayed ACK of the first — about 40 ms per reply
on Linux.

Ops mirror the reference handler surface:

    submit  {sql}                -> {queries: [{query_id, sql}, ...]}
            multi-statement text is split exactly like Engine.sql
    status  {query_id, wait_s?}  -> {status, error, num_rows, ...}
            wait_s blocks (bounded) until terminal — poll loops spin
            on the network, not the engine
    fetch   {query_id, offset, limit} -> Arrow IPC page
            cursor-paged over the materialized result, the row-group
            skipping read (results.ResultCursor) underneath
    cancel  {query_id}           -> {cancelled: bool}
    ping    {}                   -> {ok: true}

Failure parity with query_handler_state.rs:28-35: a statement that
fails analysis or execution lands in status=ERROR with the message in
`error`; fetch on a non-COMPLETE query is a request-level error frame
({"ok": false, "error": ...}), never a hang. Unknown ops and unknown
query ids are likewise error frames; the connection stays usable.

Scale note: the server is a control plane. Result pages stream from
the materialized parquet via ResultCursor (row-group pruned reads), so
a fetch moves O(page) bytes regardless of result size; heavy lifting
stays in Spark executors. Binds 127.0.0.1 by default — same-host
parity like the reference's default deployment, not an authenticated
public endpoint.
"""

from __future__ import annotations

import json
import socket
import socketserver
import struct
import threading

import pyarrow as pa

from chapterhousedb_spark.results import QueryDataIterator

_MAX_FRAME = 64 * 1024 * 1024  # defensive cap for REQUEST frames
_MAX_WAIT_S = 60.0  # per-request bound on status wait_s


def _recv_exact(sock: socket.socket, n: int) -> bytearray | None:
    """Exactly n bytes, received in place into one preallocated buffer
    (linear in the frame size however many chunks it arrives in)."""
    buf = bytearray(n)
    view = memoryview(buf)
    got = 0
    while got < n:
        k = sock.recv_into(view[got:])
        if not k:
            return None
        got += k
    return buf


def _read_frame(
    sock: socket.socket, max_len: int | None = None
) -> bytearray | None:
    """One length-prefixed frame. `max_len` guards the SERVER against
    hostile request lengths; the client reads responses uncapped — a
    legitimately large Arrow page (wide binary columns x page_size)
    must not fail after the 4-byte header is consumed, which would
    leave the body unread and desynchronize the connection (round-15
    review finding)."""
    head = _recv_exact(sock, 4)
    if head is None:
        return None
    (length,) = struct.unpack(">I", head)
    if max_len is not None and length > max_len:
        raise ValueError(f"frame of {length} bytes exceeds cap {max_len}")
    return _recv_exact(sock, length)


def _write_frames(sock: socket.socket, *bodies: bytes) -> None:
    """Send each body as a length-prefixed frame, all in ONE sendall."""
    parts = []
    for body in bodies:
        parts += (struct.pack(">I", len(body)), body)
    sock.sendall(b"".join(parts))


def _table_to_ipc(table: pa.Table) -> bytes:
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_table(table)
    return sink.getvalue().to_pybytes()


def _ipc_to_table(buf: bytearray) -> pa.Table:
    with pa.ipc.open_stream(buf) as r:
        return r.read_all()


class QueryServer:
    """Serve an Engine on a localhost socket. Construct, then either
    `serve_in_background()` (returns once listening; daemon thread) or
    `serve_forever()` (blocks). `port=0` picks a free port — read
    `.port` after construction; the listener binds in __init__, so a
    client may connect as soon as the constructor returns."""

    def __init__(self, engine, host: str = "127.0.0.1", port: int = 0):
        self.engine = engine
        server_self = self

        class _Handler(socketserver.BaseRequestHandler):
            def handle(self) -> None:  # one persistent connection
                # BaseRequestHandler ignores disable_nagle_algorithm
                self.request.setsockopt(
                    socket.IPPROTO_TCP, socket.TCP_NODELAY, 1
                )
                while True:
                    try:
                        body = _read_frame(self.request, _MAX_FRAME)
                    except (ConnectionError, ValueError, OSError):
                        return
                    if body is None:
                        return
                    try:
                        req = json.loads(body)
                        resp, arrow = server_self._dispatch(req)
                    except Exception as exc:  # request-level error frame
                        resp, arrow = {"ok": False, "error": str(exc)}, None
                    frames = [json.dumps(resp).encode()]
                    if arrow is not None:
                        frames.append(arrow)
                    try:
                        _write_frames(self.request, *frames)
                    except (ConnectionError, OSError):
                        return

        class _Server(socketserver.ThreadingTCPServer):
            allow_reuse_address = True
            daemon_threads = True

        self._tcp = _Server((host, port), _Handler)
        self.host, self.port = self._tcp.server_address[:2]
        self._thread: threading.Thread | None = None

    # ------------------------------------------------------------- dispatch

    def _dispatch(self, req: dict) -> tuple[dict, bytes | None]:
        op = req.get("op")
        if op == "ping":
            return {"ok": True}, None
        if op == "submit":
            if req.get("pool") is not None:
                # the scheduler mode lives with THIS session — the
                # client's CLI guard cannot see it, so the server is
                # the right place to refuse the silent FIFO no-op
                # (round-15 review finding; same contract as the
                # local --pool-without---fair-pool refusal)
                mode = self.engine.spark.conf.get(
                    "spark.scheduler.mode", "FIFO"
                )
                if str(mode).upper() != "FAIR":
                    raise ValueError(
                        f"pool {req['pool']!r} needs a FAIR-mode server "
                        "session (start --serve with --fair-pool); this "
                        "server runs FIFO, where the pool property is "
                        "silently ignored"
                    )
            handles = self.engine.sql(req["sql"], pool=req.get("pool"))
            return {
                "ok": True,
                "queries": [
                    {"query_id": h.query_id, "sql": h.sql} for h in handles
                ],
            }, None
        if op == "status":
            h = self._handle(req)
            wait_s = float(req.get("wait_s") or 0.0)
            if wait_s > 0:
                h.wait(min(wait_s, _MAX_WAIT_S))
            return {
                "ok": True,
                "query_id": h.query_id,
                "status": h.status.name,
                "error": h.error,
                "num_rows": h.num_rows,
            }, None
        if op == "fetch":
            qid = self._handle(req).query_id
            table = self.engine.fetch(
                qid,
                offset=int(req.get("offset", 0)),
                limit=int(req.get("limit", 50)),
            )
            total = self.engine.handle(qid).num_rows
            return {"ok": True, "arrow": True, "total_rows": total}, (
                _table_to_ipc(table)
            )
        if op == "cancel":
            return {
                "ok": True,
                "cancelled": self.engine.cancel(self._handle(req).query_id),
            }, None
        if op == "explain":
            return {
                "ok": True,
                "plan": self.engine.explain(
                    req["sql"], formatted=bool(req.get("formatted", True))
                ),
            }, None
        raise ValueError(f"unknown op {op!r}")

    def _handle(self, req: dict):
        qid = req.get("query_id")
        try:
            return self.engine.handle(qid)
        except KeyError:
            raise KeyError(f"unknown query_id {qid!r}") from None

    # -------------------------------------------------------------- serving

    def serve_forever(self) -> None:
        self._serving = True
        self._tcp.serve_forever(poll_interval=0.2)

    def serve_in_background(self) -> "QueryServer":
        # mark before starting: the thread WILL enter serve_forever,
        # and a shutdown() issued first just makes it exit immediately
        self._serving = True
        self._thread = threading.Thread(target=self.serve_forever, daemon=True)
        self._thread.start()
        return self

    def close(self) -> None:
        # BaseServer.shutdown() waits on an event only serve_forever's
        # finally ever sets — calling it on a server that never
        # entered serve_forever (Ctrl-C between construction and
        # serving) deadlocks (round-15 review finding)
        if getattr(self, "_serving", False):
            self._tcp.shutdown()
        self._tcp.server_close()
        if self._thread is not None:
            self._thread.join(timeout=5)


class RemoteQueryError(RuntimeError):
    """A request the server answered with an error frame (unknown id,
    fetch before COMPLETE, bad op) — the remote twin of the exceptions
    Engine raises in-process."""


class QueryClient:
    """Thin Spark-free client for QueryServer — the counterpart of the
    reference's AsyncQueryClient (submit / status-poll / paged fetch /
    cancel). One socket, requests serialized by a lock; safe to share
    across threads for casual use."""

    def __init__(self, host: str = "127.0.0.1", port: int = 0):
        self._sock = socket.create_connection((host, port), timeout=120)
        self._sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self._lock = threading.Lock()

    def _call(self, req: dict) -> tuple[dict, bytearray | None]:
        with self._lock:
            try:
                _write_frames(self._sock, json.dumps(req).encode())
                body = _read_frame(self._sock)
                if body is None:
                    raise ConnectionError("server closed the connection")
                resp = json.loads(body)
                arrow = _read_frame(self._sock) if resp.get("arrow") else None
            except Exception:
                # a transport-level failure mid-exchange leaves unread
                # bytes in the socket; any later request would read
                # them as a frame header — close rather than desync
                self.close()
                raise
        if not resp.get("ok"):
            raise RemoteQueryError(resp.get("error") or "request failed")
        return resp, arrow

    def ping(self) -> bool:
        return self._call({"op": "ping"})[0]["ok"]

    def submit(self, sql: str, pool: str | None = None) -> list[dict]:
        """Submit (possibly multi-statement) SQL; returns
        [{query_id, sql}, ...] immediately, like Engine.sql."""
        return self._call({"op": "submit", "sql": sql, "pool": pool})[0][
            "queries"
        ]

    def status(self, query_id: str, wait_s: float = 0.0) -> dict:
        return self._call(
            {"op": "status", "query_id": query_id, "wait_s": wait_s}
        )[0]

    def wait(self, query_id: str, timeout: float | None = None) -> dict:
        """Poll until terminal (server-side bounded waits per request,
        so the loop holds no busy CPU anywhere)."""
        import time as _time

        deadline = None if timeout is None else _time.time() + timeout
        while True:
            remain = 30.0 if deadline is None else deadline - _time.time()
            st = self.status(query_id, wait_s=max(0.0, min(30.0, remain)))
            if st["status"] in ("COMPLETE", "ERROR"):
                return st
            if deadline is not None and _time.time() >= deadline:
                return st

    def fetch(
        self, query_id: str, offset: int = 0, limit: int = 50
    ) -> pa.Table:
        resp, arrow = self._call(
            {
                "op": "fetch",
                "query_id": query_id,
                "offset": offset,
                "limit": limit,
            }
        )
        assert arrow is not None
        return _ipc_to_table(arrow)

    def total_rows(self, query_id: str) -> int:
        return self.status(query_id)["num_rows"]

    def iterator(self, query_id: str, page_size: int = 50) -> QueryDataIterator:
        """results.QueryDataIterator over the remote result — the remote
        twin of the reference TUI's data iterator
        (client/tui_query_data_iterator.rs). Mirrors Engine.iterator's
        error contract: a non-COMPLETE query raises instead of paging
        an empty snapshot (round-15 review finding)."""
        st = self.status(query_id)
        if st["status"] != "COMPLETE":
            raise RemoteQueryError(
                f"query {query_id} not complete (status={st['status']})"
            )
        return QueryDataIterator(
            _RemoteCursor(self, query_id, st["num_rows"]), page_size
        )

    def cancel(self, query_id: str) -> bool:
        return self._call({"op": "cancel", "query_id": query_id})[0][
            "cancelled"
        ]

    def explain(self, sql: str, formatted: bool = True) -> str:
        """Optimized plan text for one statement, planned server-side
        (the session — and thus Catalyst — lives with the server)."""
        return self._call(
            {"op": "explain", "sql": sql, "formatted": formatted}
        )[0]["plan"]

    def close(self) -> None:
        try:
            self._sock.close()
        except OSError:
            pass

    def __enter__(self) -> "QueryClient":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


class _RemoteCursor:
    """The two members of results.ResultCursor that QueryDataIterator
    pages through, served over the wire: one fetch request per page."""

    def __init__(self, client: QueryClient, query_id: str, total_rows: int):
        self._client = client
        self._query_id = query_id
        self.total_rows = total_rows

    def fetch(self, offset: int, limit: int) -> pa.Table:
        return self._client.fetch(self._query_id, offset, limit)


class RemoteQueryHandle:
    """QueryHandle-shaped view of a remote query: wait() polls the
    server (bounded server-side waits), status/error/num_rows reflect
    the last poll. Covers the attribute surface the CLI batch loop and
    REPL read off a local handle."""

    def __init__(self, client: QueryClient, query_id: str, sql: str):
        self._client = client
        self.query_id = query_id
        self.sql = sql
        self._st: dict = {"status": "QUEUED", "error": None, "num_rows": None}

    def wait(self, timeout: float | None = None) -> "RemoteQueryHandle":
        self._st = self._client.wait(self.query_id, timeout=timeout)
        return self

    @property
    def status(self):
        from chapterhousedb_spark.status import QueryStatus

        return QueryStatus[self._st["status"]]

    @property
    def error(self) -> str | None:
        return self._st.get("error")

    @property
    def num_rows(self) -> int | None:
        return self._st.get("num_rows")


class RemoteEngine:
    """Engine-shaped facade over QueryClient covering the surface the
    CLI/REPL drives (sql / handle-wait / iterator / cancel / explain /
    close), so `--connect` runs the exact same batch and REPL code
    paths as a local Engine — the reference's TUI client is itself a
    remote client, making this the reference-faithful mode."""

    def __init__(self, client: QueryClient):
        self._client = client

    def sql(self, text: str, pool: str | None = None) -> list[RemoteQueryHandle]:
        return [
            RemoteQueryHandle(self._client, q["query_id"], q["sql"])
            for q in self._client.submit(text, pool=pool)
        ]

    def explain(self, statement: str, formatted: bool = True) -> str:
        return self._client.explain(statement, formatted=formatted)

    def cancel(self, query_id: str) -> bool:
        return self._client.cancel(query_id)

    def iterator(self, query_id: str, page_size: int = 50):
        return self._client.iterator(query_id, page_size)

    def close(self) -> None:
        self._client.close()


def serve(engine, host: str = "127.0.0.1", port: int = 0) -> QueryServer:
    """Start serving `engine` in the background; returns the running
    QueryServer (read .port for the bound port)."""
    return QueryServer(engine, host=host, port=port).serve_in_background()
