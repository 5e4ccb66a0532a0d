"""Out-of-process serving endpoint (VERDICT r14 #4 — reference parity
with the client/server split: AsyncQueryClient::run_query submit ->
GetQueryStatus poll -> GetQueryData paged fetch,
src/client/async_query_client.rs:40-60, query_data_handler.rs:132-181):
a QueryServer wraps Engine on a localhost socket; a SECOND process
submits a multi-statement file, polls status, and pages results both
directions; statement failures propagate as status=ERROR
(query_handler_state.rs:28-35), request failures as error frames."""

from __future__ import annotations

import subprocess
import sys
import time

import duckdb
import pytest

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def served(spark, tmp_path_factory):
    """One Engine + background QueryServer shared by the in-process
    tests (the subprocess test boots its own)."""
    from chapterhousedb_spark import (
        ConnectionRegistry,
        Engine,
        FsConnection,
        serve,
    )

    eng = Engine(
        spark=spark,
        results_dir=str(tmp_path_factory.mktemp("srv_results")),
        connections=ConnectionRegistry(
            {"data": FsConnection(name="data", base_path=SF_SMOKE)}
        ),
    )
    srv = serve(eng, port=0)
    yield srv
    srv.close()
    eng.close()


def _client(served):
    from chapterhousedb_spark import QueryClient

    return QueryClient(served.host, served.port)


def test_remote_lifecycle_submit_poll_page(served):
    """Submit multi-statement SQL from a separate (client) socket, poll
    to COMPLETE, page forward and backward on the fixed grid, and
    match the rows against DuckDB on the same parquet."""
    with _client(served) as c:
        assert c.ping()
        queries = c.submit(
            """
            select n_nationkey, n_name
              from read_files('nation.parquet', connection=>'data')
             order by n_nationkey;
            select count(*) as n from
              read_files('region.parquet', connection=>'data');
            """
        )
        assert len(queries) == 2
        sts = [c.wait(q["query_id"], timeout=120) for q in queries]
        assert [s["status"] for s in sts] == ["COMPLETE", "COMPLETE"]
        assert sts[0]["num_rows"] == 25 and sts[1]["num_rows"] == 1
        # paged fetch: 25 rows at page_size 10 -> 10/10/5, prev
        # re-serves the middle page (tui_query_data_iterator contract)
        it = c.iterator(queries[0]["query_id"], page_size=10)
        p1, p2, p3 = it.next_page(), it.next_page(), it.next_page()
        assert (p1.num_rows, p2.num_rows, p3.num_rows) == (10, 10, 5)
        assert it.next_page() is None
        back = it.prev_page()
        assert back.to_pydict() == p2.to_pydict()
        oracle = duckdb.sql(
            f"""select n_nationkey, n_name
                 from read_parquet('{SF_SMOKE}/nation.parquet')
                order by n_nationkey limit 10"""
        ).fetchall()
        got = list(
            zip(
                p1.column("n_nationkey").to_pylist(),
                p1.column("n_name").to_pylist(),
            )
        )
        assert got == oracle
        # raw offset fetch, arbitrary slice
        t = c.fetch(queries[0]["query_id"], offset=23, limit=10)
        assert t.num_rows == 2


def test_each_reply_is_one_write_on_nodelay_sockets(served, monkeypatch):
    """Every reply leaves the server in ONE sendall on a TCP_NODELAY
    socket, a fetch reply's JSON frame and Arrow frame together: split
    into two small writes with Nagle on, the Arrow frame waits for the
    client's delayed ACK of the JSON frame (about 40 ms a page on
    Linux). Checked by counting writes, not by timing."""
    import json
    import socket
    import struct

    from chapterhousedb_spark.server import RemoteQueryError, _ipc_to_table

    nodelay = (socket.IPPROTO_TCP, socket.TCP_NODELAY)
    with _client(served) as c:
        assert c._sock.getsockopt(*nodelay)
        (q,) = c.submit("select id from range(30)")
        assert c.wait(q["query_id"], timeout=120)["status"] == "COMPLETE"

        replies = []  # (server socket's TCP_NODELAY, bytes) per write
        client_addr = c._sock.getsockname()
        sendall = socket.socket.sendall

        def recording_sendall(sock, data, *args):
            try:
                to_client = sock.getpeername() == client_addr
            except OSError:
                to_client = False
            if to_client:
                replies.append((sock.getsockopt(*nodelay), bytes(data)))
            return sendall(sock, data, *args)

        monkeypatch.setattr(socket.socket, "sendall", recording_sendall)
        page = c.fetch(q["query_id"], offset=5, limit=10)
        assert c.ping()
        with pytest.raises(RemoteQueryError, match="unknown query_id"):
            c.status("nope")
        assert c.status(q["query_id"])["num_rows"] == 30
        monkeypatch.undo()

    def frames(data):
        out, i = [], 0
        while i < len(data):
            (n,) = struct.unpack_from(">I", data, i)
            out.append(data[i + 4 : i + 4 + n])
            i += 4 + n
        assert i == len(data)
        return out

    assert len(replies) == 4  # fetch, ping, error, status
    assert all(flag for flag, _ in replies)
    fetch, ping, error, status = (frames(data) for _, data in replies)
    assert len(fetch) == 2 and json.loads(fetch[0])["arrow"] is True
    assert _ipc_to_table(fetch[1]).to_pydict() == page.to_pydict()
    assert page.column("id").to_pylist() == list(range(5, 15))
    assert [len(f) for f in (ping, error, status)] == [1, 1, 1]
    assert json.loads(error[0])["ok"] is False


def test_frames_reassemble_across_many_reads():
    """A frame far larger than one recv arrives whole, in order, and a
    peer closing mid-frame reads as None (the end-of-stream signal the
    handler and client act on), not as a short frame."""
    import socket
    import threading

    from chapterhousedb_spark.server import _read_frame, _write_frames

    big = bytes(range(256)) * 40_000  # ~10 MB, many socket reads
    a, b = socket.socketpair()
    with a, b:
        writer = threading.Thread(target=_write_frames, args=(a, big, b"{}"))
        writer.start()
        assert _read_frame(b) == big
        assert _read_frame(b) == b"{}"
        writer.join(timeout=30)
        assert not writer.is_alive()
        a.sendall(b"\x00\x00\x00\x10" + b"short")
        a.shutdown(socket.SHUT_WR)
        assert _read_frame(b) is None


def test_remote_error_propagation_and_bad_requests(served):
    """A failing statement lands in status=ERROR with the message
    (query_handler_state.rs:28-35); fetch on a non-COMPLETE query,
    unknown query ids and unknown ops are request-level error frames
    that leave the connection usable."""
    from chapterhousedb_spark.server import RemoteQueryError

    with _client(served) as c:
        (q,) = c.submit(
            "select * from read_files('missing.parquet', connection=>'data')"
        )
        st = c.wait(q["query_id"], timeout=120)
        assert st["status"] == "ERROR"
        assert st["error"]
        # fetch on the errored query: error frame, not a hang
        with pytest.raises(RemoteQueryError, match="not complete"):
            c.fetch(q["query_id"])
        # unknown id / unknown op: error frames; connection survives
        with pytest.raises(RemoteQueryError, match="unknown query_id"):
            c.status("nope")
        with pytest.raises(RemoteQueryError, match="unknown op"):
            c._call({"op": "frobnicate"})
        assert c.ping()
        # cancel on a terminal query: False (nothing to do)
        assert c.cancel(q["query_id"]) is False
        # iterator on a non-COMPLETE query mirrors Engine.iterator's
        # error contract instead of paging an empty snapshot
        with pytest.raises(RemoteQueryError, match="not complete"):
            c.iterator(q["query_id"])
        # a remote pool on a FIFO server session is refused, not
        # silently ignored (the local --pool guard's server-side twin)
        with pytest.raises(RemoteQueryError, match="FAIR"):
            c.submit("select 1 as one", pool="etl")
        assert c.ping()


def test_second_process_full_lifecycle(tmp_path):
    """THE done-criterion drive: process A serves (--serve 0), process
    B submits a multi-statement file with --connect, polls, pages
    forward AND backward, and sees a statement error as rc=1 — without
    any Spark on the client side."""
    sql = tmp_path / "q.sql"
    sql.write_text(
        """
        select n_nationkey, n_name
          from read_files('nation.parquet', connection=>'data')
         order by n_nationkey;
        select * from read_files('missing.parquet', connection=>'data');
        """
    )
    server = subprocess.Popen(
        [
            sys.executable,
            "-m",
            "chapterhousedb_spark",
            "--serve",
            "0",
            "--connection",
            f"data={SF_SMOKE}",
            "--results-dir",
            str(tmp_path / "results"),
            "--shuffle-partitions",
            "4",
        ],
        stdout=subprocess.PIPE,
        stderr=subprocess.DEVNULL,
        text=True,
    )
    try:
        line = server.stdout.readline()  # startup handshake
        assert line.startswith("-- serving on "), line
        host, _, port = line.strip().rpartition(" ")[2].rpartition(":")
        client = subprocess.run(
            [
                sys.executable,
                "-m",
                "chapterhousedb_spark",
                "--connect",
                f"127.0.0.1:{port}",
                "--sql-file",
                str(sql),
                "--page-size",
                "10",
                "--browse",
                "n,n,p",
            ],
            capture_output=True,
            text=True,
            timeout=600,
        )
        # statement 2 fails -> rc 1; statement 1 still paged both ways
        assert client.returncode == 1, client.stderr[-2000:]
        out = client.stdout
        assert "-- [1/2] complete:" in out
        assert "-- browse next: rows=10" in out
        assert "-- browse prev: rows=10" in out
        assert "-- 25 row(s) total" in out
        assert "-- [2/2] error:" in out
        assert "-- error:" in client.stderr
        # a second client against the same server: results still there
        again = subprocess.run(
            [
                sys.executable,
                "-m",
                "chapterhousedb_spark",
                "--connect",
                f"127.0.0.1:{port}",
                "--sql",
                "select count(*) as n from "
                "read_files('region.parquet', connection=>'data')",
            ],
            capture_output=True,
            text=True,
            timeout=600,
        )
        assert again.returncode == 0, again.stderr[-2000:]
        assert "-- 1 row(s)" in again.stdout
        # thin-client proof: the same --connect run with pyspark
        # IMPORT-BLOCKED — the client path must be stdlib + pyarrow
        # only (server.py's Spark-free promise; round-15 review
        # finding: the eager package __init__ used to pull pyspark)
        blocker = (
            "import importlib.abc, sys\n"
            "class _Block(importlib.abc.MetaPathFinder):\n"
            "    def find_spec(self, name, path, target=None):\n"
            "        if name.split('.')[0] == 'pyspark':\n"
            "            raise ModuleNotFoundError('pyspark blocked')\n"
            "sys.meta_path.insert(0, _Block())\n"
            "from chapterhousedb_spark.__main__ import main\n"
            f"rc = main(['--connect', '127.0.0.1:{port}', '--sql', "
            "\"select count(*) as n from read_files('region.parquet', "
            "connection=>'data')\"])\n"
            "assert 'pyspark' not in sys.modules\n"
            "raise SystemExit(rc)\n"
        )
        thin = subprocess.run(
            [sys.executable, "-c", blocker],
            capture_output=True,
            text=True,
            timeout=600,
        )
        assert thin.returncode == 0, (thin.stdout, thin.stderr[-2000:])
        assert "-- 1 row(s)" in thin.stdout
        # remote --explain: the plan comes from the SERVER's Catalyst
        plan = subprocess.run(
            [
                sys.executable,
                "-m",
                "chapterhousedb_spark",
                "--connect",
                f"127.0.0.1:{port}",
                "--sql",
                "select count(*) as n from "
                "read_files('region.parquet', connection=>'data')",
                "--explain",
            ],
            capture_output=True,
            text=True,
            timeout=600,
        )
        assert plan.returncode == 0, plan.stderr[-2000:]
        assert "-- [1] plan:" in plan.stdout
        assert "Aggregate" in plan.stdout or "HashAggregate" in plan.stdout
        # remote --repl over piped stdin: statement, page both
        # directions, \explain, quit — the reference's TUI client IS a
        # remote client, so this is the reference-faithful mode
        repl = subprocess.run(
            [
                sys.executable,
                "-m",
                "chapterhousedb_spark",
                "--connect",
                f"127.0.0.1:{port}",
                "--repl",
                "--page-size",
                "10",
            ],
            input=(
                "select n_nationkey from "
                "read_files('nation.parquet', connection=>'data') "
                "order by n_nationkey;\n"
                "n\np\n"
                "\\explain select 1 as one;\n"
                "\\q\n"
            ),
            capture_output=True,
            text=True,
            timeout=600,
        )
        assert repl.returncode == 0, repl.stderr[-2000:]
        assert "-- complete:" in repl.stdout
        assert "-- 25 row(s); n=next page, p=prev page" in repl.stdout
        assert "-- next: rows=10" in repl.stdout
        assert "-- prev: rows=10" in repl.stdout
        assert "Project" in repl.stdout  # \explain plan text
    finally:
        server.terminate()
        try:
            server.wait(timeout=30)
        except subprocess.TimeoutExpired:
            server.kill()


def test_serve_connect_flag_validation():
    """--serve/--connect argument contract: mutually exclusive;
    --serve takes no statements; --connect rejects server-side
    session flags (but --repl/--explain work remotely — covered by
    the subprocess drive)."""
    from chapterhousedb_spark.__main__ import main

    for argv in (
        ["--serve", "0", "--connect", "x:1"],
        ["--serve", "0", "--sql", "select 1"],
        ["--serve", "0", "--repl"],
        ["--connect", "127.0.0.1:1", "--sql", "select 1", "--repl"],
        ["--connect", "127.0.0.1:1", "--sql", "select 1",
         "--shuffle-partitions", "4"],
        ["--connect", "127.0.0.1:1", "--sql", "select 1",
         "--fair-pool", "etl=2"],
        ["--connect", "not-a-port", "--sql", "select 1"],
    ):
        with pytest.raises(SystemExit) as ei:
            main(argv)
        assert ei.value.code == 2, argv


def test_cancel_over_the_wire(served):
    """Cancel a long-running query from the client: lands in ERROR
    ('cancelled'), and the engine still serves new queries after."""
    with _client(served) as c:
        (q,) = c.submit(
            "select count(*) as n from (select a.id from range(100000000) a "
            "cross join range(100000) b)"
        )
        # let it start, then kill it
        time.sleep(1.0)
        assert c.cancel(q["query_id"]) is True
        st = c.wait(q["query_id"], timeout=120)
        assert st["status"] == "ERROR" and "cancel" in st["error"]
        (q2,) = c.submit("select 1 as one")
        assert c.wait(q2["query_id"], timeout=120)["status"] == "COMPLETE"
        assert c.fetch(q2["query_id"]).column("one").to_pylist() == [1]
