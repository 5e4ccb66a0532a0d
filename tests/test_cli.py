"""CLI client tests (reference client_tui.rs:372 --sql-file flow):
submit a multi-statement file via subprocess, assert paged stdout
matches the DuckDB oracle, and that statement errors surface as a
nonzero exit without killing the rest of the file."""

from __future__ import annotations

import subprocess
import sys

import duckdb

from tests.conftest import SF_SMOKE


def _run_cli(args: list[str]) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-m", "chapterhousedb_spark", *args],
        capture_output=True,
        text=True,
        timeout=600,
    )


def test_cli_sql_file_pages_match_oracle(tmp_path):
    sql = tmp_path / "q.sql"
    sql.write_text(
        """
        select count(*) as n_regions
          from read_files('region.parquet', connection=>'data');
        select n_nationkey, n_name
          from read_files('nation.parquet', connection=>'data')
         where n_regionkey = 1 order by n_nationkey;
        select * from read_files('missing.parquet', connection=>'data');
        """
    )
    proc = _run_cli(
        [
            "--sql-file",
            str(sql),
            "--connection",
            f"data={SF_SMOKE}",
            "--page-size",
            "2",
            "--shuffle-partitions",
            "4",
            "--results-dir",
            str(tmp_path / "results"),
        ]
    )
    # third statement errors -> exit 1, but the first two still complete
    assert proc.returncode == 1, proc.stderr[-2000:]
    out = proc.stdout
    assert "-- [1/3] complete:" in out
    assert "-- [2/3] complete:" in out
    assert "-- [3/3] error:" in out
    assert "-- error:" in proc.stderr

    oracle = duckdb.sql(
        f"""select n_nationkey, n_name
            from read_parquet('{SF_SMOKE}/nation.parquet')
            where n_regionkey = 1 order by n_nationkey"""
    ).fetchall()
    # every oracle row appears as a 'key | name' grid line, in order
    lines = [ln for ln in out.splitlines() if "|" in ln and "NATION" in ln]
    got = [tuple(p.strip() for p in ln.split("|")) for ln in lines]
    assert got == [(str(k), str(n)) for k, n in oracle]
    # page-size 2 over 5 rows -> page separators were emitted
    assert "-- page 1 --" in out and f"-- {len(oracle)} row(s)" in out


def test_cli_inline_sql(tmp_path):
    proc = _run_cli(
        [
            "--sql",
            "select 1 as x union all select 2 order by x",
            "--shuffle-partitions",
            "1",
            "--results-dir",
            str(tmp_path / "results"),
        ]
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    body = [
        ln
        for ln in proc.stdout.splitlines()
        if ln.strip() and "--" not in ln and set(ln.strip()) != {"-"}
    ]
    assert [ln.strip() for ln in body] == ["x", "1", "2"]


def test_cli_browse_pages_forward_then_back(tmp_path):
    """--browse n,n,p replays the reference TUI's bidirectional
    iterator: the prev page must be byte-identical to the first page
    served forward (fixed page grid, results.py prev_page)."""
    sql = tmp_path / "q.sql"
    sql.write_text(
        "select n_nationkey, n_name"
        " from read_files('nation.parquet', connection=>'data')"
        " order by n_nationkey;"
    )
    proc = _run_cli(
        [
            "--sql-file", str(sql),
            "--connection", f"data={SF_SMOKE}",
            "--page-size", "5",
            "--browse", "n,n,p,n",
            "--shuffle-partitions", "4",
            "--results-dir", str(tmp_path / "results"),
        ]
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = proc.stdout.splitlines()
    # split the output into the four browsed pages
    marks = [i for i, ln in enumerate(out) if ln.startswith("-- browse ")]
    assert [out[i].split(":")[0] for i in marks] == [
        "-- browse next", "-- browse next", "-- browse prev", "-- browse next",
    ]
    pages = []
    for j, i in enumerate(marks):
        end = marks[j + 1] if j + 1 < len(marks) else len(out)
        pages.append([ln for ln in out[i + 1 : end] if "|" in ln])
    # prev (page 1 again) == the page served by the first next
    assert pages[2] == pages[0] and pages[0]
    # the final next re-serves page 2
    assert pages[3] == pages[1] and pages[1]
    assert pages[0] != pages[1]


def test_cli_jsonl_output(tmp_path):
    """--format jsonl: stdout is pure JSON lines matching the oracle;
    status lines move to stderr."""
    import json

    proc = _run_cli(
        [
            "--sql",
            "select n_nationkey, n_name"
            " from read_files('nation.parquet', connection=>'data')"
            " where n_regionkey = 1 order by n_nationkey",
            "--connection", f"data={SF_SMOKE}",
            "--format", "jsonl",
            "--shuffle-partitions", "4",
            "--results-dir", str(tmp_path / "results"),
        ]
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    rows = [json.loads(ln) for ln in proc.stdout.splitlines() if ln.strip()]
    oracle = duckdb.sql(
        f"""select n_nationkey, n_name
            from read_parquet('{SF_SMOKE}/nation.parquet')
            where n_regionkey = 1 order by n_nationkey"""
    ).fetchall()
    assert [(r["n_nationkey"], r["n_name"]) for r in rows] == oracle
    assert "-- [1/1] complete:" in proc.stderr


def test_cli_pool_requires_fair_mode(tmp_path):
    """--pool on the default FIFO session is refused (ADVICE r4: it was
    a silent no-op), and --fair-pool enables FAIR mode so --pool works."""
    proc = _run_cli(["--sql", "select 1 as x", "--pool", "etl"])
    assert proc.returncode == 2  # argparse error
    assert "--fair-pool" in proc.stderr

    proc = _run_cli(
        [
            "--sql", "select 1 as x",
            "--pool", "etl",
            "--fair-pool", "etl=2:1",
            "--shuffle-partitions", "1",
            "--results-dir", str(tmp_path / "results"),
        ]
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "1" in proc.stdout


def test_cli_browse_typo_fails_fast(tmp_path):
    """A bad --browse step is rejected at argument-parse time (rc=2)
    before any session build or statement submission."""
    proc = _run_cli(
        ["--sql", "select 1 as x", "--browse", "n,x,p"]
    )
    assert proc.returncode == 2
    assert "bad --browse step" in proc.stderr
    assert "complete:" not in proc.stdout  # nothing executed


def test_cli_statement_timeout_cancels(tmp_path):
    """--statement-timeout cancels a runaway statement (its Spark job
    group is killed) while later statements still run; rc=1 because a
    statement errored."""
    import subprocess
    import sys

    sql = (
        "select count(*) as s from range(3000000) a, range(3000000) b;\n"
        "select count(*) as n from read_files('region.parquet', connection=>'d');"
    )
    f = tmp_path / "q.sql"
    f.write_text(sql)
    r = subprocess.run(
        [
            sys.executable, "-m", "chapterhousedb_spark",
            "--sql-file", str(f),
            "--connection", "d=/root/testdata/sf0.001",
            "--shuffle-partitions", "4",
            "--statement-timeout", "10",
        ],
        capture_output=True, text=True, timeout=300,
        cwd="/root/repo",
    )
    assert r.returncode == 1
    assert "cancelled" in r.stderr
    assert "[2/2] complete" in r.stderr or "[2/2] complete" in r.stdout
    assert "1 row(s)" in r.stdout or "5" in r.stdout


def _run_repl(stdin: str, extra: list[str] | None = None) -> subprocess.CompletedProcess:
    return subprocess.run(
        [
            sys.executable, "-m", "chapterhousedb_spark", "--repl",
            "--connection", f"d={SF_SMOKE}",
            "--page-size", "2", "--shuffle-partitions", "4",
            *(extra or []),
        ],
        input=stdin,
        capture_output=True,
        text=True,
        timeout=600,
    )


def test_repl_bidirectional_paging_and_exit(tmp_path):
    """The interactive client (reference client_tui.rs flow as a
    readline REPL): auto-emits page 1, n/n/p browse both directions
    over the materialized result (prev must re-serve the page the
    reference iterator would), \\q exits rc=0."""
    proc = _run_repl(
        "select r_regionkey from read_files('region.parquet', "
        "connection=>'d') order by r_regionkey;\n"
        "n\nn\np\nn\n\\q\n"
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = proc.stdout
    assert "-- complete:" in out and "-- 5 row(s)" in out
    # page walk: [0,1] auto, n->[2,3], n->[4], p->[2,3], n->[4]
    import re

    pages = re.findall(r"r_regionkey\n-+\n((?:\d+\s*\n?)+)", out)
    walked = ["/".join(p.split()) for p in pages]
    assert walked == ["0/1", "2/3", "4", "2/3", "4"]
    assert out.count("-- next: rows=") == 3 and "-- prev: rows=2" in out


def test_repl_multiline_errors_explain_and_page_guard(tmp_path):
    """Statements buffer until a code ';' across lines (not a ';' inside
    a multi-line string); a failing statement reports and the loop
    continues (rc=1 like batch mode); \\explain prints a plan without
    executing; paging before any result is a friendly note, as is
    paging past the end."""
    proc = _run_repl(
        "p\n"                                      # nothing to page yet
        "select count(*) as n\n"
        "  from read_files('region.parquet', connection=>'d');\n"
        "n\n"                                      # past the end: 1 row fit page 1
        "select broken from nowhere;\n"
        "\\explain select 1 as one;\n"
        "select 2 as two;\n"
        "select 'a;\n"                             # ';' inside a string
        "b' as s;\n"
        "quit\n"
    )
    assert proc.returncode == 1, proc.stderr[-2000:]
    out = proc.stdout
    assert "-- no result to page" in out
    assert "n\n-\n5" in out                        # count over 5 regions
    assert "-- next: no page" in out
    assert "-- error: select broken from nowhere" in out
    assert "== Optimized Logical Plan ==" in out or "Project" in out
    assert "two\n---\n2" in out
    assert "-- complete: select 'a;\nb' as s" in out
    assert "-- error: select 'a;" not in out
    assert "-- error:" in proc.stderr


def test_repl_rejects_batch_flags():
    proc = subprocess.run(
        [
            sys.executable, "-m", "chapterhousedb_spark", "--repl",
            "--sql", "select 1;",
        ],
        capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 2
    assert "drop --sql/--sql-file" in proc.stderr
