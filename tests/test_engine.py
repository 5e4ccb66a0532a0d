"""End-to-end engine tests: submit/status/materialize/paged fetch.

Covers the reference lifecycle (SURVEY.md §3): run_query ->
wait_for_query_to_finish -> QueryDataIterator, over the sf0.001
testdata, plus the reference's representative query shapes
(sample_queries/*.sql: arithmetic projections, % filters, order by desc).
"""

from __future__ import annotations

import pytest

from chapterhousedb_spark.config import ConnectionRegistry, FsConnection, S3Connection
from chapterhousedb_spark.engine import Engine, QueryStatus


@pytest.fixture(scope="module")
def engine(spark, sf_dir, tmp_path_factory):
    eng = Engine(
        spark=spark,
        results_dir=str(tmp_path_factory.mktemp("results")),
        connections=ConnectionRegistry(
            {"testdata": FsConnection(name="testdata", base_path=sf_dir)}
        ),
    )
    yield eng
    eng.close()


def test_smoke_scan_filter_project(engine, sf_dir):
    # reference sample_queries/simple.sql query 4 shape
    [h] = engine.sql_wait(
        f"""
        select l_orderkey, l_quantity + 10.0 as q_plus_10,
               (l_extendedprice + 10) / 100 as price_scaled
        from read_files('{sf_dir}/lineitem.parquet')
        where l_orderkey > 25 + 0.0
        """
    )
    assert h.status is QueryStatus.COMPLETE, h.error
    assert h.num_rows and h.num_rows > 0
    page = engine.fetch(h.query_id, 0, 10)
    assert page.num_rows == 10
    assert page.column_names == ["l_orderkey", "q_plus_10", "price_scaled"]
    # the manifest's schema text, taken from the footer's metadata, is
    # the text a separate schema read of the first file gives
    import os

    import pyarrow.parquet as pq

    from chapterhousedb_spark.results import ResultManifest

    manifest = ResultManifest.load(h.result_dir)
    first = os.path.join(h.result_dir, manifest.files[0])
    assert manifest.schema_json == str(pq.read_schema(first))


def test_connection_named_arg(engine):
    [h] = engine.sql_wait(
        "select count(*) as n from read_files('lineitem.parquet', connection=>'testdata')"
    )
    assert h.status is QueryStatus.COMPLETE, h.error
    assert engine.fetch(h.query_id, 0, 1).column("n")[0].as_py() > 0


def test_multi_statement_submit(engine, sf_dir):
    handles = engine.sql_wait(
        f"""
        select count(*) as n from read_files('{sf_dir}/nation.parquet');
        -- a comment between statements; with a semicolon
        select r_name from read_files('{sf_dir}/region.parquet') order by r_name;
        """
    )
    assert len(handles) == 2
    assert all(h.status is QueryStatus.COMPLETE for h in handles)


def test_error_status(engine):
    [h] = engine.sql_wait("select * from read_files('/nonexistent/*.parquet')")
    assert h.status is QueryStatus.ERROR
    assert h.error


def test_order_by_and_pagination(engine, sf_dir):
    [h] = engine.sql_wait(
        f"""
        select o_orderkey, o_totalprice
        from read_files('{sf_dir}/orders.parquet')
        order by o_orderkey
        """
    )
    assert h.status is QueryStatus.COMPLETE, h.error
    it = engine.iterator(h.query_id, page_size=50)
    p1 = it.next_page()
    p2 = it.next_page()
    assert p1.num_rows == 50 and p2.num_rows == 50
    keys1 = p1.column("o_orderkey").to_pylist()
    keys2 = p2.column("o_orderkey").to_pylist()
    assert keys1 == sorted(keys1)
    assert keys1[-1] <= keys2[0]
    # backward paging returns the previous page (reference TUI iterator)
    back = it.prev_page()
    assert back.column("o_orderkey").to_pylist() == keys1
    # offset-based fetch agrees with page grid
    assert engine.fetch(h.query_id, 50, 50).column("o_orderkey").to_pylist() == keys2


def test_result_row_groups_capped_and_paging_across_boundaries(engine, monkeypatch):
    """Results are written in row groups of at most 10,000 rows (the
    reference's max_rows_per_batch), a walk of consecutive pages decodes
    each group once, and pages that straddle a row-group or file
    boundary, forward or backward, equal their slice of the result. Two
    range partitions give two 12,500-row files in id order: row-group
    boundaries at 10,000 and 22,500, a file boundary at 12,500."""
    import os

    import pyarrow.parquet as pq

    [h] = engine.sql_wait("select id from range(0, 25000, 1, 2)")
    assert h.status is QueryStatus.COMPLETE, h.error
    files = [
        os.path.join(h.result_dir, f)
        for f in sorted(os.listdir(h.result_dir))
        if f.endswith(".parquet")
    ]
    groups = [
        [md.row_group(g).num_rows for g in range(md.num_row_groups)]
        for md in map(pq.read_metadata, files)
    ]
    assert groups == [[10_000, 2_500], [10_000, 2_500]]

    rows = list(range(25_000))

    def ids(t):
        return t.column("id").to_pylist()

    decoded = []
    read_row_groups = pq.ParquetFile.read_row_groups

    def counted(pf, row_groups, *args, **kwargs):
        decoded.append(list(row_groups))
        return read_row_groups(pf, row_groups, *args, **kwargs)

    monkeypatch.setattr(pq.ParquetFile, "read_row_groups", counted)
    it = engine.iterator(h.query_id, page_size=50)
    walk = [ids(it.next_page()) for _ in range(200)]
    assert walk == [rows[k * 50 : (k + 1) * 50] for k in range(200)]
    assert decoded == [[0]]  # the first group, once for 200 pages
    monkeypatch.undo()

    for offset in (9_975, 12_475, 22_475):
        assert ids(engine.fetch(h.query_id, offset, 50)) == rows[
            offset : offset + 50
        ]
    # page 3 = [9000, 12000) straddles a row-group boundary, page 4 =
    # [12000, 15000) the file boundary; prev_page re-serves page 3
    it = engine.iterator(h.query_id, page_size=3_000)
    pages = [ids(it.next_page()) for _ in range(5)]
    assert pages == [rows[k * 3_000 : (k + 1) * 3_000] for k in range(5)]
    assert ids(it.prev_page()) == rows[9_000:12_000]


def test_fetch_past_end(engine, sf_dir):
    [h] = engine.sql_wait(
        f"select * from read_files('{sf_dir}/region.parquet')"
    )
    t = engine.fetch(h.query_id, 10_000, 50)
    assert t.num_rows == 0
    assert t.schema == engine.fetch(h.query_id, 0, 50).schema


def _cached_results(eng) -> set[str]:
    return {key[0] for key in eng._row_groups._groups}


def test_paged_results_release_on_drop_and_vacuum(spark, tmp_path):
    """drop_results and vacuum take a result's cursor and its decoded
    row groups with it; a fetch on the dropped query raises."""
    eng = Engine(spark=spark, results_dir=str(tmp_path / "res"))
    try:
        h1, h2 = eng.sql_wait("select id from range(100); select id from range(200)")
        for h in (h1, h2):
            assert eng.fetch(h.query_id, 0, 10).num_rows == 10
        assert _cached_results(eng) == {h1.result_dir, h2.result_dir}
        eng.drop_results(h1.query_id)
        assert h1._cursor is None and h1.query_id not in eng._queries
        assert _cached_results(eng) == {h2.result_dir}
        with pytest.raises(KeyError):
            eng.fetch(h1.query_id, 0, 10)
        assert eng.vacuum() == [h2.query_id]
        assert h2._cursor is None and not eng._queries
        assert _cached_results(eng) == set() and eng._row_groups.nbytes == 0
    finally:
        eng.close()


def test_paged_row_group_bytes_stay_under_the_bound(spark, tmp_path, monkeypatch):
    """Paging more results than the cache holds evicts the least
    recently used groups: the decoded bytes never exceed the engine's
    RESULT_CACHE_BYTES (lowered here so three small results overflow
    it), and evicted groups decode again on demand."""
    import chapterhousedb_spark.engine as engine_mod

    bound = 200_000  # two of the 10,000-row bigint groups (80 kB each)
    monkeypatch.setattr(engine_mod, "RESULT_CACHE_BYTES", bound)
    eng = Engine(spark=spark, results_dir=str(tmp_path / "res"))
    try:
        handles = eng.sql_wait(
            ";".join(f"select id + {k} as v from range(0, 25000, 1, 2)" for k in range(3))
        )
        for _ in range(2):
            for k, h in enumerate(handles):
                for offset in range(0, 25_000, 2_500):
                    page = eng.fetch(h.query_id, offset, 50)
                    assert page.column("v").to_pylist() == list(
                        range(offset + k, offset + k + 50)
                    )
                    assert 0 < eng._row_groups.nbytes <= bound
        assert len(_cached_results(eng)) == 1
    finally:
        eng.close()
    assert eng._row_groups.nbytes == 0


def test_concurrent_pagers_get_exact_slices(engine):
    """Four threads paging one result at once, each starting in a
    different row group and wrapping around, all get their exact
    slices while the groups they share decode and cache under them."""
    import sys
    import threading

    [h] = engine.sql_wait("select id from range(0, 25000, 1, 2)")
    assert h.status is QueryStatus.COMPLETE, h.error
    errors: list[str] = []

    def walk(start: int) -> None:
        for k in range(500):
            offset = (start + 50 * k) % 25_000
            got = engine.fetch(h.query_id, offset, 50).column("id").to_pylist()
            if got != list(range(offset, offset + 50)):
                errors.append(f"offset {offset}: {got[:3]}...")

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [
            threading.Thread(target=walk, args=(s,)) for s in (0, 9_950, 12_450, 22_450)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []


def test_concurrent_submissions(engine, sf_dir):
    text = ";".join(
        f"select count(*) as n{i} from read_files('{sf_dir}/orders.parquet') where o_orderkey % {i+2} = 0"
        for i in range(4)
    )
    handles = engine.sql_wait(text)
    assert [h.status for h in handles] == [QueryStatus.COMPLETE] * 4


def test_read_csv_table_function(engine, tmp_path_factory):
    csv = tmp_path_factory.mktemp("csvsrc") / "people.csv"
    csv.write_text("name,age\nalice,30\nbob,25\n")
    [h] = engine.sql_wait(f"select name, age from read_csv('{csv}') where age > 26")
    assert h.status is QueryStatus.COMPLETE, h.error
    t = engine.fetch(h.query_id, 0, 10)
    assert t.num_rows == 1
    assert t.column("name")[0].as_py() == "alice"


def test_read_json_table_function(engine, tmp_path_factory):
    p = tmp_path_factory.mktemp("jsonsrc") / "rows.jsonl"
    p.write_text('{"k": 1, "v": "x"}\n{"k": 2, "v": "y"}\n{"k": 3, "v": "z"}\n')
    [h] = engine.sql_wait(f"select k, v from read_json('{p}') where k >= 2 order by k")
    assert h.status is QueryStatus.COMPLETE, h.error
    t = engine.fetch(h.query_id, 0, 10)
    assert t.num_rows == 2 and t.column("v").to_pylist() == ["y", "z"]


def test_user_registered_table_function(engine):
    """A user plugs a new source into the front door — the reference's
    add_table_func_task_builder extension point, end to end."""
    from chapterhousedb_spark.sqlfront import TableFunction

    def build(spark, connections, call):
        return spark.range(int(call.named_args.get("n", "5"))).withColumnRenamed(
            "id", "v"
        )

    engine.register_table_function(
        TableFunction(name="range_rows", build=build, allowed_args=frozenset({"n"}))
    )
    [h] = engine.sql_wait("select sum(v) as s from range_rows('unused', n=>'10')")
    assert h.status is QueryStatus.COMPLETE, h.error
    assert engine.fetch(h.query_id, 0, 1).column("s")[0].as_py() == 45


def test_named_table_scan(engine, sf_dir):
    """Named-table scan the reference plans but cannot execute
    (operators/builder.rs:67-72 NotImplemented)."""
    engine.register_table("nation_tbl", f"{sf_dir}/nation.parquet")
    [h] = engine.sql_wait(
        "select n_name from nation_tbl where n_regionkey = 0 order by n_name"
    )
    assert h.status is QueryStatus.COMPLETE, h.error
    assert engine.fetch(h.query_id, 0, 100).num_rows > 0


def test_register_scalar_pandas_udf(engine, sf_dir):
    """Scalar UDF through the SQL surface, Arrow-batched (pandas UDF)."""
    def double_qty(s):  # pd.Series -> pd.Series (annotation-free: pyspark
        return s * 2.0  # resolves string hints against the fn's module)

    engine.register_function("double_qty", double_qty, "double")
    [h] = engine.sql_wait(
        f"select max(double_qty(l_quantity)) as m from read_files('{sf_dir}/lineitem.parquet')"
    )
    assert h.status is QueryStatus.COMPLETE, h.error
    [h2] = engine.sql_wait(
        f"select max(l_quantity) * 2 as m from read_files('{sf_dir}/lineitem.parquet')"
    )
    got = engine.fetch(h.query_id, 0, 1).column("m")[0].as_py()
    want = engine.fetch(h2.query_id, 0, 1).column("m")[0].as_py()
    assert abs(got - float(want)) < 1e-9


def test_register_udtf(engine):
    """Python UDTF callable as a FROM-clause table function."""

    class SplitParts:
        def eval(self, s: str):
            for i, p in enumerate(s.split(",")):
                yield (i, p)

    engine.register_udtf("split_parts", SplitParts, "idx int, part string")
    [h] = engine.sql_wait("select * from split_parts('a,b,c') order by idx")
    assert h.status is QueryStatus.COMPLETE, h.error
    t = engine.fetch(h.query_id, 0, 10)
    assert t.num_rows == 3
    assert t.column("part").to_pylist() == ["a", "b", "c"]


def test_write_ctas_roundtrip(engine, sf_dir, tmp_path_factory):
    dest = str(tmp_path_factory.mktemp("ctas") / "regions")
    path = engine.write(
        f"select r_regionkey, upper(r_name) as name_uc from read_files('{sf_dir}/region.parquet')",
        dest,
    )
    back = engine.spark.read.parquet(path)
    assert back.count() == 5
    assert set(back.columns) == {"r_regionkey", "name_uc"}


def test_write_partitioned_layout(engine, sf_dir, tmp_path_factory):
    import os

    dest = str(tmp_path_factory.mktemp("ctas_part") / "nations")
    engine.write(
        f"select n_nationkey, n_name, n_regionkey from read_files('{sf_dir}/nation.parquet')",
        dest,
        partition_by=["n_regionkey"],
    )
    parts = [d for d in os.listdir(dest) if d.startswith("n_regionkey=")]
    assert len(parts) == 5  # hive layout -> partition-pruned scans


def test_bucketed_tables_eliminate_join_shuffle(engine, sf_dir):
    """Bucketed co-located join: one shuffle paid at write time, zero at
    query time — the repeat-join answer at 100 TB."""
    engine.write_bucketed(
        f"select o_orderkey, o_totalprice from read_files('{sf_dir}/orders.parquet')",
        "bkt_orders",
        bucket_cols=["o_orderkey"],
        n_buckets=8,
        sort_cols=["o_orderkey"],
    )
    engine.write_bucketed(
        f"select l_orderkey, l_quantity from read_files('{sf_dir}/lineitem.parquet')",
        "bkt_lineitem",
        bucket_cols=["l_orderkey"],
        n_buckets=8,
        sort_cols=["l_orderkey"],
    )
    try:
        joined = engine.spark.sql(
            """
            select /*+ MERGE(o) */ o.o_orderkey, o.o_totalprice, l.l_quantity
            from bkt_orders o join bkt_lineitem l on o.o_orderkey = l.l_orderkey
            """
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, "bucketed join must not shuffle"
        assert joined.count() > 0
    finally:
        engine.spark.sql("drop table if exists bkt_orders")
        engine.spark.sql("drop table if exists bkt_lineitem")


def test_s3_connection_conf_mapping():
    conn = S3Connection(
        name="s3_dev",
        bucket="mybucket",
        region="us-east-1",
        endpoint="http://localhost:9000",
        access_key_id="ak",
        secret_access_key="sk",
        path_style=True,
    )
    assert conn.resolve("data/*.parquet") == "s3a://mybucket/data/*.parquet"
    conf = conn.hadoop_conf()
    assert conf["fs.s3a.bucket.mybucket.endpoint"] == "http://localhost:9000"
    assert conf["fs.s3a.bucket.mybucket.path.style.access"] == "true"


def test_two_s3_connections_do_not_clobber():
    """Two named S3 connections must coexist: per-bucket scoped keys."""
    a = S3Connection(name="a", bucket="bkt-a", endpoint="http://a:9000",
                     access_key_id="akA", secret_access_key="skA")
    b = S3Connection(name="b", bucket="bkt-b", endpoint="http://b:9000",
                     access_key_id="akB", secret_access_key="skB")
    merged: dict[str, str] = {}
    merged.update(a.hadoop_conf())
    merged.update(b.hadoop_conf())
    assert merged["fs.s3a.bucket.bkt-a.access.key"] == "akA"
    assert merged["fs.s3a.bucket.bkt-b.access.key"] == "akB"
    assert merged["fs.s3a.bucket.bkt-a.endpoint"] == "http://a:9000"
    assert merged["fs.s3a.bucket.bkt-b.endpoint"] == "http://b:9000"


def test_clustered_write_gives_disjoint_file_ranges(engine, sf_dir, tmp_path_factory):
    """cluster_by range-partitions + sorts before writing, so each
    output file covers a narrow, pairwise-disjoint range of the cluster
    column — the property min/max footer pruning depends on."""
    import glob

    import pyarrow.parquet as pq

    out = str(tmp_path_factory.mktemp("clustered")) + "/li"
    engine.write(
        f"select l_orderkey, l_shipdate from read_files('{sf_dir}/lineitem.parquet')",
        out,
        cluster_by=["l_shipdate"],
        cluster_files=4,
    )
    files = sorted(glob.glob(f"{out}/*.parquet"))
    assert len(files) > 1, "need multiple files to demonstrate disjointness"
    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}["l_shipdate"]
        lo = min(md.row_group(g).column(idx).statistics.min for g in range(md.num_row_groups))
        hi = max(md.row_group(g).column(idx).statistics.max for g in range(md.num_row_groups))
        ranges.append((lo, hi))
    ranges.sort()
    for (_, hi_prev), (lo_next, _) in zip(ranges, ranges[1:]):
        assert lo_next >= hi_prev, f"overlapping file ranges: {ranges}"


def test_scheduler_pool_routing(engine):
    """Each query's jobs run under its named FAIR pool: the thread-local
    spark.scheduler.pool property must be set on the executing thread
    (that is what the DAG scheduler reads at job-submit time), and
    cleared afterwards so reused pool threads don't inherit it."""
    h_etl, h_adhoc, h_default = [
        engine.submit(
            "select count(*) as n from read_files('region.parquet', connection=>'testdata')",
            pool=pool,
        )
        for pool in ("etl", "adhoc", None)
    ]
    for h in (h_etl, h_adhoc, h_default):
        h.wait()
        assert h.status is QueryStatus.COMPLETE, h.error
    assert h_etl.pool_applied == "etl"
    assert h_adhoc.pool_applied == "adhoc"
    assert h_default.pool_applied is None
    # the submitting thread never sees the worker-thread property
    assert (
        engine.spark.sparkContext.getLocalProperty("spark.scheduler.pool") is None
    )


def test_engine_default_pool(spark, sf_dir, tmp_path_factory):
    eng = Engine(
        spark=spark,
        results_dir=str(tmp_path_factory.mktemp("results_pool")),
        connections=ConnectionRegistry(
            {"testdata": FsConnection(name="testdata", base_path=sf_dir)}
        ),
        default_pool="batch",
    )
    try:
        (h,) = eng.sql_wait(
            "select count(*) as n from read_files('region.parquet', connection=>'testdata')"
        )
        assert h.status is QueryStatus.COMPLETE, h.error
        assert h.pool_applied == "batch"
    finally:
        eng.close()


def test_fair_scheduler_xml(tmp_path):
    from chapterhousedb_spark.session import write_fair_scheduler_xml

    p = write_fair_scheduler_xml(
        {"etl": {"weight": 3, "minShare": 8, "schedulingMode": "FAIR"},
         "adhoc": {"weight": 1}},
        path=str(tmp_path / "pools.xml"),
    )
    import xml.etree.ElementTree as ET

    root = ET.parse(p).getroot()
    pools = {e.get("name"): e for e in root.findall("pool")}
    assert pools["etl"].find("weight").text == "3"
    assert pools["etl"].find("minShare").text == "8"
    assert pools["adhoc"].find("weight").text == "1"


def test_compact_small_files(engine, sf_dir, tmp_path_factory):
    """50 tiny files -> few target-sized files, values preserved; the
    maintenance op for streaming-sink / per-batch-materialized layouts
    (reference writes one parquet PER record batch)."""
    root = str(tmp_path_factory.mktemp("compact"))
    eng = Engine(
        spark=engine.spark,
        results_dir=str(tmp_path_factory.mktemp("compact_results")),
        connections=ConnectionRegistry({"z": FsConnection(name="z", base_path=root)}),
    )
    src = engine.spark.read.parquet(f"{sf_dir}/orders.parquet")
    src.repartition(50).write.parquet(f"{root}/landing/orders")

    info = eng.compact("landing/orders", connection="z", target_file_mb=8)
    assert info["files_before"] == 50
    assert 1 <= info["files_after"] < 10
    out = engine.spark.read.parquet(info["path"])
    assert out.count() == src.count()
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, src.collect()))

    # clustered compaction: disjoint per-file ranges on the sort key
    info2 = eng.compact(
        "landing/orders", connection="z", dest_glob="landing/orders_by_key",
        n_files=4, sort_by=["o_orderkey"],
    )
    out2 = engine.spark.read.parquet(info2["path"])
    assert out2.count() == src.count()
    assert info2["files_after"] == 4
    import pyarrow.parquet as pq

    ranges = []
    for f in engine.spark.read.parquet(info2["path"]).inputFiles():
        md = pq.read_metadata(f.replace("file:", ""))
        lo = min(md.row_group(i).column(0).statistics.min for i in range(md.num_row_groups))
        hi = max(md.row_group(i).column(0).statistics.max for i in range(md.num_row_groups))
        ranges.append((lo, hi))
    ranges.sort()
    assert all(ranges[i][1] <= ranges[i + 1][0] for i in range(len(ranges) - 1))
    eng.close()


def test_explain_returns_plan_without_executing(engine):
    plan = engine.explain(
        "select l_returnflag, count(*) as n "
        "from read_files('lineitem.parquet', connection=>'testdata') "
        "where l_quantity > 10 group by l_returnflag"
    )
    assert "HashAggregate" in plan or "Aggregate" in plan
    assert "PushedFilters" in plan  # formatted mode shows scan details
    compact = engine.explain(
        "select 1 as x", formatted=False
    )
    assert "Project" in compact or "Scan" in compact or "OneRowRelation" in compact


def test_engine_close_releases_caches_only_when_it_owns_the_session(spark):
    """An Engine built ON a shared session must not unpersist that
    session's self-join caches at close(); release_caches=True opts in
    explicitly (code-review r5: compaction_roundtrip's throwaway engine
    was wiping the shared workload session's caches)."""
    from chapterhousedb_spark.engine import Engine
    from chapterhousedb_spark.operators.dedup import (
        minhash_near_dup_pairs,
        release_self_join_caches,
    )

    release_self_join_caches()
    rows = [(i, f"doc {i} body " * 3) for i in range(10)]
    minhash_near_dup_pairs(spark.createDataFrame(rows, ["doc_id", "text"])).count()
    eng = Engine(spark=spark)  # handed a shared session -> not owned
    eng.close()
    assert release_self_join_caches(spark) == 1  # cache survived close
    minhash_near_dup_pairs(spark.createDataFrame(rows, ["doc_id", "text"])).count()
    eng2 = Engine(spark=spark)
    eng2.close(release_caches=True)  # explicit opt-in releases
    assert release_self_join_caches(spark) == 0


def test_engine_vacuum_drops_old_terminal_results(spark, tmp_path):
    """vacuum(ttl) removes only terminal queries older than the TTL;
    fresh results and their fetch paths survive."""
    import os
    import time

    from chapterhousedb_spark.engine import Engine

    eng = Engine(spark=spark, results_dir=str(tmp_path / "res"))
    h1 = eng.sql_wait("select 1 as x")[0]
    h2 = eng.sql_wait("select 2 as y")[0]
    assert os.path.isdir(h1.result_dir) and os.path.isdir(h2.result_dir)
    # age h1 artificially; h2 stays fresh
    eng.handle(h1.query_id).finished_at = time.time() - 3600
    dropped = eng.vacuum(older_than_seconds=600)
    assert dropped == [h1.query_id]
    assert not os.path.isdir(h1.result_dir)
    assert eng.fetch(h2.query_id).to_pydict() == {"y": [2]}
    # idempotent; a zero-TTL sweep then takes the rest
    assert eng.vacuum(older_than_seconds=600) == []
    assert eng.vacuum() == [h2.query_id]
    eng.close()


def test_table_function_inside_string_literal_is_not_called(spark, tmp_path):
    """A call spelled inside a double-quoted string stays a string: no
    read of the path it names."""
    eng = Engine(spark=spark, results_dir=str(tmp_path / "res"))
    [h] = eng.sql_wait("select \"read_files('nope.parquet')\" as s")
    assert h.status is QueryStatus.COMPLETE, h.error
    assert eng.fetch(h.query_id).to_pydict() == {"s": ["read_files('nope.parquet')"]}
    eng.close()


def test_diff_tables_table_function(spark, sf_dir, tmp_path_factory):
    """operators exposed at the SQL front door: diff_tables() runs the
    key-level version diff from plain SQL through the registry — the
    post-merge audit one-liner. right_connection routes the new version
    through a different named source than the old one."""
    root = tmp_path_factory.mktemp("diff_tf")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    import pyspark.sql.functions as F

    (
        docs.filter(F.col("doc_id") % 7 != 0)
        .withColumn(
            "text",
            F.when(F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit("!")))
            .otherwise(F.col("text")),
        )
        .write.parquet(str(root / "docs_v2"))
    )
    eng = Engine(
        spark=spark,
        results_dir=str(root / "results"),
        connections=ConnectionRegistry(
            {
                "testdata": FsConnection(name="testdata", base_path=sf_dir),
                "staging": FsConnection(name="staging", base_path=str(root)),
            }
        ),
    )
    try:
        [h] = eng.sql_wait(
            """
            select change_type, count(*) as n
            from diff_tables('documents.parquet', connection=>'testdata',
                             right=>'docs_v2', right_connection=>'staging',
                             keys=>'doc_id')
            group by change_type order by change_type
            """
        )
        got = {r["change_type"]: r["n"] for r in eng.fetch(h.query_id).to_pylist()}
    finally:
        eng.close()
    want_removed = docs.filter(F.col("doc_id") % 7 == 0).count()
    want_changed = docs.filter(
        (F.col("doc_id") % 5 == 0) & (F.col("doc_id") % 7 != 0)
    ).count()
    assert got == {"changed": want_changed, "removed": want_removed}


def test_profile_table_function(engine, sf_dir):
    [h] = engine.sql_wait(
        "select * from profile('region.parquet', connection=>'testdata', exact=>'true')"
    )
    rows = {r["column"]: r for r in engine.fetch(h.query_id).to_pylist()}
    assert set(rows) >= {"r_regionkey", "r_name"}
    assert rows["r_regionkey"]["n_distinct"] == rows["r_regionkey"]["n_non_null"]


def test_diff_tables_missing_args_fails_cleanly(engine):
    """Required-arg validation surfaces through the engine's async
    error contract: the handle lands in ERROR naming the missing
    argument (same as every statement failure), never a hung query."""
    [h] = engine.sql_wait(
        "select * from diff_tables('a.parquet', connection=>'testdata')"
    )
    assert h.status is QueryStatus.ERROR
    assert "requires named argument" in (h.error or "")


def test_round7_operator_table_functions(engine, sf_dir):
    """The round-7 operator-library TVFs through the full engine.sql
    path: text_quality (corpus triage), rarity (hapax features),
    trending (exact decayed counts) — each cross-checked against the
    operator called directly."""
    from chapterhousedb_spark.operators.rollup import decayed_counts
    from chapterhousedb_spark.operators.text import rarity_stats, text_stats

    spark = engine.spark
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    [h] = engine.sql_wait(
        "select doc_id, n_tokens, passes_quality "
        "from text_quality('documents.parquet', connection=>'testdata')"
    )
    got = {r["doc_id"]: r["n_tokens"] for r in engine.fetch(h.query_id, limit=10_000).to_pylist()}
    want = {
        r["doc_id"]: r["n_tokens"]
        for r in text_stats(docs).select("doc_id", "n_tokens").collect()
    }
    assert got == want

    [h] = engine.sql_wait(
        "select doc_id, hapax_frac from rarity('documents.parquet', "
        "connection=>'testdata', common_k=>'50')"
    )
    got = {r["doc_id"]: r["hapax_frac"] for r in engine.fetch(h.query_id, limit=10_000).to_pylist()}
    want = {
        r["doc_id"]: r["hapax_frac"]
        for r in rarity_stats(docs, common_k=50).collect()
    }
    assert got == want

    [h] = engine.sql_wait(
        "select * from trending('events.parquet', connection=>'testdata', "
        "keys=>'event_type', ts=>'ts', ref=>'2024-01-31') order by event_type"
    )
    got = {
        r["event_type"]: r["decayed_count"]
        for r in engine.fetch(h.query_id).to_pylist()
    }
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    want = {
        r["event_type"]: r["decayed_count"]
        for r in decayed_counts(ev, ["event_type"], "ts", "2024-01-31").collect()
    }
    assert got == want  # exact power-of-two sums: equality, no approx


def test_round9_operator_table_functions(engine, sf_dir):
    """The round-9 operator-library TVFs through the full engine.sql
    path: span_rewrite (substring-dedup rewrite), semantic_dedup
    (SemDeDup survivors), quality_scores (learned classifier) — each
    cross-checked against the operator called directly."""
    from chapterhousedb_spark.operators.dedup import remove_duplicate_spans
    from chapterhousedb_spark.operators.similarity import (
        embedding_dedup_survivors,
    )

    spark = engine.spark
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    [h] = engine.sql_wait(
        "select doc_id, n_removed from span_rewrite('documents.parquet', "
        "connection=>'testdata', span_tokens=>'16') where n_removed > 0"
    )
    got = {
        r["doc_id"]: r["n_removed"]
        for r in engine.fetch(h.query_id, limit=10_000).to_pylist()
    }
    want = {
        r["doc_id"]: r["n_removed"]
        for r in remove_duplicate_spans(docs, span_tokens=16)
        .filter("n_removed > 0")
        .collect()
    }
    assert got == want and got  # non-vacuous: spans exist at sf0.001

    [h] = engine.sql_wait(
        "select vec_id from semantic_dedup('embeddings.parquet', "
        "connection=>'testdata', threshold=>'0.45', planes=>'6')"
    )
    got_ids = {
        r["vec_id"] for r in engine.fetch(h.query_id, limit=10_000).to_pylist()
    }
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    want_ids = {
        r["vec_id"]
        for r in embedding_dedup_survivors(
            emb, threshold=0.45, planes=6
        ).collect()
    }
    assert got_ids == want_ids

    [h] = engine.sql_wait(
        "select doc_id, label, quality_score from quality_scores("
        "'documents.parquet', connection=>'testdata', "
        "positive=>'src0,src1', negative=>'src2,src3', iters=>'3')"
    )
    rows = engine.fetch(h.query_id, limit=10_000).to_pylist()
    assert rows and all(0.0 <= r["quality_score"] <= 1.0 for r in rows)
    assert {r["label"] for r in rows} == {0, 1, None}


def test_cancel_running_query(engine):
    """Engine.cancel interrupts a RUNNING query's Spark job group: the
    handle lands in ERROR('cancelled') promptly instead of burning the
    cluster — the kill path the reference's async client lacks."""
    import time as _time

    # ~1e10-row cartesian: cannot finish quickly, cancels mid-flight
    [h] = engine.sql(
        "select count(*) as s from range(3000000) a, range(3000000) b"
    )
    deadline = _time.time() + 30
    while engine.status(h.query_id) is QueryStatus.QUEUED:
        assert _time.time() < deadline, "never started"
        _time.sleep(0.05)
    assert engine.cancel(h.query_id) is True
    h.wait(timeout=60)
    assert h.status is QueryStatus.ERROR
    assert h.error == "cancelled"
    # cancelling a terminal query is a no-op
    assert engine.cancel(h.query_id) is False


def test_cancel_does_not_affect_other_queries(engine):
    """Job-group isolation: cancelling one query must not disturb a
    concurrently running one."""
    import time as _time

    [slow] = engine.sql(
        "select count(*) as s from range(3000000) a, range(3000000) b"
    )
    [ok] = engine.sql(
        "select count(*) as n from read_files('region.parquet', connection=>'testdata')"
    )
    deadline = _time.time() + 30
    while engine.status(slow.query_id) is QueryStatus.QUEUED:
        assert _time.time() < deadline
        _time.sleep(0.05)
    engine.cancel(slow.query_id)
    ok.wait(timeout=120)
    slow.wait(timeout=60)
    assert ok.status is QueryStatus.COMPLETE
    assert slow.status is QueryStatus.ERROR and slow.error == "cancelled"


def test_near_dups_table_function(engine, sf_dir):
    """The round-8 two-stage dedup pipeline through the engine's SQL
    registry plug point: near_dups(...) == two_stage_dedup called
    directly, threshold argument honored."""
    from chapterhousedb_spark.operators.dedup import (
        release_self_join_caches,
        two_stage_dedup,
    )

    spark = engine.spark
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    [h] = engine.sql_wait(
        "select id_a, id_b, jaccard_tokens from near_dups("
        "'documents.parquet', connection=>'testdata', threshold=>'0.6')"
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard_tokens"]
        for r in engine.fetch(h.query_id, limit=100_000).to_pylist()
    }
    want = {
        (r["id_a"], r["id_b"]): r["jaccard_tokens"]
        for r in two_stage_dedup(
            docs, jaccard_threshold=0.6, persist=False
        ).collect()
    }
    release_self_join_caches()
    assert got == want
    assert got  # non-vacuous on the planted near-dups
    assert all(j >= 0.6 for j in got.values())


def test_write_bloom_filters(engine, tmp_path):
    """Engine.write(bloom_filters=[...]) embeds a parquet bloom filter
    for the named columns — the high-cardinality point-lookup pruning
    complement to the min/max clustering layouts. pyarrow 16 doesn't
    surface bloom offsets, so the check is structural: identical data
    written with the option carries the bloom bitset's extra bytes
    (beyond parquet's size jitter), the row data reads back
    IDENTICALLY, and a point lookup on the bloomed layout still
    returns the right row through the engine."""
    import glob as _glob
    import os as _os

    stmt = (
        "select o_orderkey, o_custkey, o_totalprice from read_files("
        "'orders.parquet', connection=>'testdata')"
    )
    plain_dest = str(tmp_path / "plain")
    bloom_dest = str(tmp_path / "bloomed")
    engine.write(stmt, plain_dest, cluster_files=1, cluster_by=["o_orderkey"])
    engine.write(
        stmt, bloom_dest, cluster_files=1, cluster_by=["o_orderkey"],
        bloom_filters=["o_orderkey"],
    )

    def total(p):
        return sum(
            _os.path.getsize(f) for f in _glob.glob(p + "/*.parquet")
        )

    assert total(bloom_dest) > total(plain_dest) + 512  # the bitset bytes
    spark = engine.spark
    a = sorted(map(tuple, spark.read.parquet(plain_dest).collect()))
    b = sorted(map(tuple, spark.read.parquet(bloom_dest).collect()))
    assert a == b and a
    probe_key = a[len(a) // 2][0]
    [h] = engine.sql_wait(
        f"select o_custkey from read_files('{bloom_dest}/*.parquet') "
        f"where o_orderkey = {probe_key}"
    )
    assert engine.fetch(h.query_id, 0, 10).num_rows >= 1


def test_round9_operator_table_functions(engine, sf_dir):
    """The round-9 operator TVFs through the full engine.sql path:
    repetition (Gopher coverage fractions), c4_clean (line cleanup),
    temperature_mix (n^alpha source resampling) — each cross-checked
    against the operator called directly."""
    from chapterhousedb_spark.operators.sampling import temperature_mix
    from chapterhousedb_spark.operators.text import (
        c4_line_filters,
        ngram_repetition_stats,
    )

    spark = engine.spark
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    [h] = engine.sql_wait(
        "select doc_id, top2gram_char_frac, dup5gram_char_frac "
        "from repetition('documents.parquet', connection=>'testdata')"
    )
    got = {
        r["doc_id"]: (r["top2gram_char_frac"], r["dup5gram_char_frac"])
        for r in engine.fetch(h.query_id, limit=10_000).to_pylist()
    }
    want = {
        r["doc_id"]: (r["top2gram_char_frac"], r["dup5gram_char_frac"])
        for r in ngram_repetition_stats(docs)
        .select("doc_id", "top2gram_char_frac", "dup5gram_char_frac")
        .collect()
    }
    assert got == want

    [h] = engine.sql_wait(
        "select doc_id, n_lines_kept, keep from c4_clean("
        "'documents.parquet', connection=>'testdata', min_words=>'3')"
    )
    got = {
        r["doc_id"]: (r["n_lines_kept"], r["keep"])
        for r in engine.fetch(h.query_id, limit=10_000).to_pylist()
    }
    want = {
        r["doc_id"]: (r["n_lines_kept"], r["keep"])
        for r in c4_line_filters(docs, min_words=3)
        .select("doc_id", "n_lines_kept", "keep")
        .collect()
    }
    assert got == want

    [h] = engine.sql_wait(
        "select doc_id, rate from temperature_mix('documents.parquet', "
        "connection=>'testdata', alpha=>'0.5', target=>'0.5', salt=>'t9')"
    )
    got = {
        r["doc_id"]: r["rate"]
        for r in engine.fetch(h.query_id, limit=10_000).to_pylist()
    }
    want = {
        r["doc_id"]: r["rate"]
        for r in temperature_mix(
            docs, alpha=0.5, target_frac=0.5, salt="t9"
        ).collect()
    }
    assert got == want and got


def test_knn_graph_table_function(engine, sf_dir):
    """The kNN-graph TVF through engine.sql, cross-checked against the
    operator called directly."""
    from chapterhousedb_spark.operators.similarity import knn_join

    spark = engine.spark
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    [h] = engine.sql_wait(
        "select src_id, nbr_id, rank from knn_graph("
        "'embeddings.parquet', connection=>'testdata', k=>'2', planes=>'6')"
    )
    got = {
        (r["src_id"], r["rank"]): r["nbr_id"]
        for r in engine.fetch(h.query_id, limit=10_000).to_pylist()
    }
    want = {
        (r["src_id"], r["rank"]): r["nbr_id"]
        for r in knn_join(embs, k=2, planes=6)
        .select("src_id", "nbr_id", "rank")
        .collect()
    }
    assert got == want and got


def test_vector_topk_table_function(engine, sf_dir):
    """vector_topk through engine.sql: exact matches cosine_topk; the
    bq method with full refine matches exact too (the schema-stable
    refine contract); bad method errors at build time."""
    from chapterhousedb_spark.operators.similarity import cosine_topk

    spark = engine.spark
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = ",".join(["1.0"] * 64)
    [h] = engine.sql_wait(
        f"select vec_id, cosine from vector_topk('embeddings.parquet', "
        f"connection=>'testdata', q=>'{q}', k=>'5')"
    )
    got = [r["vec_id"] for r in engine.fetch(h.query_id).to_pylist()]
    want = [r["vec_id"] for r in cosine_topk(embs, [1.0] * 64, k=5).collect()]
    assert got == want
    [h2] = engine.sql_wait(
        f"select vec_id from vector_topk('embeddings.parquet', "
        f"connection=>'testdata', q=>'{q}', k=>'5', method=>'bq', "
        f"refine=>'100000')"
    )
    got2 = [r["vec_id"] for r in engine.fetch(h2.query_id).to_pylist()]
    assert got2 == want
    [h3] = engine.sql_wait(
        f"select * from vector_topk('embeddings.parquet', "
        f"connection=>'testdata', q=>'{q}', method=>'bogus')"
    )
    assert h3.status.name == "ERROR"
    # mrl with full refine matches exact too (round 10)
    [h4] = engine.sql_wait(
        f"select vec_id from vector_topk('embeddings.parquet', "
        f"connection=>'testdata', q=>'{q}', k=>'5', method=>'mrl', "
        f"prefix_dims=>'8', refine=>'100000')"
    )
    got4 = [r["vec_id"] for r in engine.fetch(h4.query_id).to_pylist()]
    assert got4 == want
