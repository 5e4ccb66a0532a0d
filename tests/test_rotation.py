"""Gate-rotation invariants (workload/__init__.py::_rotate): the swap
must actually FIRE and preserve the 50-slot window — a _SWAP_POOL
whose members drift out of the static window shrinks the demotable
set toward the silent-no-op guard (nearly happened in round 7 when
the mid group grew and pushed one pool member into the tail)."""

from __future__ import annotations

import chapterhousedb_spark.workload as w


def test_rotation_fired_with_full_swap():
    info = w._ROTATION_INFO
    assert info["demoted"], "rotation silently no-op'd (demotable < K)"
    assert len(set(info["demoted"])) == w._ROTATION_K, info["demoted"]
    assert len(set(info["promoted"])) == w._ROTATION_K, info["promoted"]
    order = list(w.QUERIES)
    window = order[:50]
    assert len(order) == len(set(order)) == len(w.QUERIES)
    # every promoted row made it into the window; every demoted row out
    for n in info["promoted"]:
        assert n in window, n
    for n in info["demoted"]:
        assert n not in window, n
    # promoted rows are oracle-able (driver-gateable)
    assert all(n in w.ORACLES for n in info["promoted"])


def test_swap_pool_members_sit_in_the_static_window():
    """Every pool member must be an IN-WINDOW row of the UNROTATED
    ordering, else it can never demote and the swap under-fires."""
    static_window = set(w._ROTATION_INFO["window_static"])
    assert static_window, "rotation never ran"
    for n in w._SWAP_POOL:
        assert n in static_window, (
            f"_SWAP_POOL member {n!r} is not in the static window"
        )
    # standing slack guard (VERDICT r7 #4): the CURRENT round's
    # demotable set must exceed K, so one member drifting out of the
    # window can never push the swap onto the silent-no-op path
    demotable = [n for n in w._SWAP_POOL if n in static_window]
    assert len(demotable) >= w._ROTATION_K + 1, (
        f"demotable={demotable}: zero slack — grow _SWAP_POOL with "
        "in-window rows before the next reshuffle"
    )


def test_rows_only_queries_stay_at_the_tail_end():
    """The rows-only-by-design entries (weakest driver check) must
    never occupy window slots."""
    window = list(w.QUERIES)[:50]
    rows_only = set(w.QUERIES) - set(w.ORACLES)
    assert not (rows_only & set(window)), rows_only & set(window)


def test_full_tail_regate_cycle_at_most_9_rounds():
    """VERDICT r10 #1: the cadence promise is structural, not a
    comment — every oracle-able tail row must re-earn driver-green
    within 9 rounds, i.e. ceil(promotion_pool / K) <= 9 for the LIVE
    ordering. Tail growth past ~9*K rows fails here loudly instead of
    silently stretching the cycle (as r9/r10 surface growth did to the
    old K=6 / '~8 rounds' claim)."""
    import math

    pool = w._ROTATION_INFO["pool_size"]
    assert pool > 0, "rotation never ran"
    assert w._ROTATION_K >= 10
    cycle = math.ceil(pool / w._ROTATION_K)
    assert cycle <= 9, (
        f"promotion pool {pool} at K={w._ROTATION_K} -> {cycle}-round "
        "re-gate cycle; raise _ROTATION_K (and grow _SWAP_POOL) to "
        "restore the <=9-round cadence"
    )


def test_current_round_env_override_beats_stray_artifacts(monkeypatch):
    """VERDICT r12 #7: _current_round derives the rotation window from
    repo-root CORRECTNESS artifacts — any out-of-band file (a judge
    scratch CORRECTNESS_r99.json) would silently shift the window.
    SPARK_GRAFT_ROUND pins the round regardless of what is on disk;
    invalid values fall back to the glob instead of raising."""
    glob_round = w._current_round()  # derived from the real artifacts
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "7")
    assert w._current_round() == 7
    # a stray artifact cannot shift an env-pinned round (the env path
    # returns before the glob ever runs)
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "12")
    assert w._current_round() == 12
    # invalid values are ignored, not raised
    for bad in ("zero", "", "-3", "0"):
        monkeypatch.setenv("SPARK_GRAFT_ROUND", bad)
        assert w._current_round() == glob_round
    monkeypatch.delenv("SPARK_GRAFT_ROUND")
    assert w._current_round() == glob_round
    # bench.py's twin derivation must agree under the same override
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "bench_mod_rot", "/root/repo/bench.py"
    )
    b = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(b)
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "7")
    assert b._current_round_n() == 7


def test_promotion_is_stalest_first():
    """VERDICT r14 #1: promotion must take the K pool rows whose last
    driver-green round (from the CORRECTNESS_r* artifacts) is oldest,
    ties broken by pool order — so the staleness backlog drains at K
    rows/round instead of waiting on round-robin phase."""
    info = w._ROTATION_INFO
    promoted = info["promoted"]
    assert promoted, "rotation never ran"
    # recompute the expected ranking from the same inputs
    order = [n for n in w._DRIVER_FIRST if n in w.QUERIES]
    order += [
        n
        for n in w.QUERIES
        if n not in w._DRIVER_FIRST and n not in w._DRIVER_LAST
    ]
    # the live QUERIES ordering is already rotated; rebuild the static
    # pool from the recorded static window instead
    static_window = set(info["window_static"])
    pool = [
        n
        for n in w.QUERIES
        if n in w.ORACLES and n not in static_window and n not in promoted
    ]
    last_green = w._last_green_rounds()
    max_promoted = max(last_green.get(n, 0) for n in promoted)
    # no unpromoted pool row may be strictly staler than the freshest
    # promoted row (ties are legal: pool-order break)
    for n in pool:
        assert last_green.get(n, 0) >= max_promoted, (
            f"{n} (last green r{last_green.get(n, 0)}) was left in the "
            f"tail while a fresher row (r{max_promoted}) promoted"
        )
    # the diagnostic records each promoted row's staleness
    assert set(info["promoted_last_green"]) == set(promoted)


def test_last_green_rounds_ignores_current_and_later_artifacts(
    monkeypatch,
):
    """Stray artifacts at N >= the pinned round must shift neither the
    round (VERDICT r12 #7) nor the staleness ranking — else a judge
    scratch CORRECTNESS_r99.json could mark every row fresh and stall
    the backlog drain."""
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "5")
    lg5 = w._last_green_rounds()
    assert lg5, "no artifacts parsed"
    assert max(lg5.values()) <= 4
    monkeypatch.delenv("SPARK_GRAFT_ROUND")
    lg = w._last_green_rounds()
    assert max(lg.values()) < w._current_round()


def test_load_memo_reuses_relation_per_session(spark):
    """r16 guide-§6.1 optimization: registry.load memoizes the resolved
    DataFrame per (session, dir, table) so repeated loads of the same
    immutable table skip the ~0.1 s footer/listing constant. The memo
    must return the SAME lazy plan (identity), stay keyed per dir and
    table, and keep the events ts normalization on memo hits."""
    from chapterhousedb_spark.workload.registry import load

    sf = "/root/testdata/sf0.001"
    a = load(spark, sf, "documents")
    b = load(spark, sf, "documents")
    assert a is b
    c = load(spark, sf, "region")
    assert c is not a
    e1 = load(spark, sf, "events")
    zone = spark.conf.get("spark.sql.session.timeZone")
    try:
        # a memo hit must still pin the zone the ts normalization needs
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        e2 = load(spark, sf, "events")
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.session.timeZone", zone)
    assert e1 is e2
    assert dict(e1.dtypes)["ts"] == "timestamp"
    # a different dir is a different key (tests point load at tmp dirs)
    d = load(spark, "/root/testdata/sf0.01", "documents")
    assert d is not a


def test_fan_out_memoizes_result_per_frame_and_key(spark):
    """r16: fan_out memoizes its (key, result) on the input DataFrame
    so the per-call partition probe is paid once per (table, key) per
    session. Same frame + same key -> identical plan object; the
    fanned frame still computes the same rows."""
    from chapterhousedb_spark.workload.registry import fan_out, load

    sf = "/root/testdata/sf0.001"
    d = load(spark, sf, "documents")
    f1 = fan_out(d)
    f2 = fan_out(d)
    assert f1 is f2
    assert f1.count() == d.count()
    # load() memoizes too, so an independent load hits the same memo
    assert fan_out(load(spark, sf, "documents")) is f1
