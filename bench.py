"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line with per-query seconds.

Each query is forced to full execution: aggregate/top-k results are
collected (small), wide results are written to a scratch parquet sink
(count()-style shortcuts would let Spark skip projection work).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

from chapterhousedb_spark.session import build_session
from chapterhousedb_spark.workload import QUERIES

# Headline set: reference-parity scan/sort shapes + the heavy relational
# operators + one of each LLM-operator family.
HEADLINE = [
    "scan_filter_project",
    "order_by_multi",
    "agg_pricing_summary",
    "agg_pricing_summary_double",  # prices the decimal-exact overhead
    "agg_distinct",
    "join_broadcast_dims",
    "join_fact_fact",
    "window_topk_per_group",
    "cte_subquery",
    "dedup_exact",
    "dedup_minhash",
    "text_stats",
    "similarity_topk",
    "events_sessionize",
    "asof_join_events",
    # round 2 additions (set only grows — deltas_vs_prev stays comparable)
    "sample_split",
    "pipeline_pretrain",
    "table_profile",
    # round 4 additions
    "pack_sequences",
    # round 5 additions
    "pack_materialize",
    "duplicate_spans",
    "contamination_check",
    "tpch_q3_shipping",
    "tpch_q5_region_revenue",
    "incremental_merge",
    "events_sliding",
    # round 6 additions
    "tpch_q17_small_qty",
    "tpch_q4_order_priority",
    "tpch_q18_large_orders",
    "tpch_q21_lone_blame",
    "events_rollup_daily",
    "vocab_topk",
    "tfidf_top_terms",
    "training_order",
    "corpus_diff",
    "pipeline_curation",
    # round 7 additions: gated round-6 families benched from birth
    # (VERDICT r6 #8) — the remaining TPC-H shapes + the mergeable
    # profile/rollup rows
    "tpch_q7_nation_volume",
    "tpch_q9_nation_profit",
    "tpch_q11_important_parts",
    "tpch_q13_cust_distribution",
    "tpch_q15_top_supplier",
    "tpch_q20_dominant_supplier",
    "tpch_q22_idle_balances",
    "histogram_totalprice",
    "quantile_rollup",
    # round 7 new shapes, benched from birth
    "tpch_q6_forecast_revenue",
    "tpch_q8_market_share",
    "tpch_q10_returned_items",
    "tpch_q12_priority_shipping",
    "tpch_q14_promo_effect",
    "tpch_q16_supplier_cnt",
    "tpch_q19_disjunctive_revenue",
    "token_budget_mix",
    "rarity_stats",
    "tpch_q2_min_cost_supplier",
    "pair_features",
    "embedding_normalize",
    # round 8 additions: the round-7 operators that missed HEADLINE at
    # birth (VERDICT r7 #10), plus the round-8 shapes benched from birth
    "asof_forward_events",
    "events_trending",
    "bpe_tokenize",
    "pipeline_two_stage_dedup",
    "streaming_ingest_corpus",
    # round 9 new shapes, benched from birth
    "embedding_dedup",
    "bigram_coverage",
    "dedup_span_rewrite",
    "quality_classifier",
    "markup_removal",
    "embedding_sq8",
    "similarity_pq",
    "ngram_repetition",
    "c4_clean",
    "temperature_mix",
    "pipeline_fineweb",
    "embedding_bq",
    "knn_graph",
    "embedding_clusters",
    "pipeline_retrieval",
    # round 10 new shapes, benched from birth
    "pq_fixed_codebook",
    "ivf_fixed_centroids",
    "gopher_quality",
    "dedup_clusters_star",
    "pq_residual_fixed",
    "embedding_mrl",
    "pipeline_cluster_balance",
    "pack_best_fit",
    # round 11 new shapes, benched from birth
    "key_skew_events",
    "url_dedup_docs",
    "unigram_segment_fixed",
    "unigram_tokenize",
    "lang_ngram_fixed",
    "streaming_ingest_quality",
    "url_domain_cap",
    "kn_bigram_scores",
    # round 12 new shapes, benched from birth
    "url_etld_cap",
    "quality_score_fixed",
    "pipeline_ccnet",
    "line_dedup_docs",
    "dsir_weights",
    "semdedup_fixed",
    "source_overlap",
    # round 13 new shapes, benched from birth
    "media_near_dup",
    "bpe_segment_fixed",
    "streaming_ingest_media",
    "audio_near_dup",
    "video_near_dup",
    "wordpiece_segment_fixed",
    # round 14 new shapes, benched from birth
    "read_files_csv",
    "read_files_jsonl",
    "chunk_overlap_docs",
    # round 15 new shapes, benched from birth
    "srp_multitable_ann",
    "pq_refine_fixed",
]

# Cheap stable queries re-run twice at the end of the suite; their
# first-vs-repeat spread is the round's empirical NOISE FLOOR — a
# per-query delta smaller than this spread is noise, not regression
# (VERDICT r5: one calibration probe couldn't distinguish the two).
_NOISE_PROBES = ["agg_distinct", "join_broadcast_dims"]

# Every headline query whose FIRST wall reaches this threshold is also
# re-run once at the end of the suite, so the expensive queries carry
# their own first-vs-repeat spread in noise_floor. Round 7's two bench
# artifacts disagreed by +0.61 s normalized on dedup_minhash and the
# cheap probes couldn't adjudicate environment-vs-regression from the
# artifacts alone (VERDICT r7 #3/"what's wrong" #2) — with repeat
# walls recorded for the expensive set, the next idle-vs-driver
# discrepancy is decidable without a rerun.
_REPEAT_THRESHOLD_SEC = 2.0

# queries whose output is wide/large: write to sink instead of collect
_WRITE_SINK = {
    "scan_filter_project",
    "text_stats",
    "asof_join_events",
    "incremental_merge",
    "bpe_tokenize",  # per-doc re-joined segmented text: collect would
    # measure driver transfer of the whole corpus, not the operator
}

# Aggregate host-drift subset (VERDICT r11 #1): the per-query flag gate
# compares each query against its OWN noise spread, so a uniform ~7%
# creep across all ~90 queries (r10f -> r11d) sits under every
# individual spread and nothing flags — the single spark-range-sum
# probe under-corrects moderate host drift. This pinned subset is the
# 21 pure-JVM TPC-H rows: plans untouched since round 7, no Python
# stages, no temp-dir or streaming constants — so a move in their
# host-normalized SUM is either residual host drift the probe missed
# (uniform, no per-query flags in the subset) or a real shared plan
# cost (and then the per-query gate usually names the culprits).
_DRIFT_SUBSET = [
    "tpch_q2_min_cost_supplier",
    "tpch_q3_shipping",
    "tpch_q4_order_priority",
    "tpch_q5_region_revenue",
    "tpch_q6_forecast_revenue",
    "tpch_q7_nation_volume",
    "tpch_q8_market_share",
    "tpch_q9_nation_profit",
    "tpch_q10_returned_items",
    "tpch_q11_important_parts",
    "tpch_q12_priority_shipping",
    "tpch_q13_cust_distribution",
    "tpch_q14_promo_effect",
    "tpch_q15_top_supplier",
    "tpch_q16_supplier_cnt",
    "tpch_q17_small_qty",
    "tpch_q18_large_orders",
    "tpch_q19_disjunctive_revenue",
    "tpch_q20_dominant_supplier",
    "tpch_q21_lone_blame",
    "tpch_q22_idle_balances",
]
_DRIFT_THRESHOLD_PCT = 5.0

# Superseded full records are folded into this append-only file (one
# summary line per record, including the per-query walls) and deleted
# from the repo root (VERDICT r11 #3: 23 BENCH_LOCAL files and
# counting). Readers fall back to history lines when the referenced
# file is gone, so round-over-round comparisons survive the cleanup.
_HISTORY_FILE = "BENCH_HISTORY.jsonl"

# Host-speed anchors — DIAGNOSTIC ONLY from round 15 (VERDICT r14 #2):
# the primary host normalizer is the suite-median ratio vs the previous
# record (_suite_ratio_median); the spark.range probe's median swung 5x
# across same-day runs while raw suite totals moved <10%, so probe-pair
# normalization manufactures regressions in either direction. The
# median-anchored probe factor remains recorded for cross-record
# comparability with the r4-r14 artifacts.
# The COLD anchor is the driver's round-4 calibration
# triple (BENCH_r04.json, committed as the canonical anchor in BASELINE.md
# §host-calibration): a record's first spark_range_sum sample / anchor is
# the host factor of the BENCH_r*.json wrappers _previous_round_times
# falls back to. The cold sample includes codegen compilation and swung
# 0.866 -> 2.502 across adjacent same-host records (VERDICT r12 #3), so from
# round 13 the HEADLINE host_factor is median-anchored instead: the warm
# median probe / the cross-record typical warm median below (history shows
# 0.152-0.272 across r7-r12 same-host records, median ~0.20, vs the two
# load-spike outliers 0.389/0.869).
_ANCHOR_SPARK_RANGE_SUM_SEC = 1.164
_ANCHOR_SPARK_RANGE_SUM_MEDIAN_SEC = 0.200


def run_query(spark, name: str, sf_dir: str, sink_root: str) -> float:
    t0 = time.perf_counter()
    df = QUERIES[name](spark, sf_dir)
    if name in _WRITE_SINK:
        df.write.mode("overwrite").parquet(os.path.join(sink_root, name))
    else:
        df.collect()
    elapsed = time.perf_counter() - t0
    # the dedup/similarity queries persist self-join intermediates;
    # release them between queries so cached state never occupies
    # executor memory during later queries (unpersist is async driver
    # bookkeeping — kept outside the measured window, matching how
    # earlier rounds' numbers were recorded)
    from chapterhousedb_spark.operators.dedup import release_self_join_caches

    release_self_join_caches()
    return elapsed


def _recover_from_tail(tail: str) -> tuple[dict, dict]:
    """Recover the flat "queries"/"calibration" dicts from a driver
    wrapper's front-truncated stdout tail. Both dicts are single-level,
    so non-greedy brace matching is exact. Returns ({}, {}) when the
    truncation cut into either dict."""
    import re

    times, cal = {}, {}
    mq = re.search(r'"queries":\s*(\{[^{}]*\})', tail)
    if mq:
        try:
            times = json.loads(mq.group(1))
        except json.JSONDecodeError:
            times = {}
    mc = re.search(r'"calibration":\s*(\{[^{}]*\})', tail)
    if mc:
        try:
            cal = json.loads(mc.group(1))
        except json.JSONDecodeError:
            cal = {}
    return times, cal


def _previous_round_times(
    sf: float | None = None,
) -> tuple[
    int | None,
    dict[str, float],
    float | None,
    float | None,
    dict[str, float],
]:
    """Per-query times of the newest complete PREVIOUS-round record,
    for round deltas: (round_n, times, that record's host_factor, its
    median Spark probe, its repeat walls).

    SUFFIXED records of the CURRENT round are skipped (ADVICE r13: a
    builder's earlier same-round run must not become the round-over-
    round baseline — intra-round comparisons live in the same_round
    block instead). The PLAIN current-round record stays eligible: by
    the _persist_local naming convention it is the DRIVER's
    end-of-previous-round run (max CORRECTNESS on disk + 1 at a time
    when the current round's artifact doesn't exist yet), i.e.
    previous-round CODE — r14 plain carries r13's 106 queries. A
    rehydrated `sf: null` counts as 0.1, the only sf ever recorded
    before the field existed (ADVICE r13 — a null must not match ANY
    requested sf).

    Preference order (round-13 fix): the newest complete in-repo
    record at the same scale factor (BENCH_LOCAL file or history
    line) first, because the driver-wrapped BENCH_r{N}.json files
    LOST their queries dict when the compact summary line became the
    surviving 2000-char stdout tail (r10+) — the old loader silently
    fell back to ROUND 5, the newest wrapper whose full payload
    survived, so every per-query delta and flag from r10 on was
    measured against round-5 walls under cold-anchor normalization.
    The BENCH_r glob remains as the fallback for checkouts with no
    local records."""
    import glob
    import re

    cur_n = _current_round_n()
    for name, obj in _iter_bench_records():
        times = obj.get("queries") or {}
        med = (obj.get("calibration") or {}).get("spark_range_sum_median_sec")
        rec_sf = obj.get("sf") or 0.1
        m = re.search(r"BENCH_LOCAL_r(\d+)([a-z]?)", name)
        rec_n = int(m.group(1)) if m else None
        rec_suffix = m.group(2) if m else ""
        if rec_n is not None and (
            rec_n > cur_n or (rec_n == cur_n and rec_suffix)
        ):
            continue
        if times and (sf is None or rec_sf == sf):
            return (
                rec_n,
                times,
                obj.get("host_factor"),
                med,
                _repeat_walls_of(obj),
            )
    here = os.path.dirname(os.path.abspath(__file__))
    best_n, best_times, best_factor, best_median = None, {}, None, None
    for p in glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        if not m:
            continue
        n = int(m.group(1))
        if best_n is None or n > best_n:
            try:
                obj = json.load(open(p))
            except (OSError, json.JSONDecodeError):
                continue
            # a crashed round records {"parsed": null}; fall back to the
            # object itself, never to None
            parsed = obj.get("parsed") or obj
            times = parsed.get("queries") or {}
            if not times:
                # some driver wrappers keep only the LAST 2000 chars of
                # stdout in a "tail" string (front-truncated mid-JSON)
                t = obj.get("tail")
                if isinstance(t, str):
                    times, cal = _recover_from_tail(t)
                    if cal:
                        parsed = {"calibration": cal}
            if times:
                cal = parsed.get("calibration") or {}
                sp = cal.get("spark_range_sum_sec")
                best_n, best_times = n, times
                best_factor = (
                    round(sp / _ANCHOR_SPARK_RANGE_SUM_SEC, 3) if sp else None
                )
                best_median = cal.get("spark_range_sum_median_sec")
    return best_n, best_times, best_factor, best_median, {}


def _repeat_walls_of(obj: dict) -> dict[str, float]:
    """A record's same-session repeat walls ({query: repeat_sec}), from
    its noise_floor block (full files, or history lines rehydrated via
    repeat_walls). Used so repeat-confirmed regression deltas compare
    repeat-vs-repeat (ADVICE r13: repeat walls are systematically
    faster than first walls, so repeat-vs-first suppressed genuine
    regressions whose repeat stayed under the previous FIRST wall)."""
    return {
        q: nf.get("repeat_sec")
        for q, nf in (obj.get("noise_floor") or {}).items()
        if isinstance(nf, dict) and nf.get("repeat_sec") is not None
    }


def _current_round_n() -> int:
    """Round number the rotation/persist logic uses: max
    CORRECTNESS_r{N} artifact on disk + 1 (the current round's
    artifact is only written after this bench run). SPARK_GRAFT_ROUND
    overrides the glob (same contract as workload._current_round —
    the two MUST agree or the BENCH_LOCAL record would be filed under
    a different round than the rotation that produced it)."""
    import glob
    import re

    env = os.environ.get("SPARK_GRAFT_ROUND")
    if env is not None:
        try:
            n = int(env)
            if n >= 1:
                return n
        except ValueError:
            pass
    here = os.path.dirname(os.path.abspath(__file__))
    ns = [
        int(m.group(1))
        for f in glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))
        for m in [re.search(r"CORRECTNESS_r(\d+)\.json$", f)]
        if m
    ]
    return max(ns) + 1 if ns else 1


def _iter_bench_records():
    """Every known complete bench record, newest first (round, then
    suffix): in-repo BENCH_LOCAL_r{N}{suffix}.json files first-class,
    BENCH_HISTORY.jsonl lines rehydrated into the same shape for
    records whose full file was folded away (VERDICT r11 #3). Yields
    (filename, record_dict); a file on disk wins over its history
    line."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    seen: dict[str, dict] = {}
    order: list[tuple[int, str, str]] = []
    for p in glob.glob(os.path.join(here, "BENCH_LOCAL_r*.json")):
        m = re.search(r"BENCH_LOCAL_r(\d+)([a-z]?)\.json$", p)
        if not m:
            continue
        try:
            obj = json.load(open(p))
        except (OSError, json.JSONDecodeError):
            continue
        name = os.path.basename(p)
        seen[name] = obj
        order.append((int(m.group(1)), m.group(2), name))
    hist = os.path.join(here, _HISTORY_FILE)
    if os.path.exists(hist):
        try:
            lines = open(hist).read().splitlines()
        except OSError:
            lines = []
        for line in lines:
            line = line.strip()
            if not line:
                continue
            try:
                rec = json.loads(line)
            except json.JSONDecodeError:
                continue
            name = rec.get("record") or ""
            m = re.search(r"BENCH_LOCAL_r(\d+)([a-z]?)\.json$", name)
            if not m or name in seen:
                continue
            seen[name] = {
                "queries": rec.get("queries") or {},
                "sf": rec.get("sf"),
                "flags": rec.get("flags"),
                "calibration": {
                    "spark_range_sum_median_sec": rec.get(
                        "calibration_median_sec"
                    )
                },
                "regressions": {
                    "aggregate_drift": rec.get("aggregate_drift"),
                    "persistent": rec.get("persistent"),
                },
                "noise_floor": {
                    q: {"repeat_sec": v}
                    for q, v in (rec.get("repeat_walls") or {}).items()
                    if v is not None
                },
            }
            order.append((int(m.group(1)), m.group(2), name))
    for _, _, name in sorted(order, reverse=True):
        yield name, seen[name]


def _same_round_record() -> tuple[str, dict, float] | None:
    """The newest COMPLETE record of the CURRENT round: a builder's
    idle-host run the driver's later run can be compared against on
    the SAME code. Round 7's idle-vs-driver bench disagreement was
    adjudicated by hand because no artifact carried this comparison
    (VERDICT r7 "what's wrong" #2). Returns
    (filename, queries, median_probe) or None."""
    import re

    n = _current_round_n()
    for name, obj in _iter_bench_records():
        if not re.fullmatch(rf"BENCH_LOCAL_r{n}[a-z]?\.json", name):
            continue
        times = obj.get("queries") or {}
        med = (obj.get("calibration") or {}).get("spark_range_sum_median_sec")
        if times and med:
            return name, times, med
    return None


def _drift_reference(sf: float | None) -> tuple[str, dict, float, bool] | None:
    """Reference for the aggregate-drift rule AT THE SAME SCALE FACTOR:
    (filename, queries, median_probe, newest record's own drift flag).
    Sum comparisons are sf-sensitive, so a builder's sf0.01 iteration
    run must never become the reference for a driver sf0.1 run (records
    predating the sf field count as sf0.1, the only sf ever recorded
    before round 12). Records predating the drift block read as
    unflagged, so the two-consecutive persistence rule starts counting
    from this round.

    The MEASUREMENT baseline is the newest record that was NOT itself
    drift-flagged (VERDICT r12 #3: r12e ran under a mid-run load spike
    its start-of-run probe could not see, got flagged +35.6%, and then
    became r13's reference — whipsawing the next normal run to an
    artificial -44.3%). The PERSISTENCE flag still reads the newest
    record regardless, preserving the two-consecutive-records rule.
    If every same-sf record is flagged, fall back to the newest."""
    newest: tuple[str, dict, float, bool] | None = None
    for name, obj in _iter_bench_records():
        times = obj.get("queries") or {}
        med = (obj.get("calibration") or {}).get("spark_range_sum_median_sec")
        # null sf (rehydrated pre-r12 lines) counts as 0.1, the only sf
        # ever recorded before the field existed (ADVICE r13)
        rec_sf = obj.get("sf") or 0.1
        # med (the record's probe median) is diagnostic-only from r15
        # (VERDICT r14 #2) — a record without one still anchors the
        # suite-median comparison
        if times and (sf is None or rec_sf == sf):
            agg = (obj.get("regressions") or {}).get("aggregate_drift") or {}
            flagged = bool(agg.get("flagged"))
            if newest is None:
                newest = (name, times, med, flagged)
            if not flagged:
                return name, times, med, newest[3]
    return newest


# a query is FLAGGED when its host-normalized slowdown vs the previous
# round exceeds its own measured noise spread. Queries without a
# repeat wall (sub-threshold, no per-query spread) use this absolute
# floor instead; measured queries use their OWN spread with only a
# small granularity guard, so a persistent 0.1s regression on a fast
# query with a tight spread still flags (review r10 — the old
# unconditional 0.15s floor exempted every sub-150ms regression).
_FLAG_FLOOR_SEC = 0.15
_FLAG_GRANULARITY_SEC = 0.05


def _flagged(
    deltas_norm: dict,
    noise_floor: dict,
    repeat_deltas_norm: dict | None = None,
    deltas_confirm: dict | None = None,
) -> list[str]:
    """Queries whose positive host-normalized delta exceeds their own
    first-vs-repeat spread (the per-query empirical noise floor).

    When the query has a same-session REPEAT wall, the repeat must
    confirm the regression (its own delta also over threshold):
    round 13's gusty host inflated a contiguous block of first walls
    3-10x while every repeat wall sat at normal (41.7 s -> 3.9 s) — a
    real plan regression is slow BOTH times, a host gust is not.
    Queries without a repeat keep the single-wall rule.

    When `deltas_confirm` is given, the confirmation delta must also
    clear the threshold. From r15 the primary caller passes NO
    confirmation dict: the suite-median-normalized view that served as
    r14's confirmation stage is now the primary `deltas_norm` itself
    (VERDICT r14 #2 — round 14's probe pair read 31% fast and inflated
    every probe-normalized delta ~44%, flagging 64 queries whose raw
    walls had not moved; the suite median is the host factor the SUITE
    itself implies, immune to a decoupled probe in either direction,
    while a plain raw-delta guard would mask a genuine regression
    whenever the host got uniformly faster). The parameter stays for
    callers that want an extra normalizer cross-check. A shared cost
    moving MOST queries at once partially absorbs into the median —
    that case remains the aggregate gate's job (drift_pct_raw)."""
    out = []
    for q, d in deltas_norm.items():
        nf = noise_floor.get(q) or {}
        spread = nf.get("spread_sec")
        thr = (
            max(spread, _FLAG_GRANULARITY_SEC)
            if spread is not None
            else _FLAG_FLOOR_SEC
        )
        if d > thr:
            rep = (repeat_deltas_norm or {}).get(q)
            if rep is not None and rep <= thr:
                continue
            conf = (deltas_confirm or {}).get(q)
            if conf is not None and conf <= thr:
                continue
            out.append(q)
    return sorted(out)


def _flags_from_record(obj: dict) -> list[str] | None:
    """A record's flagged-query list: the explicit `flags` key (r10+),
    else recomputed from its own normalized deltas + noise floor."""
    if isinstance(obj.get("flags"), list):
        return obj["flags"]
    dn = obj.get("deltas_vs_prev_host_normalized")
    if not isinstance(dn, dict) or not dn:
        return None
    return _flagged(dn, obj.get("noise_floor") or {})


def _previous_record_flags() -> tuple[str | None, list[str] | None]:
    """Flags of the newest complete bench record (any round/suffix,
    file or history line) — the 'previous consecutive round' side of
    the regression rule. Returns (filename, flags) or (None, None)."""
    for name, obj in _iter_bench_records():
        flags = _flags_from_record(obj)
        if flags is not None:
            return name, flags
    return None, None


def _suite_ratio_median(times: dict, ref_times: dict) -> float:
    """Suite-implied host factor vs a reference record: the median
    per-query raw wall ratio over shared queries big enough for a
    stable ratio (>= 0.5 s at the reference). ~100 paired walls vs the
    3-sample spark.range probe — immune to a probe decoupled from
    suite throughput in either direction (the r14 finding, proven by
    the interleaved A/B in AB_DRIFT_r14.json). Falls back to 1.0
    (raw comparison) when fewer than 5 stable pairs exist."""
    import statistics

    pool = [
        times[q] / ref_times[q]
        for q in times
        if q in ref_times and ref_times[q] >= 0.5 and times[q] > 0
    ]
    return statistics.median(pool) if len(pool) >= 5 else 1.0


def _aggregate_drift(
    times: dict,
    flags: list,
    median_probe: float | None = None,
    sf: float | None = None,
) -> dict | None:
    """Aggregate drift block (VERDICT r11 #1, renormalized per VERDICT
    r14 #2): the SUM over the pinned stable subset, suite-median
    normalized, compared to the newest complete record that was not
    itself drift-flagged (see _drift_reference). The normalizer is the
    median per-query raw ratio vs that reference over ALL shared
    stable queries — the spark.range probe pair it replaces
    demonstrably over-corrected on this host (r14: residual factor
    0.484, `probe_overcorrection` fired persistent two records
    running) and is now only a reported diagnostic (`probe_median_sec`).

    What survives suite normalization is a shared cost SPECIFIC to the
    subset (e.g. every TPC-H join slowed while the LLM ops did not):
    with subset members individually flagged it classifies as
    plan-cost candidates, without them as `subset_shared_cost`. A
    suite-WIDE uniform move (host drift or a cost every query pays)
    absorbs into the median by construction and remains visible in
    `drift_pct_raw`, which is always reported alongside. Mirrors the
    per-query persistence rule: two consecutive flagged records =
    persistent. Returns None when no usable reference exists."""
    drift_ref = _drift_reference(sf)
    if drift_ref is None:
        return None
    ref_name, ref_times, ref_med, ref_flagged = drift_ref
    common = [q for q in _DRIFT_SUBSET if q in times and q in ref_times]
    if len(common) < 10:
        return None
    r_med_ref = _suite_ratio_median(times, ref_times)
    raw_sum = sum(times[q] for q in common)
    now_norm = raw_sum / r_med_ref
    ref_sum = sum(ref_times[q] for q in common)
    drift_pct = round(100.0 * (now_norm - ref_sum) / ref_sum, 1)
    drift_pct_raw = round(100.0 * (raw_sum - ref_sum) / ref_sum, 1)
    agg_flagged = abs(drift_pct) > _DRIFT_THRESHOLD_PCT
    subset_query_flags = sorted(set(flags) & set(common))
    if not agg_flagged:
        classification = "none"
    elif subset_query_flags:
        classification = "plan_cost_candidates"
    else:
        classification = "subset_shared_cost"
    return {
        "rule": (
            "suite-median-normalized sum over the pinned stable subset "
            f"moves >{_DRIFT_THRESHOLD_PCT}% vs the newest UNFLAGGED "
            "record; persistent when the newest record also flagged"
        ),
        "subset_n": len(common),
        "ref": ref_name,
        "sum_sec_suite_norm": round(now_norm, 3),
        "sum_sec_raw": round(raw_sum, 3),
        "ref_sum_sec": round(ref_sum, 3),
        "suite_ratio_median_vs_ref": round(r_med_ref, 3),
        "drift_pct": drift_pct,
        "drift_pct_raw": drift_pct_raw,
        # probe diagnostics only — never a divisor (VERDICT r14 #2)
        "probe_median_sec": median_probe,
        "ref_probe_median_sec": ref_med,
        "flagged": agg_flagged,
        "flagged_prev": ref_flagged,
        "persistent": bool(agg_flagged and ref_flagged),
        "subset_query_flags": subset_query_flags,
        "classification": classification,
    }


# When the first and repeat walls disagree by more than this, a THIRD
# wall adjudicates (VERDICT r13 #3: a host gust landing on the REPEAT
# wall — similarity_pq 9.55 s -> 28.56 s in r13 — inflated spread_pct,
# which widens the flag threshold for every future round).
_THIRD_WALL_SPREAD_PCT = 50.0


def _noise_entry(first: float, rerun) -> dict:
    """One noise_floor entry from the query's first wall plus a rerun
    callable (returns a wall in seconds). Gust-resistant: when the two
    walls disagree by more than _THIRD_WALL_SPREAD_PCT a third wall is
    run, and the recorded spread comes from the two CLOSEST walls —
    one gusty wall, whichever side AND whichever direction (slow gust
    or cache-fluke fast) it lands on, can no longer inflate the
    spread. The two-smallest rule the first round-14 cut used still
    let a gusty-FAST wall both inflate the spread and become
    repeat_sec (review finding): with walls [10.0, 3.0, 9.5] the
    smallest pair spans 3.0-9.5 while the CLOSEST pair is (9.5, 10.0).
    repeat_sec is the non-first member of the closest pair when one
    exists (the wall corroborated by another), else the min of the
    repeats — so the repeat-confirmation rule in _flagged compares
    against a corroborated wall. All walls are recorded when a third
    ran."""
    rep = round(rerun(), 3)
    walls = [first, rep]
    two_wall_pct = (
        200.0 * abs(first - rep) / (first + rep) if first + rep else 0.0
    )
    if two_wall_pct > _THIRD_WALL_SPREAD_PCT:
        walls.append(round(rerun(), 3))
    order = sorted(range(len(walls)), key=lambda i: walls[i])
    gaps = [
        (walls[order[i + 1]] - walls[order[i]], i)
        for i in range(len(order) - 1)
    ]
    spread, gi = min(gaps)
    pair_idx = {order[gi], order[gi + 1]}
    pair_repeats = [walls[i] for i in pair_idx if i != 0]
    entry = {
        "first_sec": first,
        "repeat_sec": min(pair_repeats) if pair_repeats else min(walls[1:]),
        "spread_sec": round(spread, 3),
        "spread_pct": round(
            200.0 * spread / (walls[order[gi]] + walls[order[gi + 1]]), 1
        )
        if walls[order[gi]] + walls[order[gi + 1]]
        else 0.0,
    }
    if len(walls) > 2:
        entry["walls"] = walls
    return entry


def _median_of(fn, n: int) -> tuple[float, list[float]]:
    import statistics

    xs = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        xs.append(time.perf_counter() - t0)
    return statistics.median(xs), [round(x, 3) for x in xs]


def _calibration(spark) -> dict[str, object]:
    """Host-speed probes so query times are comparable across rounds on
    hosts of different speed (round 4 observed byte-identical queries
    uniformly ~1.4x slower than round 2 on the same code — per-job
    constant overhead, not plan changes). Normalize deltas against
    these before reading a per-query delta as a regression.

    Each probe is a MEDIAN of repeats (5x for the Spark normalizer,
    3x for the cheap ones) with the raw samples emitted alongside:
    round 5's single-shot probe measured 0.944 while 16/19 queries ran
    slower normalized — one sample cannot tell probe noise from a real
    drift, the sample list can (VERDICT r5 #1)."""

    def _py():
        x = 0
        for i in range(5_000_000):
            x += i

    py, py_all = _median_of(_py, 3)
    import numpy as np

    a = np.random.default_rng(0).standard_normal((1200, 1200))
    np_t, np_all = _median_of(lambda: float((a @ a).sum()), 3)
    # fixed Spark job: measures JVM scheduler + codegen constant costs.
    # The FIRST sample includes codegen compilation (the r2-r5 anchors
    # were recorded exactly that way, so `spark_range_sum_sec` keeps
    # that cold semantic for anchor comparability); the MEDIAN is over
    # the WARM samples only from r13 on (the cold spike previously sat
    # inside a 5-sample median and dragged it whenever one warm sample
    # was noisy — r13's 0.272 vs warm-only 0.268; VERDICT r12 #3), with
    # 7 warm samples instead of 4 so one load blip cannot move it.
    import statistics

    def _spark_probe():
        spark.range(50_000_000).selectExpr("sum(id)").collect()

    _, sp_all = _median_of(_spark_probe, 8)
    sp_med = statistics.median(sp_all[1:])
    return {
        "python_loop_sec": round(py, 3),
        "numpy_matmul_sec": round(np_t, 3),
        "spark_range_sum_sec": sp_all[0],  # cold (anchor-comparable)
        "spark_range_sum_median_sec": round(sp_med, 3),
        "python_loop_all": py_all,
        "numpy_matmul_all": np_all,
        "spark_range_sum_all": sp_all,
    }


def _persist_local(payload: dict) -> str | None:
    """Write the full bench JSON to BENCH_LOCAL_r{N}.json next to this
    script BEFORE printing to stdout. Round 6's driver wrapper kept
    only the last 2000 chars of stdout and the tail truncation
    destroyed the raw walls of every new headline query (VERDICT r6
    "what's wrong" #3) — the durable in-repo artifact makes per-query
    walls unloseable. The round number is derived the same way the
    rotation does (max CORRECTNESS_r{N} on disk + 1: the current
    round's artifact is written after this bench run). Best-effort:
    an unwritable repo dir must not fail the bench itself."""
    here = os.path.dirname(os.path.abspath(__file__))
    n = _current_round_n()
    # never clobber an existing record: the same round number can be
    # claimed twice (a builder run mid-round and the DRIVER's run after
    # the round's CORRECTNESS artifact lands both derive the same N) —
    # round 8 lost the driver's round-7 record to exactly this overlap.
    # Suffixes keep every run: BENCH_LOCAL_r9.json, r9b, r9c, ...
    # A name already claimed by a HISTORY line is also taken (round 14:
    # a record folded into history freed its on-disk name, the next run
    # re-claimed it, and two different records shared one history name
    # — the rehydrator keeps first-wins, silently serving stale walls)
    taken = set()
    hist = os.path.join(here, _HISTORY_FILE)
    if os.path.exists(hist):
        try:
            for line in open(hist):
                try:
                    taken.add(json.loads(line).get("record"))
                except json.JSONDecodeError:
                    continue
        except OSError:
            pass
    suffixes = [""] + [chr(c) for c in range(ord("b"), ord("z") + 1)]
    path = None
    for suf in suffixes:
        name = f"BENCH_LOCAL_r{n}{suf}.json"
        cand = os.path.join(here, name)
        if not os.path.exists(cand) and name not in taken:
            path = cand
            break
    if path is None:
        return None
    try:
        with open(path, "w") as f:
            json.dump(payload, f, indent=1)
            f.write("\n")
    except OSError:
        return None
    # append the same record's summary line to the history file so the
    # full file can later be deleted without losing round-over-round
    # comparability (the line carries the per-query walls + the fields
    # _iter_bench_records rehydrates). Best-effort like the file write.
    try:
        with open(os.path.join(here, _HISTORY_FILE), "a") as f:
            f.write(json.dumps(_history_entry(payload, os.path.basename(path))))
            f.write("\n")
    except OSError:
        pass
    return path


def _history_entry(payload: dict, record_name: str) -> dict:
    """One BENCH_HISTORY.jsonl line: everything a later round's
    comparisons need from this record (per-query walls, the median
    probe, flags, the aggregate-drift verdict) without the bulky
    noise_floor/deltas blocks."""
    regs = payload.get("regressions") or {}
    agg = regs.get("aggregate_drift")
    return {
        "record": record_name,
        "metric": payload.get("metric"),
        "value": payload.get("value"),
        "unit": payload.get("unit"),
        "sf": payload.get("sf"),
        "n_queries": len(payload.get("queries") or {}),
        "host_factor": payload.get("host_factor"),
        "calibration_median_sec": (payload.get("calibration") or {}).get(
            "spark_range_sum_median_sec"
        ),
        "flags": payload.get("flags"),
        "persistent": regs.get("persistent"),
        "aggregate_drift": agg,
        "queries": payload.get("queries"),
        # compact repeat walls so repeat-vs-repeat deltas survive the
        # full file's deletion (ADVICE r13)
        "repeat_walls": {
            q: nf.get("repeat_sec")
            for q, nf in (payload.get("noise_floor") or {}).items()
            if isinstance(nf, dict) and nf.get("repeat_sec") is not None
        },
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = build_session(app_name="chdb-bench")
    sink_root = tempfile.mkdtemp(prefix="chdb_bench_")
    try:
        # one tiny warmup to exclude JVM/session startup from per-query time
        QUERIES["scan_filter_project"](spark, sf_dir).limit(1).collect()
        calibration = _calibration(spark)
        times: dict[str, float] = {}
        for name in HEADLINE:
            times[name] = round(run_query(spark, name, sf_dir, sink_root), 3)
        # empirical noise floor: same query, same session, seconds
        # apart — the cheap stable probes plus EVERY headline query
        # whose first wall reached _REPEAT_THRESHOLD_SEC
        probes = _NOISE_PROBES + [
            q
            for q in HEADLINE
            if times[q] >= _REPEAT_THRESHOLD_SEC and q not in _NOISE_PROBES
        ]
        noise_floor = {}
        for name in probes:
            noise_floor[name] = _noise_entry(
                times[name],
                lambda n=name: run_query(spark, n, sf_dir, sink_root),
            )
        total = round(sum(times.values()), 3)
        sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
        prev_n, prev, _, _, prev_repeats = (
            _previous_round_times(sf=float(sf) if sf else None)
        )
        deltas = {
            q: round(times[q] - prev[q], 3) for q in times if q in prev
        }
        # Host-normalized view (VERDICT r14 #2): the PRIMARY normalizer
        # is the suite itself — r_med = median per-query raw wall ratio
        # vs the previous record over stable pairs (~100 paired walls).
        # This round's times are rescaled into the previous record's
        # host seconds, so a uniformly slower/faster sandbox host reads
        # as ~0 delta and only genuine plan changes stand out. The
        # spark.range probe pair that normalized r4-r14 is demoted to a
        # reported diagnostic: its median swung 5x across same-day runs
        # while raw suite totals moved <10% (AB_DRIFT_r14.json /
        # BENCH_r14's residual_host_factor 0.484), so a probe-normalized
        # view manufactures regressions in either direction. A real
        # regression in ONE query shifts a ~100-sample median
        # negligibly; a cost moving MOST queries at once absorbs into
        # the median and remains visible in deltas_vs_prev (raw) and
        # the aggregate gate's drift_pct_raw.
        r_med = _suite_ratio_median(times, prev)
        norm_kind = "suite_median"
        deltas_norm = {
            q: round(times[q] / r_med - prev[q], 3)
            for q in times
            if q in prev
        }
        # probe diagnostic (never a divisor from r15): the median-
        # anchored factor keeps cross-record comparability with r4-r14.
        host_factor = round(
            calibration["spark_range_sum_median_sec"]
            / _ANCHOR_SPARK_RANGE_SUM_MEDIAN_SEC,
            3,
        )
        # same-round self-adjudication: when a complete record of THIS
        # round already exists in-repo (the builder's idle-host run),
        # record median-normalized deltas against it — same code, so
        # any residual spread is ENVIRONMENT by construction and an
        # idle-vs-driver disagreement is decidable from artifacts alone
        same = _same_round_record()
        same_block = None
        if same is not None:
            ref_name, ref_times, ref_med = same
            r_same = _suite_ratio_median(times, ref_times)
            same_block = {
                "ref": ref_name,
                "suite_ratio_median_vs_ref": round(r_same, 3),
                "ref_probe_median_sec": ref_med,
                "deltas_host_normalized": {
                    q: round(times[q] / r_same - ref_times[q], 3)
                    for q in times
                    if q in ref_times
                },
            }
        # self-adjudicating regression gate (VERDICT r9 #9): a query
        # regressed when its host-normalized slowdown beats its OWN
        # noise spread in TWO consecutive records — one noisy round
        # cannot cry wolf, and a real plan regression cannot hide as
        # environment for two rounds running. Recorded as an artifact
        # block, never a test assertion (a slow sandbox must not flake
        # the suite); the judge reads `regressions.persistent` instead
        # of doing delta archaeology.
        # repeat-confirmed flags: where a same-session repeat wall
        # exists, it must independently exceed the threshold too (a
        # host gust inflates one wall; a plan regression inflates both).
        # The repeat compares against the PREVIOUS record's repeat wall
        # when one exists (ADVICE r13: repeats run warm, so comparing a
        # repeat against the previous FIRST wall silently suppressed
        # regressions whose repeat stayed under the prior cold wall);
        # only queries with no prior repeat fall back to the first wall.
        repeat_deltas_norm = {
            q: round(
                nf["repeat_sec"] / r_med - prev_repeats.get(q, prev[q]),
                3,
            )
            for q, nf in noise_floor.items()
            if q in prev and nf.get("repeat_sec") is not None
        }
        # flags come from the suite-normalized deltas with repeat-wall
        # confirmation; the probe-confirmation stage is gone with the
        # probe (the suite-median view IS the former confirmation
        # normalizer, now primary — VERDICT r14 #2)
        flags = _flagged(deltas_norm, noise_floor, repeat_deltas_norm)
        prev_rec_name, prev_flags = _previous_record_flags()
        # aggregate drift gate (VERDICT r11 #1, suite-normalized per
        # r14 #2): the subset SUM vs the newest unflagged record. What
        # survives suite normalization is a subset-specific shared
        # cost; a suite-wide move stays visible in drift_pct_raw.
        drift_block = _aggregate_drift(
            times,
            flags,
            calibration["spark_range_sum_median_sec"],
            sf=float(sf) if sf else None,
        )
        regressions = {
            "rule": (
                "suite-median-normalized delta > own noise spread (min "
                f"{_FLAG_GRANULARITY_SEC}s; queries without a repeat "
                f"wall use a flat {_FLAG_FLOOR_SEC}s floor) in two "
                "consecutive records, repeat-wall confirmed"
            ),
            "flagged_now": flags,
            "prev_record": prev_rec_name,
            "flagged_prev": prev_flags,
            "persistent": sorted(set(flags) & set(prev_flags or [])),
            "aggregate_drift": drift_block,
        }
        payload = {
            "metric": "headline_queries_total_wall",
            "value": total,
            "unit": "sec",
            "queries": times,
            "sf": float(sf) if sf else None,
            "prev_round": prev_n,
            "deltas_vs_prev": deltas,
            "host_factor": host_factor,
            "host_factor_kind": "probe_diagnostic",
            "suite_ratio_median_vs_prev": round(r_med, 3),
            "host_norm_kind": norm_kind,
            "deltas_vs_prev_host_normalized": deltas_norm,
            "same_round": same_block,
            "flags": flags,
            "regressions": regressions,
            "noise_floor": noise_floor,
            "calibration": calibration,
        }
        _persist_local(payload)
        print(json.dumps(payload))
        # VERDICT r10 #2: the driver's BENCH_r{N}.json wrapper keeps
        # only the LAST 2000 chars of stdout, so the big payload line
        # has parsed as null three rounds running. Emit a compact,
        # SELF-CONTAINED summary as the final stdout line (< ~1.8 KB:
        # list fields capped, per-query walls live in line 1 and in
        # the BENCH_LOCAL record) so the surviving tail always ends in
        # parseable JSON with non-null totals/flags.
        slowest = dict(
            sorted(times.items(), key=lambda kv: -kv[1])[:5]
        )
        # VERDICT r15 #2: per-query walls IN the final line. 111 names
        # don't fit the ~1.9 KB cap, but a positional array of
        # 1-decimal walls in HEADLINE order (+ an order hash so a
        # reader can verify which name list it indexes) costs ~600
        # chars — PERF/judges can reconstruct every wall from the one
        # line the driver reliably keeps.
        import hashlib

        perq = [round(times[q], 1) for q in HEADLINE]
        perq_order_hash = hashlib.md5(
            ",".join(HEADLINE).encode()
        ).hexdigest()[:8]
        summary = {
            "bench_summary": True,
            "metric": "headline_queries_total_wall",
            "value": total,
            "unit": "sec",
            "sf": float(sf) if sf else None,
            "n_queries": len(times),
            "perq": perq,
            "perq_order": "HEADLINE",
            "perq_order_hash": perq_order_hash,
            "host_factor": host_factor,
            "host_norm_kind": norm_kind,
            "prev_round": prev_n,
            "flags": flags[:20],
            "persistent_regressions": regressions["persistent"][:20],
            "agg_drift_pct": (drift_block or {}).get("drift_pct"),
            "agg_drift": (drift_block or {}).get("classification"),
            "prev_record": prev_rec_name,
            "slowest5_sec": slowest,
            "calibration_median_sec": calibration[
                "spark_range_sum_median_sec"
            ],
        }
        # fit the cap by SHEDDING detail, never by erroring: an
        # AssertionError traceback here would itself become the
        # unparseable stdout tail this line exists to prevent (and
        # would throw away the whole completed run). Drop the bulkiest
        # optional fields first; flags/persistent survive longest in
        # truncated form.
        # perq sheds LAST before the guaranteed-fit fallback: restoring
        # driver-readable per-query walls is this line's reason to
        # exist (VERDICT r15 #2), so the diagnostic lists go first
        for shed in (
            None,
            ("slowest5_sec",),
            ("flags", 8),
            ("persistent_regressions", 8),
            ("prev_record",),
            ("perq",),
        ):
            if shed is not None:
                if len(shed) == 2:
                    summary[shed[0]] = summary[shed[0]][: shed[1]]
                else:
                    summary.pop(shed[0], None)
            line = json.dumps(summary)
            if len(line) < 1900:
                break
        else:
            # guaranteed-fit fallback: never print an over-cap line
            line = json.dumps(
                {"bench_summary": True, "value": total, "unit": "sec"}
            )
        print(line)
    finally:
        shutil.rmtree(sink_root, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
