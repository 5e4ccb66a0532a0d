"""Similarity search over embedding columns (array<float>).

Two paths:
- cosine_topk: brute-force exact scan — the correctness baseline. The
  dot product runs as a JVM higher-order expression (zip_with +
  aggregate) and top-k collapses to TakeOrdered (no global sort, no
  shuffle of the corpus).
- srp_ann_topk: the scale path — signed-random-projection LSH buckets
  with multiprobe, so only a small fraction of the corpus is scored.

The SRP hyperplanes are derived deterministically from xxhash64(dim,
plane) so executors need no broadcast side state and results are
reproducible across runs/engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dot(a: str, b: str) -> Column:
    return F.expr(f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * y), 0D, (s, v) -> s + v)")


def _norm(a: str) -> Column:
    return F.sqrt(F.expr(f"aggregate({a}, 0D, (s, v) -> s + CAST(v AS DOUBLE) * v)"))


def cosine_scores(
    df: DataFrame, query_vec: list[float], vec_col: str = "embedding"
) -> DataFrame:
    """Append cosine similarity to a constant query vector."""
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    qn = sum(v * v for v in query_vec) ** 0.5
    df = df.withColumn("__q", q)
    # greatest(denom, 1e-12): bit-identical for every real vector
    # (norms >> 1e-12) and gives degenerate zero vectors cosine 0.0
    # instead of an ANSI DIVIDE_BY_ZERO job failure
    return (
        df.withColumn(
            "cosine",
            _dot(vec_col, "__q")
            / F.greatest(_norm(vec_col) * F.lit(qn), F.lit(1e-12)),
        )
        .drop("__q")
    )


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact brute-force top-k by cosine (ties broken by id).

    orderBy+limit compiles to TakeOrderedAndProject: each partition
    keeps its local top-k, the driver merges k*partitions rows — the
    full corpus is scanned once, never shuffled.
    """
    return (
        cosine_scores(df, query_vec, vec_col)
        .select(id_col, "cosine")
        .orderBy(F.col("cosine").desc(), F.col(id_col))
        .limit(k)
    )


# ------------------------------------------------------------------- SRP LSH


def srp_signature(
    vec_col: str, planes: int = 16, dims: int = 64, seed: int = 7
) -> Column:
    """Signed-random-projection bucket id (one bit per hyperplane).

    Hyperplane component h[p][d] is ±1 derived from xxhash64(p*dims+d,
    seed) — deterministic, computed inline, no stored model.
    """
    return F.expr(
        f"aggregate(sequence(0, {planes - 1}), 0L, (acc, p) -> acc + CASE WHEN "
        f"aggregate(sequence(0, {dims - 1}), 0D, (s, d) -> s + "
        f"CAST({vec_col}[d] AS DOUBLE) * (CAST((xxhash64(p * {dims} + d, {seed}) & 1) * 2 - 1 AS DOUBLE))"
        f") > 0D THEN shiftleft(1L, p) ELSE 0L END)"
    )


def srp_ann_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    planes: int = 16,
    multiprobe: int = 1,
    seed: int = 7,
    seeds: list[int] | None = None,
) -> DataFrame:
    """Approximate top-k: score only vectors whose SRP bucket is within
    hamming distance `multiprobe` (bit flips) of the query's bucket.

    At scale the corpus is bucketed once (16 planes -> 65k buckets) and
    a query touches sum_{h<=multiprobe} C(planes, h) buckets — 17 at
    multiprobe=1, 137 at multiprobe=2 — a ~4000x scan reduction at the
    default, tunable via planes/multiprobe (recall is monotone in
    multiprobe; multiprobe=planes degenerates to a full scan). Bucket
    ids are a plain column, so the bucketed corpus can be written
    partitioned/bucketed by `bucket` for pruned reads.

    `seeds` adds the other classic LSH recall lever — MULTI-TABLE: one
    independent hash table per seed, candidates unioned across tables
    before ONE exact rerank. A neighbor colliding with probability p
    per table is found with probability 1 - (1-p)^T after T tables, so
    recall compounds where deeper multiprobe flattens (VERDICT r14 #5:
    multiprobe alone plateaued well under 0.8 on the probe corpus;
    4 tables at planes=12/multiprobe=2 cleared it — see the
    srp_recall_curve keys of scripts/scale_probe_r15.json and SCALE.md
    "ANN recall program"). Scan cost:
    still ONE pass over the corpus (the per-table bucket filters OR
    together), candidate volume ~T x single-table; on a persisted
    layout each table is its own bucket-partitioned index
    (srp_write_index per seed) and the probe reads T x
    sum_{h<=multiprobe} C(planes, h) bucket directories. `seed` is the
    single-table shorthand, ignored when `seeds` is given."""
    if not 0 <= multiprobe <= planes:
        raise ValueError(f"multiprobe must be in [0, planes={planes}], got {multiprobe}")
    seed_list = list(seeds) if seeds is not None else [seed]
    if not seed_list:
        raise ValueError("seeds must name at least one hash table")
    dims = len(query_vec)
    # compute every table's query bucket with the same JVM expression
    # family (one 1-row job for all tables)
    qdf = df.sparkSession.range(1).select(
        F.array(*[F.lit(float(v)) for v in query_vec]).alias("qv")
    )
    qrow = qdf.select(
        *[
            srp_signature("qv", planes, dims, s).alias(f"b{i}")
            for i, s in enumerate(seed_list)
        ]
    ).collect()[0]
    cond = None
    for i, s in enumerate(seed_list):
        probes = srp_probe_buckets(qrow[f"b{i}"], planes, multiprobe)
        c = srp_signature(vec_col, planes, dims, s).isin(probes)
        cond = c if cond is None else (cond | c)
    cand = df.filter(cond)
    return cosine_topk(cand, query_vec, k, vec_col, id_col)


def srp_probe_buckets(qbucket: int, planes: int, multiprobe: int) -> list[int]:
    """All bucket ids within hamming distance `multiprobe` of `qbucket`
    (driver side; the count is sum_{h<=multiprobe} C(planes, h))."""
    from itertools import combinations

    probes = [qbucket]
    for h in range(1, max(0, multiprobe) + 1):
        for idxs in combinations(range(planes), h):
            mask = 0
            for p in idxs:
                mask |= 1 << p
            probes.append(qbucket ^ mask)
    return probes


def _unit_expr(vec_col: str) -> Column:
    """L2-normalized copy of an array<float> column (JVM expression)."""
    return F.expr(
        f"transform({vec_col}, x -> CAST(x AS DOUBLE) / "
        f"greatest(sqrt(aggregate({vec_col}, 0D, (s, v) -> s + CAST(v AS DOUBLE) * v)), 1e-12))"
    )


def _deterministic_train_cap(
    train: DataFrame, cap: int, seed: int
) -> DataFrame:
    """FAISS-practice bounded training set (VERDICT r12 #4): Lloyd's
    fits only need the cluster structure, so cap the training rows at
    ~256 per centroid with a DETERMINISTIC, partitioning-independent
    selection. The selection key is xxhash64(unit_vec, seed) — the
    SAME content-keyed ordering the k-seeds init already TakeOrders by
    — so (a) the cap costs exactly the one sort the fit pays anyway
    (the seeds then read the cached cap output instead of re-sorting
    the corpus), and (b) the chosen seeds are IDENTICAL to the
    uncapped fit's at any corpus size: the k hash-smallest vectors are
    inside the cap hash-smallest whenever cap >= k. Returns
    (__u, __h) rows. At 100 TB this turns an O(corpus) per-iteration
    cost into a constant ~256*k rows; on a corpus under the cap it
    selects everything and the fit is unchanged.

    The sort-limit lands its output on ONE partition
    (TakeOrderedAndProject's single reducer); re-spread only when the
    capped set warrants parallel iteration tasks (~4k rows per task —
    a tiny training set across 32 tasks pays more in scheduling +
    per-task pandas batches than one task doing the whole set; both
    misconfigurations measured 1.5-3x slower at sf0.1). Round-robin
    repartitioning is safe because the fit is partitioning-INDEPENDENT
    by construction (scaled-integer order-independent means, lowest-id
    tie-breaks — test-pinned bit-identical)."""
    capped = (
        train.select("__u", F.xxhash64("__u", F.lit(seed)).alias("__h"))
        .orderBy("__h", "__u")
        .limit(cap)
    )
    try:
        ceiling = int(
            train.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    except (TypeError, ValueError):
        ceiling = 32
    n = max(1, min(ceiling, cap // 4096))
    # n == 1: the sort-limit already left everything on one partition —
    # a repartition(1) would only add an exchange
    return capped if n == 1 else capped.repartition(n)


def _capped_train_rows(
    train: DataFrame, cap: int, seed: int
) -> list[list[float]]:
    """Collect the deterministic training cap to the driver, in the
    cap's own (__h, __u) order (TakeOrderedAndProject output order is
    the sort order, so the first k rows ARE the hash-smallest seeds).
    ONE Spark job; ≤ cap rows of dims doubles — the same bounded-fetch
    budget as the seeds collect the Spark-side fit already paid
    (VERDICT r12 #4 sizes cap at 256·k — ~1-2 MB at the defaults,
    constant in corpus size)."""
    ordered = (
        train.select("__u", F.xxhash64("__u", F.lit(seed)).alias("__h"))
        .orderBy("__h", "__u")
        .limit(cap)
    )
    return [[float(x) for x in r["__u"]] for r in ordered.collect()]


def _round_half_up(x):
    """Vectorized exact replay of Spark's round(double) (HALF_UP on the
    exact double value). floor(x + 0.5) is NOT equivalent: when x+0.5
    is inexact the float addition can round across the integer
    boundary (e.g. x = 0.5 - 2^-54). abs/floor/subtract are exact for
    |x| < 2^51, so frac is the exact fractional part and the >= 0.5
    comparison is the exact HALF_UP tie rule (away from zero)."""
    import numpy as np

    ax = np.abs(x)
    fl = np.floor(ax)
    r = fl + ((ax - fl) >= 0.5)
    return np.where(x < 0, -r, r)


def _lloyd_local(
    X_by_s: list,
    books: list[list[list[float]]],
    max_iter: int,
    n_train: int,
    max_abs: float = 1.0,
) -> list[list[list[float]]]:
    """Driver-side replay of _lloyd_iterations over the COLLECTED
    capped training set — bit-identical to the Spark loop by
    construction, job-free. Every arithmetic step mirrors the
    distributed path exactly: the nearest-centroid distances are the
    same numpy expression the pandas UDF evaluates (same dtype, same
    shape, same reduction axis — identical float results), the means
    are the same scaled-integer sums (`round(v * 2^shift)` replayed
    with the exact HALF_UP rule, summed as int64 — order-independent,
    exact), and the convergence test is the same nxt == books
    fixpoint. Used only when the training set is capped (≤ 256·k rows
    by default); max_train=0 keeps the distributed loop, so the
    at-scale path stays exercised."""
    import math

    import numpy as np

    m = len(books)
    dsub = len(books[0][0])
    # identical shift/factor derivation to _lloyd_iterations
    shift = min(
        48,
        62
        - max(n_train, 1).bit_length()
        - (max(1, math.ceil(max_abs)) - 1).bit_length()
        - 1,
    )
    factor = float(1 << shift)
    X = [np.asarray(X_by_s[s], dtype=np.float64) for s in range(m)]
    # v * 2^shift is exact (power-of-two scale), so the scaled-integer
    # grid is iteration-independent: round once, before the loop
    S = [
        _round_half_up(X[s] * factor).astype(np.int64) for s in range(m)
    ]
    for _ in range(max_iter):
        nxt = [[list(c) for c in b] for b in books]
        for s in range(m):
            cur = np.asarray(books[s], dtype=np.float64)
            if not len(X[s]):
                continue
            d = ((X[s][:, None, :] - cur[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            for c in np.unique(assign):
                idx = np.nonzero(assign == c)[0]
                cnt = int(len(idx))
                sums = S[s][idx].sum(axis=0)
                nxt[s][int(c)] = [
                    int(sums[i]) / factor / cnt for i in range(dsub)
                ]
        if nxt == books:
            break
        books = nxt
    return books


def ivf_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    n_cells: int = 16,
    seed: int = 7,
    max_iter: int = 5,
    sample_fraction: float | None = None,
    max_train: int | None = None,
) -> list[list[float]]:
    """Fit the IVF coarse quantizer; returns the centroids as PLAIN
    python lists (json-serializable driver-side state, ~n_cells*dims
    floats) — no ML runtime needed downstream, so the model can be
    stored next to the corpus and reused across sessions, engines and
    streaming jobs. Vectors are L2-normalized before clustering so
    Euclidean KMeans cells align with cosine neighborhoods. At scale
    fit on a sample (sample_fraction): the quantizer only needs the
    cluster structure, not every row.

    Same deterministic Lloyd's machinery as pq_fit (shared
    _lloyd_iterations): hash-smallest init, lowest-id tie-break,
    order-independent scaled-integer means — the centroids are
    bit-identical under any partitioning and re-draw under a new
    seed; no pyspark.ml dependency, max_iter+2 jobs total (fewer when
    the loop converges early — see _lloyd_iterations).

    max_train bounds the training rows DETERMINISTICALLY (VERDICT r12
    #4, _deterministic_train_cap): None -> 256 * n_cells (FAISS
    practice); 0 disables the cap. Unlike sample_fraction (Bernoulli,
    partitioning-sensitive) the cap is content-keyed — the SAME
    xxhash64 ordering the seeds init uses, so the seeds are identical
    capped or not, and the fitted centroids stay bit-identical under
    any partitioning."""
    unit = df.select(_unit_expr(vec_col).alias("__u"))
    train = unit.sample(sample_fraction, seed=seed) if sample_fraction else unit
    cap = max(256 * n_cells if max_train is None else max_train, n_cells)
    if max_train is None or max_train > 0:
        # capped fit: ONE Spark job (the sort-limit collect), then the
        # whole Lloyd's loop runs driver-side over the ≤ cap collected
        # rows — bit-identical to the distributed loop (see
        # _lloyd_local), minus the per-iteration job + shuffle + Arrow
        # round-trips that dominated the fit's wall time (the capped
        # training set is ~1 MB; the Spark loop paid max_iter+2 jobs to
        # iterate over it)
        rows = _capped_train_rows(train, cap, seed)
        if not rows:
            raise ValueError("ivf_fit: empty training set")
        books = [[list(u) for u in rows[:n_cells]]]
        return _lloyd_local([rows], books, max_iter, len(rows))[0]
    hashed = train.select(
        "__u", F.xxhash64("__u", F.lit(seed)).alias("__h")
    )
    seeds_rows = hashed.orderBy("__h", "__u").limit(n_cells).collect()
    if not seeds_rows:
        raise ValueError("ivf_fit: empty training set")
    books = [[[float(x) for x in r["__u"]] for r in seeds_rows]]
    sub = train.select(
        F.lit(0).alias("__s"), F.col("__u").alias("__v")
    ).cache()
    try:
        return _lloyd_iterations(sub, books, max_iter)[0]
    finally:
        sub.unpersist()


def ivf_assign(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
) -> DataFrame:
    """Append each vector's nearest-centroid cell id as a pure JVM
    column expression (centroids inlined as literals — no broadcast, no
    ML model, no Python in the hot path). The same expression works on
    a readStream DataFrame, so ingest can cell-tag vectors as they
    land; writing the corpus partitioned/bucketed by `cell_col` lets
    probes prune whole files.

    The normalized vector is materialized through explode(array(...))
    — a Generate barrier — so Catalyst cannot re-inline the
    normalization into every per-centroid distance lambda (the
    CollapseProject hazard documented in dedup.py)."""
    others = [c for c in df.columns]
    unit = df.select(
        *others, F.explode(F.array(_unit_expr(vec_col))).alias("__u")
    )
    dists = F.array(
        *[
            F.expr(
                "aggregate(zip_with(__u, array("
                + ",".join(f"{float(x)}D" for x in c)
                + "), (x, y) -> (x - y) * (x - y)), 0D, (s, v) -> s + v)"
            )
            for c in centroids
        ]
    )
    return unit.withColumn("__d", dists).select(
        *others,
        (F.expr("array_position(__d, array_min(__d))") - F.lit(1))
        .cast("int")
        .alias(cell_col),
    )


def ivf_probe_cells(
    centroids: list[list[float]], query_vec: list[float], nprobe: int
) -> list[int]:
    """Cell ids of the `nprobe` centroids nearest to the query (driver
    side, O(n_cells * dims))."""
    import numpy as np

    centers = np.asarray(centroids, dtype=float)
    q = np.asarray(query_vec, dtype=float)
    q = q / max(float(np.linalg.norm(q)), 1e-12)
    order = np.argsort(((centers - q) ** 2).sum(axis=1))
    return [int(i) for i in order[: max(1, nprobe)]]


def ivf_ann_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
    nprobe: int = 4,
    seed: int = 7,
    max_iter: int = 5,
    sample_fraction: float | None = None,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF approximate top-k: the composition fit -> assign -> probe ->
    exact rerank (cosine). Pass `centroids` (from a prior ivf_fit) to
    skip the fit — the production shape: fit once per corpus version,
    assign at write time, probe per query. nprobe=n_cells degenerates
    to exact brute force (recall 1.0).

    Complements srp_ann_topk: IVF adapts cells to the data distribution
    (better recall on clustered corpora), SRP needs no training state.
    """
    if centroids is None:
        if df.select(id_col).limit(1).count() == 0:
            # KMeans cannot fit an empty corpus; empty in -> empty out
            return cosine_topk(df, query_vec, k, vec_col, id_col)
        centroids = ivf_fit(df, vec_col, n_cells, seed, max_iter, sample_fraction)
    assigned = ivf_assign(
        df.select(F.col(id_col), F.col(vec_col)), centroids, vec_col
    )
    probes = ivf_probe_cells(centroids, query_vec, nprobe)
    cand = assigned.filter(F.col("ivf_cell").isin(probes)).select(id_col, vec_col)
    return cosine_topk(cand, query_vec, k, vec_col, id_col)


def embedding_near_dup_pairs(
    df: DataFrame,
    threshold: float | None = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    planes: int = 12,
    seed: int = 7,
    seeds: list[int] | None = None,
    persist: bool = True,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via SRP bucket blocking.

    Vectors in the same SRP bucket are candidates (high-cosine pairs
    collide with high probability); candidates are verified exactly.

    `seeds` unions several independent blocking passes: a true pair at
    cosine c collides per pass with probability (1 - theta(c)/pi)^planes,
    so recall after s passes is 1 - (1 - p)^s — e.g. p=0.32 (planes=12,
    c=0.96) goes from 32% at one seed to 69% at three. Each pass is one
    more explode row per vector (shuffle grows linearly in len(seeds));
    candidate pairs are deduped across passes BEFORE the exact cosine
    verify, so verification cost doesn't multiply. `seed` is the
    single-pass shorthand, ignored when `seeds` is given.
    """
    seed_list = list(seeds) if seeds is not None else [seed]
    first = df.select(F.col(id_col), F.col(vec_col)).limit(1).collect()
    dims = len(first[0][vec_col]) if first else 0
    # one blocking pass per seed; pass_id joins with the bucket so
    # cross-seed bucket-value collisions never create candidates
    passes = F.array(
        *[
            F.struct(
                F.lit(i).alias("pass_id"),
                srp_signature(vec_col, planes, dims, s).alias("bucket"),
            )
            for i, s in enumerate(seed_list)
        ]
    )
    bucketed = df.select(
        F.col(id_col), F.col(vec_col), F.explode(passes).alias("__bk")
    ).select(
        F.col(id_col),
        F.col(vec_col),
        F.col("__bk.pass_id").alias("pass_id"),
        F.col("__bk.bucket").alias("bucket"),
    )
    # self-join: both sides would recompute the SRP bucketing scan
    # (no exchange reuse across self-join sides — see dedup.py);
    # tracked handle, released via dedup.release_self_join_caches()
    from chapterhousedb_spark.operators.dedup import _persist_for_self_join

    bucketed = _persist_for_self_join(bucketed, persist)
    a = bucketed.alias("a")
    b = bucketed.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.pass_id") == F.col("b.pass_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col(f"a.{vec_col}").alias("va"),
            F.col(f"b.{vec_col}").alias("vb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    # guarded denominator: zero/degenerate vectors score cosine 0.0
    # instead of failing the job under ANSI (bit-identical otherwise)
    cos = _dot("va", "vb") / F.greatest(
        _norm("va") * _norm("vb"), F.lit(1e-12)
    )
    out = pairs.withColumn("cosine", cos)
    if threshold is not None:
        # a numeric threshold above 0 drops zero-vector pairs; pass
        # threshold=None to keep every blocked candidate (knn_join does)
        out = out.filter(F.col("cosine") >= threshold)
    return out.select("id_a", "id_b", "cosine")


def embedding_dedup_survivors(
    df: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    planes: int = 12,
    seed: int = 7,
    seeds: list[int] | None = None,
    persist: bool = True,
) -> DataFrame:
    """SemDeDup-style semantic dedup: drop every vector that has a
    near-duplicate (cosine >= threshold inside an SRP blocking bucket)
    with a SMALLER id — the smallest id of each near-dup group always
    survives, and the rule is greedy/deterministic (a dropped vector
    still dominates larger ids it pairs with, matching the published
    SemDeDup keep-one semantics rather than transitive clustering,
    which would need an iterative connected-components pass). Returns
    the surviving rows of `df`, all columns intact.

    The pair generation reuses embedding_near_dup_pairs (bucketed
    equi-self-join, multi-seed recall, exact cosine verify); the
    survivor step is ONE anti join keyed on the id. Deterministic and
    SQL-replayable end-to-end — the declared `embedding_dedup` query
    oracles the whole composition against DuckDB.

    At 100 TB: identical economics to the near-dup pair gate (measured
    in SCALE.md) plus one id-keyed anti join; nothing driver-side."""
    pairs = embedding_near_dup_pairs(
        df, threshold, vec_col, id_col, planes, seed, seeds, persist
    )
    dominated = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(dominated, id_col, "left_anti")


def embedding_near_dup_pairs_cross(
    batch: DataFrame,
    corpus: DataFrame,
    threshold: float | None = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    planes: int = 12,
    seed: int = 7,
    seeds: list[int] | None = None,
) -> DataFrame:
    """Bipartite embedding near-dup: which `batch` vectors sit above
    `threshold` cosine of something already in `corpus` — the SRP twin
    of the MinHash/SimHash ingest gates (semantic dedup of a crawl
    batch against the existing corpus without re-pairing the corpus
    with itself). Returns (batch_id, corpus_id, cosine).

    The hyperplanes are derived purely from (planes, dims, seed), so a
    vector's bucket is identical whichever side it sits on; the bucket
    join is batch >< corpus only, per pass, with cross-seed collisions
    excluded by the pass_id key exactly as in the self-join form. At
    100 TB the small batch side's bucketed rows broadcast and the
    corpus pays one scan + map-side bucketing per crawl batch."""
    seed_list = list(seeds) if seeds is not None else [seed]
    first = corpus.select(F.col(vec_col)).limit(1).collect()
    dims = len(first[0][vec_col]) if first else 0

    def _bucketed(df):
        passes = F.array(
            *[
                F.struct(
                    F.lit(i).alias("pass_id"),
                    srp_signature(vec_col, planes, dims, sd).alias("bucket"),
                )
                for i, sd in enumerate(seed_list)
            ]
        )
        return df.select(
            F.col(id_col), F.col(vec_col), F.explode(passes).alias("__bk")
        ).select(
            F.col(id_col),
            F.col(vec_col),
            F.col("__bk.pass_id").alias("pass_id"),
            F.col("__bk.bucket").alias("bucket"),
        )

    a = _bucketed(batch).alias("a")
    b = _bucketed(corpus).alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.pass_id") == F.col("b.pass_id"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .select(
            F.col(f"a.{id_col}").alias("batch_id"),
            F.col(f"b.{id_col}").alias("corpus_id"),
            F.col(f"a.{vec_col}").alias("va"),
            F.col(f"b.{vec_col}").alias("vb"),
        )
        .dropDuplicates(["batch_id", "corpus_id"])
    )
    cos = _dot("va", "vb") / F.greatest(
        _norm("va") * _norm("vb"), F.lit(1e-12)
    )
    out = pairs.withColumn("cosine", cos)
    if threshold is not None:
        out = out.filter(F.col("cosine") >= threshold)
    return out.select("batch_id", "corpus_id", "cosine")


def ivf_write_index(
    df: DataFrame,
    centroids: list[list[float]],
    path: str,
    vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
) -> None:
    """Persist the production IVF layout: the corpus cell-assigned and
    PARTITIONED by cell under <path>/corpus, plus the centroids as a
    JSON artifact at <path>/centroids.json — "fit once per corpus
    version", reload anywhere (the centroids are plain lists; no ML
    runtime needed to probe). The artifact is written through the
    Hadoop FileSystem so fs/s3a paths both work.

    Partitioning by cell is what makes probes prune at the FILE level:
    a probe of `nprobe` cells reads only those directories (verified in
    tests via inputFiles)."""
    import json
    import posixpath

    spark = df.sparkSession
    assigned = ivf_assign(df, centroids, vec_col, cell_col)
    assigned.write.mode("overwrite").partitionBy(cell_col).parquet(
        posixpath.join(path, "corpus")
    )
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(posixpath.join(path, "centroids.json"))
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(jpath, True)
    try:
        payload = json.dumps(
            {"centroids": centroids, "vec_col": vec_col, "cell_col": cell_col}
        )
        out.write(bytearray(payload.encode("utf-8")))
    finally:
        out.close()


def _read_index_meta(spark, path: str, name: str = "centroids.json") -> dict:
    """A JSON metadata artifact of a persisted index layout
    (centroids.json for IVF, srp.json for SRP)."""
    import json
    import posixpath

    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(posixpath.join(path, name))
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    stream = fs.open(jpath)
    try:
        data = bytes(
            jvm.org.apache.hadoop.io.IOUtils.readFullyToByteArray(stream)
        )
    finally:
        stream.close()
    return json.loads(data.decode("utf-8"))


def ivf_read_index(spark, path: str) -> tuple[DataFrame, list[list[float]]]:
    """Reload an ivf_write_index layout in any session: returns the
    cell-partitioned corpus DataFrame and the centroid lists."""
    import posixpath

    meta = _read_index_meta(spark, path)
    corpus = spark.read.parquet(posixpath.join(path, "corpus"))
    return corpus, meta["centroids"]


def ivf_append(
    batch: DataFrame, path: str
) -> list[list[float]]:
    """Incrementally admit a batch of new vectors into a persisted
    ivf_write_index layout: assign against the EXISTING centroids and
    APPEND only the touched cell partitions — the corpus is never
    rescanned or rewritten. This is the vector-side twin of the
    cross-corpus dedup gates + components_update: per ingest batch the
    index absorbs new rows at O(batch) cost, and probes keep their
    partition-pruned economics over the union.

    The cells stay FROZEN until the next full ivf_fit — correct by
    construction (a probe of the nearest nprobe cells sees every
    appended vector exactly where a rebuild with the same centroids
    would put it; the equality is test-pinned), but recall can drift
    if the embedding distribution shifts away from the fit-time
    centroids. Operational contract: monitor per-cell row-count skew
    vs fit time and re-fit when it degrades; vec/cell column names
    come from the index metadata so callers can't desync them."""
    import posixpath

    spark = batch.sparkSession
    meta = _read_index_meta(spark, path)
    centroids = meta["centroids"]
    # same guard as the rest of the append family (centroids.json
    # predates a dims key — the centroid width IS the dims): a shorter
    # vector NULLs every zip_with distance, lands in the NULL cell
    # partition and vanishes from every cell-pruned probe
    _check_append_dims(
        batch, meta["vec_col"], len(centroids[0]), "ivf_append"
    )
    assigned = ivf_assign(batch, centroids, meta["vec_col"], meta["cell_col"])
    assigned.write.mode("append").partitionBy(meta["cell_col"]).parquet(
        posixpath.join(path, "corpus")
    )
    return centroids


def ivf_probe_topk(
    assigned: DataFrame,
    centroids: list[list[float]],
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    cell_col: str = "ivf_cell",
) -> DataFrame:
    """Probe a pre-assigned (ivf_write_index / ivf_assign) corpus: score
    only the `nprobe` nearest cells, exact cosine rerank. On a corpus
    partitioned by `cell_col` the isin filter becomes PARTITION PRUNING
    — only the probed cells' files are read (the 100 TB probe cost is
    nprobe/n_cells of the corpus, at the scan level, not post-scan)."""
    probes = ivf_probe_cells(centroids, query_vec, nprobe)
    cand = assigned.filter(F.col(cell_col).isin(probes)).select(id_col, vec_col)
    return cosine_topk(cand, query_vec, k, vec_col, id_col)


def _write_json_artifact(spark, path: str, name: str, payload: dict) -> None:
    """Write a small JSON artifact through the Hadoop FileSystem so
    fs/s3a paths both work (same contract as ivf_write_index)."""
    import json
    import posixpath

    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(posixpath.join(path, name))
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(json.dumps(payload).encode("utf-8")))
    finally:
        out.close()


def srp_write_index(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    planes: int = 16,
    seed: int = 7,
    dims: int | None = None,
    bucket_col: str = "srp_bucket",
    id_col: str = "vec_id",
) -> None:
    """Persist the production SRP layout: the corpus bucketed ONCE and
    PARTITIONED by bucket under <path>/corpus, plus the hash family
    parameters as <path>/srp.json. This is the shape the recall probe
    (SCALE.md) showed matters: srp_ann_topk recomputes the planes x
    dims signature fold per QUERY, which dwarfs the scan savings on
    anything but huge corpora — the persisted layout pays the
    signature cost once at write time, and every probe reads only the
    probed buckets' FILES (partition pruning, the IVF economics).
    No training state at all: the hyperplanes are derived from
    (seed, planes, dims), so srp.json is 4 scalars.

    `dims` defaults to the corpus's OWN vector length (one bounded
    min/max agg at write time). An explicit dims larger than the
    shortest vector raises: signature components past the vector end
    evaluate to NULL, the whole plane dot-product goes NULL, and every
    row silently lands in bucket 0 — the index degenerates to a full
    scan with no error (recall survives, pruning is lost)."""
    sizes = df.agg(
        F.min(F.size(F.col(vec_col))).alias("lo"),
        F.max(F.size(F.col(vec_col))).alias("hi"),
    ).collect()[0]
    if dims is None:
        # empty corpus (a legal starting point for an ingest loop):
        # keep the legacy default — there is no row to mis-bucket, and
        # srp_append re-validates every future batch against the
        # recorded dims, so a shorter-vector batch raises then
        dims = 64 if sizes["lo"] is None else int(sizes["lo"])
    elif sizes["lo"] is not None and sizes["lo"] < dims:
        raise ValueError(
            f"srp_write_index: dims={dims} exceeds the shortest {vec_col} "
            f"vector (size {sizes['lo']}); out-of-bounds components are "
            f"NULL and every row would hash to bucket 0"
        )
    bucketed = df.withColumn(
        bucket_col, srp_signature(vec_col, planes, dims, seed)
    )
    import posixpath

    bucketed.write.mode("overwrite").partitionBy(bucket_col).parquet(
        posixpath.join(path, "corpus")
    )
    _write_json_artifact(
        df.sparkSession,
        path,
        "srp.json",
        {
            "planes": planes,
            "seed": seed,
            "dims": dims,
            "vec_col": vec_col,
            "bucket_col": bucket_col,
            # the corpus id column, so probes read the layout's own
            # column name instead of trusting a caller-supplied default
            # against a self-describing metadata file (ADVICE r8)
            "id_col": id_col,
            # lets srp_read_index serve an EMPTY index (an ingest loop
            # may legitimately start from zero vectors — a partitioned
            # write of an empty df leaves no readable parquet)
            "schema_ddl": bucketed.schema.simpleString()[7:-1],
        },
    )


def srp_read_index(spark, path: str) -> tuple[DataFrame, dict]:
    """Reload an srp_write_index layout in any session: the
    bucket-partitioned corpus plus the hash-family metadata. An index
    written from an empty corpus reloads as an empty DataFrame with
    the recorded schema."""
    import posixpath

    from pyspark.errors.exceptions.captured import AnalysisException

    meta = _read_index_meta(spark, path, "srp.json")
    try:
        corpus = spark.read.parquet(posixpath.join(path, "corpus"))
    except AnalysisException:
        corpus = spark.createDataFrame([], meta["schema_ddl"])
    return corpus, meta


def srp_append(batch: DataFrame, path: str) -> dict:
    """Admit a batch into a persisted SRP layout: bucket with the
    STORED hash family and append only the touched bucket partitions —
    O(batch) per admission, identical to a full rebuild with the same
    parameters (the family is stateless, so there is no IVF-style
    centroid-drift caveat at all)."""
    import posixpath

    spark = batch.sparkSession
    meta = _read_index_meta(spark, path, "srp.json")
    _check_append_dims(batch, meta["vec_col"], meta["dims"], "srp_append")
    bucketed = batch.withColumn(
        meta["bucket_col"],
        srp_signature(meta["vec_col"], meta["planes"], meta["dims"], meta["seed"]),
    )
    bucketed.write.mode("append").partitionBy(meta["bucket_col"]).parquet(
        posixpath.join(path, "corpus")
    )
    return meta


def srp_probe_topk(
    bucketed: DataFrame,
    meta: dict,
    query_vec: list[float],
    k: int = 10,
    multiprobe: int = 1,
    id_col: str | None = None,
) -> DataFrame:
    """Probe a persisted SRP corpus: compute the query's bucket with
    the SAME JVM expression family, take every bucket within hamming
    distance `multiprobe`, and exact-rerank by cosine. On the
    bucket-partitioned layout the isin filter is PARTITION PRUNING —
    the probe reads sum_{h<=multiprobe} C(planes, h) directories, not
    the corpus. multiprobe=planes degenerates to a full scan (== brute
    force, test-pinned)."""
    # layout metadata wins over the legacy default: an index written
    # from a corpus with a different id column probes by ITS name
    # (pre-id_col srp.json payloads fall back to vec_id)
    id_col = id_col or meta.get("id_col", "vec_id")
    planes, dims, seed = meta["planes"], meta["dims"], meta["seed"]
    if not 0 <= multiprobe <= planes:
        raise ValueError(
            f"multiprobe must be in [0, planes={planes}], got {multiprobe}"
        )
    spark = bucketed.sparkSession
    qdf = spark.range(1).select(
        F.array(*[F.lit(float(v)) for v in query_vec]).alias("qv")
    )
    qbucket = qdf.select(
        srp_signature("qv", planes, dims, seed).alias("b")
    ).collect()[0]["b"]
    probes = srp_probe_buckets(qbucket, planes, multiprobe)
    cand = bucketed.filter(F.col(meta["bucket_col"]).isin(probes)).select(
        id_col, meta["vec_col"]
    )
    return cosine_topk(cand, query_vec, k, meta["vec_col"], id_col)


def l2_normalize(
    df: DataFrame,
    vec_col: str = "embedding",
    out_col: str | None = None,
    norm_col: str = "norm",
) -> DataFrame:
    """Unit-normalize embeddings (the standard preprocessing before
    cosine ANN: post-normalization, cosine == dot product, so every
    downstream scorer drops its per-row norm). The squared-norm sum is
    a SEQUENTIAL left fold over the array (F.aggregate) — the same
    evaluation order DuckDB's list_sum uses, which is what makes the
    derived scalars oracle-comparable (the construction every gated
    similarity query already relies on). Zero-norm vectors pass
    through unchanged with norm 0 rather than dividing by zero.

    At 100 TB: one map-side higher-order expression per row, no
    shuffle, no Python."""
    out_col = out_col or vec_col
    v = F.col(vec_col)
    sumsq = F.aggregate(
        v,
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    norm = F.sqrt(sumsq)
    unit = F.when(
        norm > 0,
        F.transform(v, lambda x: (x.cast("double") / norm)),
    ).otherwise(F.transform(v, lambda x: x.cast("double")))
    return df.withColumn(norm_col, norm).withColumn(out_col, unit)


# ---------------------------------------------------- product quantization
#
# FAISS-style PQ (Jegou et al., "Product Quantization for Nearest
# Neighbor Search", PAMI 2011): split each unit vector into m
# subvectors, vector-quantize each subspace against its own small
# codebook (k=2^nbits centroids), and store only the m code ids —
# 64 float32 dims become m bytes (32x smaller at m=8), which is what
# makes a 100 TB embedding corpus scannable: the ADC pass reads ONLY
# the code column (parquet column pruning), scores each row with m
# lookup-table adds (pure JVM fold over an inlined LUT literal — no
# Python, no UDF), and only the top `refine` candidates ever touch
# their full vectors again (a broadcast semi-join back to the corpus).
# Codes are computed against the L2-NORMALIZED vector, so the ADC
# distance approximates unit-sphere L2 and 1 - d^2/2 approximates
# cosine — the same geometry every other scorer here uses.
# Reference parity: the reference engine has no ANN surface at all
# (SURVEY.md §2); this extends the training-data-pipeline operator set
# beside srp_*/ivf_*.


def pq_dims(df, vec_col: str = "embedding") -> int:
    """The corpus's (uniform) vector length; raises on ragged input —
    PQ subspace slicing silently mis-assigns on ragged vectors."""
    sizes = df.agg(
        F.min(F.size(F.col(vec_col))).alias("lo"),
        F.max(F.size(F.col(vec_col))).alias("hi"),
    ).collect()[0]
    if sizes["lo"] is None:
        return 0
    if sizes["lo"] != sizes["hi"]:
        raise ValueError(
            f"pq: ragged {vec_col} (sizes {sizes['lo']}..{sizes['hi']}); "
            "product quantization needs a uniform dimension"
        )
    return int(sizes["lo"])


def pq_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    nbits: int = 4,
    seed: int = 7,
    max_iter: int = 5,
    sample_fraction: float | None = None,
    dims: int | None = None,
    normalize: bool = True,
    max_abs: float = 1.0,
    max_train: int | None = None,
) -> list[list[list[float]]]:
    """Fit the m sub-codebooks (k=2^nbits centroids each, dims/m wide)
    by Lloyd's iterations over the L2-normalized corpus — ALL m
    subspaces advance together in ONE Spark job per iteration (an
    explode to (subspace, subvector) rows, a vectorized nearest-
    centroid pandas UDF against the broadcast codebooks, and a
    decimal-exact per-(subspace, cluster) mean aggregate of at most
    m*k rows), instead of m independent ML fits x max_iter passes.
    That's max_iter+2 jobs total regardless of m, and it makes the fit
    DETERMINISTIC end to end: init picks the k hash-smallest corpus
    vectors (xxhash64(unit_vec, seed) — content-keyed, so duplicates
    collapse toward fewer effective centers, documented), assignment
    ties break to the lowest centroid id, and the means are exact
    SCALED-INTEGER sums divided driver-side — each component is
    rounded once to a fixed grid of 2^-shift (shift sized from the
    training count so a worst-case single-cluster sum stays under
    2^62: no overflow at any corpus size, measured 4x cheaper than
    decimal(38,18) sums), then summed exactly as bigints, which is
    order-independent — the fitted codebooks are BIT-IDENTICAL under
    any partitioning (test-pinned), which the pyspark.ml KMeans path
    could never promise. Returns plain nested
    python lists (m x k x dims/m floats — json-small driver-side
    state, no ML runtime needed to encode or score, same portability
    contract as ivf_fit). At scale fit on a sample: the codebooks only
    need the subspace distributions. k is capped at the training row
    count; the cap is per-index state, recorded implicitly in the
    codebook length. Empty clusters keep their previous centroid."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import IntegerType

    dims = pq_dims(df, vec_col) if dims is None else dims
    if dims == 0:
        raise ValueError("pq_fit: empty corpus")
    if dims % m != 0:
        raise ValueError(f"pq_fit: dims={dims} not divisible by m={m}")
    dsub = dims // m
    # normalize=False: the caller supplies the FINAL training vectors
    # (e.g. cell residuals of unit vectors — pass max_abs=2.0 so the
    # fixed-point sum grid accounts for the wider range)
    uexpr = (
        _unit_expr(vec_col)
        if normalize
        else F.expr(f"transform({vec_col}, x -> CAST(x AS DOUBLE))")
    )
    unit = df.select(uexpr.alias("__u"))
    train = unit.sample(sample_fraction, seed=seed) if sample_fraction else unit
    k = 1 << nbits
    # deterministic FAISS-practice training cap (VERDICT r12 #4):
    # None -> 256 * k rows (shared by all m subspaces); 0 disables
    cap = max(256 * k if max_train is None else max_train, k)
    if max_train is None or max_train > 0:
        # capped fit: one sort-limit collect, then driver-side Lloyd's
        # over the collected rows — bit-identical to the distributed
        # loop (see _lloyd_local); all m subspaces advance together as
        # numpy slices of the same collected set, zero further jobs
        rows = _capped_train_rows(train, cap, seed)
        if not rows:
            raise ValueError("pq_fit: empty training set")
        k = min(k, len(rows))
        books = [
            [u[s * dsub : (s + 1) * dsub] for u in rows[:k]]
            for s in range(m)
        ]
        X_by_s = [
            [u[s * dsub : (s + 1) * dsub] for u in rows] for s in range(m)
        ]
        return _lloyd_local(
            X_by_s, books, max_iter, len(rows), max_abs=max_abs
        )
    hashed = train.select(
        "__u", F.xxhash64("__u", F.lit(seed)).alias("__h")
    )
    # deterministic init: the k hash-smallest unit vectors
    # (TakeOrdered — bounded driver state), sliced per subspace
    seeds_rows = hashed.orderBy("__h", "__u").limit(k).collect()
    if not seeds_rows:
        raise ValueError("pq_fit: empty training set")
    k = min(k, len(seeds_rows))
    books = [
        [
            [float(x) for x in r["__u"][s * dsub : (s + 1) * dsub]]
            for r in seeds_rows[:k]
        ]
        for s in range(m)
    ]
    sub = train.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("s"),
                        F.slice("__u", s * dsub + 1, dsub).alias("v"),
                    )
                    for s in range(m)
                ]
            )
        ).alias("g")
    ).select(F.col("g.s").alias("__s"), F.col("g.v").alias("__v"))
    sub = sub.cache()
    try:
        return _lloyd_iterations(sub, books, max_iter, max_abs=max_abs)
    finally:
        sub.unpersist()


def _lloyd_iterations(
    sub: DataFrame,
    books: list[list[list[float]]],
    max_iter: int,
    max_abs: float = 1.0,
) -> list[list[list[float]]]:
    """The shared Lloyd's loop behind pq_fit and ivf_fit: `sub` is a
    (preferably cached) frame of (__s int, __v array<double>) rows,
    `books` the m x k x d initial codebooks. One Spark job per
    iteration: vectorized pandas argmin against the broadcast
    codebooks, then a per-(subspace, cluster) aggregate of m*k rows.
    Means are order-independent scaled-integer sums (shift sized from
    the training count so a worst-case single-cluster sum stays under
    2^62 — no overflow at any corpus size, 4x cheaper than
    decimal(38,18) sums), so the result is bit-identical under any
    partitioning. Empty clusters keep their previous centroid."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import IntegerType

    m = len(books)
    dsub = len(books[0][0])
    n_train = sub.count() // m  # materializes the cache too
    # fixed-point grid: components are in [-max_abs, max_abs], so a
    # cluster of n_train rows sums to at most n_train * max_abs *
    # 2^shift — keep that under 2^62 (capped at 2^48 of fraction
    # precision; max_abs=2 for cell residuals of unit vectors)
    import math

    shift = min(
        48,
        62
        - max(n_train, 1).bit_length()
        - (max(1, math.ceil(max_abs)) - 1).bit_length()
        - 1,
    )
    factor = float(1 << shift)
    sums = [
        F.sum(
            F.expr(f"CAST(round(__v[{i}] * {factor!r}D) AS BIGINT)")
        ).alias(f"d{i}")
        for i in range(dsub)
    ]
    for _ in range(max_iter):
        cur = [np.asarray(b, dtype=np.float64) for b in books]

        # no annotations (postponed-annotation mode breaks pandas_udf
        # resolution in nested scopes)
        @pandas_udf(IntegerType())
        def _nearest(ss, vs):
            if not len(ss):
                return pd.Series([], dtype="int32")
            out = np.empty(len(ss), dtype=np.int32)
            sarr = ss.to_numpy()
            X = np.asarray(vs.tolist(), dtype=np.float64)
            for s_val in np.unique(sarr):
                idx = np.nonzero(sarr == s_val)[0]
                d = (
                    (X[idx, None, :] - cur[int(s_val)][None, :, :]) ** 2
                ).sum(axis=2)
                out[idx] = d.argmin(axis=1)
            return pd.Series(out)

        rows = (
            sub.withColumn("__c", _nearest("__s", "__v"))
            .groupBy("__s", "__c")
            .agg(F.count(F.lit(1)).alias("n"), *sums)
            .collect()
        )
        nxt = [[list(c) for c in b] for b in books]
        for r in rows:
            cnt = r["n"]
            nxt[r["__s"]][r["__c"]] = [
                r[f"d{i}"] / factor / cnt for i in range(dsub)
            ]
        if nxt == books:
            # exact fixed point: the argmin is deterministic given
            # identical books (ties to the lowest id), so every further
            # iteration recomputes these same assignments and these
            # same scaled-integer means — stopping here is OUTPUT-
            # IDENTICAL to running out max_iter, it just skips the
            # redundant Spark jobs (test-pinned)
            break
        books = nxt
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str = "embedding",
    code_col: str = "pq_code",
    normalize: bool = True,
) -> DataFrame:
    """Append each row's m-code PQ encoding (array<int>, one nearest-
    centroid id per subspace). Runs as an Arrow-batched pandas UDF with
    the codebooks closed over (m*k*dsub floats — broadcast-small);
    inside the batch it is vectorized numpy (one (batch, k) distance
    matrix per subspace, argmin ties to the lowest id — deterministic,
    test-pinned under repartitioning). Python is justified here the
    same way the codec paths justify it: a k-way argmin per subspace
    has no builtin-expression form that doesn't inline k distance
    lambdas per subspace into the plan (the ivf_assign shape explodes
    at k=256)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    books = [np.asarray(b, dtype=np.float64) for b in codebooks]
    dsub = books[0].shape[1]
    m = len(books)
    dims = m * dsub

    # no annotations: the module's postponed-annotation mode turns them
    # into strings pandas_udf can't resolve from this nested scope; the
    # explicit returnType above carries the contract
    @pandas_udf(ArrayType(IntegerType()))
    def _codes(vecs):
        out = []
        arrs = vecs.tolist()
        if not arrs:
            return pd.Series([], dtype=object)
        X = np.asarray(arrs, dtype=np.float64)
        if X.ndim != 2 or X.shape[1] != dims:
            raise ValueError(
                f"pq_encode: vector length {X.shape[1:]} != codebook dims {dims}"
            )
        if normalize:
            norms = np.sqrt((X * X).sum(axis=1))
            X = X / np.maximum(norms, 1e-12)[:, None]
        codes = np.empty((X.shape[0], m), dtype=np.int32)
        for s in range(m):
            sub = X[:, s * dsub : (s + 1) * dsub]
            # ||x - c||^2 = ||x||^2 - 2 x.c + ||c||^2 computed exactly
            # as the naive form to keep argmin ties bit-stable
            d = ((sub[:, None, :] - books[s][None, :, :]) ** 2).sum(axis=2)
            codes[:, s] = d.argmin(axis=1)
        for row in codes:
            out.append([int(c) for c in row])
        return pd.Series(out)

    return df.withColumn(code_col, _codes(F.col(vec_col)))


def _pq_lut(
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    normalize: bool = True,
) -> list[list[float]]:
    """Driver-side ADC lookup table: lut[s][c] = ||q_s - C_s[c]||^2 for
    the (by default L2-normalized) query (m x k floats); normalize=
    False takes the query as-is (the residual path pre-subtracts)."""
    import numpy as np

    q = np.asarray(query_vec, dtype=np.float64)
    if normalize:
        q = q / max(float(np.sqrt((q * q).sum())), 1e-12)
    dsub = len(codebooks[0][0])
    lut = []
    for s, book in enumerate(codebooks):
        qs = q[s * dsub : (s + 1) * dsub]
        d = ((np.asarray(book, dtype=np.float64) - qs[None, :]) ** 2).sum(axis=1)
        lut.append([float(x) for x in d])
    return lut


def pq_adc_scores(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    query_vec: list[float],
    code_col: str = "pq_code",
    score_col: str = "approx_cosine",
    normalize: bool = True,
) -> DataFrame:
    """Score PQ codes against a query by asymmetric distance
    computation: the m x k LUT is computed once on the driver and
    inlined as a nested array literal, so the per-row cost is an
    m-step JVM fold of table lookups — no Python, no join, and on a
    code-only scan parquet never reads the vectors at all.
    approx_cosine = 1 - d^2/2 (unit-sphere identity). normalize=False
    skips the query L2-normalization (raw-space codebooks — the
    pinned-codebook oracle twin's shape)."""
    lut = _pq_lut(codebooks, query_vec, normalize=normalize)
    m = len(lut)
    lut_lit = (
        "array("
        + ",".join(
            "array(" + ",".join(f"CAST({v!r} AS DOUBLE)" for v in row) + ")"
            for row in lut
        )
        + ")"
    )
    return df.withColumn(
        score_col,
        F.expr(
            f"1.0D - 0.5D * aggregate(sequence(0, {m - 1}), 0D, "
            f"(acc, s) -> acc + {lut_lit}[s][{code_col}[s]])"
        ),
    )


def pq_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 8,
    nbits: int = 4,
    refine: int = 0,
    seed: int = 7,
    max_iter: int = 5,
    sample_fraction: float | None = None,
    codebooks: list[list[list[float]]] | None = None,
    normalize: bool = True,
) -> DataFrame:
    """PQ approximate top-k: fit (unless codebooks are supplied — the
    production shape: fit once per corpus version) -> encode -> ADC
    scan -> TakeOrdered. refine>0 reranks the top `refine` ADC
    candidates with EXACT cosine: the candidate ids (a k-scale set)
    broadcast-semi-join back to the corpus, so only `refine` rows ever
    load their full vectors. refine >= corpus size degenerates to
    exact brute force (test-pinned). Refine is the recommended
    production shape (VERDICT r14 #5): raw ADC at the default bit
    budget recalls ~0.5@10 on the probe corpus, a k-scale exact rerank
    (refine = 10k) lifts it past 0.9 at O(refine) extra row reads —
    see the pq_refine_curve keys of scripts/scale_probe_r15.json and
    SCALE.md "ANN recall program". normalize=False skips
    the unit projection in encode AND scoring (raw-space codebooks —
    the pinned-codebook oracle twins' shape)."""
    if codebooks is None:
        if df.select(id_col).limit(1).count() == 0:
            return cosine_topk(df, query_vec, k, vec_col, id_col)
        codebooks = pq_fit(
            df, vec_col, m, nbits, seed, max_iter, sample_fraction
        )
    coded = pq_encode(
        df.select(id_col, vec_col), codebooks, vec_col, normalize=normalize
    )
    scored = pq_adc_scores(coded, codebooks, query_vec, normalize=normalize)
    if refine <= 0:
        return (
            scored.select(id_col, "approx_cosine")
            .orderBy(F.col("approx_cosine").desc(), F.col(id_col))
            .limit(k)
        )
    cand = (
        scored.select(id_col, "approx_cosine")
        .orderBy(F.col("approx_cosine").desc(), F.col(id_col))
        .limit(refine)
        .select(id_col)
    )
    kept = df.select(id_col, vec_col).join(F.broadcast(cand), id_col)
    # stable schema across the refine knob: the score column is ALWAYS
    # approx_cosine; with refine > 0 it holds the EXACT rerank cosine
    return cosine_topk(kept, query_vec, k, vec_col, id_col).withColumnRenamed(
        "cosine", "approx_cosine"
    )


def _centroids_lit(centroids: list[list[float]]) -> str:
    return (
        "array("
        + ",".join(
            "array(" + ",".join(f"{float(x)!r}D" for x in c) + ")"
            for c in centroids
        )
        + ")"
    )


def residual_frame(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    cell_col: str = "ivf_cell",
    res_col: str = "pq_resid",
) -> DataFrame:
    """Cell-assign each vector and append its residual (unit vector
    minus its cell centroid — the FAISS by_residual=True encoding
    input). Pure JVM: centroid lookup is element_at of a literal
    nested array by cell id; the unit projection goes through the
    explode(array(...)) Generate barrier so Catalyst can't re-inline
    the normalization into the subtraction lambda (the CollapseProject
    hazard, see ivf_assign)."""
    assigned = ivf_assign(df, centroids, vec_col, cell_col)
    keep = assigned.columns
    barrier = assigned.select(
        *keep, F.explode(F.array(_unit_expr(vec_col))).alias("__u")
    )
    return barrier.withColumn(
        res_col,
        F.expr(
            f"zip_with(__u, element_at({_centroids_lit(centroids)}, "
            f"{cell_col} + 1), (x, y) -> x - y)"
        ),
    ).drop("__u")


def _residual_query(
    centroids: list[list[float]], query_vec: list[float], cell: int
) -> list[float]:
    import numpy as np

    q = np.asarray(query_vec, dtype=np.float64)
    q = q / max(float(np.sqrt((q * q).sum())), 1e-12)
    return [float(x) for x in q - np.asarray(centroids[cell], dtype=np.float64)]


def pq_adc_scores_residual(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    centroids: list[list[float]],
    query_vec: list[float],
    probes: list[int],
    code_col: str = "pq_code",
    cell_col: str = "ivf_cell",
    score_col: str = "approx_cosine",
) -> DataFrame:
    """ADC over RESIDUAL codes: within a shared cell, (q - c) - (v - c)
    = q - v, so the residual-vs-residual distance IS the unit-sphere
    distance and 1 - d^2/2 is still exact-cosine geometry — but the
    LUT is per probed cell (the query residual differs per cell).
    nprobe LUTs (nprobe x m x k doubles) inline as one nested literal
    indexed by array_position over the probed-cell list; per-row cost
    stays an m-step JVM fold. Rows must already be filtered to
    `probes`."""
    luts = [
        _pq_lut(codebooks, _residual_query(centroids, query_vec, c), normalize=False)
        for c in probes
    ]
    m = len(codebooks)
    lut3 = (
        "array("
        + ",".join(
            "array("
            + ",".join(
                "array(" + ",".join(f"CAST({v!r} AS DOUBLE)" for v in row) + ")"
                for row in lut
            )
            + ")"
            for lut in luts
        )
        + ")"
    )
    probes_lit = "array(" + ",".join(str(int(p)) for p in probes) + ")"
    # self-enforce the documented precondition: a row whose cell is
    # not in `probes` would hit element_at(lut3, 0) and fail the whole
    # job mid-flight with an opaque index error — filter instead
    return df.filter(F.col(cell_col).isin([int(p) for p in probes])).withColumn(
        score_col,
        F.expr(
            f"1.0D - 0.5D * aggregate(sequence(0, {m - 1}), 0D, (acc, s) -> "
            f"acc + element_at({lut3}, "
            f"CAST(array_position({probes_lit}, {cell_col}) AS INT))"
            f"[s][{code_col}[s]])"
        ),
    )


def ivf_pq_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
    nprobe: int = 4,
    m: int = 8,
    nbits: int = 4,
    refine: int = 0,
    seed: int = 7,
    max_iter: int = 5,
    sample_fraction: float | None = None,
    centroids: list[list[float]] | None = None,
    codebooks: list[list[list[float]]] | None = None,
    by_residual: bool = False,
) -> DataFrame:
    """IVF-PQ: coarse cells prune the scan (nprobe/n_cells of the
    corpus at the partition level), PQ codes compress what remains
    (code-only columns at the scan level), ADC scores it JVM-side, and
    `refine` candidates rerank exactly.

    by_residual=False (default): codes quantize the RAW unit vector —
    one global codebook set serves every cell, so cells and codes can
    be maintained independently (ivf_append-style) at the price of a
    slightly coarser quantization.

    by_residual=True (the FAISS default): codes quantize the CELL
    RESIDUAL (unit vector minus its centroid) — residual magnitudes
    are smaller than raw components, so the same bit budget spends its
    resolution where the within-cell variation actually is (higher
    ADC recall, test-pinned on clustered data); the cost is that
    re-fitting cells invalidates every code. Scoring uses per-cell
    LUTs ((q - c) vs codebook — see pq_adc_scores_residual).

    Either way nprobe=n_cells AND refine>=corpus degenerates to exact
    brute force (test-pinned)."""
    if df.select(id_col).limit(1).count() == 0:
        return cosine_topk(df, query_vec, k, vec_col, id_col)
    if centroids is None:
        centroids = ivf_fit(df, vec_col, n_cells, seed, max_iter, sample_fraction)
    probes = ivf_probe_cells(centroids, query_vec, nprobe)
    if by_residual:
        # the residual lineage (unit projection + n_cells distance
        # lambdas + subtract) is the dominant per-row cost — cache it
        # so the fit jobs, the encode pass, and the (lazy) scoring
        # share ONE materialization instead of re-running the corpus
        # scan ~3x. The result is returned lazily, so the cache is
        # registered with the self-join cache registry (released by
        # operators.dedup.release_self_join_caches(), exactly like the
        # near-dup pair caches — bench.py already releases per query).
        from chapterhousedb_spark.operators.dedup import (
            _persist_for_self_join,
        )

        res = _persist_for_self_join(
            residual_frame(df.select(id_col, vec_col), centroids, vec_col),
            True,
        )
        if codebooks is None:
            codebooks = pq_fit(
                res,
                "pq_resid",
                m,
                nbits,
                seed,
                max_iter,
                sample_fraction,
                normalize=False,
                max_abs=2.0,
            )
        cand = res.filter(F.col("ivf_cell").isin(probes))
        coded = pq_encode(
            cand.select(id_col, "ivf_cell", "pq_resid"),
            codebooks,
            "pq_resid",
            normalize=False,
        )
        scored = pq_adc_scores_residual(
            coded, codebooks, centroids, query_vec, probes
        )
    else:
        if codebooks is None:
            codebooks = pq_fit(
                df, vec_col, m, nbits, seed, max_iter, sample_fraction
            )
        assigned = ivf_assign(df.select(id_col, vec_col), centroids, vec_col)
        cand = assigned.filter(F.col("ivf_cell").isin(probes)).select(
            id_col, vec_col
        )
        coded = pq_encode(cand, codebooks, vec_col)
        scored = pq_adc_scores(coded, codebooks, query_vec)
    top = (
        scored.select(id_col, "approx_cosine")
        .orderBy(F.col("approx_cosine").desc(), F.col(id_col))
        .limit(max(k, refine))
    )
    if refine <= 0:
        return top.limit(k)
    kept = df.select(id_col, vec_col).join(F.broadcast(top.select(id_col)), id_col)
    # stable schema across the refine knob (see pq_topk)
    return cosine_topk(kept, query_vec, k, vec_col, id_col).withColumnRenamed(
        "cosine", "approx_cosine"
    )


def pq_write_index(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
    m: int = 8,
    nbits: int = 8,
    seed: int = 7,
    max_iter: int = 5,
    sample_fraction: float | None = None,
    by_residual: bool = False,
) -> dict:
    """Persist the production IVF-PQ layout: cells + codes + the
    original vector column, partitioned by cell under <path>/corpus,
    with centroids/codebooks in <path>/pq.json (plain lists — reload
    anywhere, no ML runtime). An ADC-only probe column-prunes the
    vector away (reads id + code from the probed cells' files only);
    a refined probe reads vectors for just the candidate set.
    by_residual=True stores residual codes (see ivf_pq_topk for the
    tradeoff) and records the flag so pq_probe_topk scores with
    per-cell LUTs automatically."""
    dims = pq_dims(df, vec_col)
    centroids = ivf_fit(df, vec_col, n_cells, seed, max_iter, sample_fraction)
    if by_residual:
        # the parquet write below materializes while cached; unpersist
        # right after it (see the write call)
        res = residual_frame(df, centroids, vec_col).cache()
        codebooks = pq_fit(
            res,
            "pq_resid",
            m,
            nbits,
            seed,
            max_iter,
            sample_fraction,
            dims=dims,
            normalize=False,
            max_abs=2.0,
        )
        coded = pq_encode(res, codebooks, "pq_resid", normalize=False).drop(
            "pq_resid"
        )
    else:
        codebooks = pq_fit(
            df, vec_col, m, nbits, seed, max_iter, sample_fraction, dims=dims
        )
        assigned = ivf_assign(df, centroids, vec_col)
        coded = pq_encode(assigned, codebooks, vec_col)
    import posixpath

    try:
        coded.write.mode("overwrite").partitionBy("ivf_cell").parquet(
            posixpath.join(path, "corpus")
        )
    finally:
        if by_residual:
            res.unpersist()
    meta = {
        "centroids": centroids,
        "codebooks": codebooks,
        "m": m,
        "nbits": nbits,
        "dims": dims,
        "vec_col": vec_col,
        "id_col": id_col,
        "code_col": "pq_code",
        "cell_col": "ivf_cell",
        "by_residual": by_residual,
    }
    _write_json_artifact(df.sparkSession, path, "pq.json", meta)
    return meta


def pq_probe_topk(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 4,
    refine: int = 0,
) -> DataFrame:
    """Probe a persisted pq_write_index layout: partition-pruned cell
    scan -> ADC over the stored codes -> optional exact rerank via the
    stored vectors. Every layout parameter (columns, codebooks,
    centroids) comes from pq.json — self-describing, like srp/ivf."""
    import posixpath

    meta = _read_index_meta(spark, path, "pq.json")
    corpus = spark.read.parquet(posixpath.join(path, "corpus"))
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    probes = ivf_probe_cells(meta["centroids"], query_vec, nprobe)
    cand = corpus.filter(F.col(meta["cell_col"]).isin(probes))
    if meta.get("by_residual"):
        scored = pq_adc_scores_residual(
            cand.select(id_col, meta["cell_col"], meta["code_col"]),
            meta["codebooks"],
            meta["centroids"],
            query_vec,
            probes,
            code_col=meta["code_col"],
            cell_col=meta["cell_col"],
        )
    else:
        scored = pq_adc_scores(
            cand.select(id_col, meta["code_col"]),
            meta["codebooks"],
            query_vec,
            code_col=meta["code_col"],
        )
    top = (
        scored.select(id_col, "approx_cosine")
        .orderBy(F.col("approx_cosine").desc(), F.col(id_col))
        .limit(max(k, refine))
    )
    if refine <= 0:
        return top.limit(k)
    kept = cand.select(id_col, vec_col).join(
        F.broadcast(top.select(id_col)), id_col
    )
    # stable schema across the refine knob (see pq_topk)
    return cosine_topk(kept, query_vec, k, vec_col, id_col).withColumnRenamed(
        "cosine", "approx_cosine"
    )


def _check_append_dims(batch: DataFrame, vec_col: str, dims: int, fn: str) -> None:
    """Append-family guard (the srp_append contract, shared): a batch
    vector whose size differs from the index's dims silently vanishes
    from every probe — SHORTER vectors index out of bounds in the
    stored-model arithmetic and score NULL; LONGER ones make
    ivf_assign's zip_with pad the centroid literal with NULLs, so
    every distance is NULL and the row lands in the unreachable
    NULL-cell partition (ADVICE r10: the one-sided min check let the
    long case through). Exact-equality check, one bounded 1-row
    aggregate over the batch."""
    lo, hi = batch.agg(
        F.min(F.size(F.col(vec_col))), F.max(F.size(F.col(vec_col)))
    ).collect()[0]
    for bad in (lo, hi):
        if bad is not None and bad != dims:
            raise ValueError(
                f"{fn}: batch has a {vec_col} vector of size {bad}, but "
                f"the index's dims={dims}; its codes/scores would be "
                f"NULL and the appended rows unreachable by any probe"
            )


def pq_append(batch: DataFrame, path: str) -> dict:
    """Incrementally admit a batch of new vectors into a persisted
    pq_write_index layout (VERDICT r9 #2, mirroring ivf_append): encode
    against the FROZEN centroids + codebooks from pq.json and APPEND
    only the touched cell partitions — no refit, no corpus rescan, an
    O(batch) Spark job per crawl batch. Handles both layouts the index
    writes (plain codes and by_residual codes). Same operational
    contract as ivf_append: the quantizer stays frozen until the next
    full pq_write_index, correct by construction (append == rebuild
    with the same centroids/codebooks, test-pinned at any
    nprobe/refine) but recall can drift under distribution shift —
    monitor per-cell skew and re-fit when it degrades."""
    import posixpath

    spark = batch.sparkSession
    meta = _read_index_meta(spark, path, "pq.json")
    centroids, codebooks = meta["centroids"], meta["codebooks"]
    vec_col, cell_col = meta["vec_col"], meta["cell_col"]
    _check_append_dims(batch, vec_col, meta["dims"], "pq_append")
    if meta.get("by_residual"):
        res = residual_frame(batch, centroids, vec_col, cell_col)
        coded = pq_encode(
            res, codebooks, "pq_resid", meta["code_col"], normalize=False
        ).drop("pq_resid")
    else:
        assigned = ivf_assign(batch, centroids, vec_col, cell_col)
        coded = pq_encode(assigned, codebooks, vec_col, meta["code_col"])
    coded.write.mode("append").partitionBy(cell_col).parquet(
        posixpath.join(path, "corpus")
    )
    return meta


# ----------------------------------------------------- scalar quantization
#
# int8 scalar quantization (the "SQ8" of FAISS / the int8 path every
# production vector store ships): per-dimension affine quantization of
# float32 embeddings to one signed byte — a 4x storage/scan reduction
# that keeps per-dimension resolution (255 steps across the corpus's
# own per-dim range). Unlike PQ this is a closed-form transform (no
# training iteration), so the ENTIRE path — bounds, quantize, dequant,
# score — is expressible in ANSI SQL and gated hash-exactly against
# DuckDB (embedding_sq8), giving the compressed-vector family an
# oracle anchor beside the rows-only PQ/IVF paths.
#
# Determinism contract (what makes the gate hash-exact): every sum is
# a SEQUENTIAL ascending-index fold (F.aggregate over sequence ==
# DuckDB list_sum over list_transform), quantization rounds via
# floor(x + 0.5) (identical in both engines, unlike round()'s
# half-even/half-up split), and bound literals round-trip through
# repr() so both engines see bit-identical doubles.


def _sq8_lit_arr(vals: list[float]) -> str:
    """A SQL array literal of exact doubles (repr round-trips)."""
    return (
        "array(" + ",".join(f"CAST('{float(v)!r}' AS DOUBLE)" for v in vals) + ")"
    )


def sq8_bounds(
    df: DataFrame, vec_col: str = "embedding", dims: int | None = None
) -> tuple[list[float], list[float]]:
    """Per-dimension (min, max) over the corpus — one aggregation pass
    (2*dims agg expressions), collected as plain python floats: the
    quantizer's whole model is 2*dims numbers, stored next to the
    corpus like ivf centroids. min/max are order-independent, so the
    bounds are partitioning-invariant (unlike a mean/std scaler)."""
    dims = pq_dims(df, vec_col) if dims is None else dims
    if dims == 0:
        return [], []
    aggs = [F.min(F.col(vec_col)[i]).alias(f"mn{i}") for i in range(dims)]
    aggs += [F.max(F.col(vec_col)[i]).alias(f"mx{i}") for i in range(dims)]
    row = df.agg(*aggs).collect()[0]
    mins = [float(row[f"mn{i}"]) for i in range(dims)]
    maxs = [float(row[f"mx{i}"]) for i in range(dims)]
    return mins, maxs


def _sq8_spans(mins: list[float], maxs: list[float]) -> list[float]:
    # double subtraction (NOT float32), mirrored by the oracle's
    # CAST-before-subtract; the 1e-12 floor keeps constant dims finite
    return [max(mx - mn, 1e-12) for mn, mx in zip(mins, maxs)]


def sq8_quantize(
    df: DataFrame,
    mins: list[float],
    maxs: list[float],
    vec_col: str = "embedding",
    code_col: str = "qvec",
) -> DataFrame:
    """Append the int8 code vector: code_i = floor((x_i - mn_i) * 255 /
    span_i + 0.5) - 128, clamped to 127 (x_i == mx_i lands exactly on
    255 - 128; clamped to [-128, 127] both sides so CALLER-supplied
    bounds narrower than the data stay in range — corpus-derived
    bounds never trigger either clamp). Pure JVM transform — no
    Python, no shuffle; at 100 TB this is the write-time pass that
    shrinks the scan 4x for every later query."""
    dims = len(mins)
    mins_arr = _sq8_lit_arr(mins)
    spans_arr = _sq8_lit_arr(_sq8_spans(mins, maxs))
    return df.withColumn(
        code_col,
        F.expr(
            f"transform({vec_col}, (x, i) -> CAST(greatest(least(floor("
            f"(CAST(x AS DOUBLE) - {mins_arr}[i]) * 255.0D / {spans_arr}[i]"
            f" + 0.5D), 255L), 0L) - 128L AS INT))"
        ),
    ) if dims else df.withColumn(code_col, F.expr("CAST(array() AS array<int>)"))


def sq8_scores(
    df: DataFrame,
    mins: list[float],
    maxs: list[float],
    query_vec: list[float],
    code_col: str = "qvec",
    score_col: str = "approx_cosine",
) -> DataFrame:
    """Cosine of the DEQUANTIZED vector against an exact query: dq_i =
    (code_i + 128)/255 * span_i + mn_i, folded sequentially (ascending
    i) so the result is bit-reproducible and oracle-comparable. The
    scan only needs the int8 codes — the float vectors never load."""
    dims = len(mins)
    if dims == 0:
        # sequence(0, -1) counts DOWN in Spark — never build it
        raise ValueError("sq8_scores: empty bounds (dims=0)")
    mins_arr = _sq8_lit_arr(mins)
    spans_arr = _sq8_lit_arr(_sq8_spans(mins, maxs))
    q_arr = _sq8_lit_arr([float(v) for v in query_vec])
    qn = float(sum(float(v) * float(v) for v in query_vec)) ** 0.5
    dq = (
        f"(CAST({code_col}[i] + 128 AS DOUBLE) / 255.0D * {spans_arr}[i]"
        f" + {mins_arr}[i])"
    )
    dot = (
        f"aggregate(sequence(0, {dims - 1}), 0D, (s, i) -> s + {dq} * {q_arr}[i])"
    )
    nrm = (
        f"sqrt(aggregate(sequence(0, {dims - 1}), 0D, (s, i) -> s + {dq} * {dq}))"
    )
    return df.withColumn(
        score_col,
        F.expr(f"{dot} / ({nrm} * CAST('{qn!r}' AS DOUBLE))"),
    )


def sq8_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    mins: list[float] | None = None,
    maxs: list[float] | None = None,
) -> DataFrame:
    """Quantized top-k: bounds (unless supplied — the production shape
    quantizes at write time) -> int8 codes -> dequantized-cosine scan
    -> TakeOrdered. A drop-in cheaper cosine_topk whose scan is 1/4
    the bytes; exactness is bounded by the per-dim step size."""
    if mins is None or maxs is None:
        mins, maxs = sq8_bounds(df, vec_col)
    if not mins:
        return df.select(
            F.col(id_col), F.lit(None).cast("double").alias("approx_cosine")
        ).limit(0)
    coded = sq8_quantize(df.select(id_col, vec_col), mins, maxs, vec_col)
    scored = sq8_scores(coded, mins, maxs, query_vec)
    return (
        scored.select(id_col, "approx_cosine")
        .orderBy(F.col("approx_cosine").desc(), F.col(id_col))
        .limit(k)
    )


def sq8_write_index(
    df: DataFrame,
    path: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 0,
    seed: int = 7,
    max_iter: int = 5,
    sample_fraction: float | None = None,
) -> dict:
    """Persist the production SQ8 layout — quantize at WRITE time so
    every later query scans int8 codes (1/4 the bytes) and the float
    vectors only load for exact rerank. n_cells > 0 additionally
    IVF-partitions the corpus (coarse cells as partition directories),
    stacking partition pruning on top of the byte shrink, same
    geometry as pq_write_index. Bounds (the quantizer's entire model:
    2*dims doubles) live in <path>/sq8.json, reload anywhere."""
    import posixpath

    dims = pq_dims(df, vec_col)
    if dims == 0:
        raise ValueError("sq8_write_index: empty corpus")
    mins, maxs = sq8_bounds(df, vec_col, dims=dims)
    coded = sq8_quantize(df, mins, maxs, vec_col)
    meta = {
        "mins": mins,
        "maxs": maxs,
        "dims": dims,
        "vec_col": vec_col,
        "id_col": id_col,
        "code_col": "qvec",
    }
    if n_cells > 0:
        centroids = ivf_fit(df, vec_col, n_cells, seed, max_iter, sample_fraction)
        coded = ivf_assign(coded, centroids, vec_col)
        coded.write.mode("overwrite").partitionBy("ivf_cell").parquet(
            posixpath.join(path, "corpus")
        )
        meta["centroids"] = centroids
        meta["cell_col"] = "ivf_cell"
    else:
        coded.write.mode("overwrite").parquet(posixpath.join(path, "corpus"))
    _write_json_artifact(df.sparkSession, path, "sq8.json", meta)
    return meta


def sq8_probe_topk(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 0,
    refine: int = 0,
) -> DataFrame:
    """Probe a persisted sq8_write_index layout: (optionally cell-
    pruned) code-only scan -> dequantized-cosine fold -> TakeOrdered;
    refine > 0 reranks the top candidates with exact cosine via a
    broadcast semi-join back to the stored vectors. Layout parameters
    all come from sq8.json (self-describing, like srp/ivf/pq)."""
    import posixpath

    meta = _read_index_meta(spark, path, "sq8.json")
    corpus = spark.read.parquet(posixpath.join(path, "corpus"))
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    if nprobe > 0 and "centroids" in meta:
        probes = ivf_probe_cells(meta["centroids"], query_vec, nprobe)
        corpus = corpus.filter(F.col(meta["cell_col"]).isin(probes))
    scored = sq8_scores(
        corpus.select(id_col, meta["code_col"]),
        meta["mins"],
        meta["maxs"],
        query_vec,
        code_col=meta["code_col"],
    )
    top = (
        scored.select(id_col, "approx_cosine")
        .orderBy(F.col("approx_cosine").desc(), F.col(id_col))
        .limit(max(k, refine))
    )
    if refine <= 0:
        return top.limit(k)
    kept = corpus.select(id_col, vec_col).join(
        F.broadcast(top.select(id_col)), id_col
    )
    # stable schema across the refine knob (see pq_topk)
    return cosine_topk(kept, query_vec, k, vec_col, id_col).withColumnRenamed(
        "cosine", "approx_cosine"
    )


def sq8_append(batch: DataFrame, path: str) -> dict:
    """Incrementally admit a batch of new vectors into a persisted
    sq8_write_index layout (VERDICT r9 #2, mirroring ivf_append):
    quantize against the FROZEN per-dim bounds from sq8.json (batch
    components outside the fit-time bounds SATURATE at the clamp —
    sq8_quantize's documented contract, bit-identical to what a
    rebuild with the same bounds would store) and append; when the
    layout is celled (n_cells > 0 at write time) assign against the
    frozen centroids and append only the touched cell partitions.
    O(batch) per crawl batch, no corpus rescan; re-fit bounds/cells
    with a full sq8_write_index when the distribution shifts."""
    import posixpath

    spark = batch.sparkSession
    meta = _read_index_meta(spark, path, "sq8.json")
    vec_col = meta["vec_col"]
    _check_append_dims(batch, vec_col, meta["dims"], "sq8_append")
    coded = sq8_quantize(
        batch, meta["mins"], meta["maxs"], vec_col, meta["code_col"]
    )
    if "centroids" in meta:
        coded = ivf_assign(coded, meta["centroids"], vec_col, meta["cell_col"])
        coded.write.mode("append").partitionBy(meta["cell_col"]).parquet(
            posixpath.join(path, "corpus")
        )
    else:
        coded.write.mode("append").parquet(posixpath.join(path, "corpus"))
    return meta


# ----------------------------------------------------- binary quantization
#
# 1-bit binary quantization (the "BQ" every production vector store
# now ships beside SQ8/PQ): keep only the SIGN of each component,
# packed into ceil(dims/63) bigint words (63 bits/word for engine
# portability — see bq_encode) — 64 float32 dims become two longs, a
# 16x scan reduction (31x at 256 dims). Distance is Hamming via
# bit_count(code XOR query_code): pure JVM integer ops, no UDF, no
# LUT, and (unlike PQ) no training. For unit vectors the SRP identity
# applies: P[sign mismatch] = theta/pi, so hamming/dims estimates the
# angle and 1 - 2*hamming/dims is the monotone similarity proxy this
# module scores with (exact rerank via `refine` restores true cosine).
# Every stage — sign test, bit packing, xor, popcount, the rational
# score — is engine-portable integer/SQL arithmetic, so the whole path
# hash-gates against DuckDB (embedding_bq), like embedding_sq8.


def bq_encode(
    df: DataFrame,
    vec_col: str = "embedding",
    code_col: str = "bq_code",
    dims: int | None = None,
) -> DataFrame:
    """Append the packed sign-bit code (array<bigint>, 63 bits per
    word — bit 63 stays clear because DuckDB raises on `1::BIGINT <<
    63` while Spark silently wraps negative, so 63-bit words are the
    portable choice and codes stay non-negative in both engines; word
    w holds bits for dims [63w, 63w+62], component i sets bit
    (i - 63w) iff v_i > 0 — zeros and NaNs pack as 0,
    deterministically everywhere). Signs are normalization-invariant,
    so this reads the raw column: one scan, no shuffle, no Python."""
    dims = pq_dims(df, vec_col) if dims is None else dims
    if dims == 0:
        raise ValueError("bq_encode: empty corpus")
    words = (dims + 62) // 63
    word_exprs = []
    for w in range(words):
        lo, hi = w * 63, min((w + 1) * 63, dims) - 1
        word_exprs.append(
            f"aggregate(sequence({lo}, {hi}), 0L, (acc, i) -> acc + "
            f"CASE WHEN CAST({vec_col}[i] AS DOUBLE) > 0D "
            f"THEN shiftleft(1L, i - {lo}) ELSE 0L END)"
        )
    return df.withColumn(
        code_col, F.expr("array(" + ",".join(word_exprs) + ")")
    )


def bq_query_code(query_vec: list[float]) -> list[int]:
    """Driver-side exact twin of bq_encode for the query vector
    (63-bit words, always non-negative)."""
    dims = len(query_vec)
    words = (dims + 62) // 63
    out = []
    for w in range(words):
        acc = 0
        for i in range(w * 63, min((w + 1) * 63, dims)):
            if float(query_vec[i]) > 0.0:
                acc += 1 << (i - w * 63)
        out.append(acc)
    return out


def bq_scores(
    df: DataFrame,
    query_vec: list[float],
    code_col: str = "bq_code",
    hamming_col: str = "hamming",
    score_col: str = "approx_cosine",
) -> DataFrame:
    """Hamming distance to the query's sign code (bit_count of per-word
    XOR — integer-exact, engine-portable) plus the rational angle proxy
    1 - 2*hamming/dims. The scan reads ONLY the code words. Rows whose
    stored code has fewer words than the query implies (a corpus
    encoded at different dims) get NULL hamming — order such output
    with nulls last, or use bq_topk, which encodes and scores from the
    same vectors and cannot mismatch."""
    qcode = bq_query_code(query_vec)
    dims = len(query_vec)
    ham = " + ".join(
        f"bit_count({code_col}[{w}] ^ CAST({q} AS BIGINT))"
        for w, q in enumerate(qcode)
    )
    # any word-count mismatch (corpus encoded at other dims) -> NULL,
    # in BOTH directions: fewer stored words already null the sum via
    # the out-of-range index; MORE stored words would silently truncate
    # to a plausible-looking wrong hamming without this guard
    ham = (
        f"CASE WHEN size({code_col}) = {len(qcode)} "
        f"THEN CAST({ham} AS INT) ELSE CAST(NULL AS INT) END"
    )
    return df.withColumn(
        hamming_col, F.expr(ham)
    ).withColumn(
        score_col,
        F.expr(f"1.0D - 2.0D * CAST({hamming_col} AS DOUBLE) / {dims}.0D"),
    )


def bq_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    refine: int = 0,
) -> DataFrame:
    """Binary-quantized top-k: sign codes -> Hamming TakeOrdered (ties
    by id); refine > 0 reranks the top candidates with exact cosine
    via broadcast semi-join (refine >= corpus == brute force,
    test-pinned). The production shape encodes at write time and scans
    1/256 of the float bytes."""
    coded = bq_encode(df.select(id_col, vec_col), vec_col)
    scored = bq_scores(coded, query_vec)
    top = (
        scored.select(id_col, "hamming", "approx_cosine")
        .orderBy(F.col("hamming").asc(), F.col(id_col))
        .limit(max(k, refine))
    )
    if refine <= 0:
        return top.limit(k)
    kept = df.select(id_col, vec_col).join(F.broadcast(top.select(id_col)), id_col)
    # stable schema across the refine knob: same 3 columns as the ADC
    # branch, with approx_cosine holding the EXACT rerank cosine and
    # hamming carried through from the prefilter
    exact = cosine_topk(kept, query_vec, k, vec_col, id_col)
    return (
        exact.join(F.broadcast(top.select(id_col, "hamming")), id_col)
        .select(
            id_col, "hamming", F.col("cosine").alias("approx_cosine")
        )
        .orderBy(F.col("approx_cosine").desc(), F.col(id_col))
    )


# ----------------------------------------------------- Matryoshka retrieval
#
# Prefix-dimension ("Matryoshka", Kusupati et al. 2022) retrieval: MRL-
# trained embeddings concentrate information in the leading dimensions,
# so a coarse pass over the first d' components ranks almost as well as
# the full vector at d'/d the bytes. Unlike SQ8/PQ/BQ this needs no
# model state at all — the "index" is just the prefix stored as its own
# column so the coarse scan COLUMN-prunes the full vector away — and
# every score is plain float arithmetic, so the whole funnel is
# oracle-replayable like the exact cosine path.


def mrl_coarse_scores(
    df: DataFrame,
    query_vec: list[float],
    prefix_dims: int,
    vec_col: str = "embedding",
    score_col: str = "prefix_cosine",
) -> DataFrame:
    """Cosine over the FIRST `prefix_dims` components of vector and
    query (both norms over the prefix only — the standard MRL
    truncated-retrieval score). Pure JVM sequential folds, so scores
    are bit-reproducible and oracle-comparable; `vec_col` may be the
    full vector or an already-truncated prefix column (slice(x, 1, n)
    of an n-long array is the array)."""
    if prefix_dims < 1 or prefix_dims > len(query_vec):
        raise ValueError(
            f"prefix_dims must be in [1, {len(query_vec)}], got {prefix_dims}"
        )
    q = query_vec[:prefix_dims]
    q_arr = "array(" + ",".join(f"CAST({float(v)!r} AS DOUBLE)" for v in q) + ")"
    qn = float(sum(float(v) * float(v) for v in q)) ** 0.5
    dot = (
        f"aggregate(sequence(0, {prefix_dims - 1}), 0D, "
        f"(s, i) -> s + CAST({vec_col}[i] AS DOUBLE) * {q_arr}[i])"
    )
    nrm = (
        f"sqrt(aggregate(sequence(0, {prefix_dims - 1}), 0D, "
        f"(s, i) -> s + CAST({vec_col}[i] AS DOUBLE) * CAST({vec_col}[i] AS DOUBLE)))"
    )
    return df.withColumn(
        score_col,
        F.expr(
            f"{dot} / greatest({nrm} * CAST('{qn!r}' AS DOUBLE), 1e-12)"
        ),
    )


def mrl_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    prefix_dims: int = 16,
    refine: int = 0,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Matryoshka top-k: coarse prefix-cosine scan -> TakeOrdered;
    refine > 0 reranks the top `refine` prefix candidates with exact
    FULL-dimension cosine via a broadcast id semi-join (only `refine`
    rows load their full vectors — the pq_topk/sq8_topk shape).
    prefix_dims = full dims with refine=0 degenerates to exact brute
    force (test-pinned)."""
    scored = mrl_coarse_scores(df, query_vec, prefix_dims, vec_col)
    if refine <= 0:
        return (
            scored.select(id_col, "prefix_cosine")
            .orderBy(F.col("prefix_cosine").desc(), F.col(id_col))
            .limit(k)
        )
    cand = (
        scored.select(id_col, "prefix_cosine")
        .orderBy(F.col("prefix_cosine").desc(), F.col(id_col))
        # refine < k must still return k rows (the bq_topk/probe
        # contract: refine widens the rerank pool, never the output)
        .limit(max(k, refine))
        .select(id_col)
    )
    kept = df.select(id_col, vec_col).join(F.broadcast(cand), id_col)
    return cosine_topk(kept, query_vec, k, vec_col, id_col).withColumnRenamed(
        "cosine", "prefix_cosine"
    )


def mrl_write_index(
    df: DataFrame,
    path: str,
    prefix_dims: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> dict:
    """Persist the production MRL layout: the corpus with the leading
    `prefix_dims` components materialized as their own column
    (`mrl_prefix`), so the coarse scan reads d'/d of the float bytes
    and COLUMN-prunes the full vector away entirely (the same
    write-time economics as sq8_write_index, with zero model state —
    mrl.json records only the layout). Appends need no freeze logic:
    slice is stateless, so batches append with the same projection."""
    import posixpath

    dims = pq_dims(df, vec_col)
    if dims == 0:
        raise ValueError("mrl_write_index: empty corpus")
    if not 1 <= prefix_dims <= dims:
        raise ValueError(
            f"prefix_dims must be in [1, {dims}], got {prefix_dims}"
        )
    out = df.withColumn(
        "mrl_prefix", F.expr(f"slice({vec_col}, 1, {prefix_dims})")
    )
    out.write.mode("overwrite").parquet(posixpath.join(path, "corpus"))
    meta = {
        "prefix_dims": prefix_dims,
        "dims": dims,
        "vec_col": vec_col,
        "id_col": id_col,
        "prefix_col": "mrl_prefix",
    }
    _write_json_artifact(df.sparkSession, path, "mrl.json", meta)
    return meta


def mrl_append(batch: DataFrame, path: str) -> dict:
    """Append a batch into a persisted mrl_write_index layout (the
    ivf/srp/pq/sq8_append family; accepted by admit_batch's
    index_paths as "mrl"). Stateless by construction — the prefix is
    a slice, so append == rebuild with no freeze caveat at all."""
    import posixpath

    meta = _read_index_meta(batch.sparkSession, path, "mrl.json")
    # guard on FULL dims, not prefix_dims: a vector in
    # [prefix_dims, dims) would coarse-score fine but NULL out of the
    # refined exact rerank (zip_with pads with NULL) — the same
    # silent-vanish class the guard exists for
    _check_append_dims(batch, meta["vec_col"], meta["dims"], "mrl_append")
    out = batch.withColumn(
        meta["prefix_col"],
        F.expr(f"slice({meta['vec_col']}, 1, {meta['prefix_dims']})"),
    )
    out.write.mode("append").parquet(posixpath.join(path, "corpus"))
    return meta


def mrl_probe_topk(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    refine: int = 0,
) -> DataFrame:
    """Probe a persisted mrl_write_index layout: coarse scan over the
    prefix COLUMN only (ReadSchema excludes the full vector —
    test-asserted), optional exact full-dim rerank of the top `refine`
    ids via broadcast semi-join."""
    import posixpath

    meta = _read_index_meta(spark, path, "mrl.json")
    corpus = spark.read.parquet(posixpath.join(path, "corpus"))
    id_col, vec_col = meta["id_col"], meta["vec_col"]
    scored = mrl_coarse_scores(
        corpus.select(id_col, meta["prefix_col"]),
        query_vec,
        meta["prefix_dims"],
        vec_col=meta["prefix_col"],
    )
    top = (
        scored.select(id_col, "prefix_cosine")
        .orderBy(F.col("prefix_cosine").desc(), F.col(id_col))
        .limit(max(k, refine))
    )
    if refine <= 0:
        return top.limit(k)
    kept = corpus.select(id_col, vec_col).join(
        F.broadcast(top.select(id_col)), id_col
    )
    return cosine_topk(kept, query_vec, k, vec_col, id_col).withColumnRenamed(
        "cosine", "prefix_cosine"
    )


def knn_join(
    df: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    planes: int = 12,
    seed: int = 7,
    seeds: list[int] | None = None,
    persist: bool = True,
) -> DataFrame:
    """Blocked k-nearest-neighbor SELF-join (the similarity-graph /
    approxSimilarityJoin operator): for every row, its k most-similar
    OTHER rows among SRP bucket-mates, as (src_id, nbr_id, cosine,
    rank) with rank 1..k per src (ties by nbr id — deterministic).
    This is the hard-negative-mining / graph-construction primitive:
    contrastive training data wants each anchor's nearest non-dups,
    and clustering wants the kNN graph.

    Recall is bounded by the blocking exactly like
    embedding_near_dup_pairs (more seeds/fewer planes = more recall,
    more candidates); rows whose buckets are singletons produce no
    output rows (no neighbors found — callers treat absence as
    'isolated', the honest answer under blocking).

    Scale shape: the candidate stage is the measured SRP bucket
    self-join (equi-keyed, never cartesian); the directed rank stage
    is one window partitioned by src id whose partition sizes are
    bounded by per-bucket candidate counts — nothing new beyond the
    near-dup gate's economics, and the exact-cosine verify cost is
    paid once per UNDIRECTED pair before the direction union. Like
    the near-dup gate, the candidate stage persists intermediates —
    call operators.dedup.release_self_join_caches() after materializing."""
    from pyspark.sql.window import Window

    pairs = embedding_near_dup_pairs(
        df,
        threshold=None,  # keep EVERY candidate (incl. zero/degenerate
        # vectors, which score cosine 0.0 under the guarded norm — a
        # positive threshold would silently drop them); ranking
        # replaces the cut
        vec_col=vec_col,
        id_col=id_col,
        planes=planes,
        seed=seed,
        seeds=seeds,
        persist=persist,
    )
    directed = pairs.select(
        F.col("id_a").alias("src_id"),
        F.col("id_b").alias("nbr_id"),
        "cosine",
    ).unionByName(
        pairs.select(
            F.col("id_b").alias("src_id"),
            F.col("id_a").alias("nbr_id"),
            "cosine",
        )
    )
    w = Window.partitionBy("src_id").orderBy(
        F.col("cosine").desc(), F.col("nbr_id")
    )
    return (
        directed.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "src_id", "nbr_id", "cosine", F.col("rank").cast("int").alias("rank")
        )
    )


def knn_join_cross(
    batch: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    planes: int = 12,
    seed: int = 7,
    seeds: list[int] | None = None,
) -> DataFrame:
    """Bipartite kNN lookup (the ANN-serve / ingest-enrichment
    primitive): for every `batch` vector, its k most-similar CORPUS
    bucket-mates as (src_id, nbr_id, cosine, rank) — the directed twin
    of knn_join the same way the `_cross` dedup gates twin their
    self-joins. The batch never pairs with itself and the corpus never
    re-pairs with itself: one corpus scan + map-side bucketing per
    batch, batch side broadcast-sized (the measured cross-gate
    economics, SCALE.md). Recall is the blocking's, tunable via
    planes/seeds; batch rows with no corpus bucket-mate produce no
    rows (isolated — the honest answer under blocking)."""
    from pyspark.sql.window import Window

    pairs = embedding_near_dup_pairs_cross(
        batch,
        corpus,
        threshold=None,  # keep every candidate, incl. zero vectors
        vec_col=vec_col,
        id_col=id_col,
        planes=planes,
        seed=seed,
        seeds=seeds,
    )
    w = Window.partitionBy("batch_id").orderBy(
        F.col("cosine").desc(), F.col("corpus_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("batch_id").alias("src_id"),
            F.col("corpus_id").alias("nbr_id"),
            "cosine",
            F.col("rank").cast("int").alias("rank"),
        )
    )


# ------------------------------------------------------------ semdedup


def semdedup_survivors(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep: str = "far_from_centroid",
    persist: bool = True,
    tag_cols: bool = False,
) -> DataFrame:
    """Cluster-blocked semantic dedup — the PAPER-faithful SemDeDup
    shape (Abbas et al. 2023): vectors are blocked by their k-means
    cell (ivf_assign against fixed/fitted centroids), candidate pairs
    are the exact within-cell cosine pairs at `threshold`, and each
    near-dup neighborhood keeps ONE representative. This is the
    cluster-blocking sibling of embedding_dedup_survivors (SRP
    blocking): SRP blocks by random hyperplanes with tunable recall;
    cell blocking matches the paper and lets the pair stage reuse a
    corpus already written partitioned by cell.

    `keep` picks the representative, greedy/deterministic like the SRP
    sibling (a dropped vector still dominates its own neighbors —
    published SemDeDup keep-one semantics, not transitive clustering):

      "far_from_centroid": the paper's rule — within a pair, the
        vector MORE aligned with the cell centroid is dropped
        (keeping low-alignment examples preserves cluster diversity);
        alignment = dot(unit vector, cell centroid), monotone in
        cosine-to-centroid within a cell (shared centroid norm), ties
        break on id. Survivors are the (alignment, id)-minimal rows
        of their neighborhoods.
      "min_id": the SRP sibling's smaller-id-wins rule.

    Returns the surviving rows, all columns intact; `tag_cols=True`
    appends (semdedup_cell, semdedup_align) diagnostics. Deterministic
    and SQL-replayable end to end — the declared `semdedup_fixed` row
    gates the whole chain under pinned centroids.

    At 100 TB: the cell self-join is O(sum over cells of cell_size^2)
    — the paper's accepted cost with k sized so n/k stays small (they
    run k=11k on 5B embeddings). Size `len(centroids)` accordingly, or
    compose: pre-split mega-cells with an SRP pass (the two blockers
    chain, since both are deterministic keys). Everything else is one
    JVM projection and one anti join; nothing driver-side."""
    if keep not in ("far_from_centroid", "min_id"):
        raise ValueError(
            f"semdedup_survivors: keep must be 'far_from_centroid' or"
            f" 'min_id', got {keep!r}"
        )
    others = list(df.columns)
    cells = ivf_assign(df, centroids, vec_col=vec_col, cell_col="__sd_cell")
    # alignment: unit vector materialized through a Generate barrier
    # (the ivf_assign CollapseProject discipline), centroid picked by
    # the assigned cell from the literal table
    unit = cells.select(
        "*", F.explode(F.array(_unit_expr(vec_col))).alias("__sd_u")
    )
    align = F.expr(
        "aggregate(zip_with(__sd_u, element_at("
        + _centroids_lit(centroids)
        + ", __sd_cell + 1), (x, y) -> x * y), 0D, (s, v) -> s + v)"
    )
    tagged = unit.select(
        *others, "__sd_cell", align.alias("__sd_align")
    )
    from chapterhousedb_spark.operators.dedup import _persist_for_self_join

    base = _persist_for_self_join(
        tagged.select(
            F.col(id_col), F.col(vec_col), "__sd_cell", "__sd_align"
        ),
        persist,
    )
    a = base.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        F.col("__sd_cell").alias("__c"),
        F.col("__sd_align").alias("__al_a"),
    )
    b = base.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        F.col("__sd_cell").alias("__c"),
        F.col("__sd_align").alias("__al_b"),
    )
    # same guarded-denominator cosine as embedding_near_dup_pairs
    cos = _dot("va", "vb") / F.greatest(
        _norm("va") * _norm("vb"), F.lit(1e-12)
    )
    pairs = (
        a.join(b, "__c")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("__cos", cos)
        .filter(F.col("__cos") >= threshold)
    )
    if keep == "min_id":
        loser = F.col("id_b")
    else:
        # keep the LOWER alignment; exact-tie (e.g. identical vectors)
        # falls to the larger id, matching the min_id convention
        loser = F.when(
            F.col("__al_b") < F.col("__al_a"), F.col("id_a")
        ).otherwise(F.col("id_b"))
    dominated = pairs.select(loser.alias(id_col)).distinct()
    out = tagged if tag_cols else df
    if tag_cols and persist and set(others) <= {id_col, vec_col}:
        # the persisted pair base already holds every output column —
        # serve the survivor side from the cache instead of re-running
        # the assign+align chain a second time (same columns, same
        # order; only taken when the input carries nothing beyond
        # id+vector, so base is lossless)
        out = base.select(*others, "__sd_cell", "__sd_align")
    survivors = out.join(dominated, id_col, "left_anti")
    if tag_cols:
        survivors = survivors.withColumnRenamed(
            "__sd_cell", "semdedup_cell"
        ).withColumnRenamed("__sd_align", "semdedup_align")
    return survivors
