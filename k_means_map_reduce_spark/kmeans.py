"""K-Means: the reference engine's entire query surface, Spark-first.

Two implementations:

1. ``kmeans_mllib`` — delegate the whole loop to ``pyspark.ml.clustering.KMeans``
   (Lloyd's + k-means|| init, squared-distance, tol-based early stop). This is
   what a production 100 TB job should use.

2. ``kmeans_native`` — a transparent DataFrame-native Lloyd's loop that
   re-expresses every operator of the reference's MapReduce dataflow
   (SURVEY.md §2a ops #5-#17) with Catalyst-optimizable expressions:

   reference (file:line)                          → here
   ---------------------------------------------- → ----------------------------
   ranged text scan, per-iter re-read
     (/root/reference/mapper.py:15-24,46)         → ``df.cache()`` once
   random-sample init (master.py:54-65)           → seeded ``rdd.takeSample``'s
                                                    draw, replayed JVM-side
   nearest-centroid map, broadcast cross-join +
     argmin (mapper.py:45-87)                     → centroids compiled into
                                                    one argmin expression
                                                    (broadcast, zero shuffle)
   hash partition by cid % R (mapper.py:32-38)    → Spark hash shuffle (implicit)
   group-by-key (reducer.py:58-61)                → ``GROUP BY b.cid``
   per-group vector mean (reducer.py:19-30)       → per-dimension ``avg`` with
                                                    map-side partial aggregation
   gather (master.py:238-247)                     → ``collect()`` of k rows
   convergence ε=1e-6 (master.py:97-103)          → max centroid shift, joined
                                                    BY ID (fixes the reference's
                                                    positional-zip bug)
   fault tolerance (master.py:161-235)            → Spark task retry / lineage

   Deliberate semantic fixes vs the reference (SURVEY.md §2a quirks):
   - N-dimensional (reference hard-codes 2-D at mapper.py:27-28, 99).
   - Empty clusters keep their previous centroid instead of vanishing
     (reference drops them, reducer.py:65-67, shrinking k).
   - Ties broken deterministically toward the lowest centroid id (reference
     keeps first-in-iteration-order, mapper.py:64 — same outcome).

Scale notes: each iteration is ONE SQL statement (`_lloyd_step`) and one
job: scan of the fit's cache → project(argmin expr) → partial agg → one
shuffle of k partial rows → final agg → collect(k rows), summed on the driver
in cid order. No cross join, no window, no Python on the hot path. Centroids
ride into executors as literals compiled into the plan, so every iteration
compiles a new class. For k·dim ≤ FUSED_ASSIGN_MAX_KDIM (the reference's k=5
2-D job) the fit caches one flat double column per coordinate once init has
fixed the dimension, and the map step is flat whole-stage codegen over those
columns: unrolled distance chains and a ``least`` argmin, a handful of flops
per point, no array decoded. Above the gate it reads the ``vec`` cache with a
literal centroid array under higher-order functions
(``transform``/``array_sort``/``aggregate``), whose lambdas are interpreted
per element (fine for k·dim ≤ ~64k; beyond that, swap the literal for a
broadcast join — interface unchanged). Centroids in a one-row cross join are
no way out: the optimizer folds them back into literals, and the join costs
a broadcast job per iteration (NEXT.md lesson 58).
"""

from __future__ import annotations

import math
import os
import random
import sys
import uuid
from dataclasses import dataclass, field

from pyspark.core.rdd import RDD
from pyspark.rddsampler import RDDSampler
from pyspark.sql import Column, DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from .session import scoped_conf


@dataclass
class KMeansResult:
    centers: list[list[float]]  # index = cluster id
    iterations: int
    converged: bool
    wssse_history: list[float] = field(default_factory=list)
    sizes: dict[int, int] = field(default_factory=dict)  # cluster id -> |points| at final assignment


def _centroid_sql(centroids: list[list[float]]) -> str:
    """Centroids as a SQL literal, array<struct<cid:int, cvec:array<double>>>.

    One expression string parsed JVM-side: constructing k·dim nested F.lit
    Columns costs hundreds of py4j round-trips per iteration (~0.3 s at k=8,
    dim=64), which would dominate small-batch iterations. repr(float) is the
    shortest exact round-trip form, so no precision loss.
    """
    parts = []
    for cid, vec in enumerate(centroids):
        arr = ",".join(f"{float(x)!r}D" for x in vec)
        parts.append(f"named_struct('cid', {cid}, 'cvec', array({arr}))")
    return "array(" + ",".join(parts) + ")"


def _centroid_literal(centroids: list[list[float]]) -> Column:
    """`_centroid_sql` as a Column."""
    return F.expr(_centroid_sql(centroids))


def _fused_argmin(centroids: list[list[float]], coords: list[str], size: str) -> str:
    """The argmin as one flat codegen SQL expression, struct(dist2, cid).

    `coords` are the SQL expressions of the point's coordinates and `size`
    that of its length. Per centroid, the fold's additions unrolled in the
    fold's order: ``((0.0D + (x1-c1)*(x1-c1)) + (x2-c2)*(x2-c2)) + …`` —
    the same IEEE operations on the same values, so bit-identical to
    `_folded_argmin` (functions/vectors.py UNROLL_DIM comment). It sits
    under a ``size = dim`` guard; on any other length (or a NULL array) the
    fold yields NULL (zip_with pads with NULL and NULL absorbs the sum), so
    the guard's implicit ELSE NULL is the fold's value there, and a
    coordinate read from the array is never evaluated out of bounds.
    ``least`` over struct(dist2, cid) orders exactly like array_sort: NULL
    dist2 first, NaN after every number, ties to the lower cid.

    Built as ONE SQL string parsed JVM-side, like `_centroid_sql`: the same
    tree from nested F.* Columns costs a py4j round-trip per node, in every
    iteration.
    """
    structs = []
    for cid, cvec in enumerate(centroids):
        dist2 = "0.0D"
        for x, c in zip(coords, cvec):
            diff = f"({x} - {float(c)!r}D)"
            dist2 = f"({dist2} + {diff} * {diff})"
        guarded = f"CASE WHEN {size} = {len(cvec)} THEN {dist2} END"
        structs.append(f"named_struct('dist2', {guarded}, 'cid', {cid})")
    if len(structs) == 1:  # least() takes two or more arguments
        return structs[0]
    return "least(" + ", ".join(structs) + ")"


def _folded_argmin(centroids: list[list[float]], vec: str) -> str:
    """The argmin over the centroid literal with higher-order functions, as
    SQL: transform each centroid to struct(dist2, cid) with the squared
    distance of functions/vectors.py `sq_euclidean`, array_sort (struct
    ordering is lexicographic, so ties break toward the lowest cid), take
    the head. Every lambda is interpreted per element (CodegenFallback)."""
    dist2 = (
        f"aggregate(zip_with(CAST({vec} AS ARRAY<DOUBLE>), _c.cvec, "
        "(_x, _y) -> (_x - _y) * (_x - _y)), 0.0D, (_acc, _t) -> _acc + _t)"
    )
    return (
        f"element_at(array_sort(transform({_centroid_sql(centroids)}, "
        f"_c -> named_struct('dist2', {dist2}, 'cid', _c.cid))), 1)"
    )


# Largest k·dim for which the assignment takes the fused expression. The
# fused tree's Catalyst/compile cost grows with k·dim, and once its generated
# method is too big for the JVM to JIT-compile it runs interpreted; its win
# is per row. kmeans_native fit time, 10 iterations, 3 input partitions,
# 4-core box, fused vs fold, 2 fits each after a warm-up fit (s):
#   200,000 rows, k·dim=10/15/16:  4.9-6.6 vs 8.1-11.3   (1.5-1.7x faster)
#   200,000 rows, k·dim=32:        30.5-30.8 vs 11.1-12.7 (2.5x slower)
#   2,000 rows,   k·dim=10:        1.8-2.1 vs 2.1-2.2     (break-even)
#   2,000 rows,   k·dim=32:        2.9-3.1 vs 2.0-2.1
#   2,000 rows,   k·dim=256:       17.4-17.9 vs 3.3-3.6
# Above the gate the fold stays; the embeddings queries (k=8, dim=64) use it.
FUSED_ASSIGN_MAX_KDIM = 16


def _fuses(centroids: list[list[float]]) -> bool:
    """Whether the assignment against `centroids` takes the fused argmin."""
    return bool(centroids) and len(centroids) * len(centroids[0]) <= FUSED_ASSIGN_MAX_KDIM


def assign_clusters(
    df: DataFrame, centroids: list[list[float]], vec_col: str = "vec"
) -> DataFrame:
    """Add ``cid``/``dist2``: nearest centroid per row (reference op #7).

    The map side of the reference's MapReduce, with the broadcast of
    centroids compiled into the plan. For k·dim ≤ FUSED_ASSIGN_MAX_KDIM the
    argmin is one flat whole-stage-codegen expression (`_fused_argmin`);
    above it, the higher-order-function fold (`_folded_argmin`). Both give
    bit-identical cid and dist2, ties broken toward the lowest cid.
    """
    v = "`" + vec_col.replace("`", "``") + "`"
    if _fuses(centroids):
        coords = [
            f"CAST(element_at({v}, {i}) AS DOUBLE)"
            for i in range(1, len(centroids[0]) + 1)
        ]
        best = F.expr(_fused_argmin(centroids, coords, f"size({v})"))
    else:
        best = F.expr(_folded_argmin(centroids, v))
    return df.withColumn("cid", best["cid"]).withColumn("dist2", best["dist2"])


def _lloyd_step(
    spark: SparkSession, table: str, centroids: list[list[float]]
) -> list[tuple[int, int, list[float], float]]:
    """One Lloyd iteration (reference ops #7-#13) as ONE SQL statement:

        SELECT b.cid, count(1) AS n, sum(b.dist2) AS sum_dist2, avg(x0) AS m0, …
        FROM (SELECT *, <argmin> AS b FROM table) GROUP BY b.cid

    Returns [(cid, n, mean_vec, sum_dist2)] in cid order. Below the gate
    (`_fuses`) ``table`` is the fit's flat cache (``sz``, ``x0``, ``x1``, …)
    and the argmin is `_fused_argmin` over those columns; above it the
    table holds ``vec``, read with the fold and ``element_at``. Catalyst
    plans the GROUP BY as partial (map-side) + final aggregation: the
    shuffle carries k×(dim+2) partials per input partition, not data rows —
    the reference's combiner-less reducer minus the materialized partition
    files (/root/reference/mapper.py:72-84).
    """
    dim = len(centroids[0])
    if _fuses(centroids):
        xs = [f"x{i}" for i in range(dim)]
        best = _fused_argmin(centroids, xs, "sz")
    else:
        xs = [f"element_at(vec, {i})" for i in range(1, dim + 1)]
        best = _folded_argmin(centroids, "vec")
    means = ", ".join(f"avg({x}) AS m{i}" for i, x in enumerate(xs))
    q = (
        f"SELECT b.cid, count(1) AS n, sum(b.dist2) AS sum_dist2, {means} "
        f"FROM (SELECT *, {best} AS b FROM {table}) GROUP BY b.cid"
    )
    rows = sorted(spark.sql(q).collect(), key=lambda r: r[0])
    return [(r[0], r[1], list(r[3:]), r[2]) for r in rows]


def _replay_take_sample(counts: dict[int, int], num: int, seed: int) -> list[tuple[int, int]]:
    """The rows ``RDD.takeSample(False, num, seed)`` returns, as (partition,
    position) pairs in its order, from each partition's row count alone.

    pyspark's ``RDDSampler`` keeps a row when one ``random()`` from
    ``Random(seed ^ partition)`` (after ten mixing draws) is below the
    fraction, so the kept positions depend only on the partition sizes.
    The fraction, the reseed loop and the final shuffle are takeSample's.
    """
    total = sum(counts.values())
    num = min(num, total)  # fraction 1 keeps every row: takeSample's collect-and-shuffle
    if num == 0:
        return []
    rand = random.Random(seed)
    fraction = RDD._computeFractionForSampleSize(num, total, False)

    def draw(s: int) -> list[tuple[int, int]]:
        return [
            (p, i)
            for p in sorted(counts)
            for i in RDDSampler(False, fraction, s).func(p, iter(range(counts[p])))
        ]

    picks = draw(seed)
    while len(picks) < num:
        seed = rand.randint(0, sys.maxsize)
        picks = draw(seed)
    rand.shuffle(picks)
    return picks[:num]


def _take_sample(df: DataFrame, num: int, seed: int) -> list[Row]:
    """``df.rdd.takeSample(False, num, seed)`` without Python workers: the
    same rows in the same order, so the draw still depends on how ``df`` is
    partitioned. One JVM job counts each partition's rows, the driver
    replays the draws (one ``random()`` per row), and one more job fetches
    the chosen rows by ``monotonically_increasing_id()``, which is
    ``(partition << 33) + position``."""
    counts = dict(df.groupBy(F.spark_partition_id()).count().collect())
    picks = [(p << 33) + i for p, i in _replay_take_sample(counts, num, seed)]
    if not picks:
        return []
    fetched = df.where(F.monotonically_increasing_id().isin(picks)).collect()
    # collect() returns partitions in order, each in row order: ascending ids
    by_id = dict(zip(sorted(picks), fetched, strict=True))
    return [by_id[i] for i in picks]


def _first_distinct(vecs: list, k: int) -> list[list[float]]:
    """Up to k distinct vectors, in order of first appearance."""
    return [list(v) for v in dict.fromkeys(map(tuple, vecs))][:k]


def _init_random(pts: DataFrame, k: int, seed: int) -> list[list[float]]:
    """Seeded uniform sample without replacement (reference op #5,
    master.py:54-65) — the reference's random.sample, distributed and seeded.
    Oversample 4x then keep the first k distinct vectors, avoiding a full
    distinct() shuffle just for init."""
    sample = _take_sample(pts, 4 * k, seed)
    if not sample:
        raise ValueError("empty input")
    centroids = _first_distinct([r["vec"] for r in sample], k)
    if len(centroids) < k:
        distinct_sample = _take_sample(pts.distinct(), k, seed)
        if len(distinct_sample) < k:
            raise ValueError(f"k={k} but only {len(distinct_sample)} distinct points")
        centroids = [list(r["vec"]) for r in distinct_sample]
    return centroids


def _init_kmeans_parallel(
    pts: DataFrame, k: int, seed: int, rounds: int = 5, oversample: float | None = None
) -> list[list[float]]:
    """k-means|| init (Bahmani, Moseley, Vattani, Kumar, Vassilvitskii —
    VLDB 2012): the scalable k-means++ — instead of k sequential passes,
    ~5 rounds each sampling ℓ=2k points with probability ℓ·d²(x,C)/φ_C,
    then a driver-side weighted Lloyd on the O(ℓ·rounds) candidates.

    Each round is one distributed pass: assign_clusters (codegen argmin vs
    the current candidate set) → φ via one agg → independent Bernoulli draws
    with a seeded rand(). Candidate weights (how many points each candidate
    owns) come from one final groupBy. Everything driver-side touches only
    the ≤ ℓ·rounds+1 candidates, never the data. This is the init MLlib uses
    by default, re-expressed in DataFrame ops — at 100 TB it replaces
    k-means++'s k passes with ~5."""
    ell = oversample if oversample is not None else 2.0 * k
    first = _take_sample(pts, 1, seed)
    if not first:
        raise ValueError("empty input")
    candidates: list[list[float]] = [list(first[0]["vec"])]
    for rnd in range(rounds):
        assigned = assign_clusters(pts, candidates, "vec")
        phi = assigned.agg(F.sum("dist2").alias("phi")).collect()[0]["phi"]
        if not phi or phi <= 0:  # all points coincide with candidates
            break
        new = (
            assigned.where(
                F.rand(seed + 1000 * (rnd + 1))
                < F.least(F.lit(1.0), F.lit(ell) * F.col("dist2") / F.lit(phi))
            )
            .select("vec")
            .collect()
        )
        seen = {tuple(c) for c in candidates}
        for r in new:
            key = tuple(r["vec"])
            if key not in seen:
                seen.add(key)
                candidates.append(list(r["vec"]))
    if len(candidates) <= k:
        # not enough candidates (tiny/degenerate input): pad with randoms
        pad = _init_random(pts, k, seed)
        seen = {tuple(c) for c in candidates}
        candidates += [c for c in pad if tuple(c) not in seen]
        return candidates[:k]
    # weight candidates by |points nearest to them|, then weighted Lloyd
    # driver-side on the small candidate set.
    wrows = (
        assign_clusters(pts, candidates, "vec")
        .groupBy("cid")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    weights = [0.0] * len(candidates)
    for r in wrows:
        weights[r["cid"]] = float(r["n"])
    return _weighted_lloyd_local(candidates, weights, k, seed)


def _weighted_lloyd_local(
    xs: list[list[float]], ws: list[float], k: int, seed: int, iters: int = 30
) -> list[list[float]]:
    """Weighted k-means++ seeding + weighted Lloyd's on the driver
    (candidate set is O(k·rounds)). The ++ seeding is the part of the
    k-means|| recipe that makes the local refine land one center per dense
    region — seeding by raw weight alone can put two centers in one heavy
    cluster and merge two others."""
    import random as _random

    rng = _random.Random(seed)

    def _sq(a: list[float], b: list[float]) -> float:
        return sum((x - y) ** 2 for x, y in zip(a, b))

    def _weighted_draw(weights: list[float]) -> int:
        total = sum(weights)
        r = rng.random() * total
        acc = 0.0
        for i, w in enumerate(weights):
            acc += w
            if r <= acc:
                return i
        return len(weights) - 1

    centers = [list(xs[_weighted_draw(ws)])]
    d2 = [_sq(x, centers[0]) for x in xs]
    while len(centers) < k:
        draw = [w * d for w, d in zip(ws, d2)]
        if sum(draw) <= 0:
            # all remaining mass sits on existing centers; fall back uniform
            centers.append(list(xs[rng.randrange(len(xs))]))
        else:
            centers.append(list(xs[_weighted_draw(draw)]))
        d2 = [min(d, _sq(x, centers[-1])) for x, d in zip(xs, d2)]
    dim = len(centers[0])
    for _ in range(iters):
        sums = [[0.0] * dim for _ in range(k)]
        wsum = [0.0] * k
        for x, w in zip(xs, ws):
            b = min(
                range(k),
                key=lambda c: sum((a - b_) ** 2 for a, b_ in zip(x, centers[c])),
            )
            wsum[b] += w
            for d in range(dim):
                sums[b][d] += w * x[d]
        new = [
            [s / wsum[c] for s in sums[c]]
            if wsum[c] > 0
            else list(xs[rng.randrange(len(xs))])
            for c in range(k)
        ]
        if all(
            sum((a - b_) ** 2 for a, b_ in zip(o, n_)) < 1e-18
            for o, n_ in zip(centers, new)
        ):
            centers = new
            break
        centers = new
    return centers


def kmeans_native(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 8,
    max_iter: int = 20,
    tol: float = 1e-6,
    seed: int = 42,
    init: str = "random",
    init_rounds: int = 5,
) -> KMeansResult:
    """DataFrame-native Lloyd's loop (reference master.start, master.py:106-159).

    init: "random" (the reference's seeded sample) or "k||" (k-means||,
    MLlib's default init, re-expressed with DataFrame ops).

    "random" draws its starting centroids with `_take_sample`: one JVM job
    counts the rows per partition and one fetches the chosen rows. It is
    ``rdd.takeSample``'s draw, so it depends on the seed *and* on how the
    input is partitioned (e.g. ``createDataFrame`` slices by
    ``defaultParallelism``, the core count). Lloyd's loop from a uniform
    sample gives no guarantee of reaching the global optimum: two starting
    centroids in one cluster can leave a centre spanning two. Use "k||" when
    recovering the true clusters matters.

    Each iteration is one job running one SQL statement (`_lloyd_step`):
    a scan of the fit's cache, the argmin projection, the partial
    aggregate, one shuffle of k partial rows, the final aggregate, then the
    collect of k rows. The input is cached as ``vec`` (init samples from
    it); once init has fixed ``dim``, and when k·dim ≤
    FUSED_ASSIGN_MAX_KDIM, the loop reads a second, flat cache of one
    double column per coordinate, filled inside the first iteration's job,
    so no iteration decodes the array. The loop names its cache through a
    temp view that lives as long as the fit. The fit turns AQE off (AQE
    runs each shuffle stage as its own job) and caps
    ``spark.sql.shuffle.partitions`` at k, as reducers beyond k get no key
    (the reference routes ``cid % R``). Centers, sizes and WSSSE (summed in
    cid order) do not depend on the reducer count. On every exit the confs
    are restored, the view dropped and both caches released, but the
    confs are session-wide: the fit is not safe alongside concurrent
    queries on the same session."""
    pts = (
        df.select(F.col(vec_col).cast("array<double>").alias("vec"))
        .where(F.col("vec").isNotNull() & (F.size("vec") > 0))
        .cache()  # planned here, under the caller's confs: fixes the sample's partitions
    )
    caches = [pts]
    view = f"kmeans_native_{uuid.uuid4().hex}"
    spark = df.sparkSession
    reducers = min(int(spark.conf.get("spark.sql.shuffle.partitions")), k)
    one_job = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": str(reducers),
    }
    with scoped_conf(spark, one_job):
        try:
            if init == "k||":
                centroids = _init_kmeans_parallel(pts, k, seed, rounds=init_rounds)
            elif init == "random":
                centroids = _init_random(pts, k, seed)
            else:
                raise ValueError(f"unknown init {init!r}")
            dim = len(centroids[0])
            frame = pts
            if _fuses(centroids):
                xs = (f"element_at(vec, {i + 1}) AS x{i}" for i in range(dim))
                frame = pts.selectExpr("size(vec) AS sz", *xs).cache()
                caches.append(frame)
            # A view for the whole fit: spark.sql(q, pts=frame) would drop
            # its per-call view after each statement, and dropping a view
            # uncaches the frame it names (NEXT.md lesson 58).
            frame.createTempView(view)

            wssse_history: list[float] = []
            converged = False
            it = 0
            sizes: dict[int, int] = {}
            for it in range(1, max_iter + 1):
                stats = _lloyd_step(spark, view, centroids)
                new_centroids = list(centroids)  # empty clusters keep old centroid
                sizes = {cid: 0 for cid in range(k)}
                for cid, n, mean_vec, _sd in stats:
                    new_centroids[cid] = mean_vec
                    sizes[cid] = n
                wssse_history.append(sum(s[3] for s in stats))
                # Convergence (reference op #15, fixed to pair by id): every
                # centroid moved < tol in Euclidean distance.
                shift = max(
                    math.sqrt(sum((a - b) ** 2 for a, b in zip(old, new)))
                    for old, new in zip(centroids, new_centroids)
                )
                centroids = new_centroids
                if shift < tol:
                    converged = True
                    break
        finally:
            spark.catalog.dropTempView(view)
            for cache in caches:
                cache.unpersist()
    return KMeansResult(centroids, it, converged, wssse_history, sizes)


def kmeans_native_df(
    spark: SparkSession,
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    max_iter: int = 20,
    tol: float = 1e-6,
    seed: int = 42,
    init: str = "random",
    init_rounds: int = 5,
) -> DataFrame:
    """Run kmeans_native and return (cluster_id, size, center) as a DataFrame."""
    result = kmeans_native(
        df, vec_col=vec_col, k=k, max_iter=max_iter, tol=tol, seed=seed, init=init,
        init_rounds=init_rounds,
    )
    # sizes come from the final iteration's aggregation — no extra pass. (The
    # last assignment used the pre-update centroids; for a converged run the
    # difference is < tol.)
    rows = [
        (cid, int(result.sizes.get(cid, 0)), [float(x) for x in vec])
        for cid, vec in enumerate(result.centers)
    ]
    return spark.createDataFrame(
        rows, "cluster_id INT, size BIGINT, center ARRAY<DOUBLE>"
    )


def kmeans_mllib(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 8,
    max_iter: int = 20,
    tol: float = 1e-6,
    seed: int = 42,
) -> DataFrame:
    """MLlib KMeans; returns (cluster_id, size, center ARRAY<DOUBLE>).

    array_to_vector / vector_to_array keep VectorUDT confined to the MLlib
    boundary (SURVEY.md §7 risk note).
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = df.select(
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features")
    ).cache()
    model = KMeans(k=k, maxIter=max_iter, tol=tol, seed=seed).fit(feats)
    # r13 optimization: the training summary already carries the per-cluster
    # assignment counts (KMeansSummary.clusterSizes, indexed by cluster id),
    # so the extra transform + groupBy + collect pass is pure recomputation
    # of the same numbers (verified equal) — guide §1.2: don't compute
    # things twice.
    sizes = {cid: n for cid, n in enumerate(model.summary.clusterSizes)}
    feats.unpersist()
    spark = df.sparkSession
    rows = [
        (cid, int(sizes.get(cid, 0)), [float(x) for x in center])
        for cid, center in enumerate(model.clusterCenters())
    ]
    return spark.createDataFrame(rows, "cluster_id INT, size BIGINT, center ARRAY<DOUBLE>")


def _lloyd_kernel(X, C):
    """One Lloyd assignment pass over a dense block: (cnt, Σvec, Σdist²).

    Shared by both kmeans_arrow physical paths so their math is identical:
    |x|²+|c|²-2XCᵀ distances (BLAS matmul), argmin with first-occurrence =
    lowest-cid tie-break, dist² clamped at 0 against fp cancellation.
    """
    import numpy as np

    c_sq = (C * C).sum(axis=1)
    d2 = (X * X).sum(axis=1)[:, None] + c_sq[None, :] - 2.0 * (X @ C.T)
    cid = d2.argmin(axis=1)  # first occurrence = lowest cid on ties
    best = np.maximum(d2[np.arange(len(X)), cid], 0.0)
    kk = C.shape[0]
    cnt = np.bincount(cid, minlength=kk)
    sd = np.bincount(cid, weights=best, minlength=kk)
    sums = np.zeros_like(C)
    np.add.at(sums, cid, X)
    return cnt, sums, sd


def _lloyd_single(X, C, max_iter, tol):
    """Full Lloyd loop over one in-memory block (the single-task path).

    Runs INSIDE an executor task via mapPartitions — the data never visits
    the driver. Returns plain picklable types.
    """
    import numpy as np

    wssse_history: list[float] = []
    cnt = np.zeros(C.shape[0], dtype=np.int64)
    converged = False
    it = 0
    for it in range(1, max_iter + 1):
        cnt, sums, sd = _lloyd_kernel(X, C)
        wssse_history.append(float(sd.sum()))
        new_c = C.copy()
        nz = cnt > 0
        new_c[nz] = sums[nz] / cnt[nz, None]
        shift = float(np.sqrt(((new_c - C) ** 2).sum(axis=1)).max())
        C = new_c
        if shift < tol:
            converged = True
            break
    return (
        [[float(x) for x in row] for row in C],
        it,
        converged,
        wssse_history,
        [int(n) for n in cnt],
    )


def kmeans_arrow(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 8,
    max_iter: int = 20,
    tol: float = 1e-6,
    seed: int = 42,
) -> KMeansResult:
    """Lloyd's loop with blocked-numpy assignment — the scale path.

    Same semantics as kmeans_native (seeded init, empty-cluster retention,
    lowest-cid tie-break via argmin-first-occurrence, tol convergence), with
    an adaptive physical strategy — the same decision Catalyst makes between
    broadcast and shuffle joins, applied to an iterative job:

    - Catalyst's size estimate of the input plan ≤
      SPARK_GRAFT_KMEANS_LOCAL_BYTES (default 64 MB): the whole loop runs
      INSIDE one executor task over the coalesced block — ONE Spark job for
      all iterations instead of one per iteration. The choice is made from
      the plan estimate alone, before any job runs. An iterative
      driver loop over a 1 MB input pays ~250 ms of job-scheduling floor per
      iteration for microseconds of math; running the loop where the data is
      removes that floor entirely. (Data never lands on the driver — this is
      mapPartitions, not collect; precedent: MLlib runs LocalKMeans for the
      k-means|| refine the same way, clustering/LocalKMeans.scala.)
    - estimate over the limit or unknown (non-file plans report Long.Max),
      and inputs whose 4k init oversample holds fewer than k distinct
      vectors: per-iteration treeAggregate over a cached RDD of dense
      per-partition matrices, even when the data would fit one task:

        executors: cached numpy block → |x|²+|c|²-2XCᵀ argmin (BLAS)
                   → (count, Σvec, Σdist²) partials, tree-combined
        driver:    merge combined partials, update centroids, test shift.

    Why this beats the expression-tree loop at any scale: no Catalyst
    re-analysis or re-codegen per iteration (the blocks never change — only
    the k×dim centroid matrix in the task closure does), distance math is a
    dense matmul instead of per-element codegen, and the shuffle is replaced
    by a depth-2 tree reduction of k-row partials. This is MLlib KMeans'
    own RDD loop shape (clustering/KMeans.scala: broadcast centers +
    treeAggregate over cached vector blocks), reproduced in numpy.

    Both paths share one iteration kernel (`_lloyd_kernel`), so they agree
    to float-associativity (tested: test_arrow_equals_native).
    """
    import numpy as np

    spark = df.sparkSession
    base = df.select(F.col(vec_col).cast("array<double>").alias("vec")).where(
        F.col("vec").isNotNull() & (F.size("vec") > 0)
    )

    local_bytes = int(
        os.environ.get("SPARK_GRAFT_KMEANS_LOCAL_BYTES", str(64 * 1024 * 1024))
    )
    # Size the input from Catalyst plan statistics — no job spent; this is
    # the same estimate autoBroadcastJoinThreshold uses to pick broadcast
    # joins. Unknown stats (non-file plans) report Long.Max, and an
    # overestimate exceeds the limit too: both run the distributed loop
    # below, even when the dense data would fit one task.
    try:
        est_bytes = int(
            base._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        est_bytes = None

    if est_bytes is not None and est_bytes <= local_bytes:
        # ONE-JOB fast path: sample-init AND the full loop run inside a
        # single executor task over the coalesced data. The init replays
        # pyspark's own takeSample machinery at split=0, so the trajectory
        # is identical to the driver-side init below. See docstring.
        #
        # r14 (guide §4): the handoff is mapInArrow — vectors cross the
        # JVM→Python boundary as Arrow list<double> batches instead of
        # pickled Rows. Row ORDER is unchanged (same single coalesced
        # partition, batches concatenated in order), and Arrow transports
        # doubles exactly, so the seeded sample — and therefore the whole
        # trajectory — is bit-identical to the .rdd handoff it replaces
        # (gated by test_arrow_equals_native).
        def run_all(batch_iter, _k=k, _mi=max_iter, _tol=tol, _seed=seed):
            import numpy as _np
            import pyarrow as _pa

            out_schema = _pa.schema(
                [
                    ("status", _pa.string()),
                    ("cents", _pa.list_(_pa.list_(_pa.float64()))),
                    ("it", _pa.int32()),
                    ("converged", _pa.bool_()),
                    ("wssse", _pa.list_(_pa.float64())),
                    ("cnt", _pa.list_(_pa.int64())),
                ]
            )
            batches = list(batch_iter)
            if sum(b.num_rows for b in batches) == 0:
                return
            tbl = _pa.Table.from_batches(batches)
            vecs = tbl.column("vec").to_pylist()
            picks = _replay_take_sample({0: len(vecs)}, 4 * _k, _seed)
            cents = _first_distinct([vecs[i] for _p, i in picks], _k)
            if len(cents) < _k:
                # <k distinct in the 4k oversample: defer to the general
                # path, whose init falls back to a full distinct() sample.
                yield _pa.RecordBatch.from_pylist(
                    [{"status": "degenerate", "cents": None, "it": None,
                      "converged": None, "wssse": None, "cnt": None}],
                    schema=out_schema,
                )
                return
            X = _np.asarray(vecs, dtype=_np.float64)
            final_c, it, converged, hist, cnt = _lloyd_single(
                X, _np.asarray(cents, dtype=_np.float64), _mi, _tol
            )
            yield _pa.RecordBatch.from_pylist(
                [{"status": "ok", "cents": final_c, "it": it,
                  "converged": converged, "wssse": hist, "cnt": cnt}],
                schema=out_schema,
            )

        out = (
            base.coalesce(1)
            .mapInArrow(
                run_all,
                "status string, cents array<array<double>>, it int, "
                "converged boolean, wssse array<double>, cnt array<bigint>",
            )
            .collect()
        )
        if not out:
            raise ValueError("empty input")
        if out[0]["status"] == "ok":
            r = out[0]
            return KMeansResult(
                [list(c) for c in r["cents"]], r["it"], r["converged"],
                list(r["wssse"]),
                {cid: n for cid, n in enumerate(r["cnt"])},
            )
        # fall through: degenerate sample → general path below

    # Right-size parallelism to the data: each iteration is one aggregation
    # job whose cost includes (Python worker round-trip) × partitions — 32
    # near-empty partitions per iteration is pure overhead on small inputs.
    # Target ~100k vectors per partition; at 100 TB the same formula yields
    # thousands of partitions (capped by cluster parallelism).
    n_points = base.count()
    target = max(
        1,
        min(
            spark.sparkContext.defaultParallelism,
            -(-n_points // 100_000),  # ceil div
        ),
    )
    pts = base.coalesce(target).cache()
    centroids = _init_random(pts, k, seed)
    dim = len(centroids[0])

    # Materialize each partition ONCE as a dense numpy block and cache the
    # block RDD. Every iteration is then a single treeAggregate over cached
    # matrices — no Catalyst analysis, no Arrow re-serialization, no
    # per-iteration broadcast round-trip; the k×dim centroid matrix rides
    # the task closure. This is MLlib's own loop shape (broadcast centers +
    # treeAggregate over cached vector blocks) with the 250 ms/iteration
    # DataFrame-plan floor removed: per iteration the driver pays one job
    # submission and a merge of depth-2-combined (cnt, Σvec, Σdist²) blocks.
    def _to_block(rows_iter):
        block = [r["vec"] for r in rows_iter]
        if block:
            yield np.asarray(block, dtype=np.float64)

    blocks = pts.rdd.mapPartitions(_to_block)
    blocks.persist()
    blocks.count()
    pts.unpersist()  # the DataFrame cache is superseded by the block cache

    wssse_history: list[float] = []
    sizes: dict[int, int] = {}
    converged = False
    it = 0
    for it in range(1, max_iter + 1):
        C = np.asarray(centroids, dtype=np.float64)
        kk = C.shape[0]

        def seq(acc, X, _C=C):
            cnt, sums, sd = acc
            c, s, d = _lloyd_kernel(X, _C)
            return cnt + c, sums + s, sd + d

        def comb(a, b):
            return a[0] + b[0], a[1] + b[1], a[2] + b[2]

        zero = (
            np.zeros(kk, dtype=np.int64),
            np.zeros((kk, dim), dtype=np.float64),
            np.zeros(kk, dtype=np.float64),
        )
        cnt, sums, sd = blocks.treeAggregate(zero, seq, comb, depth=2)

        wssse_history.append(float(sd.sum()))
        new_centroids = list(centroids)
        sizes = {cid: 0 for cid in range(k)}
        for cid in range(k):
            if cnt[cid] > 0:
                new_centroids[cid] = (sums[cid] / cnt[cid]).tolist()
                sizes[cid] = int(cnt[cid])
        shift = max(
            math.sqrt(sum((a - b2) ** 2 for a, b2 in zip(old, new)))
            for old, new in zip(centroids, new_centroids)
        )
        centroids = new_centroids
        if shift < tol:
            converged = True
            break
    blocks.unpersist()
    return KMeansResult(centroids, it, converged, wssse_history, sizes)
