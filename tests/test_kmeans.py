"""K-Means correctness per SURVEY.md §5: determinism, monotone WSSSE,
fixed-point, MLlib agreement on separable blobs, and 2-D parity with the
reference's input format (/root/reference/Data/Input/points.txt shape).
"""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from k_means_map_reduce_spark.kmeans import (
    KMeansResult,
    assign_clusters,
    kmeans_mllib,
    kmeans_native,
    kmeans_native_df,
)
from k_means_map_reduce_spark.sources import load_table


def _blobs(spark, centers, n_per=50, sigma=0.05, seed=7):
    rng = random.Random(seed)
    rows = []
    for label, c in enumerate(centers):
        for _ in range(n_per):
            rows.append(([x + rng.gauss(0, sigma) for x in c], label))
    rng.shuffle(rows)
    return spark.createDataFrame(rows, "vec ARRAY<DOUBLE>, label INT")


def test_native_deterministic(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    r1 = kmeans_native(e, k=4, max_iter=5, seed=42)
    r2 = kmeans_native(e, k=4, max_iter=5, seed=42)
    assert r1.centers == r2.centers
    assert r1.wssse_history == r2.wssse_history


def test_wssse_monotone_nonincreasing(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    r = kmeans_native(e, k=6, max_iter=10, seed=1)
    hist = r.wssse_history
    assert len(hist) >= 2
    for a, b in zip(hist, hist[1:]):
        assert b <= a + 1e-9, f"WSSSE increased: {a} -> {b}"


def test_converged_fixed_point(spark, sf_dir):
    """Re-assigning with converged centroids must reproduce the same means."""
    e = load_table(spark, sf_dir, "embeddings")
    r = kmeans_native(e, k=4, max_iter=50, tol=1e-6, seed=42)
    assert r.converged
    pts = e.select(F.col("embedding").cast("array<double>").alias("vec"))
    assigned = assign_clusters(pts, r.centers, "vec")
    dim = len(r.centers[0])
    agg = assigned.groupBy("cid").agg(
        *[F.avg(F.element_at("vec", i + 1)).alias(f"m{i}") for i in range(dim)]
    )
    for row in agg.collect():
        mean = [row[f"m{i}"] for i in range(dim)]
        d = math.sqrt(sum((a - b) ** 2 for a, b in zip(mean, r.centers[row["cid"]])))
        assert d < 1e-5, f"cluster {row['cid']} not a fixed point (moved {d})"


def test_blob_recovery_native_vs_mllib(spark):
    """On well-separated blobs both implementations recover the true centers
    when started from the same init family: native ``init="k||"`` against
    MLlib's default ``k-means||``. Native ``init="random"`` (the reference's
    uniform sample) promises no global optimum, and its draw depends on the
    input's partitioning, so it is not compared here."""
    true_centers = [[0.0, 0.0], [10.0, 0.0], [0.0, 10.0], [10.0, 10.0]]
    df = _blobs(spark, true_centers)
    native = kmeans_native(df, vec_col="vec", k=4, max_iter=30, seed=42, init="k||")
    mllib_df = kmeans_mllib(df, vec_col="vec", k=4, max_iter=30, seed=42)
    mllib_centers = [r["center"] for r in mllib_df.collect()]

    def match(centers):
        matched = 0
        for t in true_centers:
            best = min(math.dist(t, c) for c in centers)
            if best < 0.1:
                matched += 1
        return matched

    assert match(native.centers) == 4, f"native missed blobs: {native.centers}"
    assert match(mllib_centers) == 4, f"mllib missed blobs: {mllib_centers}"


def test_reference_2d_parity(spark):
    """Reference input shape: 2-D comma-separated points, k=5
    (/root/reference/Data/Input/points.txt, README.md:58). Our engine is
    N-dim by construction; verify 2-D is just the n=2 case and clustering
    covers all points."""
    rng = random.Random(3)
    pts = [[rng.uniform(0, 100), rng.uniform(0, 100)] for _ in range(20)]
    df = spark.createDataFrame([(p,) for p in pts], "vec ARRAY<DOUBLE>")
    r = kmeans_native(df, vec_col="vec", k=5, max_iter=10, seed=42)
    assert len(r.centers) == 5
    assigned = assign_clusters(df, r.centers, "vec")
    assert assigned.count() == 20
    assert assigned.select("cid").distinct().count() <= 5
    # every centroid is inside the data's bounding box (mean property)
    for c in r.centers:
        assert 0 <= c[0] <= 100 and 0 <= c[1] <= 100


def test_translation_invariance(spark):
    """Translate input => translated centroids (mean-invariance property)."""
    base = _blobs(spark, [[0.0, 0.0], [5.0, 5.0]], n_per=30, seed=11)
    shifted = base.select(
        F.transform("vec", lambda x: x + F.lit(100.0)).alias("vec"), "label"
    )
    r1 = kmeans_native(base, vec_col="vec", k=2, max_iter=20, seed=42)
    r2 = kmeans_native(shifted, vec_col="vec", k=2, max_iter=20, seed=42)
    c1 = sorted([tuple(c) for c in r1.centers])
    c2 = sorted([tuple(c) for c in r2.centers])
    for a, b in zip(c1, c2):
        for x, y in zip(a, b):
            assert abs((x + 100.0) - y) < 1e-6


def test_empty_cluster_retention(spark):
    """k > natural clusters: empty clusters keep their previous centroid
    (deliberate fix of the reference's shrinking-k, reducer.py:65-67)."""
    df = spark.createDataFrame(
        [([0.0, 0.0],), ([0.1, 0.0],), ([10.0, 10.0],), ([10.1, 10.0],)],
        "vec ARRAY<DOUBLE>",
    )
    r = kmeans_native(df, vec_col="vec", k=4, max_iter=10, seed=42)
    assert len(r.centers) == 4  # k never shrinks


def test_kmeans_native_df_schema(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    out = kmeans_native_df(spark, e, k=4, max_iter=5, seed=42)
    assert out.schema.simpleString() == (
        "struct<cluster_id:int,size:bigint,center:array<double>>"
    )
    sizes = [r["size"] for r in out.collect()]
    assert sum(sizes) == e.count()


def test_arrow_equals_native(spark, sf_dir):
    """The Arrow/BLAS loop and the expression-tree loop implement the same
    algorithm: same seeded init => same trajectory (to float-merge noise)."""
    from k_means_map_reduce_spark.kmeans import kmeans_arrow

    e = load_table(spark, sf_dir, "embeddings")
    a = kmeans_arrow(e, k=6, max_iter=8, tol=1e-6, seed=42)
    n = kmeans_native(e, k=6, max_iter=8, tol=1e-6, seed=42)
    assert a.iterations == n.iterations
    diff = max(
        abs(x - y) for ca, cn in zip(a.centers, n.centers) for x, y in zip(ca, cn)
    )
    assert diff < 1e-9, f"centers diverged by {diff}"
    assert a.sizes == n.sizes


def test_arrow_single_task_equals_distributed(spark, sf_dir, monkeypatch):
    """kmeans_arrow's two physical strategies — the one-job single-task loop
    (small input) and the per-iteration treeAggregate loop (forced here via
    SPARK_GRAFT_KMEANS_LOCAL_BYTES=0) — produce the same trajectory: the
    in-task replay of takeSample (split=0) must pick the identical seeded
    init, and both paths share _lloyd_kernel."""
    from k_means_map_reduce_spark.kmeans import kmeans_arrow

    e = load_table(spark, sf_dir, "embeddings")
    fast = kmeans_arrow(e, k=6, max_iter=8, tol=1e-6, seed=42)
    monkeypatch.setenv("SPARK_GRAFT_KMEANS_LOCAL_BYTES", "0")
    dist = kmeans_arrow(e, k=6, max_iter=8, tol=1e-6, seed=42)
    assert fast.iterations == dist.iterations
    assert fast.converged == dist.converged
    assert fast.sizes == dist.sizes
    diff = max(
        abs(x - y) for cf, cd in zip(fast.centers, dist.centers) for x, y in zip(cf, cd)
    )
    assert diff < 1e-9, f"physical paths diverged by {diff}"


def test_arrow_degenerate_sample_falls_back_and_equals_native(spark, monkeypatch):
    """When the 4k oversample holds fewer than k distinct vectors, the
    one-task path hands the fit to the distributed loop, whose init draws
    from distinct() instead. With exactly k distinct points both kmeans_arrow
    and kmeans_native must end on those points with the same sizes."""
    from k_means_map_reduce_spark import kmeans as K

    k = 3
    rows = [(i, [0.0, 0.0]) for i in range(998)]
    rows += [(998, [5.0, 5.0]), (999, [-5.0, 5.0])]
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")

    draws: list[int] = []
    take_sample = K._take_sample

    def spy(frame, num, seed):
        draws.append(num)
        return take_sample(frame, num, seed)

    monkeypatch.setattr(K, "_take_sample", spy)
    arrow = K.kmeans_arrow(df, k=k, max_iter=5, tol=1e-9, seed=42)
    assert draws == [4 * k, k], f"distributed fallback not reached: {draws}"
    native = K.kmeans_native(df, k=k, max_iter=5, tol=1e-9, seed=42)

    def fit(r):
        return sorted((tuple(c), r.sizes[cid]) for cid, c in enumerate(r.centers))

    assert fit(arrow) == fit(native) == [
        ((-5.0, 5.0), 1), ((0.0, 0.0), 998), ((5.0, 5.0), 1)
    ]


def test_kmeans_parallel_init_recovers_blobs(spark):
    """k-means|| init + Lloyd recovers well-separated blobs exactly (one
    center per blob) and is deterministic per seed. Random init promises
    less: it is deterministic per seed and partitioning, and Lloyd's from it
    cannot end below the optimum k|| reaches here."""
    import random as _random

    from k_means_map_reduce_spark.kmeans import kmeans_native

    rng = _random.Random(11)
    blob_centers = [[0.0, 0.0], [50.0, 0.0], [0.0, 50.0], [50.0, 50.0]]
    rows = []
    i = 0
    for c in blob_centers:
        for _ in range(60):
            rows.append((i, [x + rng.uniform(-1, 1) for x in c]))
            i += 1
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<DOUBLE>")

    r1 = kmeans_native(df, k=4, max_iter=25, tol=1e-9, seed=42, init="k||")
    r2 = kmeans_native(df, k=4, max_iter=25, tol=1e-9, seed=42, init="k||")
    assert r1.centers == r2.centers  # deterministic
    # each blob center has exactly one recovered centroid within spread
    for c in blob_centers:
        near = [
            v for v in r1.centers
            if sum((a - b) ** 2 for a, b in zip(c, v)) < 4.0
        ]
        assert len(near) == 1, (c, r1.centers)
    rr = kmeans_native(df, k=4, max_iter=25, tol=1e-9, seed=42, init="random")
    rr2 = kmeans_native(df, k=4, max_iter=25, tol=1e-9, seed=42, init="random")
    assert (rr.centers, rr.wssse_history) == (rr2.centers, rr2.wssse_history)
    assert rr.wssse_history[-1] >= r1.wssse_history[-1] * (1 - 1e-6)


def test_fused_assign_equals_fold_on_edge_rows(spark, monkeypatch):
    """Below FUSED_ASSIGN_MAX_KDIM assign_clusters emits the flat codegen
    argmin; it must agree with the higher-order-function fold bit for bit on
    cid and dist2 — ties, wrong lengths, NULL elements and NaN included."""
    import random as _random
    import struct

    from k_means_map_reduce_spark import kmeans as K

    # cid 1 and 2 are duplicates; [0.5, 0.5] is equidistant from cid 0 and 3
    cents = [[0.0, 0.0], [2.0, 2.0], [2.0, 2.0], [1.0, 1.0], [-3.0, 1e-05]]
    assert len(cents) * len(cents[0]) <= K.FUSED_ASSIGN_MAX_KDIM
    rng = _random.Random(5)
    rows = [
        (0, [2.0, 2.0]),  # exact tie between duplicated centroids -> cid 1
        (1, [0.5, 0.5]),  # tie between distinct centroids -> cid 0
        (2, [1.0]),  # too short
        (3, [1.0, 2.0, 3.0]),  # too long
        (4, [1.0, None]),  # NULL element
        (5, [float("nan"), 0.0]),  # NaN coordinate
        (6, None),  # NULL vector
    ] + [(i, [rng.uniform(-5, 5), rng.uniform(-5, 5)]) for i in range(7, 200)]

    def bits(x):
        return None if x is None else struct.pack("<d", x)

    for vec_type in ("ARRAY<DOUBLE>", "ARRAY<FLOAT>"):
        df = spark.createDataFrame(rows, f"vec_id BIGINT, vec {vec_type}")

        def assign(df=df):
            return {
                r["vec_id"]: (r["cid"], bits(r["dist2"]))
                for r in K.assign_clusters(df, cents, "vec").collect()
            }

        fused = assign()
        with monkeypatch.context() as m:
            m.setattr(K, "FUSED_ASSIGN_MAX_KDIM", 0)
            fold = assign()
        assert fused == fold, vec_type
        assert fused[0] == (1, bits(0.0)) and fused[1] == (0, bits(0.5))
        assert all(fused[i] == (0, None) for i in (2, 3, 4, 6))
        assert fused[5][0] == 0 and math.isnan(struct.unpack("<d", fused[5][1])[0])


def test_als_beats_mean_baseline_and_shape(spark, sf_dir):
    """ALS factors must reconstruct training interactions better than the
    global mean (MSE), and the query's output must be 5 ranked parts per
    requested customer."""
    from pyspark.ml.recommendation import ALS
    from k_means_map_reduce_spark.registry import QUERIES
    from k_means_map_reduce_spark.sources import load_table

    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    ratings = (
        l.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(
            F.col("o_custkey").cast("int").alias("user"),
            F.col("l_partkey").cast("int").alias("item"),
        )
        .agg(F.countDistinct("l_orderkey").cast("float").alias("rating"))
        .cache()
    )
    als = ALS(rank=8, maxIter=8, seed=42, regParam=0.1, userCol="user",
              itemCol="item", ratingCol="rating", coldStartStrategy="drop")
    model = als.fit(ratings)
    pred = model.transform(ratings)
    mse_model = pred.selectExpr(
        "avg(pow(rating - prediction, 2)) AS m"
    ).first()["m"]
    mean_rating = ratings.selectExpr("avg(rating)").first()[0]
    mse_base = ratings.selectExpr(
        f"avg(pow(rating - {mean_rating}, 2)) AS m"
    ).first()["m"]
    assert mse_model < mse_base, (mse_model, mse_base)

    rows = QUERIES["ml_als_recommendations"](spark, sf_dir).collect()
    per_cust: dict[int, list[int]] = {}
    for r in rows:
        per_cust.setdefault(r["custkey"], []).append(r["rnk"])
    assert len(per_cust) == 20
    assert all(sorted(v) == [1, 2, 3, 4, 5] for v in per_cust.values())


def test_take_sample_matches_rdd_take_sample(spark, monkeypatch):
    """_take_sample replays RDD.takeSample(False, num, seed) from JVM-side
    partition counts: the same rows in the same order, for any partitioning,
    seed and size, through the reseed loop, and on an empty frame."""
    from pyspark.core.rdd import RDD

    from k_means_map_reduce_spark import kmeans as K

    def frame(n, slices):
        return spark.range(0, n, 1, slices).selectExpr(
            "id", "array(CAST(id AS DOUBLE), CAST(id % 7 AS DOUBLE)) AS vec"
        )

    # (partitions, seed, num), num up to above the row count (40)
    for slices, seed, num in [(1, 42, 1), (3, 1, 20), (7, 7, 4), (3, 42, 55)]:
        df = frame(40, slices)
        want = df.rdd.takeSample(False, num, seed)
        assert K._take_sample(df, num, seed) == want, (slices, seed, num)
    empty = frame(0, 3)
    assert K._take_sample(empty, 3, 42) == empty.rdd.takeSample(False, 3, 42) == []

    # At this fraction seed 1's first draw is short of num, so both sides
    # reseed; the spy records every seed the replay draws with.
    monkeypatch.setattr(
        RDD, "_computeFractionForSampleSize", staticmethod(lambda num, total, wr: 0.05)
    )
    drawn = set()

    class SpySampler(K.RDDSampler):
        def __init__(self, with_replacement, fraction, seed):
            drawn.add(seed)
            super().__init__(with_replacement, fraction, seed)

    monkeypatch.setattr(K, "RDDSampler", SpySampler)
    df = frame(40, 3)
    for seed in (42, 1):
        assert K._take_sample(df, 2, seed) == df.rdd.takeSample(False, 2, seed), seed
    assert drawn - {42, 1}, "no case reached the reseed loop"


def test_native_fit_runs_no_python(spark, monkeypatch):
    """kmeans_native never leaves the JVM: both inits and the loop run with
    DataFrame.rdd disabled."""
    from pyspark.sql import DataFrame

    def no_rdd(self):
        raise AssertionError("kmeans_native reached DataFrame.rdd")

    df = _blobs(spark, [[0.0, 0.0], [5.0, 5.0], [0.0, 5.0]], n_per=20)
    monkeypatch.setattr(DataFrame, "rdd", property(no_rdd))
    for init in ("random", "k||"):
        r = kmeans_native(df, vec_col="vec", k=3, max_iter=5, seed=42, init=init)
        assert len(r.centers) == 3 and sum(r.sizes.values()) == 60


def test_native_fit_one_job_per_iteration(spark):
    """A 3-partition, k=5, 10-iteration fit launches at most 15 jobs: two for
    the init (partition counts, row fetch) and one per iteration. A
    takeSample init, or AQE splitting each iteration's shuffle into two
    jobs, breaks the bound."""
    rng = random.Random(5)
    rows = [([rng.uniform(0, 100), rng.uniform(0, 100)],) for _ in range(3000)]
    sc = spark.sparkContext
    df = spark.createDataFrame(sc.parallelize(rows, 3), "vec ARRAY<DOUBLE>")
    group = "test_native_fit_one_job_per_iteration"
    sc.setJobGroup(group, group)
    try:
        r = kmeans_native(df, vec_col="vec", k=5, max_iter=10, tol=0.0, seed=42)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert r.iterations == 10
    assert n_jobs <= 15, f"{n_jobs} jobs for a 10-iteration fit"


def test_native_fit_restores_confs(spark, monkeypatch):
    """The fit runs with AQE off and at most k shuffle partitions, and puts
    both confs back after a normal fit and after a failing one."""
    from k_means_map_reduce_spark import kmeans as K
    from k_means_map_reduce_spark.session import scoped_conf

    keys = ("spark.sql.adaptive.enabled", "spark.sql.shuffle.partitions")
    df = _blobs(spark, [[0.0, 0.0], [5.0, 5.0]], n_per=20)
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "7"}):
        before = [spark.conf.get(key) for key in keys]
        K.kmeans_native(df, vec_col="vec", k=3, max_iter=3, seed=42)
        assert [spark.conf.get(key) for key in keys] == before

        seen = []

        def fail(assigned, dim):
            seen.append([spark.conf.get(key) for key in keys])
            raise RuntimeError("injected")

        monkeypatch.setattr(K, "_mean_by_cluster", fail)
        with pytest.raises(RuntimeError, match="injected"):
            K.kmeans_native(df, vec_col="vec", k=3, max_iter=3, seed=42)
        assert seen == [["false", "3"]]
        assert [spark.conf.get(key) for key in keys] == before
    # a key that had no value is unset again, not left at the scoped value
    with scoped_conf(spark, {"spark.kmmr.test.scoped": "1"}):
        assert spark.conf.get("spark.kmmr.test.scoped") == "1"
    assert spark.conf.get("spark.kmmr.test.scoped", None) is None
