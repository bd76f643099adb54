#!/usr/bin/env python3
"""Closed-loop benchmark of the k_means_map_reduce_spark engine.

Run from the repository root::

    python3 perfbench/run.py --workload {kmeans_points,text_dedup} \
        --seed N --seconds S --trace {0,1}

One client runs the workload's ops back to back on a ``local[nproc]``
session. A round is one pass over the op list. Every round starts with
``clear_all_memos()`` outside the timed window, and every op evaluates all
of its output columns (``toPandas()``, or the K-Means fit's own collects)
and is checked against its expected result outside the timed window.

The first round of the process is ``cold_s``. The next round is a
warm-up round and is discarded: it still runs on the steep part of the JIT
warm-up curve. ``WARM_ROUNDS`` measured rounds follow, a fixed count, so
every run measures the same rounds of that curve. ``warm_s`` sums each op's
median time over them. ``--seconds`` is accepted and changes nothing: the
round counts fix the run length.

After every round, outside the timed windows, the run times a fixed
reference job that calls no engine code, and it scales its end-to-end
times by ``REFERENCE_S`` / (the job's median time), so that a slow host
phase does not read as a slow engine.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the scaled end-to-end metrics with
``--trace 0``, the unscaled per-layer metrics with ``--trace 1``. The
traced run also writes its spans to ``.perfbench_work/``. A human summary,
with the unscaled times, goes to stderr. The exit status is 0 only when
every op was correct.
"""

from __future__ import annotations

import time

_T0 = time.perf_counter()  # setup_s counts from here

import argparse  # noqa: E402
import gc  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402
from typing import Any, Callable  # noqa: E402

from harness import (  # noqa: E402
    Tracer,
    fingerprint,
    fingerprint_mismatch,
    fixpoint_iteration,
    generate_points,
    kmeans_problems,
    median,
    read_points,
    result_line,
    write_points,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
DATA_DIR = os.path.join(HERE, "data")
EXPECTED = os.path.join(HERE, "expected.json")

KMEANS_OP = "kmeans_native"
TEXT_OPS = [
    "dedup_exact",
    "dedup_minhash_banding_pairs",
    "dedup_minhash_clusters",
    "dedup_paragraph_containment_pairs",
    "text_simhash_signatures",
]
WORKLOADS = {"kmeans_points": [KMEANS_OP], "text_dedup": TEXT_OPS}
TABLES = {"kmeans_points": [], "text_dedup": ["documents"]}

DRIVER_MEM = "3g"
WARM_UP_ROUNDS = 1  # discarded
WARM_ROUNDS = 3  # measured; a traced run measures 4: two untraced, two traced

# The reference job's median time on this benchmark's 4-core box when the
# host is quiet; end-to-end times are scaled by REFERENCE_S / (this run's
# median), see reference_job_s().
REFERENCE_S = 0.6

END_TO_END = [("setup_s", "s"), ("cold_s", "s"), ("warm_s", "s")]
OP_METRICS = [
    ("build_s", "s"),
    ("eager_jobs", "count"),
    ("plan_s", "s"),
    ("exec_s", "s"),
    ("jobs", "count"),
    ("shuffle_mb", "MB"),
]
PER_LAYER = (
    [
        ("session.start_s", "s"),
        ("registry.import_s", "s"),
        ("sources.warmup_s", "s"),
        ("sources.read_points_s", "s"),
    ]
    + [(f"{op}.{m}", u) for ops in WORKLOADS.values() for op in ops for m, u in OP_METRICS]
    + [
        ("kmeans.iterations", "count"),
        ("kmeans.s_per_iter", "s"),
        ("kmeans.jobs_per_fit", "count"),
        ("memo.builds", "count"),
        ("memo.hits", "count"),
        ("memo.hit_ratio", "ratio"),
        ("memo.residual_mb", "MB"),
        ("pinned_mb", "MB"),
        ("traced_warm_s", "s"),
        ("untraced_warm_s", "s"),
        ("trace.overhead_s", "s"),
    ]
)


@dataclass
class Op:
    """One timed operation: lazy build, full evaluation, output check."""

    name: str
    build: Callable[[], Any]
    execute: Callable[[Any], Any]
    check: Callable[[Any], str | None]


@dataclass
class Bench:
    workload: str
    seed: int
    trace: bool
    tracer: Tracer
    spark: Any = None
    engine: dict = field(default_factory=dict)  # engine modules, imported in setup()
    points_path: str = ""
    ops: list[Op] = field(default_factory=list)
    memo_counts: dict = field(default_factory=lambda: {"builds": 0, "hits": 0, "misses": 0})
    pinned_peak_mb: float = 0.0
    attempted: int = 0
    failures: list[str] = field(default_factory=list)


# ---------------------------------------------------------------- environment


def configure_environment() -> None:
    """Keep every file Spark and Python write inside the checkout."""
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cpus = len(os.sched_getaffinity(0))
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LOCAL_DIRS=os.path.join(tmp, "local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(tmp, "warehouse"),
        TMPDIR=tmp,
        PYTHONHASHSEED="0",  # same set/dict order in every process and worker
        # a fixed-size heap keeps GC timing alike from one process to the next
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        # -XX:-UsePerfData: neither JVM writes hsperfdata to the system temp dir
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.showConsoleProgress=false --driver-java-options "
            f'"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM} -XX:-UsePerfData" pyspark-shell'
        ),
    )
    tempfile.tempdir = tmp
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


# ---------------------------------------------------------------- Spark status


def storage_mb(spark) -> float:
    """Storage memory held by persisted blocks right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(info.memSize() for info in infos) / 2**20


def settled_storage_mb(spark, timeout_s: float = 1.0) -> float:
    """Storage still pinned once asynchronous unpersists have been applied."""
    deadline = time.perf_counter() + timeout_s
    mb = storage_mb(spark)
    while mb > 0 and time.perf_counter() < deadline:
        time.sleep(0.1)
        mb = storage_mb(spark)
    return mb


def job_counts(spark, group: str) -> tuple[int, float]:
    """(jobs, shuffle-write MB) of every job run under one job group."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    shuffle = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            try:
                shuffle += store.lastStageAttempt(sid).shuffleWriteBytes()
            except Py4JJavaError:  # the stage never ran (skipped)
                pass
    return len(jobs), shuffle / 2**20


def count_memo_calls(memo_module, counts: dict) -> Callable[[], None]:
    """Wrap SessionMemo.get/put to count hits, misses and builds."""
    cls = memo_module.SessionMemo
    get, put = cls.get, cls.put

    def counted_get(self, spark, *parts):
        value = get(self, spark, *parts)
        counts["hits" if value is not None else "misses"] += 1
        return value

    def counted_put(self, spark, *parts_and_value):
        counts["builds"] += 1
        return put(self, spark, *parts_and_value)

    cls.get, cls.put = counted_get, counted_put

    def restore() -> None:
        cls.get, cls.put = get, put

    return restore


# ---------------------------------------------------------------- setup


def setup(b: Bench) -> float:
    """Start the engine and make the inputs; returns setup_s."""
    t = b.tracer
    with t.span("setup", trace_id="setup"):
        with t.span("registry.import"):
            pkg = importlib.import_module("k_means_map_reduce_spark")
            if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
                raise RuntimeError(f"engine imported from outside the checkout: {pkg.__file__}")
            registry = importlib.import_module("k_means_map_reduce_spark.registry")
        from k_means_map_reduce_spark import _memo, kmeans, session, sources
        from k_means_map_reduce_spark.sources import points_txt

        b.engine = {"registry": registry, "memo": _memo, "kmeans": kmeans, "points_txt": points_txt}
        with t.span("session.get_spark"):
            b.spark = session.get_spark("perfbench")
        if b.workload == "kmeans_points":
            b.points_path = os.path.join(WORK, "tmp", "points.txt")
            with t.span("input.generate"):
                write_points(b.points_path, generate_points(b.seed))
            with t.span("sources.read_points"):
                noop(points_txt.read_points_txt(b.spark, b.points_path))
        with t.span("sources.warmup"):
            for table in TABLES[b.workload]:
                noop(sources.load_table(b.spark, DATA_DIR, table))
    return time.perf_counter() - _T0


def noop(df) -> None:
    """Evaluate every column of ``df`` without bringing rows to Python."""
    df.write.format("noop").mode("overwrite").save()


def make_ops(b: Bench, expected_path: str) -> list[Op]:
    """The workload's op list with its checks (expectations load outside setup_s)."""
    spark = b.spark
    if b.workload == "kmeans_points":
        path = b.points_path
        points = read_points(path)
        first: list = []
        default_partitions = spark.conf.get("spark.sql.shuffle.partitions")

        def build():
            return b.engine["points_txt"].read_points_txt(spark, path).repartition(3)  # 3 mappers

        def execute(df):
            spark.conf.set("spark.sql.shuffle.partitions", "2")  # 2 reducers
            try:
                # tol=0 runs all 10 iterations, as the reference's loop does,
                # so every seed does the same work; the fixpoint is checked.
                return b.engine["kmeans"].kmeans_native(
                    df, vec_col="coordinates", k=5, max_iter=10, tol=0.0, seed=42
                )
            finally:
                spark.conf.set("spark.sql.shuffle.partitions", default_partitions)

        def check(result):
            problems = kmeans_problems(result, points, first[0] if first else None)
            if not first:
                first.append(result.centers)
            return "; ".join(problems) or None

        return [Op(KMEANS_OP, build, execute, check)]

    with open(expected_path) as f:
        expected = json.load(f)
    queries = b.engine["registry"].QUERIES

    def text_op(name: str) -> Op:
        return Op(
            name,
            lambda: queries[name](spark, DATA_DIR),
            lambda df: df.toPandas(),
            lambda pdf: fingerprint_mismatch(fingerprint(pdf), expected.get(name)),
        )

    return [text_op(name) for name in TEXT_OPS]


# ---------------------------------------------------------------- host speed


def reference_job_s(spark) -> float:
    """Seconds for a fixed job that calls no engine code.

    On a shared VM the host's speed swings by up to 2x over minutes, and
    set-up, cold and warm times of one process all move together. A pure
    Python loop moves less than Spark work does, so the job is Spark work:
    a JVM shuffle and sort of 3M random rows into 4 explicitly numbered
    partitions, which no engine setting re-plans, and a NumPy random
    gather in each of 4 Python workers. Each run times it between its
    rounds and scales its end-to-end times by ``REFERENCE_S`` / median.
    """
    from pyspark.sql import functions as F

    def gather(_):
        import numpy as np

        a = np.arange(4_000_000, dtype=np.int64)
        return int(np.take(a, np.random.default_rng(0).integers(0, len(a), len(a))).sum())

    sc = spark.sparkContext
    sc.setJobGroup("reference", "host-speed reference job")
    t0 = time.perf_counter()
    rows = spark.range(0, 3_000_000, 1, 4).select("id", F.rand(7).alias("r"))
    noop(rows.repartition(4, "r").sortWithinPartitions("r"))
    sc.parallelize(range(4), 4).map(gather).collect()
    return time.perf_counter() - t0


# ---------------------------------------------------------------- rounds


def run_op(b: Bench, op: Op, rnd: int, traced: bool) -> dict:
    """Time one op (build + plan + full evaluation), then check it."""
    t = b.tracer if traced else Tracer(False)
    group = f"r{rnd}:{op.name}"
    rec: dict = {"error": None}
    b.attempted += 1
    with t.span(f"op:{op.name}", trace_id=group):
        t0 = time.perf_counter()
        try:
            if traced:
                b.spark.sparkContext.setJobGroup(group + ":build", op.name)
            with t.span("build"):
                df = op.build()
            t1 = time.perf_counter()
            if traced:
                b.spark.sparkContext.setJobGroup(group + ":exec", op.name)
                with t.span("plan"):
                    df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            with t.span("exec"):
                out = op.execute(df)
            t3 = time.perf_counter()
        except Exception as e:  # noqa: BLE001 - a failed op is counted, the run goes on
            traceback.print_exc(file=sys.stderr)
            rec.update(time_s=time.perf_counter() - t0, error=f"{type(e).__name__}: {e}")
        else:
            rec.update(time_s=t3 - t0, build_s=t1 - t0, plan_s=t2 - t1, exec_s=t3 - t2)
            with t.span("verify"):
                rec["error"] = op.check(out)
            if op.name == KMEANS_OP:
                rec["iterations"] = out.iterations
                rec["fixpoint_iteration"] = fixpoint_iteration(out.wssse_history)
        b.pinned_peak_mb = max(b.pinned_peak_mb, storage_mb(b.spark))
        if traced:
            rec["eager_jobs"], build_mb = job_counts(b.spark, group + ":build")
            rec["jobs"], exec_mb = job_counts(b.spark, group + ":exec")
            rec["shuffle_mb"] = build_mb + exec_mb
    if rec["error"]:
        b.failures.append(f"round {rnd} {op.name}: {rec['error']}")
    return rec


def run_round(b: Bench, rnd: int, traced: bool) -> dict:
    """One pass over the op list; memos are cleared first, outside the timing."""
    b.engine["memo"].clear_all_memos()
    gc.collect()
    before = dict(b.memo_counts)
    with (b.tracer if traced else Tracer(False)).span("round", trace_id=f"r{rnd}"):
        ops = {op.name: run_op(b, op, rnd, traced) for op in b.ops}
    return {
        "time_s": sum(r["time_s"] for r in ops.values()),
        "traced": traced,
        "ops": ops,
        "memo": {k: b.memo_counts[k] - before[k] for k in before},
    }


def run_rounds(b: Bench) -> tuple[dict, list[dict], list[float]]:
    """Cold round, the discarded warm-up rounds, then the measured warm rounds.

    The reference job runs after every round; its first time, after the
    cold round, is its own warm-up and is dropped. A traced run orders its
    measured rounds untraced, traced, traced, untraced, so what is left of
    the warm-up drift falls equally on both halves of the tracing-overhead
    comparison.
    """
    cold = run_round(b, 0, b.trace)
    reference_job_s(b.spark)
    reference = []
    for i in range(WARM_UP_ROUNDS):
        print(f"warm-up round {run_round(b, i + 1, False)['time_s']:.3f} s (discarded)", file=sys.stderr)
        reference.append(reference_job_s(b.spark))
    first = 1 + WARM_UP_ROUNDS
    traced = [i in (1, 2) for i in range(4)] if b.trace else [False] * WARM_ROUNDS
    warm = []
    for i, t in enumerate(traced):
        warm.append(run_round(b, first + i, t))
        reference.append(reference_job_s(b.spark))
    return cold, warm, reference


# ---------------------------------------------------------------- metrics


def warm_time(ops: list[Op], rounds: list[dict]) -> float:
    """Sum over ops of each op's median time across ``rounds``.

    Per-op medians drop a spike in one op of one round that a median of
    round totals would keep whenever two rounds have a spike each.
    """
    return sum(median([r["ops"][op.name]["time_s"] for r in rounds]) for op in ops)


def per_layer_metrics(b: Bench, warm: list[dict], residual_mb: float) -> dict:
    traced = [r for r in warm if r["traced"]]
    untraced = [r for r in warm if not r["traced"]]
    values = {name: 0.0 for name, _ in PER_LAYER}  # 0 = layer idle on this workload
    t = b.tracer
    values["session.start_s"] = t.duration("session.get_spark")
    values["registry.import_s"] = t.duration("registry.import")
    values["sources.warmup_s"] = t.duration("sources.warmup")
    values["sources.read_points_s"] = t.duration("sources.read_points")
    for op in b.ops:
        recs = [r["ops"][op.name] for r in traced if "exec_s" in r["ops"][op.name]]
        for m, _ in OP_METRICS:
            values[f"{op.name}.{m}"] = median([r[m] for r in recs])
        if op.name == KMEANS_OP and recs:
            values["kmeans.iterations"] = median([r["fixpoint_iteration"] for r in recs])
            values["kmeans.s_per_iter"] = median([r["exec_s"] / r["iterations"] for r in recs])
            values["kmeans.jobs_per_fit"] = median([r["jobs"] for r in recs])
    builds = median([r["memo"]["builds"] for r in traced])
    hits = median([r["memo"]["hits"] for r in traced])
    gets = median([r["memo"]["hits"] + r["memo"]["misses"] for r in traced])
    values["memo.builds"] = builds
    values["memo.hits"] = hits
    values["memo.hit_ratio"] = hits / gets if gets else 0.0
    values["memo.residual_mb"] = residual_mb
    values["pinned_mb"] = b.pinned_peak_mb
    values["traced_warm_s"] = warm_time(b.ops, traced)
    values["untraced_warm_s"] = warm_time(b.ops, untraced)
    values["trace.overhead_s"] = values["traced_warm_s"] - values["untraced_warm_s"]
    return {name: (values[name], unit) for name, unit in PER_LAYER}


# ---------------------------------------------------------------- main


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="accepted; the round counts fix the run")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--expected", default=EXPECTED, help="expected text_dedup results")
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    configure_environment()
    b = Bench(args.workload, args.seed, bool(args.trace), Tracer(bool(args.trace)))
    restore_memo = None
    try:
        setup_s = setup(b)
        if b.trace:
            restore_memo = count_memo_calls(b.engine["memo"], b.memo_counts)
        b.ops = make_ops(b, args.expected)
        cold, warm, reference = run_rounds(b)
        b.engine["memo"].clear_all_memos()
        residual_mb = settled_storage_mb(b.spark)
    finally:
        if restore_memo is not None:
            restore_memo()
        if b.spark is not None:
            stop_spark(b.spark)
        shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)

    failed = len(b.failures)
    scale = REFERENCE_S / median(reference)
    warm_s = warm_time(b.ops, [r for r in warm if not r["traced"]])
    if b.trace:
        metrics = per_layer_metrics(b, warm, residual_mb)
        trace_path = os.path.join(WORK, f"trace-{args.workload}-seed{args.seed}.json")
        b.tracer.write(trace_path)
    else:
        values = {"setup_s": setup_s, "cold_s": cold["time_s"], "warm_s": warm_s}
        metrics = {name: (values[name] * scale, unit) for name, unit in END_TO_END}
    for line in b.failures:
        print(f"FAILED {line}", file=sys.stderr)
    for r in [cold] + warm:
        times = " ".join(f"{n}={o['time_s']:.2f}" for n, o in r["ops"].items())
        if "fixpoint_iteration" in r["ops"].get(KMEANS_OP, {}):
            times += f" (fixpoint at iteration {r['ops'][KMEANS_OP]['fixpoint_iteration']})"
        print(f"round {r['time_s']:.3f} s{' traced' if r['traced'] else ''}: {times}", file=sys.stderr)
    print(
        f"{args.workload} seed={args.seed}: unscaled setup_s={setup_s:.3f} s cold_s={cold['time_s']:.3f} s "
        f"warm_s={warm_s:.3f} s ({len(warm)} measured warm rounds) pinned_mb={b.pinned_peak_mb:.3f} MB "
        f"failed_op_share={failed}/{b.attempted}={failed / b.attempted:.3f} "
        f"memo.residual_mb={residual_mb:.3f} MB reference_s={median(reference):.3f} "
        f"(samples {' '.join(f'{x:.3f}' for x in reference)}) scale={scale:.4f}",
        file=sys.stderr,
    )
    print(result_line(failed == 0, b.attempted, failed, metrics), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
