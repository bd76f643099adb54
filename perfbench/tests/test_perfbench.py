"""Self-tests of the perfbench benchmark.

    python -m pytest perfbench/tests -q -p no:cacheprovider

The first group needs no Spark session. The second runs the benchmark end
to end through its command line (about a minute per run).
"""

from __future__ import annotations

import ast
import json
import os
import shutil
import subprocess
import sys
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, BENCH_DIR)

import harness  # noqa: E402
import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


# ---------------------------------------------------------------- no Spark


def test_fingerprint_ignores_row_and_column_order_but_not_values():
    df = pd.DataFrame({"b": [1.5, 2.5, None], "a": ["x", "y", "z"], "v": [[1, 2], [3], []]})
    shuffled = df.iloc[[2, 0, 1]][["v", "a", "b"]]
    assert harness.fingerprint(df) == harness.fingerprint(shuffled)
    nudged = df.copy()
    nudged.loc[0, "b"] = np.nextafter(1.5, 2.0)
    assert harness.fingerprint(nudged)["sha256"] != harness.fingerprint(df)["sha256"]


def test_corrupted_expected_result_is_a_mismatch():
    fp = harness.fingerprint(pd.DataFrame({"k": [1, 2, 3]}))
    assert harness.fingerprint_mismatch(fp, dict(fp)) is None
    assert "sha256" in harness.fingerprint_mismatch(fp, {**fp, "sha256": "0" * 64})
    assert "rows" in harness.fingerprint_mismatch(fp, {**fp, "rows": 4})
    assert harness.fingerprint_mismatch(fp, None) is not None


def test_stored_expectations_cover_every_text_op():
    with open(run.EXPECTED) as f:
        expected = json.load(f)
    assert sorted(expected) == sorted(run.TEXT_OPS)
    assert all(e["rows"] > 0 for e in expected.values())


def _lloyd(points: np.ndarray, centers: np.ndarray, iters: int) -> tuple[np.ndarray, list]:
    history = []
    for _ in range(iters):
        d2 = ((points[:, None, :] - centers[None]) ** 2).sum(axis=2)
        cid = d2.argmin(axis=1)
        history.append(float(d2[np.arange(len(points)), cid].sum()))
        centers = np.array([points[cid == c].mean(axis=0) for c in range(len(centers))])
    return centers, history


def test_kmeans_checks_accept_a_fixpoint_and_flag_broken_fits():
    points = harness.generate_points(7, n=5_000)
    rng = np.random.default_rng(0)
    centers, history = _lloyd(points, points[rng.choice(len(points), 5, replace=False)], 20)
    d2 = ((points[:, None, :] - centers[None]) ** 2).sum(axis=2)
    sizes = {c: int((d2.argmin(axis=1) == c).sum()) for c in range(5)}
    good = SimpleNamespace(centers=centers.tolist(), iterations=20, wssse_history=history, sizes=sizes)
    assert harness.kmeans_problems(good, points, None) == []
    assert harness.kmeans_problems(good, points, good.centers) == []

    moved = SimpleNamespace(**{**vars(good), "centers": (centers + 1e-3).tolist()})
    assert any("fixpoint" in p for p in harness.kmeans_problems(moved, points, None))
    assert any("differ" in p for p in harness.kmeans_problems(moved, points, good.centers))
    rising = SimpleNamespace(**{**vars(good), "wssse_history": history[:2] + [history[0] * 2] * 2})
    assert any("rose" in p for p in harness.kmeans_problems(rising, points, None))
    lost = SimpleNamespace(**{**vars(good), "sizes": {**sizes, 0: sizes[0] - 1}})
    assert any("sum" in p for p in harness.kmeans_problems(lost, points, None))


def test_points_are_a_function_of_the_seed():
    a, b = harness.generate_points(3, n=1_000), harness.generate_points(3, n=1_000)
    assert np.array_equal(a, b)
    assert not np.array_equal(a, harness.generate_points(4, n=1_000))


def test_benchmark_json_matches_the_code():
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in SPEC["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in SPEC["per_layer"]] == run.PER_LAYER
    assert len(SPEC["per_layer"]) <= 128
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"]) <= 0.25


class _RecordingFrame:
    """Stands in for a DataFrame and records every attribute the op touches."""

    def __init__(self, calls: list) -> None:
        self._calls = calls

    def __getattr__(self, name):
        self._calls.append(name)
        return lambda *a, **k: pd.DataFrame({"x": [1]})


def test_no_op_is_timed_through_count(tmp_path):
    # every text op is evaluated with toPandas() and nothing else
    calls: list = []
    queries = {name: (lambda spark, sf_dir: _RecordingFrame(calls)) for name in run.TEXT_OPS}
    b = run.Bench("text_dedup", 0, False, harness.Tracer(False))
    b.spark = object()
    b.engine = {"registry": SimpleNamespace(QUERIES=queries)}
    for op in run.make_ops(b, run.EXPECTED):
        op.execute(op.build())
    assert calls == ["toPandas"] * len(run.TEXT_OPS)
    # and no benchmark file calls .count() at all
    for name in ("run.py", "harness.py"):
        with open(os.path.join(BENCH_DIR, name)) as f:
            tree = ast.parse(f.read())
        counted = [
            n.lineno
            for n in ast.walk(tree)
            if isinstance(n, ast.Call) and isinstance(n.func, ast.Attribute) and n.func.attr == "count"
        ]
        assert counted == [], f"{name} calls .count() at lines {counted}"


def test_fixpoint_iteration_is_where_the_wssse_stops_changing():
    assert harness.fixpoint_iteration([9.0, 5.0, 4.0, 4.0, 4.0]) == 4
    assert harness.fixpoint_iteration([9.0, 9.0]) == 2
    assert harness.fixpoint_iteration([9.0, 5.0, 4.0]) == 3  # never flat: every iteration counts


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only the benchmark, it fails and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for path in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, path), tmp_path / path,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [*SPEC["command"], "--workload", "kmeans_points", "--seed", "1", "--seconds", "1",
         "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert "metrics" not in proc.stdout


# ---------------------------------------------------------------- end to end


def _bench(workload: str, trace: int, *extra: str) -> tuple[subprocess.CompletedProcess, dict]:
    proc = subprocess.run(
        [*SPEC["command"], "--workload", workload, "--seed", "5", "--seconds", "1",
         "--trace", str(trace), *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    return proc, json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", list(run.WORKLOADS))
def test_every_end_to_end_metric_is_printed_with_its_unit(workload):
    proc, result = _bench(workload, 0)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    assert {n: m["unit"] for n, m in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in SPEC["end_to_end"]
    }
    assert all(m["value"] > 0 for m in result["metrics"].values())
    assert "pinned_mb=" in proc.stderr and "failed_op_share=0/" in proc.stderr


def test_traced_run_reports_every_per_layer_metric():
    proc, result = _bench("kmeans_points", 1)
    assert proc.returncode == 0, proc.stderr[-3000:]
    metrics = result["metrics"]
    assert {n: m["unit"] for n, m in metrics.items()} == {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert 2 <= metrics["kmeans.iterations"]["value"] <= 10  # the fixpoint iteration
    assert metrics["kmeans_native.jobs"]["value"] > 0
    assert metrics["session.start_s"]["value"] > 0
    with open(os.path.join(run.WORK, "trace-kmeans_points-seed5.json")) as f:
        spans = json.load(f)["spans"]
    by_id = {s["id"]: s for s in spans}
    parents = {(by_id[s["parent"]]["name"] if s["parent"] is not None else None, s["name"]) for s in spans}
    assert {("setup", "session.get_spark"), ("setup", "registry.import"),
            ("round", "op:kmeans_native"), ("op:kmeans_native", "exec"),
            ("op:kmeans_native", "verify")} <= parents


def test_corrupted_expected_result_fails_the_run(tmp_path):
    with open(run.EXPECTED) as f:
        expected = json.load(f)
    expected["dedup_minhash_clusters"]["sha256"] = "0" * 64
    corrupt = tmp_path / "expected.json"
    corrupt.write_text(json.dumps(expected))
    proc, result = _bench("text_dedup", 0, "--expected", str(corrupt))
    assert proc.returncode != 0
    assert result["correct"] is False
    assert result["failed"] == 1 + run.WARM_UP_ROUNDS + run.WARM_ROUNDS
    assert "FAILED" in proc.stderr and "dedup_minhash_clusters" in proc.stderr
