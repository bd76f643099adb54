"""Helpers of the perfbench benchmark that need no Spark session.

Input generation, order-insensitive result fingerprints, the K-Means output
checks, span recording and the result line all live here, so the
benchmark's self-tests can exercise them without starting a JVM.
"""

from __future__ import annotations

import hashlib
import json
import math
import statistics
import time
from contextlib import contextmanager
from typing import Any, Iterator

import numpy as np

# ---------------------------------------------------------------- inputs

POINTS_N = 200_000
POINTS_K = 5
SITES_PER_BLOB = 25


def generate_points(seed: int, n: int = POINTS_N, k: int = POINTS_K) -> np.ndarray:
    """``n`` 2-D points in ``k`` well-separated blobs, fully determined by ``seed``.

    Each blob is ``SITES_PER_BLOB`` Gaussian sites (sigma 2) around a centre
    on a radius-30 ring around (50, 50); points are sites drawn with seeded,
    uneven weights. The discrete sites make Lloyd's loop reach an exact
    fixpoint in a few iterations from any seeded random init, including the
    inits that put two centroids in one blob. Continuous blobs split by two
    centroids drift for 20+ iterations and never pass the fixpoint check
    within the reference CLI's 10-iteration budget.
    """
    rng = np.random.default_rng(seed)
    angles = rng.uniform(0.0, 2.0 * math.pi) + 2.0 * math.pi * np.arange(k) / k
    centres = 50.0 + 30.0 * np.c_[np.cos(angles), np.sin(angles)]
    centres += rng.uniform(-3.0, 3.0, centres.shape)
    sites = np.repeat(centres, SITES_PER_BLOB, axis=0)
    sites = np.round(sites + rng.normal(0.0, 2.0, sites.shape), 6)
    weights = rng.uniform(0.5, 1.5, len(sites))
    return sites[rng.choice(len(sites), n, p=weights / weights.sum())]


def write_points(path: str, points: np.ndarray) -> None:
    """Write points in the reference ``points.txt`` format: ``x, y`` per line."""
    np.savetxt(path, points, fmt="%.6f", delimiter=", ")


def read_points(path: str) -> np.ndarray:
    """Parse a points file back into float64, as the engine's reader does."""
    return np.loadtxt(path, delimiter=",", dtype=np.float64, ndmin=2)


# ---------------------------------------------------------------- fingerprints


def canon_value(v: Any) -> str:
    """One value as an engine-independent string (floats exact via repr)."""
    if v is None:
        return "null"
    if isinstance(v, (bool, np.bool_)):
        return "true" if v else "false"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        return "null" if math.isnan(v) else repr(float(v))
    if isinstance(v, str):
        return json.dumps(v, ensure_ascii=False)
    if isinstance(v, (np.ndarray, list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    return str(v)


def fingerprint(pdf) -> dict:
    """Row count, sorted column names and an order-insensitive content hash."""
    columns = sorted(pdf.columns)
    cells = [[canon_value(v) for v in pdf[c].tolist()] for c in columns]
    rows = sorted("\x1f".join(r) for r in zip(*cells)) if columns else []
    h = hashlib.sha256("\x1f".join(columns).encode())
    for r in rows:
        h.update(b"\x1e" + r.encode())
    return {"rows": len(pdf), "columns": columns, "sha256": h.hexdigest()}


def fingerprint_mismatch(got: dict, want: dict | None) -> str | None:
    """None when ``got`` matches the stored expectation, else what differs."""
    if want is None:
        return "no expected result stored"
    for key in ("rows", "columns", "sha256"):
        if got[key] != want.get(key):
            return f"{key}: got {got[key]!r}, expected {want.get(key)!r}"
    return None


# ---------------------------------------------------------------- K-Means checks


def fixpoint_iteration(wssse_history: list[float]) -> int:
    """The first iteration whose WSSSE equals the one before it.

    The assignment, and so every centroid, stopped changing there: it is
    where a loop with ``tol > 0`` would stop. The benchmark runs every fit
    for the full 10 iterations, so this is how convergence speed shows.
    """
    for i in range(1, len(wssse_history)):
        if abs(wssse_history[i] - wssse_history[i - 1]) <= 1e-9 * wssse_history[i - 1]:
            return i + 1
    return len(wssse_history)


def kmeans_problems(result, points: np.ndarray, first_centers, tol: float = 1e-6) -> list[str]:
    """Everything wrong with one ``kmeans_native`` fit over ``points``.

    Checks: centroids bit-identical to the run's first fit; cluster sizes
    sum to N; the WSSSE history never increases and ends flat (converged);
    and one NumPy assign-and-mean pass over the points reproduces the
    centroids to ``tol``.
    """
    problems: list[str] = []
    centers = np.asarray(result.centers, dtype=np.float64)
    if first_centers is not None and result.centers != first_centers:
        problems.append("centroids differ from the run's first fit")
    if sum(result.sizes.values()) != len(points):
        problems.append(f"sizes sum to {sum(result.sizes.values())}, not {len(points)}")
    hist = result.wssse_history
    for i in range(1, len(hist)):
        if hist[i] > hist[i - 1] * (1.0 + 1e-12):
            problems.append(f"WSSSE rose at iteration {i + 1}: {hist[i - 1]!r} -> {hist[i]!r}")
            break
    if len(hist) < 2 or abs(hist[-1] - hist[-2]) > 1e-9 * hist[-2]:
        problems.append(f"not converged after {result.iterations} iterations")
    d2 = ((points[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
    cid = d2.argmin(axis=1)  # first occurrence = lowest cid, as the engine breaks ties
    for c in range(len(centers)):
        members = points[cid == c]
        if len(members) == 0:
            continue  # empty clusters keep their previous centroid
        shift = float(np.abs(members.mean(axis=0) - centers[c]).max())
        if shift > tol:
            problems.append(f"centroid {c} is not a fixpoint (NumPy mean off by {shift:.3g})")
    return problems


# ---------------------------------------------------------------- spans


class Tracer:
    """In-memory span recorder; spans of one op share that op's trace id."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._trace: str | None = None

    @contextmanager
    def span(self, name: str, trace_id: str | None = None) -> Iterator[dict]:
        if not self.enabled:
            yield {}
            return
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "trace": trace_id or self._trace,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        outer, self._trace = self._trace, rec["trace"]
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._trace = outer

    def duration(self, name: str) -> float:
        """Total seconds of every span with this name."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)


# ---------------------------------------------------------------- results


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    """The benchmark's last stdout line; ``metrics`` maps name -> (value, unit)."""
    return json.dumps(
        {
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
        }
    )
