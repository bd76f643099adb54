"""Streaming mini-batch K-Means (decayed online Lloyd updates).

The reference runs K-Means as a batch job with a fresh full pass per
iteration (/root/reference/master.py:106-159). This module is the streaming
counterpart the driver mandate asks for: centroids update incrementally as
micro-batches arrive, one pass over the data, O(k·dim) state.

Update rule (the classic streaming/mini-batch formulation — Sculley,
WWW'10 "Web-scale k-means clustering", and the decay model of Spark MLlib's
StreamingKMeans):

    w'   = w·decay + n_batch
    c'   = (c·w·decay + Σ_batch x) / w'

With decay=1 and stable assignments this is exactly the running mean of all
points ever assigned to the cluster (tested on separated blobs: final
centers equal the true blob means to float precision); decay<1 forgets old
data exponentially — the knob that makes drifting 100 TB/day streams
trackable with constant state.

Mechanics: the static parquet is chunked into N files (sequential writes →
increasing mtimes → the file source replays them oldest-first), then
consumed via ``readStream`` + ``maxFilesPerTrigger=1`` + ``availableNow``,
so each file becomes one micro-batch. Per batch, assignment is the same
broadcast-literal codegen argmin as batch K-Means (kmeans.assign_clusters —
zero Python in the row path); the per-cluster (count, per-dim sum) aggregate
collects k×(dim+1) numbers to the driver, which applies the update rule.
State never exceeds k·dim floats — no shuffle survives across batches.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..kmeans import _init_random, assign_clusters


@dataclass
class StreamingKMeansResult:
    centers: list[list[float]]
    weights: list[float]
    n_batches: int
    n_points: int


def _chunk_to_dir(df: DataFrame, id_col: str, n_chunks: int, path: str) -> None:
    """Write df as n_chunks single-file parquets with increasing mtimes.

    Chunking is by id range (deterministic), one sequential write per chunk
    so the file-stream source's oldest-first ordering replays them in chunk
    order.
    """
    ids = df.agg(F.min(id_col).alias("lo"), F.max(id_col).alias("hi")).collect()[0]
    lo, hi = ids["lo"], ids["hi"]
    span = (hi - lo + 1) / n_chunks
    for i in range(n_chunks):
        a = lo + int(i * span)
        b = lo + int((i + 1) * span) if i < n_chunks - 1 else hi + 1
        (
            df.where((F.col(id_col) >= a) & (F.col(id_col) < b))
            .coalesce(1)
            .write.mode("append")
            .parquet(path)
        )


def kmeans_streaming(
    spark: SparkSession,
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 8,
    n_chunks: int = 5,
    decay: float = 1.0,
    seed: int = 42,
    init_centers: list[list[float]] | None = None,
) -> StreamingKMeansResult:
    """One streaming pass of mini-batch K-Means over ``df``.

    ``df`` must be re-readable with a stable schema (it is re-written chunked
    to a temp dir that simulates arriving files). Initial centers default to
    kmeans_native's random init (`kmeans._init_random`, reference op #5).
    """
    pts = df.select(
        F.col(id_col).alias("_id"), F.col(vec_col).cast("array<double>").alias("vec")
    ).where(F.col("vec").isNotNull() & (F.size("vec") > 0))

    if init_centers is None:
        centers = _init_random(pts.select("vec"), k, seed)
    else:
        centers = [list(c) for c in init_centers]
        k = len(centers)
    dim = len(centers[0])
    weights = [0.0] * k
    state = {"batches": 0, "points": 0}

    tmp = os.path.join(
        tempfile.gettempdir(), f"kmmr_stream_kmeans_{uuid.uuid4().hex}"
    )
    ckpt = tmp + "_ckpt"
    _chunk_to_dir(pts, "_id", n_chunks, tmp)
    try:
        stream = (
            spark.readStream.schema("_id BIGINT, vec ARRAY<DOUBLE>")
            .option("maxFilesPerTrigger", 1)
            .parquet(tmp)
        )

        def update(batch: DataFrame, _bid: int) -> None:
            assigned = assign_clusters(batch, centers, "vec")
            aggs = [F.count(F.lit(1)).alias("n")] + [
                F.sum(F.element_at("vec", i + 1)).alias(f"s{i}")
                for i in range(dim)
            ]
            rows = assigned.groupBy("cid").agg(*aggs).collect()
            if not rows:
                return
            state["batches"] += 1
            for r in rows:
                cid, n = r["cid"], r["n"]
                state["points"] += n
                w_old = weights[cid] * decay
                w_new = w_old + n
                centers[cid] = [
                    (centers[cid][i] * w_old + r[f"s{i}"]) / w_new
                    for i in range(dim)
                ]
                weights[cid] = w_new
            for cid in range(k):
                if all(r["cid"] != cid for r in rows):
                    weights[cid] *= decay  # empty cluster: decay weight, keep center

        q = (
            stream.writeStream.foreachBatch(update)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)
    return StreamingKMeansResult(centers, weights, state["batches"], state["points"])
