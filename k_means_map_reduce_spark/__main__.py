"""Reference-parity CLI: the reference engine's documented invocation
(`python master.py <mappers> <reducers> <centroids> <iterations>`,
/root/reference/README.md:50-58, master.py:250-257) replayed against the
Spark engine::

    python -m k_means_map_reduce_spark M R K ITERS [points.txt] [centroids.txt]

Argument mapping (process knobs → Spark physical hints):

- ``mappers`` (M): the reference splits the input into M byte ranges, one
  per mapper process (master.py:106-130). Here it is a repartition hint on
  the scan — Spark's own file splitting supersedes it, but honoring it
  keeps the run shape inspectable (M map tasks).
- ``reducers`` (R): the reference hash-partitions cid % R across reducer
  processes (mapper.py:32-38). Here it sets
  ``spark.sql.shuffle.partitions`` for the run; the fit caps it at k
  (reducers beyond k would receive no key) and turns AQE off, so each
  iteration's aggregation runs as min(R, k) reduce tasks. With AQE on,
  those R partitions were coalesced into one task.
- ``centroids`` (K), ``iterations``: forwarded to the Lloyd loop verbatim.
- positional 5/6 (extensions): input points file (default
  ``Data/Input/points.txt``, the reference's fixed path) and output file
  (default ``Data/centroids.txt``, master.py:72-75 format).

Differences from the reference, by design: the sample init is seeded
(reproducible runs; the reference's random.sample is not), convergence
stops early at eps=1e-6 (master.py:97-103) instead of always running all
iterations, and the input file is never mutated (master.py:78-87 rewrites
separators in place; the reader is schema-on-read).
"""

from __future__ import annotations

import os
import sys

from .kmeans import kmeans_native
from .session import get_spark, scoped_conf
from .sources.points_txt import read_points_txt, write_centroids_txt

USAGE = (
    "usage: python -m k_means_map_reduce_spark "
    "<mappers> <reducers> <centroids> <iterations> [points.txt] [centroids_out.txt]"
)


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if not 4 <= len(argv) <= 6:
        print(USAGE, file=sys.stderr)
        return 2
    try:
        mappers, reducers, k, iters = (int(a) for a in argv[:4])
    except ValueError:
        print(USAGE, file=sys.stderr)
        return 2
    if min(mappers, reducers, k, iters) < 1:
        print("all numeric arguments must be >= 1", file=sys.stderr)
        return 2
    points_path = argv[4] if len(argv) > 4 else os.path.join("Data", "Input", "points.txt")
    out_path = argv[5] if len(argv) > 5 else os.path.join("Data", "centroids.txt")

    spark = get_spark("kmmr-cli")
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": str(reducers)}):
        pts = read_points_txt(spark, points_path).repartition(mappers)
        result = kmeans_native(
            pts, vec_col="coordinates", k=k, max_iter=iters, tol=1e-6, seed=42
        )
    out_dir = os.path.dirname(out_path)
    if out_dir:
        os.makedirs(out_dir, exist_ok=True)
    write_centroids_txt(result.centers, out_path)
    print(
        f"wrote {len(result.centers)} centroids to {out_path} "
        f"({result.iterations} iterations, "
        f"{'converged' if result.converged else 'max_iter reached'})"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
