"""Min-of-N warm timings for a few named queries at sf0.1 — the A/B loop for
perf work (bench.py's single warm pass swings with machine noise; min-of-3
on an idle box is the comparable number).

Each rep times the query's whole work: every session memo is cleared first
(`_memo.clear_all_memos()`, outside the timed window), so a rep cannot read
an earlier rep's memoized artifacts, and the result is brought back with
`toPandas()`, so every output column is evaluated. `count()` would time a
column-pruned plan instead (perfbench/README.md, "Lessons").

Usage: python scripts/micro_bench.py q1 q2 ... [--sf DIR] [--n 3]
"""

from __future__ import annotations

import sys
import time

sys.path.insert(0, ".")


def main() -> None:
    sf_dir = "/root/testdata/sf0.1"
    n = 3
    args: list[str] = []
    it = iter(sys.argv[1:])
    for a in it:
        if a == "--sf":
            sf_dir = next(it)
        elif a == "--n":
            n = int(next(it))
        else:
            args.append(a)

    from k_means_map_reduce_spark._memo import clear_all_memos
    from k_means_map_reduce_spark.registry import QUERIES
    from k_means_map_reduce_spark.session import get_spark

    spark = get_spark("micro-bench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    for name in args:
        fn = QUERIES[name]
        fn(spark, sf_dir).toPandas()  # cold (plan+codegen), unmeasured
        ts = []
        for _ in range(n):
            clear_all_memos()
            t0 = time.perf_counter()
            fn(spark, sf_dir).toPandas()
            ts.append(time.perf_counter() - t0)
        ts.sort()
        print(f"{name}: min={ts[0]:.3f} med={ts[len(ts) // 2]:.3f} all={[round(t, 3) for t in ts]}", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
