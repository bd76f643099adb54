#!/usr/bin/env python3
"""Regenerate perfbench/expected.json from the DuckDB oracle.

    python3 perfbench/make_expected.py

Runs each text_dedup query's oracle SQL (``registry.ORACLES``) with DuckDB
over perfbench/data and stores its row count, column names and
order-insensitive content hash. The benchmark compares every timed op's
Spark result against these, so the oracle's cost is paid once, here.
"""

from __future__ import annotations

import json
import os
import sys

from harness import fingerprint

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from k_means_map_reduce_spark.oracle import run_oracle  # noqa: E402
from k_means_map_reduce_spark.registry import ORACLES  # noqa: E402
from run import DATA_DIR, EXPECTED, TEXT_OPS  # noqa: E402


def main() -> int:
    expected = {name: fingerprint(run_oracle(DATA_DIR, ORACLES[name])) for name in TEXT_OPS}
    with open(EXPECTED, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    for name, fp in expected.items():
        print(f"{name}: {fp['rows']} rows {fp['sha256'][:12]}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
