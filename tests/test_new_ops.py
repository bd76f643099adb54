"""Targeted tests for the round-3 behavior/graph/attribution operators —
cases the sf-data oracle parity can't isolate (cross-midnight carry-in,
compression invariants, plan shapes)."""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from k_means_map_reduce_spark.registry import QUERIES


def _write_events(path: str, rows: list[tuple[int, dt.datetime, int, str, float]]) -> None:
    """Synthetic events.parquet matching the driver testdata layout
    (ts TIMESTAMP_MICROS, the current driver unit)."""
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array(["{}" for _ in rows], pa.string()),
        }
    )
    pq.write_table(tbl, path)


def test_peak_concurrency_carry_in_across_midnight(spark, tmp_path):
    """A session spanning two midnights must carry +1 into each later day:
    the day-partitioned decomposition has to agree with the global sweep."""
    t0 = dt.datetime(2024, 3, 1, 22, 0, 0)
    rows = []
    eid = 0
    # user 1: events every 4 minutes for 50 hours -> ONE session crossing
    # the midnights into Mar 2 and Mar 3.
    for i in range(0, 50 * 60, 4):
        rows.append((eid, t0 + dt.timedelta(minutes=i), 1, "view", 1.0))
        eid += 1
    # user 2: a 30-minute session inside Mar 2 only.
    t2 = dt.datetime(2024, 3, 2, 12, 0, 0)
    for i in range(0, 30, 4):
        rows.append((eid, t2 + dt.timedelta(minutes=i), 2, "view", 1.0))
        eid += 1
    _write_events(str(tmp_path / "events.parquet"), rows)

    got = {
        r["day"]: r["peak_concurrent"]
        for r in QUERIES["events_peak_concurrency_daily"](spark, str(tmp_path)).collect()
    }
    # Mar 1: only user 1's session start boundary -> peak 1.
    # Mar 2: user 1 still open (carry-in 1) + user 2's session -> peak 2.
    # Mar 3: only user 1's END boundary falls in the day; concurrency at
    # that instant (after the -1) is 0 — matching the global sweep, which
    # also only observes boundary instants.
    assert got == {"2024-03-01": 1, "2024-03-02": 2, "2024-03-03": 0}


def test_attribution_last_touch_window_and_tie(spark, tmp_path):
    t0 = dt.datetime(2024, 5, 1, 12, 0, 0)
    rows = [
        # user 1: click 10 min before purchase -> attributed to click.
        (0, t0, 1, "click", 0.0),
        (1, t0 + dt.timedelta(minutes=10), 1, "purchase", 50.0),
        # user 2: view 8 DAYS before purchase -> outside 7d -> none.
        (2, t0, 2, "view", 0.0),
        (3, t0 + dt.timedelta(days=8), 2, "purchase", 30.0),
        # user 3: purchase with no prior touch -> none.
        (4, t0, 3, "purchase", 20.0),
    ]
    _write_events(str(tmp_path / "events.parquet"), rows)
    got = {
        r["attributed_type"]: (r["n_purchases"], r["total_value"])
        for r in QUERIES["attribution_last_touch"](spark, str(tmp_path)).collect()
    }
    assert got["click"] == (1, 50.0)
    assert got["none"] == (2, 50.0)
    assert "view" not in got


def test_attribution_time_decay_exact_7d_boundary(spark, tmp_path):
    """A touch EXACTLY 7 days (to the µs) before a purchase satisfies the
    inclusive lookback join but has no decay arm (d_apart=7): ANSI
    element_at would throw INVALID_ARRAY_INDEX; try_element_at must yield
    NULL weight, matching the oracle's CASE — round-3 advisor finding."""
    from k_means_map_reduce_spark.oracle import compare_query

    t0 = dt.datetime(2024, 5, 1, 12, 0, 0)
    rows = [
        (0, t0, 1, "click", 0.0),  # exactly 7d before -> w NULL both engines
        (1, t0 + dt.timedelta(days=7), 1, "purchase", 80.0),
        # user 2: normal 1-day-apart touch so the attributed arm is nonempty
        (2, t0, 2, "view", 0.0),
        (3, t0 + dt.timedelta(days=1), 2, "purchase", 40.0),
    ]
    _write_events(str(tmp_path / "events.parquet"), rows)
    r = compare_query(spark, "attribution_time_decay", str(tmp_path))
    assert r.ok, r.detail
    got = {
        row["touch_type"]: row
        for row in QUERIES["attribution_time_decay"](spark, str(tmp_path)).collect()
    }
    # boundary click row joins (n_touches=1) but credits nothing
    assert got["click"]["n_touches"] == 1 and got["click"]["credited_value"] is None
    assert got["view"]["credited_value"] == pytest.approx(40.0)


def test_compression_ratio_orders_repetitive_below_diverse(spark, tmp_path):
    docs = pa.table(
        {
            "doc_id": pa.array([1, 2], pa.int64()),
            "text": pa.array(
                [
                    "spam " * 400,  # highly repetitive
                    " ".join(f"w{i}x{i * 7919 % 1000}" for i in range(400)),  # diverse
                ],
                pa.string(),
            ),
            "lang": pa.array(["en", "en"], pa.string()),
            "source": pa.array(["s", "s"], pa.string()),
            "n_chars": pa.array([2000, 2000], pa.int64()),
        }
    )
    pq.write_table(docs, str(tmp_path / "documents.parquet"))
    got = {
        r["doc_id"]: r
        for r in QUERIES["text_compression_ratio"](spark, str(tmp_path)).collect()
    }
    assert got[1]["ratio"] < 0.05 < got[2]["ratio"]
    for r in got.values():
        assert 0 < r["n_compressed"] <= r["n_bytes"] + 64
        assert r["ratio"] == pytest.approx(r["n_compressed"] / r["n_bytes"], abs=1e-6)


def test_sample_topk_plan_uses_window_group_limit(spark, sf_dir):
    df = QUERIES["sample_topk_per_group_docs"](spark, sf_dir)
    assert "WindowGroupLimit" in df._jdf.queryExecution().executedPlan().toString(), (
        "rank<=k filter should push a per-group top-k below the shuffle"
    )


def test_linear_multitouch_single_fact_shuffle(spark, sf_dir):
    df = QUERIES["attribution_linear_multitouch"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    n_hash_exchanges = plan.count("Exchange hashpartitioning")
    assert n_hash_exchanges == 1, (
        f"expected ONE user_id shuffle feeding both conditional range-frame "
        f"sums, found {n_hash_exchanges}"
    )


def test_triangle_count_known_graph(spark, tmp_path, monkeypatch):
    """K4 minus one edge has exactly 2 triangles — checked through the
    degree-ordered pipeline by synthesizing a tiny lineitem table."""
    # orders as baskets: {1,2,3}, {1,2,4}, {3,4} -> edges 12,13,23,14,24,34
    # = K4 -> 4 triangles;  drop edge 34 by splitting the last basket.
    baskets = {10: [1, 2, 3], 20: [1, 2, 4]}
    ok, pk = [], []
    for o, parts in baskets.items():
        for p in parts:
            ok.append(o)
            pk.append(p)
    tbl = pa.table({"l_orderkey": pa.array(ok, pa.int64()), "l_partkey": pa.array(pk, pa.int64())})
    pq.write_table(tbl, str(tmp_path / "lineitem.parquet"))

    import k_means_map_reduce_spark.operators.graph as graph_mod
    from k_means_map_reduce_spark.sources import load_table as real_load

    def fake_load(spark_, sf_dir_, name):
        if name == "lineitem":
            return spark_.read.parquet(str(tmp_path / "lineitem.parquet"))
        return real_load(spark_, sf_dir_, name)

    monkeypatch.setattr(graph_mod, "load_table", fake_load)
    row = QUERIES["graph_triangle_count"](spark, str(tmp_path)).collect()[0]
    # edges: 12,13,23 (order 10) + 12,14,24 (order 20) -> 5 distinct edges,
    # triangles {1,2,3} and {1,2,4}.
    assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (4, 5, 2)


def test_ewma_matches_reference_recurrence(spark, tmp_path):
    t0 = dt.datetime(2024, 6, 1, 9, 0, 0)
    vals = [10.0, 20.0, None, 5.0, 40.0]
    rows = [
        (i, t0 + dt.timedelta(minutes=i), 7, "view", v) for i, v in enumerate(vals)
    ]
    _write_events(str(tmp_path / "events.parquet"), rows)
    got = QUERIES["events_ewma_per_user"](spark, str(tmp_path)).collect()
    assert len(got) == 1
    r = got[0]
    y = None
    for v in vals:
        if v is None:
            continue
        y = v if y is None else 0.8 * y + 0.2 * v
    assert r["user_id"] == 7
    assert r["n_values"] == 4
    assert r["ewma"] == pytest.approx(round(y, 6), abs=1e-9)


def test_recursive_hierarchy_matches_iterative_bfs(spark, sf_dir):
    """The recursive CTE's per-level counts must agree with a driver-side
    iterative computation of the same synthetic tree."""
    from k_means_map_reduce_spark.sources import load_table

    keys = [r.c_custkey for r in load_table(spark, sf_dir, "customer").select("c_custkey").collect()]
    level = {}
    for k in sorted(keys):
        level[k] = 0 if k <= 9 else level.get(k // 10, None)
        if k > 9:
            parent = k // 10
            level[k] = level[parent] + 1 if parent in level else None
    expected = {}
    for k, lv in level.items():
        if lv is not None:
            expected[lv] = expected.get(lv, 0) + 1
    got = {
        r["level"]: r["n_customers"]
        for r in QUERIES["sql_recursive_hierarchy_levels"](spark, sf_dir).collect()
    }
    assert got == expected


def test_pca_power_iteration_matches_numpy(spark, sf_dir):
    import numpy as np

    from k_means_map_reduce_spark.sources import load_table

    rows = QUERIES["embedding_pca_power_iteration"](spark, sf_dir).collect()
    v = np.zeros(len(rows))
    for r in rows:
        v[r["dim"]] = r["loading"]
    X = np.array(
        [r["embedding"] for r in load_table(spark, sf_dir, "embeddings").collect()],
        dtype=np.float64,
    )
    gram = X.T @ X
    evals = np.linalg.eigvalsh(gram)
    # unit direction whose Rayleigh quotient (captured variance) reaches
    # the top of the near-degenerate spectrum (docstring: eigvec identity
    # is not achievable in bounded rounds at gap ~0.93, captured variance is)
    assert float(np.linalg.norm(v)) == pytest.approx(1.0, abs=1e-4)
    rayleigh = float(v @ gram @ v)
    assert rayleigh >= 0.95 * float(evals[-1])
    assert rows[0]["eigenvalue"] == pytest.approx(rayleigh, rel=5e-2)


def test_points_txt_python_datasource_matches_expression_reader(spark, tmp_path):
    """The Spark 4 Python DataSource must parse the reference format
    identically to the declarative reader, across partition boundaries."""
    from k_means_map_reduce_spark.sources.points_datasource import register
    from k_means_map_reduce_spark.sources.points_txt import read_points_txt

    path = str(tmp_path / "points.txt")
    lines = [f"{i}.5, {i * 2}.25, {i % 7}" for i in range(200)] + ["", "1, 2, 3"]
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")

    register(spark)
    via_ds = (
        spark.read.format("points_txt")
        .option("numPartitions", "5")
        .load(path)
    )
    assert via_ds.rdd.getNumPartitions() == 5
    a = sorted(tuple(r["coordinates"]) for r in via_ds.collect())
    b = sorted(tuple(r["coordinates"]) for r in read_points_txt(spark, path).collect())
    assert a == b and len(a) == 201


@pytest.mark.skipif(
    not os.path.exists("/root/reference/Data/Input/points.txt"),
    reason="reference sample not present",
)
def test_points_txt_python_datasource_reads_reference_file(spark):
    from k_means_map_reduce_spark.sources.points_datasource import register
    from k_means_map_reduce_spark.sources.points_txt import read_points_txt

    ref = "/root/reference/Data/Input/points.txt"
    register(spark)
    via_ds = spark.read.format("points_txt").load(ref)
    assert via_ds.count() == read_points_txt(spark, ref).count()


def test_driver_rotation_ordering(tmp_path, monkeypatch):
    """_ordered_names drives which rows the driver's (truncating) verify
    re-checks: previously-FAILED first, then never-checked (oracled before
    rows-only), then green. A regression here silently starves re-checks."""
    import importlib.util
    import json

    spec = importlib.util.spec_from_file_location(
        "_entry_under_test", "/root/repo/__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    from k_means_map_reduce_spark.registry import ORACLES, QUERIES

    names = list(QUERIES)
    oracled = [n for n in names if n in ORACLES]
    rows_only = [n for n in names if n not in ORACLES]
    failed, green_old, green_new = oracled[0], oracled[1], oracled[2]
    ok = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}
    fake1 = {
        failed: {"rows_match": False, "schema_match": True, "hash_match": False, "err": None},
        green_old: dict(ok),
        # rows-only verdict: no_oracle is terminal, must NOT re-check-camp.
        # Mirror the driver's ACTUAL record shape (CORRECTNESS_r0*.json):
        # rows_match is None, not True — a fixture faking True would mask a
        # predicate that wrongly demands rows_match be truthy.
        rows_only[0]: {"rows_match": None, "schema_match": None,
                       "hash_match": None, "spark_rows": 17,
                       "oracle_rows": None, "err": "no_oracle"},
    }
    # an ORACLED name whose latest verdict is the stale rows-only
    # "no_oracle" (checked before its oracle upgrade): must be demoted to
    # never-checked so the driver runs the real hash compare.
    upgraded = oracled[3]
    fake2 = {
        green_new: dict(ok),
        upgraded: {"rows_match": None, "schema_match": None,
                   "hash_match": None, "spark_rows": 9,
                   "oracle_rows": None, "err": "no_oracle"},
    }
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps(fake1))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps(fake2))
    monkeypatch.setattr(mod, "_REPO", str(tmp_path))

    order = mod._ordered_names()
    assert sorted(order) == sorted(names), "must be a permutation of the registry"
    assert order[0] == failed, "previously-failed must re-check first"
    # the stale-no_oracle oracled row re-enters the never-checked tier
    unchecked = [n for n in names if n not in fake1 and n not in fake2] + [upgraded]
    last_unchecked = max(order.index(n) for n in unchecked)
    assert order.index(green_old) > last_unchecked, "green rows sort behind never-checked"
    # the checked no_oracle row must not outrank never-checked queries
    assert order.index(rows_only[0]) > min(order.index(n) for n in unchecked)

    # GREEN tier re-checks oldest evidence first: the r01-checked green row
    # must outrank the r02-checked one (testdata regeneration safety).
    assert order.index(green_old) < order.index(green_new), (
        "green tier must order oldest driver evidence first"
    )

    # BACKLOG-PROPORTIONAL interleave: every prefix of the never-checked
    # tier carries each module in proportion to its remaining backlog, so
    # the largest family (analytics after round 4) drains fastest instead
    # of getting one slot per round-robin pass. Stride scheduling makes
    # each module's count in a length-L prefix within 1 of L*w/total.
    never_tier = [n for n in order if n in unchecked]
    by_module = {}
    for n in unchecked:
        by_module.setdefault(QUERIES[n].__module__, []).append(n)
    total = len(unchecked)
    for L in (25, 50, 75):
        prefix = never_tier[:L]
        for m, grp in by_module.items():
            got = sum(1 for n in prefix if QUERIES[n].__module__ == m)
            expect = L * len(grp) / total
            assert abs(got - expect) <= 1.0 + 1e-9, (
                f"module {m}: {got} slots in first {L}, expected ~{expect:.1f}"
            )

    # never-checked _PRIORITY names get the GLOBAL boost: they must occupy
    # the very front of the never-checked tier (inside any truncation
    # window), not just lead their own module's stride lane.
    prio_unchecked = [n for n in never_tier if n in mod._PRIORITY]
    if prio_unchecked:
        head = never_tier[: len(prio_unchecked)]
        assert set(head) == set(prio_unchecked), (
            f"priority names {prio_unchecked} must lead the never tier, "
            f"got head {head}"
        )

    # within a module group, oracled queries outrank rows-only ones
    for m in by_module:
        grp = [n for n in never_tier if QUERIES[n].__module__ == m]
        seen_rows_only = False
        for n in grp:
            if n not in ORACLES:
                seen_rows_only = True
            else:
                assert not (seen_rows_only and n not in mod._PRIORITY), (
                    f"oracled {n} sorted after rows-only within module {m}"
                )


def test_bench_headline_names_are_registered():
    """bench.py is a driver contract surface: a renamed query must fail CI
    here, not at round-bench time."""
    import importlib.util

    spec = importlib.util.spec_from_file_location("_bench_under_test", "/root/repo/bench.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    benched = mod.HEADLINE + mod.ADDITIONS
    missing = [n for n in benched if n not in QUERIES]
    assert not missing, f"bench names not in registry: {missing}"
    assert len(set(benched)) == len(benched), "duplicate bench entries"
    assert mod.HEADLINE == (
        mod.LEGACY56
        + mod.R7_FOLDED
        + mod.R8_FOLDED
        + mod.R9_FOLDED
        + mod.R10_FOLDED
        + mod.R11_FOLDED
        + mod.R12_FOLDED
    ), (
        "HEADLINE must stay LEGACY56 + R7..R12_FOLDED — the stdout "
        "per-query map and the prev79/96/117/146 continuity totals depend "
        "on that partition"
    )
    assert mod.PREV56 == mod.LEGACY56
    assert mod.PREV66 == mod.LEGACY56 + mod.R7_FOLDED
    assert mod.PREV79 == mod.LEGACY56 + mod.R7_FOLDED + mod.R8_FOLDED
    assert mod.PREV96 == (
        mod.LEGACY56 + mod.R7_FOLDED + mod.R8_FOLDED + mod.R9_FOLDED
    )
    assert mod.PREV117 == (
        mod.LEGACY56
        + mod.R7_FOLDED
        + mod.R8_FOLDED
        + mod.R9_FOLDED
        + mod.R10_FOLDED
    )
    assert mod.PREV146 == mod.PREV117 + mod.R11_FOLDED
    assert len(mod.HEADLINE) == 158 and len(mod.R12_FOLDED) == 12

    # The driver keeps only the last ~2000 chars of bench stdout; the final
    # JSON line must fit or BENCH_r{N}.json records parsed=null (as it did
    # rounds 1-3). Worst-case render: every query at 99.99s. Only LEGACY56
    # rides the stdout map (158 names don't fit even at 1dp). bench.py
    # degrades 2dp -> 1dp before exceeding the budget — mirror that here:
    # at least ONE precision tier must fit the worst case. prev56/prev66
    # retired from stdout in round 12 (lesson 40); the round-13 re-check
    # measured prev79+prev96+prev117+prev146 at 1939 < 1950 at 1dp, so
    # prev79 survives — the next key added retires it.
    import json

    fits = False
    for per_q in (99.99, 99.9):
        line = json.dumps(
            {
                "metric": "headline_queries_warm_total",
                "value": 99999.99,
                "unit": "sec",
                "queries": {n: per_q for n in mod.LEGACY56},
                "value_prev79": 99999.99,
                "value_prev96": 99999.99,
                "value_prev117": 99999.99,
                "value_prev146": 99999.99,
                "sf": 0.1,
            },
            separators=(",", ":"),
        )
        if len(line) < 1950:
            fits = True
            break
    assert fits, (
        f"bench stdout line would be {len(line)} chars even at 1dp; trim "
        "LEGACY56 or compact the encoding — the driver tail-truncates at ~2000"
    )


def test_coverage_doc_counts_match_registry():
    """COVERAGE.md's headline counts are judge-facing: keep them honest
    against the actual registry."""
    import re

    from k_means_map_reduce_spark.registry import ORACLES

    text = open("/root/repo/COVERAGE.md").read()
    m = re.search(r"capability surface \((\d+) driver queries, (\d+) oracled", text)
    assert m, "COVERAGE.md header pattern missing"
    assert (int(m.group(1)), int(m.group(2))) == (len(QUERIES), len(ORACLES)), (
        f"COVERAGE.md says {m.group(1)}/{m.group(2)}, registry has "
        f"{len(QUERIES)}/{len(ORACLES)}"
    )


def test_rebate_allocation_sums_exact(spark, sf_dir):
    """Largest-remainder guarantee: every order's allocations sum EXACTLY
    to its rebate (integer cents, no penny drift), and each line gets
    base or base+1."""
    from k_means_map_reduce_spark.sources import load_table
    from pyspark.sql import functions as F

    alloc = QUERIES["finance_rebate_allocation"](spark, sf_dir)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT) div 100").alias(
            "rebate_cents"
        ),
    )
    per_order = alloc.groupBy("l_orderkey").agg(
        F.sum("alloc_cents").alias("total_alloc")
    )
    bad = (
        per_order.join(o, per_order.l_orderkey == o.o_orderkey)
        .where(F.col("total_alloc") != F.col("rebate_cents"))
        .count()
    )
    assert bad == 0


def test_stats_family_degenerate_constant_series(spark, tmp_path):
    """Constant data zeroes variances/determinants: ANSI Spark must yield
    NULL (via when-guards) exactly where DuckDB's /0 yields NULL, not
    throw DIVIDE_BY_ZERO — the advisor-flagged latent class, pinned on a
    synthetic constant-value events table."""
    from k_means_map_reduce_spark.oracle import compare_query

    t0 = dt.datetime(2024, 4, 1, 12, 0, 0)
    rows = []
    # 30 days, exactly 3 purchases/day, all value 10.0: constant daily
    # revenue AND constant daily counts
    eid = 0
    for d in range(30):
        for j in range(3):
            rows.append(
                (eid, t0 + dt.timedelta(days=d, minutes=j), 1 + j, "purchase", 10.0)
            )
            eid += 1
    _write_events(str(tmp_path / "events.parquet"), rows)
    # constant daily revenue in orders too (autocorr reads orders)
    orders = pa.table(
        {
            "o_orderkey": pa.array(list(range(60)), pa.int64()),
            "o_custkey": pa.array([1] * 60, pa.int64()),
            "o_orderstatus": pa.array(["F"] * 60, pa.string()),
            "o_totalprice": pa.array([100.0] * 60, pa.float64()),
            "o_orderdate": pa.array(
                [t0 + dt.timedelta(days=d // 2) for d in range(60)],
                pa.timestamp("us"),
            ),
            "o_orderpriority": pa.array(["1-URGENT"] * 60, pa.string()),
        }
    )
    pq.write_table(orders, str(tmp_path / "orders.parquet"))
    for name in (
        "timeseries_autocorr_daily_revenue",
        "events_anomaly_daily_zscore",
        "events_runs_test_daily",
        "timeseries_acf_pacf_table",
        # constant values: hi == lo -> divisor 1, every row in bucket 0 —
        # the selection degenerates gracefully, no /0 anywhere
        "stats_grouped_two_pass_median",
        "stats_grouped_exact_quartiles",
    ):
        r = compare_query(spark, name, str(tmp_path))
        assert r.ok, f"{name}: {r.detail}"
    got = QUERIES["timeseries_autocorr_daily_revenue"](spark, str(tmp_path)).collect()
    assert got[0]["lag1_autocorr"] is None  # constant series: undefined, NULL
    z = QUERIES["events_runs_test_daily"](spark, str(tmp_path)).collect()
    assert all(r["z_score"] is None for r in z)
    # constant series: den = sum e'^2 = 0 -> the den > 0 gate empties the
    # whole lag table in BOTH engines (no NULL rows, no /0 throw)
    acf = QUERIES["timeseries_acf_pacf_table"](spark, str(tmp_path)).collect()
    assert acf == []


def test_position_based_attribution_conserves_value(spark, sf_dir):
    """U-shaped credit factors sum to exactly 1 per attributed purchase
    (0.4+0.4+0.2, 0.5+0.5, 1.0 — all exact binary sums), so total credited
    value across view+click+none must reconstruct total purchase value to
    within the per-purchase round-6 slack."""
    from k_means_map_reduce_spark.sources import load_table
    from pyspark.sql import functions as F

    out = QUERIES["attribution_position_based"](spark, sf_dir)
    credited = sum(r["credited_value"] for r in out.collect())
    ev = load_table(spark, sf_dir, "events")
    total = (
        ev.where(F.col("event_type") == "purchase")
        .agg(F.sum("value").alias("t"))
        .collect()[0]["t"]
    )
    n_purch = ev.where(F.col("event_type") == "purchase").count()
    assert abs(credited - total) <= 2e-6 * n_purch + 1e-6, (
        f"credited {credited} vs purchases {total}"
    )


def test_burst_rate_topk_bounds(spark, sf_dir):
    """Burst counts are frame-bounded by the user's event count; ranks are
    a contiguous 1..k prefix; the rate column is NULL exactly for
    zero-span users."""
    rows = QUERIES["events_burst_rate_topk"](spark, sf_dir).collect()
    assert [r["rk"] for r in rows] == list(range(1, len(rows) + 1))
    for r in rows:
        assert 1 <= r["max_burst_60s"] <= r["n_events"]
        if r["span_minutes"] == 0.0:
            assert r["events_per_active_min"] is None
        else:
            assert r["events_per_active_min"] > 0


def test_stats_battery_degenerate_constant_balances(spark, tmp_path):
    """Constant data zeroes every variance/deviation denominator in the
    round-8 stats battery: ANSI Spark must yield NULL via when-guards
    exactly where DuckDB's /0 yields NULL (lesson 19), never throw
    DIVIDE_BY_ZERO. Also pins the Mann-Whitney single-segment case
    (the segment IS the population -> sigma = 0 -> z NULL)."""
    from k_means_map_reduce_spark.oracle import compare_query

    def write_customer(path, segments):
        n = 10 * len(segments)
        tbl = pa.table(
            {
                "c_custkey": pa.array(list(range(1, n + 1)), pa.int64()),
                "c_mktsegment": pa.array(
                    [segments[i % len(segments)] for i in range(n)], pa.string()
                ),
                "c_acctbal": pa.array([500.0] * n, pa.float64()),
                "c_nationkey": pa.array([1] * n, pa.int32()),
                "c_name": pa.array([f"Customer#{i}" for i in range(n)], pa.string()),
            }
        )
        pq.write_table(tbl, path)

    two = tmp_path / "two_seg"
    two.mkdir()
    write_customer(str(two / "customer.parquet"), ["AUTOMOBILE", "BUILDING"])
    orders = pa.table(
        {
            "o_orderkey": pa.array(list(range(40)), pa.int64()),
            "o_custkey": pa.array([1] * 40, pa.int64()),
            "o_orderstatus": pa.array(["F"] * 40, pa.string()),
            "o_totalprice": pa.array([100.0] * 40, pa.float64()),
            "o_orderdate": pa.array(
                [dt.datetime(2024, 4, 1) + dt.timedelta(days=d) for d in range(40)],
                pa.timestamp("us"),
            ),
            "o_orderpriority": pa.array(
                ["1-URGENT" if i % 2 else "2-HIGH" for i in range(40)], pa.string()
            ),
        }
    )
    pq.write_table(orders, str(two / "orders.parquet"))

    for name in (
        "stats_welch_t_segments",
        "stats_anova_f_acctbal",
        "stats_brown_forsythe_acctbal",
        "stats_grubbs_outlier",
        "stats_kruskal_wallis_acctbal",
        "stats_mann_whitney_acctbal",
        # round-9 additions: same when-guard contract
        "stats_levene_mean_acctbal",
        "stats_bartlett_acctbal",
        "stats_jarque_bera_by_segment",
        "stats_cohens_d_segments",
        "stats_friedman_nation_segment",
        "stats_two_way_anova_totalprice",
        # round-10 additions: same when-guard contract
        "stats_page_trend_segments",
        "stats_ansari_bradley_segments",
        "stats_runs_above_median_by_segment",
        # round-11 additions: constant data must NULL (never NaN/throw)
        "stats_mood_median_segments",
        "stats_siegel_tukey_segments",
        "stats_effect_sizes_rank",
        "stats_cochran_armitage_trend",
        "stats_jonckheere_terpstra_priority",
        "stats_quade_nation_segment",
        "stats_hodges_lehmann_shift",
        "timeseries_ljung_box_daily",
        "timeseries_variance_ratio",
        "timeseries_hurst_rescaled_range",
        "finance_sharpe_sortino_daily",
        "timeseries_changepoint_binseg",
        "ml_decision_stump_gini",
        "stats_mantel_haenszel_or",
        "stats_runs_up_down_daily",
        "timeseries_cusum_page_alarms",
        "agg_boolean_surface",
        "stats_conover_squared_ranks",
        "stats_cuzick_trend_priority",
    ):
        r = compare_query(spark, name, str(two))
        assert r.ok, f"{name} on constant data: {r.detail}"
    w = QUERIES["stats_welch_t_segments"](spark, str(two)).collect()[0]
    assert w["t_stat"] is None and w["df_welch"] is None
    f = QUERIES["stats_anova_f_acctbal"](spark, str(two)).collect()[0]
    assert f["f_stat"] is None
    g = QUERIES["stats_grubbs_outlier"](spark, str(two)).collect()
    assert all(r["g_stat"] is None and r["is_outlier"] is False for r in g)
    lv = QUERIES["stats_levene_mean_acctbal"](spark, str(two)).collect()[0]
    assert lv["w_stat"] is None
    bt = QUERIES["stats_bartlett_acctbal"](spark, str(two)).collect()[0]
    assert bt["t_stat"] is None
    jb = QUERIES["stats_jarque_bera_by_segment"](spark, str(two)).collect()
    assert all(r["jb_stat"] is None for r in jb)
    cd = QUERIES["stats_cohens_d_segments"](spark, str(two)).collect()[0]
    assert cd["cohens_d"] is None and cd["hedges_g"] is None
    aw = QUERIES["stats_two_way_anova_totalprice"](spark, str(two)).collect()[0]
    assert aw["f_a"] is None and aw["f_b"] is None and aw["f_ab"] is None
    pg = QUERIES["stats_page_trend_segments"](spark, str(two)).collect()[0]
    assert pg["z_stat"] is None  # k = 2 < 3: trend over two levels undefined
    ab = QUERIES["stats_ansari_bradley_segments"](spark, str(two)).collect()[0]
    assert ab["z_stat"] is None  # MACHINERY absent: one-sided pool
    rm = QUERIES["stats_runs_above_median_by_segment"](spark, str(two)).collect()
    assert all(r["z_stat"] is None for r in rm)  # constant: rev == median

    one = tmp_path / "one_seg"
    one.mkdir()
    write_customer(str(one / "customer.parquet"), ["AUTOMOBILE"])
    r = compare_query(spark, "stats_mann_whitney_acctbal", str(one))
    assert r.ok, f"mann_whitney single-segment: {r.detail}"
    z = QUERIES["stats_mann_whitney_acctbal"](spark, str(one)).collect()
    assert len(z) == 1 and z[0]["z"] is None


def test_walk_trajectory_matches_python_prefix_sums(spark, sf_dir):
    """The geo random-walk positions must equal base + cumulative md5
    steps recomputed independently in Python for a sampled user —
    pinning the (ts, event_id) ordering and the md5 arithmetic."""
    import hashlib

    from k_means_map_reduce_spark.operators.geo import _walk
    from k_means_map_reduce_spark.sources import load_table
    from pyspark.sql import functions as F

    uid = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .orderBy("user_id")
        .first()["user_id"]
    )
    rows = (
        _walk(spark, sf_dir)
        .where(F.col("user_id") == uid)
        .orderBy("ts", "event_id")
        .collect()
    )
    evs = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") == uid)
        .orderBy("ts", "event_id")
        .collect()
    )

    def h8(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    lat = h8(f"blat:{uid}") % 120000 - 60000
    for r, e in zip(rows, evs):
        lat += h8(f"dlat:{e['event_id']}") % 2001 - 1000
        assert r["ilat"] == lat, (r["event_id"], r["ilat"], lat)


def test_containment_planted_superset(spark, tmp_path):
    """A document whose text is a strict prefix of another must surface
    with containment 1.0 in the prefix->superset direction."""
    base = " ".join(f"tok{i}" for i in range(40))
    sup = base + " " + " ".join(f"extra{i}" for i in range(10))
    # 8 distinct filler docs keep every planted shingle under the df cap
    fillers = [
        " ".join(f"f{k}w{i}" for i in range(30)) for k in range(8)
    ]
    texts = [base, sup] + fillers
    tbl = pa.table(
        {
            "doc_id": pa.array(list(range(len(texts))), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * len(texts), pa.string()),
            "source": pa.array(["src0"] * len(texts), pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    d = tmp_path / "contain"
    d.mkdir()
    pq.write_table(tbl, str(d / "documents.parquet"))
    out = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in QUERIES["dedup_containment_pairs"](spark, str(d)).collect()
    }
    assert out.get((0, 1)) == 1.0, out
    # the superset direction has a larger denominator — strictly below 1
    assert (1, 0) in out and out[(1, 0)] < 1.0, out


def test_bollinger_breaches_respect_warmup(spark, oracle_sf_dir):
    """No breach may be reported before the 20-day frame is full, and
    every reported row must actually sit outside its band."""
    import duckdb

    rows = QUERIES["timeseries_bollinger_breaches"](
        spark, oracle_sf_dir
    ).collect()
    assert rows, "expected breaches on the synthetic series"
    con = duckdb.connect()
    days = [
        r[0]
        for r in con.execute(
            "SELECT DISTINCT strftime(o_orderdate, '%Y-%m-%d') AS d "
            f"FROM read_parquet('{oracle_sf_dir}/orders.parquet') ORDER BY d"
        ).fetchall()
    ]
    warmup_end = days[18]  # rn >= 20 -> first reportable day is days[19]
    for r in rows:
        assert r["day"] > warmup_end, r
        assert (
            r["revenue"] > r["upper_band"] or r["revenue"] < r["lower_band"]
        ), r


def test_conversion_lag_buckets_partition_users(spark, oracle_sf_dir):
    """Bucket counts must partition exactly the users having BOTH a
    signup and a purchase event."""
    from k_means_map_reduce_spark.sources import load_table
    from pyspark.sql import functions as F

    out = QUERIES["events_conversion_lag_histogram"](
        spark, oracle_sf_dir
    ).collect()
    total = sum(r["n_users"] for r in out)
    e = load_table(spark, oracle_sf_dir, "events")
    both = (
        e.groupBy("user_id")
        .agg(
            F.max(F.when(F.col("event_type") == "signup", 1)).alias("s"),
            F.max(F.when(F.col("event_type") == "purchase", 1)).alias("p"),
        )
        .where(F.col("s").isNotNull() & F.col("p").isNotNull())
        .count()
    )
    assert total == both


def test_cluster_validity_indices_sane(spark, oracle_sf_dir):
    """DB index and CH score structural invariants: positive scatters and
    ratios, one DB row per cluster, CH defined on real data."""
    db = QUERIES["kmeans_davies_bouldin_oracled"](spark, oracle_sf_dir).collect()
    assert len(db) == 4
    for r in db:
        assert r["scatter"] >= 0 and r["db_i"] > 0, r
    ch = QUERIES["kmeans_calinski_harabasz_oracled"](
        spark, oracle_sf_dir
    ).collect()[0]
    assert ch["ch_score"] is not None and ch["ch_score"] > 0


# ---------------------------------------------------------------------------
# round-10 operator invariants
# ---------------------------------------------------------------------------


def test_token_budget_apportionment_sums_exact(spark, sf_dir):
    """Hamilton-quota guarantee: quotas sum EXACTLY to the 1M budget and
    each source gets floor-quota or floor-quota + 1."""
    from pyspark.sql import functions as F

    out = QUERIES["training_token_budget_apportionment"](spark, sf_dir)
    rows = out.collect()
    assert sum(r.token_quota for r in rows) == 1_000_000
    w = sum(r.n_tokens for r in rows)
    for r in rows:
        base = (1_000_000 * r.n_tokens) // w
        assert r.token_quota in (base, base + 1), (r.source, r.token_quota, base)


def test_quality_filter_funnel_monotone(spark, sf_dir):
    """Each successive gate can only shrink the surviving set."""
    r = QUERIES["training_quality_filter_funnel"](spark, sf_dir).collect()[0]
    assert (
        r.n_total
        >= r.after_length
        >= r.after_punct
        >= r.after_repetition
        >= r.after_dedup
        >= 0
    )


def test_sign_test_p_value_bounds(spark, sf_dir):
    """Exact binomial two-sided p must be in (0, 1]; pairs bounded by the
    25-nation catalog."""
    r = QUERIES["stats_sign_test_nation_balance"](spark, sf_dir).collect()[0]
    assert 0 < r.n_pairs <= 25
    assert 0 <= r.k_pos <= r.n_pairs
    assert 0.0 < r.p_two_sided <= 1.0


def test_nemenyi_rank_sums_conserve(spark, sf_dir):
    """Friedman/Nemenyi rank bookkeeping: over complete blocks the k rank
    sums total nb * k(k+1)/2, and every pairwise z is nonnegative."""
    rows = QUERIES["stats_nemenyi_posthoc_segments"](spark, sf_dir).collect()
    assert rows, "no segment pairs"
    sums = {}
    for r in rows:
        sums[r.seg_a] = r.rank_sum_a
        sums[r.seg_b] = r.rank_sum_b
        assert r.z_stat is None or r.z_stat >= 0
    k = len(sums)
    total = sum(sums.values())
    # total = nb * k(k+1)/2 for integer nb
    assert total % (k * (k + 1) // 2) == 0, (total, k)


def test_theils_u_and_cramers_v_bounds(spark, sf_dir):
    u = QUERIES["stats_theils_u_segment_priority"](spark, sf_dir).collect()[0]
    assert 0.0 <= u.theils_u <= 1.0
    assert u.h_a_given_b <= u.h_a + 1e-9
    v = QUERIES["stats_cramers_v_segment_priority"](spark, sf_dir).collect()[0]
    assert 0.0 <= v.cramers_v <= 1.0
    assert v.chi2 >= 0 and v.dof >= 1


def test_matryoshka_energy_monotone(spark, sf_dir):
    """Prefix energy must be nondecreasing in the prefix length and <= 1."""
    rows = QUERIES["embedding_matryoshka_energy"](spark, sf_dir).collect()
    by_label = {}
    for r in rows:
        assert 0.0 <= r.mean_energy <= 1.0 + 1e-9
        by_label.setdefault(r.label, {})[r.dim_prefix] = r.mean_energy
    for label, m in by_label.items():
        seq = [m[d] for d in sorted(m)]
        assert seq == sorted(seq), (label, seq)


def test_bloom_fpr_bounds(spark, sf_dir):
    r = QUERIES["sketch_bloom_fpr_exact"](spark, sf_dir).collect()[0]
    assert r.n_bits_set <= min(16384, 4 * r.n_members)
    assert 0 <= r.n_false_positives <= r.n_probes
    assert 0.0 <= r.measured_fpr <= 1.0


def test_fifo_matching_coverage_bounds(spark, sf_dir):
    """FIFO interval intersection can never match more than was returned,
    and coverage caps at the available bought quantity."""
    rows = QUERIES["finance_fifo_lot_matching"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 < r.matched_qty <= r.returned_qty
        assert 0.0 < r.coverage <= 1.0


def test_gini_and_clustering_ratio_bounds(spark, sf_dir):
    g = QUERIES["events_user_activity_gini"](spark, sf_dir).collect()[0]
    assert 0.0 <= g.gini < 1.0
    c = QUERIES["graph_global_clustering_ratio"](spark, sf_dir).collect()[0]
    assert 0.0 <= c.global_clustering <= 1.0
    assert c.n_wedges >= 3 * c.n_triangles


def test_naive_bayes_confusion_conserves_docs(spark, sf_dir):
    """Every document receives exactly one prediction: confusion row sums
    per true language equal that language's document count."""
    from pyspark.sql import functions as F

    from k_means_map_reduce_spark.sources import load_table

    conf = QUERIES["ml_naive_bayes_lang_confusion"](spark, sf_dir)
    got = {
        r.true_lang: r.total
        for r in conf.groupBy("true_lang")
        .agg(F.sum("n_docs").alias("total"))
        .collect()
    }
    want = {
        r.lang: r.n
        for r in load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_max_drawdown_identity(spark, sf_dir):
    r = QUERIES["timeseries_max_drawdown_daily"](spark, sf_dir).collect()[0]
    assert r.peak_cents - r.rev_cents == r.drawdown_cents
    assert r.drawdown_cents >= 0


def test_q11_winners_bounded_by_eligible(spark, sf_dir):
    for r in QUERIES["ds_q11_two_channel_yoy_winners"](spark, sf_dir).collect():
        assert 0 <= r.n_hi_outgrew <= r.n_eligible


def test_q54_bands_conserve_customers(spark, sf_dir):
    """Every customer with at least one order lands in exactly one band."""
    from pyspark.sql import functions as F

    from k_means_map_reduce_spark.sources import load_table

    out = QUERIES["ds_q54_post_anchor_revenue_bands"](spark, sf_dir)
    total = out.agg(F.sum("n_customers")).collect()[0][0]
    want = (
        load_table(spark, sf_dir, "orders")
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert total == want


# round-10 continuation invariants


def test_kaplan_meier_curve_is_monotone(spark, sf_dir):
    """Product-limit survival is non-increasing in t, lives in (0, 1]
    (or exactly 0 after a saturated day), events never exceed the risk
    set, and the risk set shrinks as t grows."""
    rows = sorted(
        QUERIES["events_kaplan_meier_conversion"](spark, sf_dir).collect(),
        key=lambda r: r.t_days,
    )
    assert rows
    prev_s, prev_n = 1.0 + 1e-9, None
    for r in rows:
        assert 1 <= r.n_events <= r.n_at_risk
        assert 0.0 <= r.survival <= prev_s + 1e-9, (r.t_days, r.survival)
        if prev_n is not None:
            assert r.n_at_risk <= prev_n
        prev_s, prev_n = r.survival, r.n_at_risk


def test_msd_step_cohorts_shrink(spark, sf_dir):
    """A user contributing step s also contributed every earlier step, so
    per-step cohorts are non-increasing; squared displacements are
    nonnegative and bounded by (1000 * s)^2 per axis."""
    rows = sorted(
        QUERIES["geo_mean_squared_displacement"](spark, sf_dir).collect(),
        key=lambda r: r.step,
    )
    assert rows and rows[0].step == 1
    prev = None
    for r in rows:
        assert r.msd >= 0.0
        assert r.msd <= 2 * (1000.0 * r.step) ** 2
        if prev is not None:
            assert r.n_users <= prev
        prev = r.n_users


def test_survivorship_curve_is_monotone_in_threshold(spark, sf_dir):
    """Raising the Jaccard cut can only drop pairs and removals; kept +
    removed reconstructs the corpus size at every threshold."""
    rows = sorted(
        QUERIES["dedup_survivorship_threshold_curve"](spark, sf_dir).collect(),
        key=lambda r: r.threshold,
    )
    assert [round(r.threshold, 1) for r in rows] == [0.4, 0.5, 0.6, 0.7, 0.8, 0.9]
    n_docs = rows[0].n_kept + rows[0].n_removed
    prev_pairs = prev_removed = None
    for r in rows:
        assert r.n_kept + r.n_removed == n_docs
        assert r.n_removed <= r.n_pairs or r.n_pairs == 0
        if prev_pairs is not None:
            assert r.n_pairs <= prev_pairs
            assert r.n_removed <= prev_removed
        prev_pairs, prev_removed = r.n_pairs, r.n_removed


def test_winnowing_contamination_census_bounds(spark, sf_dir):
    rows = QUERIES["contamination_winnowing_train_test"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_contaminated <= r.n_test_docs
        assert 0.0 <= r.contamination_rate <= 1.0
        if r.n_contaminated > 0:
            assert r.max_shared_fps >= 8


def test_rank_test_statistic_bounds(spark, sf_dir):
    """Ansari-Bradley scores are in [1, (N+1)//2]; Page's L lies between
    the anti-ordered and perfectly-ordered rank-sum arrangements; per-
    segment runs counts are in [1, n]."""
    ab = QUERIES["stats_ansari_bradley_segments"](spark, sf_dir).collect()[0]
    n = ab.n1 + ab.n2
    assert ab.n1 >= 1 and ab.n2 >= 1
    assert ab.n1 <= ab.ab_stat <= ab.n1 * ((n + 1) // 2)

    pg = QUERIES["stats_page_trend_segments"](spark, sf_dir).collect()[0]
    k, nb = pg.k, pg.n_blocks
    lo = nb * sum(j * (k + 1 - j) for j in range(1, k + 1))
    hi = nb * sum(j * j for j in range(1, k + 1))
    assert lo <= pg.page_l <= hi

    for r in QUERIES["stats_runs_above_median_by_segment"](spark, sf_dir).collect():
        assert 1 <= r.r <= r.n1 + r.n0
        # lower-median cutoff: strictly-above days are a minority half
        assert r.n1 <= r.n0


def test_session_conversion_census_consistent(spark, sf_dir):
    rows = QUERIES["streaming_session_conversion_vs_batch"](spark, sf_dir).collect()
    assert 1 <= len(rows) <= 4
    for r in rows:
        assert r.n_sessions >= 1
        # a session holding a view (or purchase) has at least that event
        assert r.total_events >= r.n_sessions * (r.has_view + r.has_purchase or 1)


def test_yules_k_nonnegative(spark, sf_dir):
    for r in QUERIES["text_yules_k_by_source"](spark, sf_dir).collect():
        assert r.vocab_size <= r.n_tokens
        assert r.yules_k is None or r.yules_k >= 0.0


def test_ansari_bradley_matches_python_reimplementation(spark, sf_dir):
    """Third implementation: recompute the AB statistic in plain
    pandas/Python from the parquet (independent of both the Spark
    expressions and the DuckDB oracle's shared SQL formulation)."""
    import pyarrow.parquet as pq_

    c = pq_.read_table(f"{sf_dir}/customer.parquet").to_pandas()
    pool = c[c.c_mktsegment.isin(["BUILDING", "MACHINERY"])].copy()
    pool["v"] = (pool.c_acctbal * 100).round(0).astype("int64")
    pool = pool.sort_values(["v", "c_custkey"]).reset_index(drop=True)
    n = len(pool)
    pool["r"] = range(1, n + 1)
    pool["score"] = pool.r.where(pool.r <= n + 1 - pool.r, n + 1 - pool.r)
    want_ab = int(pool.loc[pool.c_mktsegment == "BUILDING", "score"].sum())
    want_n1 = int((pool.c_mktsegment == "BUILDING").sum())

    got = QUERIES["stats_ansari_bradley_segments"](spark, sf_dir).collect()[0]
    assert (got.ab_stat, got.n1, got.n2) == (want_ab, want_n1, n - want_n1)


def test_page_trend_matches_python_reimplementation(spark, sf_dir):
    """Third implementation of Page's L: complete blocks, within-block
    ranks with the (mean, seg) tie-break, lexicographic treatment order."""
    import pyarrow.parquet as pq_
    from decimal import Decimal

    c = pq_.read_table(f"{sf_dir}/customer.parquet").to_pandas()
    cells = {}
    for (blk, seg), grp in c.groupby(["c_nationkey", "c_mktsegment"]):
        s = sum(Decimal(str(round(v, 6))) for v in grp.c_acctbal)
        cells[(blk, seg)] = float(s) / len(grp)
    segs = sorted({s for (_, s) in cells})
    k = len(segs)
    blocks = [
        b
        for b in {b for (b, _) in cells}
        if all((b, s) in cells for s in segs)
    ]
    rank_sums = {s: 0 for s in segs}
    for b in blocks:
        ordered = sorted(segs, key=lambda s: (cells[(b, s)], s))
        for rk, s in enumerate(ordered, start=1):
            rank_sums[s] += rk
    want_l = sum((j + 1) * rank_sums[s] for j, s in enumerate(segs))

    got = QUERIES["stats_page_trend_segments"](spark, sf_dir).collect()[0]
    assert (got.page_l, got.k, got.n_blocks) == (want_l, k, len(blocks))

    # the same block/rank machinery verifies the Friedman Q ...
    nb = len(blocks)
    q_want = (
        12.0 * sum(r * r for r in rank_sums.values()) / (nb * k * (k + 1))
        - 3.0 * nb * (k + 1)
    )
    fr = QUERIES["stats_friedman_nation_segment"](spark, sf_dir).collect()[0]
    assert fr.q_stat == pytest.approx(q_want, abs=1e-5)

    # ... and the Nemenyi post-hoc pairwise rank sums
    nz = QUERIES["stats_nemenyi_posthoc_segments"](spark, sf_dir).collect()
    for r in nz:
        assert (r.rank_sum_a, r.rank_sum_b) == (
            rank_sums[r.seg_a],
            rank_sums[r.seg_b],
        )


def test_kaplan_meier_known_fixture(spark, tmp_path):
    """Hand-computed product-limit curve: 5 signups at day 0; purchases on
    days 1, 1, 3; two users never purchase (censored at the horizon day 5
    set by a late unrelated event). S(1) = 1 - 2/5 = 0.6,
    S(3) = 0.6 * (1 - 1/3) = 0.4; risk sets 5 then 3."""
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = []
    eid = 0
    for u in (1, 2, 3, 4, 5):
        rows.append((eid, t0, u, "signup", 0.0))
        eid += 1
    for u, day in ((1, 1), (2, 1), (3, 3)):
        rows.append((eid, t0 + dt.timedelta(days=day), u, "purchase", 9.9))
        eid += 1
    rows.append((eid, t0 + dt.timedelta(days=5), 4, "view", 0.0))
    _write_events(str(tmp_path / "events.parquet"), rows)

    got = {
        r.t_days: r
        for r in QUERIES["events_kaplan_meier_conversion"](
            spark, str(tmp_path)
        ).collect()
    }
    assert set(got) == {1, 3}
    assert got[1].n_at_risk == 5 and got[1].n_events == 2
    assert got[3].n_at_risk == 3 and got[3].n_events == 1
    assert got[1].survival == pytest.approx(0.6, abs=2e-6)
    assert got[3].survival == pytest.approx(0.4, abs=2e-6)

    from k_means_map_reduce_spark.oracle import compare_query

    r = compare_query(spark, "events_kaplan_meier_conversion", str(tmp_path))
    assert r.ok, r.detail


def test_theils_u_and_cramers_v_match_python_reimplementation(spark, sf_dir):
    """Third implementation: recompute both association measures in plain
    pandas/numpy from the parquet files (independent of the Spark
    expressions AND the shared DuckDB SQL formulation). Tolerances absorb
    the production pipeline's round-6-then-decimal term discipline."""
    import math

    import pyarrow.parquet as pq_

    o = pq_.read_table(
        f"{sf_dir}/orders.parquet", columns=["o_custkey", "o_orderpriority"]
    ).to_pandas()
    c = pq_.read_table(
        f"{sf_dir}/customer.parquet", columns=["c_custkey", "c_mktsegment"]
    ).to_pandas()
    j = o.merge(c, left_on="o_custkey", right_on="c_custkey")
    cells = j.groupby(["c_mktsegment", "o_orderpriority"]).size()
    n = cells.sum()
    na = cells.groupby(level=0).sum()
    nb = cells.groupby(level=1).sum()

    h_a = -sum((v / n) * math.log(v / n) for v in na)
    h_ab = -sum(
        (v / n) * math.log(v / nb[pri]) for (seg, pri), v in cells.items()
    )
    want_u = (h_a - h_ab) / h_a
    got = QUERIES["stats_theils_u_segment_priority"](spark, sf_dir).collect()[0]
    assert got.h_a == pytest.approx(h_a, abs=2e-4)
    assert got.h_a_given_b == pytest.approx(h_ab, abs=2e-4)
    assert got.theils_u == pytest.approx(want_u, abs=2e-3)

    chi2 = sum(
        (v - na[seg] * nb[pri] / n) ** 2 / (na[seg] * nb[pri] / n)
        for (seg, pri), v in cells.items()
    )
    a, b = len(na), len(nb)
    want_v = math.sqrt(chi2 / (n * (min(a, b) - 1)))
    gv = QUERIES["stats_cramers_v_segment_priority"](spark, sf_dir).collect()[0]
    assert gv.chi2 == pytest.approx(chi2, abs=2e-4)
    assert gv.cramers_v == pytest.approx(want_v, abs=1e-4)


def test_sign_test_matches_math_comb(spark, sf_dir):
    """Third implementation of the exact binomial sign test: pair counts
    from pandas (decimal-exact per-nation means) and the two-sided tail
    probability from math.comb — validating the SQL multiplicative
    C(m,i) fold (NEXT.md lesson 35) against Python's exact integers."""
    import math
    from decimal import Decimal

    import pyarrow.parquet as pq_

    def nation_means(path, key, bal):
        t = pq_.read_table(path, columns=[key, bal]).to_pandas()
        out = {}
        for nk, grp in t.groupby(key):
            s = sum(Decimal(str(round(v, 6))) for v in grp[bal])
            out[nk] = float(s) / len(grp)
        return out

    cm = nation_means(f"{sf_dir}/customer.parquet", "c_nationkey", "c_acctbal")
    sm = nation_means(f"{sf_dir}/supplier.parquet", "s_nationkey", "s_acctbal")
    diffs = [cm[nk] - sm[nk] for nk in set(cm) & set(sm) if cm[nk] != sm[nk]]
    m, k = len(diffs), sum(1 for d_ in diffs if d_ > 0)
    lo = sum(math.comb(m, i) for i in range(0, k + 1))
    hi = sum(math.comb(m, i) for i in range(k, m + 1))
    want_p = min(1.0, 2.0 * min(lo, hi) / 2 ** m)

    got = QUERIES["stats_sign_test_nation_balance"](spark, sf_dir).collect()[0]
    assert (got.n_pairs, got.k_pos) == (m, k)
    assert got.p_two_sided == pytest.approx(want_p, abs=1e-6)


def test_max_drawdown_matches_pandas_cummax(spark, sf_dir):
    """Third implementation: running-peak drawdown via pandas cummax over
    the integer-cents daily revenue series."""
    import pyarrow.parquet as pq_

    o = pq_.read_table(
        f"{sf_dir}/orders.parquet", columns=["o_orderdate", "o_totalprice"]
    ).to_pandas()
    o["day"] = o.o_orderdate.dt.strftime("%Y-%m-%d")
    o["cents"] = (o.o_totalprice * 100).round(0).astype("int64")
    daily = o.groupby("day").cents.sum().sort_index()
    peak = daily.cummax()
    draw = peak - daily
    worst = draw.max()
    trough = draw[draw == worst].index.min()  # earliest-trough tie-break

    got = QUERIES["timeseries_max_drawdown_daily"](spark, sf_dir).collect()[0]
    assert got.drawdown_cents == int(worst)
    assert got.trough_day == trough
    assert got.peak_cents == int(peak[trough])


def test_token_budget_apportionment_matches_python_hamilton(spark, sf_dir):
    """Third implementation: Hamilton's largest-remainder method in plain
    Python integers over pandas token counts."""
    import re

    import pyarrow.parquet as pq_

    d = pq_.read_table(
        f"{sf_dir}/documents.parquet", columns=["source", "text"]
    ).to_pandas()
    d["ntok"] = d.text.map(lambda t: len(re.split(r"\s+", t.lower().strip()))
                           if t.strip() else 0)
    w = d.groupby("source").ntok.sum().astype(int)
    wtot, budget = int(w.sum()), 1_000_000
    base = {s: budget * int(v) // wtot for s, v in w.items()}
    rem = {s: budget * int(v) % wtot for s, v in w.items()}
    leftover = budget - sum(base.values())
    order = sorted(w.index, key=lambda s: (-rem[s], s))
    want = {
        s: base[s] + (1 if i < leftover else 0) for i, s in enumerate(order)
    }

    got = {
        r.source: (r.token_quota, r.n_tokens)
        for r in QUERIES["training_token_budget_apportionment"](
            spark, sf_dir
        ).collect()
    }
    assert {s: q for s, (q, _) in got.items()} == want
    assert {s: n for s, (_, n) in got.items()} == {s: int(v) for s, v in w.items()}


def test_activity_gini_matches_numpy(spark, sf_dir):
    """Third implementation: the sorted-rank Gini closed form in numpy
    over per-user event counts."""
    import numpy as np
    import pyarrow.parquet as pq_

    e = pq_.read_table(
        f"{sf_dir}/events.parquet", columns=["user_id"]
    ).to_pandas()
    x = np.sort(e.groupby("user_id").size().to_numpy())
    n = len(x)
    i = np.arange(1, n + 1)
    want = float((2 * (i * x).sum() - (n + 1) * x.sum()) / (n * x.sum()))

    got = QUERIES["events_user_activity_gini"](spark, sf_dir).collect()[0]
    assert got.n_users == n
    assert got.total_events == int(x.sum())
    assert got.gini == pytest.approx(want, abs=1e-6)


def test_fifo_matching_matches_sequential_simulation(spark, sf_dir):
    """Third implementation: an actual SEQUENTIAL FIFO lot-consumption
    loop in Python (two pointers over date-ordered lots and disposals)
    must produce the same per-part pair counts and matched quantities as
    the distributed cumulative-range interval-intersection plan — the
    equivalence the operator's design rests on."""
    import pyarrow.parquet as pq_

    li = pq_.read_table(
        f"{sf_dir}/lineitem.parquet",
        columns=[
            "l_partkey", "l_returnflag", "l_quantity", "l_shipdate",
            "l_orderkey", "l_linenumber",
        ],
    ).to_pandas()
    li = li.sort_values(["l_shipdate", "l_orderkey", "l_linenumber"])
    want = {}
    for pk, grp in li.groupby("l_partkey"):
        lots = [int(q) for q in grp[grp.l_returnflag == "N"].l_quantity]
        disp = [int(q) for q in grp[grp.l_returnflag == "R"].l_quantity]
        if not lots or not disp:
            continue
        n_pairs = matched = 0
        i, lot_left = 0, lots[0] if lots else 0
        for dq in disp:
            while dq > 0 and i < len(lots):
                take = min(dq, lot_left)
                if take > 0:
                    n_pairs += 1
                    matched += take
                dq -= take
                lot_left -= take
                if lot_left == 0:
                    i += 1
                    lot_left = lots[i] if i < len(lots) else 0
            if i >= len(lots):
                break
        if n_pairs:
            want[int(pk)] = (n_pairs, matched, sum(disp))

    got = {
        r.partkey: (r.n_lot_matches, r.matched_qty, r.returned_qty)
        for r in QUERIES["finance_fifo_lot_matching"](spark, sf_dir).collect()
    }
    assert got == want


def test_two_way_anova_matches_python_reimplementation(spark, sf_dir):
    """Third implementation guarding the round-9 ADVICE weighting fix:
    the cell-count-weighted Type-I decomposition computed directly in
    pandas (SS_A = sum_cells nij * a_dev^2 etc.) must reproduce all
    three F statistics — the earlier nij/na weighting would be ~n/a
    smaller and fail loudly here."""
    import pyarrow.parquet as pq_

    o = pq_.read_table(
        f"{sf_dir}/orders.parquet", columns=["o_custkey", "o_orderpriority", "o_totalprice"]
    ).to_pandas()
    c = pq_.read_table(
        f"{sf_dir}/customer.parquet", columns=["c_custkey", "c_mktsegment"]
    ).to_pandas()
    j = o.merge(c, left_on="o_custkey", right_on="c_custkey")
    j["v"] = (j.o_totalprice * 100).round(0).astype("int64")
    g = j.groupby(["c_mktsegment", "o_orderpriority"]).v
    nij, sij = g.size(), g.sum()
    ssdij = (j.assign(v2=j.v.astype(float) ** 2)
             .groupby(["c_mktsegment", "o_orderpriority"]).v2.sum())
    n, sg = nij.sum(), sij.sum()
    gmean = sg / n
    na, sa = nij.groupby(level=0).sum(), sij.groupby(level=0).sum()
    nb, sb = nij.groupby(level=1).sum(), sij.groupby(level=1).sum()
    ss_cells = ss_a = ss_b = ss_w = 0.0
    for (seg, pri), cnt in nij.items():
        cmean = sij[(seg, pri)] / cnt
        ss_cells += cnt * (cmean - gmean) ** 2
        ss_a += cnt * (sa[seg] / na[seg] - gmean) ** 2
        ss_b += cnt * (sb[pri] / nb[pri] - gmean) ** 2
        ss_w += ssdij[(seg, pri)] - sij[(seg, pri)] ** 2 / cnt
    a, b = len(na), len(nb)
    ss_ab = ss_cells - ss_a - ss_b
    dfw = n - a * b
    msw = ss_w / dfw
    want = (
        (ss_a / (a - 1)) / msw,
        (ss_b / (b - 1)) / msw,
        (ss_ab / ((a - 1) * (b - 1))) / msw,
    )
    got = QUERIES["stats_two_way_anova_totalprice"](spark, sf_dir).collect()[0]
    assert got.f_a == pytest.approx(want[0], rel=1e-6)
    assert got.f_b == pytest.approx(want[1], rel=1e-6)
    assert got.f_ab == pytest.approx(want[2], rel=1e-6)


def test_kendall_w_matches_python_reimplementation(spark, sf_dir):
    """Third implementation of Kendall's W: the three ranker orderings
    (retail-price cents, sold quantity, 6dp-rounded revenue — each
    tie-broken by p_partkey) rebuilt in pandas, W from the closed form."""
    from decimal import Decimal

    import pyarrow.parquet as pq_

    li = pq_.read_table(
        f"{sf_dir}/lineitem.parquet",
        columns=["l_partkey", "l_quantity", "l_extendedprice", "l_discount"],
    ).to_pandas()
    li["rev6"] = [
        Decimal(str(round(e * (1 - d_), 6)))
        for e, d_ in zip(li.l_extendedprice, li.l_discount)
    ]
    sold = li.groupby("l_partkey").agg(
        qty=("l_quantity", lambda s: int(sum(int(q) for q in s))),
        rev=("rev6", "sum"),
    )
    p = pq_.read_table(
        f"{sf_dir}/part.parquet", columns=["p_partkey", "p_retailprice"]
    ).to_pandas().set_index("p_partkey")
    pts = sold.join(p, how="inner")
    pts["pc"] = (pts.p_retailprice * 100).round(0).astype("int64")
    n = len(pts)
    rsum = {k: 0 for k in pts.index}
    for key in ("pc", "qty", "rev"):
        ordered = sorted(pts.index, key=lambda k: (pts.loc[k, key], k))
        for rk, k in enumerate(ordered, start=1):
            rsum[k] += rk
    s4 = sum((2 * v - 3 * (n + 1)) ** 2 for v in rsum.values())
    want_w = s4 / (3.0 * (n ** 3 - n))

    got = QUERIES["stats_kendall_w_part_rankers"](spark, sf_dir).collect()[0]
    assert got.n == n
    assert got.w == pytest.approx(want_w, abs=1e-6)


def test_siegel_tukey_closed_form_matches_bruteforce():
    """The ST alternating-rank closed form (low cut L = 2*(N div 4) +
    (N mod 4 != 0), parity-branched 2r/2r-1 scores) must reproduce the
    literal alternation — 1 to the min, 2-3 to the top two, 4-5 to the
    next two lowest, … — for every N up to 200."""
    for n in range(1, 201):
        # literal alternation: assign scores 1..n walking (low 1, high 2,
        # low 2, high 2, ...) over ascending positions 1..n
        scores = {}
        lo, hi, nxt, take_low, first = 1, n, 1, True, True
        while lo <= hi:
            k = 1 if first else 2
            first = False
            for _ in range(k):
                if lo > hi:
                    break
                if take_low:
                    scores[lo] = nxt
                    lo += 1
                else:
                    scores[hi] = nxt
                    hi -= 1
                nxt += 1
            take_low = not take_low
        low_cut = 2 * (n // 4) + (0 if n % 4 == 0 else 1)
        for r in range(1, n + 1):
            if r <= low_cut:
                want = 2 * r - 1 if r % 2 == 1 else 2 * r
            else:
                j = n + 1 - r
                want = 2 * j if j % 2 == 1 else 2 * j - 1
            assert scores[r] == want, (n, r, scores[r], want)
        assert sorted(scores.values()) == list(range(1, n + 1))


def test_logrank_matches_python_reimplementation(spark, sf_dir):
    """Third implementation of the log-rank test: rebuild the censored
    observations and the O/E/V day sums in plain Python from the events
    parquet (no Spark, no DuckDB)."""
    from collections import defaultdict

    import pyarrow.parquet as pq_

    t = pq_.read_table(
        f"{sf_dir}/events.parquet", columns=["user_id", "event_type", "ts"]
    ).to_pandas()
    t["day"] = t["ts"].values.astype("datetime64[D]").astype(int)
    signup, purchase, last = {}, {}, {}
    for u, et, d_ in zip(t.user_id, t.event_type, t.day):
        if et == "signup":
            signup[u] = min(signup.get(u, d_), d_)
        if et == "purchase":
            purchase[u] = min(purchase.get(u, d_), d_)
        last[u] = max(last.get(u, d_), d_)
    max_day = max(last.values())
    mids = [s for s in signup.values()]
    mid = (min(mids) + max(mids)) // 2
    obs = []
    for u, s in signup.items():
        p = purchase.get(u)
        conv = p is not None and p >= s
        obs.append(
            (1 if s <= mid else 0, (p - s) if conv else (max_day - s),
             1 if conv else 0)
        )
    d1c, c1c, d2c, c2c = (
        defaultdict(int), defaultdict(int), defaultdict(int), defaultdict(int)
    )
    for g1, tt, ev in obs:
        if g1:
            c1c[tt] += 1
            d1c[tt] += ev
        else:
            c2c[tt] += 1
            d2c[tt] += ev
    n1 = sum(1 for g1, _, _ in obs if g1)
    n2 = len(obs) - n1
    at1, at2 = n1, n2
    o1 = e1 = v = 0.0
    from decimal import Decimal

    e1d = vd = Decimal(0)
    for tt in sorted(set(c1c) | set(c2c)):
        d_ = d1c[tt] + d2c[tt]
        nn = at1 + at2
        if d_ > 0:
            o1 += d1c[tt]
            e1d += Decimal(str(round(d_ * at1 / nn, 6)))
            if nn >= 2:
                vd += Decimal(
                    str(round(d_ * (at1 / nn) * (at2 / nn) * (nn - d_) / (nn - 1), 6))
                )
        at1 -= c1c[tt]
        at2 -= c2c[tt]
    e1, v = float(e1d), float(vd)
    chi2 = (o1 - e1) ** 2 / v if v > 0 else None

    got = QUERIES["events_logrank_signup_cohorts"](spark, sf_dir).collect()[0]
    assert (got.n_early, got.n_late) == (n1, n2)
    assert got.observed_early == int(o1)
    assert got.expected_early == pytest.approx(e1, abs=1e-6)
    assert got.chi2 == pytest.approx(chi2, abs=1e-4)


def test_nelson_aalen_dominates_km_log_survival(spark, sf_dir):
    """Invariant: -ln(S_km(t)) >= H_na(t) pointwise is FALSE in general,
    but H is nondecreasing and 1 - S(t) <= H(t) always holds (since
    -ln(1-x) >= x); check monotonicity and that bound on the shared
    day grid."""
    km = {
        r.t_days: r.survival
        for r in QUERIES["events_kaplan_meier_conversion"](spark, sf_dir).collect()
    }
    na = sorted(
        (r.t_days, r.cum_hazard)
        for r in QUERIES["events_nelson_aalen_hazard"](spark, sf_dir).collect()
    )
    prev = 0.0
    for t_, h in na:
        assert h >= prev - 1e-9
        prev = h
        if t_ in km and km[t_] is not None:
            assert 1.0 - km[t_] <= h + 1e-4


def test_naive_bayes_confusion_matches_python_reimplementation(spark, sf_dir):
    """Third implementation of the multinomial NB confusion matrix: plain
    Python dict arithmetic from the parquet — same tokenization, add-one
    smoothing, round-6 Decimal log-probs, (score desc, lang) argmax."""
    import math
    import re
    from collections import Counter, defaultdict
    from decimal import Decimal

    import pyarrow.parquet as pq_

    t = pq_.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "lang", "text"]
    ).to_pandas()
    doc_toks, true_lang = {}, {}
    class_counts = defaultdict(Counter)
    for did, lang, text in zip(t.doc_id, t.lang, t.text):
        toks = [w for w in re.split(r"\s+", text.strip().lower()) if w]
        doc_toks[did] = Counter(toks)
        true_lang[did] = lang
        class_counts[lang].update(toks)
    vocab = {tok for c in class_counts.values() for tok in c}
    v = len(vocab)
    nd = Counter(true_lang.values())
    ndt = sum(nd.values())
    langs = sorted(class_counts)
    prior = {
        l_: Decimal(str(round(math.log(nd[l_] / ndt), 6))) for l_ in langs
    }
    tot = {l_: sum(class_counts[l_].values()) for l_ in langs}
    logp = {
        l_: {
            tok: Decimal(
                str(round(math.log((class_counts[l_][tok] + 1) / (tot[l_] + v)), 6))
            )
            for tok in class_counts[l_]
        }
        for l_ in langs
    }
    default = {
        l_: Decimal(str(round(math.log(1.0 / (tot[l_] + v)), 6)))
        for l_ in langs
    }
    confusion = Counter()
    for did, cnts in doc_toks.items():
        best = None
        for l_ in langs:
            s = prior[l_] + sum(
                (logp[l_].get(tok, default[l_]) * c for tok, c in cnts.items()),
                Decimal(0),
            )
            if best is None or s > best[0] or (s == best[0] and l_ < best[1]):
                best = (s, l_)
        confusion[(true_lang[did], best[1])] += 1

    got = {
        (r.true_lang, r.predicted_lang): r.n_docs
        for r in QUERIES["ml_naive_bayes_lang_confusion"](spark, sf_dir).collect()
    }
    assert got == dict(confusion)


def test_woe_iv_matches_python_reimplementation(spark, sf_dir):
    """Third implementation of WOE/IV: pandas value_counts over the
    lineitem parquet, the same cross-multiplied integer ln argument and
    round-6 Decimal IV terms."""
    import math
    from decimal import Decimal

    import pyarrow.parquet as pq_

    l = pq_.read_table(
        f"{sf_dir}/lineitem.parquet", columns=["l_quantity", "l_returnflag"]
    ).to_pandas()

    def band(q):
        if q <= 10:
            return "b1_q01_10"
        if q <= 20:
            return "b2_q11_20"
        if q <= 30:
            return "b3_q21_30"
        if q <= 40:
            return "b4_q31_40"
        return "b5_q41_up"

    cells = {}
    for q, rf in zip(l.l_quantity, l.l_returnflag):
        b = band(q)
        pos, neg = cells.get(b, (0, 0))
        if rf == "R":
            pos += 1
        else:
            neg += 1
        cells[b] = (pos, neg)
    pos_tot = sum(p for p, _ in cells.values())
    neg_tot = sum(n for _, n in cells.values())
    woe, iv = {}, Decimal(0)
    for b, (p, n) in cells.items():
        if p > 0 and n > 0:
            w = round(math.log((p * neg_tot) / (n * pos_tot)), 6)
            woe[b] = w
            iv += Decimal(str(round((p / pos_tot - n / neg_tot) * w, 6)))
        else:
            woe[b] = None

    rows = QUERIES["features_woe_binning_returns"](spark, sf_dir).collect()
    for r in rows:
        assert (r.n_pos, r.n_neg) == cells[r.band]
        if woe[r.band] is None:
            assert r.woe is None
        else:
            assert r.woe == pytest.approx(woe[r.band], abs=1e-9)
        assert r.information_value == pytest.approx(float(iv), abs=1e-9)


def test_survivorship_curve_matches_python_reimplementation(spark, sf_dir):
    """Third implementation of the banding pipeline + survivorship curve:
    hashlib md5 shingles, the 24 affine permutations, 12x2 banding,
    candidate pairs, exact Jaccard verify, and the keep-lowest-doc_id
    greedy at each threshold — all in plain Python sets."""
    import hashlib
    import re

    import pyarrow.parquet as pq_

    from k_means_map_reduce_spark.operators.dedup import (
        _PMH_P,
        _PMH_PERMS24,
        _PMH_R,
        _SURV_THRESHOLDS,
    )

    t = pq_.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
    ).to_pandas()
    shingles = {}
    for did, text in zip(t.doc_id, t.text):
        toks = [w for w in re.split(r"\s+", text.strip().lower()) if w]
        if len(toks) < 3:
            continue
        hs = {
            int(hashlib.md5(" ".join(toks[i : i + 3]).encode()).hexdigest()[:8], 16)
            for i in range(len(toks) - 2)
        }
        shingles[did] = hs
    sigs = {
        did: [min((a * h + b) % _PMH_P for h in hs) for (a, b) in _PMH_PERMS24]
        for did, hs in shingles.items()
    }
    buckets = {}
    for did, s in sigs.items():
        for band in range(len(_PMH_PERMS24) // _PMH_R):
            key = (band, f"{s[2 * band]}:{s[2 * band + 1]}")
            buckets.setdefault(key, []).append(did)
    cand = set()
    for ids in buckets.values():
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                cand.add((ids[i], ids[j]))
    pairs = []
    for d1, d2 in cand:
        h1, h2 = shingles[d1], shingles[d2]
        inter = len(h1 & h2)
        jac = inter / (len(h1) + len(h2) - inter)
        if jac >= 0.4:
            pairs.append((d1, d2, round(jac, 6)))
    n_docs = len(t)
    want = {}
    for th in _SURV_THRESHOLDS:
        hit = [(a, b) for a, b, j in pairs if j >= th]
        removed = {b for _, b in hit}
        want[th] = (len(hit), len(removed), n_docs - len(removed))

    rows = QUERIES["dedup_survivorship_threshold_curve"](spark, sf_dir).collect()
    got = {r.threshold: (r.n_pairs, r.n_removed, r.n_kept) for r in rows}
    assert got == want


def test_r11_statistic_bounds(spark, sf_dir):
    """Bounds/conservation battery for the round-11 entries (the r10
    invariant-test pattern): each statistic must sit inside its
    definitional range and conserve its inputs."""
    q = lambda n: QUERIES[n](spark, sf_dir).collect()  # noqa: E731

    lr = q("events_logrank_signup_cohorts")[0]
    assert lr.chi2 is None or lr.chi2 >= 0
    assert 0 <= lr.observed_early <= lr.n_early

    md = q("stats_mood_median_segments")[0]
    assert md.chi2 >= 0 and md.df == 4
    assert 0 <= md.n_above <= md.n_total

    st = q("stats_siegel_tukey_segments")[0]
    n = st.n1 + st.n2
    assert 1 <= st.w1 <= n * (n + 1) // 2

    jt = q("stats_jonckheere_terpstra_priority")[0]
    assert 0 <= jt.jt_stat <= jt.n * (jt.n - 1) // 2

    qd = q("stats_quade_nation_segment")[0]
    assert qd.f_stat is None or qd.f_stat >= 0

    es = q("stats_effect_sizes_rank")[0]
    assert 0.0 <= es.vd_a <= 1.0
    assert -1.0 <= es.cliffs_delta <= 1.0
    assert abs(es.cliffs_delta - (2 * es.vd_a - 1)) < 1e-5

    ca = q("stats_cochran_armitage_trend")[0]
    assert ca.t_stat <= 5 * ca.r_total and ca.t_stat >= ca.r_total

    for r in q("timeseries_variance_ratio"):
        assert r.vr is None or r.vr > 0

    for r in q("timeseries_hurst_rescaled_range"):
        assert r.mean_rs > 0

    bs = q("timeseries_changepoint_binseg")[0]
    sh = q("finance_sharpe_sortino_daily")[0]
    assert bs.n_left + bs.n_right == sh.n_days + 1  # rets drop one day

    hill = q("graph_degree_powerlaw_hill")[0]
    assert hill.hill_alpha is None or hill.hill_alpha > 1.0
    assert hill.k <= hill.n_nodes and hill.d_min >= 1

    katz = q("graph_katz_centrality")
    ks = [r.katz for r in sorted(katz, key=lambda r: r.rk)]
    assert ks == sorted(ks, reverse=True) and len(ks) <= 20

    stump = q("ml_decision_stump_gini")[0]
    assert stump.gini_gain >= 0
    assert stump.pos_left + stump.pos_right <= stump.n_left + stump.n_right

    knn = q("ml_knn_label_confusion")
    assert sum(r.n for r in knn) > 0
    assert all(r.n > 0 for r in knn)

    tc = q("privacy_t_closeness_emd")[0]
    assert 0.0 <= tc.max_emd <= 1.0
    assert 0 <= tc.n_violating_t02 <= tc.n_groups

    for r in q("text_term_burstiness_topk"):
        assert r.df <= r.cf and r.expected_df <= r.cf + 1e-6
        assert r.burstiness > 0

    for r in q("contamination_paragraph_winnowing"):
        assert 0 <= r.n_flagged_paras <= r.n_test_paras
        assert r.n_docs_hit <= r.n_flagged_paras

    err = q("dedup_minhash_estimate_error")[0]
    assert 0 <= err.mean_abs_err <= err.max_abs_err <= 1.0
    assert 0 <= err.mean_match_count <= 24

    for r in q("geo_location_entropy"):
        assert r.entropy >= 0 and 0 < r.top_cell_share <= 1.0
        assert r.n_cells <= r.n_fixes

    hl = q("stats_hodges_lehmann_shift")[0]
    assert hl.n_pairs > 0 and hl.hl_shift_cents is not None

    lb = q("timeseries_ljung_box_daily")
    qs = [r.q_stat for r in sorted(lb, key=lambda r: r.k)]
    assert all(b >= a - 1e-9 for a, b in zip(qs, qs[1:]))  # Q cumulative
    assert all(-1.0 <= r.rho <= 1.0 for r in lb)


def test_r11_wave234_statistic_bounds(spark, sf_dir):
    """Bounds/conservation for the wave-2/3/4 entries."""
    q = lambda n: QUERIES[n](spark, sf_dir).collect()  # noqa: E731

    wx = q("stats_wilcoxon_signed_rank_nations")[0]
    assert 0 <= wx.w_plus <= wx.m * (wx.m + 1) // 2

    bw = q("stats_bowker_symmetry_transitions")[0]
    assert bw.chi2 >= 0 and bw.df >= 1

    hist = q("dedup_cluster_size_histogram")
    assert all(r.cluster_size * r.n_clusters == r.n_docs for r in hist)
    assert all(r.cluster_size >= 2 for r in hist)  # singletons aren't components

    jc = q("training_dedup_quality_joint_census")
    for r in jc:
        assert 0 <= r.n_survivors <= r.n_kept <= r.n_docs

    for r in q("stats_kendall_tau_b_brand"):
        if r.tau_b is not None:
            assert -1.0 - 1e-9 <= r.tau_b <= 1.0 + 1e-9
        assert r.c + r.d <= r.n * (r.n - 1) // 2

    cs = q("timeseries_cusum_page_alarms")[0]
    assert cs.n_alarm_days <= cs.n_days and cs.max_cusum_cents >= 0

    for r in q("events_bounce_rate_daily"):
        assert 0 <= r.n_bounces <= r.n_sessions
        assert 0.0 <= r.bounce_rate <= 1.0

    db = q("geo_dbscan_core_census")[0]
    assert db.n_core + db.n_border + db.n_noise == db.n_points
    assert db.n_core >= 0 and db.n_border >= 0 and db.n_noise >= 0

    mh = q("stats_mantel_haenszel_or")[0]
    assert mh.mh_odds_ratio is None or mh.mh_odds_ratio > 0

    ru = q("stats_runs_up_down_daily")[0]
    assert 1 <= ru.n_runs <= ru.n

    gg = q("graph_degree_gini")[0]
    assert 0.0 <= gg.degree_gini <= 1.0

    ab = q("agg_boolean_surface")
    for r in ab:
        assert r.keys_complete is True


def test_r11_continuation_bounds(spark, sf_dir):
    """Bounds for the continuation-wave entries."""
    q = lambda n: QUERIES[n](spark, sf_dir).collect()  # noqa: E731

    rm = q("events_rmst_conversion")[0]
    assert 0.0 <= rm.rmst_unconverted_days <= rm.tau_days

    fh = q("events_fleming_harrington_logrank")[0]
    assert fh.chi2 is None or fh.chi2 >= 0
    lr = q("events_logrank_signup_cohorts")[0]
    assert fh.n_event_days == 9 or fh.n_event_days > 0  # same grid family
    # FH weights <= 1, so |weighted O-E| <= plain |O-E|
    assert abs(fh.weighted_oe) <= abs(lr.observed_early - lr.expected_early) + 1e-6

    cv = q("stats_conover_squared_ranks")[0]
    n = cv.n1 + cv.n2
    assert 0 <= cv.t1 <= n * n * n  # sum of squared ranks bound

    cz = q("stats_cuzick_trend_priority")[0]
    assert 1 * cz.n * (cz.n + 1) // 2 <= cz.t <= 5 * cz.n * (cz.n + 1) // 2

    for r in q("text_term_dispersion_dp"):
        assert -1e-9 <= r.dp <= 1.0 + 1e-9

    for r in q("geo_straightness_index"):
        if r.straightness is not None:
            assert -1e-6 <= r.straightness <= 1.0 + 1e-4
        assert r.net_disp <= r.path_len + 1e-2


def test_hodges_lehmann_matches_pandas_reimplementation(spark, sf_dir):
    """Third implementation: HL shift via a full pandas pairwise-diff
    median over the day-grain revenues (numpy broadcasting, lower-median
    by sorting)."""
    import numpy as np
    import pyarrow.parquet as pq_

    o = pq_.read_table(
        f"{sf_dir}/orders.parquet", columns=["o_custkey", "o_orderdate", "o_totalprice"]
    ).to_pandas()
    c = pq_.read_table(
        f"{sf_dir}/customer.parquet", columns=["c_custkey", "c_mktsegment"]
    ).to_pandas()
    m = o.merge(c, left_on="o_custkey", right_on="c_custkey")
    m = m[m.c_mktsegment.isin(["BUILDING", "MACHINERY"])]
    m["cents"] = (m.o_totalprice * 100).round(0).astype("int64")
    daily = m.groupby(["c_mktsegment", "o_orderdate"])["cents"].sum()
    a = daily["BUILDING"].to_numpy()
    b = daily["MACHINERY"].to_numpy()
    diffs = np.sort((a[:, None] - b[None, :]).ravel())
    n = diffs.size
    # the battery's LOWER median: first rank rk with 2*rk >= n (1-based)
    lower_median = int(diffs[(n + 1) // 2 - 1])

    got = QUERIES["stats_hodges_lehmann_shift"](spark, sf_dir).collect()[0]
    assert got.n_pairs == n
    assert got.hl_shift_cents == lower_median


def test_cuzick_trend_matches_python_reimplementation(spark, sf_dir):
    """Third implementation: Cuzick's T, E, Var and z from plain sorted
    Python lists over the orders parquet."""
    import math

    import pyarrow.parquet as pq_

    t = pq_.read_table(
        f"{sf_dir}/orders.parquet",
        columns=["o_orderkey", "o_orderpriority", "o_totalprice"],
    ).to_pandas()
    rows = sorted(
        (int(round(v * 100)), int(k), int(p[0]))
        for k, p, v in zip(t.o_orderkey, t.o_orderpriority, t.o_totalprice)
    )
    n = len(rows)
    tt = sum(s * r for r, (_, _, s) in enumerate(rows, start=1))
    ss = sum(s for _, _, s in rows)
    ss2 = sum(s * s for _, _, s in rows)
    e = ss * (n + 1) / 2.0
    var = (n + 1) / 12.0 * (n * ss2 - ss * ss)
    z = round((tt - e) / math.sqrt(var), 6)

    got = QUERIES["stats_cuzick_trend_priority"](spark, sf_dir).collect()[0]
    assert (got.n, got.t) == (n, tt)
    assert got.z_stat == pytest.approx(z, abs=1e-6)


def test_r12_statistic_bounds(spark, sf_dir):
    """Bounds/conservation battery for the round-12 entries (the r10/r11
    invariant-test pattern): each statistic inside its definitional range,
    each census conserving its inputs."""
    q = lambda n: QUERIES[n](spark, sf_dir).collect()  # noqa: E731

    kp = q("stats_cohens_kappa_raters")[0]
    assert 0 <= kp.diag_agree <= kp.n_customers
    assert kp.kappa is None or -1.0 <= kp.kappa <= 1.0
    assert kp.kappa_linear is None or kp.kappa_linear <= 1.0

    ad = q("stats_anderson_darling_segments")
    assert len(ad) == 5
    n_tot = ad[0].n1 + ad[0].n2
    for r in ad:
        assert r.n1 + r.n2 == n_tot and (r.a2 is None or r.a2 >= 0)

    gh = q("events_gehan_wilcoxon_logrank")[0]
    assert gh.n_event_days > 0
    assert gh.chi2 is None or gh.chi2 >= 0

    # DBSCAN extraction must conserve the census's core/border partition
    census = q("geo_dbscan_core_census")[0]
    clusters = q("geo_dbscan_clusters")
    assert sum(r.n_core for r in clusters) == census.n_core
    assert sum(r.n_border for r in clusters) == census.n_border
    for r in clusters:
        assert r.n_core >= 1  # every cluster contains at least one core
        assert r.n_points == r.n_core + r.n_border

    # banding ablation: the r=1 config is the recall baseline by
    # construction; aligned-block containment makes verified counts
    # monotone along r=1 -> r=2 -> r=4 (r=3 only nests under r<=2)
    br = {(r.b, r.r): r for r in q("dedup_banding_br_ablation")}
    assert set(br) == {(24, 1), (12, 2), (8, 3), (6, 4)}
    assert br[(24, 1)].recall_vs_b24r1 == 1.0
    for r in br.values():
        assert 0 <= r.n_verified <= r.n_candidates
        assert r.precision_at_04 is None or 0 <= r.precision_at_04 <= 1
        assert 0 <= r.recall_vs_b24r1 <= 1
        assert 0 < r.lsh_threshold < 1
    assert br[(24, 1)].n_verified >= br[(12, 2)].n_verified >= br[(6, 4)].n_verified
    assert br[(12, 2)].n_verified >= br[(8, 3)].n_verified

    # vocab ablation: fertility >= 1 and monotone improvement with budget
    va = sorted(q("text_tokenizer_vocab_ablation"), key=lambda r: r.vocab_cut)
    for r in va:
        assert r.tokens_per_word >= 1.0 and r.chars_per_token >= 1.0
        assert r.covered_occurrences <= r.n_occurrences
    for a, b in zip(va, va[1:]):
        assert b.n_tokens <= a.n_tokens
        assert b.covered_occurrences >= a.covered_occurrences

    # edge support histogram conserves edges AND triangle incidences:
    # sum(support * n_edges) = 3 * n_triangles, sum(n_edges) = n_edges
    sup = q("graph_edge_triangle_support")
    tc = q("graph_triangle_count")[0]
    assert sum(r.n_edges for r in sup) == tc.n_edges
    assert sum(r.support * r.n_edges for r in sup) == 3 * tc.n_triangles


def test_gehan_logrank_matches_python_reimplementation(spark, sf_dir):
    """Third implementation of the Gehan-Breslow-Wilcoxon log-rank: the
    n_t-weighted O-E sum rebuilt in plain Python integers from the events
    parquet (no Spark, no DuckDB) — the weighted sum must match EXACTLY
    (it is pure BIGINT by construction)."""
    from collections import defaultdict
    from decimal import Decimal

    import pyarrow.parquet as pq_

    t = pq_.read_table(
        f"{sf_dir}/events.parquet", columns=["user_id", "event_type", "ts"]
    ).to_pandas()
    t["day"] = t["ts"].values.astype("datetime64[D]").astype(int)
    signup, purchase, last = {}, {}, {}
    for u, et, d_ in zip(t.user_id, t.event_type, t.day):
        if et == "signup":
            signup[u] = min(signup.get(u, d_), d_)
        if et == "purchase":
            purchase[u] = min(purchase.get(u, d_), d_)
        last[u] = max(last.get(u, d_), d_)
    max_day = max(last.values())
    mid = (min(signup.values()) + max(signup.values())) // 2
    d1c, c1c, d2c, c2c = (
        defaultdict(int), defaultdict(int), defaultdict(int), defaultdict(int)
    )
    n1 = n2 = 0
    for u, s in signup.items():
        p = purchase.get(u)
        conv = p is not None and p >= s
        tt = (p - s) if conv else (max_day - s)
        if s <= mid:
            n1 += 1
            c1c[tt] += 1
            d1c[tt] += 1 if conv else 0
        else:
            n2 += 1
            c2c[tt] += 1
            d2c[tt] += 1 if conv else 0
    at1, at2 = n1, n2
    oe = 0
    vd = Decimal(0)
    n_days = 0
    for tt in sorted(set(c1c) | set(c2c)):
        dd = d1c[tt] + d2c[tt]
        nn = at1 + at2
        if dd > 0:
            n_days += 1
            oe += nn * d1c[tt] - dd * at1  # exact integer
            if nn >= 2:
                vd += Decimal(
                    str(round(dd * at1 * at2 * (nn - dd) / (nn - 1), 6))
                )
        at1 -= c1c[tt]
        at2 -= c2c[tt]
    row = QUERIES["events_gehan_wilcoxon_logrank"](spark, sf_dir).collect()[0]
    assert row.n_event_days == n_days
    assert row.gehan_oe == oe
    if row.chi2 is not None:
        assert abs(row.chi2 - round(oe * oe / float(vd), 6)) < 1e-4


def test_cohens_kappa_matches_python_reimplementation(spark, sf_dir):
    """Third implementation of Cohen's kappa: NTILE(3) raters, the 3x3
    contingency table, and both kappas rebuilt in plain Python from the
    customer/orders parquet."""
    from collections import Counter

    import pyarrow.parquet as pq_

    c = pq_.read_table(
        f"{sf_dir}/customer.parquet", columns=["c_custkey", "c_acctbal"]
    ).to_pydict()
    o = pq_.read_table(
        f"{sf_dir}/orders.parquet", columns=["o_custkey"]
    ).to_pydict()
    n_orders = Counter(o["o_custkey"])

    def ntile3(keys_sorted):
        n = len(keys_sorted)
        base, extra = divmod(n, 3)
        out, pos = {}, 0
        for b in range(3):
            size = base + (1 if b < extra else 0)
            for k in keys_sorted[pos : pos + size]:
                out[k] = b + 1
            pos += size
        return out

    cents = {k: round(v * 100) for k, v in zip(c["c_custkey"], c["c_acctbal"])}
    by_acct = sorted(cents, key=lambda k: (cents[k], k))
    by_ord = sorted(cents, key=lambda k: (n_orders.get(k, 0), k))
    ra, rb = ntile3(by_acct), ntile3(by_ord)
    cells = Counter((ra[k], rb[k]) for k in cents)
    n = sum(cells.values())
    diag = sum(v for (i, j), v in cells.items() if i == j)
    rows = Counter()
    cols = Counter()
    for (i, j), v in cells.items():
        rows[i] += v
        cols[j] += v
    spp = sum(rows[i] * cols[i] for i in (1, 2, 3))
    swo = sum(abs(i - j) * v for (i, j), v in cells.items())
    swrc = sum(
        abs(i - j) * rows[i] * cols[j] for i in (1, 2, 3) for j in (1, 2, 3)
    )
    row = QUERIES["stats_cohens_kappa_raters"](spark, sf_dir).collect()[0]
    assert row.n_customers == n and row.diag_agree == diag
    assert abs(row.kappa - round((n * diag - spp) / (n * n - spp), 6)) < 1e-9
    assert abs(row.kappa_linear - round(1 - n * swo / swrc, 6)) < 1e-9


def test_r12_wave2_statistic_bounds(spark, sf_dir):
    """Bounds battery for the round-12 second wave."""
    q = lambda n: QUERIES[n](spark, sf_dir).collect()  # noqa: E731

    bm = q("stats_brunner_munzel_segments")
    assert len(bm) == 5
    n_tot = bm[0].n1 + bm[0].n2
    for r in bm:
        assert r.n1 + r.n2 == n_tot
        assert 0.0 <= r.p_hat <= 1.0

    med = q("stats_two_pass_median_extendedprice")[0]
    assert med.bucket_rows >= 1 and 0 <= med.probe_bucket < 1024
    # the bucket must be a small fraction of the table — the point of
    # the two-pass selection (1024 buckets, roughly uniform cents)
    assert med.bucket_rows < max(64, med.n_rows // 64)

    comp = q("layout_compaction_census")[0]
    assert comp.files_before == 16 and comp.files_after == 4
    assert comp.rows_after == comp.n_rows


def test_ktruss_nested_in_support_census(spark, sf_dir):
    """The 4-truss is the support-filtered cohesive core: its edge count
    can't exceed the edges with support >= 2 in the FULL-graph census
    (peeling only removes more), and the unrolled 3 rounds must have
    converged on this data (removed_last_round = 0)."""
    kt = QUERIES["graph_ktruss_edges"](spark, sf_dir).collect()[0]
    sup = QUERIES["graph_edge_triangle_support"](spark, sf_dir).collect()
    ge2 = sum(r.n_edges for r in sup if r.support >= 2)
    assert kt.k == 4 and kt.rounds == 3
    assert kt.removed_last_round == 0
    assert 0 <= kt.n_edges_truss <= ge2
    if kt.n_edges_truss:
        assert kt.n_nodes_truss >= 3


def test_acf_pacf_durbin_levinson_replay(spark, sf_dir):
    """Third-implementation check on the r13 lag table: |rho_k| <= 1,
    pacf_1 == rho_1, and a plain-Python Durbin-Levinson replay on the
    SAME rounded rho values reproduces every pacf (tolerance covers
    half-tie rounding divergence between Python's banker's rounding and
    the engines' HALF_UP; any recursion mistake is orders larger)."""
    rows = {
        r["k"]: r
        for r in QUERIES["timeseries_acf_pacf_table"](spark, sf_dir).collect()
    }
    assert set(rows) == {1, 2, 3, 4, 5}
    rho = {k: rows[k]["rho"] for k in rows}
    for k in rho:
        assert abs(rho[k]) <= 1.0
    assert rows[1]["pacf"] == rows[1]["rho"]
    phi = {1: rho[1]}
    pac = {1: rho[1]}
    for k in range(2, 6):
        num = rho[k] - sum(phi[j] * rho[k - j] for j in range(1, k))
        den = 1 - sum(phi[j] * rho[j] for j in range(1, k))
        pkk = round(num / den, 6)
        phi = {j: round(phi[j] - pkk * phi[k - j], 6) for j in range(1, k)} | {
            k: pkk
        }
        pac[k] = pkk
    for k in range(1, 6):
        assert abs(pac[k] - rows[k]["pacf"]) <= 2e-6, (
            k,
            pac[k],
            rows[k]["pacf"],
        )


def test_grouped_two_pass_median_invariants(spark, sf_dir):
    """One row per priority group; every probe bucket in [0, 1024); each
    group's probe bucket holds a small fraction of that group (the point
    of the grouped selection); the picked value is that group's true
    lower median per a driver-side replay on the collected group."""
    from k_means_map_reduce_spark.sources import load_table

    rows = QUERIES["stats_grouped_two_pass_median"](spark, sf_dir).collect()
    assert len(rows) == 5
    cents = (
        load_table(spark, sf_dir, "orders")
        .selectExpr(
            "o_orderpriority AS grp",
            "CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS v",
        )
        .collect()
    )
    by_grp: dict = {}
    for r in cents:
        by_grp.setdefault(r.grp, []).append(r.v)
    for r in rows:
        assert 0 <= r.probe_bucket < 1024
        assert 1 <= r.bucket_rows < max(64, r.n_rows // 64)
        vals = sorted(by_grp[r.grp])
        assert r.n_rows == len(vals)
        assert r.median_cents == vals[(len(vals) + 1) // 2 - 1]


def test_grouped_exact_quartiles_invariants(spark, sf_dir):
    """15 rows (5 groups x 3 quartiles); within each group
    q1 <= median <= q3; the median row agrees with
    stats_grouped_two_pass_median; and a driver-side replay confirms
    each value is the exact k-th order statistic of its group."""
    from k_means_map_reduce_spark.sources import load_table

    rows = QUERIES["stats_grouped_exact_quartiles"](spark, sf_dir).collect()
    assert len(rows) == 15
    by_grp: dict = {}
    for r in rows:
        by_grp.setdefault(r.grp, {})[r.quartile] = r
    meds = {
        r.grp: r.median_cents
        for r in QUERIES["stats_grouped_two_pass_median"](spark, sf_dir).collect()
    }
    cents = (
        load_table(spark, sf_dir, "orders")
        .selectExpr(
            "o_orderpriority AS grp",
            "CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS v",
        )
        .collect()
    )
    vals: dict = {}
    for r in cents:
        vals.setdefault(r.grp, []).append(r.v)
    for grp, qs in by_grp.items():
        assert set(qs) == {1, 2, 3}
        assert qs[1].value_cents <= qs[2].value_cents <= qs[3].value_cents
        assert qs[2].value_cents == meds[grp]
        sv = sorted(vals[grp])
        n = len(sv)
        assert qs[1].value_cents == sv[max((n + 1) // 4, 1) - 1]
        assert qs[2].value_cents == sv[(n + 1) // 2 - 1]
        assert qs[3].value_cents == sv[max(3 * (n + 1) // 4, 1) - 1]


def test_weighted_two_pass_median_replay(spark, sf_dir):
    """Driver-side replay: the weighted median is the first value whose
    cumulative quantity reaches ceil(W/2), recomputed from a plain
    sorted fold over the collected (value, weight) pairs."""
    from k_means_map_reduce_spark.sources import load_table

    row = QUERIES["stats_weighted_two_pass_median"](spark, sf_dir).collect()[0]
    pairs = (
        load_table(spark, sf_dir, "lineitem")
        .selectExpr(
            "CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT) AS v",
            "CAST(l_quantity AS BIGINT) AS w",
        )
        .collect()
    )
    agg: dict = {}
    for r in pairs:
        agg[r.v] = agg.get(r.v, 0) + r.w
    tw = sum(agg.values())
    assert row.total_weight == tw
    k = (tw + 1) // 2
    cw = 0
    for v in sorted(agg):
        cw += agg[v]
        if cw >= k:
            assert row.median_cents == v
            break
    assert 0 <= row.probe_bucket < 1024
