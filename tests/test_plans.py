"""Explain-plan assertions: the scale contract, checked per query.

- No BatchEvalPython anywhere (row-at-a-time Python = off the codegen path).
- Filter pushdown reaches the parquet scan where a query filters scan columns.
- Column pruning: scans read only needed columns.
- Intended broadcasts actually broadcast.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from k_means_map_reduce_spark.registry import QUERIES
from k_means_map_reduce_spark.plans import plan_report
from k_means_map_reduce_spark.sources import load_table

# Queries whose lazy plan is a pure DataFrame expression (k-means & LSH
# queries run driver-side loops / MLlib fits eagerly, so they're exercised
# functionally elsewhere).
# Everything except queries that run eager driver-side loops / MLlib fits
# (k-means & LSH fits execute at construction; they're exercised functionally
# elsewhere).
EAGER_QUERIES = {
    "kmeans_mllib_clusters",
    "kmeans_native_clusters",
    "kmeans_arrow_clusters",
    "kmeans_label_purity",
    "sim_ann_lsh_topk",
    "sim_ann_ivf_topk",
    "dedup_minhash_lsh_pairs",
    "dedup_connected_components",  # components run their jobs at construction
    "dq_observe_scan_metrics",  # Observation fills when the action runs
    "graph_kcore_members",  # eager peel rounds (rolling unpersist)
    "streaming_tumbling_hourly",  # drains a stream at construction
    "streaming_view_click_interval_join",
    "kmeans_parallel_init_clusters",  # runs the full clustering at construction
    "kmeans_streaming_clusters",  # drains a stream at construction
    "ml_als_recommendations",  # ALS fit executes at construction
    "ml_fpgrowth_itemsets",  # FP-Growth fit executes at construction
    "embedding_pca_power_iteration",  # power-iteration loop executes at construction
    "kmeans_lloyd_oracled",  # Lloyd rounds collect centroids at construction
    "sim_ann_ivf_oracled",  # builds on the Lloyd loop (collects at construction)
    "kmeans_purity_oracled",  # builds on the Lloyd loop (collects at construction)
    "kmeans_elbow_wssse",  # three Lloyd loops collect at construction
    "kmeans_silhouette_simplified",  # builds on the Lloyd loop
    "embedding_pca_oracled",  # power-iteration loop executes at construction
}
# Declared Python-boundary queries: the UDTF demo is row-at-a-time Python
# BY DESIGN (API-surface coverage; its docstring names the faster
# expression path). Exempt from the no-row-wise-Python assertion by name
# so the invariant stays meaningful for everything else.
PYTHON_BOUNDARY_QUERIES = {"lateral_udtf_top_tokens"}
LAZY_QUERIES = sorted(set(QUERIES) - EAGER_QUERIES - PYTHON_BOUNDARY_QUERIES)


@pytest.mark.parametrize("name", LAZY_QUERIES)
def test_no_python_row_udf(spark, sf_dir, name):
    r = plan_report(QUERIES[name](spark, sf_dir))
    assert not r.has_python_row_udf, f"{name} uses a row-at-a-time Python UDF"


def test_filter_pushdown_q1(spark, sf_dir):
    r = plan_report(QUERIES["q1_pricing_summary"](spark, sf_dir))
    assert r.pushed_filters, "l_shipdate filter not pushed to parquet scan"


def test_column_pruning_q1(spark, sf_dir):
    r = plan_report(QUERIES["q1_pricing_summary"](spark, sf_dir))
    assert r.read_schemas, "no ReadSchema in plan"
    schema = r.read_schemas[0]
    assert "l_orderkey" not in schema, f"q1 reads unneeded columns: {schema}"
    assert "l_quantity" in schema


def test_broadcasts_in_q5(spark, sf_dir):
    r = plan_report(QUERIES["q5_local_supplier_volume"](spark, sf_dir))
    assert r.broadcast_joins >= 3, (
        f"q5 should broadcast supplier/nation/region, saw {r.broadcast_joins}:\n"
        + r.text
    )


def test_codegen_present_everywhere(spark, sf_dir):
    # sim_cosine_topk is excluded: array higher-order functions (aggregate/
    # zip_with) are CodegenFallback — JVM interpreted, still no Python.
    for name in ["q1_pricing_summary", "text_stats_per_doc", "scalar_math_funcs"]:
        r = plan_report(QUERIES[name](spark, sf_dir), execute=True)
        assert r.n_codegen_stages >= 1, f"{name} has no WholeStageCodegen span"


def test_theta_join_is_broadcast(spark, sf_dir):
    r = plan_report(QUERIES["join_theta_price_above_retail"](spark, sf_dir))
    assert r.broadcast_joins >= 1 and r.sortmerge_joins == 0, (
        "theta join should broadcast part, not sort-merge:\n" + r.text
    )


def test_scan_pruning_single_column(spark, sf_dir):
    """Projecting 1 column must read 1 column (ReadSchema check)."""
    df = load_table(spark, sf_dir, "lineitem").select("l_quantity")
    r = plan_report(df)
    assert r.read_schemas and r.read_schemas[0] == "struct<l_quantity:double>", (
        r.read_schemas
    )


def test_broadcasts_in_q9(spark, sf_dir):
    r = plan_report(QUERIES["q9_product_profit"](spark, sf_dir))
    assert r.broadcast_joins >= 3, (
        f"q9 should broadcast part/supplier/nation, saw {r.broadcast_joins}"
    )


def test_filter_pushdown_q20(spark, sf_dir):
    r = plan_report(QUERIES["q20_dominant_suppliers"](spark, sf_dir))
    assert r.pushed_filters, "q20 shipdate filter not pushed to lineitem scan"


def test_q21_single_fact_exchange_shape(spark, sf_dir):
    """q21's EXISTS/NOT-EXISTS rewrite must stay one aggregation over the
    joined fact, not correlated per-row probes: no more than 2 big-side
    exchanges (lineitem⋈orders, then the per-order agg reusing orderkey
    partitioning under AQE)."""
    df = QUERIES["q21_waiting_suppliers"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_join_strategy_hints_control_physical_plan(spark, sf_dir):
    """Join hints must steer the physical strategy: the same orders⋈lineitem
    equi-join planned as broadcast-hash, shuffle-hash, or sort-merge on
    request. At 100 TB the right pick differs per pair (broadcast only for
    true dims; shuffle-hash when one side is modest and sortedness is
    useless; sort-merge for fact-fact) — this pins that the engine exposes
    that control."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")

    def plan(hint):
        j = l.join(o.hint(hint), l["l_orderkey"] == o["o_orderkey"])
        return j._jdf.queryExecution().executedPlan().toString()

    assert "BroadcastHashJoin" in plan("broadcast")
    assert "ShuffledHashJoin" in plan("shuffle_hash")
    assert "SortMergeJoin" in plan("merge")


def test_q1_uses_mapside_partial_aggregation(spark, sf_dir):
    """q1's aggregation must be partial (map-side combine) + final — the
    shuffle carries k group partials per partition, not data rows (the
    reference's combiner-less reducer shuffles every row; SURVEY §2a #12)."""
    df = QUERIES["q1_pricing_summary"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_" in plan, "no map-side partial aggregation in q1 plan"


def test_global_sort_uses_range_partitioning(spark, sf_dir):
    """A global orderBy must plan as range partitioning (sampled split
    points, parallel sorted partitions), never a single-partition sort."""
    df = load_table(spark, sf_dir, "orders").orderBy("o_totalprice")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower(), plan[:500]


def test_package_sql_front_end(spark, oracle_sf_dir):
    """The one-call SQL front-end must run ANSI SQL over all registered
    tables and agree with the DataFrame API."""
    import k_means_map_reduce_spark as eng

    got = eng.sql(
        spark,
        "SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY o_orderstatus",
        oracle_sf_dir,
    ).collect()
    want = (
        load_table(spark, oracle_sf_dir, "orders")
        .groupBy("o_orderstatus")
        .count()
        .collect()
    )
    assert {(r["o_orderstatus"], r["n"]) for r in got} == {
        (r["o_orderstatus"], r["count"]) for r in want
    }


def test_incremental_combine_broadcasts_the_delta_keys(spark, sf_dir):
    """The state split must broadcast the delta key set (both the anti and
    semi sides) — a shuffled split would move the whole state per refresh."""
    df = QUERIES["incremental_daily_rollup"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 2, plan[:1500]
    assert "LeftAnti" in plan and "LeftSemi" in plan


def test_fuzzy_join_has_no_cartesian(spark, sf_dir):
    """Record linkage must stay an inverted-index equi-join — any
    CartesianProduct/BroadcastNestedLoop means the blocking failed."""
    df = QUERIES["join_fuzzy_part_names"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_analyze_stats_enable_broadcast_decision(spark, sf_dir, tmp_path):
    """Cost-based planning needs stats: a catalog table with computed
    statistics must broadcast under the session threshold, while the
    same join with autoBroadcastJoinThreshold=-1 must not — the CBO
    wiring every 100 TB deployment depends on (ANALYZE after ingest)."""
    import uuid

    name = f"cust_stats_{uuid.uuid4().hex[:6]}"
    load_table(spark, sf_dir, "customer").limit(200).write.saveAsTable(name)
    try:
        spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")
        o = load_table(spark, sf_dir, "orders")
        j = o.join(spark.table(name), o["o_custkey"] == F.col("c_custkey"))
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan

        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j2 = o.join(spark.table(name), o["o_custkey"] == F.col("c_custkey"))
            plan2 = j2._jdf.queryExecution().executedPlan().toString()
            assert "BroadcastHashJoin" not in plan2
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_dynamic_partition_pruning_fires(spark, sf_dir, tmp_path):
    """DPP: a partitioned fact joined to a filtered dimension must prune
    fact partitions at RUNTIME from the dim-side filter result — the scan
    carries a dynamicpruning subquery instead of reading every partition.
    At 100 TB this is the difference between scanning one day and a year."""
    o = load_table(spark, sf_dir, "orders")
    path = str(tmp_path / "orders_by_prio")
    o.write.mode("overwrite").partitionBy("o_orderpriority").parquet(path)
    fact = spark.read.parquet(path)
    prios = F.array(
        *[F.lit(p) for p in ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]]
    )
    dim = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select(
            "c_custkey",
            # data-dependent partition key (NOT constant-foldable): forces
            # the pruning value set to be computed at runtime -> true DPP
            F.element_at(prios, (F.pmod(F.col("c_custkey"), F.lit(2)) + 1).cast("int")).alias("prio"),
        )
        .distinct()
    )
    joined = fact.join(dim, (fact.o_custkey == dim.c_custkey) & (fact.o_orderpriority == dim.prio))
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), "expected a DPP subquery on the fact scan"


def test_twap_single_exchange(spark, sf_dir):
    """events_time_weighted_avg_daily: the lead() window and both agg
    phases must share ONE (event_type, day) exchange — a second exchange
    means the window and aggregation stopped sharing a partitioning."""
    import re

    r = plan_report(QUERIES["events_time_weighted_avg_daily"](spark, sf_dir))
    n_shuffles = len(re.findall(r"^\(\d+\) Exchange$", r.text, re.M))
    assert n_shuffles == 1, f"expected 1 hash exchange, plan has {n_shuffles}"
    assert "Window" in r.text


def test_rebate_allocation_exchange_shape(spark, sf_dir):
    """finance_rebate_allocation: three window passes + the header join
    must ride the orderkey partitioning — at most the two join-input
    exchanges, never one per window."""
    import re

    r = plan_report(QUERIES["finance_rebate_allocation"](spark, sf_dir))
    n_shuffles = len(re.findall(r"^\(\d+\) Exchange$", r.text, re.M))
    assert n_shuffles <= 2, f"windows added exchanges: {n_shuffles}"


def test_bm25_single_tokenize_pass(spark, sf_dir):
    """text_bm25_search: ONE explode of the tokenized corpus (the scan-
    dominant cost) — the per_doc table is persisted and its three
    consumers (tf stack, df counts, corpus stats) all read the cache;
    without it each consumer re-expands the explode subtree (filter
    pushdown differentiates the subtrees, defeating exchange reuse)."""
    r = plan_report(QUERIES["text_bm25_search"](spark, sf_dir))
    n_cache_reads = r.text.count("InMemoryTableScan")
    assert n_cache_reads >= 3, (
        f"per_doc cache not shared: {n_cache_reads} InMemoryTableScans"
    )


def test_triangle_closure_is_shuffle_hash(spark, sf_dir):
    """The wedge-closure BUILD must be SHUFFLE_HASH (broadcast measured
    slower: single-threaded 1.2M-row hash build) with the wedge side from
    the persisted oriented edge list. Pinned on _triangle_count_build —
    consumers (graph_triangle_count, graph_global_clustering_ratio) see
    only the memoized 1-row checkpoint of it."""
    from k_means_map_reduce_spark.operators.graph import _triangle_count_build

    r = plan_report(_triangle_count_build(spark, sf_dir))
    assert "ShuffledHashJoin" in r.text
    assert "InMemoryTableScan" in r.text


def test_repetition_filters_reuses_doc_partitioning(spark, sf_dir):
    """text_repetition_filters: one doc_id-keyed text exchange per branch,
    then ZERO gram-keyed shuffles — HashPartitioning(doc_id) satisfies the
    (doc_id, gram) aggs and the branch join, so only the two explicit
    repartitions may appear."""
    import re

    r = plan_report(QUERIES["text_repetition_filters"](spark, sf_dir))
    n_shuffles = len(re.findall(r"^\(\d+\) Exchange$", r.text, re.M))
    assert n_shuffles == 2, f"gram aggs stopped reusing doc_id: {n_shuffles}"


def test_simhash_signatures_single_exchange(spark, sf_dir):
    """text_simhash_signatures: the doc_id fan-out repartition is the ONLY
    shuffle — the 48 vote sums aggregate on the reused partitioning."""
    import re

    r = plan_report(QUERIES["text_simhash_signatures"](spark, sf_dir))
    n_shuffles = len(re.findall(r"^\(\d+\) Exchange$", r.text, re.M))
    assert n_shuffles == 1, f"expected 1 exchange, plan has {n_shuffles}"


def test_pack_sequences_window_reuses_bucket_partitioning(spark, sf_dir):
    """training_pack_sequences: the per-bucket window and groupBy must ride
    the explicit (doc_id div bucket) repartitions — no extra pb-keyed
    exchange may appear between the fan-out and the window sort."""
    import re

    r = plan_report(QUERIES["training_pack_sequences"](spark, sf_dir))
    assert not re.search(r"Exchange hashpartitioning\(pb#", r.text), (
        "per-bucket window added its own pb exchange"
    )


def test_winnowing_pairs_share_filtered_postings(spark, sf_dir):
    """dedup_winnowing_pairs: the posting-filtered fingerprint table is
    persisted and BOTH self-join sides read the cache — without it each
    side re-runs the explode + posting join."""
    r = plan_report(QUERIES["dedup_winnowing_pairs"](spark, sf_dir))
    n_cache_reads = r.text.count("InMemoryTableScan")
    assert n_cache_reads >= 2, (
        f"filtered postings not shared: {n_cache_reads} InMemoryTableScans"
    )


def test_no_forced_broadcast_of_catalog_scaling_tables():
    """Every F.broadcast hint in the package must name a side whose size is
    BOUNDED at 100 TB — a fixed dim (nation/region), a scalar/1-row agg, a
    bounded-cardinality group (event_type, dow, calendar days, k centroids,
    bounded query sets), or a CDC delta whose smallness is the operator's
    contract. A hint on a CATALOG-scaling side (part/supplier/customer,
    per-term vocab, per-node degrees, per-doc stats) overrides the
    optimizer's size check and OOMs or degrades at scale (round-4 verdict:
    market_basket_pairs) — those joins are left to AQE, which broadcasts
    while the side fits and shuffle-joins when it doesn't. Adding a new
    F.broadcast site fails here until its boundedness is argued and the
    variable is allowlisted."""
    import glob
    import os
    import re

    pkg = os.path.join(os.path.dirname(__file__), "..", "k_means_map_reduce_spark")
    allow = {
        "kmeans.py": {"cents"},  # k rows
        "operators/advanced.py": {"bounds", "n", "reps", "tot"},
        "operators/analytics.py": {
            # event_type / dow / calendar-day grain or 1-row scalars
            "anchor", "base", "bounds", "cutoff", "days.withColumnRenamed",
            "hubs", "ks", "mad", "med", "mu", "n", "n_orders", "seas",
            "stats", "tot",
            # calendar-bounded cohort dim / 5-enum priority marginals /
            # 1-row grand total
            "cohort_sizes", "grand", "prio_tot",
        },
        # cent_df/b = k-row centroid frames; means = dim rows; sizes =
        # k-row cluster sizes; ssb_df = 1-row SSB aggregate
        "operators/clustering.py": {"b", "cent_df", "means", "sizes",
                                    "ssb_df"},
        "operators/events.py": {"bounds", "carries", "marg", "stats", "tot", "totals"},
        # literal dims; offs = (2*reach+1)^2 ring-offset rows (9 or 25 —
        # reach is a code constant, never data-derived); n_border = 1-row
        # DBSCAN border count
        "operators/geo.py": {"edges", "hubs", "n_border", "offs",
                             "offsets"},
        # kdf/w = 1-row aggregates (k threshold, global wedge count)
        "operators/graph.py": {"kdf", "w"},
        "operators/incremental.py": {"delta_keys"},  # CDC delta contract
        "operators/layout.py": {"b"},  # 1-row global bounds
        # quartiles = segment-enum rollup (5 rows); gl = acctbal/1000
        # bucket marginals (data-model bounded, ~22 rows); consts = 1-row
        # (N, bucket count)
        "operators/quality.py": {"consts", "dangling", "gl", "quartiles",
                                 "tot"},
        "operators/relational.py": {"n", "r"},  # nation/region only
        "operators/scalar_fns.py": {"r"},
        # N_QUERY-bounded, plus: hp = N_TABLES*N_BITS (16x5=80) hyperplane
        # rows; qb = N_QUERY*N_TABLES query-bucket rows — both fixed-size
        # index metadata, independent of corpus cardinality.
        "operators/similarity.py": {"hp", "probe", "probed", "q", "qb",
                                    "queries", "qv"},
        # + 1-row theta/cand/member-count/set-bit-count aggregates
        "operators/sketches.py": {"bounds", "cand", "mstats", "n_bits",
                                  "n_members", "sketch", "targets", "theta"},
        # 8 lags; type x dow; ws = 3 literal Hurst window sizes
        "operators/temporal.py": {"dim", "lags", "seas", "ws"},
        # per-lang / label-enum / scalars; vocab = fixed 1000-row rank cut;
        # consts/grand = 1-row aggregates (bigram-LM smoothing constants,
        # corpus token total)
        # + nd_tot = 1-row doc total; cand = lang-enum NB class constants
        # (5 rows)
        # + nd = 1-row doc-count aggregate (burstiness); corpus = 1-row
        # token grand total (DP dispersion)
        "operators/textops.py": {"bounds", "cand", "conf", "consts",
                                 "corpus", "grand", "lm", "nd", "nd_tot",
                                 "stats", "tot", "total", "vocab"},
        # means = segment-enum rollup (5 rows); k_/nb/n_/grand/row_consts =
        # 1-row aggregates (level count, block count, contingency total,
        # grand mean, Cochran row-sum consts); pri_margins = 5-enum
        # priority marginals; complete = nation-enum-bounded complete-block
        # list (<= 25 rows)
        # med = per-segment lower medians (segment-enum bounded, <= 5 rows)
        # qs = nation-bounded Quade block-range ranks (<= 25 rows);
        # b2 = 1-row sum-of-squared-treatment-sums aggregate
        "operators/stats_tests.py": {"b2", "complete", "grand", "k_",
                                     "means", "med", "n_", "nb",
                                     "pri_margins", "qs", "row_consts"},
        "operators/tpcds_shapes.py": {"n"},
        "operators/tpch_extra.py": {"n1", "n2", "r", "thresh"},
        "operators/tpch_full.py": {"mx", "n", "r", "total"},
        # bounds = 1-row min/max aggregate (PSI bin edges); tots/total/tot2 =
        # 1-row corpus totals (DSIR normalizers, perplexity-mixture shares)
        "operators/training.py": {"bounds", "epochs", "j", "offsets", "tot",
                                  "tots", "total", "tot2"},
        "operators/windows.py": {"n", "r"},
        # updates.select / deletes.select = CDC change-batch key sets —
        # smallness is the MERGE operator's contract (a change batch is
        # micro-batch-sized by construction, never catalog-scaling)
        "sources/sinks.py": {"updates.select", "deletes.select"},
        "streaming/jobs.py": {"dim", "mstats", "sketch"},
    }
    banned_names = {"p", "s", "c", "part", "supplier", "customer", "orders",
                    "lineitem", "documents", "embeddings", "events"}
    violations = []
    for path in sorted(glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)):
        rel = os.path.relpath(path, pkg).replace(os.sep, "/")
        allowed = allow.get(rel, set())
        # Whole-file scan: EVERY `F.broadcast(` occurrence must resolve to an
        # allowlisted plain name. An argument on the next line, a call
        # expression, or anything else non-identifier is a violation too —
        # a line-based identifier match would silently skip those, letting
        # new forced broadcasts evade the gate.
        src = open(path).read()
        for m in re.finditer(r"F\.broadcast\(\s*([A-Za-z_][A-Za-z0-9_.]*)?", src):
            name = m.group(1)
            line_no = src.count("\n", 0, m.start()) + 1
            if name is None or name not in allowed or name in banned_names:
                violations.append(
                    f"{rel}:{line_no}: F.broadcast({name or '<non-identifier arg>'})"
                )
    assert not violations, (
        "forced broadcast of a non-allowlisted (potentially catalog-scaling) "
        "side — justify boundedness and allowlist it, or drop the hint and "
        "let AQE decide:\n" + "\n".join(violations)
    )


def test_aqe_skew_join_splits_hot_partition(spark):
    """The 100 TB skew story, PLAN-ASSERTED (round-4/5 verdict item): a
    join whose left side concentrates ~98% of rows on ONE key must have
    its hot shuffle partition SPLIT by AQE's OptimizeSkewedJoin — the
    executed adaptive plan carries the skew=N marker — instead of running
    the hot key as a single straggler task. Thresholds are lowered so
    local-mode byte sizes qualify (defaults are 256 MB-scale); at cluster
    scale the same session confs (session.py:33 skewJoin.enabled) fire on
    real partition sizes. Broadcast is disabled to force the shuffle join
    AQE must repair — with broadcast allowed, a small dim side would dodge
    the skew entirely (which is the preferred fix when it fits)."""
    import re

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "16KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    # Capture with default=None so keys the session never explicitly set
    # are genuinely UNSET on restore — spark.conf.get(k) would resolve the
    # built-in default and the unset branch below would be dead, leaving
    # the shared fixture pinned to defaults it never chose.
    old = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(0, 300_000).select(
            F.when(F.col("id") % 50 != 0, F.lit(7))
            .otherwise(F.col("id") % 997)
            .alias("k"),
            F.concat(F.lit("x" * 96), F.col("id").cast("string")).alias("pad"),
        )
        right = spark.range(0, 997).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        # NOTE the join must be the terminal shuffle consumer: a groupBy on
        # the join key directly downstream SUPPRESSES the split (splitting
        # duplicates the non-skewed side across sub-partitions, which would
        # break the hashpartitioning guarantee the agg piggybacks on —
        # Spark only overrides that under adaptive.forceOptimizeSkewedJoin,
        # at the cost of an extra exchange before the agg).
        joined = left.join(right, "k")
        n_hot = joined.filter(F.col("k") == 7).count()
        # correctness first: the hot key's row count survives whatever AQE
        # did to the partitioning
        assert n_hot == sum(
            1 for i in range(300_000) if i % 50 != 0 or i % 997 == 7
        )
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert re.search(r"skew=true|skewed", plan), (
            "AQE did not mark any skewed split in the executed plan:\n"
            + plan[:4000]
        )
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_pmh_signatures_stay_in_codegen(spark, sf_dir):
    """_pmh_signatures must be the explode -> multi-column min aggregate
    shape (one exchange, no HOFs): N array_min(transform(...)) columns are
    N CodegenFallback interpreted passes (lesson 26). The plan may contain
    neither HOF node, and exactly one exchange (the doc_id partial->final
    aggregation boundary). The aggregate list is built from one SQL string
    (lesson 50); the formatted plan spells nodes in lower case."""
    import re

    from k_means_map_reduce_spark.operators import dedup as D

    # synthetic base: the shingle-set BUILD legitimately uses HOFs; this
    # pins the signature helper's own shape in isolation
    base = spark.createDataFrame(
        [(1, [3, 5, 8]), (2, [2, 9])], "doc_id long, sh array<long>"
    )
    sig = D._pmh_signatures(base, D._PMH_PERMS24)
    r = plan_report(sig)
    assert sig.columns == ["doc_id"] + [f"s{j}" for j in range(24)]
    text = r.text.lower()
    assert "arraymin" not in text and "array_min" not in text
    assert "lambdafunction" not in text and "transform(" not in text
    n_shuffles = len(re.findall(r"^\(\d+\) Exchange$", r.text, re.M))
    assert n_shuffles == 1, f"expected 1 exchange, plan has {n_shuffles}"
    assert "HashAggregate" in r.text


def test_kmeans_assignment_fused_below_gate(spark):
    """assign_clusters at the benchmark shape (k=5, dim=2) must be one flat
    codegen expression: no CodegenFallback lambda (lesson 26) may remain in
    the plan. At the embeddings shape (k=8, dim=64) the gate must keep the
    fold: above k·dim=16 the fused tree loses at small row counts
    (kmeans.FUSED_ASSIGN_MAX_KDIM)."""
    from k_means_map_reduce_spark.kmeans import assign_clusters

    small = spark.createDataFrame([([1.0, 2.0],)], "vec array<double>")
    r = plan_report(assign_clusters(small, [[float(c), 0.0] for c in range(5)]))
    text = r.text.lower()
    assert "lambdafunction" not in text
    assert "transform(" not in text and "array_sort" not in text
    assert "least(" in text

    wide = spark.createDataFrame([([0.0] * 64,)], "vec array<double>")
    r = plan_report(assign_clusters(wide, [[float(c)] * 64 for c in range(8)]))
    assert "array_sort" in r.text and "lambdafunction" in r.text.lower()


def test_geo_proximity_joins_on_raw_cell_columns(spark, sf_dir):
    """geo_grid_proximity_join must join on the raw (cx, cy) longs, never
    the interleaved Morton key: a wide expression as an equi-join key is
    re-evaluated in the hash, the derived null filter, and the projection
    (lesson 25 — measured 8x slower). The bit-interleave fingerprint
    (shiftleft) must not appear anywhere in the plan."""
    r = plan_report(QUERIES["geo_grid_proximity_join"](spark, sf_dir))
    assert "shiftleft" not in r.text, "Morton key leaked back into the join"
