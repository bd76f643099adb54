"""Recall/property tests for the approximate dedup & ANN tiers against their
brute-force baselines (SURVEY.md §7 M3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from k_means_map_reduce_spark.registry import QUERIES
from k_means_map_reduce_spark.sources import load_table
from k_means_map_reduce_spark.operators.dedup import shingles, simhash64


def test_minhash_recall_vs_bruteforce(spark, oracle_sf_dir):
    """MinHash-LSH must recover most truly-similar pairs (jaccard >= 0.5)."""
    truth = {
        (r["doc_a"], r["doc_b"])
        for r in QUERIES["dedup_ngram_jaccard_pairs"](spark, oracle_sf_dir)
        .where(F.col("jaccard") >= 0.5)
        .collect()
    }
    found = {
        (r["doc_a"], r["doc_b"])
        for r in QUERIES["dedup_minhash_lsh_pairs"](spark, oracle_sf_dir).collect()
    }
    if truth:
        recall = len(truth & found) / len(truth)
        assert recall >= 0.8, f"minhash recall {recall} over {len(truth)} pairs"


def test_ann_lsh_recall(spark, oracle_sf_dir):
    truth = {
        (r["q_id"], r["vec_id"])
        for r in QUERIES["sim_cosine_topk"](spark, oracle_sf_dir).collect()
    }
    found = {
        (r["q_id"], r["vec_id"])
        for r in QUERIES["sim_ann_lsh_topk"](spark, oracle_sf_dir).collect()
    }
    recall = len(truth & found) / len(truth)
    assert recall >= 0.5, f"LSH ANN recall too low: {recall}"


def test_ann_ivf_recall(spark, oracle_sf_dir):
    truth = {
        (r["q_id"], r["vec_id"])
        for r in QUERIES["sim_cosine_topk"](spark, oracle_sf_dir).collect()
    }
    found = {
        (r["q_id"], r["vec_id"])
        for r in QUERIES["sim_ann_ivf_topk"](spark, oracle_sf_dir).collect()
    }
    recall = len(truth & found) / len(truth)
    assert recall >= 0.5, f"IVF ANN recall too low: {recall}"


def test_simhash_identical_docs_collide(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "an entirely different document about spark engines at scale"),
        ],
        "doc_id LONG, text STRING",
    )
    fp = df.select("doc_id", simhash64(F.col("text")).alias("h")).collect()
    h = {r["doc_id"]: r["h"] for r in fp}
    assert h[1] == h[2]
    assert h[1] != h[3]


def test_shingles_expression(spark):
    df = spark.createDataFrame([("a b c d",)], "text STRING")
    out = df.select(shingles(F.col("text")).alias("s")).collect()[0]["s"]
    assert sorted(out) == ["a b c", "b c d"]


def test_exact_dedup_drops_duplicates(spark, oracle_sf_dir):
    d = load_table(spark, oracle_sf_dir, "documents")
    dup = d.limit(50).union(d.limit(50))  # force exact duplicates
    dup.createOrReplaceTempView("_dup_docs")
    from k_means_map_reduce_spark.operators.dedup import _NORM

    deduped = (
        dup.select("doc_id", F.md5(_NORM(F.col("text"))).alias("k"))
        .groupBy("k")
        .agg(F.min("doc_id").alias("keep"))
    )
    assert deduped.count() == 50


def test_simhash_multi_index_complete(spark, oracle_sf_dir):
    """Pigeonhole guarantee: 4x12-bit block join finds EVERY pair with
    Hamming distance <= 3 (verified against the full cross join over the
    same portable 48-bit fingerprints the registered query uses)."""
    from k_means_map_reduce_spark.operators.textops import portable_simhash_sigs

    fp = portable_simhash_sigs(spark, oracle_sf_dir).cache()
    a, b = fp.alias("a"), fp.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    brute = {
        (r["doc_a"], r["doc_b"])
        for r in a.crossJoin(b)
        .where((F.col("a.doc_id") < F.col("b.doc_id")) & (hamming <= 3))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .collect()
    }
    blocked = {
        (r["doc_a"], r["doc_b"])
        for r in QUERIES["dedup_simhash"](spark, oracle_sf_dir).collect()
    }
    assert blocked == brute


def test_winnowing_pairs_structure_and_grounding(spark, oracle_sf_dir):
    """Winnowing near-dup pairs: well-formed (d1<d2, overlap in (0,1]) and
    grounded — every reported pair really shares >= 8 winnowed fingerprints
    (recomputed driver-side from the fps builder)."""
    from k_means_map_reduce_spark.registry import QUERIES
    from k_means_map_reduce_spark.operators.textops import winnow_fps

    rows = QUERIES["dedup_winnowing_pairs"](spark, oracle_sf_dir).collect()
    assert len(rows) > 0
    assert all(r["d1"] < r["d2"] for r in rows)
    assert all(0.0 < r["overlap"] <= 1.0 for r in rows)
    fps = {
        r["doc_id"]: set(r["fps"])
        for r in winnow_fps(spark, oracle_sf_dir).collect()
    }
    for r in rows:
        truly_shared = len(fps[r["d1"]] & fps[r["d2"]])
        # the pair join counts only fingerprints with document-frequency
        # 2..10, so the reported count is a lower bound on the true overlap
        assert truly_shared >= r["shared"], (r, truly_shared)


def test_embedding_ann_recall_and_precision(spark, tmp_path):
    """Hyperplane-banding ANN pairs on a clustered corpus: recall >= 0.95 of
    true cos>=0.4 pairs, and exact precision (every reported pair really is
    >= 0.4 with the sim matching brute force — the verify step recomputes
    exact cosine)."""
    import numpy as np

    rng = np.random.RandomState(7)
    rows = []
    vid = 0
    X = []
    for c in range(25):  # 25 tight clusters of 6 near-dups
        center = rng.standard_normal(64)
        center /= np.linalg.norm(center)
        for _ in range(6):
            v = center + 0.03 * rng.standard_normal(64)
            v /= np.linalg.norm(v)
            X.append(v)
            rows.append((vid, [float(x) for x in v.astype(np.float32)], c))
            vid += 1
    for _ in range(150):  # background noise
        v = rng.standard_normal(64)
        v /= np.linalg.norm(v)
        X.append(v)
        rows.append((vid, [float(x) for x in v.astype(np.float32)], -1))
        vid += 1
    df = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")
    df.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    Xf = np.stack(X).astype(np.float32).astype(np.float64)  # float32 round-trip like parquet
    S = Xf @ Xf.T / (
        np.linalg.norm(Xf, axis=1)[:, None] * np.linalg.norm(Xf, axis=1)[None, :]
    )
    iu = np.triu_indices(len(Xf), 1)
    truth = {
        (int(a), int(b)): round(float(S[a, b]), 4)
        for a, b in zip(*iu)
        if round(float(S[a, b]), 4) >= 0.4
    }
    assert len(truth) > 100  # the corpus really contains near-dup pairs

    found = {
        (r["vec_a"], r["vec_b"]): r["sim"]
        for r in QUERIES["dedup_embedding_ann_pairs"](spark, str(tmp_path)).collect()
    }
    recall = len(set(found) & set(truth)) / len(truth)
    assert recall >= 0.95, f"ANN recall {recall} over {len(truth)} true pairs"
    for pair, sim in found.items():
        assert pair in truth, f"false positive {pair} sim={sim}"
        assert abs(truth[pair] - sim) < 1e-9


def test_embedding_ann_recall_vs_bruteforce_corpus(spark, oracle_sf_dir):
    """On the driver corpus itself, the banded ANN pairs must recover >=0.95
    of the gated brute-force baseline's pairs with identical sims (subset +
    value match: both round exact cosine to 4 dp)."""
    truth = {
        (r["vec_a"], r["vec_b"]): r["sim"]
        for r in QUERIES["dedup_embedding_cosine_pairs"](spark, oracle_sf_dir).collect()
    }
    found = {
        (r["vec_a"], r["vec_b"]): r["sim"]
        for r in QUERIES["dedup_embedding_ann_pairs"](spark, oracle_sf_dir).collect()
    }
    assert truth, "baseline found no pairs at this sf"
    recall = len(set(found) & set(truth)) / len(truth)
    assert recall >= 0.95, f"corpus ANN recall {recall} over {len(truth)}"
    for pair, sim in found.items():
        assert pair in truth and abs(truth[pair] - sim) < 1e-9, (pair, sim)


def test_quadratic_baselines_are_gated(spark, oracle_sf_dir, monkeypatch):
    """The brute-force baselines refuse inputs beyond
    SPARK_GRAFT_QUADRATIC_MAX_ROWS, naming the sub-quadratic alternative."""
    monkeypatch.setenv("SPARK_GRAFT_QUADRATIC_MAX_ROWS", "10")
    with pytest.raises(ValueError, match="dedup_minhash_banding_pairs"):
        QUERIES["dedup_ngram_jaccard_pairs"](spark, oracle_sf_dir)
    with pytest.raises(ValueError, match="dedup_embedding_ann_pairs"):
        QUERIES["dedup_embedding_cosine_pairs"](spark, oracle_sf_dir)


def test_connected_components_lsh_matches_union_find(spark, oracle_sf_dir):
    """The LSH-fed component labeling must equal a driver-side union-find
    over the same banding pairs: same nodes, same min-label components."""
    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in QUERIES["dedup_minhash_banding_pairs"](spark, oracle_sf_dir).collect()
    ]
    assert pairs, "banding produced no pairs at this sf"
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {}
    for node in parent:
        expected[node] = find(node)
    got = {
        r["doc_id"]: r["component"]
        for r in QUERIES["dedup_connected_components_lsh"](spark, oracle_sf_dir).collect()
    }
    assert got == expected


def test_minhash_banding_recall_and_precision(spark, oracle_sf_dir):
    """The expression-native banding tier must (a) recover >= 0.8 of truly
    similar pairs (jaccard >= 0.5) like the MLlib tier, and (b) report ONLY
    pairs whose exact Jaccard >= 0.4 with values matching the brute-force
    baseline exactly (its verify step computes the same intersection)."""
    truth = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in QUERIES["dedup_ngram_jaccard_pairs"](spark, oracle_sf_dir)
        .collect()
    }
    strong = {p for p, j in truth.items() if j >= 0.5}
    found = {
        (r["doc_a"], r["doc_b"]): r["jaccard_sim"]
        for r in QUERIES["dedup_minhash_banding_pairs"](spark, oracle_sf_dir)
        .collect()
    }
    if strong:
        recall = len(strong & set(found)) / len(strong)
        assert recall >= 0.8, f"banding recall {recall} over {len(strong)}"
    for pair, j in found.items():
        assert j >= 0.4
        # baseline blocks by (lang, length) so it can miss cross-block pairs;
        # where both report a pair the values must agree exactly
        if pair in truth:
            assert abs(truth[pair] - j) < 1e-9, (pair, truth[pair], j)


def test_pq_ann_recall_and_exactness(spark, oracle_sf_dir):
    """PQ-ADC tier: recall@10 vs brute force must clear 0.8 (measured 0.98
    at sf0.01 / 0.88 at sf0.1 with 32-entry codebooks + 16x shortlist), and
    every returned sim must be the EXACT cosine (ADC only prunes; the
    rescore stage restores exact scores)."""
    exact = {
        (r.q_id, r.vec_id): r.sim
        for r in QUERIES["sim_cosine_topk"](spark, oracle_sf_dir).collect()
    }
    pq = {
        (r.q_id, r.vec_id): r.sim
        for r in QUERIES["sim_ann_pq_topk"](spark, oracle_sf_dir).collect()
    }
    assert len(pq) == len(exact)
    recall = len(set(exact) & set(pq)) / len(exact)
    assert recall >= 0.8, f"PQ recall {recall}"
    for pair, sim in pq.items():
        if pair in exact:
            assert abs(exact[pair] - sim) < 1e-9, (pair, sim, exact[pair])


def test_ivfpq_ann_recall_and_exactness(spark, oracle_sf_dir):
    """IVF+PQ composed tier: cell pruning (nprobe=8 of 16) stacked on
    residual-PQ ADC must still clear recall@10 >= 0.7 vs brute force
    (measured 0.88 at sf0.01), and returned sims must be exact cosines
    (rescore stage). Residual encoding is what keeps recall near the
    flat-PQ tier despite scanning only half the corpus — this corpus'
    uniform-sphere geometry is the pruning worst case."""
    exact = {
        (r.q_id, r.vec_id): r.sim
        for r in QUERIES["sim_cosine_topk"](spark, oracle_sf_dir).collect()
    }
    ivfpq = {
        (r.q_id, r.vec_id): r.sim
        for r in QUERIES["sim_ann_ivfpq_topk"](spark, oracle_sf_dir).collect()
    }
    assert len(ivfpq) == len(exact)
    recall = len(set(exact) & set(ivfpq)) / len(exact)
    assert recall >= 0.7, f"IVFPQ recall {recall}"
    for pair, sim in ivfpq.items():
        if pair in exact:
            assert abs(exact[pair] - sim) < 1e-9, (pair, sim, exact[pair])


def test_prefix_filter_length_arithmetic():
    """The integer prefix length sz - floor((3*sz+4)/5) + 1 must equal the
    textbook sz - ceil(0.6*sz) + 1 for every set size, and always keep at
    least one indexed token — the theorem's precondition. Pure arithmetic
    (no Spark): this is the line that silently breaks recall if the
    ceil-via-floor identity is off by one."""
    import math

    for sz in range(1, 50_000):
        plen = sz - (3 * sz + 4) // 5 + 1
        assert plen == sz - math.ceil(3 * sz / 5) + 1, sz
        assert 1 <= plen <= sz, sz


# Graphs for the one-task vs distributed-loop components check: a chain of 6
# hops whose minimum sits mid-chain, a star, duplicate and reversed pairs with
# a self-pair, and several disconnected components. One edge list holds them
# all (ids offset by 1000 per graph), so each path runs once per id type.
_CC_GRAPHS = {
    "chain": [(50, 40), (40, 60), (60, 10), (10, 70), (70, 30), (30, 20)],
    "star": [(100, 5), (100, 200), (300, 100), (100, 400), (500, 100)],
    "dup_reversed": [(1, 2), (2, 1), (1, 2), (3, 2), (2, 3), (7, 7)],
    "disconnected": [
        (9, 8), (8, 7), (20, 21), (22, 21), (40, 41), (41, 42), (42, 43),
        (43, 44), (44, 39), (60, 61),
    ],
}


@pytest.mark.parametrize("id_type", ["int", "bigint"])
def test_one_task_components_match_min_label_loop(spark, monkeypatch, id_type):
    """_min_label_components' one-task union-find path must label every
    graph exactly as the distributed min-label loop does (forced by setting
    the gate to 0), with the smallest id of each component, and keep the
    pair columns' id type."""
    from k_means_map_reduce_spark.operators import dedup as D

    pairs = [
        (a + 1000 * g, b + 1000 * g)
        for g, graph in enumerate(_CC_GRAPHS.values())
        for a, b in graph
    ]
    df = spark.createDataFrame(pairs, f"doc_a {id_type}, doc_b {id_type}")
    one_task = D._min_label_components(df)
    with monkeypatch.context() as m:
        m.setattr(D, "ONE_TASK_COMPONENTS_MAX_EDGES", 0)
        loop = D._min_label_components(df)
    assert one_task.schema == loop.schema
    assert one_task.schema["component"].dataType.simpleString() == id_type
    got = dict(map(tuple, one_task.collect()))
    assert got == dict(map(tuple, loop.collect()))
    assert sorted(got) == sorted({x for p in pairs for x in p})
    mins = {
        "chain": {10}, "star": {1005}, "dup_reversed": {2001, 2007},
        "disconnected": {3007, 3020, 3039, 3060},
    }
    for g, (name, graph) in enumerate(_CC_GRAPHS.items()):
        labels = {got[x + 1000 * g] for p in graph for x in p}
        assert labels == mins[name], name
    assert got[3044] == 3039 and got[3061] == 3060 and got[2003] == 2001


def test_minhash_clusters_take_one_task_path(spark, sf_dir):
    """dedup_minhash_clusters labels its small pair graph in one pass: given
    the (memoized) banding pairs, building the components launches at most
    3 jobs (2 today: the edge count and the one-task collect), where the
    distributed loop launched 14."""
    from k_means_map_reduce_spark.operators import dedup as D

    QUERIES["dedup_minhash_banding_pairs"](spark, sf_dir).collect()
    D._BANDING_COMP_CACHE.clear()
    sc = spark.sparkContext
    group = "test_minhash_clusters_take_one_task_path"
    sc.setJobGroup(group, group)
    try:
        comp = QUERIES["dedup_minhash_clusters"](spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert comp.count() > 0
    assert n_jobs <= 3, f"{n_jobs} jobs: the distributed loop ran"


@pytest.mark.parametrize(
    "name",
    [
        "text_simhash_signatures",
        "dedup_minhash_portable_pairs",
        "dedup_minhash_banding_pairs",
        "dedup_minhash_clusters",
        "dedup_connected_components",
        "dedup_minhash_estimate_error",
        "dedup_banding_br_ablation",
    ],
)
def test_generated_expression_families_match_oracle(spark, sf_dir, name):
    """Default-tier DuckDB parity at sf0.001 for the queries built from
    SQL-string expression families (simhash votes, minhash mins, band
    structs, the shingle lambda) and from the one-task components path.
    The estimate-error and b×r ablation queries read the memoized shingle
    sets through their own signature and verify paths."""
    from k_means_map_reduce_spark.oracle import compare_query

    r = compare_query(spark, name, sf_dir)
    assert r.ok, f"{name}@sf0.001: {r.detail} (rows {r.spark_rows}/{r.oracle_rows})"
