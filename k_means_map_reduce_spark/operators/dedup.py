"""Deduplication suite over `documents` (SURVEY.md §2b LLM-pipeline, M3).

Tiers, cheapest to fuzziest:
1. exact        — hash-groupBy on normalized text (one shuffle of hashes)
2. ngram_jaccard— shingle-set Jaccard with length blocking (quadratic within
                  block; the correctness baseline for the LSH tiers — GATED
                  beyond SPARK_GRAFT_QUADRATIC_MAX_ROWS)
3. minhash_banding — expression-native b×r MinHash banding; THE 100 TB path
                  (band-key equi-join, exact-Jaccard verify)
4. minhash_lsh  — MLlib MinHashLSH cross-check of tier 3
5. simhash      — 64-bit simhash fingerprints via expression-only bit math;
                  near-dups = small Hamming distance
6. embedding_cosine — semantic near-dup pairs over the embeddings table;
                  brute-force oracled baseline (GATED at scale);
                  embedding_ann (hyperplane banding + exact verify) is the
                  sub-quadratic default
7. connected_components(_lsh) — min-label propagation over pair graphs;
                  the _lsh variant is end-to-end sub-quadratic

The reference engine has no dedup; this is driver-mandated capability. Exact
and jaccard tiers are DuckDB-oracled; LSH tiers are rows-only + recall tests
(tests/test_dedup_similarity.py) against the brute baselines.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .._memo import SessionMemo
from ..registry import query
from ..sources import load_table
from .textops import WINNOW_CTE_SQL, winnow_fps

_NORM = lambda c: F.lower(F.regexp_replace(F.trim(c), r"\s+", " "))  # noqa: E731


def _gate_quadratic(df: DataFrame, query_name: str, alternative: str) -> None:
    """Refuse block-quadratic baselines beyond a row budget.

    The two oracled brute-force tiers (ngram-jaccard, embedding-cosine) are
    correctness baselines: quadratic within their blocks by construction.
    Nothing used to stop a user pointing them at a 100 TB corpus, where the
    pair space — not the scan — is the bottleneck. A bounded existence check
    against SPARK_GRAFT_QUADRATIC_MAX_ROWS (default 200k rows ≈ 2·10^10
    pairs) fails fast with the sub-quadratic alternative named, instead of
    launching a shuffle that can never finish. The check is
    `limit(n+1).count()` — it scans at most limit+1 rows and short-circuits
    (CollectLimit), costing O(limit) rather than a full O(n) pass billed to
    every invocation of the baseline queries.
    """
    limit = int(os.environ.get("SPARK_GRAFT_QUADRATIC_MAX_ROWS", "200000"))
    if df.limit(limit + 1).count() > limit:
        raise ValueError(
            f"{query_name} is a brute-force baseline (quadratic pair space) "
            f"and its input has > SPARK_GRAFT_QUADRATIC_MAX_ROWS={limit} "
            f"rows. Use {alternative} at this scale, or raise the limit "
            "explicitly if you really want the exhaustive pass."
        )


@query(
    "dedup_exact",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, md5(LOWER(regexp_replace(TRIM(text), '\\s+', ' ', 'g'))) AS k
      FROM documents
    )
    SELECT CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id, COUNT(*) AS n_copies
    FROM keyed
    GROUP BY k
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content hash, keep the lowest doc_id.

    At scale: shuffles 16-byte hashes + ids only (never the text); map-side
    partial aggregation collapses in-partition duplicates first.
    """
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.md5(_NORM(F.col("text"))).alias("k"))
        .groupBy("k")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("keep_doc_id", "n_copies")
    )


def shingles(text_col, n: int = 3):
    """Distinct word n-gram shingles of normalized text (expression-only)."""
    toks = F.filter(F.split(_NORM(text_col), " "), lambda t: t != "")
    grams = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - (n - 1), F.lit(0))),
        F.zip_with(
            F.slice(toks, 2, F.greatest(F.size(toks) - (n - 1), F.lit(0))),
            F.slice(toks, 3, F.greatest(F.size(toks) - (n - 1), F.lit(0))),
            lambda b, c: F.concat_ws(" ", b, c),
        ),
        lambda a, bc: F.concat_ws(" ", a, bc),
    )
    return F.array_distinct(grams)


@query(
    "dedup_ngram_jaccard_pairs",
    oracle="""
    WITH sh AS (
      SELECT
        doc_id,
        lang,
        CAST(floor(len(toks) / 32) AS BIGINT) AS len_bucket,
        list_distinct(list_transform(
          list_transform(
            range(1, greatest(len(toks) - 1, 1)),
            i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]
          ),
          g -> hash(g)
        )) AS hs
      FROM (
        SELECT doc_id, lang,
               list_filter(string_split(LOWER(regexp_replace(TRIM(text), '\\s+', ' ', 'g')), ' '), t -> t != '') AS toks
        FROM documents
      )
      WHERE len(toks) >= 3
    )
    SELECT
      a.doc_id AS doc_a,
      b.doc_id AS doc_b,
      ROUND(
        CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
        / (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))),
        6
      ) AS jaccard
    FROM sh a
    JOIN sh b
      ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
        / (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))) >= 0.2
    """,
)
def dedup_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram Jaccard near-dup pairs (>= 0.2), blocked by (lang, length/32).

    The correctness baseline for the LSH tiers: quadratic *within a block*.
    Two cost levers keep it tractable (applied identically in the oracle, so
    parity holds by construction):
    - length-bucket blocking: near-dups have near-equal token counts, so
      same-bucket-only comparison is the standard sorted-neighborhood trick;
    - hashed shingles: each engine hashes its own shingles (xxhash64 here,
      hash() in DuckDB); intersection CARDINALITY is hash-invariant, and
      64-bit collisions are ~1e-16 per pair, so Jaccard values agree while
      set intersection runs on longs instead of strings.
    The true scale path is dedup_minhash_banding_pairs (banding, linear-ish);
    this baseline refuses inputs beyond SPARK_GRAFT_QUADRATIC_MAX_ROWS.
    """
    d = load_table(spark, sf_dir, "documents")
    _gate_quadratic(d, "dedup_ngram_jaccard_pairs", "dedup_minhash_banding_pairs")
    toks = F.filter(F.split(_NORM(F.col("text")), " "), lambda t: t != "")
    sh = (
        d.select(
            "doc_id",
            "lang",
            F.floor(F.size(toks) / 32).alias("len_bucket"),
            F.array_distinct(
                F.transform(shingles(F.col("text")), lambda g: F.xxhash64(g))
            ).alias("hs"),
        )
        .where(F.size(toks) >= 3)
    )
    a = sh.alias("a")
    b = sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a.hs"), F.col("b.hs")))
    union_sz = F.size(F.col("a.hs")) + F.size(F.col("b.hs")) - inter
    jac = inter.cast("double") / union_sz
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.len_bucket") == F.col("b.len_bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(jac >= 0.2)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(jac, 6).alias("jaccard"),
        )
    )


@query("dedup_minhash_lsh_pairs")
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs with Jaccard similarity ≥ 0.4 (rows-only;
    recall vs the brute-force baseline asserted in tests).

    Pipeline: shingle → HashingTF sparse vector (2^18 dims) → MinHashLSH
    (4 hash tables) → approxSimilarityJoin at distance 0.6. At 100 TB the
    similarity join is a band-bucket equi-join (shuffle on hash buckets),
    never a cross join. 4 tables / 0.6 keeps identical recall on this corpus
    at ~2.4x the throughput of 8 tables / 0.8 (measured at sf0.1).
    """
    from pyspark.ml.feature import HashingTF, MinHashLSH

    d = load_table(spark, sf_dir, "documents")
    sh = d.select("doc_id", shingles(F.col("text")).alias("sh")).where(
        F.size("sh") > 0
    )
    tf = HashingTF(inputCol="sh", outputCol="features", numFeatures=1 << 18, binary=True)
    feats = tf.transform(sh).cache()
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=4, seed=42)
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, 0.6, distCol="jaccard_dist")
    out = (
        pairs.where(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.round(F.lit(1.0) - F.col("jaccard_dist"), 6).alias("jaccard_sim"),
        )
    )
    return out


def simhash64(text_col):
    """64-bit SimHash of word tokens, expression-only (no UDF).

    For each bit position b: sum over tokens of ±1 according to bit b of
    xxhash64(token); fingerprint bit b = 1 if the sum is positive. The
    per-row cost is 64 × |tokens| JVM ops inside codegen — no shuffle, no
    Python.
    """
    toks = F.filter(F.split(_NORM(text_col), " "), lambda t: t != "")
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    bits = []
    for b in range(64):
        vote = F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(h.bitwiseAND(F.lit(1 << b if b < 63 else -(1 << 63))) != 0, 1).otherwise(-1),
        )
        bits.append(F.when(vote > 0, F.lit(1).cast("long") * (1 << b if b < 63 else -(1 << 63))).otherwise(F.lit(0).cast("long")))
    out = bits[0]
    for bexpr in bits[1:]:
        out = out.bitwiseOR(bexpr)
    return out


def _simhash_pairs_oracle_sql() -> str:
    from .textops import simhash_sig_sql_cte

    ham = "bit_count(xor(a.simhash, b.simhash))"
    return f"""{simhash_sig_sql_cte()}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      CAST({ham} AS BIGINT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE {ham} <= 3
    """


@query("dedup_simhash", oracle=_simhash_pairs_oracle_sql())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at Hamming distance <= 3 via multi-index
    blocking: the 48-bit fingerprint splits into 4 x 12-bit blocks; a pair
    within Hamming 3 differs in at most 3 blocks, so (pigeonhole) it MUST
    agree on at least one block - candidate generation is 4 equi-joins on
    block values with guaranteed 100% recall, never a cross join.

    ORACLED since round 7: fingerprints are the portable md5-vote family
    (textops.portable_simhash_sigs — the same signature table the oracled
    text_simhash_signatures emits), and because the block index is
    recall-complete the output has clean semantics — ALL pairs at Hamming
    <= 3 — which DuckDB recomputes by brute force over its replayed
    signatures. The blocked join is the scale path; the oracle's O(n²)
    join is affordable only at oracle SF. (The 64-bit xxhash64 variant,
    simhash64(), stays available and unit-tested; it saves the md5 cost
    but no second engine can replay it.)"""
    from .textops import portable_simhash_sigs

    # Eager localCheckpoint, NOT persist(): the signature frame is shared
    # with text_simhash_signatures, and a persist() here registers the
    # shared subtree in the session CacheManager — every later query whose
    # plan contains it (the textops twin) would get an InMemoryTableScan
    # substituted, changing ITS plan shape depending on which query ran
    # first (caught by test_simhash_signatures_single_exchange flaking
    # under full-suite ordering). Checkpoint blocks give the same 8-way
    # reuse without touching other queries' plans.
    fp = portable_simhash_sigs(spark, sf_dir).localCheckpoint(eager=True)
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).cast(
        "long"
    )
    parts = []
    for blk in range(4):
        block = lambda c, _b=blk: F.shiftrightunsigned(c, 12 * _b).bitwiseAND(F.lit(0xFFF))
        a, b = fp.alias("a"), fp.alias("b")
        parts.append(
            a.join(
                b,
                (block(F.col("a.simhash")) == block(F.col("b.simhash")))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .where(hamming <= 3)
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                hamming.alias("hamming"),
            )
        )
    out = parts[0]
    for p_ in parts[1:]:
        out = out.union(p_)
    return out.distinct()


@query(
    "dedup_embedding_cosine_pairs",
    oracle="""
    SELECT
      a.vec_id AS vec_a,
      b.vec_id AS vec_b,
      ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])), 4) AS sim
    FROM embeddings a
    JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])), 4) >= 0.4
    """,
)
def dedup_embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (sim >= 0.4 — ~p99.9 of this
    synthetic corpus; real corpora use ~0.95 on real encoders).

    This is the oracled brute-force baseline: self-join with vec_id ordering,
    codegen'd zip_with/aggregate cosine, threshold on the 4-dp-rounded value
    so both engines make the identical keep/drop decision at the boundary.
    Refuses inputs beyond SPARK_GRAFT_QUADRATIC_MAX_ROWS.

    Why the exhaustive pass exists at all: at cos 0.4 the pair angle is 66°,
    and on this 64-d unit-sphere corpus no LSH geometry prunes — measured
    here, hyperplane banding passes ~79% of random pairs for 0.98 recall,
    and IVF blocking (k=16, probe=4) needs 72%. dedup_embedding_ann_pairs
    is the sub-quadratic-by-construction default; this baseline is the
    exact ground truth its recall is tested against.
    """
    from ..functions.vectors import cosine_similarity

    e = load_table(spark, sf_dir, "embeddings")
    _gate_quadratic(e, "dedup_embedding_cosine_pairs", "dedup_embedding_ann_pairs")
    a = e.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"))
    b = e.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"))
    sim = F.round(cosine_similarity(F.col("emb_a"), F.col("emb_b")), 4)
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", sim.alias("sim"))
        .where(F.col("sim") >= 0.4)
    )


@query("dedup_embedding_ann_pairs")
def dedup_embedding_ann_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs (cos ≥ SPARK_GRAFT_ANN_TAU, default 0.4)
    via random-hyperplane LSH banding (Charikar '02 SimHash for cosine) —
    the sub-quadratic-by-construction default for semantic dedup:

    1. signature: 96 sign bits per vector — signs of dots with 96 fixed
       seeded Gaussian hyperplanes, one Arrow-batched BLAS matmul
       (pandas_udf; 96·dim flops/row, scan-dominated at scale);
    2. banding: 24 bands × 4 bits; band key = band·16 + packed nibble;
       explode → posting list, self-equi-join on the key — vectors meet
       only through shared band buckets, never a cross join;
    3. verify: exact cosine (codegen zip_with/aggregate) ≥ τ on the
       original vectors, rounded to 4 dp like the brute-force baseline, so
       precision is exact by construction.

    Recall = 1-(1-p⁴)²⁴ with p = 1-acos(s)/π: 0.984 at s=0.4, ~1.0 at
    s≥0.6. Honest selectivity numbers: at τ=0.4 on UNIFORM unit vectors
    ~79% of random pairs share some band — banding contrast is weak at 66°
    angles (measured on this corpus; IVF k=16/probe=4 needs 72% for the
    same recall), so the win there is the construction (equi-join, no n²
    materialization), not pruning. Real dedup corpora cluster and use
    τ≥0.9, where 12 bands × 8 bits pass only 4.6% of random pairs — set
    SPARK_GRAFT_ANN_TAU accordingly in production. Rows-only
    (probabilistic recall); recall ≥ 0.95 on a clustered corpus + exact
    precision asserted in tests/test_dedup_similarity.py.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ..functions.vectors import cosine_similarity

    TAU = float(os.environ.get("SPARK_GRAFT_ANN_TAU", "0.4"))
    R_BITS, B_BANDS = 4, 24
    e = load_table(spark, sf_dir, "embeddings")
    first = e.select(F.size("embedding").alias("d")).head()
    if first is None:
        return spark.createDataFrame([], "vec_a BIGINT, vec_b BIGINT, sim DOUBLE")
    H = np.random.RandomState(42).standard_normal((R_BITS * B_BANDS, int(first["d"])))
    weights = 1 << np.arange(R_BITS)

    def _band_keys(emb):
        X = np.stack(emb.to_numpy()).astype(np.float64)
        bits = (X @ H.T) >= 0.0
        packed = bits.reshape(len(X), B_BANDS, R_BITS) @ weights
        return pd.Series(
            [
                [b * (1 << R_BITS) + int(v) for b, v in enumerate(row)]
                for row in packed
            ]
        )

    # functional form: `from __future__ import annotations` stringifies type
    # hints, which the decorator's hint-inference can't resolve
    band_keys = pandas_udf(_band_keys, "array<bigint>")

    sig = e.select("vec_id", F.explode(band_keys("embedding")).alias("bk"))
    a = sig.select(F.col("vec_id").alias("vec_a"), "bk")
    b = sig.select(F.col("vec_id").alias("vec_b"), "bk")
    cand = (
        a.join(b, "bk")
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    e1 = e.select(F.col("vec_id").alias("_a"), F.col("embedding").alias("emb_a"))
    e2 = e.select(F.col("vec_id").alias("_b"), F.col("embedding").alias("emb_b"))
    sim = F.round(cosine_similarity(F.col("emb_a"), F.col("emb_b")), 4)
    return (
        cand.join(e1, F.col("vec_a") == F.col("_a"))
        .join(e2, F.col("vec_b") == F.col("_b"))
        .select("vec_a", "vec_b", sim.alias("sim"))
        .where(F.col("sim") >= TAU)
    )


@query(
    "dedup_connected_components",
    oracle="""
    WITH RECURSIVE sh AS (
      SELECT doc_id, lang,
        CAST(floor(len(toks) / 32) AS BIGINT) AS len_bucket,
        list_distinct(list_transform(
          list_transform(range(1, greatest(len(toks) - 1, 1)),
            i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]),
          g -> hash(g))) AS hs
      FROM (
        SELECT doc_id, lang,
               list_filter(string_split(LOWER(regexp_replace(TRIM(text), '\\s+', ' ', 'g')), ' '), t -> t != '') AS toks
        FROM documents)
      WHERE len(toks) >= 3
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sh a JOIN sh b
        ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
          / (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))) >= 0.2
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    w(node, label) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.dst, w.label FROM w JOIN edges e ON e.src = w.node
    )
    SELECT node AS doc_id, MIN(label) AS component FROM w GROUP BY node
    """,
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: connected components over the Jaccard pair graph,
    labeled by the smallest doc_id in each component (the canonical
    "keep one per cluster" step after pair generation).

    Spark side (_min_label_components): a pair graph of at most
    ONE_TASK_COMPONENTS_MAX_EDGES edges is labeled in one pass by a
    union-find on the driver; a larger one by iterative min-label
    propagation — per round, every node takes the min of its own label and
    its neighbors' labels (one shuffle join + one aggregation per round),
    stopping when no label changes. Rounds = graph diameter; for dedup
    graphs (small, dense clusters) that's 2-3. At trillion-edge scale the
    same loop with the large-star/small-star rewrites (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) converges in
    O(log^2 n) rounds; the per-round dataflow below is unchanged.

    Oracle: DuckDB recursive CTE propagating labels along edges to a
    fixpoint, then MIN per node — same fixpoint, declarative recursion.
    """
    pairs = dedup_ngram_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    return _min_label_components(pairs)


# Largest symmetric edge list (2 rows per pair) that _min_label_components
# labels in ONE pass instead of the per-round distributed loop. Measured on
# a 4-core box over dedup-shaped graphs (clusters of 2-6 docs; NEXT.md
# lesson 50), one pass vs loop: 200k edges 0.7-0.9 vs 2.7-2.9 s, 600k
# edges 2.2-2.5 vs 5.5-5.9 s, 2M edges 7.2-8.4 vs 13.9-15.6 s. The
# union-find is single-threaded and holds every node in one dict, so the
# gate sits where it still wins 3x, leaving room for wider boxes' faster
# loop; 200k edges are ~3 MB on the driver.
ONE_TASK_COMPONENTS_MAX_EDGES = 200_000


def _min_label_components(pairs: DataFrame) -> DataFrame:
    """Connected components of an undirected pair list, each node labeled
    with the smallest id in its component: (doc_id, component), with the
    pair columns' id type. Pair ids are non-null (every caller's pairs come
    out of doc_id equi-joins).

    Algorithm selection (NEXT.md lessons 43 and 50):
    - one task: at most ONE_TASK_COMPONENTS_MAX_EDGES symmetric edges. One
      job counts (and caches) the edge list, one single-task job brings it
      to the driver as Arrow, and a union-find whose root is always the
      minimum id labels it there (_union_find_min_label): 2 jobs in all,
      against 14 for the loop on perfbench's 25-pair banding graph. The
      union-find runs on the driver, not in a mapInArrow task, because a
      Python worker round trip costs ~0.2 s per job, 5x a JVM-only job.
      Dedup pair graphs at the tested scales land here.
    - min-label loop (below): every round, every node takes the min of
      its own label and its neighbors' (one shuffle join + one
      aggregation), stopping when no label changes. Rounds = graph
      diameter, so it fits ONLY small-diameter graphs: dedup pair graphs
      are dense blobs of diameter 2-3.
    - star contraction: high-diameter meshes (the DBSCAN core graph:
      diameter ~70+ at sf0.1, 24 s warm through the loop) call
      _star_contraction_components instead — O(log² n) rounds irrespective
      of diameter (a label-of-label shortcut was tried in the loop first
      and does NOT help: it collapses stale label chains but the frontier
      still advances one hop per round).
    Shared by the oracled (jaccard-pair) and LSH (banding-pair) variants.
    """
    spark = pairs.sparkSession
    edges = pairs.toDF("doc_a", "doc_b")
    edges = edges.union(
        edges.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).toDF("src", "dst").cache()
    # Count the plan's RDD on the JVM: one job that also fills the cache.
    # edges.count() adds an aggregation exchange, and under AQE the cached
    # scan becomes its own query stage: 3 jobs for the same number.
    n_edges = edges._jdf.queryExecution().toRdd().count()
    if n_edges <= ONE_TASK_COMPONENTS_MAX_EDGES:
        import pyarrow as pa

        try:
            tbl = edges.coalesce(1).toArrow()
        finally:
            edges.unpersist()
        nodes, comps = _union_find_min_label(
            tbl.column("src").to_pylist(), tbl.column("dst").to_pylist()
        )
        id_type = tbl.schema.field("src").type  # int ids stay int32
        return spark.createDataFrame(
            pa.table(
                {
                    "doc_id": pa.array(nodes, id_type),
                    "component": pa.array(comps, id_type),
                }
            )
        )
    # localCheckpoint (not cache) so the initial frame never leaks storage
    # across long-lived sessions — per-round frames below follow suit.
    labels = (
        edges.select(F.col("src").alias("node")).distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    ltype = labels.schema["label"].dataType
    while True:
        neighbor_min = (
            edges.join(labels, edges.src == labels.node)
            .select(F.col("dst").alias("node"), "label")
        )
        # Carry each node's OLD label through the same aggregation (every
        # node appears exactly once in `labels`, so max(old) recovers it;
        # the neighbor branch contributes NULLs that max ignores). Change
        # detection then filters the aggregate itself — ONE action and ONE
        # join per round, where the join-new-against-old formulation cost
        # an extra join plus a second job per round (pure stage-floor at
        # dedup sizes, an extra labels-sized shuffle at cluster scale).
        #
        # Per-round EAGER localCheckpoint, not cache: each round references
        # `labels` TWICE (union branch + join build), so with cache the
        # logical plan tree doubles per round — ~2^rounds copies of the
        # base lineage. Dedup graphs converge in 2-3 rounds and never
        # noticed; the DBSCAN core graph needs 9+ (long spatial chains),
        # where merely RENDERING the plan string OOMed a default 1g
        # driver. The checkpoint materializes the same labels-sized frame
        # the cache did, but resets lineage so every round's plan is
        # constant-size; blocks are reclaimed by the ContextCleaner when
        # the previous round's frame drops out of scope.
        branches = labels.select(
            "node", "label", F.col("label").alias("old")
        ).unionByName(
            neighbor_min.select(
                "node", "label", F.lit(None).cast(ltype).alias("old")
            )
        )
        new_full = (
            branches.groupBy("node")
            .agg(F.min("label").alias("label"), F.max("old").alias("old"))
            .localCheckpoint(eager=True)
        )
        changed = new_full.where(F.col("label") != F.col("old")).count()
        labels = new_full.select("node", "label")
        if changed == 0:
            break
    result = labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("component")
    ).localCheckpoint(eager=True)
    edges.unpersist()
    return result


def _union_find_min_label(src: list, dst: list) -> tuple[list, list]:
    """(nodes, components) of the graph with edges zip(src, dst): a
    union-find whose smaller root always wins, so each root is its
    component's minimum id. Path halving keeps finds near-constant."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in zip(src, dst):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = list(parent)
    return nodes, [find(n) for n in nodes]


@query("dedup_connected_components_lsh")
def dedup_connected_components_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters at scale: the same min-label propagation as
    dedup_connected_components, but fed by the banded MinHash pair tier
    (dedup_minhash_banding_pairs, Jaccard ≥ 0.4) instead of the
    block-quadratic jaccard baseline — so BOTH stages are sub-quadratic:
    candidate generation is a band-key equi-join and clustering is one
    pass for small graphs, one shuffle per diameter round above that.
    Rows-only (banding recall is probabilistic); pair-set recall is tested against the brute baseline
    and the component labeling is cross-checked against a driver-side
    union-find in tests/test_dedup.py."""
    pairs = dedup_minhash_banding_pairs(spark, sf_dir).select(
        F.col("doc_a"), F.col("doc_b")
    )
    return _min_label_components(pairs)


@query(
    "dedup_winnowing_pairs",
    oracle="""
    WITH """
    + WINNOW_CTE_SQL
    + """,
    ex AS (SELECT doc_id, unnest(fps) AS fp FROM winnow),
    postings AS (
      SELECT fp FROM ex GROUP BY fp
      HAVING COUNT(*) BETWEEN 2 AND 10
    ),
    filtered AS (SELECT ex.doc_id, ex.fp FROM ex JOIN postings USING (fp)),
    pair_counts AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2, CAST(COUNT(*) AS BIGINT) AS shared
      FROM filtered a JOIN filtered b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY d1, d2
    ),
    sizes AS (SELECT doc_id, len(fps) AS n_fps FROM winnow)
    SELECT d1, d2, shared,
      ROUND(CAST(shared AS DOUBLE) / LEAST(s1.n_fps, s2.n_fps), 6) AS overlap
    FROM pair_counts
    JOIN sizes s1 ON s1.doc_id = d1
    JOIN sizes s2 ON s2.doc_id = d2
    WHERE shared >= 8
      AND CAST(shared AS DOUBLE) / LEAST(s1.n_fps, s2.n_fps) >= 0.12
    """,
)
def dedup_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing near-dup pairs (the MOSS copy-detection pipeline end to
    end): documents sharing >= 8 fingerprints AND >= 12% of the smaller
    document's fingerprint set (the corpus' near-dups share prefixes/spans,
    not whole texts — max observed overlap ~0.25, so 0.12 selects the real
    overlap tail without admitting single-gram coincidences). Bit-exact cross-engine (the fingerprints are
    explicit modular arithmetic — textops.winnow_fps).

    Plan shape: fps -> explode -> posting-list filter -> self-join on
    fingerprint -> pair aggregation. The posting filter (fingerprints held
    by 2..10 docs) is the inverted-index trick that keeps the self-join
    linear-ish at corpus scale: singleton fingerprints can't pair (dropped
    before the join), and stop-fingerprints (>10 docs — boilerplate) would
    contribute O(df^2) candidate pairs each, exactly like stopwords in a
    token index. Joins/aggs all hash-partition on fp then (d1,d2); the tiny
    per-doc size side joins broadcast."""
    fps = winnow_fps(spark, sf_dir)  # session-memoized + persisted (textops)
    ex = fps.select("doc_id", F.explode("fps").alias("fp"))
    postings = (
        ex.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df").between(2, 10))
        .select("fp")
    )
    # Persist: BOTH sides of the self-join below consume this subtree, and
    # an unpersisted derived table re-runs its explode + posting join once
    # per side (lesson 15 — CacheManager dedups the identical plan across
    # invocations, so repeat calls don't stack copies).
    filtered = ex.join(postings, "fp").persist()
    a = filtered.select(F.col("doc_id").alias("d1"), "fp")
    b = filtered.select(F.col("doc_id").alias("d2"), "fp")
    pair_counts = (
        a.join(b, (a["fp"] == b["fp"]) & (F.col("d1") < F.col("d2")))
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sizes = fps.select("doc_id", F.size("fps").alias("n_fps"))
    s1 = sizes.select(F.col("doc_id").alias("_sd1"), F.col("n_fps").alias("_n1"))
    s2 = sizes.select(F.col("doc_id").alias("_sd2"), F.col("n_fps").alias("_n2"))
    overlap = F.col("shared").cast("double") / F.least("_n1", "_n2")
    return (
        pair_counts.join(s1, F.col("d1") == F.col("_sd1"))
        .join(s2, F.col("d2") == F.col("_sd2"))
        .where((F.col("shared") >= 8) & (overlap >= 0.12))
        .select("d1", "d2", "shared", F.round(overlap, 6).alias("overlap"))
    )


# Portable MinHash: permutations (a*h + b) mod p over md5-derived 32-bit
# shingle hashes — every constant fixed so a second engine can replay the
# signatures bit-for-bit. p = 2^31 - 1 (Mersenne prime). The first 8 pairs
# are the anchor tier's (dedup_minhash_portable_pairs, 4 bands); the full 24
# drive the production banding tier (12 bands x 2 rows).
_PMH_P = 2147483647
_PMH_PERMS = [(7, 3), (11, 17), (13, 29), (19, 47), (23, 59), (29, 83), (31, 101), (37, 127)]
_PMH_PERMS24 = _PMH_PERMS + [
    (41, 131), (43, 149), (47, 163), (53, 179), (59, 191), (61, 211),
    (67, 223), (71, 239), (73, 251), (79, 263), (83, 271), (89, 281),
    (97, 293), (101, 307), (103, 311), (107, 331),
]
_PMH_R = 2  # rows per band

# The verified banding pair graph and its connected components feed three
# registered queries (pairs, clusters, survivorship) that bench/driver runs
# back-to-back; memoize per (session, sf_dir) so the signature pipeline and
# the label-propagation fixpoint run once (LRU + unpersist-on-evict).
_BANDING_PAIRS_CACHE = SessionMemo("dedup.banding_pairs")
_BANDING_COMP_CACHE = SessionMemo("dedup.banding_components")
_PREFIX_JACCARD_CACHE = SessionMemo("dedup.prefix_jaccard")


def _pmh_sql_prefix(perms: list[tuple[int, int]]) -> str:
    """DuckDB CTE prefix recomputing the portable shingle sets and minhash
    signatures: toks -> shingles (md5-derived 32-bit hashes) -> sigs."""
    sig_exprs = ", ".join(
        f"list_min(list_transform(sh, h -> ({a} * h + {b}) % {_PMH_P})) AS s{j}"
        for j, (a, b) in enumerate(perms)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id,
        list_filter(string_split_regex(TRIM(LOWER(text)), '\\s+'), t -> t != '') AS ws
      FROM documents
    ), shingles AS (
      SELECT doc_id,
        list_distinct(list_transform(range(CAST(len(ws) - 2 AS BIGINT)),
          i -> CAST(CONCAT('0x', substr(md5(
                 ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3]), 1, 8)) AS BIGINT)
        )) AS sh
      FROM toks WHERE len(ws) >= 3
    ), sigs AS (
      SELECT doc_id, {sig_exprs} FROM shingles
    )"""


def _pmh_shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, sh): distinct portable 32-bit shingle hashes per document —
    the Spark mirror of the oracle's `shingles` CTE.

    Linear per document (NEXT.md lesson 52): the tokens are projected once
    as a column (`array_remove` drops empty tokens without a lambda) and the
    shingle lambda reads that column. A lambda over the token EXPRESSION
    re-splits the whole text three times per shingle. The size filter is
    pushed under the token projection, so the text is split twice per row.

    The single-row-group scan is fanned out BY doc_id at defaultParallelism
    (as textops.portable_simhash_sigs): the hashing parallelizes, and every
    consumer's `GROUP BY doc_id` finds its input already partitioned, so no
    32-partition exchange lands in a persisted plan, where AQE cannot
    coalesce it."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    d = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    toks = d.selectExpr(
        "doc_id", r"array_remove(split(trim(lower(text)), '\\s+'), '') AS toks"
    ).where("size(toks) >= 3")
    # one SQL string for the lambda (NEXT.md lesson 50): element_at is
    # 1-based, so shingle i covers tokens i+1..i+3
    return toks.selectExpr(
        "doc_id",
        "array_distinct(transform(sequence(0, size(toks) - 3), i -> CAST(conv("
        "substring(md5(concat_ws(' ', element_at(toks, i + 1), "
        "element_at(toks, i + 2), element_at(toks, i + 3))), 1, 8), 16, 10)"
        " AS BIGINT))) AS sh",
    )


def _pmh_signatures(base: DataFrame, perms: list[tuple[int, int]]) -> DataFrame:
    """(doc_id, s0..s{n-1}): per-doc minhash signature columns.

    Formulated as explode -> one hash-aggregate carrying min(a_j*h+b_j mod p)
    for every permutation, NOT as n array_min(transform(...)) columns: the
    HOF pair is CodegenFallback (lesson 8), so 24 of them meant 24
    interpreted passes re-materializing a boxed array each — the agg shape
    stays entirely inside whole-stage codegen and combines map-side (the
    shuffle carries one n-long row per doc per map partition, not the
    shingle sets). Measured at sf0.1 warm: 8-perm tier 0.69 -> 0.53 s,
    24-perm signature subtree 2x faster standing alone.

    The n mins are ONE SQL string parsed JVM-side, not n nested F.* trees
    (a py4j round-trip per node; NEXT.md lesson 50) — same optimized plan."""
    ex = base.select("doc_id", F.explode("sh").alias("h"))
    aggs = ", ".join(
        f"min(({a} * h + {b}) % {_PMH_P}) AS s{j}" for j, (a, b) in enumerate(perms)
    )
    return base.sparkSession.sql(
        f"SELECT doc_id, {aggs} FROM {{ex}} GROUP BY doc_id", ex=ex
    )


def _banding_oracle_sql() -> str:
    n_bands = len(_PMH_PERMS24) // _PMH_R
    band_exprs = ", ".join(
        f"CONCAT(CAST(s{2 * i} AS VARCHAR), ':', CAST(s{2 * i + 1} AS VARCHAR))"
        f" AS band{i}"
        for i in range(n_bands)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {i} AS band_no, band{i} AS band_key FROM bands_wide"
        for i in range(n_bands)
    )
    jac = (
        "CAST(len(list_intersect(h1.sh, h2.sh)) AS DOUBLE)"
        " / (len(h1.sh) + len(h2.sh) - len(list_intersect(h1.sh, h2.sh)))"
    )
    return f"""{_pmh_sql_prefix(_PMH_PERMS24)}, bands_wide AS (
      SELECT doc_id, {band_exprs} FROM sigs
    ), sigs_long AS ({band_rows}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM sigs_long a JOIN sigs_long b
        ON a.band_no = b.band_no AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    )
    SELECT cand.d1 AS doc_a, cand.d2 AS doc_b, ROUND({jac}, 6) AS jaccard_sim
    FROM cand
    JOIN shingles h1 ON cand.d1 = h1.doc_id
    JOIN shingles h2 ON cand.d2 = h2.doc_id
    WHERE {jac} >= 0.4
    """


@query("dedup_minhash_banding_pairs", oracle=_banding_oracle_sql())
def dedup_minhash_banding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expression-native MinHash banding (the classic b×r LSH construction,
    Broder '97 / MMDS ch.3) — the engine-level scale path that replaces
    MLlib's approxSimilarityJoin tier:

    1. signature: 24 minhashes per doc, m_j = min over portable shingle
       hashes of (a_j·h + b_j) mod 2³¹-1 — pure codegen expressions, one
       scan;
    2. banding: 12 bands × 2 rows; band key = "s_2b:s_2b+1"; explode →
       (band, key) postings;
    3. candidates: self-equi-join on (band, key), so only near-identical
       signatures ever meet (no cross product anywhere); distinct (d1, d2);
    4. verify: join back the shingle sets, keep exact Jaccard >= 0.4.

    P(candidate | s) = 1-(1-s²)¹²: 0.97 at s=0.5, 0.28 at s=0.2 — same
    recall target as the MLlib tier (tested vs the brute-force baseline)
    but faster because the signature never materializes 2^18-dim sparse
    vectors and the join is a plain equi-join. ORACLED end-to-end since
    round 7: hashes are the portable md5/affine family (round-6 verdict
    item 5), so DuckDB replays signatures, bands, candidates AND the
    Jaccard verify — the whole b×r pipeline hash-compared, not just the
    anchor tier. (xxhash64 shaved ~15% off the signature scan but no
    second engine can replay it; determinism won.)
    """
    cached = _BANDING_PAIRS_CACHE.get(spark, sf_dir)
    if cached is not None:
        return cached[0]
    perms = _PMH_PERMS24
    n_bands = len(perms) // _PMH_R
    # both the signature build and the verify step read the shingle sets:
    # persist so the md5 HOF chain runs once (CacheManager dedups identical
    # plans across invocations, so repeated calls reuse one cached copy).
    # The sets are hash-partitioned by doc_id, so the executed plan of the
    # signature GROUP BY doc_id has no exchange (the initial plan still
    # shows one; lesson 47) and `bands` keeps their partitioning.
    hs_df = _pmh_shingle_sets(spark, sf_dir).persist()
    sig = _pmh_signatures(hs_df, perms)
    # one SQL string for the n_bands-struct explode (see _pmh_signatures)
    band_structs = ", ".join(
        f"struct({b} AS band, concat_ws(':', CAST(s{_PMH_R * b} AS STRING), "
        f"CAST(s{_PMH_R * b + 1} AS STRING)) AS bh)"
        for b in range(n_bands)
    )
    bands = sig.selectExpr(
        "doc_id", f"explode(array({band_structs})) AS bk"
    ).selectExpr("doc_id", "bk.band AS band", "bk.bh AS bh")
    # the band postings feed BOTH sides of the candidate self-join: without
    # a persist the signature aggregation re-runs once per side (lesson 15)
    bands = bands.persist()
    a = bands.select(F.col("doc_id").alias("d1"), "band", "bh")
    b_ = bands.select(F.col("doc_id").alias("d2"), "band", "bh")
    cand = (
        a.join(b_, ["band", "bh"])
        .where(F.col("d1") < F.col("d2"))
        .select("d1", "d2")
        .distinct()
    )
    h1 = hs_df.select(F.col("doc_id").alias("_d1"), F.col("sh").alias("_h1"))
    h2 = hs_df.select(F.col("doc_id").alias("_d2"), F.col("sh").alias("_h2"))
    inter = F.size(F.array_intersect("_h1", "_h2"))
    union_sz = F.size("_h1") + F.size("_h2") - inter
    jac = inter.cast("double") / union_sz
    out = (
        cand.join(h1, F.col("d1") == F.col("_d1"))
        .join(h2, F.col("d2") == F.col("_d2"))
        .where(jac >= 0.4)
        .select(
            F.col("d1").alias("doc_a"),
            F.col("d2").alias("doc_b"),
            F.round(jac, 6).alias("jaccard_sim"),
        )
        # localCheckpoint, not persist: the pair list is tiny (near-dups
        # only) and the clusters/survivorship consumers re-derive plans
        # from it — checkpoint blocks reuse without registering the whole
        # pipeline subtree in the CacheManager (the e57148a plan-shape
        # substitution gotcha). eager=False is NOT lazy under AQE: the
        # checkpoint takes the RDD of the executed adaptive plan, so every
        # shuffle/broadcast stage below runs here, at construction: at
        # sf0.01 this build runs 7 jobs with AQE on, 2 (the broadcasts)
        # with it off (NEXT.md lesson 50), none wider than
        # defaultParallelism tasks (the doc_id partitioning of
        # _pmh_shingle_sets; lesson 52). Only the final stage waits for
        # the first action.
        .localCheckpoint(eager=False)
    )
    # the memo stores the persisted INTERMEDIATES alongside the output so
    # LRU eviction / clear_all_memos() unpersists hs_df and bands too
    # (_unpersist_value walks tuples) — storing only `out` would re-run
    # the pipeline on a re-miss while the stale persisted blocks stay
    # pinned (round-7 ADVICE).
    return _BANDING_PAIRS_CACHE.put(spark, sf_dir, (out, bands, hs_df))[0]


def _banding_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, component) over the verified banding pair graph — memoized:
    clusters and survivorship both consume the same label-propagation
    fixpoint, and the loop's per-round jobs dominate their runtime."""
    cached = _BANDING_COMP_CACHE.get(spark, sf_dir)
    if cached is not None:
        return cached
    pairs = dedup_minhash_banding_pairs(spark, sf_dir).select("doc_a", "doc_b")
    comp = _min_label_components(pairs)
    return _BANDING_COMP_CACHE.put(spark, sf_dir, comp)


@query(
    "dedup_exact_kept_docs",
    oracle="""
    SELECT doc_id, source
    FROM documents
    QUALIFY ROW_NUMBER() OVER (
      PARTITION BY md5(LOWER(regexp_replace(TRIM(text), '\\s+', ' ', 'g')))
      ORDER BY doc_id
    ) = 1
    """,
)
def dedup_exact_kept_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized output of exact dedup: the surviving document set
    (lowest doc_id per normalized-content group) — what a training-data
    pipeline actually writes back out, completing the dedup story beyond
    pair/group reports. row_number over the content-hash partition keeps
    exactly one row per group; the shuffle carries (hash, doc_id, source),
    never the text."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5(_NORM(F.col("text")))).orderBy("doc_id")
    return (
        d.select("doc_id", "source", F.row_number().over(w).alias("_rn"))
        .where(F.col("_rn") == 1)
        .select("doc_id", "source")
    )


_FUZZY_DF_FRAC = 0.2    # drop grams appearing in > this fraction of parts
_FUZZY_THRESHOLD = 0.4


@query(
    "join_fuzzy_part_names",
    oracle=f"""
    WITH names AS (
      SELECT DISTINCT p_name FROM part
    ),
    grams AS (
      SELECT DISTINCT p_name, substr(p_name, CAST(i AS INT), 3) AS gram
      FROM names, LATERAL UNNEST(range(1, GREATEST(length(p_name) - 2, 0) + 1)) AS t(i)
    ),
    kept AS (
      SELECT * FROM grams
      WHERE gram IN (
        SELECT gram FROM grams GROUP BY gram
        HAVING COUNT(*) <= CEIL({_FUZZY_DF_FRAC} * (SELECT COUNT(*) FROM names))
      )
    ),
    sizes AS (
      SELECT p_name, COUNT(*) AS n_grams FROM grams GROUP BY p_name
    ),
    shared AS (
      SELECT a.p_name AS name_a, b.p_name AS name_b, COUNT(*) AS n_shared
      FROM kept a JOIN kept b ON a.gram = b.gram AND a.p_name < b.p_name
      GROUP BY 1, 2
    )
    SELECT
      s.name_a, s.name_b,
      ROUND(CAST(s.n_shared AS DOUBLE)
            / (sa.n_grams + sb.n_grams - s.n_shared), 6) AS jaccard
    FROM shared s
    JOIN sizes sa ON sa.p_name = s.name_a
    JOIN sizes sb ON sb.p_name = s.name_b
    WHERE CAST(s.n_shared AS DOUBLE)
          / (sa.n_grams + sb.n_grams - s.n_shared) >= {_FUZZY_THRESHOLD}
    """,
)
def join_fuzzy_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy (similarity) join on DISTINCT part names: character-trigram
    Jaccard >= {_FUZZY_THRESHOLD} via an inverted gram index — record
    linkage as a relational plan, no pairwise cross join anywhere. Linking
    the deduped name dictionary (not every part row) is the standard
    blocking trick: entity linkage cost scales with vocabulary, and the
    name->part expansion is a plain equi-join afterwards.

    Scale anatomy (the same shape as dedup_winnowing_pairs, applied to
    entity linkage): shingle → drop stop-grams whose posting list exceeds
    {_FUZZY_DF_FRAC:.0%} of the catalog (a gram shared by half the catalog generates
    O(n^2) candidates and carries no signal — the cap bounds the
    per-gram join fan-out, the classic prefix/posting filter from set-
    similarity joins), equi-join postings on the gram, count shared grams
    per pair, then one broadcast join to each side's gram count turns
    shared counts into exact Jaccard. Note jaccard uses the UNPRUNED gram
    sizes — pruning only loses candidate pairs (both engines identically),
    never distorts a reported score.
    """
    names = load_table(spark, sf_dir, "part").select("p_name").distinct().persist()
    n_names = names.count()
    grams = (
        names.select(
            "p_name",
            F.explode(
                F.expr(
                    "transform(sequence(1, greatest(length(p_name) - 2, 0)),"
                    " i -> substring(p_name, i, 3))"
                )
            ).alias("gram"),
        )
        .distinct()
    )
    sizes = grams.groupBy("p_name").agg(F.count(F.lit(1)).alias("n_grams"))
    kept = grams.join(
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= F.ceil(F.lit(_FUZZY_DF_FRAC) * F.lit(n_names)))
        .select("gram"),
        "gram",
    )
    a = kept.select(F.col("p_name").alias("name_a"), "gram")
    b = kept.select(F.col("p_name").alias("name_b"), "gram")
    shared = (
        a.join(b, "gram")
        .where(F.col("name_a") < F.col("name_b"))
        .groupBy("name_a", "name_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("p_name").alias("name_a"), F.col("n_grams").alias("na"))
    sb = sizes.select(F.col("p_name").alias("name_b"), F.col("n_grams").alias("nb"))
    jac = F.col("n_shared").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_shared")
    )
    return (
        shared.join(sa, "name_a")
        .join(sb, "name_b")
        .where(jac >= _FUZZY_THRESHOLD)
        .select("name_a", "name_b", F.round(jac, 6).alias("jaccard"))
    )


def _pmh_oracle_sql() -> str:
    n_bands = len(_PMH_PERMS) // _PMH_R
    band_exprs = ", ".join(
        f"CONCAT(CAST(s{2 * i} AS VARCHAR), ':', CAST(s{2 * i + 1} AS VARCHAR))"
        f" AS band{i}"
        for i in range(n_bands)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {i} AS band_no, band{i} AS band_key FROM bands_wide"
        for i in range(n_bands)
    )
    return f"""{_pmh_sql_prefix(_PMH_PERMS)}, bands_wide AS (
      SELECT doc_id, {band_exprs} FROM sigs
    ), sigs_long AS ({band_rows}
    )
    SELECT
      a.doc_id AS doc_a, b.doc_id AS doc_b,
      CAST(COUNT(*) AS BIGINT) AS n_shared_bands
    FROM sigs_long a JOIN sigs_long b
      ON a.band_no = b.band_no AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    """


@query("dedup_minhash_portable_pairs", oracle=_pmh_oracle_sql())
def dedup_minhash_portable_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding with every hash PORTABLE (md5-derived 32-bit
    shingle hashes, fixed (a*h+b) mod 2^31-1 permutations) — the approximate
    dedup tier itself cross-engine verified: DuckDB recomputes the exact
    signatures, bands, and candidate pairs. Completes the oracled-dedup
    set (exact, winnowing, connected components, jaccard, cosine, and now
    MinHash banding); the 24-permutation production tier
    (dedup_minhash_banding_pairs) shares the same portable hash family
    since round 7, adding the exact-Jaccard verify step on top.

    Scale shape: identical to the production banding tier — signatures are
    per-doc array expressions (no explode until the 4 band keys), the
    candidate join is an equi-join on band keys, pair count is bounded by
    bucket co-occupancy, never |docs|^2.
    """
    base = _pmh_shingle_sets(spark, sf_dir)
    sigs = _pmh_signatures(base, _PMH_PERMS)
    n_bands = len(_PMH_PERMS) // _PMH_R
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_no"),
                        F.concat_ws(
                            ":",
                            F.col(f"s{2 * i}").cast("string"),
                            F.col(f"s{2 * i + 1}").cast("string"),
                        ).alias("band_key"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("b"),
    ).select("doc_id", F.col("b.band_no").alias("band_no"), F.col("b.band_key").alias("band_key"))
    # self-joined: persist so the md5 shingle + 8-permutation signature
    # HOFs run once, not per join side (measured ~1.9s -> ~1.1s warm)
    bands = bands.persist()
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_bands"))
    )


def _banding_components_sql() -> str:
    """Recursive-CTE fixpoint over the portable banding pair graph: the
    banding oracle (signatures -> bands -> candidates -> Jaccard verify)
    nested as a CTE body, then min-label propagation along edges."""
    return f"""
    WITH RECURSIVE pairs AS (
      {_banding_oracle_sql()}
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    w(node, label) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.dst, w.label FROM w JOIN edges e ON e.src = w.node
    ),
    comp AS (SELECT node AS doc_id, MIN(label) AS component FROM w GROUP BY node)
    """


@query(
    "dedup_minhash_clusters",
    oracle=_banding_components_sql() + "SELECT doc_id, component FROM comp",
)
def dedup_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER extraction over the MinHash banding pair graph —
    the full production near-dup path (portable signatures -> banded LSH
    candidates -> exact-Jaccard verify -> connected components), every
    stage ORACLED: DuckDB recomputes signatures, bands, pairs, and then
    propagates min labels along the edges with a recursive CTE to the same
    fixpoint the Spark loop reaches.

    Spark side composes the two existing sub-quadratic stages: banded
    candidate generation (band-key equi-join, no cross product) feeding
    _min_label_components (one union-find pass for small pair graphs,
    min-label propagation per diameter round for large ones). Labels are smallest-doc_id-in-component, so the
    output is engine-independent.
    """
    return _banding_components(spark, sf_dir)


@query(
    "dedup_cluster_survivorship",
    oracle=_banding_components_sql()
    + """,
    labeled AS (
      SELECT d.doc_id, d.n_chars,
             COALESCE(c.component, d.doc_id) AS component
      FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
    ),
    ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY component
                                ORDER BY n_chars DESC, doc_id) AS rk,
             COUNT(*) OVER (PARTITION BY component) AS cluster_size
      FROM labeled
    )
    SELECT component, doc_id AS keep_doc_id,
           CAST(n_chars AS BIGINT) AS keep_chars,
           CAST(cluster_size AS BIGINT) AS cluster_size
    FROM ranked WHERE rk = 1
    """,
)
def dedup_cluster_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship: ONE canonical document per near-dup cluster — the step
    that turns cluster labels into a deduplicated corpus. Every document
    participates (docs outside the pair graph are their own singleton
    cluster via COALESCE), and the survivor is picked by a deterministic
    policy: longest text wins, ties break on lowest doc_id — a total
    order, so both engines keep the identical row.

    Scale shape: the components run over the pair graph only (near-dups
    are a small fraction of the corpus); the full corpus joins the tiny
    label table once (broadcast at scale), and survivor election is a
    WindowGroupLimit top-1 per cluster, never a self-join. ORACLED
    end-to-end including the clustering fixpoint.
    """
    comp = _banding_components(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    labeled = d.join(comp, "doc_id", "left").select(
        "doc_id",
        "n_chars",
        F.coalesce("component", "doc_id").alias("component"),
    )
    w = Window.partitionBy("component").orderBy(
        F.col("n_chars").desc(), "doc_id"
    )
    wc = Window.partitionBy("component")
    return (
        labeled.select(
            "component",
            "doc_id",
            "n_chars",
            F.row_number().over(w).alias("rk"),
            F.count(F.lit(1)).over(wc).alias("cluster_size"),
        )
        .where(F.col("rk") == 1)
        .select(
            "component",
            F.col("doc_id").alias("keep_doc_id"),
            F.col("n_chars").cast("long").alias("keep_chars"),
            F.col("cluster_size").alias("cluster_size"),
        )
    )


@query(
    "dedup_prefix_filter_jaccard",
    oracle="""
    WITH sh AS (
      SELECT
        doc_id,
        list_distinct(list_transform(
          list_transform(
            range(1, greatest(len(toks) - 1, 1)),
            i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]
          ),
          g -> hash(g)
        )) AS hs
      FROM (
        SELECT doc_id,
               list_filter(string_split(LOWER(regexp_replace(TRIM(text), '\\s+', ' ', 'g')), ' '), t -> t != '') AS toks
        FROM documents
      )
      WHERE len(toks) >= 3
    )
    SELECT
      a.doc_id AS doc_a,
      b.doc_id AS doc_b,
      ROUND(
        CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
        / (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))),
        6
      ) AS jaccard
    FROM sh a
    JOIN sh b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE)
        / (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))) >= 0.6
    """,
)
def dedup_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-similarity self-join at Jaccard >= 0.6 via PREFIX FILTERING
    (AllPairs/PPJoin, Bayardo et al. WWW'07; Xiao et al. WWW'08) — the
    third scale strategy for similarity joins beside banding-LSH
    (dedup_minhash_banding_pairs) and blocking (dedup_ngram_jaccard_pairs),
    and unlike LSH it is EXACT: prefix filtering is recall-complete by
    theorem, so the oracle is simply the quadratic join.

    The theorem: order every doc's shingle set by one GLOBAL total order
    (here ascending document frequency, rarest first, ties by gram text).
    If J(a,b) >= t then |a n b| >= ceil(t*max(|a|,|b|)), and the first
    common shingle w (in the global order) sits at position
    <= |x| - |a n b| + 1 <= |x| - ceil(t*|x|) + 1 in BOTH docs — so
    indexing only that prefix of each doc cannot miss a true pair.
    At t = 3/5 the integer prefix length is sz - floor((3*sz + 4)/5) + 1
    (= sz - ceil(3*sz/5) + 1, exact in int64).

    At 100 TB: candidates meet only through shared PREFIX shingles, and
    the df-ascending order puts the RAREST shingles in every prefix, so
    posting lists in the candidate join are the corpus's shortest; the
    length-ratio filter 3*max(|a|,|b|) <= 5*min(|a|,|b|) (necessary for
    J >= 3/5) prunes cross-size pairs before verification. Only 16-byte
    digests and ids shuffle; full shingle arrays are joined back for the
    tiny candidate set's exact verify. The oracle pays the quadratic join
    (fine at the driver's sf0.01) — the Spark plan never does.
    """
    cached = _PREFIX_JACCARD_CACHE.get(spark, sf_dir)
    if cached is not None:
        return cached[0]
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(_NORM(F.col("text")), " "), lambda t: t != "")
    # persisted: the tokenize+shingle projection otherwise re-runs once per
    # consumer — both prefix self-join sides AND both verify sides (lesson
    # 15); this subtree is unique to this query, so caching it cannot
    # substitute into other queries' plans (the e57148a simhash gotcha).
    docs = (
        d.select(
            "doc_id",
            shingles(F.col("text")).alias("grams"),
        )
        .where(F.size(toks) >= 3)
        .select(
            "doc_id",
            "grams",
            F.size("grams").alias("sz"),
        )
        .persist()
    )
    # posting list + global document frequency per shingle (digests only)
    g = docs.select(
        "doc_id", "sz", F.explode("grams").alias("gram")
    ).select("doc_id", "sz", "gram", F.xxhash64("gram").alias("gid"))
    df_gram = g.groupBy("gid").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("gram").asc())
    # prefix length for t = 3/5: sz - ceil(3*sz/5) + 1, all-integer
    prefix_len = F.col("sz") - F.floor((3 * F.col("sz") + 4) / 5) + 1
    # the prefix posting table feeds both sides of the candidate self-join
    prefix = (
        g.join(df_gram, "gid")
        .select(
            "doc_id", "sz", "gid", F.row_number().over(w).alias("pos"), prefix_len.alias("plen")
        )
        .where(F.col("pos") <= F.col("plen"))
        .select("doc_id", "sz", "gid")
        .persist()
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.gid") == F.col("b.gid"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # length-ratio filter: J >= 3/5 needs 3*max <= 5*min
            & (3 * F.greatest("a.sz", "b.sz") <= 5 * F.least("a.sz", "b.sz")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # exact verification on the candidate set only (hash-invariant
    # intersection cardinality, same trick as the quadratic baseline)
    hs = docs.select(
        "doc_id",
        F.array_distinct(F.transform("grams", lambda s: F.xxhash64(s))).alias("hs"),
    )
    ha = hs.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a"))
    hb = hs.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b"))
    inter = F.size(F.array_intersect(F.col("hs_a"), F.col("hs_b")))
    union_sz = F.size("hs_a") + F.size("hs_b") - inter
    jac = inter.cast("double") / union_sz
    out = (
        cand.join(ha, "doc_a")
        .join(hb, "doc_b")
        .where(jac >= 0.6)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )
    # memoize output + persisted intermediates so repeated invocations in a
    # long-lived session reuse one pinned copy and eviction releases docs/
    # prefix (round-7 ADVICE — same discipline as the banding tier).
    return _PREFIX_JACCARD_CACHE.put(spark, sf_dir, (out, docs, prefix))[0]


_PARA_WORDS = 25  # disjoint word-block "paragraph" size (the corpus carries
# no newlines, so paragraph boundaries are fixed word offsets — the RAG-chunk
# convention, but non-overlapping because dedup must partition the text)


@query(
    "dedup_paragraph_exact_kept",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source,
        list_filter(string_split(LOWER(regexp_replace(TRIM(text), '\\s+', ' ', 'g')), ' '),
                    t -> t != '') AS toks
      FROM documents
    ),
    paras AS (
      SELECT doc_id, source, i AS para_idx,
        md5(array_to_string(
          list_slice(toks, 1 + {_PARA_WORDS} * (i - 1), {_PARA_WORDS} * i), ' '))
          AS digest
      FROM (
        SELECT doc_id, source, toks,
          UNNEST(range(1, CAST(ceil(len(toks) / {_PARA_WORDS}.0) AS BIGINT) + 1))
            AS i
        FROM toks WHERE len(toks) > 0
      )
    ),
    marked AS (
      SELECT doc_id, source,
        ROW_NUMBER() OVER (PARTITION BY digest
                           ORDER BY doc_id, para_idx) AS occ
      FROM paras
    )
    SELECT doc_id, source,
      COUNT(*) AS n_paras,
      COUNT(CASE WHEN occ > 1 THEN 1 END) AS n_dup_paras,
      ROUND(CAST(COUNT(CASE WHEN occ = 1 THEN 1 END) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE), 6) AS kept_fraction
    FROM marked
    GROUP BY 1, 2
    """,
)
def dedup_paragraph_exact_kept(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARAGRAPH-level exact deduplication (the sub-document grain the big
    LLM corpora dedup at — C4/RefinedWeb drop repeated paragraphs, not
    whole documents): split every doc into disjoint {n}-word blocks, keep
    each distinct block's FIRST occurrence (ordered by doc_id, block
    index), and report per-document how much text survives.

    Exact-duplicate documents lose every paragraph after their first copy;
    near-duplicates lose exactly their unedited aligned blocks — the
    behavior that distinguishes this from whole-doc dedup
    (dedup_exact_kept_docs) and from overlap MEASUREMENT
    (dedup_shared_chunk_fraction, which scores 8-token shingle sharing but
    removes nothing).

    Determinism: block membership is pure integer word-offset arithmetic;
    first-occurrence is a ROW_NUMBER total order; the digest is md5 text
    (portable). At 100 TB: only 16-byte digests + ids shuffle (never
    text), one window per digest group, one per-doc rollup.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(_NORM(F.col("text")), " "), lambda t: t != "")
    n_paras = F.ceil(F.size("toks") / F.lit(float(_PARA_WORDS))).cast("bigint")
    paras = (
        d.select("doc_id", "source", toks.alias("toks"))
        .where(F.size("toks") > 0)
        .select(
            "doc_id",
            "source",
            F.explode(F.sequence(F.lit(1), n_paras)).alias("para_idx"),
            F.col("toks"),
        )
        .select(
            "doc_id",
            "source",
            "para_idx",
            F.md5(
                F.array_join(
                    F.slice(
                        F.col("toks"),
                        1 + _PARA_WORDS * (F.col("para_idx") - 1),
                        _PARA_WORDS,
                    ),
                    " ",
                )
            ).alias("digest"),
        )
    )
    occ = F.row_number().over(
        Window.partitionBy("digest").orderBy("doc_id", "para_idx")
    )
    marked = paras.select("doc_id", "source", occ.alias("occ"))
    return marked.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).alias("n_paras"),
        F.count(F.when(F.col("occ") > 1, 1)).alias("n_dup_paras"),
        F.round(
            F.count(F.when(F.col("occ") == 1, 1)).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("kept_fraction"),
    )


@query(
    "dedup_url_canonical",
    oracle="""
    WITH raw AS (
      SELECT doc_id, source,
        'https://' || source || '.example.com/' || lang || '/doc/'
          || CAST(doc_id AS VARCHAR) || '?id=' || CAST(doc_id AS VARCHAR)
          AS url
      FROM documents
      UNION ALL
      SELECT doc_id, source,
        'HTTP://WWW.' || UPPER(source) || '.EXAMPLE.COM/' || lang || '/doc/'
          || CAST(doc_id AS VARCHAR)
          || '/?utm_source=feed&id=' || CAST(doc_id AS VARCHAR)
      FROM documents WHERE doc_id % 3 = 0
      UNION ALL
      SELECT doc_id, source,
        'https://' || source || '.example.com/' || lang || '/doc/'
          || CAST(doc_id AS VARCHAR)
          || '?utm_campaign=promo&id=' || CAST(doc_id AS VARCHAR)
          || '&utm_medium=email'
      FROM documents WHERE doc_id % 3 = 1
    ),
    canon AS (
      SELECT doc_id, source,
        'https://'
        || regexp_replace(LOWER(regexp_extract(url, '^[a-zA-Z]+://([^/]+)', 1)),
                          '^www\\.', '')
        || regexp_replace(regexp_extract(url, '^[a-zA-Z]+://[^/]+([^?]*)', 1),
                          '/$', '')
        || '?id=' || regexp_extract(url, '[?&]id=([^&]+)', 1) AS curl
      FROM raw
    ),
    grouped AS (
      SELECT source, curl, COUNT(*) AS sz FROM canon GROUP BY 1, 2
    )
    SELECT source,
      CAST(SUM(sz) AS BIGINT) AS n_raw_urls,
      COUNT(*) AS n_canonical,
      COUNT(CASE WHEN sz > 1 THEN 1 END) AS n_dup_groups,
      ROUND(CAST(SUM(sz) - COUNT(*) AS DOUBLE) / CAST(SUM(sz) AS DOUBLE), 6)
        AS dup_rate
    FROM grouped GROUP BY 1
    """,
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup — the crawl-frontier normalization step:
    scheme folded to https, host lowercased and stripped of `www.`,
    trailing slash removed, tracking parameters (`utm_*`) dropped while
    the identifying `id` parameter is kept. Messy variants (uppercase
    host+www+utm, param-order/utm-noise) are derived deterministically
    from doc attributes (doc_id mod 3 — the same synthesized-URL
    convention as scalar_url_parsing) and must collapse onto their clean
    twin's canonical form.

    Spark canonicalizes with the JVM parse_url fast path (HOST/PATH/
    QUERY:id extraction); DuckDB recovers identical parts with anchored
    regexes on the shared RE2/Java dialect subset — parser agreement is
    part of the contract. Rolled up per source: raw URLs, canonical
    groups, duplicate rate.

    At 100 TB: a stateless projection then one hash aggregation on the
    canonical string — URL strings shuffle once, pre-shrunk by the
    per-source rollup's map-side combine.
    """
    d = load_table(spark, sf_dir, "documents")
    did = F.col("doc_id").cast("string")
    clean = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/"),
        F.col("lang"), F.lit("/doc/"), did, F.lit("?id="), did,
    )
    messy_host = F.concat(
        F.lit("HTTP://WWW."), F.upper(F.col("source")), F.lit(".EXAMPLE.COM/"),
        F.col("lang"), F.lit("/doc/"), did, F.lit("/?utm_source=feed&id="), did,
    )
    messy_params = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/"),
        F.col("lang"), F.lit("/doc/"), did,
        F.lit("?utm_campaign=promo&id="), did, F.lit("&utm_medium=email"),
    )
    raw = (
        d.select("doc_id", "source", clean.alias("url"))
        .unionAll(
            d.where(F.col("doc_id") % 3 == 0).select(
                "doc_id", "source", messy_host.alias("url")
            )
        )
        .unionAll(
            d.where(F.col("doc_id") % 3 == 1).select(
                "doc_id", "source", messy_params.alias("url")
            )
        )
    )
    curl = F.concat(
        F.lit("https://"),
        F.regexp_replace(
            F.lower(F.parse_url("url", F.lit("HOST"))), r"^www\.", ""
        ),
        F.regexp_replace(F.parse_url("url", F.lit("PATH")), r"/$", ""),
        F.lit("?id="),
        F.parse_url("url", F.lit("QUERY"), F.lit("id")),
    )
    grouped = (
        raw.select("source", curl.alias("curl"))
        .groupBy("source", "curl")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    return grouped.groupBy("source").agg(
        F.sum("sz").alias("n_raw_urls"),
        F.count(F.lit(1)).alias("n_canonical"),
        F.count(F.when(F.col("sz") > 1, 1)).alias("n_dup_groups"),
        F.round(
            (F.sum("sz") - F.count(F.lit(1))).cast("double")
            / F.sum("sz").cast("double"),
            6,
        ).alias("dup_rate"),
    )


_PFC_CACHE = SessionMemo("dedup.prefix_cosine")


@query(
    "dedup_prefix_filter_cosine",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
        list_distinct(list_transform(
          list_transform(
            range(1, greatest(len(toks) - 1, 1)),
            i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]
          ),
          g -> hash(g)
        )) AS hs
      FROM (
        SELECT doc_id,
               list_filter(string_split(LOWER(regexp_replace(TRIM(text), '\\s+', ' ', 'g')), ' '), t -> t != '') AS toks
        FROM documents
      )
      WHERE len(toks) >= 3
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        CAST(len(list_intersect(a.hs, b.hs)) AS BIGINT) AS o,
        CAST(len(a.hs) AS BIGINT) AS sa,
        CAST(len(b.hs) AS BIGINT) AS sb
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b,
      ROUND(CAST(o AS DOUBLE)
            / SQRT(CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE)), 6) AS cosine
    FROM pairs
    WHERE 100 * o * o >= 49 * sa * sb
    """,
)
def dedup_prefix_filter_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-COSINE similarity self-join at cos >= 0.7 via prefix filtering —
    the AllPairs trick carried from Jaccard into cosine space (Bayardo et
    al. WWW'07 run their algorithm on exactly this binary-vector cosine):
    cos(a,b) = |a n b| / sqrt(|a|*|b|) over 3-shingle sets.

    The cosine prefix bound: cos >= t implies o >= t*sqrt(|a||b|), and
    with |b| >= o that squares into o >= t^2 * max(|a|,|b|) — so indexing
    each doc's first sz - ceil(t^2 * sz) + 1 shingles (global df-ascending
    order, the rarest first) cannot miss a true pair, and the length
    filter t^2 * max <= min prunes cross-size pairs. At t = 7/10 the
    integer prefix length is sz - floor((49*sz + 99)/100) + 1 and BOTH
    the final threshold and the length filter are exact integer
    cross-multiplications (100*o^2 >= 49*sa*sb) — no float enters any
    decision; recall is complete by theorem, so the op is EXACT and the
    oracle is simply the quadratic join.

    Scale shape: identical to dedup_prefix_filter_jaccard — candidates
    meet only through rare prefix shingles, only digests shuffle, the
    exact verify runs on the candidate set, and the persisted
    intermediates are memoized with the output (round-7 ADVICE).
    """
    cached = _PFC_CACHE.get(spark, sf_dir)
    if cached is not None:
        return cached[0]
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(_NORM(F.col("text")), " "), lambda t: t != "")
    docs = (
        d.select("doc_id", shingles(F.col("text")).alias("grams"))
        .where(F.size(toks) >= 3)
        .select("doc_id", "grams", F.size("grams").alias("sz"))
        .persist()
    )
    g = docs.select("doc_id", "sz", F.explode("grams").alias("gram")).select(
        "doc_id", "sz", "gram", F.xxhash64("gram").alias("gid")
    )
    df_gram = g.groupBy("gid").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("gram").asc())
    # prefix length for t = 7/10: sz - ceil(49*sz/100) + 1, all-integer
    prefix_len = F.col("sz") - F.floor((49 * F.col("sz") + 99) / 100) + 1
    prefix = (
        g.join(df_gram, "gid")
        .select(
            "doc_id", "sz", "gid",
            F.row_number().over(w).alias("pos"),
            prefix_len.alias("plen"),
        )
        .where(F.col("pos") <= F.col("plen"))
        .select("doc_id", "sz", "gid")
        .persist()
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.gid") == F.col("b.gid"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # length filter: cos >= 7/10 needs 49*max <= 100*min
            & (49 * F.greatest("a.sz", "b.sz") <= 100 * F.least("a.sz", "b.sz")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    hs = docs.select(
        "doc_id",
        F.array_distinct(F.transform("grams", lambda s: F.xxhash64(s))).alias("hs"),
    )
    ha = hs.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a"))
    hb = hs.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b"))
    o = F.size(F.array_intersect("hs_a", "hs_b")).cast("bigint")
    sa = F.size("hs_a").cast("bigint")
    sb = F.size("hs_b").cast("bigint")
    cos = o.cast("double") / F.sqrt(sa.cast("double") * sb.cast("double"))
    out = (
        cand.join(ha, "doc_a")
        .join(hb, "doc_b")
        .where(100 * o * o >= 49 * sa * sb)
        .select("doc_a", "doc_b", F.round(cos, 6).alias("cosine"))
    )
    return _PFC_CACHE.put(spark, sf_dir, (out, docs, prefix))[0]


def _semantic_pairs_oracle(k: int, rounds: int, tau: float) -> str:
    """DuckDB mirror of semantic dedup: the unrolled determinized-Lloyd
    chain (clustering._kmeans_oracle_sql's CTE generator), then the
    quadratic cosine verify WITHIN each cluster only."""
    from .clustering import _kmeans_oracle_sql

    lloyd = _kmeans_oracle_sql(k, rounds)
    chain = lloyd[: lloyd.index("\n    SELECT")]
    return (
        chain
        + f"""
    SELECT a.cid, a.vec_id AS vec_a, b.vec_id AS vec_b,
      ROUND(list_cosine_similarity(
        list_transform(a.v, x -> CAST(x AS DOUBLE)),
        list_transform(b.v, x -> CAST(x AS DOUBLE))), 4) AS sim
    FROM a{rounds} a JOIN a{rounds} b
      ON a.cid = b.cid AND a.vec_id < b.vec_id
    WHERE ROUND(list_cosine_similarity(
        list_transform(a.v, x -> CAST(x AS DOUBLE)),
        list_transform(b.v, x -> CAST(x AS DOUBLE))), 4) >= {tau}
    """
    )


@query("dedup_semantic_cluster_pairs", oracle=_semantic_pairs_oracle(4, 3, 0.4))
def dedup_semantic_cluster_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style SEMANTIC dedup (Abbas et al. 2023): cluster the
    embedding corpus with the determinized Lloyd loop (k=4, 3 rounds —
    kmeans_lloyd_oracled's exact machinery), then find near-duplicate
    pairs by exact cosine >= 0.4 WITHIN each cluster only — the
    composition that makes semantic dedup tractable: candidates meet
    only through a shared cluster id, so the quadratic term is
    (n/k)^2 per cluster, not n^2, and clusters partition the work.

    Fully oracled end-to-end: DuckDB replays the Lloyd rounds (salted-md5
    init, fold distances, decimal means), the cluster assignment, AND the
    within-cluster cosine verify to the same hash — the pair set is exact
    GIVEN the clustering (cross-cluster near-dups are out of scope by the
    method's own contract; SemDeDup accepts that recall trade).

    At 100 TB: k scales to ~sqrt(n) so each cluster stays bounded; the
    pair join shuffles on cid (a partition-pruning column after write),
    and vectors never meet outside their cell. Threshold 0.4 ~ p99.9 of
    this synthetic corpus (dedup_embedding_cosine_pairs' calibration).
    """
    from ..functions.vectors import dot, l2_norm
    from .clustering import _lloyd_portable

    cached = _SEMANTIC_CORPUS_CACHE.get(spark, sf_dir)
    if cached is not None:
        corpus = cached[0]
    else:
        _, assigned = _lloyd_portable(spark, sf_dir, k=4, rounds=3)
        # persisted + memoized: corpus feeds BOTH sides of the
        # within-cluster pair join (scan_audit: embeddings x2, zero reuse
        # unpersisted), and a plain per-call persist would re-run the
        # assignment argmin on every bench iteration. Norms are
        # precomputed per VECTOR (n sqrt-folds), not per PAIR — the pair
        # verify then runs ONE fold (the dot) instead of three, and
        # l2_norm(a)*l2_norm(b) here is bit-identical to
        # cosine_similarity's own denominator.
        corpus = assigned.select(
            F.col("cid").cast("long").alias("cid"),
            "vec_id",
            F.col("v").cast("array<double>").alias("v"),
        )
        corpus = corpus.select(
            "cid", "vec_id", "v", l2_norm(F.col("v")).alias("nrm")
        ).persist()
        _SEMANTIC_CORPUS_CACHE.put(spark, sf_dir, (corpus,))
    a = corpus.select(
        "cid",
        F.col("vec_id").alias("vec_a"),
        F.col("v").alias("va"),
        F.col("nrm").alias("na"),
    )
    b = corpus.select(
        F.col("cid").alias("cid_b"),
        F.col("vec_id").alias("vec_b"),
        F.col("v").alias("vb"),
        F.col("nrm").alias("nb"),
    )
    denom = F.col("na") * F.col("nb")
    sim = F.round(
        F.when(denom > 0, dot(F.col("va"), F.col("vb")) / denom).otherwise(
            F.lit(0.0)
        ),
        4,
    )
    # r14 (guide §4.4's anti-duplication recipe applied to a pure
    # expression): with a plain `.where(sim >= 0.4)` the optimizer inlines
    # the whole fold into the BroadcastHashJoin CONDITION and keeps a second
    # copy in the projection — the 64-dim dot ran TWICE per candidate pair.
    # Adding `+ 0.0 * rand(1)` to the FILTER operand only (never the output
    # column) makes the predicate non-pushable, so the join emits pairs on
    # the cheap (cid, vec_a < vec_b) condition, the projection evaluates sim
    # ONCE per pair, and the filter compares the materialized column.
    # Values are untouched: 0.0 * rand is exactly +0.0 and x + 0.0 changes
    # no comparison outcome (-0.0 vs +0.0 compare equal), and the output
    # `sim` column is the unmodified expression. A/B (interleaved min-of-3
    # x2): 0.64/0.65 s -> 0.61/0.58 s. Two r13-verdict suggestions were
    # measured and REJECTED here: dot_unrolled (planning cost of the 130-
    # node chain exceeds the win at ~250k pairs — 1.2-1.5 s/run) and a
    # defaultParallelism repartition of the streamed side (the BHJ already
    # runs at the cached corpus's full parallelism; +0.25 s/run).
    joined = a.join(
        b, (F.col("cid") == F.col("cid_b")) & (F.col("vec_a") < F.col("vec_b"))
    ).select("cid", "vec_a", "vec_b", sim.alias("sim"))
    return joined.where((F.col("sim") + F.lit(0.0) * F.rand(1)) >= 0.4)


_CONTAIN_DF_CAP = 50  # stop-shingle cap: postings hotter than this don't vote
_CONTAIN_TAU = 0.6

# (applicationId, sf_dir) -> persisted (cid, vec_id, v) Lloyd assignment —
# both self-join sides of the semantic pair verify consume it.
_SEMANTIC_CORPUS_CACHE = SessionMemo("dedup.semantic_corpus")

# (applicationId, sf_dir) -> persisted doc-grain shingle-hash table — the
# postings build and both verify sides consume it, and warm bench reps
# must reuse one bounded cache entry, not pin a fresh block per call
# (round-9 ADVICE / lesson 30).
_CONTAIN_SHINGLES_CACHE = SessionMemo("dedup.containment_shingles")


@query(
    "dedup_containment_pairs",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id,
        list_distinct(list_transform(
          list_transform(
            range(1, greatest(len(toks) - 1, 1)),
            i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2]
          ),
          g -> hash(g)
        )) AS hs
      FROM (
        SELECT doc_id,
          list_filter(string_split(LOWER(regexp_replace(TRIM(text), '\\s+', ' ', 'g')), ' '),
                      t -> t != '') AS toks
        FROM documents
      )
      WHERE len(toks) >= 3
    ),
    postings AS (
      SELECT doc_id, unnest(hs) AS h FROM sh
    ),
    rare AS (
      SELECT h FROM postings GROUP BY h HAVING COUNT(*) <= {_CONTAIN_DF_CAP}
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM postings a
      JOIN rare USING (h)
      JOIN postings b USING (h)
      WHERE a.doc_id <> b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
      ROUND(CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE)
            / len(sa.hs), 6) AS containment
    FROM cands c
    JOIN sh sa ON sa.doc_id = c.doc_a
    JOIN sh sb ON sb.doc_id = c.doc_b
    WHERE ROUND(CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE)
                / len(sa.hs), 6) >= {_CONTAIN_TAU}
    """,
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC containment near-dup pairs: |A ∩ B| / |A| >= 0.6 over
    distinct 3-gram shingles — the sub/superset detector (quote farms,
    re-posts with added boilerplate) that symmetric Jaccard misses, the
    shape behind exact-substring dedup in pretraining pipelines.
    Directed: (doc_a contained-in doc_b) and the reverse are separate
    verdicts with different denominators.

    Candidates meet ONLY through shared RARE shingles (document frequency
    <= {_CONTAIN_DF_CAP}; hotter "stop shingles" don't vote — the
    join_fuzzy_part_names stop-gram trick). Recall contract: complete
    unless EVERY shared shingle is a stop shingle (boilerplate-only
    overlap), which the threshold intends to ignore anyway; the oracle
    replays the identical cap so parity is by construction. The verify
    is exact set intersection on the full shingle arrays.

    Determinism: intersection CARDINALITY is hash-invariant (each engine
    hashes its own shingles); membership compares the 6dp-rounded ratio.

    At 100 TB: postings bound the candidate fan-out (df-capped equi-join,
    never a cross join); the array verify touches only candidate pairs.
    """
    d = load_table(spark, sf_dir, "documents")
    _gate_quadratic(d, "dedup_containment_pairs", "dedup_minhash_banding_pairs")
    hit = _CONTAIN_SHINGLES_CACHE.get(spark, sf_dir)
    if hit is not None:
        (sh,) = hit
    else:
        toks = F.filter(F.split(_NORM(F.col("text")), " "), lambda t: t != "")
        sh = (
            d.select(
                "doc_id",
                F.array_distinct(
                    F.transform(shingles(F.col("text")), lambda g: F.xxhash64(g))
                ).alias("hs"),
            )
            .where(F.size(toks) >= 3)
            .persist()
        )
        _CONTAIN_SHINGLES_CACHE.put(spark, sf_dir, (sh,))
    postings = sh.select("doc_id", F.explode("hs").alias("h"))
    rare = postings.groupBy("h").agg(F.count(F.lit(1)).alias("df")).where(
        F.col("df") <= _CONTAIN_DF_CAP
    ).select("h")
    pa = postings.select(F.col("doc_id").alias("doc_a"), "h")
    pb = postings.select(F.col("doc_id").alias("doc_b"), "h")
    cands = (
        pa.join(rare, "h")
        .join(pb, "h")
        .where(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b"))
    containment = F.round(
        F.size(F.array_intersect(F.col("hs_a"), F.col("hs_b"))).cast("double")
        / F.size(F.col("hs_a")),
        6,
    )
    return (
        cands.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", containment.alias("containment"))
        .where(F.col("containment") >= _CONTAIN_TAU)
    )


# (applicationId, sf_dir) -> persisted (doc_id, para_idx, hs) paragraph
# shingle table — the postings build and both verify sides consume it
# (lesson 30: SessionMemo, never a bare per-call persist).
_PARA_SHINGLES_CACHE = SessionMemo("dedup.paragraph_shingles")

_PARA_CONTAIN_DF_CAP = 50
_PARA_CONTAIN_TAU = 0.6


@query(
    "dedup_paragraph_containment_pairs",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
        list_filter(string_split(LOWER(regexp_replace(TRIM(text), '\\s+', ' ', 'g')), ' '),
                    t -> t != '') AS ws
      FROM documents
    ),
    paras AS (
      SELECT doc_id, i AS para_idx,
        list_slice(ws, 1 + {_PARA_WORDS} * (i - 1), {_PARA_WORDS} * i) AS b
      FROM (
        SELECT doc_id, ws,
          UNNEST(range(1, CAST(ceil(len(ws) / {_PARA_WORDS}.0) AS BIGINT) + 1))
            AS i
        FROM toks WHERE len(ws) > 0
      )
    ),
    sh AS (
      SELECT doc_id, para_idx,
        list_distinct(list_transform(range(1, len(b) - 1),
          i -> hash(array_to_string(list_slice(b, i, i + 2), ' ')))) AS hs
      FROM paras WHERE len(b) >= 3
    ),
    postings AS (SELECT doc_id, para_idx, unnest(hs) AS h FROM sh),
    rare AS (
      SELECT h FROM postings GROUP BY h
      HAVING COUNT(*) <= {_PARA_CONTAIN_DF_CAP}
    ),
    cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, a.para_idx AS pa,
                      b.doc_id AS doc_b, b.para_idx AS pb
      FROM postings a JOIN rare USING (h) JOIN postings b USING (h)
      WHERE a.doc_id < b.doc_id
    ),
    verified AS (
      SELECT doc_a, doc_b,
        ROUND(CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE)
              / len(sa.hs), 6) AS containment
      FROM cands
      JOIN sh sa ON sa.doc_id = doc_a AND sa.para_idx = pa
      JOIN sh sb ON sb.doc_id = doc_b AND sb.para_idx = pb
      WHERE CAST(len(list_intersect(sa.hs, sb.hs)) AS DOUBLE)
            / len(sa.hs) >= {_PARA_CONTAIN_TAU}
    )
    SELECT doc_a, doc_b,
      COUNT(*) AS n_contained_paras,
      MAX(containment) AS max_containment
    FROM verified GROUP BY doc_a, doc_b
    """,
)
def dedup_paragraph_containment_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PARAGRAPH-grain containment detection across documents: the
    dedup_containment_pairs machinery applied at the {25}-word block
    grain (dedup_paragraph_exact_kept's unit), catching documents that
    share near-verbatim PASSAGES even when the whole-document overlap is
    too diluted to trip doc-level thresholds — the cross-document quote/
    boilerplate detector LLM pipelines run beside paragraph dedup.

    Candidates meet only through shared rare paragraph shingles (df <=
    50 over the paragraph universe); the verify is exact shingle-set
    intersection with directed containment (a-side denominator) >= 0.6,
    rolled up to cross-document pairs (doc_a < doc_b) with the contained
    paragraph count and max containment. Intersection CARDINALITY is
    hash-invariant, so each engine hashes its own shingles (the
    dedup_containment_pairs trick); the 6dp-rounded ratio compares
    identical rationals.

    At 100 TB: postings bound the candidate fan-out per rare shingle;
    the verify touches only candidate paragraph pairs; the shingle table
    is persisted once (SessionMemo) and feeds postings + both verify
    sides.
    """
    d = load_table(spark, sf_dir, "documents")
    _gate_quadratic(
        d, "dedup_paragraph_containment_pairs", "dedup_minhash_banding_pairs"
    )
    hit = _PARA_SHINGLES_CACHE.get(spark, sf_dir)
    if hit is not None:
        (sh,) = hit
    else:
        toks = F.filter(F.split(_NORM(F.col("text")), " "), lambda t: t != "")
        n_paras = F.ceil(
            F.size("ws") / F.lit(float(_PARA_WORDS))
        ).cast("bigint")
        paras = (
            d.select("doc_id", toks.alias("ws"))
            .where(F.size("ws") > 0)
            .select(
                "doc_id",
                F.explode(F.sequence(F.lit(1), n_paras)).alias("para_idx"),
                F.expr(
                    f"slice(ws, 1 + {_PARA_WORDS} * (para_idx - 1),"
                    f" {_PARA_WORDS})"
                ).alias("b"),
            )
        )
        sh = (
            paras.where(F.size("b") >= 3)
            .select(
                "doc_id",
                "para_idx",
                F.array_distinct(
                    F.expr(
                        "transform(sequence(1, size(b) - 2),"
                        " i -> xxhash64(concat_ws(' ', slice(b, i, 3))))"
                    )
                ).alias("hs"),
            )
            # r14 (guide §2.5): the documents scan is one parquet row group,
            # so without this the whole candidate build (postings explode ×2,
            # rare-filtered pair join, map-side distinct partials — measured
            # 1.2 s of the 1.49 s warm total) ran in ONE task off the
            # single-partition cache. Fan the memoized table out once at
            # build time; every consumer inherits the parallel layout.
            .repartition(
                spark.sparkContext.defaultParallelism, "doc_id", "para_idx"
            )
            .persist()
        )
        _PARA_SHINGLES_CACHE.put(spark, sf_dir, (sh,))
    # NOTE: persisting this explode measured NEUTRAL (1.73 vs 1.73 s
    # min-of-5 @ sf0.1) — the explode off the cached shingle table is
    # cheap; the cost lives in the candidate distinct + verify joins.
    postings = sh.select("doc_id", "para_idx", F.explode("hs").alias("h"))
    rare = (
        postings.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= _PARA_CONTAIN_DF_CAP)
        .select("h")
    )
    pa = postings.select(
        F.col("doc_id").alias("doc_a"), F.col("para_idx").alias("pa"), "h"
    )
    pb = postings.select(
        F.col("doc_id").alias("doc_b"), F.col("para_idx").alias("pb"), "h"
    )
    # r14 optimization (guide §3.1/§3.2): the pair join used to build its
    # broadcast from the FULL b-side postings explode (before-plan:
    # BroadcastExchange over Generate over the whole posting list) — the
    # collect+rebroadcast of every posting row was the warm cost. Semi-
    # filtering pb by the rare-shingle list first (rare is tiny and
    # broadcasts map-side) shrinks the pair join's build side to the
    # rare-keyed postings only. Candidates are unchanged: the pair join is
    # on h ∈ rare either way.
    pb_rare = pb.join(rare, "h", "left_semi")
    cands = (
        pa.join(rare, "h")
        .join(pb_rare, "h")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "pa", "doc_b", "pb")
        .distinct()
    )
    sa = sh.select(
        F.col("doc_id").alias("doc_a"),
        F.col("para_idx").alias("pa"),
        F.col("hs").alias("hs_a"),
    )
    sb = sh.select(
        F.col("doc_id").alias("doc_b"),
        F.col("para_idx").alias("pb"),
        F.col("hs").alias("hs_b"),
    )
    containment = F.size(
        F.array_intersect(F.col("hs_a"), F.col("hs_b"))
    ).cast("double") / F.size(F.col("hs_a"))
    verified = (
        cands.join(sa, ["doc_a", "pa"])
        .join(sb, ["doc_b", "pb"])
        .where(containment >= _PARA_CONTAIN_TAU)
        .select(
            "doc_a", "doc_b", F.round(containment, 6).alias("containment")
        )
    )
    return verified.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).alias("n_contained_paras"),
        F.max("containment").alias("max_containment"),
    )


@query(
    "join_fuzzy_levenshtein_names",
    oracle="""
    WITH names AS (SELECT DISTINCT p_name FROM part),
    blocked AS (
      SELECT p_name, string_split(p_name, ' ')[-1] AS noun FROM names
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b,
      CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_distance
    FROM blocked a JOIN blocked b
      ON a.noun = b.noun AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 3
    """,
)
def join_fuzzy_levenshtein_names(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EDIT-DISTANCE fuzzy join on the distinct part-name dictionary:
    pairs within levenshtein <= 3, blocked on the head noun (the last
    name token) so the quadratic term is per-block, never a dictionary
    cross join — the classic record-linkage alternative to the trigram
    Jaccard tier (join_fuzzy_part_names), catching single-typo variants
    that shared-gram thresholds can miss.

    Determinism: levenshtein is a pure integer function with one
    standard definition — both engines return the identical BIGINT.
    Blocking recall contract: a pair whose NOUN itself is misspelled is
    out of scope by design (the Jaccard tier covers cross-noun
    similarity); the oracle replays the same blocking.

    At 100 TB: linkage cost scales with the name VOCABULARY (distinct
    names), not part rows; blocks bound the pairwise term to noun-group
    sizes, and only short strings shuffle.
    """
    p = load_table(spark, sf_dir, "part")
    names = p.select("p_name").distinct()
    blocked = names.select(
        "p_name", F.element_at(F.split("p_name", " "), -1).alias("noun")
    )
    a = blocked.select(
        F.col("p_name").alias("name_a"), F.col("noun").alias("noun_a")
    )
    b = blocked.select(
        F.col("p_name").alias("name_b"), F.col("noun").alias("noun_b")
    )
    lev = F.levenshtein(F.col("name_a"), F.col("name_b"))
    return (
        a.join(
            b,
            (F.col("noun_a") == F.col("noun_b"))
            & (F.col("name_a") < F.col("name_b")),
        )
        .where(lev <= 3)
        .select(
            "name_a", "name_b", lev.cast("bigint").alias("edit_distance")
        )
    )


_SURV_THRESHOLDS = [0.4, 0.5, 0.6, 0.7, 0.8, 0.9]


@query(
    "dedup_survivorship_threshold_curve",
    oracle=f"""
    WITH pairs AS (
      {_banding_oracle_sql()}
    ),
    th AS (
      SELECT unnest(list_transform(
        [{", ".join(str(t) for t in _SURV_THRESHOLDS)}],
        x -> CAST(x AS DOUBLE))) AS threshold
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
    SELECT t.threshold,
      CAST(COUNT(p.doc_a) AS BIGINT) AS n_pairs,
      CAST(COUNT(DISTINCT p.doc_b) AS BIGINT) AS n_removed,
      CAST(MIN(n.n_docs) - COUNT(DISTINCT p.doc_b) AS BIGINT) AS n_kept
    FROM th t CROSS JOIN n
    LEFT JOIN pairs p ON p.jaccard_sim >= t.threshold
    GROUP BY t.threshold
    """,
)
def dedup_survivorship_threshold_curve(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Dedup survivorship as a function of the similarity threshold: for
    each candidate Jaccard cut (0.4..0.9) over the VERIFIED banding pair
    graph, how many pairs fire, how many documents a keep-lowest-doc_id
    policy removes, and how many survive — the curve a corpus team reads
    before committing a dedup threshold (too low = over-merging, too
    high = residual duplication). The removal rule is the deterministic
    'drop any document with a smaller-id neighbor at >= t' greedy (the
    keep-earliest-crawl policy), NOT per-threshold connected components —
    documented, and exactly replayed by the oracle.

    Plan shape: the memoized banding pair list (near-dup pairs only —
    tiny) joined to a 6-row threshold spine via a bounded
    nested-loop join (6 x |pairs|), then one rollup. Threshold
    membership compares the ROUNDED 6dp jaccard against double literals
    (round-before-filter; DuckDB bare 0.4 is DECIMAL — the oracle casts
    the spine to DOUBLE, lesson from the 1.0-literal gotcha).

    At 100 TB the pair graph is the already-sub-quadratic banding output;
    the curve is a constant-factor (x6) pass over it — never over the
    corpus.
    """
    pairs = dedup_minhash_banding_pairs(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    n = d.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    th = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(float(t)) for t in _SURV_THRESHOLDS])
        ).alias("threshold")
    )
    joined = th.crossJoin(n).join(
        pairs, F.col("jaccard_sim") >= F.col("threshold"), "left"
    )
    return joined.groupBy("threshold").agg(
        F.count("doc_a").cast("bigint").alias("n_pairs"),
        F.countDistinct("doc_b").cast("bigint").alias("n_removed"),
        (F.min("n_docs") - F.countDistinct("doc_b"))
        .cast("bigint")
        .alias("n_kept"),
    )


@query(
    "contamination_winnowing_train_test",
    oracle=f"""
    WITH {WINNOW_CTE_SQL},
    split AS (
      SELECT w.doc_id, d.source, w.fps,
        CASE WHEN CAST(CONCAT('0x', substr(md5('split:' || doc_id), 1, 8))
                  AS BIGINT) % 10 < 8
             THEN 1 ELSE 0 END AS is_train
      FROM winnow w JOIN documents d USING (doc_id)
    ),
    train_fps AS (
      SELECT DISTINCT unnest(fps) AS fp FROM split WHERE is_train = 1
    ),
    test_ex AS (
      SELECT doc_id, source, unnest(list_distinct(fps)) AS fp
      FROM split WHERE is_train = 0
    ),
    per_doc AS (
      SELECT t.doc_id, t.source,
        CAST(COUNT(tf.fp) AS BIGINT) AS n_shared
      FROM test_ex t LEFT JOIN train_fps tf ON t.fp = tf.fp
      GROUP BY 1, 2
    )
    SELECT source,
      CAST(COUNT(*) AS BIGINT) AS n_test_docs,
      CAST(COUNT(CASE WHEN n_shared >= 8 THEN 1 END) AS BIGINT)
        AS n_contaminated,
      ROUND(CAST(COUNT(CASE WHEN n_shared >= 8 THEN 1 END) AS DOUBLE)
            / COUNT(*), 6) AS contamination_rate,
      CAST(MAX(n_shared) AS BIGINT) AS max_shared_fps
    FROM per_doc GROUP BY source
    """,
)
def contamination_winnowing_train_test(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Tokenizer-free train/test contamination via winnowing fingerprints:
    split the corpus 80/20 on a portable md5 hash of doc_id, then flag
    test documents sharing >= 8 winnowing fingerprints (the MOSS bar
    dedup_winnowing_pairs verified as the real-overlap tail) with ANY
    training document. Character-gram fingerprints survive tokenizer
    changes and small edits — the complement of the 13-gram token-based
    contamination scorecard (contamination_train_test_ngrams).

    Plan shape: test fingerprints semi-join the DISTINCT train
    fingerprint SET (never train documents), so a boilerplate
    fingerprint held by 10^6 training docs contributes ONE row to the
    join side — no posting explosion by construction; the census is a
    per-source rollup of per-doc counts. The fingerprint frame is the
    session-memoized winnow_fps (one rolling-hash scan per session).

    Determinism: the split is md5-portable (replayed identically by the
    oracle), fingerprints are exact modular arithmetic, and the verdict
    is an integer count compare — nothing floats until the final rate.

    At 100 TB: the distinct-fp table is vocabulary-scale; both the
    distinct and the left join hash-partition on fp with map-side
    combine on (doc, fp).
    """
    fps = winnow_fps(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    is_train = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 10
        < 8
    )
    split = fps.join(d, "doc_id").select(
        "doc_id", "source", "fps", is_train.alias("is_train")
    )
    train_fps = (
        split.where(F.col("is_train"))
        .select(F.explode("fps").alias("fp"))
        .distinct()
    )
    test_ex = split.where(~F.col("is_train")).select(
        "doc_id", "source", F.explode(F.array_distinct("fps")).alias("fp")
    )
    tf = train_fps.select(F.col("fp").alias("_tfp"))
    per_doc = (
        test_ex.join(tf, F.col("fp") == F.col("_tfp"), "left")
        .groupBy("doc_id", "source")
        .agg(F.count("_tfp").cast("bigint").alias("n_shared"))
    )
    contaminated = F.count(F.when(F.col("n_shared") >= 8, 1))
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test_docs"),
        contaminated.cast("bigint").alias("n_contaminated"),
        F.round(
            contaminated.cast("double") / F.count(F.lit(1)), 6
        ).alias("contamination_rate"),
        F.max("n_shared").cast("bigint").alias("max_shared_fps"),
    )


# Paragraph-grain winnowing (queue item since r10): the SAME 8-char/window-4
# polynomial rolling hash as WINNOW_CTE_SQL, applied per 25-word block.
from .textops import _WIN_POWS as _PWIN_POWS  # noqa: E402

_PWIN_SQL_POWS = ", ".join(f"CAST({p} AS BIGINT)" for p in _PWIN_POWS)


@query(
    "contamination_paragraph_winnowing",
    oracle=f"""
    WITH {WINNOW_CTE_SQL},
    split AS (
      SELECT doc_id,
        CASE WHEN CAST(CONCAT('0x', substr(md5('split:' || doc_id), 1, 8))
                  AS BIGINT) % 10 < 8
             THEN 1 ELSE 0 END AS is_train
      FROM documents
    ),
    train_fps AS (
      SELECT DISTINCT unnest(w.fps) AS fp
      FROM winnow w JOIN split s USING (doc_id) WHERE s.is_train = 1
    ),
    test_norm AS (
      SELECT d.doc_id, d.source,
        list_filter(string_split(
          LOWER(regexp_replace(TRIM(d.text), '\\s+', ' ', 'g')), ' '),
          x -> x != '') AS toks
      FROM documents d JOIN split s USING (doc_id) WHERE s.is_train = 0
    ),
    paras AS (
      SELECT doc_id, source, pi,
        array_to_string(toks[CAST((pi - 1) * 25 + 1 AS INT)
                             :CAST(pi * 25 AS INT)], ' ') AS t
      FROM (
        SELECT doc_id, source, toks,
          unnest(range(1, CAST(ceil(len(toks) / 25.0) AS BIGINT) + 1)) AS pi
        FROM test_norm WHERE len(toks) > 0
      )
    ),
    pgrams AS (
      SELECT doc_id, source, pi,
        list_transform(
          range(1, length(t) - 6),
          i -> list_sum(list_transform(range(0, 8),
                 j -> (CAST(unicode(substring(t, CAST(i + j AS INT), 1))
                       AS BIGINT) % 2147483647)
                      * ([{_PWIN_SQL_POWS}][CAST(j + 1 AS INT)])
               )) % 2147483647
        ) AS hs
      FROM paras WHERE length(t) >= 11
    ),
    pfps AS (
      SELECT doc_id, source, pi,
        unnest(list_distinct(list_transform(range(1, len(hs) - 2),
          i -> list_min(hs[CAST(i AS INT):CAST(i + 3 AS INT)])))) AS fp
      FROM pgrams
    ),
    per_para AS (
      SELECT p.doc_id, p.source, p.pi,
        CAST(COUNT(tf.fp) AS BIGINT) AS n_shared
      FROM pfps p LEFT JOIN train_fps tf ON p.fp = tf.fp
      GROUP BY 1, 2, 3
    )
    SELECT source,
      CAST(COUNT(*) AS BIGINT) AS n_test_paras,
      CAST(COUNT(CASE WHEN n_shared >= 4 THEN 1 END) AS BIGINT)
        AS n_flagged_paras,
      ROUND(CAST(COUNT(CASE WHEN n_shared >= 4 THEN 1 END) AS DOUBLE)
            / COUNT(*), 6) AS para_rate,
      CAST(COUNT(DISTINCT CASE WHEN n_shared >= 4 THEN doc_id END)
           AS BIGINT) AS n_docs_hit
    FROM per_para GROUP BY source
    """,
)
def contamination_paragraph_winnowing(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PARAGRAPH-grain winnowing contamination: each 25-word block of a
    TEST document is fingerprinted with the same 8-char/window-4 rolling
    hash as the doc-grain entry and flagged when it shares >= 4
    fingerprints with the distinct TRAIN fingerprint set — localizing
    WHERE the leak sits (a quoted paragraph inside an otherwise-clean
    doc never trips the doc-grain >= 8 bar, but its block trips this
    one). The winnowing member of the paragraph family beside
    dedup_paragraph_exact_kept (exact) and
    dedup_paragraph_containment_pairs (shingle Jaccard).

    Plan: train fingerprints stay DOC-grain (the memoized winnow_fps
    scan — one rolling-hash pass per session, nothing recomputed);
    only the 20% test split pays the paragraph-grain hash. The
    semi-join hits the distinct train fp SET, so boilerplate can't
    explode postings (the doc-grain entry's argument, inherited).

    Determinism: md5-portable split, pure modular arithmetic hashes,
    integer count thresholds; paragraph boundaries are integer word
    offsets of the SAME normalization both engines apply.
    """
    from .textops import _WIN_M, _WIN_POWS

    d = load_table(spark, sf_dir, "documents")
    is_train = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 10
        < 8
    )
    split = d.select("doc_id", "source", "text", is_train.alias("is_train"))
    train_fps = (
        winnow_fps(spark, sf_dir)
        .join(split.where(F.col("is_train")).select("doc_id"), "doc_id")
        .select(F.explode("fps").alias("_tfp"))
        .distinct()
    )
    toks = F.filter(F.split(_NORM(F.col("text")), " "), lambda t: t != "")
    # r13 optimization: the per-paragraph rolling-hash HOF below is the
    # expensive part of this query, and the single-row-group documents scan
    # would evaluate it all in ONE task (guide §2.5 — the simhash
    # repartition precedent). Fan the test split out by doc_id first.
    test_norm = (
        split.where(~F.col("is_train"))
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select("doc_id", "source", toks.alias("toks"))
        .where(F.size("toks") > 0)
    )
    paras = test_norm.select(
        "doc_id",
        "source",
        F.explode(
            F.sequence(
                F.lit(1),
                F.ceil(F.size("toks") / F.lit(25.0)).cast("int"),
            )
        ).alias("pi"),
        "toks",
    ).select(
        "doc_id",
        "source",
        "pi",
        F.array_join(
            F.slice(F.col("toks"), (F.col("pi") - 1) * 25 + 1, 25), " "
        ).alias("t"),
    )
    pows = ", ".join(f"{p}L" for p in _WIN_POWS)
    hs_from_t = f"""
      transform(
        sequence(1, char_length(t) - 7),
        i -> aggregate(sequence(0, 7), 0L,
               (acc, j) -> acc + (CAST(ascii(substr(t, i + j, 1)) AS BIGINT) % {_WIN_M})
                           * element_at(array({pows}), CAST(j + 1 AS INT))
             ) % {_WIN_M}
      )
    """
    fps_from_hs = (
        "array_distinct(transform(sequence(1, size(hs) - 3),"
        " i -> array_min(slice(hs, i, 4))))"
    )
    pfps = (
        paras.where(F.expr("char_length(t) >= 11"))
        .select("doc_id", "source", "pi", F.expr(hs_from_t).alias("hs"))
        .select(
            "doc_id",
            "source",
            "pi",
            F.explode(F.expr(fps_from_hs)).alias("fp"),
        )
    )
    per_para = (
        pfps.join(train_fps, F.col("fp") == F.col("_tfp"), "left")
        .groupBy("doc_id", "source", "pi")
        .agg(F.count("_tfp").cast("bigint").alias("n_shared"))
    )
    hit = F.col("n_shared") >= 4
    return per_para.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test_paras"),
        F.count(F.when(hit, 1)).cast("bigint").alias("n_flagged_paras"),
        F.round(
            F.count(F.when(hit, 1)).cast("double") / F.count(F.lit(1)), 6
        ).alias("para_rate"),
        F.countDistinct(F.when(hit, F.col("doc_id")))
        .cast("bigint")
        .alias("n_docs_hit"),
    )


def _mh_err_oracle_sql() -> str:
    n = len(_PMH_PERMS24)
    matches = " + ".join(
        f"CASE WHEN sa.s{j} = sb.s{j} THEN 1 ELSE 0 END" for j in range(n)
    )
    jac = (
        "CAST(len(list_intersect(h1.sh, h2.sh)) AS DOUBLE)"
        " / (len(h1.sh) + len(h2.sh) - len(list_intersect(h1.sh, h2.sh)))"
    )
    band_exprs = ", ".join(
        f"CONCAT(CAST(s{2 * i} AS VARCHAR), ':', CAST(s{2 * i + 1} AS VARCHAR))"
        f" AS band{i}"
        for i in range(n // _PMH_R)
    )
    band_rows = " UNION ALL ".join(
        f"SELECT doc_id, {i} AS band_no, band{i} AS band_key FROM bands_wide"
        for i in range(n // _PMH_R)
    )
    return f"""{_pmh_sql_prefix(_PMH_PERMS24)}, bands_wide AS (
      SELECT doc_id, {band_exprs} FROM sigs
    ), sigs_long AS ({band_rows}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      FROM sigs_long a JOIN sigs_long b
        ON a.band_no = b.band_no AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ), verified AS (
      SELECT cand.d1, cand.d2, ROUND({jac}, 6) AS jac
      FROM cand
      JOIN shingles h1 ON cand.d1 = h1.doc_id
      JOIN shingles h2 ON cand.d2 = h2.doc_id
      WHERE {jac} >= 0.4
    ), errs AS (
      SELECT v.d1, v.d2, v.jac,
        CAST({matches} AS BIGINT) AS n_match
      FROM verified v
      JOIN sigs sa ON sa.doc_id = v.d1
      JOIN sigs sb ON sb.doc_id = v.d2
    )
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_pairs,
      ROUND(CAST(SUM(n_match) AS DOUBLE) / COUNT(*), 6)
        AS mean_match_count,
      ROUND(CAST(SUM(CAST(ROUND(
        ABS(CAST(n_match AS DOUBLE) / {n}.0 - jac), 6)
        AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6) AS mean_abs_err,
      ROUND(MAX(ABS(CAST(n_match AS DOUBLE) / {n}.0 - jac)), 6)
        AS max_abs_err
    FROM errs
    """


# (applicationId, sf_dir) -> eagerly-checkpointed (doc_id, s0..s23)
# signature frame off the persisted shingle sets. r13 optimization: the
# estimator-error query consumed the LAZY signature aggregation through BOTH
# join sides (two explode+24-min runs per invocation) and the b×r ablation
# re-checkpointed it per invocation (~0.8 s each at sf0.1) — one memoized
# checkpoint serves every warm rep of both. Content is deterministic
# (portable md5/affine mins); all consumers join/aggregate, so
# checkpoint-order differences cannot reach any result.
_SIG24_CACHE = SessionMemo("dedup.pmh_sig24", maxsize=8)


def _pmh_sig24(spark: SparkSession, sf_dir: str, hs_df: DataFrame) -> DataFrame:
    """24-perm signature frame off `hs_df`, memoized per (session, sf_dir).

    CONTRACT (r13 advice item 2): `hs_df` MUST be the canonical per-sf_dir
    shingle frame (_BANDING_PAIRS_CACHE[2]); the memo keys on sf_dir only,
    so a caller passing any other shingle frame for the same sf_dir would
    silently receive the canonical frame's signatures."""
    hit = _SIG24_CACHE.get(spark, sf_dir)
    if hit is not None:
        return hit
    sig = _pmh_signatures(hs_df, _PMH_PERMS24).localCheckpoint(eager=True)
    return _SIG24_CACHE.put(spark, sf_dir, sig)


@query("dedup_minhash_estimate_error", oracle=_mh_err_oracle_sql())
def dedup_minhash_estimate_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MEASURED estimator accuracy of the 24-permutation minhash
    signature on the verified banding pairs: the classic unbiased
    estimate J_hat = (#matching components)/24 compared against the
    exact shingle Jaccard each pair was verified with — the
    sketch-accuracy entry for the dedup stack (what sketch_bloom_fpr
    _exact is to Bloom filters): it tells a corpus team whether 24
    permutations justify skipping the exact verify at their threshold
    (expected |err| ~ sqrt(J(1-J)/24) ~ 0.10 at J=0.5).

    Rides the SessionMemo'd banding artifacts end-to-end: pairs from
    the verified pipeline, signatures re-aggregated from the persisted
    shingle sets (one cached scan, zero new fact passes). Match counts
    are exact integers; J_hat = k/24 is an exact rational both engines
    compute as the identical double; the error terms are round-6
    decimal-averaged.
    """
    pairs = dedup_minhash_banding_pairs(spark, sf_dir)
    hs_df = _BANDING_PAIRS_CACHE.get(spark, sf_dir)[2]
    sig = _pmh_sig24(spark, sf_dir, hs_df)
    n = len(_PMH_PERMS24)
    sa = sig.select(
        F.col("doc_id").alias("_a"), *[F.col(f"s{j}").alias(f"a{j}") for j in range(n)]
    )
    sb = sig.select(
        F.col("doc_id").alias("_b"), *[F.col(f"s{j}").alias(f"b{j}") for j in range(n)]
    )
    matches = sum(
        F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0)
        for j in range(n)
    )
    errs = (
        pairs.join(sa, F.col("doc_a") == F.col("_a"))
        .join(sb, F.col("doc_b") == F.col("_b"))
        .select(
            "jaccard_sim",
            matches.cast("bigint").alias("n_match"),
        )
    )
    err = F.abs(F.col("n_match").cast("double") / float(n) - F.col("jaccard_sim"))
    return errs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.round(
            F.sum("n_match").cast("double") / F.count(F.lit(1)), 6
        ).alias("mean_match_count"),
        F.round(
            F.sum(F.round(err, 6).cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_abs_err"),
        F.round(F.max(err), 6).alias("max_abs_err"),
    )


@query(
    "dedup_cluster_size_histogram",
    oracle=_banding_components_sql()
    + """
    , sizes AS (
      SELECT component, CAST(COUNT(*) AS BIGINT) AS sz
      FROM comp GROUP BY component
    )
    SELECT sz AS cluster_size,
      CAST(COUNT(*) AS BIGINT) AS n_clusters,
      CAST(SUM(sz) AS BIGINT) AS n_docs
    FROM sizes GROUP BY sz
    """,
)
def dedup_cluster_size_histogram(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Near-dup cluster SIZE distribution over the verified banding
    component graph: how many duplicate groups of each size exist, and
    how many documents they hold — the census a corpus team reads to
    choose between pair-level removal (long tail of 2-clusters) and
    component-level collapse (a few giant boilerplate clusters). Pure
    integer rollup riding the SessionMemo'd label-propagation fixpoint
    (zero new passes over anything); the oracle replays the whole
    pipeline including the recursive-CTE fixpoint.
    """
    comp = _banding_components(spark, sf_dir)
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("sz")
    )
    return sizes.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.sum("sz").cast("bigint").alias("n_docs"),
    )


_BR_CONFIGS = [(24, 1), (12, 2), (8, 3), (6, 4)]  # b bands x r rows = 24


def _br_ablation_oracle_sql() -> str:
    """Replay every (b, r) banding config over the same 24 signatures:
    per config, candidate pairs (any shared band) and verified pairs
    (exact shingle Jaccard >= 0.4)."""
    blocks = []
    for b, r in _BR_CONFIGS:
        band_rows = " UNION ALL ".join(
            "SELECT doc_id, {i} AS band_no, {key} AS band_key FROM sigs".format(
                i=i,
                key=" || ':' || ".join(
                    f"CAST(s{r * i + j} AS VARCHAR)" for j in range(r)
                ),
            )
            for i in range(b)
        )
        blocks.append(
            f"""
    SELECT {b} AS b, {r} AS r, a.doc_id AS d1, b2.doc_id AS d2
    FROM ({band_rows}) a JOIN ({band_rows}) b2
      ON a.band_no = b2.band_no AND a.band_key = b2.band_key
     AND a.doc_id < b2.doc_id
    GROUP BY 1, 2, 3, 4"""
        )
    all_cand = " UNION ALL ".join(blocks)
    jac = (
        "CAST(len(list_intersect(h1.sh, h2.sh)) AS DOUBLE)"
        " / (len(h1.sh) + len(h2.sh) - len(list_intersect(h1.sh, h2.sh)))"
    )
    return f"""{_pmh_sql_prefix(_PMH_PERMS24)}, cand AS ({all_cand}),
    verified AS (
      SELECT c.b, c.r,
        CAST(COUNT(*) AS BIGINT) AS n_candidates,
        CAST(SUM(CASE WHEN {jac} >= 0.4 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_verified
      FROM cand c
      JOIN shingles h1 ON c.d1 = h1.doc_id
      JOIN shingles h2 ON c.d2 = h2.doc_id
      GROUP BY c.b, c.r
    )
    SELECT
      CAST(b AS INT) AS b, CAST(r AS INT) AS r,
      n_candidates, n_verified,
      CASE WHEN n_candidates > 0 THEN
        ROUND(CAST(n_verified AS DOUBLE) / CAST(n_candidates AS DOUBLE), 6)
      END AS precision_at_04,
      ROUND(CAST(n_verified AS DOUBLE)
            / CAST(MAX(CASE WHEN r = 1 THEN n_verified END) OVER ()
                   AS DOUBLE), 6) AS recall_vs_b24r1,
      ROUND(POW(1.0 / b, 1.0 / r), 6) AS lsh_threshold
    FROM verified
    """


@query("dedup_banding_br_ablation", oracle=_br_ablation_oracle_sql())
def dedup_banding_br_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding-parameter ablation over the SAME 24-permutation minhash
    signatures: for every (b bands x r rows) factorization of 24 —
    (24,1), (12,2), (8,3), (6,4) — the candidate-pair volume, the pairs
    that survive the exact Jaccard >= 0.4 verify, precision, recall
    relative to the most permissive config, and the theoretical LSH
    S-curve threshold (1/b)^(1/r). This is the tuning table behind the
    production tier's b=12, r=2 choice (threshold ~0.29 for tau=0.4):
    r=1 floods candidates (threshold 0.04), r=4 starts missing true
    pairs. Completes the dedup ablation family beside the Jaccard-cut
    survivorship curve and the measured estimator error.

    Rides the SessionMemo'd banding artifacts: signatures re-aggregated
    once from the persisted shingle sets, ONE self-join over the
    all-config band table (config is part of the join key), the exact
    verify joins shingle sets only for DISTINCT candidate pairs. Counts
    are integers; the three ratios are single divisions, round-6.

    At 100 TB this is how b/r gets chosen before a full run: the ablation
    costs one signature pass plus band-key self-joins — it never touches
    text, and candidates stay bucket-bounded per config."""
    # fill the memo (and reuse everything if it is already warm)
    dedup_minhash_banding_pairs(spark, sf_dir)
    hs_df = _BANDING_PAIRS_CACHE.get(spark, sf_dir)[2]
    # four per-config band frames each consume sig: the memoized checkpoint
    # makes the explode+min aggregation over the shingle sets run once per
    # SESSION (shared with dedup_minhash_estimate_error), not once per
    # config or per invocation
    sig = _pmh_sig24(spark, sf_dir, hs_df)
    n = len(_PMH_PERMS24)
    cand = _SIG24_CACHE.get(spark, (sf_dir, "br_cand"))
    if cand is not None:
        return _br_ablation_tail(cand, hs_df)
    band_frames = []
    for b, r in _BR_CONFIGS:
        stack_args = []
        for i in range(b):
            key = F.concat_ws(
                ":", *[F.col(f"s{r * i + j}").cast("string") for j in range(r)]
            )
            stack_args.append((i, key))
        long = sig.select(
            F.lit(b).alias("b"),
            F.lit(r).alias("r"),
            "doc_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("band_no"), key.alias("band_key")
                        )
                        for i, key in stack_args
                    ]
                )
            ).alias("bb"),
        ).select("b", "r", "doc_id", "bb.band_no", "bb.band_key")
        band_frames.append(long)
    bands = band_frames[0]
    for bf in band_frames[1:]:
        bands = bands.unionByName(bf)
    a = bands.select("b", "r", F.col("doc_id").alias("d1"), "band_no", "band_key")
    b_ = bands.select("b", "r", F.col("doc_id").alias("d2"), "band_no", "band_key")
    cand = (
        a.join(b_, ["b", "r", "band_no", "band_key"])
        .where(F.col("d1") < F.col("d2"))
        .select("b", "r", "d1", "d2")
        .distinct()
        # r13: cand is consumed TWICE (the distinct pair set for the verify
        # AND the per-config rejoin) — the eager checkpoint cuts that
        # lineage. r14: the checkpoint is additionally MEMOIZED per
        # (session, sf_dir): the eager cut runs a JOB during DataFrame
        # construction, so every warm invocation was silently re-running
        # the 4-config band self-join + distinct (~1.8 s of the 2.3 s warm
        # rep — measured by splitting build vs count time). Content is
        # deterministic (portable md5/affine mins); candidate rows are 4
        # small ints, same footprint class as the signature memo above.
    )
    cand = _SIG24_CACHE.put(
        spark, (sf_dir, "br_cand"), cand.localCheckpoint(eager=True)
    )
    return _br_ablation_tail(cand, hs_df)


def _br_ablation_tail(cand: DataFrame, hs_df: DataFrame) -> DataFrame:
    """Verify + per-config rollup off the memoized candidate set."""
    # exact verify once per DISTINCT pair, then re-attach per config
    pair_ids = cand.select("d1", "d2").distinct()
    h1 = hs_df.select(F.col("doc_id").alias("d1"), F.col("sh").alias("sh1"))
    h2 = hs_df.select(F.col("doc_id").alias("d2"), F.col("sh").alias("sh2"))
    inter = F.size(F.array_intersect("sh1", "sh2")).cast("double")
    union = (F.size("sh1") + F.size("sh2")).cast("double") - inter
    verified_pairs = (
        pair_ids.join(h1, "d1")
        .join(h2, "d2")
        .select(
            "d1",
            "d2",
            F.when(inter / union >= 0.4, 1).otherwise(0).alias("is_dup"),
        )
    )
    per_cfg = (
        cand.join(verified_pairs, ["d1", "d2"])
        .groupBy("b", "r")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
            F.sum("is_dup").cast("bigint").alias("n_verified"),
        )
    )
    w_all = Window.partitionBy()
    base_verified = F.max(
        F.when(F.col("r") == 1, F.col("n_verified"))
    ).over(w_all)
    return per_cfg.select(
        F.col("b").cast("int").alias("b"),
        F.col("r").cast("int").alias("r"),
        "n_candidates",
        "n_verified",
        F.when(
            F.col("n_candidates") > 0,
            F.round(
                F.col("n_verified").cast("double")
                / F.col("n_candidates").cast("double"),
                6,
            ),
        ).alias("precision_at_04"),
        F.round(
            F.col("n_verified").cast("double") / base_verified.cast("double"),
            6,
        ).alias("recall_vs_b24r1"),
        F.round(
            F.pow(1.0 / F.col("b").cast("double"), 1.0 / F.col("r").cast("double")),
            6,
        ).alias("lsh_threshold"),
    )


def _star_contraction_components(pairs: DataFrame) -> DataFrame:
    """Connected components via alternating large-star / small-star edge
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) — O(log^2 n) rounds irrespective of diameter.

    _min_label_components' distributed loop (above its one-pass gate)
    needs DIAMETER rounds (the minimum travels one hop per round; a
    label-of-label shortcut collapses stale chains but does NOT speed the
    frontier). Dedup pair graphs are dense blobs of
    diameter 2-3, so the plain loop wins there; the DBSCAN core graph is
    a long spatial mesh (diameter ~70+ at sf0.1 — the plain loop cost
    24 s warm), where contraction wins decisively.

    Per round: large-star connects every neighbor v > u to
    m(u) = min(N(u) ∪ {u}); small-star connects every neighbor v <= u
    (and u) to m(u). Both preserve connectivity and strictly contract
    toward the star rooted at each component's minimum; fixpoint = edge
    set stable (checked with a count + xxhash64 checksum, one cheap agg
    per round). Every round's edge set is eagerly localCheckpointed —
    constant-size plans, blocks reclaimed by the ContextCleaner.

    Returns (doc_id, component) for every node IN the pair list, labeled
    by the component minimum — the same contract as
    _min_label_components."""
    E = (
        pairs.toDF("a", "b")
        .where(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        E.select(F.col("u").alias("node"))
        .unionByName(E.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def star(edges: DataFrame, large: bool) -> DataFrame:
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        joined = sym.join(m, "u")
        cond = F.col("v") > F.col("u") if large else F.col("v") <= F.col("u")
        out = joined.where(cond).select(
            F.least("v", "m").alias("u"), F.greatest("v", "m").alias("v")
        )
        if not large:
            out = out.unionByName(
                m.select(
                    F.least("u", "m").alias("u"),
                    F.greatest("u", "m").alias("v"),
                )
            )
        return (
            out.where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )

    def sig(edges: DataFrame):
        row = edges.agg(
            F.count(F.lit(1)).alias("c"),
            # DECIMAL(38,0): a BIGINT sum of 64-bit hashes overflows
            # under ANSI (lesson 28's shape)
            F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row["c"], row["h"])

    # Backstop (r12 advice): convergence is detected by a (count,
    # hash-sum) signature with no round cap, and the small-star here uses
    # min over ALL neighbors rather than the paper's exact formulation —
    # contraction is monotone in practice but unproven here, and a
    # signature collision could stop early or an oscillation loop forever.
    # 64 rounds = O(log² n) headroom for any graph that fits a cluster;
    # hitting it means non-monotone behavior worth a loud failure, not a
    # silent wrong answer.
    max_rounds = 64
    prev = sig(E)
    for _round in range(max_rounds):
        E = star(star(E, large=True), large=False)
        cur = sig(E)
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            "_star_contraction_components did not reach a fixpoint in "
            f"{max_rounds} rounds — non-monotone contraction or a "
            "signature oscillation; investigate before trusting labels"
        )
    labeled = (
        E.select(F.col("v").alias("node"), F.col("u").alias("label"))
        .groupBy("node")
        .agg(F.min("label").alias("label"))
    )
    return (
        nodes.join(labeled, "node", "left")
        .select(
            F.col("node").alias("doc_id"),
            F.coalesce(F.col("label"), F.col("node")).alias("component"),
        )
        .localCheckpoint(eager=True)
    )
