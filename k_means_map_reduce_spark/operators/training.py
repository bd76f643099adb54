"""Training-data pipeline queries: deterministic splits + decontamination.

The two ops every LLM pre-training pipeline runs after dedup/curation:

1. **Deterministic train/valid/test split** — a content-independent,
   engine-independent hash of the stable document key buckets each doc into
   0..99; 90/5/5 by bucket range. No sampling state, no shuffle: the split
   is a projection, reproducible from any engine that can compute md5
   (which is why md5 and not xxhash64 here — the split must be portable
   across the whole toolchain, not just Spark).

2. **Train/test contamination detection** — exact word-5-gram overlap
   between the test split and the train split (the standard n-gram
   decontamination check, cf. GPT-3 appendix C / PaLM app. queries).
   Inverted-index shape: explode distinct 5-gram hashes, drop
   stop-grams by posting-list cap, equi-join test postings against train
   postings on the gram hash, aggregate shared counts per (train, test)
   pair. Never a cross join — cost is sum of posting-list products, kept
   linear-ish by the df cap exactly as in dedup_winnowing_pairs.

Reference parity note: the reference engine (K-Means MapReduce) has no
text surface at all; these extend the driver-mandated LLM-pipeline family
(SURVEY.md §2b) alongside operators/dedup.py and operators/textops.py.

At 100 TB: the split is a stateless map (no shuffle, no skew); the
contamination join shuffles 8-byte gram hashes + doc ids only (never
text), partitioned by hash — the same plan as the winnowing pair join that
already holds at scale. The posting cap bounds worst-case fan-out per
gram, and the train-side df filter is computed with map-side partial
aggregation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .._memo import SessionMemo, memo_persist
from ..registry import query
from ..sources import load_table

_NORM = lambda c: F.lower(F.regexp_replace(F.trim(c), r"\s+", " "))  # noqa: E731

# Portable bucket: first 8 hex chars of md5(doc_id-as-string) → int → % 100.
# DuckDB mirror: CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)),1,8))
# AS BIGINT) % 100 — both engines agree digit-for-digit on md5 hex.
_SPLIT_SQL_BUCKET = (
    "CAST(CONCAT('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100"
)


def _bucket(doc_id: Column) -> Column:
    hex8 = F.substring(F.md5(doc_id.cast("string")), 1, 8)
    return (F.conv(hex8, 16, 10).cast("bigint") % 100).alias("bucket")


def _split(bucket: Column) -> Column:
    return (
        F.when(bucket < 90, F.lit("train"))
        .when(bucket < 95, F.lit("valid"))
        .otherwise(F.lit("test"))
    )


@query(
    "split_train_valid_test",
    oracle=f"""
    SELECT
      doc_id,
      CAST({_SPLIT_SQL_BUCKET} AS INT) AS bucket,
      CASE WHEN {_SPLIT_SQL_BUCKET} < 90 THEN 'train'
           WHEN {_SPLIT_SQL_BUCKET} < 95 THEN 'valid'
           ELSE 'test' END AS split
    FROM documents
    """,
)
def split_train_valid_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 90/5/5 split assignment. Pure projection: zero shuffle,
    zero state — assignment is stable under re-runs, repartitions, and
    engine changes (md5-based, not partition-order-based)."""
    d = load_table(spark, sf_dir, "documents")
    b = _bucket(F.col("doc_id"))
    return d.select(
        "doc_id",
        b.cast("int").alias("bucket"),
        _split(b).alias("split"),
    )


@query(
    "split_summary_by_lang",
    oracle=f"""
    SELECT
      CASE WHEN {_SPLIT_SQL_BUCKET} < 90 THEN 'train'
           WHEN {_SPLIT_SQL_BUCKET} < 95 THEN 'valid'
           ELSE 'test' END AS split,
      lang,
      COUNT(*) AS n_docs,
      CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT)
        AS total_tokens
    FROM documents
    GROUP BY 1, 2
    """,
)
def split_summary_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token budget per (split, lang): the sanity table checked before any
    training run. One scan + one hash aggregation with map-side partials;
    tokens counted with the BPE-ish pre-tokenizer regex
    (functions/text.token_count)."""
    from ..functions.text import token_count

    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(
            _split(_bucket(F.col("doc_id"))).alias("split"),
            "lang",
            token_count(F.col("text")).cast("bigint").alias("n_toks"),
        )
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_toks").alias("total_tokens"),
        )
    )


@query(
    "contamination_train_test_ngrams",
    oracle=f"""
    WITH base AS (
      SELECT doc_id,
        {_SPLIT_SQL_BUCKET} AS bucket,
        list_distinct(list_transform(
          list_transform(range(1, len(toks) - 3),
            i -> array_to_string(list_slice(toks, i, i + 4), ' ')),
          g -> hash(g))) AS gs
      FROM (
        SELECT doc_id,
          list_filter(string_split(LOWER(regexp_replace(TRIM(text), '\\s+', ' ', 'g')), ' '),
                      t -> t != '') AS toks
        FROM documents
      )
      WHERE len(toks) >= 5
    ),
    tr AS (SELECT doc_id, unnest(gs) AS g FROM base WHERE bucket < 90),
    te AS (SELECT doc_id, unnest(gs) AS g FROM base WHERE bucket >= 95),
    keep AS (SELECT g FROM tr GROUP BY g HAVING COUNT(*) <= 10)
    SELECT
      tr.doc_id AS train_doc,
      te.doc_id AS test_doc,
      COUNT(*) AS shared_ngrams
    FROM tr JOIN keep USING (g) JOIN te USING (g)
    GROUP BY 1, 2
    HAVING COUNT(*) >= 2
    """,
)
def contamination_train_test_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set contamination: (train_doc, test_doc) pairs sharing >= 2
    distinct word-5-grams. 5-grams are the published decontamination
    grain (rare enough to be evidence, short enough to survive edits);
    the >= 2 floor drops single-collocation coincidences.

    Cross-engine note: each engine hashes grams with its own 64-bit hash
    (xxhash64 vs DuckDB hash) — intersection *counts* agree because both
    sides of the join use the same function within an engine; only counts
    and ids are compared, never hash values.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(_NORM(F.col("text")), " "), lambda t: t != "")
    base = d.select(
        "doc_id", _bucket(F.col("doc_id")).alias("bucket"), toks.alias("toks")
    ).where(F.size("toks") >= 5)
    # distinct xxhash64'd word 5-grams (>= 5 tokens, so the sequence
    # ascends). Exploding the expression directly keeps `toks` a projected
    # column: a Project over it would be collapsed into the lambda.
    gs = F.explode(
        F.expr(
            "array_distinct(transform(sequence(1, size(toks) - 4),"
            " i -> xxhash64(array_join(slice(toks, i, 5), ' '))))"
        )
    ).alias("g")
    tr = base.where(F.col("bucket") < 90).select(F.col("doc_id").alias("train_doc"), gs)
    te = base.where(F.col("bucket") >= 95).select(F.col("doc_id").alias("test_doc"), gs)
    keep = (
        tr.groupBy("g")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") <= 10)
        .select("g")
    )
    return (
        tr.join(keep, "g")
        .join(te, "g")
        .groupBy("train_doc", "test_doc")
        .agg(F.count(F.lit(1)).alias("shared_ngrams"))
        .where(F.col("shared_ngrams") >= 2)
    )


_TOKEN_RE_SQL = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
_PACK_BUDGET = 2048  # tokens per packed training sequence
_PACK_BUCKET = 64  # docs per prefix-sum bucket (phase-1 granularity)


@query(
    "training_pack_sequences",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
        CAST(len(regexp_extract_all(text, '{_TOKEN_RE_SQL}')) AS BIGINT) AS n_toks
      FROM documents
      WHERE {_SPLIT_SQL_BUCKET} < 90
    ),
    pre AS (
      SELECT doc_id, n_toks,
        COALESCE(SUM(n_toks) OVER (
          ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
        ), 0) AS start_tok
      FROM toks
    )
    SELECT
      CAST(CAST(start_tok AS BIGINT) // {_PACK_BUDGET} AS BIGINT) AS seq_id,
      COUNT(*) AS n_docs,
      CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
      MIN(doc_id) AS first_doc_id,
      MAX(doc_id) AS last_doc_id
    FROM pre
    GROUP BY 1
    """,
)
def training_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential sequence packing: assign train-split docs, in doc_id order,
    to fixed token-budget sequences (a doc starts in the sequence its running
    token offset falls into — the deterministic packing real pre-training
    shard writers use).

    The core is a GLOBAL prefix sum over document order, which a naive
    `Window.orderBy(doc_id)` would serialize onto one task. Scale shape
    instead is the classic two-phase distributed scan:
      1. bucket docs by `doc_id div {_PACK_BUCKET}`; per-bucket token totals
         are a map-side-partial hash agg;
      2. the tiny bucket-totals table (n_docs/{_PACK_BUCKET} rows) gets the
         exclusive cumsum — the only ordered pass, over data ~2 orders of
         magnitude smaller (recurse the same trick if even that outgrows a
         task);
      3. broadcast the bucket offsets back and finish with a PER-BUCKET
         window — parallel across buckets, each task scanning only its
         bucket.
    Token offsets are identical to the single-window plan (oracle proves it)
    while the widest stage stays embarrassingly parallel.
    """
    from pyspark.sql import Window

    from ..functions.text import token_count

    d = load_table(spark, sf_dir, "documents")
    # Key the fan-out by the pack-bucket expression itself: alias-aware
    # output partitioning lets the per-bucket groupBy and window below reuse
    # this ONE exchange, and the token_count regex (the dominant cost)
    # parallelizes instead of running on the testdata's single row group.
    d = d.repartition(
        spark.sparkContext.defaultParallelism, F.expr(f"doc_id div {_PACK_BUCKET}")
    )
    toks = (
        d.where(_split(_bucket(F.col("doc_id"))) == "train")
        .select(
            "doc_id",
            token_count(F.col("text")).cast("bigint").alias("n_toks"),
            F.expr(f"doc_id div {_PACK_BUCKET}").alias("pb"),
        )
    )
    bucket_tot = toks.groupBy("pb").agg(F.sum("n_toks").alias("btot"))
    w_buckets = Window.orderBy("pb").rowsBetween(Window.unboundedPreceding, -1)
    offsets = bucket_tot.select(
        "pb",
        F.coalesce(F.sum("btot").over(w_buckets), F.lit(0)).alias("offset"),
    )
    w_in = (
        Window.partitionBy("pb")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = (
        toks.join(F.broadcast(offsets), "pb")
        .withColumn(
            "start_tok",
            F.col("offset") + F.coalesce(F.sum("n_toks").over(w_in), F.lit(0)),
        )
        .withColumn("seq_id", F.expr(f"start_tok div {_PACK_BUDGET}"))
    )
    return packed.groupBy("seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_toks").alias("total_tokens"),
        F.min("doc_id").alias("first_doc_id"),
        F.max("doc_id").alias("last_doc_id"),
    )


@query(
    "training_sampling_weights",
    oracle=f"""
    WITH lt AS (
      SELECT lang,
        CAST(SUM(CAST(len(regexp_extract_all(text, '{_TOKEN_RE_SQL}')) AS BIGINT))
          AS BIGINT) AS n_tokens
      FROM documents
      GROUP BY lang
    ),
    s AS (
      SELECT lang, n_tokens,
        ROUND(sqrt(CAST(n_tokens AS DOUBLE)), 6) AS s
      FROM lt
    ),
    tot AS (SELECT CAST(SUM(CAST(s AS DECIMAL(18,6))) AS DOUBLE) AS tot FROM s)
    SELECT lang, n_tokens, ROUND(s / tot, 6) AS weight
    FROM s, tot
    """,
)
def training_sampling_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled per-language sampling weights: w_l ∝ n_tokens_l^α
    with α = 0.5 (the multilingual rebalancing rule, cf. mBERT/XLM-R
    exponential smoothing) — up-weights low-resource languages relative to
    proportional sampling.

    α is fixed at 0.5 so the power is `sqrt`, which IEEE-754 requires to be
    correctly rounded — Spark (JVM) and DuckDB (libm) produce bit-identical
    doubles, keeping the query hash-checkable; a general pow() is not
    correctly rounded and may drift an ulp across engines. The normalizer is
    a broadcast scalar join (no collect); decimal-summed for order
    insensitivity.
    """
    from ..functions.text import token_count

    d = load_table(spark, sf_dir, "documents")
    lt = d.groupBy("lang").agg(
        F.sum(token_count(F.col("text")).cast("bigint")).alias("n_tokens")
    )
    s = lt.select(
        "lang",
        "n_tokens",
        F.round(F.sqrt(F.col("n_tokens").cast("double")), 6).alias("s"),
    )
    tot = s.agg(
        F.sum(F.col("s").cast("decimal(18,6)")).cast("double").alias("tot")
    )
    return s.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_tokens",
        F.round(F.col("s") / F.col("tot"), 6).alias("weight"),
    )


@query(
    "sample_deterministic_stratified_docs",
    oracle="""
    SELECT lang, COUNT(*) AS n_sampled,
      MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
    FROM documents
    WHERE CAST(CONCAT('0x', substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 8))
          AS BIGINT) % 1000
          < CASE lang WHEN 'en' THEN 100 ELSE 500 END
    GROUP BY lang
    """,
)
def sample_deterministic_stratified_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling by language: keep a doc iff a salted
    content-independent hash of its id falls under the stratum's rate (10%
    for en, 50% for low-resource languages — the rebalancing direction
    training_sampling_weights computes). Unlike RNG `sampleBy` (registered
    rows-only as sample_stratified_orders — sampling RNGs never match across
    engines), the hash gate is reproducible from ANY engine, so the sample
    itself is oracle-checkable. The salt ('sample:') decorrelates this
    decision from the md5 split buckets — reusing the split hash would bias
    the sample toward one split. Pure projection + filter: no shuffle before
    the accounting agg, trivially parallel at any scale.
    """
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("sample:"), F.col("doc_id").cast("string"))), 1, 8),
            16,
            10,
        ).cast("bigint")
        % 1000
    )
    rate = F.when(F.col("lang") == "en", F.lit(100)).otherwise(F.lit(500))
    return (
        d.where(bucket < rate)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


@query(
    "training_epoch_shuffle",
    oracle="""
    WITH keyed AS (
      SELECT
        doc_id,
        e.epoch,
        md5(CAST(e.epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS ord_key
      FROM documents, (SELECT UNNEST([0, 1, 2]) AS epoch) e
    )
    SELECT
      epoch,
      doc_id,
      CAST(ROW_NUMBER() OVER (PARTITION BY epoch ORDER BY ord_key) AS BIGINT)
        AS position
    FROM keyed
    """,
)
def training_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch corpus shuffling: every epoch gets an
    independent, reproducible permutation by ordering on
    md5(epoch || ':' || doc_id) — the distributed answer to "shuffle the
    dataset differently each epoch" that needs no RNG state, survives
    retries/restarts bit-identically, and any engine can replay (md5, not
    engine-local xxhash/rand).

    Scale shape: the hash is a projection; the per-epoch ordering is one
    range-partitioned sort per epoch over (epoch, key) pairs only. In a
    real loader `position` becomes the read order within each epoch's
    shard: sort by key and the permutation falls out of the write, no
    global row_number needed.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    epochs = spark.range(3).select(F.col("id").cast("int").alias("epoch"))
    keyed = d.crossJoin(F.broadcast(epochs)).select(
        "epoch",
        "doc_id",
        F.md5(
            F.concat_ws(":", F.col("epoch").cast("string"), F.col("doc_id").cast("string"))
        ).alias("ord_key"),
    )
    w = Window.partitionBy("epoch").orderBy("ord_key")
    return keyed.select(
        "epoch", "doc_id", F.row_number().over(w).cast("long").alias("position")
    )


@query(
    "training_negative_pairs",
    oracle="""
    WITH n AS (SELECT COUNT(*) AS n_docs FROM documents),
    base AS (SELECT doc_id, lang FROM documents),
    cand AS (
      SELECT
        b.doc_id AS anchor_id,
        CAST((b.doc_id * 2654435761 + j.j * 40503) % n.n_docs AS BIGINT)
          AS negative_id,
        j.j AS neg_rank
      FROM base b, (SELECT UNNEST([1, 2, 3, 4]) AS j) j, n
    )
    SELECT c.anchor_id, c.negative_id, c.neg_rank, d.lang AS negative_lang
    FROM cand c
    JOIN documents d ON d.doc_id = c.negative_id
    WHERE c.negative_id != c.anchor_id
    """,
)
def training_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: each
    anchor doc gets 4 pseudo-random negatives via a Knuth-style
    multiplicative hash over the dense doc_id space — no RNG, no
    cross join (the candidate set is anchor x 4, joined back to the
    corpus on the computed id).

    At 100 TB the join is the standard broadcast-or-shuffle equi-join on
    negative_id; candidate generation is a bounded explode (x4) of the
    anchor projection. Self-pairs are dropped (a doc must never be its
    own negative); collision with a true positive is the downstream
    filter's job (here: none, synthetic ids are unlabeled pairs).
    """
    d = load_table(spark, sf_dir, "documents")
    n_docs = d.count()
    base = d.select("doc_id")
    j = spark.range(1, 5).select(F.col("id").cast("int").alias("neg_rank"))
    cand = base.crossJoin(F.broadcast(j)).select(
        F.col("doc_id").alias("anchor_id"),
        (
            (F.col("doc_id") * F.lit(2654435761) + F.col("neg_rank") * F.lit(40503))
            % F.lit(n_docs)
        ).cast("long").alias("negative_id"),
        "neg_rank",
    )
    return (
        cand.where(F.col("negative_id") != F.col("anchor_id"))
        .join(
            d.select(F.col("doc_id").alias("negative_id"), F.col("lang").alias("negative_lang")),
            "negative_id",
        )
        .select("anchor_id", "negative_id", "neg_rank", "negative_lang")
    )


@query(
    "corpus_to_training_pipeline",
    oracle="""
    WITH scored AS (
      SELECT doc_id, lang, text, {QUALITY} AS quality FROM documents
    ),
    gated AS (
      SELECT * FROM scored WHERE quality >= 0.75
    ),
    scrubbed AS (
      SELECT doc_id, lang, quality,
        regexp_replace(
          regexp_replace(
            regexp_replace(text, '{EMAIL}', '<EMAIL>', 'g'),
            '{IPV4}', '<IP>', 'g'),
          '{PHONE}', '<PHONE>', 'g') AS clean
      FROM gated
    ),
    deduped AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY md5(clean) ORDER BY doc_id
        ) AS rn FROM scrubbed
      ) WHERE rn = 1
    ),
    split_assigned AS (
      SELECT *,
        CASE WHEN {BUCKET} < 90 THEN 'train'
             WHEN {BUCKET} < 95 THEN 'valid'
             ELSE 'test' END AS split
      FROM deduped
    )
    SELECT
      split,
      lang,
      COUNT(*) AS n_docs,
      CAST(SUM(CAST(len(regexp_extract_all(clean, '{TOKEN}')) AS BIGINT)) AS BIGINT)
        AS total_tokens,
      CAST(SUM(CAST(quality AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_quality
    FROM split_assigned
    GROUP BY split, lang
    """,
)
def corpus_to_training_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole curation chain as ONE dataflow: quality gate (>= 0.75, ~median of this corpus) →
    PII scrub → exact dedup (keep lowest doc_id per scrubbed-content hash)
    → 90/5/5 split assignment → per-(split, lang) doc/token/quality
    summary. What a reference user would actually run nightly; every stage
    is the already-oracled operator, composed.

    Plan shape at 100 TB: gate + scrub + hash are one codegen scan; dedup
    is one shuffle on the 16-byte content hash (row_number, no payload
    re-shuffle); split is a projection; the summary is a partial-agg
    rollup over (split, lang) — two shuffles total, end to end.
    """
    from ..functions.text import quality_score, token_count
    from .textops import _PII_EMAIL, _PII_IPV4, _PII_PHONE

    d = load_table(spark, sf_dir, "documents")
    gated = d.select(
        # round-6 BEFORE gating/summing: the oracle's QUALITY_SQL mirror is
        # ROUND(...,6), and the decimal-sum recipe needs both engines to see
        # the same doubles (operators/_util.py)
        "doc_id", "lang", "text",
        F.round(quality_score(F.col("text")), 6).alias("quality"),
    ).where(F.col("quality") >= 0.75)
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("text"), _PII_EMAIL, "<EMAIL>"),
            _PII_IPV4,
            "<IP>",
        ),
        _PII_PHONE,
        "<PHONE>",
    )
    scrubbed = gated.select("doc_id", "lang", "quality", clean.alias("clean"))
    w = Window.partitionBy(F.md5("clean")).orderBy("doc_id")
    deduped = scrubbed.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") == 1
    )
    b = _bucket(F.col("doc_id"))
    assigned = deduped.withColumn("split", _split(b))
    return assigned.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("clean")).cast("bigint")).alias("total_tokens"),
        (
            F.sum(F.col("quality").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_quality"),
    )


# The oracle above is assembled from the module-level mirrors at import
# time (QUALITY_SQL lives in textops, the token regex in its module).
def _finalize_pipeline_oracle() -> None:
    from ..registry import ORACLES
    from .textops import QUALITY_SQL, _PII_EMAIL, _PII_IPV4, _PII_PHONE, _TOKEN_RE

    ORACLES["corpus_to_training_pipeline"] = (
        ORACLES["corpus_to_training_pipeline"]
        .replace("{QUALITY}", QUALITY_SQL)
        .replace("{EMAIL}", _PII_EMAIL)
        .replace("{IPV4}", _PII_IPV4)
        .replace("{PHONE}", _PII_PHONE)
        .replace("{BUCKET}", _SPLIT_SQL_BUCKET)
        .replace("{TOKEN}", _TOKEN_RE)
    )


_finalize_pipeline_oracle()


@query(
    "sample_topk_per_group_docs",
    oracle="""
    WITH ranked AS (
      SELECT
        doc_id, lang,
        ROW_NUMBER() OVER (
          PARTITION BY lang
          ORDER BY md5('rsv:' || CAST(doc_id AS VARCHAR)), doc_id
        ) AS rk
      FROM documents
    )
    SELECT doc_id, lang, rk FROM ranked WHERE rk <= 5
    """,
)
def sample_topk_per_group_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group reservoir sampling: exactly 5 documents per
    language, chosen by smallest salted-md5 key — the distributed,
    restart-stable replacement for per-group reservoir sampling (a hash
    rank is a uniform draw, but reproducible from any engine, unlike RNG
    state).

    Scale shape: rank-<=-k filters over a window push down as a group
    TOP-K (Spark's WindowGroupLimit keeps a 5-row heap per group inside
    each task before the shuffle), so the full per-group sort never
    happens — per-partition work is O(n log k), shuffle carries at most
    k rows per (group, input partition).
    """
    d = load_table(spark, sf_dir, "documents")
    key = F.md5(F.concat(F.lit("rsv:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("lang").orderBy(key, "doc_id")
    return (
        d.select("doc_id", "lang", F.row_number().over(w).cast("long").alias("rk"))
        .where(F.col("rk") <= 5)
    )


@query(
    "training_dataset_mixture",
    oracle="""
    WITH weighted AS (
      SELECT
        doc_id, source,
        CASE source WHEN 'src0' THEN 4.0 WHEN 'src1' THEN 2.0 ELSE 1.0 END AS w,
        ROW_NUMBER() OVER (
          PARTITION BY source
          ORDER BY md5('mix:' || CAST(doc_id AS VARCHAR)), doc_id
        ) AS rk
      FROM documents
    ), scheduled AS (
      SELECT
        doc_id, source,
        CAST(rk AS DOUBLE) / w AS mix_pos,
        ROW_NUMBER() OVER (
          ORDER BY CAST(rk AS DOUBLE) / w, md5('mix:' || CAST(doc_id AS VARCHAR)), doc_id
        ) AS schedule_pos
      FROM weighted
    )
    SELECT doc_id, source, CAST(schedule_pos AS BIGINT) AS schedule_pos
    FROM scheduled
    WHERE schedule_pos <= 100
    """,
)
def training_dataset_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic multi-source mixture scheduling (the Pile/Dolma-style
    interleave): each source gets a target weight (src0:4, src1:2,
    rest:1); documents are shuffled WITHIN source by salted md5, assigned
    mixture position rank/weight, and merged into one global training
    order where a weight-4 source appears 4x as often per unit of
    schedule — the first 100 scheduled docs are returned as the check.

    Scale shape: the per-source shuffle/rank partitions by source; the
    global schedule is a sort by (rank/weight) — at 100 TB you'd write
    range-partitioned shards of the schedule rather than one total order,
    but the ORDER is the deliverable either way (restart-stable, no RNG
    state). The head-100 filter becomes a TakeOrderedAndProject — no full
    sort materializes locally either.
    """
    d = load_table(spark, sf_dir, "documents")
    w = (
        F.when(F.col("source") == "src0", F.lit(4.0))
        .when(F.col("source") == "src1", F.lit(2.0))
        .otherwise(F.lit(1.0))
    )
    key = F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string")))
    rk = F.row_number().over(Window.partitionBy("source").orderBy(key, "doc_id"))
    weighted = d.select("doc_id", "source", w.alias("w"), key.alias("k")).withColumn(
        "rk", rk
    )
    mix_pos = F.col("rk").cast("double") / F.col("w")
    scheduled = weighted.select(
        "doc_id",
        "source",
        F.row_number()
        .over(Window.orderBy(mix_pos, "k", "doc_id"))
        .cast("long")
        .alias("schedule_pos"),
    )
    return scheduled.where(F.col("schedule_pos") <= 100)


@query(
    "text_rag_chunks",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
        list_filter(string_split_regex(TRIM(LOWER(text)), '\\s+'), t -> t != '') AS ws
      FROM documents
    ), chunk_lists AS (
      SELECT doc_id, len(ws) AS n_toks,
        list_transform(
          range(CAST(CASE WHEN len(ws) <= 64 THEN 1
                     ELSE 1 + CAST(ceil((len(ws) - 64) / 48.0) AS BIGINT) END AS BIGINT)),
          i -> struct_pack(
            idx := i,
            n := least(64, len(ws) - i*48),
            h := md5(array_to_string(list_slice(ws, i*48 + 1, i*48 + 64), ' '))
          )
        ) AS ch
      FROM toks
      WHERE len(ws) > 0
    )
    SELECT
      doc_id,
      CAST(u.c.idx AS BIGINT) AS chunk_idx,
      CAST(u.c.n AS BIGINT) AS chunk_tokens,
      u.c.h AS chunk_hash
    FROM chunk_lists, UNNEST(ch) AS u(c)
    """,
)
def text_rag_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style document chunking: 64-token windows with a 48-token stride
    (16-token overlap so no retrieval-relevant span straddles a boundary
    unseen), emitting per-chunk token counts and content hashes — the
    chunk table an embedding/retrieval pipeline indexes.

    Scale shape: chunking is one array expression inside the scan
    projection (slice windows over the token array; no per-token explode),
    and each chunk leaves the executor as a 16-byte md5 + 2 ints — the
    chunk TEXT never shuffles. Chunk count per doc is
    1 + ceil((n-64)/48), identical arithmetic in both engines.
    """
    # chunk windows are higher-order array expressions (CodegenFallback);
    # fan out the single-row-group scan so hashing parallelizes (same
    # rationale as dedup_shared_chunk_fraction)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    d = d.repartition(spark.sparkContext.defaultParallelism)
    toks = F.filter(F.split(F.trim(F.lower("text")), r"\s+"), lambda t: t != "")
    # the lambda reads the projected `toks` column, so each chunk slices the
    # token array instead of re-splitting the text
    chunks = F.expr(
        "transform(sequence(0, CASE WHEN size(toks) <= 64 THEN 0"
        " ELSE CAST(ceil((size(toks) - 64) / 48.0) AS INT) END),"
        " i -> named_struct('idx', i, 'n', least(64, size(toks) - i * 48),"
        " 'h', md5(concat_ws(' ', slice(toks, i * 48 + 1, 64)))))"
    )
    return (
        d.select("doc_id", toks.alias("toks"))
        .where(F.size("toks") > 0)
        .select("doc_id", F.explode(chunks).alias("c"))
        .select(
            "doc_id",
            F.col("c.idx").cast("long").alias("chunk_idx"),
            F.col("c.n").cast("long").alias("chunk_tokens"),
            F.col("c.h").alias("chunk_hash"),
        )
    )


@query(
    "sample_weighted_reservoir_docs",
    oracle="""
    WITH h AS (
      SELECT lang, doc_id, n_chars,
             CAST(CONCAT('0x', substr(md5('wrs:' || CAST(doc_id AS VARCHAR)),
                                      1, 15)) AS BIGINT) AS hv
      FROM documents WHERE n_chars > 0
    ), keyed AS (
      SELECT lang, doc_id, n_chars,
             ROUND(LN((CAST(hv AS DOUBLE) + 1.0) / 1152921504606846976.0), 6)
               / CAST(n_chars AS DOUBLE) AS k
      FROM h
    ), ranked AS (
      SELECT lang, doc_id, n_chars, k,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY k DESC, doc_id)
               AS rk
      FROM keyed
    )
    SELECT lang, CAST(rk AS INT) AS rk, doc_id, n_chars,
           ROUND(k, 9) AS sample_key
    FROM ranked WHERE rk <= 10
    """,
)
def sample_weighted_reservoir_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, 10 docs per language with
    inclusion probability proportional to length (n_chars), via the
    Efraimidis-Spirakis A-ES reservoir key — u^(1/w), ranked here in the
    log domain (ln(u)/w, same order) with a PORTABLE md5-derived uniform
    u in (0, 1]. Deterministic replay: unlike rand()-based sampleBy, the
    sample is a pure function of the data, so DuckDB reproduces it row
    for row (the sample_deterministic_stratified_docs contract, upgraded
    from Bernoulli to weighted-without-replacement).

    Float discipline: ln is the one libm call — rounded to 6dp before the
    weight division (ranking uses the rounded key in BOTH engines, so the
    order is identical by construction; doc_id breaks 6dp ties).

    Scale shape: pure expression scan (hash, ln, divide) + per-lang top-k
    (WindowGroupLimit pushes the k=10 cut below the sort at every
    partition) — no global sort, no RNG state, restart-safe.
    """
    d = load_table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    hv = F.conv(
        F.substring(F.md5(F.concat(F.lit("wrs:"), F.col("doc_id").cast("string"))), 1, 15),
        16,
        10,
    ).cast("bigint")
    u = (hv.cast("double") + F.lit(1.0)) / F.lit(1152921504606846976.0)
    k = F.round(F.log(u), 6) / F.col("n_chars").cast("double")
    keyed = d.select("lang", "doc_id", "n_chars", k.alias("k"))
    w = Window.partitionBy("lang").orderBy(F.desc("k"), "doc_id")
    return (
        keyed.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= 10)
        .select("lang", "rk", "doc_id", "n_chars", F.round("k", 9).alias("sample_key"))
    )


@query(
    "drift_length_ks_train_test",
    oracle=f"""
    WITH split AS (
      SELECT n_chars,
             CASE WHEN {_SPLIT_SQL_BUCKET} < 90 THEN 'train' ELSE 'test' END
               AS split
      FROM documents
    ), counts AS (
      SELECT n_chars,
             SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS n_tr,
             SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS n_te
      FROM split GROUP BY n_chars
    ), cum AS (
      SELECT n_chars,
             SUM(n_tr) OVER (ORDER BY n_chars) AS c_tr,
             SUM(n_te) OVER (ORDER BY n_chars) AS c_te,
             SUM(n_tr) OVER () AS t_tr,
             SUM(n_te) OVER () AS t_te
      FROM counts
    ), gaps AS (
      SELECT n_chars,
             ABS(CAST(c_tr AS DOUBLE) / CAST(t_tr AS DOUBLE)
                 - CAST(c_te AS DOUBLE) / CAST(t_te AS DOUBLE)) AS gap,
             t_tr, t_te
      FROM cum
    ), top AS (
      SELECT n_chars, gap, t_tr, t_te,
             ROW_NUMBER() OVER (ORDER BY gap DESC, n_chars) AS rk
      FROM gaps
    )
    SELECT CAST(t_tr AS BIGINT) AS n_train,
           CAST(t_te AS BIGINT) AS n_test,
           ROUND(gap, 6) AS ks_statistic,
           n_chars AS ks_at_length,
           ROUND(gap / SQRT((CAST(t_tr AS DOUBLE) + CAST(t_te AS DOUBLE))
                            / (CAST(t_tr AS DOUBLE) * CAST(t_te AS DOUBLE))),
                 6) AS ks_scaled
    FROM top WHERE rk = 1
    """,
)
def drift_length_ks_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift test on document length
    between the portable train/test split: D = sup |ECDF_train -
    ECDF_test| plus the sample-size-scaled statistic D/sqrt((n+m)/(nm))
    (compare to ~1.36 for alpha = 0.05) — the distribution-free
    counterpart of drift_lang_distribution_train_test's chi-square. The
    ECDF gap is computed on INTEGER cumulative counts at each observed
    length (the exact sup for step functions — no binning); sqrt is the
    only transcendental.

    Scale shape: one (n_chars, split) rollup off the corpus, cumulative
    sums over the distinct-lengths table, a top-1 argmax.
    """
    d = load_table(spark, sf_dir, "documents")
    split = F.when(_bucket(F.col("doc_id")) < 90, "train").otherwise("test")
    counts = d.select("n_chars", split.alias("split")).groupBy("n_chars").agg(
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).alias("n_tr"),
        F.sum(F.when(F.col("split") == "test", 1).otherwise(0)).alias("n_te"),
    )
    wc = Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.partitionBy()
    cum = counts.select(
        "n_chars",
        F.sum("n_tr").over(wc).alias("c_tr"),
        F.sum("n_te").over(wc).alias("c_te"),
        F.sum("n_tr").over(wall).alias("t_tr"),
        F.sum("n_te").over(wall).alias("t_te"),
    )
    gap = F.abs(
        F.col("c_tr").cast("double") / F.col("t_tr").cast("double")
        - F.col("c_te").cast("double") / F.col("t_te").cast("double")
    )
    wrk = Window.orderBy(gap.desc(), "n_chars")
    top = cum.select(
        "n_chars", gap.alias("gap"), "t_tr", "t_te", F.row_number().over(wrk).alias("rk")
    ).where(F.col("rk") == 1)
    scale = F.sqrt(
        (F.col("t_tr").cast("double") + F.col("t_te").cast("double"))
        / (F.col("t_tr").cast("double") * F.col("t_te").cast("double"))
    )
    return top.select(
        F.col("t_tr").cast("long").alias("n_train"),
        F.col("t_te").cast("long").alias("n_test"),
        F.round("gap", 6).alias("ks_statistic"),
        F.col("n_chars").alias("ks_at_length"),
        F.round(F.col("gap") / scale, 6).alias("ks_scaled"),
    )


@query(
    "contamination_scorecards_by_domain",
    oracle=f"""
    WITH base AS (
      SELECT doc_id,
        {_SPLIT_SQL_BUCKET} AS bucket,
        list_distinct(list_transform(
          list_transform(range(1, len(toks) - 3),
            i -> array_to_string(list_slice(toks, i, i + 4), ' ')),
          g -> hash(g))) AS gs
      FROM (
        SELECT doc_id,
          list_filter(string_split(LOWER(regexp_replace(TRIM(text), '\\s+', ' ', 'g')), ' '),
                      t -> t != '') AS toks
        FROM documents
      )
      WHERE len(toks) >= 5
    ),
    tr AS (SELECT doc_id, unnest(gs) AS g FROM base WHERE bucket < 90),
    te AS (SELECT doc_id, unnest(gs) AS g FROM base WHERE bucket >= 95),
    keep AS (SELECT g FROM tr GROUP BY g HAVING COUNT(*) <= 10),
    pairs AS (
      SELECT tr.doc_id AS train_doc, te.doc_id AS test_doc,
             COUNT(*) AS shared_ngrams
      FROM tr JOIN keep USING (g) JOIN te USING (g)
      GROUP BY 1, 2
      HAVING COUNT(*) >= 2
    ),
    train_docs AS (
      SELECT source, COUNT(*) AS n_train_docs
      FROM documents WHERE {_SPLIT_SQL_BUCKET} < 90
      GROUP BY 1
    ),
    hits AS (
      SELECT d.source,
             COUNT(DISTINCT p.train_doc) AS contaminated_train_docs,
             COUNT(DISTINCT p.test_doc) AS test_docs_hit,
             CAST(SUM(p.shared_ngrams) AS BIGINT) AS total_shared_ngrams
      FROM pairs p JOIN documents d ON d.doc_id = p.train_doc
      GROUP BY 1
    )
    SELECT t.source,
           t.n_train_docs,
           COALESCE(h.contaminated_train_docs, 0) AS contaminated_train_docs,
           COALESCE(h.test_docs_hit, 0) AS test_docs_hit,
           COALESCE(h.total_shared_ngrams, 0) AS total_shared_ngrams,
           ROUND(CAST(COALESCE(h.contaminated_train_docs, 0) AS DOUBLE)
                 / t.n_train_docs, 6) AS contamination_rate
    FROM train_docs t LEFT JOIN hits h ON t.source = h.source
    """,
)
def contamination_scorecards_by_domain(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-domain contamination scorecard: the decontamination report a data
    lead actually reads — for each train SOURCE, how many of its documents
    leak >= 2 distinct 5-grams into the test split, how many test docs they
    touch, and the contamination rate. Composes the oracled
    contamination_train_test_ngrams pair table with the source dimension;
    domains with zero hits still report (LEFT join), so a silent all-clean
    scorecard is distinguishable from a missing domain.

    Scale shape: the pair generation is the existing inverted-index join
    (gram hashes + ids shuffle, never text); the scorecard itself is two
    tiny rollups over |pairs| and |sources| rows. The rate divides exact
    bigints in double — deterministic cross-engine.
    """
    pairs = contamination_train_test_ngrams(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", _bucket(F.col("doc_id")).alias("bucket")
    )
    train_docs = (
        d.where(F.col("bucket") < 90)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_train_docs"))
    )
    hits = (
        pairs.join(
            d.select(F.col("doc_id").alias("train_doc"), "source"),
            "train_doc",
        )
        .groupBy("source")
        .agg(
            F.countDistinct("train_doc").alias("contaminated_train_docs"),
            F.countDistinct("test_doc").alias("test_docs_hit"),
            F.sum("shared_ngrams").alias("total_shared_ngrams"),
        )
    )
    return train_docs.join(hits, "source", "left").select(
        "source",
        "n_train_docs",
        F.coalesce("contaminated_train_docs", F.lit(0)).alias(
            "contaminated_train_docs"
        ),
        F.coalesce("test_docs_hit", F.lit(0)).alias("test_docs_hit"),
        F.coalesce("total_shared_ngrams", F.lit(0)).alias(
            "total_shared_ngrams"
        ),
        F.round(
            F.coalesce("contaminated_train_docs", F.lit(0)).cast("double")
            / F.col("n_train_docs"),
            6,
        ).alias("contamination_rate"),
    )


_FFD_GROUPS = 16  # packing groups; at scale pick ~corpus_size/10k so each
# group's doc list stays collectable by one task.


@query(
    "training_pack_ffd_bins",
    oracle=f"""
    WITH RECURSIVE toks AS (
      SELECT doc_id,
        CAST(CONCAT('0x', substr(md5('pack:' || CAST(doc_id AS VARCHAR)), 1, 8))
             AS BIGINT) % {_FFD_GROUPS} AS grp,
        CAST(len(regexp_extract_all(text, '{_TOKEN_RE_SQL}')) AS BIGINT)
          AS n_toks
      FROM documents
      WHERE {_SPLIT_SQL_BUCKET} < 90
    ),
    ordered AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY grp
                                   ORDER BY n_toks DESC, doc_id) AS rn
      FROM toks
    ),
    ffd AS (
      SELECT grp, rn, doc_id, n_toks,
             CAST(0 AS INT) AS bin_id,
             [greatest({_PACK_BUDGET} - n_toks, CAST(0 AS BIGINT))] AS rems
      FROM ordered WHERE rn = 1
      UNION ALL
      SELECT t.grp, t.rn, t.doc_id, t.n_toks,
        CAST(CASE WHEN COALESCE(list_position(
                 list_transform(f.rems, r -> r >= t.n_toks), true), 0) = 0
             THEN len(f.rems)
             ELSE list_position(
                 list_transform(f.rems, r -> r >= t.n_toks), true) - 1
        END AS INT) AS bin_id,
        CASE WHEN COALESCE(list_position(
                 list_transform(f.rems, r -> r >= t.n_toks), true), 0) = 0
             THEN list_append(f.rems,
                              greatest({_PACK_BUDGET} - t.n_toks,
                                       CAST(0 AS BIGINT)))
             ELSE list_transform(range(1, len(f.rems) + 1),
                    i -> CASE WHEN i = list_position(
                           list_transform(f.rems, r -> r >= t.n_toks), true)
                         THEN f.rems[i] - t.n_toks ELSE f.rems[i] END)
        END AS rems
      FROM ffd f JOIN ordered t ON t.grp = f.grp AND t.rn = f.rn + 1
    )
    SELECT grp, bin_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS bin_tokens,
           MIN(doc_id) AS first_doc_id
    FROM ffd
    GROUP BY 1, 2
    """,
)
def training_pack_ffd_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-boundary bin packing v2: FIRST-FIT-DECREASING within hash
    groups — no document ever crosses a sequence boundary (v1,
    training_pack_sequences, splits docs at the budget line; v2 trades
    ~11/9-OPT bin count for intact documents, the packing used when
    attention must not cross doc boundaries).

    Within each of {_FFD_GROUPS} salted-md5 groups, docs sort by
    (tokens desc, doc_id) and each goes into the FIRST open bin with room,
    else opens a new bin; oversize docs (> {_PACK_BUDGET} tokens) get a
    dedicated bin. FFD is inherently sequential-per-group (the bin state
    is a random-access list), so the group fold runs as grouped Arrow
    applyInPandas — the same justified Python boundary as
    events_ewma_per_user; everything before it (token counts, grouping)
    is expression-side. The oracle REPLAYS the exact fold as a DuckDB
    recursive CTE carrying the open-bin list in a LIST column.

    Scale shape: parallelism = groups; group size is bounded by choosing
    the group count from the corpus size (constant here for oracle
    parity), and only (doc_id, n_toks) reaches Python — never text.
    """
    from ..functions.text import token_count

    d = load_table(spark, sf_dir, "documents")
    d = d.repartition(spark.sparkContext.defaultParallelism)
    toks = d.where(_split(_bucket(F.col("doc_id"))) == "train").select(
        "doc_id",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("pack:"), F.col("doc_id").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % _FFD_GROUPS
        ).alias("grp"),
        token_count(F.col("text")).cast("bigint").alias("n_toks"),
    )

    def pack(pdf):
        import pandas as pd

        pdf = pdf.sort_values(
            ["n_toks", "doc_id"], ascending=[False, True]
        ).reset_index(drop=True)
        rems: list[int] = []
        assign: list[int] = []
        for nt in pdf["n_toks"]:
            nt = int(nt)
            for i, r in enumerate(rems):
                if r >= nt:
                    rems[i] = r - nt
                    assign.append(i)
                    break
            else:
                assign.append(len(rems))
                rems.append(max(_PACK_BUDGET - nt, 0))
        pdf["bin_id"] = pd.Series(assign, dtype="int32")
        out = (
            pdf.groupby("bin_id", as_index=False)
            .agg(
                grp=("grp", "first"),
                n_docs=("doc_id", "size"),
                bin_tokens=("n_toks", "sum"),
                first_doc_id=("doc_id", "min"),
            )
        )
        return out[["grp", "bin_id", "n_docs", "bin_tokens", "first_doc_id"]]

    return toks.groupBy("grp").applyInPandas(
        pack,
        schema="grp bigint, bin_id int, n_docs bigint, bin_tokens bigint, "
        "first_doc_id bigint",
    )


@query(
    "training_curriculum_buckets",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
        CAST(len(regexp_extract_all(text, '{_TOKEN_RE_SQL}')) AS BIGINT)
          AS n_toks
      FROM documents
      WHERE {_SPLIT_SQL_BUCKET} < 90
    ),
    staged AS (
      SELECT *,
        CAST(NTILE(5) OVER (ORDER BY n_toks, doc_id) AS BIGINT) AS stage
      FROM toks
    )
    SELECT stage,
           COUNT(*) AS n_docs,
           CAST(MIN(n_toks) AS BIGINT) AS min_toks,
           CAST(MAX(n_toks) AS BIGINT) AS max_toks,
           CAST(SUM(n_toks) AS BIGINT) AS stage_tokens,
           COUNT(DISTINCT lang) AS n_langs,
           MIN(doc_id) AS first_doc_id
    FROM staged
    GROUP BY stage
    """,
)
def training_curriculum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum staging: train-split documents quintiled by length
    (token count — the standard easy-to-hard difficulty proxy for
    curriculum learning) into 5 ordered stages, with per-stage token
    budgets and language coverage — the schedule table an epoch planner
    consumes to feed short documents first. NTILE over (n_toks, doc_id)
    is a total order, so the stage assignment is engine-independent;
    everything else is exact integer aggregation.

    Scale shape: token counting is the one data-sized pass; the NTILE
    needs a global sort of (n_toks, doc_id) pairs only — at scale, swap
    the exact NTILE for the distributed two-phase prefix-sum rank
    (training_pack_sequences' recipe) over the same pairs; the stage
    summary is a 5-row rollup either way.
    """
    from ..functions.text import token_count

    d = load_table(spark, sf_dir, "documents")
    d = d.repartition(spark.sparkContext.defaultParallelism)
    toks = d.where(_split(_bucket(F.col("doc_id"))) == "train").select(
        "doc_id",
        "lang",
        token_count(F.col("text")).cast("bigint").alias("n_toks"),
    )
    w = Window.orderBy("n_toks", "doc_id")
    staged = toks.select(
        "doc_id", "lang", "n_toks", F.ntile(5).over(w).cast("long").alias("stage")
    )
    return staged.groupBy("stage").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_toks").alias("min_toks"),
        F.max("n_toks").alias("max_toks"),
        F.sum("n_toks").alias("stage_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        F.min("doc_id").alias("first_doc_id"),
    )


@query(
    "features_target_encoding_loo",
    oracle="""
    WITH cat AS (
      SELECT o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n_cat,
             SUM(CAST(ROUND(o_totalprice, 6) AS DECIMAL(18,6))) AS s_cat
      FROM orders GROUP BY 1
    )
    SELECT
      o_orderkey,
      o.o_orderpriority AS priority,
      n_cat,
      ROUND(
        CASE WHEN n_cat > 1
          THEN CAST(s_cat - CAST(ROUND(o_totalprice, 6) AS DECIMAL(18,6)) AS DOUBLE)
               / (n_cat - 1)
        END, 6) AS loo_enc
    FROM orders o JOIN cat USING (o_orderpriority)
    """,
)
def features_target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAVE-ONE-OUT target encoding — the standard high-cardinality
    categorical feature for gradient-boosted / linear models: each row's
    category is replaced by the mean target of all OTHER rows in that
    category, (S_cat - y_i) / (n_cat - 1), which avoids the self-leakage
    of plain mean encoding. Single-member categories yield NULL (no
    leak-free estimate exists; a trainer would back off to the global
    prior).

    Cross-engine float discipline: S_cat is a DECIMAL(18,6) sum (order-
    independent), the subtraction stays decimal-exact, and only the final
    quotient is IEEE double (identical operands -> identical bits).

    At 100 TB: one 5-row aggregate + a join AQE turns into a broadcast —
    the fact never shuffles; per-row encoding is a pure projection. For a
    catalog-scaling category (e.g. per-customer) the same plan holds with
    a shuffle join on the category key.
    """
    o = load_table(spark, sf_dir, "orders")
    y6 = F.round(F.col("o_totalprice"), 6).cast("decimal(18,6)")
    cat = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cat"),
        F.sum(y6).alias("s_cat"),
    )
    return o.join(cat, "o_orderpriority").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        "n_cat",
        F.round(
            F.when(
                F.col("n_cat") > 1,
                (F.col("s_cat") - y6).cast("double") / (F.col("n_cat") - 1),
            ),
            6,
        ).alias("loo_enc"),
    )


@query(
    "drift_psi_totalprice_train_test",
    oracle="""
    WITH assigned AS (
      SELECT o_totalprice,
        CASE WHEN CAST(CONCAT('0x', substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90
             THEN 'train' ELSE 'heldout' END AS split
      FROM orders
    ),
    bounds AS (
      SELECT MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx FROM assigned
    ),
    binned AS (
      SELECT split,
        CASE WHEN mx = mn THEN 0
             ELSE CAST(LEAST(FLOOR((o_totalprice - mn) / ((mx - mn) / 10.0)), 9) AS INT)
        END AS bucket
      FROM assigned, bounds
    ),
    counts AS (
      SELECT bucket,
        CAST(COUNT(*) FILTER (WHERE split = 'train') AS BIGINT) AS n_train,
        CAST(COUNT(*) FILTER (WHERE split = 'heldout') AS BIGINT) AS n_heldout
      FROM binned GROUP BY bucket
    ),
    tot AS (
      SELECT CAST(SUM(n_train) AS DOUBLE) AS t_train,
             CAST(SUM(n_heldout) AS DOUBLE) AS t_heldout
      FROM counts
    ),
    terms AS (
      SELECT bucket, n_train, n_heldout,
        ROUND(n_train / t_train, 6) AS rate_train,
        ROUND(n_heldout / t_heldout, 6) AS rate_heldout,
        CASE WHEN n_train > 0 AND n_heldout > 0
          THEN ROUND((n_train / t_train - n_heldout / t_heldout)
                     * LN((n_train / t_train) / (n_heldout / t_heldout)), 6)
          ELSE 0.0 END AS psi_term
      FROM counts CROSS JOIN tot
    )
    SELECT bucket, n_train, n_heldout, rate_train, rate_heldout, psi_term,
      ROUND(CAST(SUM(CAST(psi_term AS DECIMAL(18,6))) OVER () AS DOUBLE), 5)
        AS psi_total
    FROM terms
    """,
)
def drift_psi_totalprice_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the train split and the held-out
    rest over equi-width o_totalprice deciles — the industry-standard
    drift score (PSI < 0.1 stable, 0.1-0.25 watch, > 0.25 act) that
    completes the drift battery beside the chi-square composition test
    (drift_lang_distribution_train_test) and the two-sample KS
    (drift_length_ks_train_test).

    PSI = sum_bins (p_train - p_heldout) * ln(p_train / p_heldout).
    Determinism: identical data-derived mn/mx doubles -> identical bin
    edges in both engines (the histogram_order_totalprice recipe); rates
    are IEEE divisions of integer counts; each ln term is rounded to 6dp
    then decimal-summed (the transcendental discipline, lesson 10). An
    empty bin on either side contributes 0 (the counts columns keep the
    degeneracy visible; production practice is epsilon-smoothing, which
    would bury it).

    At 100 TB: two narrow passes over the pruned two-column scan — one
    for the 1-row bounds aggregate (broadcast back), one for the bucket
    counts (counts then feeds both the totals aggregate and the term
    projection, relying on exchange reuse). Persisting the full scan to
    save the second pass would cost more than it saves at scale; the
    psi_total window runs over 10 rows.
    """
    o = load_table(spark, sf_dir, "orders")
    assigned = o.select(
        "o_totalprice",
        F.when(_bucket(F.col("o_orderkey")) < 90, "train")
        .otherwise("heldout")
        .alias("split"),
    )
    bounds = assigned.agg(
        F.min("o_totalprice").alias("mn"), F.max("o_totalprice").alias("mx")
    )
    width = (F.col("mx") - F.col("mn")) / 10.0
    bucket = (
        F.when(F.col("mx") == F.col("mn"), F.lit(0))
        .otherwise(
            F.least(F.floor((F.col("o_totalprice") - F.col("mn")) / width), F.lit(9))
        )
        .cast("int")
    )
    counts = (
        assigned.crossJoin(F.broadcast(bounds))
        .select(bucket.alias("bucket"), "split")
        .groupBy("bucket")
        .agg(
            F.count(F.when(F.col("split") == "train", 1)).cast("bigint").alias("n_train"),
            F.count(F.when(F.col("split") == "heldout", 1))
            .cast("bigint")
            .alias("n_heldout"),
        )
    )
    tot = counts.agg(
        F.sum("n_train").cast("double").alias("t_train"),
        F.sum("n_heldout").cast("double").alias("t_heldout"),
    )
    pt = F.col("n_train") / F.col("t_train")
    ph = F.col("n_heldout") / F.col("t_heldout")
    terms = counts.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "n_train",
        "n_heldout",
        F.round(pt, 6).alias("rate_train"),
        F.round(ph, 6).alias("rate_heldout"),
        F.when(
            (F.col("n_train") > 0) & (F.col("n_heldout") > 0),
            F.round((pt - ph) * F.log(pt / ph), 6),
        )
        .otherwise(0.0)
        .alias("psi_term"),
    )
    return terms.select(
        "*",
        F.round(
            F.sum(F.col("psi_term").cast("decimal(18,6)"))
            .over(Window.partitionBy())
            .cast("double"),
            5,
        ).alias("psi_total"),
    )


_DSIR_BUCKETS = 4096  # hashed-bigram feature space (DSIR's n-gram buckets)


# (applicationId, sf_dir) -> persisted (doc, lang, bucket, n) DSIR feature
# rollup: bucket totals AND the weight join both consume it (one tokenize+
# explode pass instead of two). SessionMemo unpersists on eviction.
_DSIR_CACHE = SessionMemo("training.dsir_docb")


@query(
    "training_dsir_importance_weights",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
        list_filter(string_split(LOWER(regexp_replace(TRIM(text), '\\s+', ' ', 'g')), ' '),
                    t -> t != '') AS toks
      FROM documents
    ),
    bg AS (
      SELECT doc_id, lang,
        CAST(CONCAT('0x', substr(md5('dsir:' ||
          array_to_string(list_slice(toks, i, i + 1), ' ')), 1, 8)) AS BIGINT)
          % {_DSIR_BUCKETS} AS b
      FROM (
        SELECT doc_id, lang, toks, UNNEST(range(1, len(toks))) AS i
        FROM toks WHERE len(toks) >= 2
      )
    ),
    cnts AS (
      SELECT b,
        COUNT(*) AS cp,
        COUNT(CASE WHEN lang = 'en' THEN 1 END) AS ct
      FROM bg GROUP BY 1
    ),
    tots AS (
      SELECT CAST(SUM(cp) AS BIGINT) AS tp, CAST(SUM(ct) AS BIGINT) AS tt
      FROM cnts
    ),
    w AS (
      SELECT b,
        ROUND(LN(CAST((ct + 1) * (tp + {_DSIR_BUCKETS}) AS DOUBLE)
                 / CAST((cp + 1) * (tt + {_DSIR_BUCKETS}) AS DOUBLE)), 6) AS wb
      FROM cnts CROSS JOIN tots
    ),
    docb AS (
      SELECT doc_id, lang, b, COUNT(*) AS n FROM bg GROUP BY 1, 2, 3
    )
    SELECT doc_id, lang,
      CAST(SUM(n) AS BIGINT) AS n_bigrams,
      CAST(SUM(n * CAST(wb AS DECIMAL(18,6))) AS DOUBLE) AS log_weight
    FROM docb JOIN w USING (b)
    GROUP BY 1, 2
    """,
)
def training_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Xie et al., Data Selection via
    Importance Resampling): per-document log importance
    log p_target(x) - log p_proxy(x) under hashed-bigram bag models —
    target = the English slice, proxy = the whole corpus; documents whose
    bigram profile looks target-like score high and would be upsampled.

    Features are word bigrams hashed into {b} buckets with the PORTABLE
    md5 family (never xxhash64 — no second engine could replay it);
    bucket weights are add-1-smoothed log count ratios folded into ONE
    ln per bucket (integer products stay < 2^53, so both engines see the
    identical double argument), rounded to 6dp then decimal-summed with
    per-doc bucket multiplicities (lesson 10's transcendental
    discipline, the text_unigram_cross_entropy recipe verbatim).

    At 100 TB: the weight table is at most {b} rows (broadcast-sized by
    construction, independent of corpus size); docs reduce to (doc,
    bucket) counts before the join, so text never shuffles. The (doc,
    bucket) rollup is PERSISTED and both the bucket totals and the final
    join derive from it — the tokenize+explode pass runs ONCE (it was
    the plan's dominant cost and ran twice when cnts and docb each read
    the raw bigram stream; at cluster scale materialize this rollup to
    parquet instead of executor storage).
    """
    cached = _DSIR_CACHE.get(spark, sf_dir)
    if cached is not None:
        docb = cached[0]
    else:
        d = load_table(spark, sf_dir, "documents")
        toks = F.filter(F.split(_NORM(F.col("text")), " "), lambda t: t != "")
        base = d.select("doc_id", "lang", toks.alias("toks")).where(
            F.size("toks") >= 2
        )
        gram = F.array_join(
            F.slice(F.col("toks"), F.col("i"), 2), " "
        )
        bucket = (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("dsir:"), gram)), 1, 8
                ), 16, 10
            ).cast("bigint")
            % _DSIR_BUCKETS
        )
        bg = base.select(
            "doc_id",
            "lang",
            F.explode(F.sequence(F.lit(1), F.size("toks") - 1)).alias("i"),
            "toks",
        ).select("doc_id", "lang", bucket.alias("b"))
        docb = (
            bg.groupBy("doc_id", "lang", "b")
            .agg(F.count(F.lit(1)).alias("n"))
            .persist()
        )
        _DSIR_CACHE.put(spark, sf_dir, (docb,))
    # bucket totals derive from the rollup (sum of per-doc multiplicities
    # == raw bigram counts), so the exploded stream is never re-read
    cnts = docb.groupBy("b").agg(
        F.sum("n").alias("cp"),
        F.sum(F.when(F.col("lang") == "en", F.col("n")).otherwise(0)).alias(
            "ct"
        ),
    )
    tots = cnts.agg(
        F.sum("cp").cast("bigint").alias("tp"),
        F.sum("ct").cast("bigint").alias("tt"),
    )
    wb = F.round(
        F.log(
            ((F.col("ct") + 1) * (F.col("tp") + _DSIR_BUCKETS)).cast("double")
            / ((F.col("cp") + 1) * (F.col("tt") + _DSIR_BUCKETS)).cast("double")
        ),
        6,
    )
    w = cnts.crossJoin(F.broadcast(tots)).select("b", wb.alias("wb"))
    return (
        docb.join(w, "b")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("n").alias("n_bigrams"),
            # no further rounding: the decimal sum is exact, so its double
            # cast is already bit-identical cross-engine (a 4dp ROUND here
            # measured a .00005 half-tie divergence at sf0.001)
            F.sum(F.col("n") * F.col("wb").cast("decimal(18,6)"))
            .cast("double")
            .alias("log_weight"),
        )
    )


@query(
    "contamination_13gram_scorecard",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, source,
        {_SPLIT_SQL_BUCKET} AS bucket,
        list_distinct(list_transform(
          list_transform(range(1, len(toks) - 11),
            i -> array_to_string(list_slice(toks, i, i + 12), ' ')),
          g -> hash(g))) AS gs
      FROM (
        SELECT doc_id, source,
          list_filter(string_split(LOWER(regexp_replace(TRIM(text), '\\s+', ' ', 'g')), ' '),
                      t -> t != '') AS toks
        FROM documents
      )
      WHERE len(toks) >= 13
    ),
    te AS (SELECT doc_id, source, unnest(gs) AS g FROM base WHERE bucket >= 95),
    tr AS (SELECT doc_id, unnest(gs) AS g FROM base WHERE bucket < 90),
    hits AS (
      SELECT te.source, te.doc_id AS test_doc,
        COUNT(*) AS shared, COUNT(DISTINCT tr.doc_id) AS n_train_docs
      FROM te JOIN tr USING (g)
      GROUP BY 1, 2
    ),
    test_docs AS (
      SELECT source, COUNT(*) AS n_test_docs
      FROM base WHERE bucket >= 95 GROUP BY 1
    )
    SELECT t.source, t.n_test_docs,
      COUNT(h.test_doc) AS contaminated_test_docs,
      COALESCE(CAST(SUM(h.shared) AS BIGINT), 0) AS total_shared_13grams,
      ROUND(CAST(COUNT(h.test_doc) AS DOUBLE) / CAST(t.n_test_docs AS DOUBLE),
            6) AS contamination_rate
    FROM test_docs t LEFT JOIN hits h ON h.source = t.source
    GROUP BY 1, 2
    """,
)
def contamination_13gram_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-contamination scorecard v2 at the 13-GRAM grain — the published
    GPT-3/PaLM decontamination standard (a shared 13-token span is
    essentially conclusive memorization evidence, so unlike the 5-gram
    tier there is no >=2 floor and no document-frequency cap): per
    source, how many of its TEST docs share any 13-gram with the train
    split. Sources with zero hits still report via the LEFT join — an
    all-clean scorecard is distinguishable from a missing source.

    Cross-engine note: grams hash with each engine's own 64-bit hash
    (intersection counts agree; hash values never compared — the
    contamination_train_test_ngrams contract).

    At 100 TB: distinct 13-gram digests + ids shuffle (never text); the
    train side of the join is the only fact-scale relation and it joins
    on the gram digest — an inverted-index equi-join, no quadratic path.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(_NORM(F.col("text")), " "), lambda t: t != "")
    base = (
        d.select("doc_id", "source", toks.alias("toks"))
        .where(F.size("toks") >= 13)
        .select(
            "doc_id",
            "source",
            _bucket(F.col("doc_id")).alias("bucket"),
            # greatest(...,1): the >=13 filter already excludes short docs,
            # but ANSI vectorized eval can compute this projection on
            # pre-filter rows (lesson 19) — a descending sequence through 0
            # would crash slice(start=0)
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.greatest(F.size("toks") - 12, F.lit(1))),
                    lambda i: F.xxhash64(
                        F.array_join(F.slice(F.col("toks"), i, 13), " ")
                    ),
                )
            ).alias("gs"),
        )
    )
    te = base.where(F.col("bucket") >= 95).select(
        "source", F.col("doc_id").alias("test_doc"), F.explode("gs").alias("g")
    )
    tr = base.where(F.col("bucket") < 90).select(
        F.col("doc_id").alias("train_doc"), F.explode("gs").alias("g")
    )
    hits = (
        te.join(tr, "g")
        .groupBy("source", "test_doc")
        .agg(
            F.count(F.lit(1)).alias("shared"),
            F.countDistinct("train_doc").alias("n_train_docs"),
        )
    )
    test_docs = (
        base.where(F.col("bucket") >= 95)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_test_docs"))
    )
    return (
        test_docs.join(hits, "source", "left")
        .groupBy("source", "n_test_docs")
        .agg(
            F.count("test_doc").alias("contaminated_test_docs"),
            F.coalesce(F.sum("shared"), F.lit(0)).alias("total_shared_13grams"),
            F.round(
                F.count("test_doc").cast("double")
                / F.col("n_test_docs").cast("double"),
                6,
            ).alias("contamination_rate"),
        )
    )


# (applicationId, sf_dir) -> persisted unigram-LM vocab for the perplexity
# mixture (corpus total + scoring join both consume it).
_PPL_VOCAB_CACHE = SessionMemo("training.ppl_vocab")


@query(
    "training_perplexity_mixture",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
        unnest(list_filter(string_split_regex(TRIM(LOWER(text)), '\\s+'), t -> t != ''))
          AS tok
      FROM documents
      WHERE {_SPLIT_SQL_BUCKET} < 90
    ),
    vocab AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
    total AS (SELECT CAST(SUM(CAST(cnt AS BIGINT)) AS BIGINT) AS n_total FROM vocab),
    scored AS (
      SELECT t.doc_id, COUNT(*) AS n_tokens,
        ROUND(
          ln(CAST(n_total AS DOUBLE))
          - CAST(SUM(CAST(ROUND(ln(CAST(v.cnt AS DOUBLE)), 6) AS DECIMAL(18,6))) AS DOUBLE)
            / COUNT(*), 4) AS ce
      FROM toks t JOIN vocab v USING (tok) CROSS JOIN total
      GROUP BY t.doc_id, n_total
    ),
    staged AS (
      SELECT *, CAST(NTILE(5) OVER (ORDER BY ce, doc_id) AS BIGINT) AS bucket
      FROM scored
    ),
    tot2 AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS all_toks FROM staged)
    SELECT bucket,
      COUNT(*) AS n_docs,
      CAST(SUM(n_tokens) AS BIGINT) AS bucket_tokens,
      ROUND(CAST(SUM(n_tokens) AS DOUBLE) / CAST(all_toks AS DOUBLE), 6)
        AS token_share,
      ROUND(CAST(SUM(CAST(ce AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 4)
        AS avg_ce
    FROM staged CROSS JOIN tot2
    GROUP BY bucket, all_toks
    """,
)
def training_perplexity_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-bucketed training mixture (the CCNet head/middle/tail
    recipe, at quintile grain): score every train doc with the unigram-LM
    cross-entropy proxy, split into 5 NTILE buckets over (score, doc_id),
    and report each bucket's doc count, token mass, and mean score — the
    table a pretraining data lead uses to set mixture weights.

    Reuses text_unigram_cross_entropy's float discipline end-to-end
    (round-6 ln -> decimal mean, final score at 4dp); the NTILE order is
    total (rounded score, then doc_id) so bucket membership cannot flip
    on a ulp; bucket means re-aggregate the ROUNDED 4dp scores as
    decimals.

    At 100 TB: the LM fits in one vocab aggregation (Heaps' law), scoring
    is one explode->join->reduce pass, and the NTILE runs over the
    per-DOC score rollup. Its single-task global sort swaps for a
    two-phase range partition at extreme doc counts.
    """
    d = load_table(spark, sf_dir, "documents").where(
        _bucket(F.col("doc_id")) < 90
    )
    toks_arr = F.filter(F.split(F.trim(F.lower("text")), r"\s+"), lambda t: t != "")
    toks = d.select("doc_id", F.explode(toks_arr).alias("tok"))
    cached = _PPL_VOCAB_CACHE.get(spark, sf_dir)
    if cached is not None:
        vocab = cached[0]
    else:
        # persisted: the LM vocab (Heaps-law small) is consumed by the
        # corpus total AND the scoring join — unpersisted, EACH consumer
        # re-runs the tokenize+explode+agg subtree (scan-audit finding,
        # lesson 27). This is also the scale-correct persist target: the
        # vocab stays broadcastable while the token stream never would.
        vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt")).persist()
        _PPL_VOCAB_CACHE.put(spark, sf_dir, (vocab,))
    total = vocab.agg(F.sum("cnt").cast("long").alias("n_total"))
    scored = (
        toks.join(vocab, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id", "n_total")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (
                F.sum(
                    F.round(F.log(F.col("cnt").cast("double")), 6).cast(
                        "decimal(18,6)"
                    )
                ).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_ln_cnt"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                F.log(F.col("n_total").cast("double")) - F.col("mean_ln_cnt"), 4
            ).alias("ce"),
        )
    )
    staged = scored.select(
        "doc_id",
        "n_tokens",
        "ce",
        F.ntile(5).over(Window.orderBy("ce", "doc_id")).cast("bigint").alias(
            "bucket"
        ),
    )
    tot2 = staged.agg(F.sum("n_tokens").cast("bigint").alias("all_toks"))
    return (
        staged.crossJoin(F.broadcast(tot2))
        .groupBy("bucket", "all_toks")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("bucket_tokens"),
            F.round(
                F.sum("n_tokens").cast("double") / F.col("all_toks").cast("double"),
                6,
            ).alias("token_share"),
            F.round(
                F.sum(F.col("ce").cast("decimal(18,4)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_ce"),
        )
        .drop("all_toks")
    )


# (applicationId, sf_dir) -> persisted distinct (doc, lang, 5-gram md5)
# postings — the rare-fingerprint filter and both pair sides consume it.
_XLING_GRAMS_CACHE = SessionMemo("training.xling_grams", maxsize=8)


@query(
    "contamination_crosslingual_fingerprints",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang,
        list_filter(string_split(LOWER(regexp_replace(TRIM(text), '\\s+', ' ', 'g')), ' '),
                    t -> t != '') AS ws
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, lang,
        md5(array_to_string(list_slice(ws, i, i + 4), ' ')) AS g
      FROM (SELECT doc_id, lang, ws, unnest(range(1, len(ws) - 3)) AS i
            FROM toks WHERE len(ws) >= 5)
    ),
    fp AS (
      SELECT g FROM grams GROUP BY g
      HAVING COUNT(*) BETWEEN 2 AND 10 AND COUNT(DISTINCT lang) >= 2
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, a.lang AS lang_a,
             b.doc_id AS doc_b, b.lang AS lang_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM grams a JOIN fp USING (g) JOIN grams b USING (g)
      WHERE a.doc_id < b.doc_id AND a.lang <> b.lang
      GROUP BY 1, 2, 3, 4
    )
    SELECT doc_a, lang_a, doc_b, lang_b, n_shared
    FROM pairs WHERE n_shared >= 2
    """,
)
def contamination_crosslingual_fingerprints(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-lingual contamination detection WITHOUT translation: document
    pairs in DIFFERENT languages that share >= 2 rare word-5-gram
    fingerprints. Verbatim splices (code blocks, named entities,
    untranslated quotes, benchmark strings) survive translation intact,
    so shared rare n-grams across languages flag test-set leakage that a
    same-language decontamination pass misses.

    A fingerprint is a 5-gram md5 seen in 2..10 documents AND >= 2
    languages: the lower bound requires actual sharing, the upper bound
    drops boilerplate the way dedup_containment_pairs drops stop
    shingles (recall contract: pairs connected ONLY by hot grams are
    boilerplate by definition). md5 digests are byte-identical across
    engines, so the postings join is portable.

    At 100 TB: the postings join fans out at most C(10,2) pairs per
    fingerprint (df cap), shuffles 16-byte digests + ids only, and the
    pair rollup aggregates map-side. Never a cross join.
    """
    d = load_table(spark, sf_dir, "documents")
    ws = F.filter(
        F.split(F.lower(F.regexp_replace(F.trim("text"), r"\s+", " ")), " "),
        lambda t: t != "",
    )
    # grams feeds the fingerprint df filter AND both pair-join sides —
    # persisted + memoized (lesson 27/30, scan_audit-found)
    grams = memo_persist(
        _XLING_GRAMS_CACHE,
        spark,
        sf_dir,
        lambda: (
            d.select("doc_id", "lang", ws.alias("ws"))
            .where(F.size("ws") >= 5)
            .select(
                "doc_id",
                "lang",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(ws) - 4),"
                        " i -> md5(concat_ws(' ', slice(ws, i, 5))))"
                    )
                ).alias("g"),
            )
            .distinct()
        ),
    )
    # r14 (guide §1.2): the fingerprint table (df/language census over the
    # ~2M-row gram cache) is deterministic per sf_dir and was re-aggregated
    # every invocation — memoized beside the gram cache it derives from.
    fp = memo_persist(
        _XLING_GRAMS_CACHE,
        spark,
        (sf_dir, "fp"),
        lambda: (
            grams.groupBy("g")
            .agg(
                F.count(F.lit(1)).alias("df"),
                F.countDistinct("lang").alias("nl"),
            )
            .where(
                (F.col("df") >= 2) & (F.col("df") <= 10) & (F.col("nl") >= 2)
            )
            .select("g")
        ),
    )
    a = grams.select(
        F.col("doc_id").alias("doc_a"), F.col("lang").alias("lang_a"), "g"
    )
    b = grams.select(
        F.col("doc_id").alias("doc_b"), F.col("lang").alias("lang_b"), "g"
    )
    # semi-filter the pair join's build side by the (tiny) fingerprint set
    # so the broadcast carries rare-gram postings only (guide §3.1/§3.2 —
    # the dedup_paragraph_containment_pairs fix)
    b = b.join(fp, "g", "left_semi")
    return (
        a.join(fp, "g")
        .join(b, "g")
        .where(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.col("lang_a") != F.col("lang_b"))
        )
        .groupBy("doc_a", "lang_a", "doc_b", "lang_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared"))
        .where(F.col("n_shared") >= 2)
    )


@query(
    "training_token_budget_apportionment",
    oracle="""
    WITH weights AS (
      SELECT source,
        CAST(SUM(len(list_filter(
          string_split_regex(LOWER(TRIM(text)), '\\s+'), t -> t != '')))
          AS BIGINT) AS w
      FROM documents GROUP BY source
    ),
    quotas AS (
      SELECT source, w,
        CAST(SUM(w) OVER () AS BIGINT) AS wtot,
        CAST((1000000 * w) // CAST(SUM(w) OVER () AS BIGINT) AS BIGINT)
          AS base,
        CAST((1000000 * w) % CAST(SUM(w) OVER () AS BIGINT) AS BIGINT)
          AS rem
      FROM weights
    ),
    ranked AS (
      SELECT source, w, base, rem,
        CAST(1000000 - SUM(base) OVER () AS BIGINT) AS leftover,
        ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk
      FROM quotas
    )
    SELECT source, w AS n_tokens,
      CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
        AS token_quota
    FROM ranked
    """,
)
def training_token_budget_apportionment(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a 1M-token training
    budget across sources, proportional to each source's measured token
    mass — the integer-exact mixture allocator: floor quotas first, then
    the leftover tokens go to the largest fractional remainders (ties by
    source name), so quotas always sum to EXACTLY the budget with no
    float drift ever.

    Determinism: everything is BIGINT — floor quota = (B*w) div W,
    remainder = (B*w) mod W, and the leftover ranking is a total order.
    (B*w fits BIGINT through ~9e12 tokens; the DECIMAL(38,0) widening is
    the documented path beyond.)

    At 100 TB: one tokenize pass into a 20-row per-source rollup; the
    apportionment windows run over those rows only.
    """
    d = load_table(spark, sf_dir, "documents")
    ws = F.filter(
        F.split(F.lower(F.trim("text")), r"\s+"), lambda t: t != ""
    )
    weights = d.groupBy("source").agg(
        F.sum(F.size(ws)).cast("bigint").alias("w")
    )
    w_all = Window.partitionBy()
    quotas = weights.select(
        "source",
        "w",
        F.sum("w").over(w_all).cast("bigint").alias("wtot"),
    ).select(
        "source",
        "w",
        F.expr("CAST((1000000 * w) DIV wtot AS BIGINT)").alias("base"),
        F.expr("CAST((1000000 * w) % wtot AS BIGINT)").alias("rem"),
    )
    ranked = quotas.select(
        "source",
        "w",
        "base",
        "rem",
        (F.lit(1000000) - F.sum("base").over(w_all)).cast("bigint").alias(
            "leftover"
        ),
        F.row_number().over(Window.orderBy(F.col("rem").desc(), "source")).alias(
            "rk"
        ),
    )
    return ranked.select(
        "source",
        F.col("w").alias("n_tokens"),
        (
            F.col("base")
            + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("token_quota"),
    )


@query(
    "training_quality_filter_funnel",
    oracle="""
    WITH scored AS (
      SELECT doc_id, text,
        LENGTH(text) AS n_chars,
        ROUND(CASE WHEN LENGTH(text) > 0
          THEN CAST(LENGTH(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))
                    AS DOUBLE) / LENGTH(text) ELSE 0.0 END, 8) AS punct,
        list_filter(string_split_regex(LOWER(TRIM(text)), '\\s+'),
                    t -> t != '') AS ws
      FROM documents
    ),
    flagged AS (
      SELECT doc_id, text,
        CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END AS pass_len,
        CASE WHEN punct <= 0.2 THEN 1 ELSE 0 END AS pass_punct,
        CASE WHEN len(ws) > 0 AND
          CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) >= 0.3
          THEN 1 ELSE 0 END AS pass_rep
      FROM scored
    ),
    deduped AS (
      SELECT doc_id, pass_len, pass_punct, pass_rep,
        CASE WHEN pass_len = 1 AND pass_punct = 1 AND pass_rep = 1 THEN
          CASE WHEN ROW_NUMBER() OVER (
            PARTITION BY CASE WHEN pass_len = 1 AND pass_punct = 1
                              AND pass_rep = 1 THEN md5(text) END
            ORDER BY doc_id) = 1 THEN 1 ELSE 0 END
        ELSE 0 END AS pass_dedup
      FROM flagged
    )
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_total,
      CAST(SUM(pass_len) AS BIGINT) AS after_length,
      CAST(SUM(pass_len * pass_punct) AS BIGINT) AS after_punct,
      CAST(SUM(pass_len * pass_punct * pass_rep) AS BIGINT)
        AS after_repetition,
      CAST(SUM(pass_dedup) AS BIGINT) AS after_dedup
    FROM deduped
    """,
)
def training_quality_filter_funnel(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The curation-funnel ablation table: how many documents survive each
    successive quality gate — length >= 100 chars, punctuation ratio <=
    0.2, distinct-token ratio >= 0.3 (repetition screen), then exact
    dedup (first occurrence by text digest among docs passing the prior
    gates, ordered by doc_id). Every corpus pipeline publishes exactly
    this funnel to explain where the data went.

    Determinism: gates compare exact integers or the 8dp-rounded punct
    ratio (identical doubles — the text_stats_per_doc recipe); the
    dedup survivor is a ROW_NUMBER total order scoped to the filtered
    set via a NULL partition key for non-candidates.

    At 100 TB: one scan computes all stage flags; only the digest window
    shuffles (16-byte digests), and the funnel is a 1-row conditional
    aggregate.
    """
    d = load_table(spark, sf_dir, "documents")
    n_chars = F.length("text")
    punct = F.round(
        F.when(
            n_chars > 0,
            F.length(F.regexp_replace("text", r"[A-Za-z0-9\s]", "")).cast(
                "double"
            )
            / n_chars,
        ).otherwise(0.0),
        8,
    )
    ws = F.filter(
        F.split(F.lower(F.trim("text")), r"\s+"), lambda t: t != ""
    )
    flagged = d.select(
        "doc_id",
        "text",
        F.when(n_chars >= 100, 1).otherwise(0).alias("pass_len"),
        F.when(punct <= 0.2, 1).otherwise(0).alias("pass_punct"),
        F.when(
            (F.size(ws) > 0)
            & (
                F.size(F.array_distinct(ws)).cast("double") / F.size(ws)
                >= 0.3
            ),
            1,
        )
        .otherwise(0)
        .alias("pass_rep"),
    )
    all_pass = (
        (F.col("pass_len") == 1)
        & (F.col("pass_punct") == 1)
        & (F.col("pass_rep") == 1)
    )
    digest_key = F.when(all_pass, F.md5("text"))
    occ = F.row_number().over(
        Window.partitionBy(digest_key).orderBy("doc_id")
    )
    deduped = flagged.select(
        "pass_len",
        "pass_punct",
        "pass_rep",
        F.when(all_pass & (occ == 1), 1).otherwise(0).alias("pass_dedup"),
    )
    return deduped.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum("pass_len").cast("bigint").alias("after_length"),
        F.sum(F.col("pass_len") * F.col("pass_punct"))
        .cast("bigint")
        .alias("after_punct"),
        F.sum(F.col("pass_len") * F.col("pass_punct") * F.col("pass_rep"))
        .cast("bigint")
        .alias("after_repetition"),
        F.sum("pass_dedup").cast("bigint").alias("after_dedup"),
    )


@query(
    "features_woe_binning_returns",
    oracle="""
    WITH bands AS (
      SELECT
        CASE WHEN l_quantity <= 10 THEN 'b1_q01_10'
             WHEN l_quantity <= 20 THEN 'b2_q11_20'
             WHEN l_quantity <= 30 THEN 'b3_q21_30'
             WHEN l_quantity <= 40 THEN 'b4_q31_40'
             ELSE 'b5_q41_up' END AS band,
        CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem
    ),
    cells AS (
      SELECT band,
        CAST(SUM(y) AS BIGINT) AS n_pos,
        CAST(COUNT(*) - SUM(y) AS BIGINT) AS n_neg
      FROM bands GROUP BY band
    ),
    tot AS (
      SELECT band, n_pos, n_neg,
        CAST(SUM(n_pos) OVER () AS BIGINT) AS pos_tot,
        CAST(SUM(n_neg) OVER () AS BIGINT) AS neg_tot
      FROM cells
    ),
    scored AS (
      SELECT band, n_pos, n_neg,
        CASE WHEN n_pos > 0 AND n_neg > 0 THEN
          CAST(ROUND(ln(CAST(n_pos * neg_tot AS DOUBLE)
                        / CAST(n_neg * pos_tot AS DOUBLE)), 6)
               AS DECIMAL(18,6))
        END AS woe,
        CASE WHEN n_pos > 0 AND n_neg > 0 THEN
          CAST(ROUND((CAST(n_pos AS DOUBLE) / CAST(pos_tot AS DOUBLE)
                      - CAST(n_neg AS DOUBLE) / CAST(neg_tot AS DOUBLE))
                     * ROUND(ln(CAST(n_pos * neg_tot AS DOUBLE)
                                / CAST(n_neg * pos_tot AS DOUBLE)), 6), 6)
               AS DECIMAL(18,6))
        END AS iv_term
      FROM tot
    )
    SELECT band, n_pos, n_neg,
      CAST(woe AS DOUBLE) AS woe,
      CAST(SUM(iv_term) OVER () AS DOUBLE) AS information_value
    FROM scored
    """,
)
def features_woe_binning_returns(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Weight-of-evidence encoding of quantity bands against the return
    outcome, plus the feature's total Information Value — the credit-
    scoring / feature-selection standard: WOE_b = ln((pos_b/pos_tot) /
    (neg_b/neg_tot)), IV = sum (pos share - neg share) * WOE.

    Determinism: counts are exact BIGINTs; the WOE ln argument is a
    cross-multiplied exact-integer ratio (pos_b*neg_tot)/(neg_b*pos_tot)
    — identical doubles — rounded 6dp (lesson 10); IV terms multiply
    identical doubles by the ROUNDED WOE, round 6dp, and window-sum as
    order-insensitive decimals. Empty-side bands NULL out per the WOE
    convention.

    At 100 TB: one fact pass into a 5-band rollup (map-side combine);
    everything after runs on 5 rows.
    """
    l = load_table(spark, sf_dir, "lineitem")
    band = (
        F.when(F.col("l_quantity") <= 10, "b1_q01_10")
        .when(F.col("l_quantity") <= 20, "b2_q11_20")
        .when(F.col("l_quantity") <= 30, "b3_q21_30")
        .when(F.col("l_quantity") <= 40, "b4_q31_40")
        .otherwise("b5_q41_up")
    )
    y = F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
    cells = l.select(band.alias("band"), y.alias("y")).groupBy("band").agg(
        F.sum("y").cast("bigint").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("y")).cast("bigint").alias("n_neg"),
    )
    w_all = Window.partitionBy()
    tot = cells.select(
        "band",
        "n_pos",
        "n_neg",
        F.sum("n_pos").over(w_all).cast("bigint").alias("pos_tot"),
        F.sum("n_neg").over(w_all).cast("bigint").alias("neg_tot"),
    )
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    ok = (F.col("n_pos") > 0) & (F.col("n_neg") > 0)
    woe_raw = F.round(
        F.log(
            (F.col("n_pos") * F.col("neg_tot")).cast("double")
            / (F.col("n_neg") * F.col("pos_tot")).cast("double")
        ),
        6,
    )
    iv_term = F.round(
        (dd("n_pos") / dd("pos_tot") - dd("n_neg") / dd("neg_tot")) * woe_raw,
        6,
    )
    scored = tot.select(
        "band",
        "n_pos",
        "n_neg",
        F.when(ok, woe_raw).cast("decimal(18,6)").alias("woe"),
        F.when(ok, iv_term).cast("decimal(18,6)").alias("iv_term"),
    )
    return scored.select(
        "band",
        "n_pos",
        "n_neg",
        F.col("woe").cast("double").alias("woe"),
        F.sum("iv_term").over(w_all).cast("double").alias("information_value"),
    )


@query(
    "training_dedup_quality_joint_census",
    oracle="""
    WITH kept AS (
      SELECT doc_id, source, text,
        CASE WHEN ROW_NUMBER() OVER (
          PARTITION BY md5(LOWER(regexp_replace(TRIM(text), '\\s+', ' ',
                                                'g')))
          ORDER BY doc_id) = 1 THEN 1 ELSE 0 END AS is_kept
      FROM documents
    ),
    scored AS (
      SELECT source, is_kept,
        CASE WHEN
      ROUND((
        LEAST(CAST(LENGTH(text) AS DOUBLE) / 1000.0, 1.0)
        + (1.0 - LEAST(
            (CASE WHEN LENGTH(text) > 0
              THEN CAST(LENGTH(regexp_replace(text, '[A-Za-z0-9\\s]', '',
                                              'g')) AS DOUBLE)
                   / CAST(LENGTH(text) AS DOUBLE)
              ELSE 0.0 END) * 5.0, 1.0))
        + (CASE WHEN
             (CASE WHEN len(list_filter(string_split_regex(TRIM(text),
                        '\\s+'), t -> t != '')) > 0
               THEN CAST(LENGTH(regexp_replace(text, '\\s+', '', 'g'))
                         AS DOUBLE)
                    / CAST(len(list_filter(string_split_regex(TRIM(text),
                          '\\s+'), t -> t != '')) AS DOUBLE)
               ELSE 0.0 END) BETWEEN 3.0 AND 10.0
           THEN 1.0 ELSE 0.5 END)
      ) / 3.0, 6)
        >= 0.5 THEN 1 ELSE 0 END AS q_pass
      FROM kept
    )
    SELECT source,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(is_kept) AS BIGINT) AS n_kept,
      CAST(SUM(is_kept * q_pass) AS BIGINT) AS n_survivors,
      ROUND(CAST(SUM(is_kept * q_pass) AS DOUBLE) / COUNT(*), 6)
        AS survival_rate
    FROM scored GROUP BY source
    """,
)
def training_dedup_quality_joint_census(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """JOINT dedup x quality survivorship per source: of each source's
    documents, how many survive exact dedup (lowest-doc_id per
    normalized-content digest), and of those, how many also clear the
    quality gate (heuristic score >= 0.5) — the two filters every
    training pipeline applies IN SEQUENCE, reported jointly because
    their interaction (boilerplate is both duplicated AND low-quality)
    makes the separate funnels non-multiplicative. Complements
    training_quality_filter_funnel (quality stages only) and
    dedup_exact_kept_docs (dedup only).

    Determinism: keep-choice is the md5-digest ROW_NUMBER total order;
    the quality score is the oracled QUALITY_SQL double chain; all
    census counts are exact integers.

    At 100 TB: one documents pass computes digest + score; the window
    shuffles (digest, doc_id, source, pass-bit) — never text; census is
    a per-source rollup.
    """
    from ..functions.text import quality_score
    from .dedup import _NORM

    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.md5(_NORM(F.col("text")))).orderBy("doc_id")
    scored = d.select(
        "source",
        F.when(F.row_number().over(w) == 1, 1).otherwise(0).alias("is_kept"),
        F.when(F.round(quality_score(F.col("text")), 6) >= 0.5, 1)
        .otherwise(0)
        .alias("q_pass"),
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("is_kept").cast("bigint").alias("n_kept"),
        F.sum(F.col("is_kept") * F.col("q_pass"))
        .cast("bigint")
        .alias("n_survivors"),
        F.round(
            F.sum(F.col("is_kept") * F.col("q_pass")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("survival_rate"),
    )
