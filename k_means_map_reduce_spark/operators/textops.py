"""Text-analysis queries over `documents` (SURVEY.md §2b LLM-pipeline, M3).

All hot-path logic is Column expressions from functions/text.py — zero Python
UDFs, so at corpus scale this is a single codegen'd scan + one shuffle for
the aggregating variants.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .._memo import SessionMemo, memo_persist
from ..registry import query
from ..sources import load_table
from ..functions.text import (
    lang_id,
    punct_ratio,
    token_count,
    word_count,
)

_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


@query(
    "text_stats_per_doc",
    oracle=f"""
    SELECT
      doc_id,
      LENGTH(text) AS n_chars_measured,
      CAST(len(list_filter(string_split_regex(TRIM(text), '\\s+'), t -> t != '')) AS INT) AS n_words,
      CAST(len(regexp_extract_all(text, '{_TOKEN_RE}')) AS INT) AS n_tokens,
      ROUND(CASE WHEN LENGTH(text) > 0
        THEN CAST(LENGTH(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / LENGTH(text)
        ELSE 0.0 END, 8) AS punct_ratio
    FROM documents
    """,
)
def text_stats_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars_measured"),
        word_count(F.col("text")).alias("n_words"),
        token_count(F.col("text")).alias("n_tokens"),
        F.round(punct_ratio(F.col("text")), 8).alias("punct_ratio"),
    )


@query(
    "text_stats_by_lang",
    oracle="""
    SELECT
      lang,
      COUNT(*) AS n_docs,
      CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      CAST(MIN(n_chars) AS BIGINT) AS min_chars,
      CAST(MAX(n_chars) AS BIGINT) AS max_chars,
      CAST(SUM(CAST(len(list_filter(string_split_regex(TRIM(text), '\\s+'), t -> t != '')) AS BIGINT)) AS BIGINT) AS total_words
    FROM documents
    GROUP BY lang
    """,
)
def text_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.sum(word_count(F.col("text")).cast("bigint")).alias("total_words"),
    )


@query(
    "text_fingerprint",
    oracle="""
    SELECT
      doc_id,
      md5(LOWER(regexp_replace(TRIM(text), '\\s+', ' ', 'g'))) AS fingerprint
    FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MD5 content fingerprint of whitespace-normalized text (cross-engine
    checkable). The scale path uses xxhash64 (functions.doc_fingerprint) —
    same plan shape, cheaper hash."""
    d = load_table(spark, sf_dir, "documents")
    normalized = F.lower(F.regexp_replace(F.trim("text"), r"\s+", " "))
    return d.select("doc_id", F.md5(normalized).alias("fingerprint"))


# DuckDB mirror of functions/text.py:lang_id — per-language stopword votes as
# (n, lang) structs, list_sort ascending, last element wins (max votes,
# lexicographically-greatest language on ties — identical to Spark's
# array_sort(struct)[−1] tie-break).
def _lang_votes_sql() -> str:
    from ..functions.text import LANG_STOPWORDS

    votes = ", ".join(
        "{'n': len(list_filter(toks, t -> list_contains(["
        + ", ".join(f"'{w}'" for w in words)
        + f"], t))), 'lang': '{lang}'}}"
        for lang, words in LANG_STOPWORDS.items()
    )
    return f"list_sort([{votes}])[-1]"


@query(
    "text_lang_id",
    oracle=f"""
    WITH toks AS (
      SELECT lang,
        list_filter(string_split_regex(TRIM(LOWER(text)), '\\s+'), t -> t != '') AS toks
      FROM documents
    ),
    pred AS (
      SELECT lang,
        (CASE WHEN best.n > 0 THEN best.lang ELSE 'und' END) AS pred
      FROM (SELECT lang, {_lang_votes_sql()} AS best FROM toks)
    )
    SELECT lang, pred, COUNT(*) AS n FROM pred GROUP BY lang, pred
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-vote language ID crossed with the dataset's lang column
    (the synthetic corpus draws the same vocabulary for every label, so this
    is a distribution report, not an accuracy claim — real-language
    identification is asserted in tests/test_textops.py on hand-written
    multilingual samples). Oracled: the vote + argmax tie-break is replayed
    in DuckDB struct-sort SQL."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("lang", lang_id(F.col("text")).alias("pred"))
        .groupBy("lang", "pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "text_ngram_profile",
    oracle="""
    WITH doc_toks AS (
      SELECT list_filter(string_split_regex(TRIM(LOWER(text)), '\\s+'), t -> t != '') AS toks
      FROM documents
    ),
    bigrams AS (
      SELECT UNNEST(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])) AS bigram
      FROM doc_toks
    )
    SELECT bigram, COUNT(*) AS n
    FROM bigrams
    GROUP BY bigram
    HAVING COUNT(*) >= 10
    """,
)
def text_ngram_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram counts (n-gram profile): explode per-doc token bigrams,
    hash-aggregate. At 100 TB this is the canonical explode→agg shape with
    map-side partial aggregation absorbing the fan-out."""
    d = load_table(spark, sf_dir, "documents")
    # Fan out the single-row-group scan so tokenize+zip_with+explode (and
    # the map-side partial agg) parallelize; see text_simhash_signatures.
    d = d.repartition(spark.sparkContext.defaultParallelism)
    toks = F.filter(F.split(F.trim(F.lower("text")), r"\s+"), lambda t: t != "")
    bigrams = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return (
        d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 10)
    )


# DuckDB mirrors of functions/text.py:quality_score / stopword_ratio — the
# exact same double arithmetic in the same association order, so pre-round
# values are bit-identical across engines.
QUALITY_SQL = """
      ROUND((
        LEAST(CAST(LENGTH(text) AS DOUBLE) / 1000.0, 1.0)
        + (1.0 - LEAST(
            (CASE WHEN LENGTH(text) > 0
              THEN CAST(LENGTH(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS DOUBLE)
                   / CAST(LENGTH(text) AS DOUBLE)
              ELSE 0.0 END) * 5.0, 1.0))
        + (CASE WHEN
             (CASE WHEN len(list_filter(string_split_regex(TRIM(text), '\\s+'), t -> t != '')) > 0
               THEN CAST(LENGTH(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE)
                    / CAST(len(list_filter(string_split_regex(TRIM(text), '\\s+'), t -> t != '')) AS DOUBLE)
               ELSE 0.0 END) BETWEEN 3.0 AND 10.0
           THEN 1.0 ELSE 0.5 END)
      ) / 3.0, 6)
"""

_EN_SW = "'the', 'and', 'of', 'to', 'in', 'is', 'that', 'for'"

EN_STOPWORD_RATIO_SQL = f"""
      ROUND((CASE WHEN len(list_filter(string_split_regex(TRIM(LOWER(text)), '\\s+'), t -> t != '')) > 0
        THEN CAST(len(list_filter(string_split_regex(TRIM(LOWER(text)), '\\s+'),
                      t -> t != '' AND list_contains([{_EN_SW}], t))) AS DOUBLE)
             / CAST(len(list_filter(string_split_regex(TRIM(LOWER(text)), '\\s+'), t -> t != '')) AS DOUBLE)
        ELSE 0.0 END), 6)
"""


@query(
    "text_quality_scores",
    oracle=f"""
    SELECT
      doc_id,
      {QUALITY_SQL} AS quality,
      {EN_STOPWORD_RATIO_SQL} AS en_stopword_ratio
    FROM documents
    """,
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic quality + stopword signals per doc. Oracled: the length /
    punctuation / word-length blend is replayed in DuckDB with identical
    double arithmetic; formula bounds also asserted in tests/test_textops.py."""
    from ..functions.text import quality_score, stopword_ratio

    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.round(quality_score(F.col("text")), 6).alias("quality"),
        F.round(stopword_ratio(F.col("text"), "en"), 6).alias("en_stopword_ratio"),
    )


# Winnowing constants: 8-char grams, window 4, polynomial rolling hash
# B=131 mod M=2147483647 (Mersenne prime). POW[j] = B^j mod M — plain
# modular arithmetic, so Spark and DuckDB compute bit-identical hashes
# (unlike engine-native hash functions, which never agree across engines).
_WIN_M = 2147483647
_WIN_POWS = [1, 131, 17161, 2248091, 294499921, 1827229965, 968395724, 156885651]

# Shared DuckDB CTE chain producing (doc_id, fps) — used by the stats query
# here and by dedup.dedup_winnowing_pairs' oracle.
WINNOW_CTE_SQL = f"""
    norm AS (
      SELECT doc_id, LOWER(regexp_replace(TRIM(text), '\\s+', ' ', 'g')) AS t
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
        list_transform(
          range(1, length(t) - 6),
          i -> list_sum(list_transform(range(0, 8),
                 j -> (CAST(unicode(substring(t, CAST(i + j AS INT), 1)) AS BIGINT) % {_WIN_M})
                      * ([{", ".join(f"CAST({p} AS BIGINT)" for p in _WIN_POWS)}][CAST(j + 1 AS INT)])
               )) % {_WIN_M}
        ) AS hs
      FROM norm
      WHERE length(t) >= 11
    ),
    winnow AS (
      SELECT doc_id,
        list_distinct(list_transform(range(1, len(hs) - 2),
          i -> list_min(hs[CAST(i AS INT):CAST(i + 3 AS INT)]))) AS fps
      FROM grams
    )
"""


# (applicationId, sf_dir) → persisted fingerprint frame. The rolling-hash
# expression is the most expensive scan in the repo; memoizing per session
# means the N queries that consume fingerprints (stats, pair dedup, tests,
# repeated bench invocations) compute them once, and — unlike the previous
# per-invocation .cache() — repeated calls don't stack new copies in
# executor storage.
_WINNOW_FPS_CACHE = SessionMemo("textops.winnow_fps")


def winnow_fps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, fps: array<bigint>) — the distinct winnowing fingerprints of
    each document, persisted once per (session, sf_dir). See
    text_winnowing_fingerprints for the algorithm and the load-bearing
    repartition barrier."""
    import os as _os

    cached = _WINNOW_FPS_CACHE.get(spark, _os.path.abspath(sf_dir))
    if cached is not None:
        return cached
    d = load_table(spark, sf_dir, "documents")
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
    df = (
        d.select(
            "doc_id",
            F.expr("lower(regexp_replace(trim(text), '\\\\s+', ' '))").alias("t"),
        )
        .where(F.expr("char_length(t) >= 11"))
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
        .select("doc_id", F.expr(hs_from_t).alias("hs"))
        .select("doc_id", F.expr(fps_from_hs).alias("fps"))
        .persist()
    )
    _WINNOW_FPS_CACHE.put(spark, _os.path.abspath(sf_dir), df)
    return df


@query(
    "text_winnowing_fingerprints",
    oracle=f"""
    WITH {WINNOW_CTE_SQL}
    SELECT
      doc_id,
      CAST(len(fps) AS INT) AS n_fps,
      CAST(list_min(fps) AS BIGINT) AS min_fp,
      CAST(list_max(fps) AS BIGINT) AS max_fp
    FROM winnow
    """,
)
def text_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprints via winnowing (Schleimer, Wilkerson,
    Aiken — SIGMOD'03, the MOSS algorithm): hash every 8-char gram with a
    polynomial rolling hash, then keep the minimum of each 4-gram window.
    Near-identical documents share most fingerprints even after local edits —
    the classic copy-detection primitive.

    Cross-engine exactness: the hash is explicit modular arithmetic
    (B=131, M=2^31-1), not an engine-native hash, so DuckDB reproduces every
    value bit-for-bit.

    Plan shape: norm → REPARTITION → gram hashes → window minima → stats.
    The repartition is load-bearing twice over: (a) CollapseProject would
    otherwise inline the regexp_replace normalization into every element of
    the nested higher-order functions (O(8·n²) regex evals per doc —
    measured minutes-per-500-docs; HOFs are CodegenFallback with no
    common-subexpression elimination), and an Exchange is a hard
    materialization boundary Catalyst cannot inline across; (b) the
    CPU-heavy fingerprint stage gets spread over all cores instead of
    inheriting the scan's few file-split partitions — exactly the plan you
    want at 100 TB too (shuffle bytes are just (doc_id, normalized_text)).
    """
    return winnow_fps(spark, sf_dir).select(
        "doc_id",
        F.expr("CAST(size(fps) AS INT)").alias("n_fps"),
        F.expr("CAST(array_min(fps) AS BIGINT)").alias("min_fp"),
        F.expr("CAST(array_max(fps) AS BIGINT)").alias("max_fp"),
    )


def winnow_fps_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow/numpy twin of winnow_fps — the scale path for fingerprinting.

    The expression version's nested higher-order functions are
    CodegenFallback (interpreted per element); at corpus scale the gram
    stage dominates CPU. Here the same arithmetic runs vectorized in numpy
    inside mapInPandas: a zero-copy byte view of the text, 8 fused vector
    ops per document for the gram hashes, a sliding-window min for the
    winnow. Bit-identical output by construction (same modular arithmetic
    on int64, no overflow: each term < 2^62).

    Measured (local[32], 500 docs × 10 KB, full evaluation forced):
    expression path 59.4 s, this path 0.71 s — ~84×. On the test corpus'
    ~300-char docs the expression path wins instead (Python worker overhead
    dominates), which is why both stay registered: short-doc workloads use
    the expression path, real corpora this one. Beware when benchmarking:
    `select(doc_id).count()` lets Catalyst prune the whole fingerprint
    expression (it can't prune inside an opaque mapInPandas), silently
    comparing full work against no work.
    """
    import numpy as np
    import pandas as pd

    M = _WIN_M
    POWS = list(_WIN_POWS)

    def fingerprint(batches):
        for pdf in batches:
            out_ids, out_fps = [], []
            for doc_id, t in zip(pdf["doc_id"], pdf["t"]):
                n = len(t)
                if n < 11:
                    continue
                if t.isascii():
                    # zero-copy byte view — the fast path for real corpora
                    codes = np.frombuffer(t.encode("ascii"), np.uint8).astype(np.int64)
                else:
                    # codepoints < 2^21 < M, so no per-term mod needed
                    codes = np.fromiter(map(ord, t), dtype=np.int64, count=n)
                ngrams = n - 7
                acc = np.zeros(ngrams, dtype=np.int64)
                for j, p in enumerate(POWS):
                    acc = (acc + codes[j : j + ngrams] * p % M) % M
                wins = np.lib.stride_tricks.sliding_window_view(acc, 4).min(axis=1)
                out_ids.append(doc_id)
                out_fps.append(np.unique(wins).tolist())
            yield pd.DataFrame({"doc_id": out_ids, "fps": out_fps})

    d = load_table(spark, sf_dir, "documents")
    norm = d.select(
        "doc_id",
        F.expr("lower(regexp_replace(trim(text), '\\\\s+', ' '))").alias("t"),
    ).repartition(spark.sparkContext.defaultParallelism, "doc_id")
    return norm.mapInPandas(fingerprint, "doc_id BIGINT, fps ARRAY<BIGINT>")


@query(
    "text_winnowing_fingerprints_arrow",
    oracle=f"""
    WITH {WINNOW_CTE_SQL}
    SELECT
      doc_id,
      CAST(len(fps) AS INT) AS n_fps,
      CAST(list_min(fps) AS BIGINT) AS min_fp,
      CAST(list_max(fps) AS BIGINT) AS max_fp
    FROM winnow
    """,
)
def text_winnowing_fingerprints_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same result as text_winnowing_fingerprints, produced by the
    vectorized Arrow path (winnow_fps_arrow) — and checked against the SAME
    DuckDB oracle, proving the scale path is bit-exact, not approximately
    equivalent. np.unique returns sorted distinct values; array_distinct
    preserves first-seen order — irrelevant here since only size/min/max
    are emitted (full-array equality is asserted in tests)."""
    return winnow_fps_arrow(spark, sf_dir).select(
        "doc_id",
        F.expr("CAST(size(fps) AS INT)").alias("n_fps"),
        F.expr("CAST(array_min(fps) AS BIGINT)").alias("min_fp"),
        F.expr("CAST(array_max(fps) AS BIGINT)").alias("max_fp"),
    )


@query(
    "text_vocabulary_by_source",
    oracle=r"""
    WITH toks AS (
      SELECT source, doc_id,
        unnest(list_filter(
          string_split(LOWER(regexp_replace(TRIM(text), '\s+', ' ', 'g')), ' '),
          t -> t <> '')) AS tok
      FROM documents
    )
    SELECT source,
      CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
      CAST(COUNT(*) AS BIGINT) AS total_tokens,
      CAST(COUNT(DISTINCT tok) AS BIGINT) AS vocab_size,
      ROUND(CAST(COUNT(DISTINCT tok) AS DOUBLE) / COUNT(*), 6) AS type_token_ratio
    FROM toks
    GROUP BY source
    """,
)
def text_vocabulary_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus vocabulary profile: token volume, exact vocabulary
    size, and type-token ratio (lexical diversity) — the standard corpus
    triage before training-data selection.

    Shape: explode tokens → one aggregation with two distinct counts.
    Catalyst plans multi-distinct aggregates with an expand + two-phase agg;
    at 100 TB you'd swap the exact COUNT(DISTINCT tok) for
    approx_count_distinct (the sketches family) — kept exact here so the
    DuckDB hash compare is bit-for-bit."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.regexp_replace(F.trim("text"), r"\s+", " ")), " "),
        lambda t: t != "",
    )
    ex = d.select("source", "doc_id", F.explode(toks).alias("tok"))
    return ex.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("total_tokens"),
        F.countDistinct("tok").alias("vocab_size"),
        F.round(
            F.countDistinct("tok").cast("double") / F.count(F.lit(1)), 6
        ).alias("type_token_ratio"),
    )


@query(
    "corpus_curation_pipeline",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang, text,
        {QUALITY_SQL} AS quality,
        md5(LOWER(regexp_replace(TRIM(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents
    ),
    kept AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      FROM scored WHERE quality >= 0.5
    )
    SELECT
      lang,
      COUNT(*) AS n_docs,
      CAST(SUM(CAST(len(regexp_extract_all(text, '{_TOKEN_RE}')) AS BIGINT)) AS BIGINT)
        AS total_tokens,
      CAST(SUM(CAST(quality AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS avg_quality
    FROM kept WHERE rn = 1
    GROUP BY lang
    """,
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation pass: quality-score every document,
    drop low-quality ones (quality < 0.5), exact-dedup the survivors on a
    normalized-content fingerprint keeping the lowest doc_id, and report the
    per-language corpus that remains (doc count, token budget, mean quality).

    This is the composition a 100 TB pipeline actually runs (filter →
    dedup → accounting) as ONE registered, driver-oracled query. Shape: a
    single codegen'd scan computes score + fingerprint; the quality filter
    cuts rows before the only wide stage (hash agg keeping min doc_id per
    fingerprint — no sort-window); the final per-lang rollup is map-side
    partial-aggregated. Never shuffles document text wider than the kept
    rows; at 100 TB the fingerprint agg is the canonical exact-dedup
    shuffle (16-byte keys).
    """
    from ..functions.text import quality_score

    d = load_table(spark, sf_dir, "documents")
    normalized = F.lower(F.regexp_replace(F.trim("text"), r"\s+", " "))
    scored = d.select(
        "doc_id",
        "lang",
        F.round(quality_score(F.col("text")), 6).alias("quality"),
        token_count(F.col("text")).cast("bigint").alias("n_tokens"),
        F.md5(normalized).alias("fp"),
    ).where(F.col("quality") >= 0.5)
    # keep-first = min(struct) per fingerprint: a hash aggregation (struct
    # ordering is by field position, doc_id first), not a sort-window.
    first = scored.groupBy("fp").agg(
        F.min(F.struct("doc_id", "lang", "quality", "n_tokens")).alias("rec")
    )
    return (
        first.select("rec.lang", "rec.quality", "rec.n_tokens")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            (
                F.sum(F.col("quality").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_quality"),
        )
    )


@query(
    "text_repetition_filters",
    oracle="""
    WITH ws AS (
      SELECT doc_id,
        list_filter(string_split_regex(LOWER(TRIM(text)), '\\s+'), t -> t != '') AS ws
      FROM documents
    ),
    w AS (SELECT doc_id, UNNEST(ws) AS w FROM ws),
    wc AS (SELECT doc_id, w, COUNT(*) AS n FROM w GROUP BY doc_id, w),
    wagg AS (
      SELECT doc_id, CAST(SUM(n) AS BIGINT) AS total, MAX(n) AS top,
             COUNT(*) AS dst
      FROM wc GROUP BY doc_id
    ),
    b AS (
      SELECT doc_id,
        UNNEST(list_transform(range(1, len(ws)),
          i -> ws[CAST(i AS INT)] || ' ' || ws[CAST(i + 1 AS INT)])) AS b
      FROM ws WHERE len(ws) >= 2
    ),
    bc AS (SELECT doc_id, b, COUNT(*) AS n FROM b GROUP BY doc_id, b),
    bagg AS (
      SELECT doc_id, CAST(SUM(n) AS BIGINT) AS btotal, MAX(n) AS btop
      FROM bc GROUP BY doc_id
    )
    SELECT
      wagg.doc_id,
      ROUND(CAST(top AS DOUBLE) / total, 6) AS top_word_frac,
      ROUND(CAST(total - dst AS DOUBLE) / total, 6) AS dup_word_frac,
      ROUND(COALESCE(CAST(btop AS DOUBLE) / btotal, 0.0), 6) AS top_bigram_frac
    FROM wagg LEFT JOIN bagg USING (doc_id)
    """,
)
def text_repetition_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: fraction of word
    occurrences taken by the single most frequent word (top_word_frac), by
    repeated words overall (dup_word_frac = 1 - distinct/total), and by the
    most frequent word bigram (top_bigram_frac). High values flag boilerplate
    / SEO spam / generation loops — the standard repetition gate a training
    corpus runs after exact dedup (cf. Gopher's repetition filters).

    Shape at 100 TB: ONE doc_id-keyed exchange of the raw text per branch,
    then every aggregation — (doc_id, gram) counts, the per-doc rollup, and
    the branch join — runs exchange-free on that partitioning
    (HashPartitioning(doc_id) satisfies clustering on (doc_id, gram)). This
    beats the explode-then-shuffle-grams alternative outright: the bigram
    stream carries each word twice, so shuffling text once is strictly
    fewer bytes than shuffling grams, and the gram fan-out never crosses
    the wire at all. No sort, no window, no UDF.
    """
    d = load_table(spark, sf_dir, "documents")
    # ONE doc_id-keyed exchange up front: HashPartitioning(doc_id) satisfies
    # the clustering needs of BOTH gram aggs (doc_id ⊆ (doc_id, gram)) and
    # the final doc_id join, so neither branch re-shuffles — and the text
    # shuffle is CHEAPER than the bigram shuffle it replaces (bigrams carry
    # each word twice). Also fans out the single-row-group testdata scan.
    d = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    ws = d.select(
        "doc_id",
        F.expr(r"filter(split(lower(trim(text)), '\\s+'), t -> t != '')").alias("ws"),
    )
    words = ws.select("doc_id", F.explode("ws").alias("w"))
    wagg = (
        words.groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("total"),
            F.max("n").alias("top"),
            F.count(F.lit(1)).alias("dst"),
        )
    )
    bigrams = ws.where(F.size("ws") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(ws) - 1),"
                " i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))"
            )
        ).alias("b"),
    )
    bagg = (
        bigrams.groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("doc_id")
        .agg(F.sum("n").alias("btotal"), F.max("n").alias("btop"))
    )
    return wagg.join(bagg, "doc_id", "left").select(
        "doc_id",
        F.round(F.col("top").cast("double") / F.col("total"), 6).alias(
            "top_word_frac"
        ),
        F.round(
            (F.col("total") - F.col("dst")).cast("double") / F.col("total"), 6
        ).alias("dup_word_frac"),
        F.round(
            F.coalesce(F.col("btop").cast("double") / F.col("btotal"), F.lit(0.0)), 6
        ).alias("top_bigram_frac"),
    )


_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_PHONE = r"\b\d{3}-\d{3}-\d{4}\b"


@query(
    "text_pii_redaction",
    oracle=f"""
    WITH planted AS (
      SELECT
        doc_id,
        text || ' contact user' || CAST(doc_id AS VARCHAR)
             || '@example.com at 10.' || CAST(doc_id % 200 AS VARCHAR)
             || '.0.1 or 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
             || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS aug
      FROM documents
    ),
    redacted AS (
      SELECT
        doc_id,
        CAST(len(regexp_extract_all(aug, '{_PII_EMAIL}')) AS INT) AS n_emails,
        CAST(len(regexp_extract_all(aug, '{_PII_IPV4}')) AS INT) AS n_ips,
        CAST(len(regexp_extract_all(aug, '{_PII_PHONE}')) AS INT) AS n_phones,
        regexp_replace(
          regexp_replace(
            regexp_replace(aug, '{_PII_EMAIL}', '<EMAIL>', 'g'),
            '{_PII_IPV4}', '<IP>', 'g'),
          '{_PII_PHONE}', '<PHONE>', 'g') AS clean
      FROM planted
    )
    SELECT doc_id, n_emails, n_ips, n_phones,
           md5(clean) AS redacted_md5,
           CAST(len(regexp_extract_all(clean, '{_PII_EMAIL}'))
              + len(regexp_extract_all(clean, '{_PII_IPV4}'))
              + len(regexp_extract_all(clean, '{_PII_PHONE}')) AS INT) AS residual_pii
    FROM redacted
    """,
)
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing for training corpora: detect + redact emails / IPv4s /
    phone numbers, count what was removed, and prove nothing survives
    (`residual_pii` re-scans the cleaned text and must be 0 — asserted in
    tests/test_textops.py, hash-compared by the oracle).

    The synthetic corpus carries no PII, so the query first PLANTS
    deterministic doc_id-derived PII in both engines identically — what is
    under test is the redaction pipeline itself and exact Java-vs-RE2 regex
    agreement on the three patterns (kept to the shared-dialect subset: no
    lookaround, no backrefs).

    Scale shape: one codegen'd scan — regexp_count/regexp_replace are JVM
    expressions, no UDF, no shuffle; at 100 TB this runs at parquet-read
    speed and is exactly how a curation pass wants PII handled (counts for
    audit, md5 for idempotence checks downstream).
    """
    d = load_table(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com at 10."),
        (F.col("doc_id") % 200).cast("string"),
        F.lit(".0.1 or 555-"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    planted = d.select("doc_id", aug.alias("aug"))
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("aug"), _PII_EMAIL, "<EMAIL>"),
            _PII_IPV4,
            "<IP>",
        ),
        _PII_PHONE,
        "<PHONE>",
    )
    redacted = planted.select(
        "doc_id",
        F.regexp_count(F.col("aug"), F.lit(_PII_EMAIL)).cast("int").alias("n_emails"),
        F.regexp_count(F.col("aug"), F.lit(_PII_IPV4)).cast("int").alias("n_ips"),
        F.regexp_count(F.col("aug"), F.lit(_PII_PHONE)).cast("int").alias("n_phones"),
        clean.alias("clean"),
    )
    return redacted.select(
        "doc_id",
        "n_emails",
        "n_ips",
        "n_phones",
        F.md5("clean").alias("redacted_md5"),
        (
            F.regexp_count(F.col("clean"), F.lit(_PII_EMAIL))
            + F.regexp_count(F.col("clean"), F.lit(_PII_IPV4))
            + F.regexp_count(F.col("clean"), F.lit(_PII_PHONE))
        ).cast("int").alias("residual_pii"),
    )


@query(
    "text_skipgram_pairs",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(TRIM(LOWER(text)), '\\s+'),
                         t -> t != '') AS ts
      FROM documents
    ),
    pos AS (
      SELECT doc_id, UNNEST(ts) AS w, UNNEST(range(1, len(ts) + 1)) AS i
      FROM toks
    )
    SELECT a.w AS w1, b.w AS w2, COUNT(*) AS n_cooc
    FROM pos a
    JOIN pos b ON a.doc_id = b.doc_id AND b.i - a.i BETWEEN 1 AND 2
    GROUP BY 1, 2
    HAVING COUNT(*) >= 30
    """,
)
def text_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skip-gram co-occurrence counts (window +1..+2, forward): the
    word2vec/GloVe training-pair table.

    The oracle states it as the naive positional SELF-JOIN; the Spark plan
    avoids the join entirely — for each offset k the pair list is
    arrays_zip(tokens, tokens-shifted-by-k), a pure array expression, so
    the whole thing is one codegen scan + one count aggregation. At
    100 TB that's the difference between shuffling the positional index
    twice for a join and shuffling only (w1, w2) partial counts.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda t: t != ""
    )
    pairs_k = [
        F.arrays_zip(
            F.slice(F.col("ts"), 1, F.greatest(F.size("ts") - k, F.lit(0))),
            F.slice(
                F.col("ts"),
                k + 1,
                F.greatest(F.size("ts") - k, F.lit(0)),
            ),
        )
        for k in (1, 2)
    ]
    return (
        d.select(toks.alias("ts"))
        .select(F.explode(F.concat(*pairs_k)).alias("p"))
        .select(F.col("p.0").alias("w1"), F.col("p.1").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_cooc"))
        .where(F.col("n_cooc") >= 30)
    )


@query(
    "text_tfidf_top_terms",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(TRIM(LOWER(text)), '\\s+'),
                         t -> t != '') AS ts
      FROM documents
    ),
    tf AS (
      SELECT doc_id, UNNEST(ts) AS term FROM toks
    ),
    tf_counts AS (
      SELECT doc_id, term, COUNT(*) AS tf FROM tf GROUP BY 1, 2
    ),
    df_counts AS (
      SELECT term, COUNT(*) AS df FROM tf_counts GROUP BY term
    ),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT t.doc_id, t.term, t.tf, d.df,
             ROUND(t.tf * (CAST(n.n_docs AS DOUBLE) / d.df), 6) AS tfidf_ratio,
             ROW_NUMBER() OVER (
               PARTITION BY t.doc_id
               ORDER BY t.tf * (CAST(n.n_docs AS DOUBLE) / d.df) DESC, t.term
             ) AS rnk
      FROM tf_counts t JOIN df_counts d USING (term) CROSS JOIN n
    )
    SELECT doc_id, term, tf, df, tfidf_ratio, rnk
    FROM scored WHERE rnk <= 5
    """,
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-5 terms per document (the HashingTF/IDF capability from
    SURVEY §2b, computed exactly instead of feature-hashed): term
    frequency x inverse document frequency, with idf kept as the RATIONAL
    N/df — ln() is not correctly-rounded identically across engines
    (NEXT.md lesson 3: only sqrt is), and a monotone transform doesn't
    change the ranking, which is what top-terms consumes.

    Shape: one explode + two hash aggs (term counts per doc, then doc
    frequencies), a broadcast of the df table, and a per-doc top-k window.
    The df table is vocabulary-sized — the thing that makes exact TF-IDF
    tractable where exact pairwise similarity isn't.
    """
    from pyspark.sql import Window as W

    d = load_table(spark, sf_dir, "documents")
    n_docs = d.count()
    toks = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda t: t != ""
    )
    tf = (
        d.select("doc_id", F.explode(toks).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_counts = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    score = F.col("tf") * (F.lit(float(n_docs)) / F.col("df"))
    w = W.partitionBy("doc_id").orderBy(score.desc(), "term")
    return (
        tf.join(df_counts, "term")
        .withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= 5)
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(score, 6).alias("tfidf_ratio"),
            "rnk",
        )
    )


_CHUNKS_CACHE = SessionMemo("textops.chunks")


@query(
    "dedup_shared_chunk_fraction",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
        list_filter(string_split_regex(TRIM(LOWER(text)), '\\s+'), t -> t != '') AS ws
      FROM documents
    ), chunk_lists AS (
      SELECT doc_id,
        list_transform(
          range(CAST(len(ws) // 8 AS BIGINT)),
          i -> md5(array_to_string(list_slice(ws, i*8+1, i*8+8), ' '))
        ) AS ch
      FROM toks
    ), chunks AS (
      SELECT doc_id, unnest(ch) AS chunk_hash FROM chunk_lists
    ), shared AS (
      SELECT chunk_hash, COUNT(DISTINCT doc_id) AS n_docs
      FROM chunks GROUP BY chunk_hash
    )
    SELECT
      c.doc_id,
      COUNT(*) AS n_chunks,
      CAST(SUM(CASE WHEN s.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT) AS shared_chunks,
      ROUND(SUM(CASE WHEN s.n_docs > 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
        AS shared_frac
    FROM chunks c JOIN shared s USING (chunk_hash)
    GROUP BY c.doc_id
    HAVING SUM(CASE WHEN s.n_docs > 1 THEN 1 ELSE 0 END) > 0
    """,
)
def dedup_shared_chunk_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-span detection: each document is cut into
    consecutive 8-token chunks (tail fragments dropped); a chunk occurring
    in more than one document is "shared", and each document reports what
    fraction of its chunks are shared — the corpus-level analogue of
    Gopher's within-doc duplicate-n-gram fraction, used to catch boilerplate
    and copy-paste contamination before training.

    Scale shape: chunk text never shuffles — chunks reduce to md5 digests
    at the map side, so the inverted index groups 16-byte keys. Two
    shuffles total (hash→doc-count, then the per-doc rollup); the chunk
    table is ~n_tokens/8 rows of (id, hash). Chunking itself is a pure
    array expression (transform over index slices), no explode of
    per-token rows.
    """
    # the chunking expression is a higher-order function (CodegenFallback —
    # interpreted per chunk); the testdata ships one row group per table, so
    # without an explicit fan-out the whole corpus chunks on ONE core. The
    # tiny text shuffle buys full-cluster parallelism for the hashing pass.
    # The chunk table is PERSISTED (session+dir memo): both consumers (the
    # inverted index and the per-doc rollup join side) otherwise re-run the
    # chunking HOF — measured 2.1s -> 0.9s warm at sf0.1.
    chunks = _CHUNKS_CACHE.get(spark, sf_dir)
    if chunks is None:
        d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        d = d.repartition(spark.sparkContext.defaultParallelism)
        toks = F.filter(
            F.split(F.trim(F.lower("text")), r"\s+"), lambda t: t != ""
        )
        # posexplode reads the projected `toks` column, so each chunk slices
        # the token array instead of re-splitting the text
        chunk_arr = F.expr(
            "CASE WHEN size(toks) >= 8 THEN transform("
            "sequence(0, size(toks) div 8 - 1),"
            " i -> md5(concat_ws(' ', slice(toks, i * 8 + 1, 8))))"
            " ELSE array() END"
        )
        chunks = (
            d.select("doc_id", toks.alias("toks"))
            .select("doc_id", F.posexplode(chunk_arr).alias("chunk_idx", "chunk_hash"))
            .persist()
        )
        _CHUNKS_CACHE.put(spark, sf_dir, chunks)
    shared = chunks.groupBy("chunk_hash").agg(
        F.countDistinct("doc_id").alias("n_docs")
    )
    return (
        chunks.join(shared, "chunk_hash")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
            .cast("long")
            .alias("shared_chunks"),
            F.round(
                F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
                * 1.0
                / F.count(F.lit(1)),
                6,
            ).alias("shared_frac"),
        )
        .where(F.col("shared_chunks") > 0)
    )


@query(
    "text_feature_hashing",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
        unnest(list_filter(string_split_regex(TRIM(LOWER(text)), '\\s+'), t -> t != ''))
          AS tok
      FROM documents
    )
    SELECT
      CAST(CAST(CONCAT('0x', substr(md5(tok), 1, 8)) AS BIGINT) % 64 AS INT) AS bucket,
      CAST(COUNT(*) AS BIGINT) AS total_count,
      CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
      CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct_tokens
    FROM toks
    GROUP BY 1
    """,
)
def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (Weinberger et al., ICML'09): tokens are mapped to
    a fixed 64-bucket feature space via a portable md5-derived hash — the
    vocabulary-free featurization used when a corpus is too large to build
    (or broadcast) a token dictionary. Reports per-bucket load: total
    occurrences, document frequency, and collision count (distinct tokens
    sharing the bucket).

    Scale shape: bucketing is a stateless projection — no vocabulary build,
    no dictionary join, which is the entire point of feature hashing at
    100 TB. One shuffle on the 64 bucket keys with map-side partials; the
    two COUNT(DISTINCT)s expand to (bucket, doc)/(bucket, tok) partial
    groups, still bounded by docs x 64. md5 (not xxhash64) keeps the
    bucket assignment engine-portable, mirroring training.py's split
    bucketing.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.trim(F.lower("text")), r"\s+"), lambda t: t != "")
    exploded = d.select("doc_id", F.explode(toks).alias("tok"))
    bucket = (
        F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("bigint") % 64
    ).cast("int")
    return (
        exploded.select("doc_id", "tok", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("total_count"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.countDistinct("tok").alias("n_distinct_tokens"),
        )
    )


@query("text_compression_ratio")
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality signal (rows-only): deflate each document
    and report compressed/raw byte ratio — the cheap redundancy detector
    used by large-corpus curation pipelines (highly repetitive or
    boilerplate text compresses far below natural prose; near-random noise
    barely compresses).

    Rows-only BY DESIGN, not debt: the ratio column IS the operator's
    output, and deflate output length is a zlib-implementation detail (no
    SQL engine exposes it, and the byte count isn't even guaranteed stable
    across zlib builds) — the determinize-and-oracle recipe used for the
    sketch family would have to DROP the ratio from the output, gutting the
    operator, to make the remaining columns hashable. The invariances that
    can be pinned are unit-tested instead (test_new_ops.py: repetitive <<
    diverse ordering, 0 < n_compressed <= n_bytes + zlib overhead, ratio
    consistency with its own numerator/denominator).

    Scale shape: zlib is the rare case where Python in the pipeline is
    justified (no Spark builtin), so it runs as mapInPandas — Arrow batches
    in, one C-speed zlib call per document, no per-row Python dispatch.
    The projection before the UDF keeps only (doc_id, text), so the scan
    prunes and the Arrow transfer carries nothing extra; output is 3 small
    numeric columns per doc.
    """
    import pandas as pd  # local: keep module import light

    def compress(batches):
        import zlib

        for pdf in batches:
            raw = pdf["text"].str.encode("utf-8")
            n_bytes = raw.str.len().astype("int64")
            n_comp = raw.map(lambda b: len(zlib.compress(b, 6))).astype("int64")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": n_bytes,
                    "n_compressed": n_comp,
                    "ratio": (n_comp / n_bytes.clip(lower=1)).round(6),
                }
            )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInPandas(
        compress, "doc_id BIGINT, n_bytes BIGINT, n_compressed BIGINT, ratio DOUBLE"
    )


@query(
    "text_unigram_cross_entropy",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
        unnest(list_filter(string_split_regex(TRIM(LOWER(text)), '\\s+'), t -> t != ''))
          AS tok
      FROM documents
    ), vocab AS (
      SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
    ), total AS (
      SELECT CAST(SUM(CAST(cnt AS BIGINT)) AS BIGINT) AS n_total FROM vocab
    )
    SELECT
      t.doc_id,
      COUNT(*) AS n_tokens,
      ROUND(
        ln(CAST(n_total AS DOUBLE))
        - CAST(SUM(CAST(ROUND(ln(CAST(v.cnt AS DOUBLE)), 6) AS DECIMAL(18,6))) AS DOUBLE)
          / COUNT(*),
        4) AS cross_entropy
    FROM toks t JOIN vocab v USING (tok) CROSS JOIN total
    GROUP BY t.doc_id, n_total
    """,
)
def text_unigram_cross_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM cross-entropy per document — the tractable stand-in for
    CCNet's LM-perplexity quality filter: documents made of globally rare
    tokens score high, boilerplate scores low. Per-doc score =
    ln(N) − mean(ln(count(tok))), algebraically −mean ln p(tok) with one
    corpus-wide normalizer.

    Scale shape: two passes — an explode→agg builds the token-frequency
    model (map-side partials; vocabulary ≪ corpus by Heaps' law), then the
    scoring pass joins that model BROADCAST onto the exploded stream and
    reduces per doc. If a web-scale vocabulary outgrew broadcast, the
    model join keys on token hash (same plan, shuffled); nothing else
    changes. Float discipline: ln() per distinct-count value rounds to 6
    before the exact decimal mean (transcendental outputs are not near
    decimal ties, so both libms round identically); the final score
    rounds to 4, leaving ~1e9 ulps of margin.
    """
    d = load_table(spark, sf_dir, "documents")
    toks_arr = F.filter(F.split(F.trim(F.lower("text")), r"\s+"), lambda t: t != "")
    toks = d.select("doc_id", F.explode(toks_arr).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = vocab.agg(F.sum("cnt").cast("long").alias("n_total"))
    return (
        toks.join(vocab, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id", "n_total")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (
                F.sum(
                    F.round(F.log(F.col("cnt").cast("double")), 6).cast("decimal(18,6)")
                ).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_ln_cnt"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                F.log(F.col("n_total").cast("double")) - F.col("mean_ln_cnt"), 4
            ).alias("cross_entropy"),
        )
    )


_SIMHASH_BITS = 48


def simhash_sig_sql_cte() -> str:
    """DuckDB CTE prefix ending in `sig(doc_id, simhash)`: the portable
    48-bit SimHash fingerprints, replayable by any engine (md5-derived
    token hashes, sign-of-vote-sum bits). Shared by the signature oracle
    here and the near-dup pair oracle in operators/dedup.py."""
    return f"""
    WITH toks AS (
      SELECT doc_id,
        list_filter(string_split_regex(TRIM(LOWER(text)), '\\s+'), t -> t != '') AS ws
      FROM documents
    ), hashes AS (
      SELECT doc_id,
        list_transform(list_distinct(ws),
          t -> CAST(CONCAT('0x', substr(md5(t), 1, 12)) AS BIGINT)) AS hs
      FROM toks WHERE len(ws) > 0
    ), bitsums AS (
      SELECT doc_id, u.bit AS bit,
        list_sum(list_transform(hs,
          h -> CASE WHEN (h >> u.bit) & 1 = 1 THEN 1 ELSE -1 END)) AS s
      FROM hashes, UNNEST(range({_SIMHASH_BITS})) AS u(bit)
    ), sig AS (
      SELECT
        doc_id,
        CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT)
          AS simhash
      FROM bitsums
      GROUP BY doc_id
    )"""


def _simhash_oracle_sql() -> str:
    return simhash_sig_sql_cte() + "\n    SELECT doc_id, simhash FROM sig"


@query("text_simhash_signatures", oracle=_simhash_oracle_sql())
def text_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable SimHash (Charikar 2002) signatures: 48-bit fingerprints
    from md5-derived token hashes — each bit is the sign of the per-bit
    vote sum over the document's distinct tokens. With every hash
    engine-replayable, the SIGNATURE TABLE itself is oracled (DuckDB
    recomputes all 48 vote sums); near-dup pair generation from
    signatures (hamming <= k via the pigeonhole block index) is exact
    given the table, so this anchors the whole simhash tier the way
    dedup_minhash_portable_pairs anchors minhash. The xxhash64 variant
    (dedup_simhash) stays the throughput path.

    Scale shape: one explode of distinct tokens, then ONE codegen'd
    aggregation computing all 48 conditional vote sums map-side — the
    signature build shuffles 48 small ints per doc, never token text
    (hashes reduce in the scan projection).
    """
    return portable_simhash_sigs(spark, sf_dir)


def portable_simhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, simhash): the portable 48-bit fingerprints — Spark mirror
    of simhash_sig_sql_cte(). Shared with dedup.dedup_simhash.

    The 48 vote sums and the 48-term sign-bit sum are generated as ONE SQL
    string that the JVM parses once (the kmeans `_fused_argmin` pattern):
    the same tree from nested F.* Columns costs a py4j round-trip per node:
    0.96 s per build against 0.19 s for the string, for an identical
    optimized plan (NEXT.md lesson 50)."""
    d = load_table(spark, sf_dir, "documents")
    # Fan out the single-row-group documents scan BY doc_id before the
    # explode+md5 projection (testdata ships one row group, so without this
    # all hashing serializes on one core) — hash-partitioning on doc_id
    # survives the projection, so the groupBy below needs NO second
    # exchange: net one small shuffle of raw text instead of one large
    # shuffle of (doc_id, hash) pairs. At 100 TB file splits make the
    # repartition a no-op cost-wise; the agg reuse still holds.
    d = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    toks = F.filter(F.split(F.trim(F.lower("text")), r"\s+"), lambda t: t != "")
    hashes = d.where(F.size(toks) > 0).select(
        "doc_id",
        F.explode(F.array_distinct(toks)).alias("t"),
    ).select(
        "doc_id",
        F.conv(F.substring(F.md5("t"), 1, 12), 16, 10).cast("long").alias("h"),
    )
    # Vote sum s_i = ones_i - (n - ones_i): aggregate plain bit counts (one
    # shiftright+and per bit, no conditional) plus one row count, and test
    # 2*ones_i > n — identical sign to the ±1 formulation at half the
    # per-row expression work.
    votes = ", ".join(
        f"sum(CAST(shiftright(h, {i}) & 1 AS BIGINT)) AS s{i}"
        for i in range(_SIMHASH_BITS)
    )
    sig = " + ".join(
        f"CASE WHEN s{i} * 2 > _n THEN {1 << i}L ELSE 0L END"
        for i in range(_SIMHASH_BITS)
    )
    return spark.sql(
        f"SELECT doc_id, {sig} AS simhash FROM ("
        f"SELECT doc_id, count(1) AS _n, {votes} FROM {{hashes}} GROUP BY doc_id)",
        hashes=hashes,
    )


@query(
    "docs_length_histogram_by_lang",
    oracle="""
    WITH bounds AS (
      SELECT MIN(n_chars) AS lo, MAX(n_chars) AS hi FROM documents
    )
    SELECT
      lang,
      CAST(LEAST(((n_chars - lo) * 10) // GREATEST(hi - lo + 1, 1), 9) AS BIGINT)
        AS bucket,
      COUNT(*) AS n_docs,
      CAST(MIN(n_chars) AS BIGINT) AS min_chars,
      CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents CROSS JOIN bounds
    GROUP BY 1, 2
    """,
)
def docs_length_histogram_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length distribution per language in 10 equi-width buckets
    over the corpus range — the length profile a curation pass reads
    before setting min/max-length filters. Integer bucket arithmetic
    ((x-lo)*10 div range) is exact in both engines; the corpus bounds
    broadcast from a 1-row aggregate.
    """
    d = load_table(spark, sf_dir, "documents")
    bounds = d.agg(F.min("n_chars").alias("lo"), F.max("n_chars").alias("hi"))
    bucket = F.least(
        (
            ((F.col("n_chars") - F.col("lo")) * 10)
            / F.greatest(F.col("hi") - F.col("lo") + 1, F.lit(1))
        ).cast("long"),
        F.lit(9),
    )
    return (
        d.crossJoin(F.broadcast(bounds))
        .groupBy("lang", bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_chars").cast("long").alias("min_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
        )
    )


@query(
    "text_token_length_profile",
    oracle="""
    WITH toks AS (
      SELECT
        unnest(list_filter(string_split_regex(TRIM(LOWER(text)), '\\s+'), t -> t != ''))
          AS tok
      FROM documents
    )
    SELECT
      CAST(LENGTH(tok) AS BIGINT) AS token_length,
      COUNT(*) AS n_tokens,
      CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_distinct
    FROM toks
    GROUP BY 1
    """,
)
def text_token_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length distribution over the corpus — the tokenizer
    diagnostic (a spike at extreme lengths means URLs/DNA/garbage leaked
    through normalization; the length mix drives bytes-per-token
    estimates for training budgets). Explode -> length -> two counts;
    map-side partials collapse the fan-out before the ~20-key shuffle.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.trim(F.lower("text")), r"\s+"), lambda t: t != "")
    return (
        d.select(F.explode(toks).alias("tok"))
        .groupBy(F.length("tok").cast("long").alias("token_length"))
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.countDistinct("tok").alias("n_distinct"),
        )
    )


_BM25_PERDOC_CACHE = SessionMemo("textops.bm25_per_doc")


@query(
    "text_bm25_search",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(TRIM(LOWER(text)), '\s+'),
                         t -> t != '') AS ts
      FROM documents
    ),
    dl AS (SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl FROM toks),
    stats AS (
      SELECT CAST(SUM(dl) AS DOUBLE) AS sum_dl, CAST(COUNT(*) AS DOUBLE) AS nd
      FROM dl
    ),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, UNNEST(ts) AS term FROM toks)
      WHERE term IN ('spark', 'window', 'join', 'vector')
      GROUP BY doc_id, term
    ),
    dfc AS (SELECT term, CAST(COUNT(*) AS DOUBLE) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT t.doc_id,
             ROUND(LN((s.nd - d.df + 0.5) / (d.df + 0.5) + 1.0), 6)
               * ((CAST(t.tf AS DOUBLE) * 2.2)
                  / (CAST(t.tf AS DOUBLE)
                     + 1.2 * (0.25 + 0.75 * (CAST(l.dl AS DOUBLE)
                                             / (s.sum_dl / s.nd))))) AS sc
      FROM tf t
      JOIN dl l USING (doc_id)
      JOIN dfc d USING (term)
      CROSS JOIN stats s
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           ROUND(CAST(SUM(CAST(ROUND(sc, 6) AS DECIMAL(18,6))) AS DOUBLE), 5)
             AS bm25_score
    FROM scored GROUP BY doc_id
    ORDER BY bm25_score DESC, doc_id LIMIT 25
    """,
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 full-text ranking (k1=1.2, b=0.75) for a fixed 4-term query —
    top-25 docs. The relevance scorer Lucene/Elasticsearch ship, expressed
    as two hash aggregations plus broadcasts.

    Float discipline (registry contract): ln() is the one libm call —
    round the per-term idf to 6dp, keep the tf normalization in exact IEEE
    double arithmetic (identical operand chain both engines), round each
    term score to 6dp, DECIMAL-sum per doc (order-insensitive), round the
    final score one digit coarser.

    Scale shape: tf for the query terms is a filtered explode (predicate on
    the term BEFORE the doc-term agg — at 100 TB an inverted index / Bloom
    file-skip makes this a lookup, cf. layout_index_point_lookup); df and
    the corpus stats are tiny broadcasts; top-25 is TakeOrderedAndProject,
    never a global sort.
    """
    d = load_table(spark, sf_dir, "documents")
    terms = ["spark", "window", "join", "vector"]
    toks = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"), lambda t: t != ""
    )
    docs = d.select("doc_id", F.explode(toks).alias("term"))
    # ONE tokenize+explode pass and ONE doc_id shuffle produce BOTH the
    # doc lengths and the per-query-term tfs (conditional aggs over the
    # fixed term list) — tokenization is the scan-dominant cost and must
    # not run once per consumer. per_doc is PERSISTED (session+dir memo):
    # its three consumers (tf stack, df counts, corpus stats) otherwise
    # re-expand the explode subtree each — filter pushdown differentiates
    # the subtrees, defeating exchange reuse (NEXT.md lesson 4; plan-
    # asserted: tests/test_plans.py::test_bm25_single_tokenize_pass).
    per_doc = _BM25_PERDOC_CACHE.get(spark, sf_dir)
    if per_doc is None:
        per_doc = docs.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("dl"),
            *[
                F.sum(F.when(F.col("term") == t, 1).otherwise(0)).alias(f"tf_{i}")
                for i, t in enumerate(terms)
            ],
        ).persist()
        _BM25_PERDOC_CACHE.put(spark, sf_dir, per_doc)
    stats = per_doc.agg(
        F.sum("dl").cast("double").alias("sum_dl"),
        F.count(F.lit(1)).cast("double").alias("nd"),
    )
    stack_expr = ", ".join(f"'{t}', tf_{i}" for i, t in enumerate(terms))
    tf = (
        per_doc.selectExpr(
            "doc_id", "dl", f"stack({len(terms)}, {stack_expr}) AS (term, tf)"
        )
        .where(F.col("tf") > 0)
        .select("doc_id", "dl", F.col("tf").cast("long").alias("tf"), "term")
    )
    dfc = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    idf = F.round(
        F.log(
            (F.col("nd") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
            + F.lit(1.0)
        ),
        6,
    )
    tfd = F.col("tf").cast("double")
    tfn = (tfd * F.lit(2.2)) / (
        tfd
        + F.lit(1.2)
        * (
            F.lit(0.25)
            + F.lit(0.75)
            * (F.col("dl").cast("double") / (F.col("sum_dl") / F.col("nd")))
        )
    )
    scored = (
        tf.join(dfc, "term")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", F.round(idf * tfn, 6).cast("decimal(18,6)").alias("sc"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.round(F.sum("sc").cast("double"), 5).alias("bm25_score"),
        )
        .orderBy(F.desc("bm25_score"), "doc_id")
        .limit(25)
    )


@query(
    "text_zipf_fit",
    oracle=r"""
    WITH toks AS (
      SELECT list_filter(string_split_regex(TRIM(LOWER(text)), '\s+'),
                         t -> t != '') AS ts
      FROM documents
    ), freq AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS f
      FROM (SELECT UNNEST(ts) AS term FROM toks)
      GROUP BY term HAVING COUNT(*) >= 5
    ), ranked AS (
      SELECT ROUND(LN(CAST(ROW_NUMBER() OVER (ORDER BY f DESC, term)
                           AS DOUBLE)), 6) AS lr,
             ROUND(LN(CAST(f AS DOUBLE)), 6) AS lf
      FROM freq
    ), sums AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(lr AS DECIMAL(18,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(lf AS DECIMAL(18,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(ROUND(lr * lr, 6) AS DECIMAL(18,6))) AS DOUBLE)
               AS sxx,
             CAST(SUM(CAST(ROUND(lr * lf, 6) AS DECIMAL(18,6))) AS DOUBLE)
               AS sxy
      FROM ranked
    )
    SELECT n AS n_terms,
           ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
                 / (CAST(n AS DOUBLE) * sxx - sx * sx), 6) AS zipf_slope,
           ROUND((sy - ((CAST(n AS DOUBLE) * sxy - sx * sy)
                        / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx)
                 / CAST(n AS DOUBLE), 6) AS intercept
    FROM sums
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: least-squares slope of
    ln(frequency) vs ln(rank) for terms with freq >= 5 — the standard
    corpus-health diagnostic (natural text sits near slope -1; a flat or
    broken line means templated/duplicated text). Closed-form regression
    from decimal power sums (the stats_regression_by_flag discipline),
    ln rounded to 6dp before summing (the transcendental rule).

    Scale shape: one explode + vocabulary-sized agg, a rank window over
    the (tiny) vocabulary table, then a single-row reduce.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.trim(F.lower("text")), r"\s+"), lambda t: t != "")
    freq = (
        d.select(F.explode(toks).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
        .where(F.col("f") >= 5)
    )
    from pyspark.sql import Window as W

    rw = W.orderBy(F.desc("f"), "term")
    ranked = freq.select(
        F.round(F.log(F.row_number().over(rw).cast("double")), 6).alias("lr"),
        F.round(F.log(F.col("f").cast("double")), 6).alias("lf"),
    )
    dec = lambda c: F.sum(c.cast("decimal(18,6)")).cast("double")  # noqa: E731
    sums = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dec(F.col("lr")).alias("sx"),
        dec(F.col("lf")).alias("sy"),
        dec(F.round(F.col("lr") * F.col("lr"), 6)).alias("sxx"),
        dec(F.round(F.col("lr") * F.col("lf"), 6)).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    slope = (nd * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        nd * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return sums.select(
        F.col("n").alias("n_terms"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / nd, 6).alias("intercept"),
    )


@query(
    "text_pmi_keyness",
    oracle=r"""
    WITH toks AS (
      SELECT lang,
             list_filter(string_split_regex(TRIM(LOWER(text)), '\s+'),
                         t -> t != '') AS ts
      FROM documents
    ), tl AS (
      SELECT lang, term, CAST(COUNT(*) AS BIGINT) AS n_tl
      FROM (SELECT lang, UNNEST(ts) AS term FROM toks)
      GROUP BY lang, term
    ), tm AS (
      SELECT term, CAST(SUM(n_tl) AS BIGINT) AS n_t FROM tl GROUP BY term
    ), lm AS (
      SELECT lang, CAST(SUM(n_tl) AS BIGINT) AS n_l FROM tl GROUP BY lang
    ), tot AS (
      SELECT CAST(SUM(n_tl) AS BIGINT) AS n FROM tl
    ), pmi AS (
      SELECT t.lang, t.term, t.n_tl,
             ROUND(LN((CAST(t.n_tl AS DOUBLE) * CAST(o.n AS DOUBLE))
                      / (CAST(m.n_t AS DOUBLE) * CAST(l.n_l AS DOUBLE))), 6)
               AS pmi
      FROM tl t
      JOIN tm m ON t.term = m.term
      JOIN lm l ON t.lang = l.lang
      CROSS JOIN tot o
      WHERE t.n_tl >= 5
    ), ranked AS (
      SELECT lang, term, n_tl, pmi,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY pmi DESC, term) AS rk
      FROM pmi
    )
    SELECT lang, CAST(rk AS INT) AS rk, term, n_tl, pmi
    FROM ranked WHERE rk <= 5
    """,
)
def text_pmi_keyness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyness analysis: top-5 terms per language by pointwise mutual
    information, PMI = ln(P(term, lang) / (P(term) P(lang))) over token
    counts — the corpus-linguistics statistic behind 'which words
    characterize this sublanguage', and the drift counterpart of
    drift_lang_distribution_train_test. Support floor n >= 5 kills the
    rare-term PMI explosion. One ln per cell, rounded to 6dp (ranking
    uses the rounded value in BOTH engines; term breaks ties).

    Scale shape: one explode + a (lang, term) agg; the term and lang
    marginals are rollups of THAT aggregate (never a second corpus
    scan); marginals broadcast; per-lang top-5 is WindowGroupLimit.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.trim(F.lower("text")), r"\s+"), lambda t: t != "")
    tl = (
        d.select("lang", F.explode(toks).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("n_tl"))
        .persist()
    )
    tm = tl.groupBy("term").agg(F.sum("n_tl").cast("long").alias("n_t"))
    lm = tl.groupBy("lang").agg(F.sum("n_tl").cast("long").alias("n_l"))
    tot = tl.agg(F.sum("n_tl").cast("long").alias("n"))
    d_ = lambda c: F.col(c).cast("double")  # noqa: E731
    pmi = F.round(
        F.log((d_("n_tl") * d_("n")) / (d_("n_t") * d_("n_l"))), 6
    )
    scored = (
        tl.where(F.col("n_tl") >= 5)
        .join(tm, "term")
        .join(F.broadcast(lm), "lang")
        .crossJoin(F.broadcast(tot))
        .select("lang", "term", "n_tl", pmi.alias("pmi"))
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("lang").orderBy(F.desc("pmi"), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("int"))
        .where(F.col("rk") <= 5)
        .select("lang", "rk", "term", "n_tl", "pmi")
    )


@query(
    "text_boilerplate_prefixes",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(TRIM(LOWER(text)), '\s+'),
                         t -> t != '') AS ts
      FROM documents
    ), pref AS (
      SELECT doc_id, source,
             md5(array_to_string(list_slice(ts, 1, 8), ' ')) AS prefix_hash
      FROM toks WHERE len(ts) >= 8
    ), freq AS (
      SELECT prefix_hash, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
      FROM pref GROUP BY prefix_hash
    )
    SELECT p.source, p.prefix_hash, f.n_docs, f.n_sources,
           CAST(COUNT(*) AS BIGINT) AS n_docs_in_source
    FROM pref p JOIN freq f ON p.prefix_hash = f.prefix_hash
    WHERE f.n_docs >= 3
    GROUP BY p.source, p.prefix_hash, f.n_docs, f.n_sources
    """,
)
def text_boilerplate_prefixes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-prefix detection: documents sharing their first 8
    tokens (hashed) with >= 3 other documents — the shared-header /
    template signal a curation pipeline strips before training (scraped
    corpora carry nav bars, license headers, form letters; a prefix
    repeated ACROSS sources is near-certain boilerplate, within one source
    it may be a template). Reported per (source, prefix) with corpus-wide
    document and source counts.

    Scale shape: the prefix reduces to an md5 at the scan (the winnowing/
    chunk-dedup discipline — text never shuffles), one vocabulary-of-
    prefixes aggregation, and a hash-key join back.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.trim(F.lower("text")), r"\s+"), lambda t: t != "")
    pref = (
        d.select("doc_id", "source", toks.alias("ts"))
        .where(F.size("ts") >= 8)
        .select(
            "doc_id",
            "source",
            F.md5(F.concat_ws(" ", F.slice("ts", 1, 8))).alias("prefix_hash"),
        )
    )
    freq = pref.groupBy("prefix_hash").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
    )
    return (
        pref.join(freq.where(F.col("n_docs") >= 3), "prefix_hash")
        .groupBy("source", "prefix_hash", "n_docs", "n_sources")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs_in_source"))
    )


@query(
    "text_heaps_law_fit",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(TRIM(LOWER(text)), '\s+'),
                         t -> t != '') AS ts
      FROM documents
    ), doc_len AS (
      SELECT doc_id, CAST(len(ts) AS BIGINT) AS dl FROM toks
    ), first_seen AS (
      SELECT term, MIN(doc_id) AS first_doc
      FROM (SELECT doc_id, UNNEST(ts) AS term FROM toks)
      GROUP BY term
    ), new_terms AS (
      SELECT first_doc AS doc_id, CAST(COUNT(*) AS BIGINT) AS nv
      FROM first_seen GROUP BY first_doc
    ), cum AS (
      SELECT d.doc_id,
             SUM(d.dl) OVER (ORDER BY d.doc_id) AS n_tokens,
             SUM(COALESCE(v.nv, 0)) OVER (ORDER BY d.doc_id) AS vocab
      FROM doc_len d LEFT JOIN new_terms v ON v.doc_id = d.doc_id
    ), sampled AS (
      SELECT ROUND(LN(CAST(n_tokens AS DOUBLE)), 6) AS lx,
             ROUND(LN(CAST(vocab AS DOUBLE)), 6) AS ly
      FROM cum WHERE doc_id % 25 = 24 AND vocab > 0
    ), sums AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(lx AS DECIMAL(18,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(ly AS DECIMAL(18,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(ROUND(lx * lx, 6) AS DECIMAL(18,6))) AS DOUBLE)
               AS sxx,
             CAST(SUM(CAST(ROUND(lx * ly, 6) AS DECIMAL(18,6))) AS DOUBLE)
               AS sxy
      FROM sampled
    )
    SELECT n AS n_samples,
           ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
                 / (CAST(n AS DOUBLE) * sxx - sx * sx), 6) AS heaps_beta,
           ROUND((sy - ((CAST(n AS DOUBLE) * sxy - sx * sy)
                        / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx)
                 / CAST(n AS DOUBLE), 6) AS ln_k
    FROM sums
    """,
)
def text_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit of vocabulary growth: V(n) ~ K * n^beta, estimated
    by ln-ln least squares over the cumulative (tokens seen, distinct
    terms seen) curve sampled every 25 documents — Zipf's companion law
    (text_zipf_fit), and the statistic that predicts how much NEW
    vocabulary another 10x of corpus will bring (natural text: beta ~
    0.4-0.6; a closed vocabulary like this synthetic corpus saturates,
    beta -> 0 at the tail — which is the finding). Cumulative distinct
    counts come from each term's FIRST document (min doc_id) — an
    aggregation, never a running set.

    Scale shape: one explode + vocabulary-sized first-seen agg, prefix
    sums over the doc axis, a 20-row regression.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.trim(F.lower("text")), r"\s+"), lambda t: t != "")
    with_ts = d.select("doc_id", toks.alias("ts"))
    doc_len = with_ts.select("doc_id", F.size("ts").cast("long").alias("dl"))
    from pyspark.sql import Window

    first_seen = (
        with_ts.select("doc_id", F.explode("ts").alias("term"))
        .groupBy("term")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    new_terms = first_seen.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("long").alias("nv")
    )
    wc = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        doc_len.join(new_terms, "doc_id", "left")
        .select(
            "doc_id",
            F.sum("dl").over(wc).alias("n_tokens"),
            F.sum(F.coalesce(F.col("nv"), F.lit(0))).over(wc).alias("vocab"),
        )
    )
    sampled = cum.where((F.col("doc_id") % 25 == 24) & (F.col("vocab") > 0)).select(
        F.round(F.log(F.col("n_tokens").cast("double")), 6).alias("lx"),
        F.round(F.log(F.col("vocab").cast("double")), 6).alias("ly"),
    )
    dec = lambda c: F.sum(c.cast("decimal(18,6)")).cast("double")  # noqa: E731
    sums = sampled.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dec(F.col("lx")).alias("sx"),
        dec(F.col("ly")).alias("sy"),
        dec(F.round(F.col("lx") * F.col("lx"), 6)).alias("sxx"),
        dec(F.round(F.col("lx") * F.col("ly"), 6)).alias("sxy"),
    )
    nd = F.col("n").cast("double")
    slope = (nd * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        nd * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return sums.select(
        F.col("n").alias("n_samples"),
        F.round(slope, 6).alias("heaps_beta"),
        F.round((F.col("sy") - slope * F.col("sx")) / nd, 6).alias("ln_k"),
    )


@query(
    "text_lang_id_metrics",
    oracle=f"""
    WITH toks AS (
      SELECT lang,
        list_filter(string_split_regex(TRIM(LOWER(text)), '\\s+'), t -> t != '') AS toks
      FROM documents
    ),
    pred AS (
      SELECT lang,
        (CASE WHEN best.n > 0 THEN best.lang ELSE 'und' END) AS pred
      FROM (SELECT lang, {_lang_votes_sql()} AS best FROM toks)
    ),
    labels AS (SELECT DISTINCT lang AS label FROM pred),
    counts AS (
      SELECT l.label,
        (SELECT COUNT(*) FROM pred p
          WHERE p.lang = l.label AND p.pred = l.label) AS tp,
        (SELECT COUNT(*) FROM pred p
          WHERE p.pred = l.label AND p.lang <> l.label) AS fp,
        (SELECT COUNT(*) FROM pred p
          WHERE p.lang = l.label AND p.pred <> l.label) AS fn
      FROM labels l
    )
    SELECT label, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn,
           ROUND(CASE WHEN tp + fp > 0
                 THEN CAST(tp AS DOUBLE) / (tp + fp) END, 6) AS precision,
           ROUND(CASE WHEN tp + fn > 0
                 THEN CAST(tp AS DOUBLE) / (tp + fn) END, 6) AS recall,
           ROUND(CASE WHEN 2 * tp + fp + fn > 0
                 THEN CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn) END, 6)
             AS f1
    FROM counts
    """,
)
def text_lang_id_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation over the lang-id confusion matrix: per-label
    true/false positives and negatives with precision / recall / F1 — the
    quality report any labeling stage in a data pipeline ships alongside
    its predictions. F1 uses the 2tp/(2tp+fp+fn) form, one division of
    exact integers instead of a ratio of ratios, so zero-denominator
    guards are integer tests and the single double division is
    deterministic cross-engine.

    Scale shape: the confusion matrix (|labels|^2 rows max) is one scan +
    one agg; per-label counts are conditional sums over that tiny grid —
    the subqueries in the oracle flatten to the same conditional
    aggregation Spark runs.
    """
    d = load_table(spark, sf_dir, "documents")
    pred = d.select("lang", lang_id(F.col("text")).alias("pred"))
    conf = pred.groupBy("lang", "pred").agg(F.count(F.lit(1)).alias("n"))
    labels = conf.select(F.col("lang").alias("label")).distinct()
    joined = labels.join(
        F.broadcast(conf),
        (F.col("lang") == F.col("label")) | (F.col("pred") == F.col("label")),
    )
    counts = joined.groupBy("label").agg(
        F.sum(
            F.when((F.col("lang") == F.col("label")) & (F.col("pred") == F.col("label")), F.col("n")).otherwise(0)
        ).alias("tp"),
        F.sum(
            F.when((F.col("pred") == F.col("label")) & (F.col("lang") != F.col("label")), F.col("n")).otherwise(0)
        ).alias("fp"),
        F.sum(
            F.when((F.col("lang") == F.col("label")) & (F.col("pred") != F.col("label")), F.col("n")).otherwise(0)
        ).alias("fn"),
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    return counts.select(
        "label",
        tp,
        fp,
        fn,
        F.round(
            F.when(tp + fp > 0, tp.cast("double") / (tp + fp)), 6
        ).alias("precision"),
        F.round(
            F.when(tp + fn > 0, tp.cast("double") / (tp + fn)), 6
        ).alias("recall"),
        F.round(
            F.when(2 * tp + fp + fn > 0, (2 * tp).cast("double") / (2 * tp + fp + fn)),
            6,
        ).alias("f1"),
    )


@query(
    "text_ngram_novelty_by_source",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source,
        list_filter(string_split(LOWER(regexp_replace(TRIM(text), '\\s+', ' ', 'g')), ' '),
                    t -> t != '') AS ws
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT source, unnest(
        list_transform(range(1, len(ws) - 1),
          i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS gram
      FROM toks WHERE len(ws) >= 3
    ),
    spread AS (
      SELECT gram, COUNT(*) AS n_sources FROM grams GROUP BY gram
    )
    SELECT g.source,
           COUNT(*) AS n_gram_types,
           CAST(SUM(CASE WHEN s.n_sources = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unique_grams,
           ROUND(CAST(SUM(CASE WHEN s.n_sources = 1 THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS novelty
    FROM grams g JOIN spread s ON g.gram = s.gram
    GROUP BY g.source
    """,
)
def text_ngram_novelty_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source content novelty: for each source, the share of its
    distinct word-trigram TYPES that occur in no other source — the
    "does this source add anything" signal data-mixture decisions weigh
    (a near-zero novelty source is already covered by the rest of the
    corpus). Grams are compared as exact strings, not engine-local hashes,
    so the distinct-source spread is bit-portable; at 100 TB you would md5
    the grams map-side first (dedup's portable-hash recipe) so only 16-byte
    digests shuffle — counts would be identical, the strings never leave
    the scan either way.

    Scale shape: one tokenize pass -> per-source distinct grams (map-side
    distinct inside the agg), the spread table groups by gram (the only
    wide shuffle, keyed by gram), and the scorecard is a rollup of the
    (source, gram) postings joined to the spread.
    """
    d = load_table(spark, sf_dir, "documents")
    ws = F.filter(
        F.split(F.lower(F.regexp_replace(F.trim("text"), r"\s+", " ")), " "),
        lambda t: t != "",
    )
    grams_arr = F.expr(
        "array_distinct(transform(sequence(1, size(ws) - 2),"
        " i -> concat_ws(' ', ws[i - 1], ws[i], ws[i + 1])))"
    )
    grams = (
        d.select("source", ws.alias("ws"))
        .where(F.size("ws") >= 3)
        .select("source", F.explode(grams_arr).alias("gram"))
        .distinct()
    )
    spread = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("n_sources"))
    uniq = F.sum(F.when(F.col("n_sources") == 1, 1).otherwise(0))
    return (
        grams.join(spread, "gram")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_gram_types"),
            uniq.alias("n_unique_grams"),
            F.round(uniq.cast("double") / F.count(F.lit(1)), 6).alias("novelty"),
        )
    )


@query(
    "text_tokenizer_fertility_by_lang",
    oracle=f"""
    WITH per_doc AS (
      SELECT lang,
        CAST(len(list_filter(string_split_regex(TRIM(LOWER(text)), '\\s+'),
                             t -> t != '')) AS BIGINT) AS n_words,
        CAST(len(regexp_extract_all(text, '{_TOKEN_RE}')) AS BIGINT) AS n_toks
      FROM documents
    )
    SELECT lang,
      COUNT(*) AS n_docs,
      CAST(SUM(n_words) AS BIGINT) AS n_words,
      CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
      CASE WHEN SUM(n_words) > 0 THEN
        ROUND(CAST(SUM(n_toks) AS DOUBLE) / CAST(SUM(n_words) AS DOUBLE), 6)
      END AS fertility
    FROM per_doc GROUP BY 1
    """,
)
def text_tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer FERTILITY per language: subword tokens (the BPE-ish
    pre-tokenizer regex, functions/text.py:token_count) per whitespace
    word — the standard multilingual-tokenizer efficiency metric (a lang
    whose fertility runs high pays more sequence length per word, skewing
    compute budgets and mixture math).

    Determinism: both counts are integer regex/split cardinalities; the
    ratio divides exact BIGINTs in double, guarded for empty corpora.

    At 100 TB: one scan, two counting projections, a 5-row rollup with
    map-side combine — text never shuffles.
    """
    from ..functions.text import token_count

    d = load_table(spark, sf_dir, "documents")
    words = F.size(
        F.filter(F.split(F.trim(F.lower("text")), r"\s+"), lambda t: t != "")
    ).cast("bigint")
    per_doc = d.select(
        "lang",
        words.alias("n_words"),
        token_count(F.col("text")).cast("bigint").alias("n_toks"),
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("n_words"),
        F.sum("n_toks").alias("n_tokens"),
        F.when(
            F.sum("n_words") > 0,
            F.round(
                F.sum("n_toks").cast("double") / F.sum("n_words").cast("double"),
                6,
            ),
        ).alias("fertility"),
    )


@query(
    "text_oov_rate_by_lang",
    oracle=r"""
    WITH toks AS (
      SELECT lang,
        unnest(list_filter(
          string_split_regex(TRIM(LOWER(text)), '\s+'), t -> t != ''))
          AS term
      FROM documents
    ), tf AS (
      SELECT lang, term, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM toks GROUP BY lang, term
    ), vocab AS (
      SELECT term FROM (
        SELECT term,
          ROW_NUMBER() OVER (
            ORDER BY SUM(cnt) DESC, term) AS rk
        FROM tf GROUP BY term
      ) WHERE rk <= 1000
    )
    SELECT lang,
      CAST(SUM(cnt) AS BIGINT) AS total_tokens,
      CAST(SUM(CASE WHEN v.term IS NULL THEN cnt ELSE 0 END) AS BIGINT)
        AS oov_tokens,
      ROUND(CAST(SUM(CASE WHEN v.term IS NULL THEN cnt ELSE 0 END) AS DOUBLE)
            / CAST(SUM(cnt) AS DOUBLE), 6) AS oov_rate
    FROM tf LEFT JOIN vocab v USING (term)
    GROUP BY lang
    """,
)
def text_oov_rate_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per language against the corpus's own top-1000
    term vocabulary — the tokenizer-coverage diagnostic run before
    committing a vocab/tokenizer to a multilingual corpus (high OOV in a
    language means its text will fragment into long byte-level tails;
    pairs with text_tokenizer_fertility_by_lang, which measures the
    fragmentation itself).

    The vocabulary is a deterministic rank cut: ROW_NUMBER over (global
    count desc, term asc) — integer counts with a total tie order, so the
    top-1000 SET is identical cross-engine. Rates divide exact BIGINTs.

    At 100 TB: one tokenize-explode into the (lang, term) rollup; the
    global-term rollup derives from it (map-side combined); the vocab is
    a 1000-row broadcast against the term-keyed rollup — never the raw
    token stream.
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.trim(F.lower("text")), r"\s+"), lambda t: t != ""
    )
    tf = (
        d.select("lang", F.explode(toks).alias("term"))
        .groupBy("lang", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    vocab = (
        tf.groupBy("term")
        .agg(F.sum("cnt").alias("g"))
        .select(
            "term",
            F.row_number()
            .over(Window.orderBy(F.col("g").desc(), "term"))
            .alias("rk"),
        )
        .where(F.col("rk") <= 1000)
        .select("term", F.lit(1).alias("in_vocab"))
    )
    joined = tf.join(F.broadcast(vocab), "term", "left_outer")
    oov = F.when(F.col("in_vocab").isNull(), F.col("cnt")).otherwise(F.lit(0))
    return joined.groupBy("lang").agg(
        F.sum("cnt").cast("bigint").alias("total_tokens"),
        F.sum(oov).cast("bigint").alias("oov_tokens"),
        F.round(
            F.sum(oov).cast("double") / F.sum("cnt").cast("double"), 6
        ).alias("oov_rate"),
    )

# (applicationId, sf_dir) -> persisted corpus bigram count table — both the
# smoothing constants (V, total) and the scoring join consume it; without
# the persist each consumer re-runs the tokenize+explode pass (lesson 27).
_BIGRAM_LM_CACHE = SessionMemo("textops.bigram_lm")


@query(
    "text_bigram_perplexity",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
        list_filter(string_split_regex(TRIM(LOWER(text)), '\\s+'),
                    t -> t != '') AS ws
      FROM documents
    ), bigr AS (
      SELECT doc_id,
        unnest(list_transform(range(1, len(ws)),
                              i -> ws[i] || ' ' || ws[i + 1])) AS bg
      FROM toks
    ), model AS (
      SELECT bg, COUNT(*) AS cnt FROM bigr GROUP BY bg
    ), consts AS (
      SELECT COUNT(*) AS v,
        CAST(SUM(CAST(cnt AS BIGINT)) AS BIGINT) AS n_total
      FROM model
    )
    SELECT
      b.doc_id,
      COUNT(*) AS n_bigrams,
      ROUND(
        ln(CAST(n_total + v AS DOUBLE))
        - CAST(SUM(CAST(ROUND(ln(CAST(m.cnt + 1 AS DOUBLE)), 6)
                        AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*),
        4) AS cross_entropy,
      ROUND(exp(ROUND(
        ln(CAST(n_total + v AS DOUBLE))
        - CAST(SUM(CAST(ROUND(ln(CAST(m.cnt + 1 AS DOUBLE)), 6)
                        AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*),
        4)), 4) AS perplexity
    FROM bigr b JOIN model m USING (bg) CROSS JOIN consts
    GROUP BY b.doc_id, n_total, v
    """,
)
def text_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive-smoothed (add-one) bigram-LM perplexity per document — the
    bigram upgrade of text_unigram_cross_entropy and the standard CCNet/
    Gopher-style LM quality score: p(bg) = (count(bg) + 1) / (N + V) with
    V the distinct-bigram vocabulary, per-doc cross-entropy =
    ln(N + V) - mean(ln(count + 1)), perplexity = exp(ce).

    Float discipline: ln(count+1) rounds to 6dp before the exact decimal
    mean (lesson 10); ce rounds to 4dp in both engines BEFORE exp, so exp
    sees an identical double and its own ulp is absorbed by the final
    4dp round. Raw bigram strings — no hashing needed, the model join is
    exact either way.

    Scale shape: one tokenize+explode pass builds the bigram model
    (map-side partials; bigram vocabulary ≪ corpus by Heaps' law),
    persisted because the smoothing constants AND the scoring join both
    read it; the scoring pass joins the model onto the exploded bigram
    stream (broadcast-able until web scale, then a hash shuffle on bg)
    and reduces per doc.
    """
    cached = _BIGRAM_LM_CACHE.get(spark, sf_dir)
    if cached is not None:
        model = cached[0]
    else:
        d = load_table(spark, sf_dir, "documents")
        arr = F.filter(
            F.split(F.trim(F.lower("text")), r"\s+"), lambda t: t != ""
        )
        bigrams = F.when(
            F.size(arr) >= 2,
            F.zip_with(
                F.slice(arr, 1, F.size(arr) - 1),
                F.slice(arr, 2, F.size(arr) - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            ),
        ).otherwise(F.array().cast("array<string>"))
        bigr = d.select("doc_id", F.explode(bigrams).alias("bg"))
        model = bigr.groupBy("bg").agg(F.count(F.lit(1)).alias("cnt")).persist()
        _BIGRAM_LM_CACHE.put(spark, sf_dir, (model,))
    # r14 (guide §2.5): the scoring tokenize+explode re-runs per rep off
    # the single-row-group documents scan — one task for the whole bigram
    # stream; fan it out (the winnowing/simhash precedent).
    d = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    arr = F.filter(F.split(F.trim(F.lower("text")), r"\s+"), lambda t: t != "")
    bigrams = F.when(
        F.size(arr) >= 2,
        F.zip_with(
            F.slice(arr, 1, F.size(arr) - 1),
            F.slice(arr, 2, F.size(arr) - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bigr = d.select("doc_id", F.explode(bigrams).alias("bg"))
    consts = model.agg(
        F.count(F.lit(1)).alias("v"),
        F.sum("cnt").cast("long").alias("n_total"),
    )
    ln_denom = F.log((F.col("n_total") + F.col("v")).cast("double"))
    mean_ln = (
        F.sum(
            F.round(F.log((F.col("cnt") + 1).cast("double")), 6).cast(
                "decimal(18,6)"
            )
        ).cast("double")
        / F.count(F.lit(1))
    )
    return (
        bigr.join(model, "bg")
        .crossJoin(F.broadcast(consts))
        .groupBy("doc_id", "n_total", "v")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(ln_denom - mean_ln, 4).alias("cross_entropy"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "cross_entropy",
            F.round(F.exp("cross_entropy"), 4).alias("perplexity"),
        )
    )


@query(
    "text_hapax_ratio_by_lang",
    oracle="""
    WITH toks AS (
      SELECT lang,
        unnest(list_filter(string_split_regex(TRIM(LOWER(text)), '\\s+'),
                           t -> t != '')) AS tok
      FROM documents
    ),
    vocab AS (
      SELECT lang, tok, COUNT(*) AS cnt FROM toks GROUP BY 1, 2
    )
    SELECT lang,
      COUNT(*) AS vocab_size,
      CAST(SUM(CAST(cnt AS BIGINT)) AS BIGINT) AS n_tokens,
      COUNT(CASE WHEN cnt = 1 THEN 1 END) AS hapax_count,
      ROUND(CAST(COUNT(CASE WHEN cnt = 1 THEN 1 END) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE), 6) AS hapax_share
    FROM vocab GROUP BY lang
    """,
)
def text_hapax_ratio_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax-legomena profile per language: vocabulary size, token mass,
    and the share of vocabulary occurring exactly once — the classic
    lexical-richness probe (hapax share tracks Heaps' exponent, and a
    collapsing hapax share is the standard symptom of template/boilerplate
    corpora in pretraining-data audits; complements text_heaps_law_fit).

    Pure integer counts and one exact ratio, rounded 6dp.

    At 100 TB: one tokenize+explode pass into the (lang, token) rollup
    with map-side combine; the per-lang census aggregates the rollup —
    vocabulary-scale, not corpus-scale.
    """
    d = load_table(spark, sf_dir, "documents")
    toks_arr = F.filter(
        F.split(F.trim(F.lower("text")), r"\s+"), lambda t: t != ""
    )
    toks = d.select("lang", F.explode(toks_arr).alias("tok"))
    vocab = toks.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    hapax = F.count(F.when(F.col("cnt") == 1, 1))
    return vocab.groupBy("lang").agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum("cnt").cast("bigint").alias("n_tokens"),
        hapax.alias("hapax_count"),
        F.round(
            hapax.cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("hapax_share"),
    )


@query(
    "text_js_divergence_by_source",
    oracle="""
    WITH toks AS (
      SELECT source,
        unnest(list_filter(string_split_regex(TRIM(LOWER(text)), '\\s+'),
                           t -> t != '')) AS tok
      FROM documents
    ),
    per_src AS (
      SELECT source, tok, COUNT(*) AS cnt FROM toks GROUP BY 1, 2
    ),
    all_tok AS (
      SELECT tok, CAST(SUM(CAST(cnt AS BIGINT)) AS BIGINT) AS cnt_all
      FROM per_src GROUP BY tok
    ),
    src_tot AS (
      SELECT source, CAST(SUM(CAST(cnt AS BIGINT)) AS BIGINT) AS tot_s
      FROM per_src GROUP BY source
    ),
    grand AS (
      SELECT CAST(SUM(cnt_all) AS BIGINT) AS tot_all FROM all_tok
    ),
    expanded AS (
      SELECT s.source, a.tok, a.cnt_all, s.tot_s, g.tot_all,
        COALESCE(p.cnt, 0) AS cnt_s
      FROM src_tot s
      CROSS JOIN all_tok a
      CROSS JOIN grand g
      LEFT JOIN per_src p ON p.source = s.source AND p.tok = a.tok
    ),
    terms AS (
      SELECT source,
        CAST(cnt_s AS DOUBLE) / CAST(tot_s AS DOUBLE) AS p,
        CAST(cnt_all - cnt_s AS DOUBLE)
          / CAST(tot_all - tot_s AS DOUBLE) AS q
      FROM expanded
    ),
    contribs AS (
      SELECT source,
        ROUND(
          0.5 * (CASE WHEN p > 0
                 THEN p * ROUND(ln(2 * p / (p + q)), 6) ELSE 0 END)
          + 0.5 * (CASE WHEN q > 0
                   THEN q * ROUND(ln(2 * q / (p + q)), 6) ELSE 0 END),
          12) AS contrib
      FROM terms
    )
    SELECT source,
      ROUND(CAST(SUM(CAST(contrib AS DECIMAL(24,12))) AS DOUBLE), 6)
        AS js_nats
    FROM contribs GROUP BY source
    """,
)
def text_js_divergence_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Jensen-Shannon divergence (nats) of each source's unigram
    distribution against the REST of the corpus — the
    which-source-is-distributionally-odd report driving pretraining
    mixture weights and contamination triage (JS is symmetric and
    bounded, unlike raw KL).

    Determinism: p and q are ratios of exact BIGINT counts (identical
    doubles); each ln rounds to 6dp (lesson 10); per-token contributions
    round to 12dp before the exact DECIMAL(24,12) sum (they are O(p) ~
    1e-4-scale, so 12dp keeps ~8 significant digits while making the sum
    order-insensitive); the final JS rounds to 6.

    At 100 TB: the vocabulary x sources expansion is Heaps-bounded
    (vocab ≪ corpus) and the per-source left join keys on (source, tok);
    everything else is rollups with map-side combine. The complement
    ("rest") distribution derives from corpus totals — the corpus is
    never re-scanned per source.
    """
    d = load_table(spark, sf_dir, "documents")
    toks_arr = F.filter(
        F.split(F.trim(F.lower("text")), r"\s+"), lambda t: t != ""
    )
    toks = d.select("source", F.explode(toks_arr).alias("tok"))
    # persisted: per_src feeds all_tok, src_tot, grand AND the scoring left
    # join — unpersisted, the tokenize+explode pass re-runs per consumer
    # (lesson 27; found by scripts/scan_audit.py as documents x4)
    per_src = (
        toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("cnt")).persist()
    )
    all_tok = per_src.groupBy("tok").agg(
        F.sum("cnt").cast("bigint").alias("cnt_all")
    )
    src_tot = per_src.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("tot_s")
    )
    grand = all_tok.agg(F.sum("cnt_all").cast("bigint").alias("tot_all"))
    expanded = (
        src_tot.crossJoin(all_tok)
        .crossJoin(F.broadcast(grand))
        .join(per_src, ["source", "tok"], "left")
        .select(
            "source",
            "cnt_all",
            "tot_s",
            "tot_all",
            F.coalesce("cnt", F.lit(0)).alias("cnt_s"),
        )
    )
    p = F.col("cnt_s").cast("double") / F.col("tot_s").cast("double")
    q = (F.col("cnt_all") - F.col("cnt_s")).cast("double") / (
        F.col("tot_all") - F.col("tot_s")
    ).cast("double")
    terms = expanded.select("source", p.alias("p"), q.alias("q"))
    half_p = F.when(
        F.col("p") > 0,
        F.col("p")
        * F.round(F.log(2 * F.col("p") / (F.col("p") + F.col("q"))), 6),
    ).otherwise(F.lit(0.0))
    half_q = F.when(
        F.col("q") > 0,
        F.col("q")
        * F.round(F.log(2 * F.col("q") / (F.col("p") + F.col("q"))), 6),
    ).otherwise(F.lit(0.0))
    contribs = terms.select(
        "source", F.round(0.5 * half_p + 0.5 * half_q, 12).alias("contrib")
    )
    return contribs.groupBy("source").agg(
        F.round(
            F.sum(F.col("contrib").cast("decimal(24,12)")).cast("double"), 6
        ).alias("js_nats")
    )


@query(
    "text_vocab_coverage_topk",
    oracle="""
    WITH toks AS (
      SELECT unnest(list_filter(string_split_regex(TRIM(LOWER(text)), '\\s+'),
                                t -> t != '')) AS tok
      FROM documents
    ),
    vocab AS (
      SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok
    ),
    ranked AS (
      SELECT cnt,
        ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rk,
        CAST(SUM(CAST(cnt AS BIGINT)) OVER (
          ORDER BY cnt DESC, tok
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS cum_mass,
        CAST(SUM(CAST(cnt AS BIGINT)) OVER () AS BIGINT) AS total_mass,
        COUNT(*) OVER () AS vocab_size
      FROM vocab
    )
    SELECT CAST(rk AS BIGINT) AS top_k, vocab_size, cum_mass, total_mass,
      ROUND(CAST(cum_mass AS DOUBLE) / CAST(total_mass AS DOUBLE), 6)
        AS coverage
    FROM ranked
    WHERE rk IN (5, 10, 25)
    """,
)
def text_vocab_coverage_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve at the classic cut points: what share of
    the corpus token MASS do the top-5 / top-10 / top-25 types cover —
    the tokenizer-sizing and stopword-budget report (a Zipfian corpus
    covers ~half its mass with a few hundred types; a flat curve flags
    synthetic or encrypted text). Cut points sit at 5/10/25 because this
    synthetic corpus's vocabulary is ~31 types (lesson 9: cuts the data
    never reaches produce empty report rows); real corpora use
    100/1k/10k. Rows appear only for cut points the vocabulary reaches.

    Pure integer counts: the cumulative mass rides one (cnt DESC, tok)
    rank window; coverage is one exact ratio, rounded 6dp.

    At 100 TB: one tokenize+explode pass into the vocabulary rollup
    (Heaps-bounded); the rank window sorts the VOCABULARY, not the
    corpus — and only the three cut rows survive.
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks_arr = F.filter(
        F.split(F.trim(F.lower("text")), r"\s+"), lambda t: t != ""
    )
    toks = d.select(F.explode(toks_arr).alias("tok"))
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    wr = Window.orderBy(F.col("cnt").desc(), "tok")
    wall = Window.partitionBy()
    ranked = vocab.select(
        F.row_number().over(wr).cast("bigint").alias("top_k"),
        F.count(F.lit(1)).over(wall).alias("vocab_size"),
        F.sum(F.col("cnt").cast("bigint"))
        .over(wr.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("cum_mass"),
        F.sum(F.col("cnt").cast("bigint"))
        .over(wall)
        .cast("bigint")
        .alias("total_mass"),
    )
    return ranked.where(F.col("top_k").isin(5, 10, 25)).select(
        "top_k",
        "vocab_size",
        "cum_mass",
        "total_mass",
        F.round(
            F.col("cum_mass").cast("double") / F.col("total_mass").cast("double"),
            6,
        ).alias("coverage"),
    )


@query(
    "text_bytes_per_token_by_source",
    oracle="""
    WITH per_doc AS (
      SELECT source,
        octet_length(encode(text)) AS n_bytes,
        length(text) AS n_chars,
        len(list_filter(string_split_regex(TRIM(LOWER(text)), '\\s+'),
                        t -> t != '')) AS n_tokens
      FROM documents
    )
    SELECT source,
      CAST(SUM(CAST(n_bytes AS BIGINT)) AS BIGINT) AS total_bytes,
      CAST(SUM(CAST(n_tokens AS BIGINT)) AS BIGINT) AS total_tokens,
      CASE WHEN SUM(CAST(n_tokens AS BIGINT)) > 0 THEN
        ROUND(CAST(SUM(CAST(n_bytes AS BIGINT)) AS DOUBLE)
              / CAST(SUM(CAST(n_tokens AS BIGINT)) AS DOUBLE), 6) END
        AS bytes_per_token,
      CASE WHEN SUM(CAST(n_tokens AS BIGINT)) > 0 THEN
        ROUND(CAST(SUM(CAST(n_chars AS BIGINT)) AS DOUBLE)
              / CAST(SUM(CAST(n_tokens AS BIGINT)) AS DOUBLE), 6) END
        AS chars_per_token
    FROM per_doc GROUP BY source
    """,
)
def text_bytes_per_token_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Bytes-per-token and chars-per-token by source — the
    tokenizer-budget metric that converts a storage estimate into a
    token count per corpus slice (and exposes multi-byte-heavy sources,
    where bytes/token diverges from chars/token). Complements the
    per-LANGUAGE fertility entry with the per-SOURCE cost view.

    Pure integer sums (utf-8 octet length, char length, whitespace token
    count) and two guarded exact ratios.

    At 100 TB: one scan; the per-doc numbers are three scalar
    expressions, the rollup combines map-side.
    """
    d = load_table(spark, sf_dir, "documents")
    toks_arr = F.filter(
        F.split(F.trim(F.lower("text")), r"\s+"), lambda t: t != ""
    )
    per_doc = d.select(
        "source",
        F.octet_length("text").alias("n_bytes"),
        F.length("text").alias("n_chars"),
        F.size(toks_arr).alias("n_tokens"),
    )
    tb = F.sum(F.col("n_bytes").cast("bigint"))
    tc = F.sum(F.col("n_chars").cast("bigint"))
    tt = F.sum(F.col("n_tokens").cast("bigint"))
    return per_doc.groupBy("source").agg(
        tb.cast("bigint").alias("total_bytes"),
        tt.cast("bigint").alias("total_tokens"),
        F.when(tt > 0, F.round(tb.cast("double") / tt.cast("double"), 6)).alias(
            "bytes_per_token"
        ),
        F.when(tt > 0, F.round(tc.cast("double") / tt.cast("double"), 6)).alias(
            "chars_per_token"
        ),
    )


@query(
    "text_sttr_by_source",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source,
        list_filter(string_split(LOWER(regexp_replace(TRIM(text), '\\s+', ' ', 'g')), ' '),
                    t -> t != '') AS ws
      FROM documents
    ),
    chunks AS (
      SELECT source,
        ROUND(CAST(len(list_distinct(
          list_slice(ws, 1 + 25 * (i - 1), 25 * i))) AS DOUBLE) / 25.0, 6)
          AS ttr
      FROM (
        SELECT doc_id, source, ws,
          UNNEST(range(1, CAST(len(ws) // 25 AS BIGINT) + 1)) AS i
        FROM toks WHERE len(ws) >= 25
      )
    )
    SELECT source,
      CAST(COUNT(*) AS BIGINT) AS n_chunks,
      CAST(SUM(CAST(ttr AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS sttr
    FROM chunks GROUP BY source
    """,
)
def text_sttr_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized (segmented) type-token ratio per source: mean TTR over
    disjoint complete 25-word chunks — the length-robust lexical-
    diversity metric (raw TTR shrinks with document length, so corpora
    are compared on fixed-size segments; 25 matches the paragraph grain
    used by the dedup family). Partial trailing chunks are excluded by
    the STTR definition (len // 25 complete chunks per doc).

    Determinism: each chunk's TTR is an exact distinct-count / 25
    (identical doubles), rounded 6dp; the per-source mean is an
    order-insensitive decimal sum over exact counts.

    At 100 TB: one tokenize pass, chunk membership is integer offset
    arithmetic, and only (source, ttr) rows shuffle into a 20-row
    rollup.
    """
    d = load_table(spark, sf_dir, "documents")
    ws = F.filter(
        F.split(F.lower(F.regexp_replace(F.trim("text"), r"\s+", " ")), " "),
        lambda t: t != "",
    )
    chunks = (
        d.select("source", ws.alias("ws"))
        .where(F.size("ws") >= 25)
        .select(
            "source",
            F.explode(
                F.sequence(F.lit(1), F.floor(F.size("ws") / 25).cast("int"))
            ).alias("i"),
            F.col("ws"),
        )
        .select(
            "source",
            F.round(
                F.size(
                    F.array_distinct(
                        F.expr("slice(ws, 1 + 25 * (i - 1), 25)")
                    )
                ).cast("double")
                / F.lit(25.0),
                6,
            ).alias("ttr"),
        )
    )
    return chunks.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        (
            F.sum(F.col("ttr").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("sttr"),
    )


@query(
    "text_simpson_diversity_by_source",
    oracle="""
    WITH toks AS (
      SELECT source,
        unnest(list_filter(
          string_split(LOWER(regexp_replace(TRIM(text), '\\s+', ' ', 'g')), ' '),
          t -> t != '')) AS tok
      FROM documents
    ),
    freqs AS (
      SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS f
      FROM toks GROUP BY 1, 2
    )
    SELECT source,
      CAST(SUM(f) AS BIGINT) AS n_tokens,
      CAST(COUNT(*) AS BIGINT) AS vocab_size,
      CASE WHEN SUM(f) >= 2 THEN ROUND(
        CAST(SUM(f * (f - 1)) AS DOUBLE)
        / (CAST(SUM(f) AS DOUBLE) * CAST(SUM(f) - 1 AS DOUBLE)), 6)
      END AS simpson_d,
      CASE WHEN SUM(f) >= 2 THEN ROUND(
        1.0 - CAST(SUM(f * (f - 1)) AS DOUBLE)
        / (CAST(SUM(f) AS DOUBLE) * CAST(SUM(f) - 1 AS DOUBLE)), 6)
      END AS gini_simpson
    FROM freqs GROUP BY source
    """,
)
def text_simpson_diversity_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Simpson's diversity index per source: D = sum f(f-1) / (N(N-1)),
    the probability that two tokens drawn without replacement are the
    SAME type, plus the Gini-Simpson complement 1-D — the repetition/
    diversity pair corpus-QC dashboards track beside entropy (which
    needs transcendentals; Simpson is a pure exact rational).

    Determinism: token frequencies are exact BIGINTs; numerator and
    denominator are exact integer sums, divided once. No rounding
    recipe needed beyond the final 6dp.

    At 100 TB: one tokenize+explode pass into the (source, token)
    rollup with map-side combine; the census aggregates vocabulary-
    scale rows.
    """
    d = load_table(spark, sf_dir, "documents")
    ws = F.filter(
        F.split(F.lower(F.regexp_replace(F.trim("text"), r"\s+", " ")), " "),
        lambda t: t != "",
    )
    freqs = (
        d.select("source", F.explode(ws).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    n = F.sum("f").cast("bigint")
    rep = F.sum(F.col("f") * (F.col("f") - 1)).cast("bigint")
    dsimp = rep.cast("double") / (
        n.cast("double") * (n - 1).cast("double")
    )
    return freqs.groupBy("source").agg(
        n.alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
        F.when(n >= 2, F.round(dsimp, 6)).alias("simpson_d"),
        F.when(n >= 2, F.round(1.0 - dsimp, 6)).alias("gini_simpson"),
    )


@query(
    "text_bigram_entropy_rate_by_lang",
    oracle="""
    WITH toks AS (
      SELECT lang,
        list_filter(string_split(LOWER(regexp_replace(TRIM(text), '\\s+', ' ', 'g')), ' '),
                    t -> t != '') AS ws
      FROM documents
    ),
    bigrams AS (
      SELECT lang, ws[i] AS a, ws[i + 1] AS b
      FROM (SELECT lang, ws, unnest(range(1, len(ws))) AS i
            FROM toks WHERE len(ws) >= 2)
    ),
    cells AS (
      SELECT lang, a, b, CAST(COUNT(*) AS BIGINT) AS cab
      FROM bigrams GROUP BY 1, 2, 3
    ),
    marg AS (
      SELECT lang, a, CAST(SUM(cab) AS BIGINT) AS ca
      FROM cells GROUP BY 1, 2
    ),
    tot AS (
      SELECT lang, CAST(SUM(cab) AS BIGINT) AS n FROM cells GROUP BY 1
    )
    SELECT c.lang,
      MIN(n) AS n_bigrams,
      CAST(SUM(CAST(ROUND(
        -(CAST(cab AS DOUBLE) / CAST(n AS DOUBLE))
          * ln(CAST(cab AS DOUBLE) / CAST(ca AS DOUBLE)), 6)
        AS DECIMAL(18,6))) AS DOUBLE) AS entropy_rate
    FROM cells c
    JOIN marg m ON m.lang = c.lang AND m.a = c.a
    JOIN tot t ON t.lang = c.lang
    GROUP BY c.lang
    """,
)
def text_bigram_entropy_rate_by_lang(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Conditional bigram entropy rate per language: H(next | prev) =
    -sum p(ab) ln p(b|a) over word bigrams — how predictable the next
    word is given the previous one, the sequence-level companion of the
    unigram entropy ops (text_unigram_cross_entropy) and the text-side
    sibling of events_markov_entropy_rate.

    Determinism (lesson 10): every term is built from EXACT BIGINT
    count ratios (identical doubles), the ln result is rounded 6dp, and
    terms accumulate as an order-insensitive DECIMAL sum — engine libm
    differences cannot reach the hash. Cells exist only at positive
    counts, so ln never sees 0 (lesson 28).

    At 100 TB: one tokenize pass into the (lang, bigram) rollup with
    map-side combine; marginals and totals are rollups OF that rollup
    (vocabulary-squared scale, not corpus scale).
    """
    d = load_table(spark, sf_dir, "documents")
    ws = F.filter(
        F.split(F.lower(F.regexp_replace(F.trim("text"), r"\s+", " ")), " "),
        lambda t: t != "",
    )
    bigrams = (
        d.select("lang", ws.alias("ws"))
        .where(F.size("ws") >= 2)
        .select(
            "lang",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ws) - 1),"
                    " i -> struct(ws[i - 1] AS a, ws[i] AS b))"
                )
            ).alias("ab"),
        )
        .select("lang", F.col("ab.a").alias("a"), F.col("ab.b").alias("b"))
    )
    cells = bigrams.groupBy("lang", "a", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("cab")
    )
    marg = cells.groupBy("lang", "a").agg(
        F.sum("cab").cast("bigint").alias("ca")
    )
    tot = cells.groupBy("lang").agg(F.sum("cab").cast("bigint").alias("n"))
    dd = lambda col: F.col(col).cast("double")  # noqa: E731
    term = F.round(
        -(dd("cab") / dd("n")) * F.log(dd("cab") / dd("ca")), 6
    ).cast("decimal(18,6)")
    return (
        cells.join(marg, ["lang", "a"])
        .join(tot, "lang")
        .groupBy("lang")
        .agg(
            F.min("n").alias("n_bigrams"),
            F.sum(term).cast("double").alias("entropy_rate"),
        )
    )


# (applicationId, sf_dir) -> persisted (doc, true_lang, token, count)
# rollup — the NB model tables and the scoring join all consume it.
# five entries per sf_dir (token rollup, class_counts, doc_tot, and since
# r14 the langs/delta model tables) — size 12 keeps two SFs resident so the
# parity tests' sf0.01+sf0.001 passes don't thrash the memo
_NB_TOKS_CACHE = SessionMemo("textops.nb_doc_tokens", maxsize=12)


@query(
    "ml_naive_bayes_lang_confusion",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang AS true_lang, tok, CAST(COUNT(*) AS BIGINT) AS c
      FROM (
        SELECT doc_id, lang,
          unnest(list_filter(
            string_split_regex(LOWER(TRIM(text)), '\\s+'), t -> t != ''))
            AS tok
        FROM documents
      ) GROUP BY 1, 2, 3
    ),
    vocab AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM toks),
    class_counts AS (
      SELECT true_lang AS lang, tok, CAST(SUM(c) AS BIGINT) AS cnt
      FROM toks GROUP BY 1, 2
    ),
    class_tot AS (
      SELECT lang, CAST(SUM(cnt) AS BIGINT) AS tot
      FROM class_counts GROUP BY 1
    ),
    doc_counts AS (
      SELECT true_lang AS lang, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd
      FROM toks GROUP BY 1
    ),
    nd_tot AS (SELECT CAST(SUM(nd) AS BIGINT) AS ndt FROM doc_counts),
    langs AS (
      SELECT t.lang, t.tot, d.nd, v, ndt,
        CAST(ROUND(ln(1.0 / CAST(t.tot + v AS DOUBLE)), 6)
             AS DECIMAL(18,6)) AS default_logp,
        CAST(ROUND(ln(CAST(d.nd AS DOUBLE) / CAST(ndt AS DOUBLE)), 6)
             AS DECIMAL(18,6)) AS prior_logp
      FROM class_tot t
      JOIN doc_counts d ON d.lang = t.lang
      CROSS JOIN vocab CROSS JOIN nd_tot
    ),
    logps AS (
      SELECT c.lang, c.tok,
        CAST(ROUND(ln(CAST(c.cnt + 1 AS DOUBLE)
                      / CAST(l.tot + l.v AS DOUBLE)), 6)
             AS DECIMAL(18,6)) AS logp
      FROM class_counts c JOIN langs l ON l.lang = c.lang
    ),
    scores AS (
      SELECT t.doc_id, t.true_lang, l.lang AS cand,
        l.prior_logp + SUM(t.c * COALESCE(p.logp, l.default_logp)) AS score
      FROM toks t
      CROSS JOIN langs l
      LEFT JOIN logps p ON p.lang = l.lang AND p.tok = t.tok
      GROUP BY t.doc_id, t.true_lang, l.lang, l.prior_logp
    ),
    predicted AS (
      SELECT doc_id, true_lang, cand AS predicted_lang,
        ROW_NUMBER() OVER (PARTITION BY doc_id
                           ORDER BY score DESC, cand) AS rk
      FROM scores
    )
    SELECT true_lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM predicted WHERE rk = 1
    GROUP BY 1, 2
    """,
)
def ml_naive_bayes_lang_confusion(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Multinomial Naive Bayes language classifier, trained AND evaluated
    on the corpus in one plan, reported as a (true, predicted) confusion
    matrix — the classic from-scratch distributed-ML exercise, fully
    oracled: add-one-smoothed token log-likelihoods plus document-count
    priors, argmax over the 5 language classes.

    Determinism: every log-prob is ln of an exact BIGINT ratio
    ((cnt+1)/(tot+V) — identical doubles), rounded 6dp into
    DECIMAL(18,6); per-document scores are ORDER-INSENSITIVE decimal
    sums of c * logp (integer-scaled exact arithmetic, lesson 10's
    recipe extended to a full classifier); the argmax is ROW_NUMBER over
    (score DESC, lang). Unseen (doc-token x class) cells take the
    class's smoothing floor through the scaffold identity below.

    Scoring identity (A/B-measured 3.72 -> 2.36 s warm @ sf0.1): instead
    of fanning the token rollup out 5x through a cross join and LEFT
    join, score(d, l) = prior_l + default_l * T_d
    + sum_{tok in model_l} c * (logp_l - default_l). Every operand is an
    exact DECIMAL, so decimal distributivity makes this bit-identical to
    the naive prior + sum c * coalesce(logp, default) the oracle
    replays; the token-grain join becomes an INNER join on tok alone and
    the 5-way scaffold lives at doc grain. The cached token rollup now
    has exactly 3 consumers (class counts, doc totals, the scoring
    join) — vocab and per-class doc counts derive from the persisted
    smaller rollups.

    At 100 TB: one tokenize pass to (doc, token, count); model tables
    are vocabulary-scale rollups of it; scoring joins the doc-token
    rollup to the |V| x 5 model on the token key (never a cross join of
    docs x vocab), and the confusion rollup is 25 cells.
    """
    d = load_table(spark, sf_dir, "documents")
    ws = F.filter(
        F.split(F.lower(F.trim("text")), r"\s+"), lambda t: t != ""
    )
    # the (doc, token, count) rollup feeds vocab, class stats, doc priors,
    # AND the scoring join — persisted + memoized or the tokenize+explode
    # pass re-runs once per consumer (lesson 27/30, scan_audit-found)
    toks = memo_persist(
        _NB_TOKS_CACHE,
        spark,
        sf_dir,
        lambda: (
            d.select(
                "doc_id", F.col("lang").alias("true_lang"), F.explode(ws).alias("tok")
            )
            .groupBy("doc_id", "true_lang", "tok")
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        ),
    )
    # class_counts and doc_tot are the only two direct consumers of the
    # cached token rollup besides the scoring join (3 cache reads, not 5):
    # vocab derives from class_counts (vocabulary-scale) and per-class doc
    # counts from doc_tot (doc-scale) — same values, smaller inputs.
    class_counts = memo_persist(
        _NB_TOKS_CACHE,
        spark,
        (sf_dir, "class_counts"),
        lambda: toks.groupBy(F.col("true_lang").alias("lang"), "tok").agg(
            F.sum("c").cast("bigint").alias("cnt")
        ),
    )
    doc_tot = memo_persist(
        _NB_TOKS_CACHE,
        spark,
        (sf_dir, "doc_tot"),
        lambda: toks.groupBy("doc_id", "true_lang").agg(
            F.sum("c").cast("bigint").alias("t_d")
        ),
    )
    vocab = class_counts.agg(
        F.countDistinct("tok").cast("bigint").alias("v")
    )
    class_tot = class_counts.groupBy("lang").agg(
        F.sum("cnt").cast("bigint").alias("tot")
    )
    doc_counts = doc_tot.groupBy(F.col("true_lang").alias("lang_d")).agg(
        F.count(F.lit(1)).cast("bigint").alias("nd")
    )
    nd_tot = doc_counts.agg(F.sum("nd").cast("bigint").alias("ndt"))
    dd = lambda c: F.col(c).cast("double")  # noqa: E731
    # r14 (guide §2.4/§3.3 — truncate multiply-consumed plans): langs is a
    # 5-row model table consumed by THREE lazy arms (logps, delta's second
    # join side, the scoring scaffold's cand broadcast) and delta by the
    # token-grain scoring join — without a cut the whole class_tot/
    # doc_counts/vocab/nd_tot aggregation chain re-ran once per consumer
    # per invocation (sub-frame attribution: scores alone cost +0.86 s of
    # which most was subtree recompute). Both tables are vocabulary-scale
    # (5 and |V|x5 rows), deterministic per sf_dir, and now memo_persist'd
    # beside the class_counts/doc_tot rollups they derive from.
    langs = memo_persist(
        _NB_TOKS_CACHE,
        spark,
        (sf_dir, "nb_langs"),
        lambda: (
            class_tot.join(
                doc_counts, F.col("lang") == F.col("lang_d")
            )
            .crossJoin(F.broadcast(vocab))
            .crossJoin(F.broadcast(nd_tot))
            .select(
                "lang",
                "tot",
                "v",
                F.round(
                    F.log(1.0 / (F.col("tot") + F.col("v")).cast("double")), 6
                )
                .cast("decimal(18,6)")
                .alias("default_logp"),
                F.round(F.log(dd("nd") / dd("ndt")), 6)
                .cast("decimal(18,6)")
                .alias("prior_logp"),
            )
        ),
    )
    logps = class_counts.join(
        langs.select("lang", "tot", "v"), "lang"
    ).select(
        "lang",
        "tok",
        F.round(
            F.log(
                (F.col("cnt") + 1).cast("double")
                / (F.col("tot") + F.col("v")).cast("double")
            ),
            6,
        )
        .cast("decimal(18,6)")
        .alias("logp"),
    )
    cand = langs.select(
        F.col("lang").alias("cand"), "default_logp", "prior_logp"
    )
    # Scoring restated to avoid fanning the token rollup out 5x through a
    # cross join: score(d, l) = prior_l + default_l * T_d
    # + sum_{tok in model_l} c * (logp - default_l). All operands are exact
    # DECIMALs (logp/default are DECIMAL(18,6), c is integer), so decimal
    # distributivity makes this BIT-IDENTICAL to the original
    # prior + sum c * coalesce(logp, default) the oracle replays — the
    # token-grain join is now an INNER join on tok alone (fan-out = classes
    # actually holding the token), and the 5-way scaffold lives at DOC
    # grain, not token grain.
    delta = memo_persist(
        _NB_TOKS_CACHE,
        spark,
        (sf_dir, "nb_delta"),
        lambda: logps.join(
            langs.select(F.col("lang").alias("_dl"), "default_logp"),
            F.col("lang") == F.col("_dl"),
        ).select(
            F.col("lang").alias("cand_l"),
            F.col("tok").alias("tok_l"),
            (F.col("logp") - F.col("default_logp")).alias("dlp"),
        ),
    )
    matched = (
        toks.join(delta, F.col("tok") == F.col("tok_l"))
        .groupBy(
            F.col("doc_id").alias("doc_m"), F.col("cand_l").alias("cand_m")
        )
        .agg(F.sum(F.col("c") * F.col("dlp")).alias("sdelta"))
    )
    scores = (
        doc_tot.crossJoin(F.broadcast(cand))
        .join(
            matched,
            (F.col("doc_id") == F.col("doc_m"))
            & (F.col("cand") == F.col("cand_m")),
            "left",
        )
        .select(
            "doc_id",
            "true_lang",
            "cand",
            (
                F.col("prior_logp")
                + F.col("default_logp") * F.col("t_d")
                + F.coalesce(F.col("sdelta"), F.lit(0).cast("decimal(18,6)"))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "cand")
    predicted = scores.select(
        "doc_id",
        "true_lang",
        F.col("cand").alias("predicted_lang"),
        F.row_number().over(w).alias("rk"),
    ).where(F.col("rk") == 1)
    return predicted.groupBy("true_lang", "predicted_lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )


@query(
    "text_yules_k_by_source",
    oracle="""
    WITH toks AS (
      SELECT source,
        unnest(list_filter(
          string_split(LOWER(regexp_replace(TRIM(text), '\\s+', ' ', 'g')), ' '),
          t -> t != '')) AS tok
      FROM documents
    ),
    freqs AS (
      SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS f
      FROM toks GROUP BY 1, 2
    )
    SELECT source,
      CAST(SUM(f) AS BIGINT) AS n_tokens,
      CAST(COUNT(*) AS BIGINT) AS vocab_size,
      CASE WHEN SUM(f) >= 2 THEN ROUND(
        10000.0 * (CAST(SUM(f * f) AS DOUBLE) - CAST(SUM(f) AS DOUBLE))
        / (CAST(SUM(f) AS DOUBLE) * CAST(SUM(f) AS DOUBLE)), 6)
      END AS yules_k
    FROM freqs GROUP BY source
    """,
)
def text_yules_k_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule's K characteristic per source: K = 10^4 (S2 - N) / N^2 with
    S2 = sum f^2 over type frequencies — the classic repetitiveness
    constant (large K = a few types dominate; it is N-invariant where raw
    TTR is not). Completes the lexical-richness battery beside Simpson
    diversity (a resampling probability), STTR (windowed TTR), and the
    hapax ratio (tail mass) — K is the second-moment member.

    Determinism: type frequencies are exact BIGINTs; S2 and N are exact
    integer sums (BIGINT here; the 100 TB path widens the f^2 sum to
    DECIMAL(38,0) before the one double division), divided once, 6dp.

    At 100 TB: one tokenize+explode pass into the (source, token) rollup
    with map-side combine; the census aggregates vocabulary-scale rows —
    the same shape as text_simpson_diversity_by_source, so the two ride
    one physical rollup when composed.
    """
    d = load_table(spark, sf_dir, "documents")
    ws = F.filter(
        F.split(F.lower(F.regexp_replace(F.trim("text"), r"\s+", " ")), " "),
        lambda t: t != "",
    )
    freqs = (
        d.select("source", F.explode(ws).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    n = F.sum("f").cast("bigint")
    # f^2 summed as DECIMAL(38,0): at extreme type frequencies (f ~ 1e10+
    # for stopwords at warehouse scale) SUM(BIGINT) of f^2 would overflow
    # silently in Spark while DuckDB promotes to HUGEINT (r10 ADVICE item).
    s2 = F.sum((F.col("f") * F.col("f")).cast("decimal(38,0)"))
    k = (
        10000.0
        * (s2.cast("double") - n.cast("double"))
        / (n.cast("double") * n.cast("double"))
    )
    return freqs.groupBy("source").agg(
        n.alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
        F.when(n >= 2, F.round(k, 6)).alias("yules_k"),
    )


@query(
    "text_term_burstiness_topk",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(string_split(
        LOWER(regexp_replace(TRIM(text), '\\s+', ' ', 'g')), ' '),
        x -> x != '')) AS tok
      FROM documents
    ),
    stats AS (
      SELECT tok,
        CAST(COUNT(*) AS BIGINT) AS cf,
        CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM toks GROUP BY tok
    ),
    d AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
    top AS (
      SELECT tok, cf, df, nd,
        ROW_NUMBER() OVER (ORDER BY cf DESC, tok) AS rk
      FROM stats CROSS JOIN d
    )
    SELECT tok, cf, df,
      ROUND(CAST(nd AS DOUBLE) * (1.0 - ROUND(
        exp(-CAST(cf AS DOUBLE) / CAST(nd AS DOUBLE)), 6)), 6)
        AS expected_df,
      ROUND(CAST(df AS DOUBLE)
        / (CAST(nd AS DOUBLE) * (1.0 - ROUND(
             exp(-CAST(cf AS DOUBLE) / CAST(nd AS DOUBLE)), 6))), 6)
        AS burstiness
    FROM top WHERE rk <= 50
    """,
)
def text_term_burstiness_topk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Church-Gale term burstiness for the 50 highest-frequency terms:
    observed document frequency vs the Poisson expectation
    E[df] = D(1 - exp(-cf/D)) given the term's collection frequency —
    burstiness < 1 means occurrences CLUMP into few documents (topical
    terms), ~1 means they scatter like background (function words). The
    dispersion member of the lexical battery beside Yule's K (global
    repetitiveness) and JS divergence (cross-source drift); in a corpus
    pipeline it separates keyword-stuffed documents from genuinely
    topical ones.

    Determinism: cf/df are exact integers; cf/D is the identical double
    ratio; exp is round-6 BEFORE the multiply (the transcendental
    discipline — exp is not cross-engine correctly-rounded in general),
    so every later operand is identical. Top-50 cut is strict
    (cf desc, term).

    At 100 TB: one tokenize pass into a vocabulary-scale rollup with
    map-side combine; the cut is a TOP-K, the census 50 rows.
    """
    d = load_table(spark, sf_dir, "documents")
    ws = F.filter(
        F.split(F.lower(F.regexp_replace(F.trim("text"), r"\s+", " ")), " "),
        lambda t: t != "",
    )
    toks = d.select("doc_id", F.explode(ws).alias("tok"))
    stats = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("cf"),
        F.countDistinct("doc_id").cast("bigint").alias("df"),
    )
    # scan_audit triage: the second documents scan is a count-star over
    # parquet footers (zero columns read) — DELIBERATE; the tokenize pass
    # runs once
    nd = d.agg(F.count(F.lit(1)).cast("bigint").alias("nd"))
    top = (
        stats.crossJoin(F.broadcast(nd))
        .select(
            "tok",
            "cf",
            "df",
            "nd",
            F.row_number()
            .over(Window.orderBy(F.col("cf").desc(), "tok"))
            .alias("rk"),
        )
        .where(F.col("rk") <= 50)
    )
    lam = F.col("cf").cast("double") / F.col("nd").cast("double")
    e_df = F.col("nd").cast("double") * (1.0 - F.round(F.exp(-lam), 6))
    return top.select(
        "tok",
        "cf",
        "df",
        F.round(e_df, 6).alias("expected_df"),
        F.round(F.col("df").cast("double") / e_df, 6).alias("burstiness"),
    )


@query(
    "text_term_dispersion_dp",
    oracle="""
    WITH toks AS (
      SELECT source, unnest(list_filter(string_split(
        LOWER(regexp_replace(TRIM(text), '\\s+', ' ', 'g')), ' '),
        x -> x != '')) AS tok
      FROM documents
    ),
    src_tot AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS st FROM toks
      GROUP BY source
    ),
    corpus AS (SELECT CAST(SUM(st) AS BIGINT) AS n FROM src_tot),
    term_src AS (
      SELECT tok, source, CAST(COUNT(*) AS BIGINT) AS c FROM toks
      GROUP BY 1, 2
    ),
    term_tot AS (
      SELECT tok, CAST(SUM(c) AS BIGINT) AS cf FROM term_src GROUP BY tok
    ),
    top AS (
      SELECT tok, cf, ROW_NUMBER() OVER (ORDER BY cf DESC, tok) AS rk
      FROM term_tot
    ),
    grid AS (
      SELECT t.tok, t.cf, s.source, s.st, c.n,
        COALESCE(ts.c, 0) AS c
      FROM top t
      CROSS JOIN src_tot s
      CROSS JOIN corpus c
      LEFT JOIN term_src ts ON ts.tok = t.tok AND ts.source = s.source
      WHERE t.rk <= 20
    )
    SELECT tok, CAST(MAX(cf) AS BIGINT) AS cf,
      ROUND(0.5 * CAST(SUM(CAST(ROUND(ABS(
        CAST(c AS DOUBLE) / CAST(cf AS DOUBLE)
        - CAST(st AS DOUBLE) / CAST(n AS DOUBLE)), 6)
        AS DECIMAL(18,6))) AS DOUBLE), 6) AS dp
    FROM grid GROUP BY tok
    """,
)
def text_term_dispersion_dp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gries' DP (deviation of proportions) for the 20 most frequent
    terms: DP = 0.5 * sum_s |share of the term's tokens in source s -
    source s's share of the corpus| — 0 means the term spreads exactly
    like the corpus, 1 means it concentrates in one source. The
    PER-SOURCE dispersion companion of Church-Gale burstiness (which is
    per-document): together they tell a corpus team whether a term is a
    universal function word, a source-specific artifact, or a bursty
    topical term.

    Determinism: both shares are exact integer ratios cast to identical
    doubles; each |diff| is round-6 then decimal-summed over the
    bounded source enum; the 20-term cut is a strict (cf desc, tok)
    rank.

    At 100 TB: one tokenize pass feeds BOTH the (term, source) rollup
    and the source totals (map-side combine); the grid is 20 terms x
    sources — dimension-scale.
    """
    d = load_table(spark, sf_dir, "documents")
    ws = F.filter(
        F.split(F.lower(F.regexp_replace(F.trim("text"), r"\s+", " ")), " "),
        lambda t: t != "",
    )
    toks = d.select("source", F.explode(ws).alias("tok"))
    # term_src feeds the source totals, the term totals AND the grid
    # join: checkpoint the vocabulary x source rollup so the tokenize +
    # explode pass runs once, not once per consumer (scan audit:
    # documents x4 with InMemoryTableScan=0)
    term_src = toks.groupBy("tok", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ).localCheckpoint(eager=True)
    src_tot = term_src.groupBy(F.col("source").alias("src")).agg(
        F.sum("c").cast("bigint").alias("st")
    )
    corpus = src_tot.agg(F.sum("st").cast("bigint").alias("n"))
    term_tot = term_src.groupBy(F.col("tok").alias("tk")).agg(
        F.sum("c").cast("bigint").alias("cf")
    )
    top = term_tot.select(
        "tk",
        "cf",
        F.row_number()
        .over(Window.orderBy(F.col("cf").desc(), "tk"))
        .alias("rk"),
    ).where(F.col("rk") <= 20)
    grid = (
        top.crossJoin(src_tot)
        .crossJoin(F.broadcast(corpus))
        .join(
            term_src,
            (F.col("tok") == F.col("tk")) & (F.col("source") == F.col("src")),
            "left",
        )
        .select(
            "tk",
            "cf",
            "st",
            "n",
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
        )
    )
    diff = F.abs(
        F.col("c").cast("double") / F.col("cf").cast("double")
        - F.col("st").cast("double") / F.col("n").cast("double")
    )
    return grid.groupBy(F.col("tk").alias("tok")).agg(
        F.max("cf").cast("bigint").alias("cf"),
        F.round(
            0.5
            * F.sum(F.round(diff, 6).cast("decimal(18,6)")).cast("double"),
            6,
        ).alias("dp"),
    )


def _mtld_walk_batches(batches):
    """mapInPandas body for text_mtld_diversity: per doc, replay the MTLD
    factor walk (McCarthy & Jarvis 2010) over the token sequence and emit
    the O(1) integer end-state — (n_tokens, completed factors, remainder
    segment length, remainder segment types). The TTR < 0.72 trigger is
    evaluated in INTEGERS (types*100 < 72*tokens), so the factor count is
    exact cross-engine; the one floating division (the final MTLD value)
    happens plan-side where Spark and DuckDB share HALF_UP rounding."""
    import pandas as pd

    for pdf in batches:
        out = {
            "doc_id": [],
            "n_tokens": [],
            "factors": [],
            "rem_tokens": [],
            "rem_types": [],
        }
        for doc_id, toks in zip(pdf["doc_id"], pdf["toks"]):
            f = c = t = 0
            seen: set = set()
            for tok in toks:
                c += 1
                if tok not in seen:
                    t += 1
                    seen.add(tok)
                if t * 100 < 72 * c:
                    f += 1
                    c = t = 0
                    seen = set()
            out["doc_id"].append(doc_id)
            out["n_tokens"].append(len(toks))
            out["factors"].append(f)
            out["rem_tokens"].append(c)
            out["rem_types"].append(t)
        yield pd.DataFrame(out)


@query(
    "text_mtld_diversity",
    oracle="""
    WITH RECURSIVE toks AS (
      SELECT doc_id, list_filter(string_split(
        LOWER(regexp_replace(TRIM(text), '\\s+', ' ', 'g')), ' '),
        x -> x != '') AS ts
      FROM documents
    ),
    walk AS (
      SELECT doc_id, ts, 0 AS i, 0 AS f, 0 AS c, 0 AS t FROM toks
      UNION ALL
      SELECT doc_id, ts, i + 1,
        CASE WHEN (t + is_new) * 100 < 72 * (c + 1) THEN f + 1 ELSE f END,
        CASE WHEN (t + is_new) * 100 < 72 * (c + 1) THEN 0 ELSE c + 1 END,
        CASE WHEN (t + is_new) * 100 < 72 * (c + 1) THEN 0
             ELSE t + is_new END
      FROM (
        SELECT doc_id, ts, i, f, c, t,
          CASE WHEN c = 0 OR NOT list_contains(ts[i - c + 1 : i], ts[i + 1])
               THEN 1 ELSE 0 END AS is_new
        FROM walk WHERE i < len(ts)
      ) step
    ),
    final AS (SELECT * FROM walk WHERE i = len(ts))
    SELECT
      doc_id,
      CAST(len(ts) AS INT) AS n_tokens,
      CAST(f AS INT) AS factors,
      CAST(c AS INT) AS rem_tokens,
      CAST(t AS INT) AS rem_types,
      CASE
        WHEN c > 0 AND 28 * c * f + 100 * (c - t) > 0 THEN
          ROUND(CAST(len(ts) AS DOUBLE) * 28 * c
                / (28 * c * f + 100 * (c - t)), 6)
        WHEN c = 0 AND f > 0 THEN
          ROUND(CAST(len(ts) AS DOUBLE) / f, 6)
        ELSE NULL
      END AS mtld_fwd
    FROM final
    """,
)
def text_mtld_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MTLD lexical diversity per document (McCarthy & Jarvis 2010), the
    inherently-SEQUENTIAL member of the diversity family beside Yule's K /
    hapax ratio / vocab coverage: walk the token sequence keeping a
    running type-token ratio; each time TTR falls below 0.72 a 'factor'
    completes and the segment resets; MTLD_fwd = n_tokens / (factors +
    partial), partial = (1 - TTR_rem) / 0.28 for the unfinished tail.

    Determinism: the trigger is integer (types*100 < 72*tokens) so the
    factor census is exact; the final value reduces to ONE division of
    integer-derived operands — n*28*c / (28*c*f + 100*(c - t)) — rounded
    6dp plan-side (Spark HALF_UP == DuckDB half-away for positives; never
    Python round(), which is banker's). The oracle replays the walk as a
    recursive CTE carrying the token list and testing segment membership
    with list_contains over the ts[seg_start : i] slice.

    Scale: one tokenize pass; the per-doc walk is O(len) inside an Arrow
    batch (mapInPandas) with O(1) integer output per doc — text never
    shuffles, the post-UDF plan sees only 5 small columns. A 100 TB corpus
    streams doc-parallel with no state beyond the open batch; the DuckDB
    recursion is oracle-only machinery."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.filter(
            F.split(
                F.lower(F.regexp_replace(F.trim("text"), r"\s+", " ")), " "
            ),
            lambda x: x != "",
        ).alias("toks"),
    )
    state = docs.mapInPandas(
        _mtld_walk_batches,
        schema=(
            "doc_id long, n_tokens int, factors int, "
            "rem_tokens int, rem_types int"
        ),
    )
    n = F.col("n_tokens").cast("double")
    c = F.col("rem_tokens").cast("long")
    f = F.col("factors").cast("long")
    t = F.col("rem_types").cast("long")
    den = 28 * c * f + 100 * (c - t)
    mtld = (
        F.when((c > 0) & (den > 0), n * 28 * c / den)
        .when((c == F.lit(0)) & (f > 0), n / f)
        .otherwise(F.lit(None).cast("double"))
    )
    return state.select(
        "doc_id",
        "n_tokens",
        "factors",
        "rem_tokens",
        "rem_types",
        F.round(mtld, 6).alias("mtld_fwd"),
    )


@query(
    "text_tokenizer_vocab_ablation",
    oracle="""
    WITH toks AS (
      SELECT unnest(list_filter(string_split_regex(TRIM(LOWER(text)), '\\s+'),
                                t -> t != '')) AS tok
      FROM documents
    ),
    vocab AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(LENGTH(tok) AS BIGINT) AS len
      FROM toks GROUP BY tok
    ),
    ranked AS (
      SELECT cnt, len,
        ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rk
      FROM vocab
    ),
    cuts AS (SELECT unnest([4, 8, 16, 32]) AS vocab_cut),
    cells AS (
      SELECT c.vocab_cut, r.cnt, r.len, r.rk <= c.vocab_cut AS in_vocab
      FROM cuts c CROSS JOIN ranked r
    )
    SELECT
      CAST(vocab_cut AS INT) AS vocab_cut,
      CAST(SUM(CASE WHEN in_vocab THEN 1 ELSE 0 END) AS BIGINT)
        AS in_vocab_types,
      CAST(SUM(CASE WHEN in_vocab THEN cnt ELSE 0 END) AS BIGINT)
        AS covered_occurrences,
      CAST(SUM(cnt) AS BIGINT) AS n_occurrences,
      CAST(SUM(CASE WHEN in_vocab THEN cnt ELSE cnt * len END) AS BIGINT)
        AS n_tokens,
      ROUND(CAST(SUM(CASE WHEN in_vocab THEN cnt ELSE cnt * len END)
                 AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE), 6)
        AS tokens_per_word,
      ROUND(CAST(SUM(cnt * len) AS DOUBLE)
            / CAST(SUM(CASE WHEN in_vocab THEN cnt ELSE cnt * len END)
                   AS DOUBLE), 6)
        AS chars_per_token
    FROM cells
    GROUP BY vocab_cut
    """,
)
def text_tokenizer_vocab_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer vocab-size ablation curve: the fertility/compression a
    word-level tokenizer achieves at each vocabulary budget, with
    character fallback for out-of-vocab words (the degenerate limit of
    the BPE family: a word in the top-V vocab costs 1 token, an OOV word
    falls back to its characters). Per cut V: tokens_per_word (fertility,
    ->1.0 as V covers the vocabulary) and chars_per_token (compression,
    rising with V) — the curve that sizes a tokenizer against a corpus.
    Cuts at 4/8/16/32 because this synthetic corpus's vocabulary is ~31
    types (lesson 9: cuts the data never reaches make degenerate rows);
    real corpora ablate 8k..256k.

    All integer arithmetic until the two final divisions (identical
    operands both engines, round-6). At 100 TB: one tokenize pass into
    the Heaps-bounded vocabulary rollup; the rank window sorts the
    VOCABULARY, not the corpus; the cuts frame is a 4-row literal enum,
    so the ablation grid is 4x vocab — no corpus re-scan per cut."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks_arr = F.filter(
        F.split(F.trim(F.lower("text")), r"\s+"), lambda t: t != ""
    )
    toks = d.select(F.explode(toks_arr).alias("tok"))
    vocab = toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.length(F.first("tok")).cast("bigint").alias("len"),
    )
    ranked = vocab.select(
        "cnt",
        "len",
        F.row_number()
        .over(Window.orderBy(F.col("cnt").desc(), "tok"))
        .alias("rk"),
    )
    cuts = spark.range(2, 6).selectExpr(
        "shiftleft(1, cast(id AS int)) AS vocab_cut"
    )
    cells = cuts.crossJoin(ranked).select(
        "vocab_cut",
        "cnt",
        "len",
        (F.col("rk") <= F.col("vocab_cut")).alias("in_vocab"),
    )
    n_tokens = F.sum(
        F.when(F.col("in_vocab"), F.col("cnt")).otherwise(
            F.col("cnt") * F.col("len")
        )
    ).cast("bigint")
    n_occ = F.sum("cnt").cast("bigint")
    total_chars = F.sum(F.col("cnt") * F.col("len")).cast("bigint")
    return cells.groupBy(F.col("vocab_cut").cast("int").alias("vocab_cut")).agg(
        F.sum(F.when(F.col("in_vocab"), 1).otherwise(0))
        .cast("bigint")
        .alias("in_vocab_types"),
        F.sum(F.when(F.col("in_vocab"), F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("covered_occurrences"),
        n_occ.alias("n_occurrences"),
        n_tokens.alias("n_tokens"),
        F.round(
            n_tokens.cast("double") / n_occ.cast("double"), 6
        ).alias("tokens_per_word"),
        F.round(
            total_chars.cast("double") / n_tokens.cast("double"), 6
        ).alias("chars_per_token"),
    )
