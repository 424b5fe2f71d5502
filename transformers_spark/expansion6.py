"""Round-9 catalog expansion: eight pipeline operators, each
Spark-first with an exact DuckDB oracle, deepening the families the
round-8 verdict graded as first-class — contrastive data mining,
split-hygiene, dedup economics, and LSH parameter tuning.

* similarity_hard_negatives — contrastive hard-negative mining: for
  each query vector, the top-3 cosine neighbors whose LABEL differs
  from the query's (the "looks similar, means different" rows a
  contrastive trainer wants). Broadcast(queries) x corpus scan, same
  shape as cosine_topk.
* split_leakage_exact — cross-split exact-content leakage: content
  fingerprints (md5 of normalized text) present in BOTH splits of a
  (train,val)/(train,test)/(val,test) pair, with the count of
  downstream-split docs leaked. Pair-keyed literal frame
  (ORACLES.md #13).
* dedup_token_savings — the dedup ECONOMICS report: per source, how
  many docs are non-keeper exact duplicates and what fraction of the
  source's tokens exact-dedup removes. Keeper = MIN(doc_id) per
  fingerprint, global (a duplicate is charged to the source of the
  REMOVED doc, not the keeper's).
* source_language_gini — language-mix concentration per source:
  Simpson index Σp² and Gini impurity 1-Σp² from EXACT integer count
  power sums (the catalog is log-free — ORACLES.md #11 — so no
  entropy; Gini carries the same signal with exact arithmetic).
* dedup_quality_by_cluster_size — do duplicated docs score lower?
  Mean quality (decimal-exact sums) by exact-dup cluster-size class
  (unique / 2-3 / 4+). Class-keyed literal frame (#13).
* curation_yield_report — the end-to-end dataset-yield funnel: raw →
  exact-dedup keep-first → quality >= 0.5 → per-source cap (15 by
  lowest doc_id), docs + tokens at each stage. One cached scan, four
  conditional aggregates; ungrouped aggs keep all four stage rows on
  empty input.
* text_char_bigram_diversity — per-language char-bigram diversity
  over NORMALIZED (pure-ASCII) text: distinct/total bigrams, Simpson
  concentration, top-bigram share. Exact integer power sums again.
* lsh_scurve_calibration — the LSH parameter-tuning table: candidate
  pair count and mean band-agreement at 16 minhash perms banded as
  (2x8, 4x4, 8x2) — the empirical s-curve a deployment reads before
  fixing (bands, rows) at 100 TB. Same skew-capped banded-bucket
  machinery as the dedup family, never all-pairs.

Determinism rules as everywhere (queries.py docstring, ORACLES.md):
exact integer/decimal aggregates, md5-derived hashes and splits, at
most one double division per output on identical exact operands,
explicit whitespace classes (class 16), İ pre-replace in every oracle
lower() (class 5), parameter literal frames survive empty input
(class 13), HUGEINT cast away at oracle outputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from . import cache
from .operators.frames import literal_frame
from .operators.hashing import duck_h32, lcg_constants, perm_hash_sql
from .operators.similarity import _dot, _norm
from .operators.skew import fan_out
from .operators.specs import (
    DUCK_NORMALIZED,
    DUCK_TOKENS,
    N_QUERY_VECS,
    _duck_grams,
)
from .operators.split import split_expr
from .operators.text import doc_fingerprint, quality_expr, tokens
from .sources.testdata import register_tables

__all__ = ["expansion6_specs"]

HARDNEG_K = 3
SPLIT_PAIRS = (("train", "val"), ("train", "test"), ("val", "test"))
YIELD_QUALITY_MIN = 0.5
YIELD_SOURCE_CAP = 15  # binds from sf0.01 up (25+ docs/source)
SCURVE_NUM_PERM = 16
SCURVE_BANDS = (2, 4, 8)

# DuckDB twin of operators/split.split_expr's default 80/10/10 split
# (md5-h32 of the stringified id, mod 100; expansion5 uses the same
# fragment for the embedding split)
def _duck_split(id_expr: str) -> str:
    b = f"({duck_h32(f'CAST({id_expr} AS VARCHAR)')}) % 100"
    return (
        f"CASE WHEN {b} < 80 THEN 'train' "
        f"WHEN {b} < 90 THEN 'val' ELSE 'test' END"
    )


# quality_expr's DuckDB twin as a reusable fragment (the same
# expression _oracle_quality inlines; rebuilt here over CTE columns —
# q-prefixed, because `documents.n_chars` exists and the consumers
# JOIN the CTE back onto documents)
_DUCK_QUALITY = """
ROUND(greatest(least(
    0.4 * least(q_tokens / 20.0, 1.0)
    + 0.4 * least(q_stops / 4.0, 1.0)
    + 0.2 * (1 - least(q_digits / q_chars * 5, 1.0))
    - 0.2 * least(q_puncts / q_chars * 5, 1.0), 1.0), 0.0), 6)
"""


def _duck_quality_base(extra_cols: str = "") -> str:
    """CTE body computing quality inputs per doc row — mirrors
    _oracle_quality (operators/specs.py) expression for expression.
    ``extra_cols`` rides the SAME single scan; consumers must NEVER
    join this back onto documents by doc_id — duplicate-id rows
    (the duplicate-rows gate) would fan out 2x2 in the join and
    double-count every duplicated doc."""
    from .operators.text import STOPWORDS

    en = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    return f"""
  SELECT doc_id{extra_cols},
    CAST(length(text) AS DOUBLE) AS q_chars,
    CAST(len({DUCK_TOKENS}) AS DOUBLE) AS q_tokens,
    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
      AS q_digits,
    CAST(length(text) - length(regexp_replace(text, '[^\\w \\t\\n\\x0B\\f\\r]', '', 'g')) AS DOUBLE)
      AS q_puncts,
    CAST(len(list_intersect({DUCK_TOKENS}, [{en}])) AS DOUBLE) AS q_stops
  FROM documents WHERE text IS NOT NULL
"""


# ---------------------------------------------------------------------------
# 1. similarity_hard_negatives
# ---------------------------------------------------------------------------


def q_similarity_hard_negatives(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top-3 cosine neighbors with a DIFFERENT label per query vector
    — contrastive hard negatives. Null contract: a NULL embedding or
    NULL label can be neither query nor negative (no score / no label
    to differ from) — dropped at intake on both sides.

    Scale shape: broadcast(bounded queries) x one corpus scan (the
    cosine_topk shape, similarity.py:162); the rank window shuffles
    only (q, k) candidate rows via WindowGroupLimit."""
    register_tables(spark, sf_dir, ("embeddings",))
    emb = spark.table("embeddings").filter(
        F.col("embedding").isNotNull() & F.col("label").isNotNull()
    )
    q = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"),
        F.col("label").alias("qlabel"),
    )
    c = fan_out(emb).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cvec"),
        F.col("label").alias("clabel"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .filter(F.col("clabel") != F.col("qlabel"))
        .select(
            "query_id",
            "neighbor_id",
            F.col("clabel").alias("neg_label"),
            F.round(
                _dot(F.col("qvec"), F.col("cvec"))
                / (_norm(F.col("qvec")) * _norm(F.col("cvec"))),
                6,
            ).alias("cosine"),
        )
    )
    win = W.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= HARDNEG_K)
        .select(
            "query_id",
            "neighbor_id",
            "neg_label",
            F.col("rank").cast("int").alias("rank"),
            "cosine",
        )
    )


ORACLE_SIMILARITY_HARD_NEGATIVES = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec, label AS qlabel
  FROM embeddings
  WHERE vec_id < {N_QUERY_VECS} AND embedding IS NOT NULL
    AND label IS NOT NULL
),
c AS (
  SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cvec,
         label AS clabel
  FROM embeddings WHERE embedding IS NOT NULL AND label IS NOT NULL
),
scored AS (
  SELECT query_id, neighbor_id, clabel AS neg_label,
    ROUND(list_dot_product(qvec, cvec)
          / (sqrt(list_dot_product(qvec, qvec)) * sqrt(list_dot_product(cvec, cvec))),
          6) AS cosine
  FROM c CROSS JOIN q
  WHERE neighbor_id != query_id AND clabel != qlabel
)
SELECT query_id, neighbor_id, neg_label,
       CAST(row_number() OVER w AS INT) AS rank,
       cosine
FROM scored
WINDOW w AS (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC)
QUALIFY row_number() OVER w <= {HARDNEG_K}
"""


# ---------------------------------------------------------------------------
# 2. split_leakage_exact
# ---------------------------------------------------------------------------


def q_split_leakage_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-content leakage across the deterministic hash-mod split:
    per ordered split pair, the number of shared content fingerprints
    and how many downstream-split docs carry a fingerprint that also
    appears upstream. The exact-hash complement of
    curation_decontamination (n-gram) and embedding_decontamination
    (vector): the first check a split audit runs, and the cheapest —
    one fingerprint equi-join, never doc x doc.

    NULL text carries no content to leak — dropped at intake on both
    sides. Pair rows are literal-frame keyed (ORACLES.md #13)."""
    register_tables(spark, sf_dir, ("documents",))
    docs = spark.table("documents").filter(F.col("text").isNotNull())
    fps = docs.select(
        doc_fingerprint(F.col("text")).alias("fp"),
        split_expr(F.col("doc_id")).alias("split"),
        "doc_id",
    )
    per = fps.groupBy("split", "fp").agg(
        F.countDistinct("doc_id").alias("nd")
    )
    pairs = literal_frame(
        spark,
        list(SPLIT_PAIRS),
        [("split_a", "string"), ("split_b", "string")],
    )
    a = per.select(
        F.col("split").alias("split_a"), "fp", F.col("nd").alias("nd_a")
    )
    b = per.select(
        F.col("split").alias("split_b"), "fp", F.col("nd").alias("nd_b")
    )
    shared = (
        a.join(b, "fp")
        .join(F.broadcast(pairs), ["split_a", "split_b"])
        .groupBy("split_a", "split_b")
        .agg(
            F.countDistinct("fp").alias("__fps"),
            F.sum("nd_b").alias("__leaked"),
        )
    )
    return (
        pairs.join(shared, ["split_a", "split_b"], "left")
        .select(
            "split_a",
            "split_b",
            F.coalesce(F.col("__fps"), F.lit(0))
            .cast("bigint")
            .alias("n_shared_fingerprints"),
            F.coalesce(F.col("__leaked"), F.lit(0))
            .cast("bigint")
            .alias("n_leaked_docs"),
        )
    )


ORACLE_SPLIT_LEAKAGE_EXACT = f"""
WITH fps AS (
  SELECT md5({DUCK_NORMALIZED}) AS fp,
         {_duck_split("doc_id")} AS split,
         doc_id
  FROM documents WHERE text IS NOT NULL
),
per AS (
  SELECT split, fp, COUNT(DISTINCT doc_id) AS nd
  FROM fps GROUP BY 1, 2
),
pairs AS (
  SELECT * FROM (VALUES ('train', 'val'), ('train', 'test'),
                        ('val', 'test')) AS t(split_a, split_b)
),
shared AS (
  SELECT p.split_a, p.split_b,
         COUNT(DISTINCT a.fp) AS n_fps,
         CAST(SUM(b.nd) AS BIGINT) AS n_leaked
  FROM per a JOIN per b ON a.fp = b.fp
  JOIN pairs p ON a.split = p.split_a AND b.split = p.split_b
  GROUP BY 1, 2
)
SELECT p.split_a, p.split_b,
       COALESCE(s.n_fps, 0)::BIGINT AS n_shared_fingerprints,
       COALESCE(s.n_leaked, 0)::BIGINT AS n_leaked_docs
FROM pairs p LEFT JOIN shared s
  ON p.split_a = s.split_a AND p.split_b = s.split_b
"""


# ---------------------------------------------------------------------------
# 3. dedup_token_savings
# ---------------------------------------------------------------------------


def q_dedup_token_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup economics per source: docs, non-keeper duplicate
    docs, total tokens, tokens removed by keeping only MIN(doc_id) per
    global content fingerprint, and the savings rate. Token counts are
    whitespace-token list sizes (empty text = 1 empty token in both
    engines, ORACLES.md #8); all sums are exact integers, one final
    double division. One fingerprint-window shuffle + one source agg."""
    register_tables(spark, sf_dir, ("documents",))
    docs = spark.table("documents").filter(F.col("text").isNotNull())
    win = W.partitionBy("fp")
    flagged = docs.select(
        "doc_id",
        "source",
        doc_fingerprint(F.col("text")).alias("fp"),
        F.size(tokens(F.col("text"))).cast("bigint").alias("ntok"),
    ).withColumn(
        "is_dup", (F.col("doc_id") != F.min("doc_id").over(win)).cast("int")
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("is_dup").cast("bigint").alias("n_dup_docs"),
            F.sum("ntok").alias("tokens_total"),
            F.sum(F.col("is_dup") * F.col("ntok")).alias("tokens_removed"),
        )
        .select(
            "source",
            "n_docs",
            "n_dup_docs",
            "tokens_total",
            "tokens_removed",
            F.when(
                F.col("tokens_total") > 0,
                F.round(
                    F.col("tokens_removed").cast("double")
                    / F.col("tokens_total").cast("double"),
                    6,
                ),
            ).alias("savings_rate"),
        )
    )


ORACLE_DEDUP_TOKEN_SAVINGS = f"""
WITH flagged AS (
  SELECT source,
         CASE WHEN doc_id != MIN(doc_id) OVER (
           PARTITION BY md5({DUCK_NORMALIZED})) THEN 1 ELSE 0 END AS is_dup,
         len({DUCK_TOKENS}) AS ntok
  FROM documents WHERE text IS NOT NULL
),
agg AS (
  SELECT source,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(is_dup) AS BIGINT) AS n_dup_docs,
         CAST(SUM(ntok) AS BIGINT) AS tokens_total,
         CAST(SUM(is_dup * ntok) AS BIGINT) AS tokens_removed
  FROM flagged GROUP BY 1
)
SELECT source, n_docs, n_dup_docs, tokens_total, tokens_removed,
       CASE WHEN tokens_total > 0 THEN
         ROUND(CAST(tokens_removed AS DOUBLE)
               / CAST(tokens_total AS DOUBLE), 6)
       END AS savings_rate
FROM agg
"""


# ---------------------------------------------------------------------------
# 4. source_language_gini
# ---------------------------------------------------------------------------


def q_source_language_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-mix concentration per source: Simpson index Σ(c/n)²
    and Gini impurity 1-Σ(c/n)², plus the top language's share — all
    from exact integer count power sums (Σc² is an exact BIGINT; the
    ONLY double op per column is the final division — the log-free
    idiom, ORACLES.md #11). NULL lang rows carry no language signal —
    dropped at intake on both sides. Map-side combine both shuffles."""
    register_tables(spark, sf_dir, ("documents",))
    cnts = (
        spark.table("documents")
        .filter(F.col("lang").isNotNull())
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        cnts.groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_langs"),
            F.sum(F.col("c") * F.col("c")).cast("bigint").alias("__ss"),
            F.max("c").cast("bigint").alias("__mx"),
        )
        .select(
            "source",
            "n_docs",
            "n_langs",
            F.round(
                F.col("__ss").cast("double")
                / (F.col("n_docs") * F.col("n_docs")).cast("double"),
                6,
            ).alias("simpson"),
            F.round(
                F.lit(1.0)
                - F.col("__ss").cast("double")
                / (F.col("n_docs") * F.col("n_docs")).cast("double"),
                6,
            ).alias("gini"),
            F.round(
                F.col("__mx").cast("double") / F.col("n_docs").cast("double"),
                6,
            ).alias("top_lang_share"),
        )
    )


ORACLE_SOURCE_LANGUAGE_GINI = """
WITH cnts AS (
  SELECT source, lang, COUNT(*) AS c
  FROM documents WHERE lang IS NOT NULL GROUP BY 1, 2
),
agg AS (
  SELECT source,
         CAST(SUM(c) AS BIGINT) AS n_docs,
         CAST(COUNT(*) AS BIGINT) AS n_langs,
         CAST(SUM(c * c) AS BIGINT) AS ss,
         CAST(MAX(c) AS BIGINT) AS mx
  FROM cnts GROUP BY 1
)
SELECT source, n_docs, n_langs,
       ROUND(CAST(ss AS DOUBLE) / CAST(n_docs * n_docs AS DOUBLE), 6)
         AS simpson,
       ROUND(1.0 - CAST(ss AS DOUBLE) / CAST(n_docs * n_docs AS DOUBLE), 6)
         AS gini,
       ROUND(CAST(mx AS DOUBLE) / CAST(n_docs AS DOUBLE), 6)
         AS top_lang_share
FROM agg
"""


# ---------------------------------------------------------------------------
# 5. dedup_quality_by_cluster_size
# ---------------------------------------------------------------------------

CLUSTER_CLASSES = ("unique", "small_2_3", "large_4_plus")


def q_dedup_quality_by_cluster_size(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mean quality score by exact-dup cluster-size class — the audit
    that shows whether duplication correlates with low quality (it
    usually does in crawl data, which justifies dedup-before-filter
    ordering). Quality scores are per-doc rounded doubles cast to
    DECIMAL(10,6) before summing (order-independent, ORACLES.md #11);
    the class rows are literal-frame keyed (#13)."""
    register_tables(spark, sf_dir, ("documents",))
    docs = spark.table("documents").filter(F.col("text").isNotNull())
    win = W.partitionBy("fp")
    classed = (
        docs.select(
            doc_fingerprint(F.col("text")).alias("fp"),
            quality_expr(F.col("text")).alias("q"),
        )
        .withColumn("csz", F.count(F.lit(1)).over(win))
        .withColumn(
            "cls",
            F.when(F.col("csz") == 1, "unique")
            .when(F.col("csz") <= 3, "small_2_3")
            .otherwise("large_4_plus"),
        )
    )
    agg = classed.groupBy("cls").agg(
        F.count(F.lit(1)).alias("__n"),
        F.countDistinct("fp").alias("__c"),
        F.sum(F.col("q").cast("decimal(10,6)")).alias("__qs"),
    )
    classes = literal_frame(
        spark, [(c,) for c in CLUSTER_CLASSES], [("cls", "string")]
    )
    return (
        classes.join(agg, "cls", "left")
        .select(
            F.col("cls").alias("cluster_class"),
            F.coalesce(F.col("__n"), F.lit(0)).cast("bigint").alias("n_docs"),
            F.coalesce(F.col("__c"), F.lit(0))
            .cast("bigint")
            .alias("n_clusters"),
            F.when(
                F.coalesce(F.col("__n"), F.lit(0)) > 0,
                F.round(
                    F.col("__qs").cast("double") / F.col("__n").cast("double"),
                    6,
                ),
            ).alias("mean_quality"),
        )
    )


def _oracle_dedup_quality_by_cluster_size() -> str:
    extra = f",\n    md5({DUCK_NORMALIZED}) AS fp"
    return f"""
WITH base AS ({_duck_quality_base(extra)}),
scored AS (
  SELECT doc_id, {_DUCK_QUALITY} AS q, fp FROM base
),
classed AS (
  SELECT fp, q,
         CASE WHEN COUNT(*) OVER (PARTITION BY fp) = 1 THEN 'unique'
              WHEN COUNT(*) OVER (PARTITION BY fp) <= 3 THEN 'small_2_3'
              ELSE 'large_4_plus' END AS cls
  FROM scored
),
agg AS (
  SELECT cls,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_clusters,
         SUM(CAST(q AS DECIMAL(10,6))) AS qs
  FROM classed GROUP BY 1
),
classes AS (
  SELECT * FROM (VALUES ('unique'), ('small_2_3'), ('large_4_plus'))
    AS t(cls)
)
SELECT c.cls AS cluster_class,
       COALESCE(a.n_docs, 0)::BIGINT AS n_docs,
       COALESCE(a.n_clusters, 0)::BIGINT AS n_clusters,
       CASE WHEN COALESCE(a.n_docs, 0) > 0 THEN
         ROUND(CAST(a.qs AS DOUBLE) / CAST(a.n_docs AS DOUBLE), 6)
       END AS mean_quality
FROM classes c LEFT JOIN agg a ON c.cls = a.cls
"""


# ---------------------------------------------------------------------------
# 6. curation_yield_report
# ---------------------------------------------------------------------------

def q_curation_yield_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-yield funnel: docs and tokens surviving each curation
    stage — raw, exact-dedup keep-first (MIN doc_id per fingerprint),
    quality >= 0.5 (operators/text.quality_expr), then a per-source
    cap of 15 docs by lowest doc_id among the survivors. The single
    composition query that ties the dedup, quality, and sampling
    families into the number a dataset owner actually asks for
    ("how much is left?").

    Shape: ONE scan feeds stages 1-3 as conditional aggregates (no
    re-reads); stage 4 adds one window over the stage-3 survivors.
    Ungrouped aggregates emit their row even over empty input, so all
    four stage rows always survive (ORACLES.md #13 by construction).
    Token sums are exact BIGINTs."""
    register_tables(spark, sf_dir, ("documents",))
    docs = spark.table("documents").filter(F.col("text").isNotNull())
    win = W.partitionBy("fp")
    base = cache.track(
        docs.select(
            "doc_id",
            "source",
            doc_fingerprint(F.col("text")).alias("fp"),
            F.size(tokens(F.col("text"))).cast("bigint").alias("ntok"),
            quality_expr(F.col("text")).alias("q"),
        )
        .withColumn("keep1", F.col("doc_id") == F.min("doc_id").over(win))
        .withColumn(
            "keep2", F.col("keep1") & (F.col("q") >= YIELD_QUALITY_MIN)
        )
        .persist()
    )

    def stage(n: int, name: str, frame: DataFrame) -> DataFrame:
        return frame.agg(
            F.lit(n).cast("int").alias("stage_ord"),
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.coalesce(F.sum("ntok"), F.lit(0))
            .cast("bigint")
            .alias("n_tokens"),
        )

    capped = (
        base.filter(F.col("keep2"))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("source").orderBy(F.asc("doc_id"))
            ),
        )
        .filter(F.col("rn") <= YIELD_SOURCE_CAP)
    )
    return (
        stage(1, "raw", base)
        .unionByName(stage(2, "after_exact_dedup", base.filter("keep1")))
        .unionByName(stage(3, "after_quality_filter", base.filter("keep2")))
        .unionByName(stage(4, "after_source_cap", capped))
    )


def _oracle_curation_yield_report() -> str:
    extra = (
        f",\n    source, md5({DUCK_NORMALIZED}) AS fp"
        f",\n    len({DUCK_TOKENS}) AS ntok"
    )
    return f"""
WITH qbase AS ({_duck_quality_base(extra)}),
base AS (
  SELECT doc_id, source, fp, ntok, {_DUCK_QUALITY} AS q FROM qbase
),
flagged AS (
  SELECT *,
         doc_id = MIN(doc_id) OVER (PARTITION BY fp) AS keep1,
         (doc_id = MIN(doc_id) OVER (PARTITION BY fp))
           AND q >= {YIELD_QUALITY_MIN} AS keep2
  FROM base
),
capped AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY source ORDER BY doc_id ASC) AS rn
    FROM flagged WHERE keep2
  ) WHERE rn <= {YIELD_SOURCE_CAP}
)
SELECT CAST(1 AS INT) AS stage_ord, 'raw' AS stage,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COALESCE(SUM(ntok), 0) AS BIGINT) AS n_tokens FROM flagged
UNION ALL
SELECT 2, 'after_exact_dedup', CAST(COUNT(*) AS BIGINT),
       CAST(COALESCE(SUM(ntok), 0) AS BIGINT) FROM flagged WHERE keep1
UNION ALL
SELECT 3, 'after_quality_filter', CAST(COUNT(*) AS BIGINT),
       CAST(COALESCE(SUM(ntok), 0) AS BIGINT) FROM flagged WHERE keep2
UNION ALL
SELECT 4, 'after_source_cap', CAST(COUNT(*) AS BIGINT),
       CAST(COALESCE(SUM(ntok), 0) AS BIGINT) FROM capped
"""


# ---------------------------------------------------------------------------
# 7. text_char_bigram_diversity
# ---------------------------------------------------------------------------


def q_text_char_bigram_diversity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-language char-bigram diversity over NORMALIZED text (pure
    ASCII after fold/strip, so substring is byte==codepoint safe in
    both engines): total/distinct bigram counts, Simpson concentration
    Σ(c/n)² from exact integer power sums, top-bigram share. The
    compression-proxy quality signal (boilerplate-heavy corpora
    concentrate; natural text spreads) without the non-portable ln().
    NULL lang/text dropped at intake; docs shorter than 2 normalized
    chars contribute no bigrams (both engines emit an empty list)."""
    from .operators.text import normalized_text

    register_tables(spark, sf_dir, ("documents",))
    docs = spark.table("documents").filter(
        F.col("lang").isNotNull() & F.col("text").isNotNull()
    )
    grams = (
        fan_out(docs)
        .select("lang", normalized_text(F.col("text")).alias("norm"))
        .select(
            "lang",
            # CASE guard, not greatest(): Spark sequence(1, 0) counts
            # DOWN ([1, 0]) and would emit two phantom ''-grams per
            # sub-2-char doc (found by the degenerate-text wave)
            F.explode(
                F.expr(
                    "CASE WHEN length(norm) >= 2 THEN"
                    " transform(sequence(1, length(norm) - 1),"
                    " i -> substring(norm, i, 2))"
                    " ELSE array() END"
                )
            ).alias("gram"),
        )
    )
    cnts = grams.groupBy("lang", "gram").agg(F.count(F.lit(1)).alias("c"))
    return (
        cnts.groupBy("lang")
        .agg(
            F.sum("c").cast("bigint").alias("n_bigrams"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
            F.sum(F.col("c") * F.col("c")).cast("bigint").alias("__ss"),
            F.max("c").cast("bigint").alias("__mx"),
        )
        .select(
            "lang",
            "n_bigrams",
            "n_distinct",
            F.round(
                F.col("__ss").cast("double")
                / (F.col("n_bigrams") * F.col("n_bigrams")).cast("double"),
                6,
            ).alias("simpson"),
            F.round(
                F.col("__mx").cast("double")
                / F.col("n_bigrams").cast("double"),
                6,
            ).alias("top_gram_share"),
        )
    )


ORACLE_TEXT_CHAR_BIGRAM_DIVERSITY = f"""
WITH norms AS (
  SELECT lang, {DUCK_NORMALIZED} AS norm
  FROM documents WHERE lang IS NOT NULL AND text IS NOT NULL
),
grams AS (
  SELECT lang,
         unnest([substring(norm, i, 2)
                 for i in range(1, greatest(length(norm), 1))]) AS gram
  FROM norms
),
cnts AS (
  SELECT lang, gram, COUNT(*) AS c FROM grams GROUP BY 1, 2
)
SELECT lang,
       CAST(SUM(c) AS BIGINT) AS n_bigrams,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       ROUND(CAST(SUM(c * c) AS DOUBLE)
             / CAST(SUM(c) * SUM(c) AS DOUBLE), 6) AS simpson,
       ROUND(CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 6)
         AS top_gram_share
FROM cnts GROUP BY 1
"""


# ---------------------------------------------------------------------------
# 8. lsh_scurve_calibration
# ---------------------------------------------------------------------------


def q_lsh_scurve_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical LSH s-curve: candidate-pair volume and mean
    band-agreement at 16 minhash perms banded (2x8, 4x4, 8x2) — the
    tuning table read before fixing (bands, rows) for a 100 TB dedup
    (more bands = higher recall, more pairs; this measures the trade
    on the actual corpus instead of the textbook curve). Each config
    uses the skew-capped banded-bucket path (operators/dedup.
    minhash_lsh_pairs — never all-pairs); sum(matching_bands) is an
    exact integer, divided once by (n_pairs x bands). Config rows are
    ungrouped aggregates, so all three survive empty input (#13)."""
    from .operators.dedup import (
        _band_buckets,
        lsh_pairs_from_buckets,
        minhash_signatures,
    )

    register_tables(spark, sf_dir, ("documents",))
    docs = spark.table("documents")
    # ONE signature pass shared by all three band configs (signatures
    # are the dominant cost — a per-config minhash_lsh_pairs call
    # would scan + hash the corpus three times; measured 117 s -> the
    # shared-sig form at 100x, measured in round 9)
    sigs = cache.track(
        minhash_signatures(docs, num_perm=SCURVE_NUM_PERM).persist()
    )
    out = None
    for b in SCURVE_BANDS:
        pairs = lsh_pairs_from_buckets(
            _band_buckets(sigs, b, SCURVE_NUM_PERM // b, "portable")
        )
        row = pairs.agg(
            F.lit(b).cast("int").alias("bands"),
            F.lit(SCURVE_NUM_PERM // b).cast("int").alias("rows_per_band"),
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.coalesce(F.sum("matching_bands"), F.lit(0))
            .cast("bigint")
            .alias("sum_matching_bands"),
        ).select(
            "bands",
            "rows_per_band",
            "n_pairs",
            "sum_matching_bands",
            F.when(
                F.col("n_pairs") > 0,
                F.round(
                    F.col("sum_matching_bands").cast("double")
                    / (F.col("n_pairs") * b).cast("double"),
                    6,
                ),
            ).alias("avg_band_agreement"),
        )
        out = row if out is None else out.unionByName(row)
    return out


def _oracle_lsh_scurve_calibration() -> str:
    consts = lcg_constants(SCURVE_NUM_PERM)
    sig_exprs = ",\n    ".join(
        f"MIN({perm_hash_sql(duck_h32('gram'), a, b)}) AS sig_{i}"
        for i, (a, b) in enumerate(consts)
    )
    selects = []
    for bands in SCURVE_BANDS:
        rows_per_band = SCURVE_NUM_PERM // bands
        band_selects = " UNION ALL ".join(
            "SELECT doc, {band} AS band, md5(concat_ws('-', {cols})) AS bucket FROM sigs".format(
                band=band,
                cols=", ".join(
                    f"sig_{band * rows_per_band + j}"
                    for j in range(rows_per_band)
                ),
            )
            for band in range(bands)
        )
        selects.append(f"""
SELECT CAST({bands} AS INT) AS bands,
       CAST({rows_per_band} AS INT) AS rows_per_band,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(COALESCE(SUM(matching_bands), 0) AS BIGINT)
         AS sum_matching_bands,
       CASE WHEN COUNT(*) > 0 THEN
         ROUND(CAST(SUM(matching_bands) AS DOUBLE)
               / CAST(COUNT(*) * {bands} AS DOUBLE), 6)
       END AS avg_band_agreement
FROM (
  WITH buckets AS ({band_selects}),
  kept AS (
    -- mirror the engine's max_bucket_size=1000 skew cap (ADVICE r7)
    SELECT band, bucket FROM buckets
    GROUP BY band, bucket
    HAVING COUNT(DISTINCT doc) BETWEEN 2 AND 1000
  )
  SELECT a.doc AS d1, b.doc AS d2,
         COUNT(DISTINCT a.band) AS matching_bands
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc < b.doc
  JOIN kept k ON a.band = k.band AND a.bucket = k.bucket
  GROUP BY 1, 2
)""")
    body = "\nUNION ALL\n".join(selects)
    return f"""
WITH toks AS (
  SELECT doc_id AS doc, {DUCK_TOKENS} AS t FROM documents
  WHERE len({DUCK_TOKENS}) >= 2
),
grams AS (
  SELECT doc, unnest({_duck_grams(2)}) AS gram FROM toks
),
sigs AS (
  SELECT doc,
    {sig_exprs}
  FROM grams GROUP BY doc
)
{body}
"""


# ---------------------------------------------------------------------------
# registration
# ---------------------------------------------------------------------------


def expansion6_specs():
    from .queries import QuerySpec

    return [
        QuerySpec(
            "similarity_hard_negatives",
            "Top-3 different-label cosine neighbors per query vector",
            q_similarity_hard_negatives,
            ORACLE_SIMILARITY_HARD_NEGATIVES,
        ),
        QuerySpec(
            "split_leakage_exact",
            "Exact-fingerprint leakage across train/val/test splits",
            q_split_leakage_exact,
            ORACLE_SPLIT_LEAKAGE_EXACT,
        ),
        QuerySpec(
            "dedup_token_savings",
            "Per-source token savings from exact dedup keep-first",
            q_dedup_token_savings,
            ORACLE_DEDUP_TOKEN_SAVINGS,
        ),
        QuerySpec(
            "source_language_gini",
            "Language-mix Simpson/Gini concentration per source",
            q_source_language_gini,
            ORACLE_SOURCE_LANGUAGE_GINI,
        ),
        QuerySpec(
            "dedup_quality_by_cluster_size",
            "Mean quality by exact-dup cluster-size class",
            q_dedup_quality_by_cluster_size,
            _oracle_dedup_quality_by_cluster_size(),
        ),
        QuerySpec(
            "curation_yield_report",
            "Docs/tokens surviving dedup, quality, and source-cap stages",
            q_curation_yield_report,
            _oracle_curation_yield_report(),
        ),
        QuerySpec(
            "text_char_bigram_diversity",
            "Char-bigram Simpson diversity per language (log-free)",
            q_text_char_bigram_diversity,
            ORACLE_TEXT_CHAR_BIGRAM_DIVERSITY,
        ),
        QuerySpec(
            "lsh_scurve_calibration",
            "LSH candidate volume + band agreement vs band config",
            q_lsh_scurve_calibration,
            _oracle_lsh_scurve_calibration(),
        ),
    ]
