"""Round-5 catalog expansion: corpus-analysis operators a training-data
pipeline runs between dedup and mixing, each Spark-first with an exact
DuckDB oracle (pandas-safe output types only — see
``transformers_spark.canon``).

* n-gram novelty — the duplication/memorization curve: what fraction
  of a doc's shingles already occurred earlier in the corpus.
* source overlap matrix — cross-source shingle contamination, the
  input to dataset-mixing decisions (and to "is source B just a crawl
  of source A" audits).
* event path counts — top first-k event-type paths (product analytics
  / funnel discovery shape: ordered collect + bounded slice).
* order basket pairs — market-basket co-occurrence with lift (the
  a-priori support/lift primitive over an order-scoped self-join).
* KMV rollup — per-day sketches MERGED to a global estimate: the
  mergeable-rollup pattern (pre-aggregate once, combine forever)
  with an EXACT oracle, because the k smallest of a union of per-day
  k-smallest sets is exactly the global k smallest (associativity of
  min-k), so merged == direct, bit for bit.
* time to convert — first-view→first-purchase latency (funnel
  latency: one keyed pass, portable percentile_disc rollup).
* vocabulary coverage curve — OOV planning: occurrence share of the
  top-V tokens per candidate vocab size, ranked by the scale-safe
  two-phase global ROW_NUMBER.
* streaming hopping counts — 1 h windows sliding every 30 min over
  the streaming source (availableNow drain; batch window-arithmetic
  oracle); defined in streaming/specs.py, registered here so earlier
  catalog positions stay stable.

Numeric determinism rules (same as queries.py): exact integer/decimal
aggregates; at most ONE double division on identical exact operands per
output column; no ln/pow.

Null contracts (the null gates inject ~2% NULLs into every nullable
column): event-time operators drop NULL ts/user_id/event_type at
intake; text operators drop NULL text; the overlap matrix drops NULL
source (a contamination edge needs both endpoints named); basket pairs
exclude NULL part keys by construction (NULL < x is never TRUE in
either engine). Every oracle mirrors its contract explicitly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from . import cache
from .operators.dedup import _word_ngrams
from .operators.hashing import duck_h32, duck_h60, h32, h60
from .operators.specs import DUCK_TOKENS, _duck_grams
from .sources.testdata import register_tables

# QuerySpec is imported lazily inside expansion2_specs(): queries.py
# builds its QUERIES dict at import time by calling back into this
# module, so a module-level import here would be a circular import for
# any consumer that imports expansion2 first.

__all__ = ["expansion2_specs"]

NOVELTY_GRAM_N = 5
KMV_ROLLUP_K = 64
HASH_SPACE = 1 << 32
# Pair mining is quadratic per basket: a basket of m parts emits
# m(m-1)/2 pairs IN ONE JOIN KEY'S output. The cap bounds that at
# ~32k pairs/order and EXCLUDES degenerate baskets from the metric
# (a 10k-part bot order is noise for market-basket support, and its
# 50M pairs would land on a single task). Enforced identically in the
# oracle; TPC-H baskets max out at 7, so real data is never excluded.
BASKET_CAP = 256


# ---------------------------------------------------------------------------
# n-gram novelty — the duplication curve
# ---------------------------------------------------------------------------


def q_text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per source: what fraction of documents' 5-gram shingles are
    NOVEL (first occurrence in corpus order, i.e. no lower-doc_id doc
    contains them)? The standard corpus-duplication curve used to
    decide how aggressively to dedup before training.

    Scale shape: shingles shuffle ONCE on their 60-bit hash (md5-h60,
    portable — the oracle collides identically, and hashing keeps the
    shuffle key 8 bytes instead of a ~25-char gram string); novelty is
    a min-over-window comparison on that same partitioning — no
    self-join, no second shuffle of the postings. The rollup is an
    ordinary per-source hash aggregate. Never |docs|² anywhere.
    60 bits (not 32) because birthday collisions fold distinct grams
    together and bias novelty DOWN by ~N²/2^33 at 32 bits — at 60 bits
    the bias is N²/2^61, negligible to ~10^8 distinct shingles (the
    residual is part of the metric's contract; see ORACLES.md).
    """
    register_tables(spark, sf_dir, ("documents",))
    docs = spark.table("documents")
    toks = docs.filter(F.col("text").isNotNull()).select(
        "doc_id", "source", F.split(F.trim("text"), r"\s+").alias("toks")
    ).filter(F.size("toks") >= NOVELTY_GRAM_N)
    grams = toks.select(
        "doc_id",
        "source",
        F.explode(_word_ngrams(F.col("toks"), NOVELTY_GRAM_N)).alias("gram"),
    ).select("doc_id", "source", h60(F.col("gram")).alias("gh"))
    first_doc = F.min("doc_id").over(W.partitionBy("gh"))
    tagged = grams.select(
        "doc_id",
        "source",
        (F.col("doc_id") == first_doc).cast("int").alias("novel"),
    )
    return tagged.groupBy("source").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
        F.sum("novel").cast("bigint").alias("n_novel"),
        (
            F.sum("novel").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("novelty_ratio"),
    )


def _oracle_text_ngram_novelty() -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, source, {DUCK_TOKENS} AS t FROM documents
  WHERE text IS NOT NULL AND len({DUCK_TOKENS}) >= {NOVELTY_GRAM_N}
),
grams AS (
  SELECT doc_id, source,
         {duck_h60(f"unnest({_duck_grams(NOVELTY_GRAM_N)})")} AS gh
  FROM toks
),
tagged AS (
  SELECT doc_id, source,
         CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY gh)
              THEN 1 ELSE 0 END AS novel
  FROM grams
)
SELECT source,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(novel) AS BIGINT) AS n_novel,
       CAST(SUM(novel) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS novelty_ratio
FROM tagged GROUP BY source
"""


# ---------------------------------------------------------------------------
# source overlap matrix — cross-source contamination
# ---------------------------------------------------------------------------


def q_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each ordered source pair (a, b): the fraction of a's
    distinct 5-gram shingles that also appear in b — the contamination
    matrix behind dataset-mixing and provenance audits.

    Scale shape: the unit of work is the distinct (source, shingle-
    hash) posting set — ONE dedup shuffle over the corpus. The pair
    expansion is a self-equi-join on the hash whose per-key fan-out is
    bounded by the number of SOURCES (a handful), never by posting
    length; marginals are |sources| rows and broadcast. Hashes are
    60-bit md5-h60 (not 32): birthday collisions join unrelated grams
    and bias overlap UP at 32 bits; 60 bits makes that N²/2^61
    (contract in ORACLES.md).
    """
    register_tables(spark, sf_dir, ("documents",))
    docs = spark.table("documents")
    toks = docs.filter(
        F.col("text").isNotNull() & F.col("source").isNotNull()
    ).select(
        "source", F.split(F.trim("text"), r"\s+").alias("toks")
    ).filter(F.size("toks") >= NOVELTY_GRAM_N)
    # sg feeds the self-join (twice) and the marginals: persist so the
    # corpus is tokenized and dedup-shuffled once, not three times
    sg = cache.track(
        toks.select(
            "source",
            F.explode(_word_ngrams(F.col("toks"), NOVELTY_GRAM_N)).alias(
                "gram"
            ),
        )
        .select("source", h60(F.col("gram")).alias("gh"))
        .distinct()
        .persist()
    )
    a = sg.select(F.col("source").alias("source_a"), "gh")
    b = sg.select(F.col("source").alias("source_b"), "gh")
    common = (
        a.join(b, "gh")
        .filter(F.col("source_a") != F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
    )
    totals = sg.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_a")
    )
    return common.join(
        F.broadcast(totals), F.col("source_a") == F.col("source")
    ).select(
        "source_a",
        "source_b",
        "n_common",
        "n_a",
        (F.col("n_common").cast("double") / F.col("n_a").cast("double")).alias(
            "overlap_frac"
        ),
    )


def _oracle_source_overlap_matrix() -> str:
    return f"""
WITH toks AS (
  SELECT source, {DUCK_TOKENS} AS t FROM documents
  WHERE text IS NOT NULL AND source IS NOT NULL
    AND len({DUCK_TOKENS}) >= {NOVELTY_GRAM_N}
),
sg AS (
  SELECT DISTINCT source,
         {duck_h60(f"unnest({_duck_grams(NOVELTY_GRAM_N)})")} AS gh
  FROM toks
),
common AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(COUNT(*) AS BIGINT) AS n_common
  FROM sg a JOIN sg b ON a.gh = b.gh AND a.source != b.source
  GROUP BY 1, 2
),
totals AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_a FROM sg GROUP BY 1
)
SELECT source_a, source_b, n_common, n_a,
       CAST(n_common AS DOUBLE) / CAST(n_a AS DOUBLE) AS overlap_frac
FROM common JOIN totals ON source_a = totals.source
"""


# ---------------------------------------------------------------------------
# event path counts — funnel discovery
# ---------------------------------------------------------------------------


def q_event_path_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 three-step event-type paths over (user, day) sessions:
    the path-discovery shape (ordered per-key collect + bounded slice)
    behind funnel mining. Only user-days with >= 3 events qualify, so
    every path has exactly 3 steps; ordering ties break on event_id.

    Scale shape: events are rank-sliced to the first 3 PER (user, day)
    BEFORE any collect — ``row_number() <= 3`` compiles to Spark's
    two-phase ``WindowGroupLimit`` (map-side partial top-k before the
    keyed exchange), so a degenerate 100k-event bot user-day ships at
    most 3 rows into the aggregate instead of materializing a 100k
    element collect_list (round-5 verdict: enforce the bound, don't
    narrate it). The >=3 qualifier is "kept exactly 3 after the
    slice" — equivalent to the old size(es) >= 3 but computed on the
    bounded frame. Path rollup is an ordinary hash aggregate; the
    final top-10 is TakeOrderedAndProject, never a global sort.
    Skew-gated: the skew wave of tools/run_gates.py injects a
    50k-event user-day and re-runs the dual compare (green since
    round 6).
    """
    register_tables(spark, sf_dir, ("events",))
    ev = spark.table("events").filter(
        F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
    )
    w3 = W.partitionBy("user_id", "day").orderBy("ts", "event_id")
    first3 = (
        ev.select(
            "user_id",
            F.to_date("ts").alias("day"),
            "ts",
            "event_id",
            "event_type",
        )
        .withColumn("rk", F.row_number().over(w3))
        .filter(F.col("rk") <= 3)
    )
    per_day = (
        first3.groupBy("user_id", "day")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct("rk", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path"),
        )
        .filter(F.col("n_kept") == 3)
        .select("path")
    )
    return (
        per_day.groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_user_days"))
        .orderBy(F.desc("n_user_days"), F.asc("path"))
        .limit(10)
    )


ORACLE_EVENT_PATH_COUNTS = """
WITH per_day AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         array_to_string(
           (array_agg(event_type ORDER BY ts, event_id))[1:3], '>'
         ) AS path,
         COUNT(*) AS n_events
  FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL AND event_type IS NOT NULL
  GROUP BY 1, 2
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_user_days
FROM per_day WHERE n_events >= 3
GROUP BY path
ORDER BY n_user_days DESC, path ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# order basket pairs — market-basket support / lift
# ---------------------------------------------------------------------------


def q_order_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 part pairs by within-order co-occurrence, with lift
    against independence — the a-priori support/lift primitive.

    Scale shape: the self-join is scoped to the ORDER key, so pair
    expansion is bounded by basket size squared — and the bound is
    ENFORCED, not assumed: orders with more than BASKET_CAP distinct
    parts are excluded from the metric (window count over the okey
    partitioning the join reuses; the cap is part of the metric's
    contract and mirrored in the oracle — degenerate mega-baskets are
    noise for support/lift and would put m²/2 pairs on one join key's
    task). Skew-gated: the skew wave of tools/run_gates.py injects a
    5k-part order and re-runs the dual compare (green since round 6).
    Marginals and the 1-row order count broadcast into the
    projection. NULL part keys
    drop out of pairs by construction (NULL < x is never TRUE) and are
    excluded from marginals to match.

    Lift multiplies/divides exact counts as doubles in one expression —
    identical IEEE operand order in both engines.
    """
    register_tables(spark, sf_dir, ("lineitem",))
    # ONE shuffle builds per-order sorted distinct-part BASKETS
    # (collect_set dedups (okey, pkey) inside the aggregate, partial-
    # aggregating map-side); the size filter IS the old window-count
    # cap. The previous shape — distinct → window count → okey
    # self-join — paid three data-sized shuffles and read the
    # persisted frame three times; here pairs expand LOCALLY from the
    # sorted basket array (the lsh_pairs_from_buckets idiom) and
    # marginals/total are cheap rollups of the small persisted basket
    # frame (one row per order, not per line item).
    baskets = cache.track(
        spark.table("lineitem")
        .filter(F.col("l_partkey").isNotNull())
        .groupBy(F.col("l_orderkey").alias("okey"))
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
        .filter(F.size("parts") <= BASKET_CAP)
        .persist()
    )
    pair_array = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.size("parts") - 2),
            lambda i: F.transform(
                F.slice(F.col("parts"), i + 2, F.size("parts")),
                lambda p2: F.struct(
                    F.col("parts")[i].alias("p1"), p2.alias("p2")
                ),
            ),
        )
    )
    pairs = (
        # NULL-okey rows form one basket for marginals/total (matching
        # the old distinct frame) but must emit NO pairs: the old
        # okey equi-join never matched NULL to NULL. size >= 2 also
        # guards sequence(0, -1), which would produce a DESCENDING
        # [0, -1] for singleton baskets.
        baskets.filter(F.col("okey").isNotNull() & (F.size("parts") >= 2))
        .select(F.explode(pair_array).alias("pp"))
        .select(F.col("pp.p1").alias("p1"), F.col("pp.p2").alias("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_together"))
    )
    marg = (
        baskets.select(F.explode("parts").alias("pkey"))
        .groupBy("pkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_orders_p"))
    )
    n_orders = baskets.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders")
    )
    return (
        pairs.join(
            F.broadcast(marg.select(F.col("pkey").alias("p1"),
                                    F.col("n_orders_p").alias("n_orders_p1"))),
            "p1",
        )
        .join(
            F.broadcast(marg.select(F.col("pkey").alias("p2"),
                                    F.col("n_orders_p").alias("n_orders_p2"))),
            "p2",
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            "p1",
            "p2",
            "n_together",
            "n_orders_p1",
            "n_orders_p2",
            (
                (F.col("n_together").cast("double")
                 * F.col("n_orders").cast("double"))
                / (F.col("n_orders_p1").cast("double")
                   * F.col("n_orders_p2").cast("double"))
            ).alias("lift"),
        )
        .orderBy(F.desc("n_together"), F.asc("p1"), F.asc("p2"))
        .limit(20)
    )


ORACLE_ORDER_BASKET_PAIRS = f"""
WITH op0 AS (
  SELECT DISTINCT l_orderkey AS okey, l_partkey AS pkey
  FROM lineitem WHERE l_partkey IS NOT NULL
),
op AS (
  SELECT okey, pkey FROM (
    SELECT okey, pkey, COUNT(*) OVER (PARTITION BY okey) AS bsz FROM op0
  ) WHERE bsz <= {BASKET_CAP}
),
pairs AS (
  SELECT a.pkey AS p1, b.pkey AS p2, CAST(COUNT(*) AS BIGINT) AS n_together
  FROM op a JOIN op b ON a.okey = b.okey AND a.pkey < b.pkey
  GROUP BY 1, 2
),
marg AS (
  SELECT pkey, CAST(COUNT(*) AS BIGINT) AS n_orders_p FROM op GROUP BY 1
),
total AS (SELECT CAST(COUNT(DISTINCT okey) AS BIGINT) AS n_orders FROM op)
SELECT p1, p2, n_together,
       m1.n_orders_p AS n_orders_p1,
       m2.n_orders_p AS n_orders_p2,
       (CAST(n_together AS DOUBLE) * CAST(n_orders AS DOUBLE))
         / (CAST(m1.n_orders_p AS DOUBLE) * CAST(m2.n_orders_p AS DOUBLE))
         AS lift
FROM pairs
JOIN marg m1 ON p1 = m1.pkey
JOIN marg m2 ON p2 = m2.pkey
CROSS JOIN total
ORDER BY n_together DESC, p1 ASC, p2 ASC
LIMIT 20
"""


# ---------------------------------------------------------------------------
# KMV rollup — mergeable-sketch pre-aggregation
# ---------------------------------------------------------------------------


def q_sketch_kmv_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users estimated two ways: per-day KMV sketches MERGED
    into one (the pre-aggregated-rollup pattern: sketch each partition
    once, combine forever without re-touching data), and the direct
    global sketch. The two are EXACTLY equal — the k smallest of a
    union of per-day k-smallest sets is the global k smallest — so the
    oracle checks the merge algebra bit-for-bit, alongside the exact
    count the estimate approximates.

    Scale shape: one (day, hash) dedup shuffle; the per-day window
    ranks within day partitions; the merged pool is <= k×|days| rows
    and both top-k reductions compile to TakeOrderedAndProject
    (distributed partial top-k), never a single-partition sort.
    Null contract: NULL user_id (COUNT DISTINCT parity) and NULL ts
    (no day to roll into) drop at intake.
    """
    k = KMV_ROLLUP_K
    register_tables(spark, sf_dir, ("events",))
    ev = spark.table("events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    hashes = cache.track(
        ev.select(
            F.to_date("ts").alias("day"),
            h32(F.col("user_id").cast("string")).alias("h"),
        )
        .distinct()
        .persist()
    )
    # per-day sketches: each day keeps its k smallest hashes
    daily_rank = W.partitionBy("day").orderBy("h")
    daily_kept = (
        hashes.withColumn("rk", F.row_number().over(daily_rank))
        .filter(F.col("rk") <= k)
        .select("h")
        .distinct()
    )

    def kmv_estimate(pool: DataFrame, est_col: str) -> DataFrame:
        kept = pool.orderBy("h").limit(k)
        return kept.agg(
            F.count(F.lit(1)).alias("n"), F.max("h").alias("kth")
        ).select(
            F.when(F.col("n") < k, F.col("n"))
            .otherwise(
                F.floor(
                    F.lit(float(k - 1)) * F.lit(float(HASH_SPACE)) / F.col("kth")
                )
            )
            .cast("bigint")
            .alias(est_col)
        )

    merged = kmv_estimate(daily_kept, "merged_est_users")
    direct = kmv_estimate(hashes.select("h").distinct(), "direct_est_users")
    exact = ev.agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_users")
    )
    n_days = hashes.select("day").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days")
    )
    return (
        merged.crossJoin(F.broadcast(direct))
        .crossJoin(F.broadcast(exact))
        .crossJoin(F.broadcast(n_days))
    )


def _oracle_sketch_kmv_rollup() -> str:
    k = KMV_ROLLUP_K
    h = duck_h32("CAST(user_id AS VARCHAR)")
    return f"""
WITH ev AS (
  SELECT * FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
hashes AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, {h} AS h FROM ev
),
daily_kept AS (
  SELECT DISTINCT h FROM (
    SELECT h, row_number() OVER (PARTITION BY day ORDER BY h) AS rk
    FROM hashes
  ) WHERE rk <= {k}
),
merged AS (
  SELECT CAST(CASE WHEN COUNT(*) < {k} THEN COUNT(*)
              ELSE floor({k - 1}.0 * 4294967296.0 / MAX(h)) END AS BIGINT)
         AS merged_est_users
  FROM (SELECT h FROM daily_kept ORDER BY h LIMIT {k})
),
direct AS (
  SELECT CAST(CASE WHEN COUNT(*) < {k} THEN COUNT(*)
              ELSE floor({k - 1}.0 * 4294967296.0 / MAX(h)) END AS BIGINT)
         AS direct_est_users
  FROM (SELECT DISTINCT h FROM hashes ORDER BY h LIMIT {k})
)
SELECT merged_est_users, direct_est_users,
       (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM ev) AS exact_users,
       (SELECT CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) FROM ev)
         AS n_days
FROM merged CROSS JOIN direct
"""


# ---------------------------------------------------------------------------
# vocabulary coverage curve — tokenizer budget planning
# ---------------------------------------------------------------------------

# Sized to the synthetic corpus (~31 distinct tokens) so three of the
# four points genuinely truncate; a real corpus uses [8k, 32k, 64k,
# 128k] — the operator is size-agnostic.
VOCAB_CURVE_SIZES = [5, 10, 20, 50]


def q_text_vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OOV planning curve: for each candidate vocabulary size V, the
    fraction of all token OCCURRENCES covered by the top-V tokens by
    corpus frequency (ties broken by token text) — the curve that
    decides a tokenizer's vocab budget.

    Scale shape: one token-count aggregate (map-side combined), then
    the scale-safe two-phase global ROW_NUMBER over the DISTINCT-token
    frame (operators/ranking.global_row_number — no SinglePartition
    sort however large the vocabulary), then ONE conditional aggregate
    produces every curve point; stack() unpivots the single row
    map-side. Exact integer sums; one double division per point.
    """
    from .operators.ranking import global_row_number

    register_tables(spark, sf_dir, ("documents",))
    docs = spark.table("documents")
    counts = (
        docs.filter(F.col("text").isNotNull())
        .select(F.explode(F.split(F.trim("text"), r"\s+")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ranked = global_row_number(
        counts, [F.desc("c"), F.asc("tok")], out_col="rn"
    )
    one = ranked.agg(
        F.sum("c").cast("bigint").alias("n_total"),
        *[
            F.sum(F.when(F.col("rn") <= v, F.col("c")))
            .cast("bigint")
            .alias(f"cov_{v}")
            for v in VOCAB_CURVE_SIZES
        ],
    )
    stack_args = ", ".join(
        f"{v}, cov_{v}" for v in VOCAB_CURVE_SIZES
    )
    return one.selectExpr(
        f"stack({len(VOCAB_CURVE_SIZES)}, {stack_args})"
        " AS (vocab_size, covered_tokens)",
        "n_total AS total_tokens",
    ).select(
        F.col("vocab_size").cast("int").alias("vocab_size"),
        F.coalesce(F.col("covered_tokens"), F.lit(0))
        .cast("bigint")
        .alias("covered_tokens"),
        "total_tokens",
        (
            F.coalesce(F.col("covered_tokens"), F.lit(0)).cast("double")
            / F.col("total_tokens").cast("double")
        ).alias("coverage"),
    )


def _oracle_text_vocab_coverage_curve() -> str:
    points = " UNION ALL ".join(f"SELECT {v} AS vocab_size" for v in VOCAB_CURVE_SIZES)
    return f"""
WITH toks AS (
  SELECT unnest({DUCK_TOKENS}) AS tok FROM documents WHERE text IS NOT NULL
),
counts AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok),
ranked AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, tok ASC) AS rn FROM counts
),
points AS ({points})
SELECT CAST(vocab_size AS INT) AS vocab_size,
       CAST(COALESCE(SUM(CASE WHEN rn <= vocab_size THEN c END), 0) AS BIGINT)
         AS covered_tokens,
       CAST(SUM(c) AS BIGINT) AS total_tokens,
       CAST(COALESCE(SUM(CASE WHEN rn <= vocab_size THEN c END), 0) AS DOUBLE)
         / CAST(SUM(c) AS DOUBLE) AS coverage
FROM points LEFT JOIN ranked ON TRUE
GROUP BY vocab_size
"""
# LEFT JOIN (not CROSS JOIN): on an EMPTY corpus the engine still
# emits every curve point — Spark's ungrouped agg over zero rows
# yields one all-NULL row, so the curve is (v, 0, NULL, NULL) per
# point. A CROSS JOIN with an empty ranked frame would drop the
# points entirely. Equivalent on non-empty input. See ORACLES.md.


# ---------------------------------------------------------------------------
# time to convert — funnel latency
# ---------------------------------------------------------------------------


def q_time_to_convert_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user view→purchase latency (first view to first subsequent
    purchase), rolled up to one row of funnel-latency stats: converting
    users, median/min/max hours to convert. The companion metric to
    funnel_conversion (that one counts WHO converts; this measures HOW
    LONG conversion takes).

    Scale shape: ONE per-user aggregate (two conditional MINs in one
    pass — no self-join of the events table), then a 1-row rollup over
    the |converting users| gap frame. ``percentile_disc`` is the
    deterministic oracle-portable stand-in here (same convention as
    value_quantiles / median_order_gap_days); production at 100 TB
    swaps it for ``approx_percentile``'s mergeable sketch, keeping the
    rollup map-combined. Gaps are exact integer microseconds; the hour
    conversions divide exact ints once. Null contract: NULL
    ts/user_id/event_type drop at intake (event-time operators drop
    NULL event times).
    """
    register_tables(spark, sf_dir, ("events",))
    ev = spark.table("events").filter(
        F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
    )
    per_user = ev.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "view", F.unix_micros("ts"))
        ).alias("first_view_us"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.unix_micros("ts"))
        ).alias("first_purchase_us"),
    )
    gaps = per_user.filter(
        F.col("first_view_us").isNotNull()
        & (F.col("first_purchase_us") > F.col("first_view_us"))
    ).select(
        (F.col("first_purchase_us") - F.col("first_view_us")).alias("gap_us")
    )
    return gaps.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_converting_users"),
        (
            F.expr(
                "CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY gap_us)"
                " AS DOUBLE)"
            )
            / F.lit(3600000000.0)
        ).alias("median_hours"),
        (F.min("gap_us").cast("double") / F.lit(3600000000.0)).alias(
            "min_hours"
        ),
        (F.max("gap_us").cast("double") / F.lit(3600000000.0)).alias(
            "max_hours"
        ),
    )


ORACLE_TIME_TO_CONVERT_STATS = """
WITH ev AS (
  SELECT * FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL AND event_type IS NOT NULL
),
per_user AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
           AS first_view_us,
         MIN(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END)
           AS first_purchase_us
  FROM ev GROUP BY user_id
),
gaps AS (
  SELECT first_purchase_us - first_view_us AS gap_us
  FROM per_user
  WHERE first_view_us IS NOT NULL
    AND first_purchase_us > first_view_us
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_converting_users,
       CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY gap_us)
            AS DOUBLE) / 3600000000.0 AS median_hours,
       CAST(MIN(gap_us) AS DOUBLE) / 3600000000.0 AS min_hours,
       CAST(MAX(gap_us) AS DOUBLE) / 3600000000.0 AS max_hours
FROM gaps
"""


def expansion2_specs() -> list:
    from .queries import QuerySpec

    return [
        QuerySpec(
            "text_ngram_novelty",
            "Per-source 5-gram novelty fraction (duplication curve)",
            q_text_ngram_novelty,
            _oracle_text_ngram_novelty(),
        ),
        QuerySpec(
            "source_overlap_matrix",
            "Cross-source shingle contamination matrix",
            q_source_overlap_matrix,
            _oracle_source_overlap_matrix(),
        ),
        QuerySpec(
            "event_path_counts",
            "Top 3-step event paths per user-day (funnel discovery)",
            q_event_path_counts,
            ORACLE_EVENT_PATH_COUNTS,
        ),
        QuerySpec(
            "order_basket_pairs",
            "Market-basket part pairs with support and lift",
            q_order_basket_pairs,
            ORACLE_ORDER_BASKET_PAIRS,
        ),
        QuerySpec(
            "sketch_kmv_rollup",
            "Per-day KMV sketches merged vs direct (mergeable rollup)",
            q_sketch_kmv_rollup,
            _oracle_sketch_kmv_rollup(),
        ),
        QuerySpec(
            "time_to_convert_stats",
            "First-view to first-purchase latency stats (funnel latency)",
            q_time_to_convert_stats,
            ORACLE_TIME_TO_CONVERT_STATS,
        ),
        QuerySpec(
            "text_vocab_coverage_curve",
            "Token-occurrence coverage per candidate vocab size (OOV curve)",
            q_text_vocab_coverage_curve,
            _oracle_text_vocab_coverage_curve(),
        ),
        QuerySpec(
            "streaming_hopping_counts",
            "Streaming HOPPING windows (1h/30min slide), availableNow drain",
            _streaming_hopping_q(),
            _streaming_hopping_oracle(),
        ),
    ]


def _streaming_hopping_q():
    from .streaming.specs import q_streaming_hopping_counts

    return q_streaming_hopping_counts


def _streaming_hopping_oracle() -> str:
    from .streaming.specs import ORACLE_STREAMING_HOPPING

    return ORACLE_STREAMING_HOPPING
