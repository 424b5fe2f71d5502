"""Round-7 catalog expansion: ten pipeline operators, each Spark-first
with an exact DuckDB oracle, targeting the remaining pipeline gaps the
round-6 verdict named (CDC-shaped dedup through the A8 DML path,
packing efficiency, watermark late-data accounting) plus the scale
audits the soaks showed were worth having as standing queries.

* dedup_cdc_merge — MERGE-based upsert of the persisted LSH band-
  bucket index via the engine's A8 DML path: standing index (stale
  rows injected) + new-batch signatures -> MERGE (matched UPDATE /
  not-matched INSERT) -> post-merge index rollup, which must equal
  the fresh full-corpus index. Composes two subsystems (dedup +
  general MERGE at data scale) and gates BOTH.
* curation_pack_fill_rate — packing-efficiency audit for
  curation_pack_sequences: docs-started-per-sequence histogram with
  boundary-crossing counts.
* watermark_late_arrivals — per-day late-event accounting in ARRIVAL
  order (event_id): how many events arrive behind the running
  event-time high-water mark by more than the 30 min session gap /
  the 2 h watermark delay — the data a team uses to CHOOSE a
  watermark delay. Two-phase prefix max, never a single-partition
  window.
* lsh_band_bucket_skew — per-band bucket-size profile (count, max,
  discrete p50, and pair-slots = sum s*(s-1)/2): the standing audit
  for the LSH join's true workload (the r6/r7 soak lesson — wall
  clock follows pair slots, so pair slots is what a deployment
  monitors).
* minhash_jaccard_error — estimator audit: banded-LSH candidate
  pairs' MinHash-estimated Jaccard vs exact shingle-set Jaccard,
  rolled up per matching-bands count (n, discrete-median abs error,
  max abs error).
* source_mix_dedup_shift — per-source corpus share BEFORE vs AFTER
  exact dedup (keep = min doc_id per fingerprint): the mixture drift
  dedup inflicts, which a curation plan must re-weight for.
* token_budget_burndown — cumulative token supply by quality floor:
  per 0.1 quality bucket (descending), tokens in bucket and running
  total — the curve that answers "how many tokens survive quality >=
  x". Bounded rows: bucketize first, cumulate over <= a dozen rows.
* text_source_distinctive_terms — per-source top-5 terms by
  distinctiveness lift (term share in source / term share in corpus),
  ranked on an EXACT cross-multiplied key with one final double
  division (no double-ordering nondeterminism).
* sketch_hll_error_by_day — per-day portable-HLL estimate vs exact
  distinct users with relative error: the accuracy audit for the
  register rollup a 100 TB pipeline stores (raw estimator, no ln()
  small-range correction — ORACLES.md #11 log-free discipline;
  documented contract, exact count alongside).
* embedding_recall_curve — recall@k (k in 1, 5) of hyperplane-LSH
  ANN against the exact cosine top-5, as a standing query (the
  ANNSOAK artifact showed candidate growth tracks corpus growth;
  this keeps the QUALITY side pinned too). Parameter-keyed output
  survives empty input (ORACLES.md #13).

Determinism rules as everywhere (queries.py docstring, ORACLES.md):
exact integer/decimal aggregates, discrete percentiles, md5-derived
hashes, at most one double division on identical exact operands per
output column, explicit whitespace classes (class 16), İ pre-replace
in every oracle lower() (class 5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from . import cache
from .operators.dedup import DEMO_BANDS, DEMO_NUM_PERM
from .operators.hashing import duck_h32, duck_perm_hash, lcg_constants
from .operators.specs import DUCK_TOKENS, N_QUERY_VECS, _duck_grams
from .sources.testdata import register_tables

__all__ = ["expansion4_specs"]

PACK_SEQ_LEN = 512
LATE_GAP_US = 30 * 60 * 1_000_000  # the session gap
LATE_WM_US = 2 * 3600 * 1_000_000  # the watermark delay
DISTINCT_TERM_MIN_TF = 5
DISTINCT_TERM_TOP_K = 5


# ---------------------------------------------------------------------------
# shared DuckDB fragment: the full-corpus LSH band-bucket index
# (the oracle twin of operators/dedup.minhash_band_buckets at the
# DEMO_NUM_PERM/DEMO_BANDS catalog parameters)
# ---------------------------------------------------------------------------


def _duck_lsh_index_ctes() -> str:
    consts = lcg_constants(DEMO_NUM_PERM)
    rows_per_band = DEMO_NUM_PERM // DEMO_BANDS
    sig_exprs = ",\n    ".join(
        f"MIN({duck_perm_hash(duck_h32('gram'), a, b)}) AS sig_{i}"
        for i, (a, b) in enumerate(consts)
    )
    band_selects = " UNION ALL ".join(
        "SELECT doc, {band} AS band, md5(concat_ws('-', {cols})) AS bucket FROM sigs".format(
            band=band,
            cols=", ".join(
                f"sig_{band * rows_per_band + j}" for j in range(rows_per_band)
            ),
        )
        for band in range(DEMO_BANDS)
    )
    return f"""
toks AS (
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
),
buckets AS ({band_selects})"""


# ---------------------------------------------------------------------------
# 1. dedup_cdc_merge — LSH index upsert through the A8 MERGE path
# ---------------------------------------------------------------------------


def _cdc_fixture_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(standing_with_stale, new_batch) — the deterministic CDC
    fixture content: the older 80% of docs' LSH index rows plus a
    stale row per even-id new doc, and the new batch's fresh rows
    (materialized by ``_cdc_merge_setup``)."""
    from .operators.dedup import minhash_band_buckets

    register_tables(spark, sf_dir, ("documents",))
    docs = spark.table("documents")
    # eager threshold is fine here: this operator MATERIALIZES tables
    # (that is its point); empty corpus -> thr 0 -> everything empty
    row = docs.agg(F.expr("max(doc_id) * 4 div 5").alias("t")).collect()[0]
    thr = int(row["t"]) if row["t"] is not None else 0

    index = cache.track(
        minhash_band_buckets(docs, num_perm=DEMO_NUM_PERM, bands=DEMO_BANDS)
        .select("doc", F.col("band").cast("int").alias("band"), "bucket")
        .distinct()
        .persist()
    )
    standing_fresh = index.filter(F.col("doc") < thr)
    new_batch = index.filter(F.col("doc") >= thr)
    stale = new_batch.filter(F.col("doc") % 2 == 0).select(
        "doc", "band", F.lit("stale").alias("bucket")
    )
    return standing_fresh.unionByName(stale), new_batch


def _cdc_merge_setup(spark: SparkSession, sf_dir: str):
    """Materialize the CDC fixture (standing index table with stale
    rows + new-batch view) and parse the MERGE; returns
    ``(catalog, writer, stmt, fqn)``. Shared by ``q_dedup_cdc_merge``
    and the plan-pin test, which explains ``dml.build_merge_plan`` on
    exactly this statement instead of re-deriving the fixture."""
    from .catalog import Catalog
    from .dml import parse_merge
    from .loaders import Writer

    standing, new_batch = _cdc_fixture_frames(spark, sf_dir)

    cat = Catalog(spark)
    writer = Writer(spark, cat)
    fqn = "g-project.playground.cdc_lsh_index"
    cat.create_table(
        fqn, [("doc", "bigint"), ("band", "int"), ("bucket", "string")]
    )
    sname = cat.spark_name(fqn)
    standing.createOrReplaceTempView("cdc_standing_v")
    new_batch.createOrReplaceTempView("cdc_new_v")
    spark.sql(
        f"INSERT OVERWRITE TABLE {sname} "
        "SELECT doc, band, bucket FROM cdc_standing_v"
    )
    stmt = parse_merge(
        f"""MERGE INTO {sname} T
USING (SELECT doc, band, bucket FROM cdc_new_v) N
ON T.doc = N.doc AND T.band = N.band
WHEN MATCHED THEN UPDATE SET bucket = N.bucket
WHEN NOT MATCHED THEN INSERT (doc, band, bucket) VALUES (N.doc, N.band, N.bucket)"""
    )
    return cat, writer, stmt, fqn


def q_dedup_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-shaped incremental dedup: upsert the NEW batch's LSH
    band-bucket signatures into the persisted standing index with the
    engine's general MERGE path (dml.py — the same executor the A8
    reference samples run through), then roll the post-merge index up
    per band. The post-merge state must equal the fresh full-corpus
    index — which is exactly what the oracle computes, so this query
    gates the MERGE executor's matched-UPDATE and not-matched-INSERT
    clauses against data-sized inputs, not 3-row fixtures.

    Setup (deterministic): docs with doc_id >= max*4/5 are the "new
    batch"; the standing table holds the older docs' index rows PLUS a
    deliberately STALE row ('stale' bucket) for every even-id new doc
    that has signatures — MERGE must overwrite every stale row (UPDATE)
    and add the odd-id ones (INSERT).

    Scale shape: the index build is the map-only signature pipeline +
    one DISTINCT shuffle (the index's (doc, band) primary key —
    REQUIRED, because MERGE correctly errors when two source rows hit
    one target row, so a dirty re-ingest must collapse inside the
    index build; ORACLES.md #15). The MERGE itself is the executor's
    row-id join rewrite — target and source are both data-sized, no
    driver materialization. Cites reference semantics:
    bumblebee/query.py:6-62 (delete+insert MERGE templates).
    """
    from .dml import execute_merge

    cat, writer, stmt, fqn = _cdc_merge_setup(spark, sf_dir)
    execute_merge(spark, cat, writer, stmt, fqn)
    merged = cat.read(fqn)
    return merged.groupBy(F.col("band").cast("int").alias("band")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_entries"),
        F.countDistinct("doc").cast("bigint").alias("n_docs"),
        F.countDistinct("bucket").cast("bigint").alias("n_buckets"),
    )


def _oracle_dedup_cdc_merge() -> str:
    return f"""
WITH {_duck_lsh_index_ctes()},
idx AS (SELECT DISTINCT doc, band, bucket FROM buckets)
SELECT CAST(band AS INTEGER) AS band,
       CAST(COUNT(*) AS BIGINT) AS n_entries,
       CAST(COUNT(DISTINCT doc) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT bucket) AS BIGINT) AS n_buckets
FROM idx GROUP BY band
"""


# ---------------------------------------------------------------------------
# 2. curation_pack_fill_rate
# ---------------------------------------------------------------------------


def q_pack_fill_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency audit over curation_pack_sequences' exact
    assignment: histogram of documents STARTED per 512-token sequence,
    with how many of those documents cross their sequence boundary.
    The shape a data team reads before choosing seq_len: many
    one-doc sequences with crossers means long docs dominate;
    many-doc sequences mean heavy fragmentation of short docs.

    Scale shape: pack_sequences' two-phase prefix sum (never a
    single-partition window), then two ordinary hash aggregates; the
    histogram is bounded by max docs-per-sequence (<= seq_len). NULL
    text drops at intake (a NULL token count cannot be packed —
    contract shared with the oracle)."""
    from .operators.curation import pack_sequences
    from .operators.text import tokens

    register_tables(spark, sf_dir, ("documents",))
    docs = spark.table("documents").filter(F.col("text").isNotNull()).select(
        "doc_id", F.size(tokens(F.col("text"))).alias("n_tokens")
    )
    packed = pack_sequences(docs, seq_len=PACK_SEQ_LEN)
    per_seq = packed.groupBy("seq_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("docs_started"),
        F.sum(
            F.when(
                F.col("seq_offset") + F.col("n_tokens") > PACK_SEQ_LEN, 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_crossing"),
    )
    total = per_seq.agg(
        F.count(F.lit(1)).cast("bigint").alias("__total_seqs")
    )
    return (
        per_seq.groupBy("docs_started")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_seqs"),
            F.sum("n_crossing").cast("bigint").alias("n_crossing_docs"),
        )
        .join(F.broadcast(total))
        .select(
            "docs_started",
            "n_seqs",
            "n_crossing_docs",
            (
                F.col("n_seqs").cast("double")
                / F.col("__total_seqs").cast("double")
            ).alias("seq_share"),
        )
    )


ORACLE_PACK_FILL_RATE = f"""
WITH counted AS (
  SELECT doc_id, len({DUCK_TOKENS}) AS n_tokens FROM documents
  WHERE text IS NOT NULL
),
cum AS (
  SELECT doc_id, n_tokens,
         SUM(n_tokens) OVER (ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS start
  FROM counted
),
pos AS (
  SELECT doc_id, n_tokens,
         start // {PACK_SEQ_LEN} AS seq_id,
         start % {PACK_SEQ_LEN} AS seq_offset
  FROM cum
),
per_seq AS (
  SELECT seq_id,
         CAST(COUNT(*) AS BIGINT) AS docs_started,
         CAST(SUM(CASE WHEN seq_offset + n_tokens > {PACK_SEQ_LEN}
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_crossing
  FROM pos GROUP BY seq_id
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM per_seq)
SELECT docs_started,
       CAST(COUNT(*) AS BIGINT) AS n_seqs,
       CAST(SUM(n_crossing) AS BIGINT) AS n_crossing_docs,
       CAST(COUNT(*) AS DOUBLE) / CAST(t AS DOUBLE) AS seq_share
FROM per_seq, tot
GROUP BY docs_started, t
"""


# ---------------------------------------------------------------------------
# 3. watermark_late_arrivals
# ---------------------------------------------------------------------------


def q_watermark_late_arrivals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day late-data accounting in ARRIVAL order (event_id is the
    ingest sequence): events arriving behind the running event-time
    high-water mark by more than the session gap (30 min — would merge
    into the wrong session without the r7 timeout clamp) and by more
    than the watermark delay (2 h — would be state-dropped by a
    watermarked aggregate). This is the measurement a team runs to
    CHOOSE a watermark delay.

    Scale shape: the running max over arrival order is a TWO-PHASE
    prefix max (the pack_sequences discipline) — range-partition by
    event_id, per-partition running max, then a partition-count-sized
    prefix-max frame (computed IN-PLAN by a window over the tiny
    per-partition max aggregate — no driver collect, no extra action)
    broadcast back; never a single-partition window over the data. The
    rollup is an ordinary per-day hash aggregate. NULL ts / event_id
    drop at intake (no arrival position / no event time)."""
    register_tables(spark, sf_dir, ("events",))
    ev = (
        spark.table("events")
        .filter(F.col("ts").isNotNull() & F.col("event_id").isNotNull())
        .select(
            "event_id",
            F.to_date("ts").alias("day"),
            F.unix_micros(F.col("ts")).alias("us"),
        )
    )
    n_ranges = spark.sparkContext.defaultParallelism
    ranged = ev.repartitionByRange(n_ranges, "event_id").withColumn(
        "__pid", F.spark_partition_id()
    )
    ranged = cache.track(ranged.persist())
    prior_w = (
        W.partitionBy("__pid")
        .orderBy("event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    with_local = ranged.withColumn("__local_prior", F.max("us").over(prior_w))
    # per-partition max (one row per range partition), prefix-maxed by
    # a window over PRIOR pids: the first partition gets NULL (window
    # max over an empty frame), exactly the old driver-side run=None
    totals = ranged.groupBy("__pid").agg(F.max("us").alias("__m"))
    prior_pids = W.orderBy("__pid").rowsBetween(W.unboundedPreceding, -1)
    off_df = totals.select(
        F.col("__pid").alias("__pid_o"),
        F.max("__m").over(prior_pids).cast("bigint").alias("__prefix"),
    )
    with_prior = with_local.join(
        F.broadcast(off_df), F.col("__pid") == F.col("__pid_o"), "left"
    )
    # Spark's greatest() skips NULLs (returns the max non-null), which
    # is exactly "max of whichever of the two priors exist"
    prior = F.greatest(F.col("__local_prior"), F.col("__prefix"))
    flagged = with_prior.select(
        "day",
        "us",
        prior.alias("__prior"),
    )
    return flagged.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(
            F.when(
                F.col("__prior").isNotNull()
                & (F.col("us") < F.col("__prior") - LATE_GAP_US),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_late_30m"),
        F.sum(
            F.when(
                F.col("__prior").isNotNull()
                & (F.col("us") < F.col("__prior") - LATE_WM_US),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_late_2h"),
    )


ORACLE_WATERMARK_LATE_ARRIVALS = f"""
WITH ev AS (
  SELECT event_id, CAST(ts AS DATE) AS day, epoch_us(ts) AS us
  FROM events WHERE ts IS NOT NULL AND event_id IS NOT NULL
),
pri AS (
  SELECT day, us,
         MAX(us) OVER (ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING) AS prior
  FROM ev
)
SELECT day,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN prior IS NOT NULL AND us < prior - {LATE_GAP_US}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_late_30m,
       CAST(SUM(CASE WHEN prior IS NOT NULL AND us < prior - {LATE_WM_US}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_late_2h
FROM pri GROUP BY day
"""


# ---------------------------------------------------------------------------
# 4. lsh_band_bucket_skew
# ---------------------------------------------------------------------------


def q_lsh_band_bucket_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-band bucket-size profile of the LSH index: entries, distinct
    buckets, the largest bucket, the discrete median bucket size, and
    PAIR SLOTS (sum of s*(s-1)/2) — the true workload of any
    bucket-join built on this index (the soak lesson: wall clock
    follows pair slots). A deployment watches max_sz and pair_slots,
    not row counts — one degenerate bucket is the difference between
    a linear and a quadratic stage.

    Scale shape: one (band, bucket) count aggregate (map-side
    combined), then a per-band rollup over the bucket-count-sized
    frame; percentile_disc is the portable discrete quantile. Exact
    integer math throughout (pair slots in bigint)."""
    from .operators.dedup import minhash_band_buckets

    register_tables(spark, sf_dir, ("documents",))
    buckets = minhash_band_buckets(
        spark.table("documents"), num_perm=DEMO_NUM_PERM, bands=DEMO_BANDS
    )
    # countDistinct, not count: the INDEX is unique per (doc, band) —
    # duplicate doc_id input rows band identically and must collapse
    # INSIDE this one existing shuffle (ORACLES.md #15), mirroring the
    # CDC query's distinct() primary key
    sizes = buckets.groupBy("band", "bucket").agg(
        F.countDistinct("doc").cast("bigint").alias("sz")
    )
    sizes.createOrReplaceTempView("lsh_bucket_sizes_v")
    return spark.sql(
        """
        SELECT CAST(band AS INTEGER) AS band,
               CAST(SUM(sz) AS BIGINT) AS n_entries,
               CAST(COUNT(*) AS BIGINT) AS n_buckets,
               CAST(MAX(sz) AS BIGINT) AS max_sz,
               CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY sz)
                    AS BIGINT) AS p50_sz,
               CAST(SUM(sz * (sz - 1) DIV 2) AS BIGINT) AS pair_slots
        FROM lsh_bucket_sizes_v GROUP BY band
        """
    )


def _oracle_lsh_band_bucket_skew() -> str:
    return f"""
WITH {_duck_lsh_index_ctes()},
sizes AS (
  SELECT band, bucket, CAST(COUNT(DISTINCT doc) AS BIGINT) AS sz
  FROM buckets GROUP BY band, bucket
)
SELECT CAST(band AS INTEGER) AS band,
       CAST(SUM(sz) AS BIGINT) AS n_entries,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(MAX(sz) AS BIGINT) AS max_sz,
       CAST(quantile_disc(sz, 0.5) AS BIGINT) AS p50_sz,
       CAST(SUM(sz * (sz - 1) // 2) AS BIGINT) AS pair_slots
FROM sizes GROUP BY band
"""


# ---------------------------------------------------------------------------
# 5. minhash_jaccard_error
# ---------------------------------------------------------------------------


def q_minhash_jaccard_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator audit: for every banded-LSH candidate pair, the
    MinHash-estimated Jaccard (agreeing signature rows / num_perm) vs
    the EXACT shingle-set Jaccard, rolled up per matching-bands count:
    pairs, discrete-median absolute error, max absolute error. The
    audit that justifies (or indicts) the estimator before a corpus-
    wide dedup trusts it.

    Scale shape: candidates come from the banded bucket join (never
    all-pairs — operators/dedup.minhash_lsh_pairs, skew-capped; the
    oracle mirrors the same max_bucket_size=1000 cap via its `kept`
    CTE, so a degenerate bucket over the cap drops from BOTH sides);
    per-pair estimate and exact Jaccard both join on doc ids against
    the persisted signature/gram frames. Errors are exact rationals
    cast to double ONCE per pair and ROUNDED, and the rollup uses
    order-independent aggregates only (count / percentile_disc / max
    — never a sum of doubles)."""
    from .operators.dedup import (
        _band_buckets,
        lsh_pairs_from_buckets,
        minhash_signatures,
    )
    from .operators.text import tokens

    register_tables(spark, sf_dir, ("documents",))
    docs = spark.table("documents")

    # one signature/gram row PER DOC: duplicate doc_id input rows carry
    # identical signatures, and joining them un-collapsed fans every
    # candidate pair out 4x/16x (duplicate-row gate find). min() inside
    # the groupBy collapses bit-identical rows in one shuffle
    # (ORACLES.md #15); the oracle groups its sigs/gram CTEs the same
    # way.
    sig_cols = [f"sig_{i}" for i in range(DEMO_NUM_PERM)]
    sigs = cache.track(
        minhash_signatures(docs, num_perm=DEMO_NUM_PERM)
        .groupBy("doc")
        .agg(*[F.min(c).alias(c) for c in sig_cols])
        .persist()
    )
    # candidates BAND THE SAME PERSISTED FRAME the estimate reads —
    # minhash_lsh_pairs(docs) would re-run the whole tokenize+32-perm
    # signature pipeline a second time (guide §2.4 duplicated-subtree
    # class; the r12 crosslingual/ntiles finds). Banding the collapsed
    # per-doc sigs is identical to banding raw rows: duplicate doc_id
    # rows carry bit-identical signatures (min == each copy), and
    # lsh_pairs_from_buckets array_distinct's each bucket's members
    # anyway, so the (doc, band, bucket) set — and every pair — is
    # unchanged.
    pairs = lsh_pairs_from_buckets(
        _band_buckets(
            sigs, DEMO_BANDS, DEMO_NUM_PERM // DEMO_BANDS, "portable"
        )
    ).select("d1", "d2", "matching_bands")
    agree = sum(
        F.when(
            F.col(f"a.{c}").eqNullSafe(F.col(f"b.{c}")), 1
        ).otherwise(0)
        for c in sig_cols
    )
    from .operators.dedup import _word_ngrams

    toks_df = docs.select(
        F.col("doc_id").alias("doc"), tokens(F.col("text")).alias("toks")
    ).filter(F.size("toks") >= 2)
    grams = cache.track(
        toks_df.select("doc", _word_ngrams(F.col("toks"), 2).alias("gs"))
        # duplicate docs carry identical gram sets; flatten+distinct
        # collapses them without assuming array ordering
        .groupBy("doc")
        .agg(
            F.array_distinct(F.flatten(F.collect_list("gs"))).alias("gs")
        )
        .persist()
    )
    est_jac = (
        pairs.join(sigs.alias("a"), F.col("d1") == F.col("a.doc"))
        .join(sigs.alias("b"), F.col("d2") == F.col("b.doc"))
        .select(
            "d1",
            "d2",
            "matching_bands",
            (agree.cast("double") / F.lit(float(DEMO_NUM_PERM))).alias(
                "est"
            ),
        )
    )
    ga = grams.select(F.col("doc").alias("d1"), F.col("gs").alias("g1"))
    gb = grams.select(F.col("doc").alias("d2"), F.col("gs").alias("g2"))
    inter = F.size(F.array_intersect("g1", "g2")).cast("double")
    uni = F.size(F.array_union("g1", "g2")).cast("double")
    scored = (
        est_jac.join(ga, "d1")
        .join(gb, "d2")
        .select(
            "matching_bands",
            F.round(
                F.abs(F.col("est") - F.when(uni > 0, inter / uni)), 6
            ).alias("abs_err"),
        )
    )
    scored.createOrReplaceTempView("mh_err_v")
    return spark.sql(
        """
        SELECT CAST(matching_bands AS BIGINT) AS matching_bands,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               percentile_disc(0.5) WITHIN GROUP (ORDER BY abs_err)
                 AS median_abs_err,
               MAX(abs_err) AS max_abs_err
        FROM mh_err_v GROUP BY matching_bands
        """
    )


def _oracle_minhash_jaccard_error() -> str:
    sig_list = ", ".join(f"sig_{i}" for i in range(DEMO_NUM_PERM))
    agree = " + ".join(
        f"(CASE WHEN a.sig_{i} = b.sig_{i} THEN 1 ELSE 0 END)"
        for i in range(DEMO_NUM_PERM)
    )
    return f"""
WITH {_duck_lsh_index_ctes()},
gsets AS (
  -- GROUP BY doc: duplicate doc rows carry identical gram sets and
  -- must collapse before the pair joins (mirrors the engine)
  SELECT doc, list_distinct(flatten(list(list_distinct({_duck_grams(2)}))))
           AS gs
  FROM toks GROUP BY doc
),
kept AS (
  -- mirror the engine's max_bucket_size skew cap (dedup.py
  -- minhash_lsh_pairs, default 1000): a degenerate/boilerplate
  -- bucket over 1000 docs is dropped WHOLESALE on both sides, so
  -- the pair sets stay identical on exactly the skewed corpora this
  -- audit exists for (ADVICE r7)
  SELECT band, bucket FROM buckets
  GROUP BY band, bucket
  HAVING COUNT(DISTINCT doc) BETWEEN 2 AND 1000
),
cands AS (
  SELECT a.doc AS d1, b.doc AS d2, COUNT(DISTINCT a.band) AS matching_bands
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc < b.doc
  JOIN kept k ON a.band = k.band AND a.bucket = k.bucket
  GROUP BY 1, 2
),
err AS (
  SELECT c.matching_bands,
         ROUND(ABS(
           CAST(({agree}) AS DOUBLE) / {float(DEMO_NUM_PERM)}
           - CASE WHEN len(list_distinct(ga.gs || gb.gs)) > 0 THEN
               CAST(len(list_intersect(ga.gs, gb.gs)) AS DOUBLE)
               / CAST(len(list_distinct(ga.gs || gb.gs)) AS DOUBLE)
             END), 6) AS abs_err
  FROM cands c
  JOIN sigs a ON c.d1 = a.doc
  JOIN sigs b ON c.d2 = b.doc
  JOIN gsets ga ON c.d1 = ga.doc
  JOIN gsets gb ON c.d2 = gb.doc
)
SELECT CAST(matching_bands AS BIGINT) AS matching_bands,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       quantile_disc(abs_err, 0.5) AS median_abs_err,
       MAX(abs_err) AS max_abs_err
FROM err GROUP BY matching_bands
"""


# ---------------------------------------------------------------------------
# 6. source_mix_dedup_shift
# ---------------------------------------------------------------------------


def q_source_mix_dedup_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus share before vs after exact dedup (keeper =
    min doc_id per content fingerprint), with the share shift — the
    mixture drift dedup inflicts on a curation plan (a source whose
    share RISES after dedup was under-duplicated relative to the
    corpus; one that falls was boilerplate-heavy).

    Scale shape: one fingerprint groupBy (the dedup shuffle), keeper
    ids joined back to their source attribution, two bounded share
    divisions per source (exact bigint operands). NULL text drops
    (no content to fingerprint); NULL source is its own group."""
    from .operators.text import doc_fingerprint

    register_tables(spark, sf_dir, ("documents",))
    docs = (
        spark.table("documents")
        .filter(F.col("text").isNotNull())
        .select("doc_id", "source", doc_fingerprint(F.col("text")).alias("fp"))
    )
    docs = cache.track(docs.persist())
    keepers = docs.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    kept = keepers.join(docs.select("doc_id", "source"), "doc_id")
    before = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    after = kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_kept")
    )
    tot = docs.agg(F.count(F.lit(1)).cast("bigint").alias("__tot"))
    tot_kept = kept.agg(F.count(F.lit(1)).cast("bigint").alias("__tot_kept"))
    share_b = F.col("n_docs").cast("double") / F.col("__tot").cast("double")
    share_a = (
        F.coalesce(F.col("n_kept"), F.lit(0)).cast("double")
        / F.col("__tot_kept").cast("double")
    )
    # eqNullSafe: NULL source is its own group and must carry its
    # n_kept through the join (a plain USING join silently drops the
    # NULL-keyed group — ORACLES.md class: null group keys; it still
    # hash-joins)
    after_r = after.withColumnRenamed("source", "__src_a")
    return (
        before.join(
            after_r,
            F.col("source").eqNullSafe(F.col("__src_a")),
            "left",
        )
        .drop("__src_a")
        .join(F.broadcast(tot))
        .join(F.broadcast(tot_kept))
        .select(
            "source",
            "n_docs",
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("bigint").alias(
                "n_kept"
            ),
            F.round(share_b, 6).alias("share_before"),
            F.round(share_a, 6).alias("share_after"),
            F.round(share_a - share_b, 6).alias("share_shift"),
        )
    )


def _oracle_source_mix_dedup_shift() -> str:
    from .operators.specs import DUCK_NORMALIZED

    return f"""
WITH docs AS (
  SELECT doc_id, source, md5({DUCK_NORMALIZED}) AS fp
  FROM documents WHERE text IS NOT NULL
),
keepers AS (SELECT fp, MIN(doc_id) AS doc_id FROM docs GROUP BY fp),
kept AS (SELECT d.doc_id, d.source FROM keepers k JOIN docs d USING (doc_id)),
before_agg AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM docs GROUP BY source
),
after_agg AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept FROM kept GROUP BY source
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM docs),
tot_kept AS (SELECT CAST(COUNT(*) AS BIGINT) AS tk FROM kept)
SELECT b.source,
       b.n_docs,
       CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
       ROUND(CAST(b.n_docs AS DOUBLE) / CAST(t AS DOUBLE), 6)
         AS share_before,
       ROUND(CAST(COALESCE(a.n_kept, 0) AS DOUBLE) / CAST(tk AS DOUBLE), 6)
         AS share_after,
       ROUND(CAST(COALESCE(a.n_kept, 0) AS DOUBLE) / CAST(tk AS DOUBLE)
             - CAST(b.n_docs AS DOUBLE) / CAST(t AS DOUBLE), 6)
         AS share_shift
FROM before_agg b
LEFT JOIN after_agg a ON b.source IS NOT DISTINCT FROM a.source,
     tot, tot_kept
"""


# ---------------------------------------------------------------------------
# 7. token_budget_burndown
# ---------------------------------------------------------------------------


def q_token_budget_burndown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative token supply by quality floor: bucket documents into
    0.1-wide quality bands, then (descending by band) report tokens in
    band and the RUNNING total — "raise the quality bar to x and this
    many tokens survive", the first curve drawn when sizing a training
    mix against a token budget.

    Scale shape: the quality score and token count are one map-only
    projection; the bucket rollup is a hash aggregate; the cumulation
    runs over the <= a-dozen-row bucket frame (a window over bounded
    data, not over documents). Exact bigint token sums. NULL text
    drops (no tokens, no quality)."""
    from .operators.text import quality_expr, tokens

    register_tables(spark, sf_dir, ("documents",))
    docs = spark.table("documents").filter(F.col("text").isNotNull())
    scored = docs.select(
        F.floor(quality_expr(F.col("text")) * 10).cast("int").alias(
            "q_bucket"
        ),
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    per_bucket = scored.groupBy("q_bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("tokens"),
    )
    cum_w = W.orderBy(F.desc("q_bucket")).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return per_bucket.select(
        "q_bucket",
        "n_docs",
        "tokens",
        F.sum("tokens").over(cum_w).cast("bigint").alias("cum_tokens"),
    )


def _oracle_token_budget_burndown() -> str:
    from .operators.text import STOPWORDS

    en = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    # quality formula copied VERBATIM from specs._oracle_quality (the
    # proven twin of text.quality_expr, green under every wave incl.
    # degenerate empty strings) with the same clamp+round
    return f"""
WITH base AS (
  SELECT CAST(len({DUCK_TOKENS}) AS BIGINT) AS n_tok_int,
         CAST(len({DUCK_TOKENS}) AS DOUBLE) AS n_tokens,
         CAST(length(text) AS DOUBLE) AS n_chars,
         CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
           AS digit_chars,
         CAST(length(text) - length(regexp_replace(text, '[^\\w \\t\\n\\x0B\\f\\r]', '', 'g')) AS DOUBLE)
           AS punct_chars,
         CAST(len(list_intersect({DUCK_TOKENS}, [{en}])) AS DOUBLE) AS stop_hits
  FROM documents WHERE text IS NOT NULL
),
scored AS (
  SELECT n_tok_int,
    CAST(floor(ROUND(greatest(least(
      0.4 * least(n_tokens / 20.0, 1.0)
      + 0.4 * least(stop_hits / 4.0, 1.0)
      + 0.2 * (1 - least(digit_chars / n_chars * 5, 1.0))
      - 0.2 * least(punct_chars / n_chars * 5, 1.0), 1.0), 0.0), 6) * 10)
      AS INTEGER) AS q_bucket
  FROM base
),
per_bucket AS (
  SELECT q_bucket,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tok_int) AS BIGINT) AS tokens
  FROM scored GROUP BY q_bucket
)
SELECT q_bucket, n_docs, tokens,
       CAST(SUM(tokens) OVER (ORDER BY q_bucket DESC
                              ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_tokens
FROM per_bucket
"""


# ---------------------------------------------------------------------------
# 8. text_source_distinctive_terms
# ---------------------------------------------------------------------------


def q_text_source_distinctive_terms(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source top-5 most DISTINCTIVE terms: lift = (term share in
    source) / (term share in corpus), over lowercased whitespace
    tokens with tf >= 5 in the source. The contrastive fingerprint of
    each provenance — near-constant terms rank low, provenance-
    specific vocabulary ranks high.

    Determinism: lift ordering uses ONE double division whose operands
    are EXACT integer cross-products (tf_src * corpus_total vs
    tf_corpus * source_total, both widened to DECIMAL(38,0) before the
    cast — identical operands give identical doubles in both engines,
    so the ordering and the emitted lift agree bit-for-bit; id-free
    ties break on the term string). Per-source ranking is a grouped
    window (WindowGroupLimit two-phase), never a global sort. NULL
    text drops; NULL source is its own group (İ pre-replace in the
    oracle's lower(), ORACLES.md #5)."""
    from .operators.text import tokens

    register_tables(spark, sf_dir, ("documents",))
    docs = spark.table("documents").filter(F.col("text").isNotNull())
    toks = docs.select(
        "source",
        F.explode(tokens(F.lower(F.col("text")))).alias("term"),
    ).filter(F.col("term") != "")
    toks = cache.track(toks.persist())
    per_src = toks.groupBy("source", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    src_tot = toks.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("src_total")
    )
    term_tot = toks.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("term_total")
    )
    corpus_tot = toks.agg(
        F.count(F.lit(1)).cast("bigint").alias("corpus_total")
    )
    num = (
        F.col("tf").cast("decimal(38,0)")
        * F.col("corpus_total").cast("decimal(38,0)")
    ).cast("double")
    den = (
        F.col("term_total").cast("decimal(38,0)")
        * F.col("src_total").cast("decimal(38,0)")
    ).cast("double")
    lift = F.round(num / den, 6)
    # eqNullSafe on source: NULL source is its own group and its terms
    # must reach the ranking (plain equi-join drops NULL keys)
    src_tot_r = src_tot.withColumnRenamed("source", "__src_t")
    ranked = (
        per_src.filter(F.col("tf") >= DISTINCT_TERM_MIN_TF)
        .join(src_tot_r, F.col("source").eqNullSafe(F.col("__src_t")))
        .drop("__src_t")
        .join(term_tot, "term")
        .join(F.broadcast(corpus_tot))
        .select("source", "term", "tf", lift.alias("lift"))
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("source").orderBy(
                    F.desc("lift"), F.asc("term")
                )
            ),
        )
        .filter(F.col("rn") <= DISTINCT_TERM_TOP_K)
        .drop("rn")
    )
    return ranked


def _oracle_text_source_distinctive_terms() -> str:
    lower = "lower(replace(text, 'İ', 'i̇'))"
    toks = f"regexp_split_to_array(trim({lower}), '[ \\t\\n\\x0B\\f\\r]+')"
    return f"""
WITH toks AS (
  SELECT source, unnest({toks}) AS term
  FROM documents WHERE text IS NOT NULL
),
filtered AS (SELECT * FROM toks WHERE term != ''),
per_src AS (
  SELECT source, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM filtered GROUP BY source, term
),
src_tot AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS src_total
  FROM filtered GROUP BY source
),
term_tot AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS term_total
  FROM filtered GROUP BY term
),
corpus_tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS corpus_total FROM filtered),
lifted AS (
  SELECT p.source, p.term, p.tf,
         ROUND(
           CAST(CAST(p.tf AS DECIMAL(38,0))
                * CAST(corpus_total AS DECIMAL(38,0)) AS DOUBLE)
           / CAST(CAST(term_total AS DECIMAL(38,0))
                  * CAST(src_total AS DECIMAL(38,0)) AS DOUBLE), 6) AS lift
  FROM per_src p
  JOIN src_tot s ON p.source IS NOT DISTINCT FROM s.source
  JOIN term_tot t USING (term), corpus_tot
  WHERE p.tf >= {DISTINCT_TERM_MIN_TF}
)
SELECT source, term, tf, lift FROM (
  SELECT *, row_number() OVER (PARTITION BY source
                               ORDER BY lift DESC, term ASC) AS rn
  FROM lifted
) WHERE rn <= {DISTINCT_TERM_TOP_K}
"""


# ---------------------------------------------------------------------------
# 9. sketch_hll_error_by_day
# ---------------------------------------------------------------------------


def q_sketch_hll_error_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day portable-HLL estimate vs exact distinct users with the
    relative error — the accuracy audit for the register-rollup
    algebra (sketch_hll_rollup gates the MERGE algebra; this gates the
    per-partition ESTIMATES a dashboard would actually read). Raw
    estimator, no ln() small-range correction (log-free catalog
    discipline, ORACLES.md #11) — the bias at small cardinalities is
    visible BY DESIGN next to the exact count; m=64 gives ~13% typical
    error and production picks its m accordingly.

    Scale shape: one (day, bucket) max-aggregate; the estimate rollup
    runs over |days| x 64 register rows (the sketch table, not the
    data). 2^-M terms are exact binary fractions (M <= 27) so the
    64-term sum is exact and order-independent; one double division
    per day on identical operands. NULL user/ts drop at intake."""
    from .expansion3 import HLL_ALPHA, HLL_M
    from .operators.hashing import h32

    register_tables(spark, sf_dir, ("events",))
    ev = spark.table("events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    base = (
        ev.select(
            F.to_date("ts").alias("day"),
            h32(F.col("user_id").cast("string")).alias("h"),
        )
        .select(
            "day",
            (F.col("h") % HLL_M).alias("bucket"),
            F.floor(F.col("h") / HLL_M).cast("long").alias("r"),
        )
        .select(
            "day",
            "bucket",
            F.when(F.col("r") == 0, F.lit(27))
            .otherwise(F.lit(27) - F.length(F.bin("r")))
            .cast("int")
            .alias("rho"),
        )
    )
    daily = base.groupBy("day", "bucket").agg(F.max("rho").alias("m_day"))
    days = ev.select(F.to_date("ts").alias("day")).distinct()
    slots = spark.range(HLL_M).select(
        F.col("id").cast("long").alias("bucket")
    )
    regs = (
        days.crossJoin(F.broadcast(slots))
        .join(daily, ["day", "bucket"], "left")
        .select(
            "day", F.coalesce(F.col("m_day"), F.lit(0)).alias("mm")
        )
    )
    inv = F.expr("1.0 / cast(shiftleft(1L, mm) as double)")
    est = regs.groupBy("day").agg(
        (F.lit(HLL_ALPHA * HLL_M * HLL_M) / F.sum(inv)).alias("est_users")
    )
    exact = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_users")
    )
    return est.join(exact, "day").select(
        "day",
        F.round(F.col("est_users"), 6).alias("est_users"),
        "exact_users",
        F.round(
            (F.col("est_users") - F.col("exact_users").cast("double"))
            / F.col("exact_users").cast("double"),
            6,
        ).alias("rel_err"),
    )


def _oracle_sketch_hll_error_by_day() -> str:
    from .expansion3 import HLL_ALPHA, HLL_M

    h = duck_h32("CAST(user_id AS VARCHAR)")
    return f"""
WITH ev AS (
  SELECT * FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
base AS (
  SELECT CAST(ts AS DATE) AS day,
         ({h}) % {HLL_M} AS bucket,
         ({h}) // {HLL_M} AS r
  FROM ev
),
rho AS (
  SELECT day, bucket,
         CASE WHEN r = 0 THEN 27 ELSE 27 - length(bin(r)) END AS rho
  FROM base
),
daily AS (SELECT day, bucket, MAX(rho) AS m_day FROM rho GROUP BY 1, 2),
days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM ev),
slots AS (SELECT unnest(range(0, {HLL_M})) AS bucket),
regs AS (
  SELECT days.day, COALESCE(m_day, 0) AS mm
  FROM days CROSS JOIN slots
  LEFT JOIN daily ON daily.day = days.day AND daily.bucket = slots.bucket
),
est AS (
  SELECT day,
         {HLL_ALPHA * HLL_M * HLL_M!r}
           / SUM(1.0 / CAST(1 << mm AS DOUBLE)) AS est_users
  FROM regs GROUP BY day
),
exact AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
  FROM ev GROUP BY 1
)
SELECT est.day,
       ROUND(est_users, 6) AS est_users,
       exact_users,
       ROUND((est_users - CAST(exact_users AS DOUBLE))
             / CAST(exact_users AS DOUBLE), 6) AS rel_err
FROM est JOIN exact ON est.day = exact.day
"""


# ---------------------------------------------------------------------------
# 10. embedding_recall_curve
# ---------------------------------------------------------------------------


def q_embedding_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k (k = 1, 5) of the hyperplane-LSH ANN against the exact
    cosine top-5, as a standing catalog query: the soaks showed the
    CANDIDATE workload scales with the corpus; this keeps the QUALITY
    side pinned so a bucket-parameter change that silently craters
    recall fails the gate, not the training run.

    Scale shape: the exact side is the broadcast-queries brute-force
    scan (the ANN baseline by definition); the LSH side scores only
    bucket collisions; the recall join touches |q| x 5 rows. The
    k-keyed output is a literal frame LEFT-JOINed onto the aggregates
    so both k rows survive an empty corpus (ORACLES.md #13)."""
    from .operators.frames import literal_frame
    from .operators.similarity import cosine_topk, lsh_bucketed_topk

    register_tables(spark, sf_dir, ("embeddings",))
    emb = spark.table("embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    exact = cache.track(
        cosine_topk(emb, queries, k=5)
        .select("query_id", "neighbor_id", F.col("rank").alias("er"))
        .persist()
    )
    lsh = lsh_bucketed_topk(emb, queries, k=5).select(
        "query_id", "neighbor_id", F.col("rank").alias("lr")
    )
    both = exact.join(lsh, ["query_id", "neighbor_id"])
    ks = literal_frame(spark, [(1,), (5,)], [("k", "int")])
    hits = (
        ks.join(both, F.col("er") <= F.col("k"), "left")
        .groupBy("k")
        .agg(
            F.sum(
                F.when(F.col("lr") <= F.col("k"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("__hits")
        )
    )
    slots = (
        ks.join(exact, F.col("er") <= F.col("k"), "left")
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("er").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("__slots")
        )
    )
    return (
        ks.join(hits, "k", "left")
        .join(slots, "k", "left")
        .select(
            "k",
            F.coalesce(F.col("__slots"), F.lit(0)).cast("bigint").alias(
                "n_exact_slots"
            ),
            F.coalesce(F.col("__hits"), F.lit(0)).cast("bigint").alias(
                "n_lsh_hits"
            ),
            F.when(
                F.coalesce(F.col("__slots"), F.lit(0)) > 0,
                F.round(
                    F.coalesce(F.col("__hits"), F.lit(0)).cast("double")
                    / F.col("__slots").cast("double"),
                    6,
                ),
            ).alias("recall"),
        )
    )


def _oracle_embedding_recall_curve() -> str:
    from .operators.specs import _duck_sig_terms

    sig_terms = _duck_sig_terms()
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec FROM embeddings
  WHERE vec_id < {N_QUERY_VECS} AND embedding IS NOT NULL
),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cvec
      FROM embeddings WHERE embedding IS NOT NULL),
exact_scored AS (
  SELECT query_id, neighbor_id,
    ROUND(list_dot_product(qvec, cvec)
          / (sqrt(list_dot_product(qvec, qvec))
             * sqrt(list_dot_product(cvec, cvec))), 6) AS cosine
  FROM c CROSS JOIN q WHERE neighbor_id != query_id
),
exact5 AS (
  SELECT query_id, neighbor_id,
         CAST(row_number() OVER w AS INT) AS er
  FROM exact_scored
  WINDOW w AS (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC)
  QUALIFY row_number() OVER w <= 5
),
vecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  WHERE embedding IS NOT NULL
),
sigs2 AS (SELECT vec_id, v, CAST({sig_terms} AS BIGINT) AS bucket FROM vecs),
lq AS (SELECT vec_id AS query_id, v AS qvec, bucket FROM sigs2
       WHERE vec_id < {N_QUERY_VECS}),
lc AS (SELECT vec_id AS neighbor_id, v AS cvec, bucket FROM sigs2),
lsh_scored AS (
  SELECT query_id, neighbor_id,
    ROUND(list_dot_product(qvec, cvec)
          / (sqrt(list_dot_product(qvec, qvec))
             * sqrt(list_dot_product(cvec, cvec))), 6) AS cosine
  FROM lc JOIN lq USING (bucket) WHERE neighbor_id != query_id
),
lsh5 AS (
  SELECT query_id, neighbor_id,
         CAST(row_number() OVER w AS INT) AS lr
  FROM lsh_scored
  WINDOW w AS (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC)
  QUALIFY row_number() OVER w <= 5
),
hitjoin AS (
  SELECT e.query_id, e.neighbor_id, e.er, l.lr
  FROM exact5 e JOIN lsh5 l USING (query_id, neighbor_id)
),
ks AS (SELECT 1 AS k UNION ALL SELECT 5),
hits AS (
  SELECT k, CAST(SUM(CASE WHEN lr <= k THEN 1 ELSE 0 END) AS BIGINT) AS h
  FROM ks LEFT JOIN hitjoin ON er <= k GROUP BY k
),
slots AS (
  SELECT k, CAST(SUM(CASE WHEN er IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS s
  FROM ks LEFT JOIN exact5 ON er <= k GROUP BY k
)
SELECT ks.k,
       CAST(COALESCE(s, 0) AS BIGINT) AS n_exact_slots,
       CAST(COALESCE(h, 0) AS BIGINT) AS n_lsh_hits,
       CASE WHEN COALESCE(s, 0) > 0
            THEN ROUND(CAST(COALESCE(h, 0) AS DOUBLE) / CAST(s AS DOUBLE), 6)
       END AS recall
FROM ks LEFT JOIN hits USING (k) LEFT JOIN slots USING (k)
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------


def expansion4_specs() -> list:
    from .queries import QuerySpec

    return [
        QuerySpec(
            "dedup_cdc_merge",
            "LSH index upsert via the A8 MERGE path; post-merge == fresh index",
            q_dedup_cdc_merge,
            _oracle_dedup_cdc_merge(),
        ),
        QuerySpec(
            "curation_pack_fill_rate",
            "Docs-per-sequence histogram + boundary-crossing audit for packing",
            q_pack_fill_rate,
            ORACLE_PACK_FILL_RATE,
        ),
        QuerySpec(
            "watermark_late_arrivals",
            "Per-day late-event accounting in arrival order (two-phase prefix max)",
            q_watermark_late_arrivals,
            ORACLE_WATERMARK_LATE_ARRIVALS,
        ),
        QuerySpec(
            "lsh_band_bucket_skew",
            "Per-band bucket-size profile with pair-slot workload",
            q_lsh_band_bucket_skew,
            _oracle_lsh_band_bucket_skew(),
        ),
        QuerySpec(
            "minhash_jaccard_error",
            "MinHash estimate vs exact Jaccard error rollup per matching bands",
            q_minhash_jaccard_error,
            _oracle_minhash_jaccard_error(),
        ),
        QuerySpec(
            "source_mix_dedup_shift",
            "Per-source corpus share before vs after exact dedup",
            q_source_mix_dedup_shift,
            _oracle_source_mix_dedup_shift(),
        ),
        QuerySpec(
            "token_budget_burndown",
            "Cumulative token supply by descending quality bucket",
            q_token_budget_burndown,
            _oracle_token_budget_burndown(),
        ),
        QuerySpec(
            "text_source_distinctive_terms",
            "Per-source top-5 terms by exact-cross-product lift",
            q_text_source_distinctive_terms,
            _oracle_text_source_distinctive_terms(),
        ),
        QuerySpec(
            "sketch_hll_error_by_day",
            "Per-day portable-HLL estimate vs exact distinct users",
            q_sketch_hll_error_by_day,
            _oracle_sketch_hll_error_by_day(),
        ),
        QuerySpec(
            "embedding_recall_curve",
            "LSH ANN recall@k vs exact cosine top-5 (k=1,5)",
            q_embedding_recall_curve,
            _oracle_embedding_recall_curve(),
        ),
    ]
