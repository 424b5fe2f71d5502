"""Corpus-curation operators for training-data pipelines.

Three operations every large-corpus pipeline runs before training,
none present in the reference (its surface is delegated SQL —
`SURVEY.md §2.B`), all built from shuffle-conscious DataFrame plans:

* :func:`contamination_report` — benchmark decontamination: find
  eval-split documents sharing word n-grams with any train-split
  document (the standard "13-gram overlap" check, parameterized n).
  The join key is a 60-bit md5-derived gram hash, not the gram string:
  at 100 TB the gram shuffle is the bottleneck and hashing cuts its
  width several-fold, while staying portable to the DuckDB oracle
  (both engines hash identically, so even a collision yields the same
  answer in both).
* :func:`cap_per_group` — per-group document caps (e.g. at most K
  docs per domain). Two-phase top-k: a first row_number pass
  partitioned by (group, input-partition) keeps at most K rows per
  input split, so no single reducer ever sorts a heavy-hitter group's
  full membership; the global pass then ranks the ≤ K·P survivors.
  Skew-safe by construction — a group with a billion rows costs each
  reducer at most K rows in phase two.
* :func:`stratified_sample` — deterministic per-stratum sampling with
  exact basis-point rates (e.g. keep 25% of 'en', 100% of the rest).
  Pure map-side projection: bucket = md5('strat:' || id) mod 10000,
  keep when bucket < rate·10000. Reproducible across runs, engines,
  and repartitioning; zero shuffle at any scale.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from .. import cache
from .hashing import h32
from .skew import fan_out
from .split import split_expr
from .text import tokens


def _salted_bucket(salt: str, id_col: str) -> Column:
    """md5 bucket in [0, 10000) over a salted id — the keep/drop
    decision shared by the three samplers (distinct salts make their
    decisions independent). Single-sourced so the expression can never
    drift between call sites or from the DuckDB oracles."""
    return (
        h32(F.concat(F.lit(salt), F.col(id_col).cast("string"))) % 10000
    )


def _rate_expr(strata_col: str, rates_bp: dict, default_rate_bp: int = 0) -> Column:
    """Per-row keep-rate lookup: a when-chain over the (bounded)
    stratum->rate map. NULL strata never match an equality arm and
    fall through to the default."""
    rate: Column = F.lit(default_rate_bp)
    for value, bp in rates_bp.items():
        rate = F.when(F.col(strata_col) == value, bp).otherwise(rate)
    return rate

__all__ = [
    "gram_hash60",
    "temperature_rates_bp",
    "contamination_report",
    "cap_per_group",
    "stratified_sample",
    "temperature_sample",
    "token_budget_rates_bp",
    "token_budget_sample",
    "pack_sequences",
    "dsir_weights",
]


def gram_hash60(col: Column) -> Column:
    """60-bit integer hash (15 md5 hex digits) — narrow enough for a
    signed BIGINT in both Spark and DuckDB, wide enough that corpus-
    scale gram sets (~2^40) stay effectively collision-free."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _distinct_ngrams(toks: Column, n: int) -> Column:
    # duplicate of dedup._word_ngrams shape (kept local: curation and
    # dedup evolve independently); toks must be a materialized column,
    # see that docstring for the 5x re-tokenize hazard
    if n == 1:
        return F.array_distinct(toks)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )


def contamination_report(
    df: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    weights: dict[str, int] | None = None,
    train_split: str = "train",
    hasher: str = "portable",
) -> DataFrame:
    """Per eval-split document: how many of its distinct word
    ``n``-grams also occur in any train-split document.

    Returns ``(doc_id, split, n_grams, n_contaminated, contamination)``
    for every non-train document with at least ``n`` tokens. The split
    assignment is the deterministic hash-mod split (operators/split.py)
    so the report is stable under appends and re-partitioning.

    Plan shape: one gram-hash shuffle for the eval⋈train semi-join
    (train side pre-aggregated to distinct hashes — the build side
    shrinks to the train vocabulary), then one doc-key shuffle for the
    per-doc rollup. ``hasher`` follows operators/hashing.py: the md5
    path is oracle-portable; production runs can swap the gram hash
    for xxhash64 the same way.
    """
    split = split_expr(F.col(id_col), weights, hasher).alias("split")
    toked = fan_out(df.select(F.col(id_col).alias("doc"), split, F.col(text_col))).select(
        "doc", "split", tokens(F.col(text_col)).alias("toks")
    )
    base = toked.filter(F.size("toks") >= n)
    grams = base.select(
        "doc", "split", _distinct_ngrams(F.col("toks"), n).alias("grams")
    ).select(
        "doc",
        "split",
        F.explode_outer("grams").alias("gram"),  # see dedup.py on explode_outer
    ).filter(F.col("gram").isNotNull()).select(
        "doc", "split", gram_hash60(F.col("gram")).alias("h")
    )
    # persist: the train and eval branches below are independent
    # subtrees — without this the scan/tokenize/ngram/md5 pipeline (the
    # dominant cost) executes twice in the one action. The cached frame
    # is 3 narrow columns; registered with cache.track so the catalog
    # harnesses unpersist it after materialization (the ``_grams_cache``
    # attribute below is only a direct-caller convenience).
    grams = cache.track(grams.persist())
    train_set = grams.filter(F.col("split") == train_split).select("h").distinct()
    eval_grams = grams.filter(F.col("split") != train_split)
    hit = F.when(F.col("__hit").isNotNull(), 1).otherwise(0)
    result = (
        eval_grams.join(
            train_set.withColumn("__hit", F.lit(1)), "h", "left"
        )
        .groupBy(F.col("doc").alias(id_col), "split")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(hit).cast("bigint").alias("n_contaminated"),
        )
        .select(
            id_col,
            "split",
            "n_grams",
            "n_contaminated",
            F.round(F.col("n_contaminated") / F.col("n_grams"), 6).alias(
                "contamination"
            ),
        )
    )
    # unpersist handle (attribute is lost on further transformations —
    # grab it before chaining, or use spark.catalog.clearCache())
    result._grams_cache = grams
    return result


def cap_per_group(
    df: DataFrame,
    group_col: str,
    order_cols: list[str],
    k: int,
    descending: bool = True,
    rank_col: str = "rank",
    two_phase: bool = True,
) -> DataFrame:
    """Keep at most ``k`` rows per ``group_col`` value, ranked by
    ``order_cols`` (first column descending by default, remaining
    ascending as deterministic tie-breaks).

    ``two_phase=True`` (default) first ranks within (group, input
    partition) and keeps each partition's local top-k, so the global
    ranking pass receives at most k·num_partitions rows per group —
    a heavy-hitter group (one domain with 10^9 docs at 100 TB) never
    lands on a single reducer in full. The extra pass shuffles the
    same bytes once but bounds per-reducer state; disable for small
    well-distributed inputs.
    """
    first = F.col(order_cols[0])
    order = [first.desc() if descending else first.asc()] + [
        F.col(c).asc() for c in order_cols[1:]
    ]
    if two_phase:
        local = W.partitionBy(group_col, F.spark_partition_id()).orderBy(*order)
        df = (
            fan_out(df)
            .withColumn("__lr", F.row_number().over(local))
            .filter(F.col("__lr") <= k)
            .drop("__lr")
        )
    final = W.partitionBy(group_col).orderBy(*order)
    return (
        df.withColumn(rank_col, F.row_number().over(final))
        .filter(F.col(rank_col) <= k)
    )


def pack_sequences(
    df: DataFrame,
    seq_len: int,
    id_col: str = "doc_id",
    count_col: str = "n_tokens",
    num_ranges: int | None = None,
) -> DataFrame:
    """Assign each document its position in a stream of fixed-length
    training sequences: documents are laid end-to-end in ``id_col``
    order and cut every ``seq_len`` tokens (greedy contiguous packing
    — the standard "document packing" pre-step for LLM training).

    Returns ``(id, n_tokens, seq_id, seq_offset)`` where ``seq_id`` is
    the sequence containing the document's first token and
    ``seq_offset`` its offset within it.

    The global running total is a **two-phase parallel prefix sum**,
    not a single-partition window: a naive
    ``Window.orderBy(id)`` with no partition key funnels the whole
    corpus through one task — the classic scale cliff. Instead:

    1. range-partition by ``id_col`` (Spark's range partitioner
       samples boundaries, so ranges are balanced);
    2. cumulative-sum *within* each range partition — parallel;
    3. aggregate one subtotal per partition (tiny), prefix-sum those
       with an IN-PLAN window over the |partitions|-row subtotal
       frame, and broadcast-join the offsets back. (An earlier
       version collected the subtotals driver-side — one extra Spark
       action per call, a pure job-floor cost at any scale.)

    Two shuffles + a broadcast of num_partitions rows, any scale.

    The range-partitioned cumsum frame stays cached for the session
    (both the subtotal collect and the returned plan read it, and the
    range partitioner's sampled boundaries aren't guaranteed stable
    across recomputes). Call ``spark.catalog.clearCache()`` — or
    ``.unpersist()`` on the frame exposed as ``result._packed_input``
    — once the result is materialized. The attribute does not survive
    further DataFrame transformations; grab it before chaining.
    """
    if seq_len < 1:
        # div/mod by 0 under non-ANSI Spark SQL is NULL, so packing
        # coordinates would silently come back NULL after the prefix
        # sum already ran — fail before building the plan
        raise ValueError(f"seq_len must be >= 1, got {seq_len}")
    n_ranges = num_ranges or df.sparkSession.sparkContext.defaultParallelism
    ranged = df.select(
        F.col(id_col), F.col(count_col).cast("bigint").alias(count_col)
    ).repartitionByRange(n_ranges, F.col(id_col))
    ranged = ranged.withColumn("__pid", F.spark_partition_id())
    local = W.partitionBy("__pid").orderBy(F.col(id_col)).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    # persist: the subtotal/offset subtree and the returned plan both
    # consume this frame — without it the range partitioning (whose
    # sampled boundaries are not guaranteed stable across recomputes)
    # would run twice and could disagree between the two uses.
    # cache.track releases it only AFTER the result materializes (see
    # cache.py) — releasing earlier would re-run the range partitioning
    # against already-joined offsets.
    with_local = cache.track(
        ranged.withColumn("__cum", F.sum(count_col).over(local)).persist()
    )
    # one row per range partition: (pid, total) — in-plan prefix sum
    # over a frame the size of the partition count, not the data
    totals = with_local.groupBy("__pid").agg(F.max("__cum").alias("__t"))
    prior = W.orderBy("__pid").rowsBetween(W.unboundedPreceding, -1)
    offset_df = totals.select(
        F.col("__pid").alias("__pid_o"),
        F.coalesce(F.sum("__t").over(prior), F.lit(0)).cast("bigint").alias("__off"),
    )
    start = F.col("__cum") + F.col("__off") - F.col(count_col)
    result = (
        with_local.join(
            F.broadcast(offset_df), F.col("__pid") == F.col("__pid_o")
        )
        .withColumn("__start", start.cast("bigint"))
        .select(
            F.col(id_col),
            F.col(count_col),
            # integer `div`, not double /: float division drifts at the
            # floor boundary once cumulative starts near 2^53 (same rule
            # as text.unigram_frequency_scores' ppm)
            F.expr(f"__start div {int(seq_len)}").alias("seq_id"),
            (F.col("__start") % seq_len).cast("bigint").alias("seq_offset"),
        )
    )
    result._packed_input = with_local  # unpersist handle (see docstring)
    return result


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates_bp: dict[str, int],
    default_rate_bp: int = 0,
    id_col: str = "doc_id",
    kept_col: str = "sample_bucket",
) -> DataFrame:
    """Deterministic per-stratum downsampling: a row is kept when
    ``md5('strat:' || id) mod 10000 < rate_bp`` for its stratum's rate
    in basis points (2500 = keep 25%). Integer arithmetic end-to-end —
    no float-rate boundary drift between engines — and salted with a
    'strat:' prefix so the sampling decision is independent of the
    train/val/test split hash over the same ids.

    Map-only (no shuffle at any scale); rebalancing a 100 TB corpus's
    language mix is a single scan.
    """
    bucket = _salted_bucket("strat:", id_col)
    rate = _rate_expr(strata_col, rates_bp, default_rate_bp)
    return df.withColumn(kept_col, bucket).filter(F.col(kept_col) < rate)


def temperature_rates_bp(
    counts: dict, alpha: float, floor_bp: int = 1
) -> dict:
    """Per-stratum keep-rates in basis points for temperature
    sampling: ``floor(10000 * (min_count/count)^(1-alpha))``, floored
    at ``floor_bp``. alpha=0.5 routes through ``math.sqrt`` (correctly
    rounded by IEEE-754, so ANY engine computes the identical rate);
    other alphas use ``pow``, which may differ in the last ulp across
    libm implementations — at worst a 1-bp rate step at the floor
    boundary."""
    min_c = min(counts.values())
    out = {}
    for v, c in counts.items():
        x = min_c / c
        scaled = math.sqrt(x) if alpha == 0.5 else math.pow(x, 1.0 - alpha)
        out[v] = max(int(floor_bp), int(math.floor(10000.0 * scaled)))
    return out


def temperature_sample(
    df: DataFrame,
    strata_col: str = "source",
    alpha: float = 0.5,
    id_col: str = "doc_id",
    floor_bp: int = 1,
    kept_col: str = "sample_bucket",
) -> DataFrame:
    """Temperature-flattened source mix: downsample each stratum with
    keep-rate ``(min_count / count_s)^(1-alpha)`` so the sampled corpus
    shifts from the natural source distribution (alpha=1, keep all)
    toward uniform (alpha=0) — the standard mixing knob when one crawl
    dominates a multilingual/multi-source training set.

    Rates come from one COUNT aggregate whose result is bounded by the
    number of strata (a driver collect of #sources rows, not data);
    the filter itself is the same map-only md5-bucket arithmetic as
    :func:`stratified_sample`, salted ``'temp:'`` so it is independent
    of both the split hash and the stratified-sample hash. alpha=0.5
    keeps rate math inside correctly-rounded IEEE ``sqrt`` so the
    identical rates fall out of any engine; other alphas use ``pow``
    (deterministic on one platform, may drift at the floor boundary
    across libm implementations — the rates are integers in basis
    points, so drift is a 1e-4 keep-rate step at worst).
    """
    # NULL strata are EXCLUDED: a null group in the counts would
    # corrupt min_count (shrinking every real stratum's rate), and a
    # null can never match the rate join anyway — so null-strata rows
    # drop at the join, consistently.
    #
    # Rates are computed IN-PLAN (a tiny per-stratum aggregate +
    # broadcast join) rather than driver-collected into a when-chain:
    # the collect was a whole extra Spark action per call — a full
    # count pass barrier at any scale (r13, VERDICT r12 ask 1). The
    # arithmetic is the same as temperature_rates_bp term for term —
    # int/int true division == double division, java/libm sqrt and
    # pow are the same correctly-rounded (sqrt) / last-ulp (pow)
    # story as the Python originals, and the DuckDB oracle already
    # computes these rates in SQL.
    counts = (
        df.filter(F.col(strata_col).isNotNull())
        .groupBy(strata_col)
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    mc = F.min("__c").over(W.partitionBy())
    x = mc.cast("double") / F.col("__c").cast("double")
    scaled = F.sqrt(x) if alpha == 0.5 else F.pow(x, float(1.0 - alpha))
    rates = counts.select(
        F.col(strata_col).alias("__strat"),
        F.greatest(
            F.lit(int(floor_bp)).cast("bigint"),
            F.floor(F.lit(10000.0) * scaled).cast("bigint"),
        ).alias("__rate_bp"),
    )
    bucket = _salted_bucket("temp:", id_col)
    out_cols = [F.col(f"`{c}`") for c in df.columns]
    return (
        df.join(F.broadcast(rates), F.col(strata_col) == F.col("__strat"))
        .withColumn(kept_col, bucket)
        .filter(F.col(kept_col) < F.col("__rate_bp"))
        .select(*out_cols, F.col(kept_col))
    )


def token_budget_rates_bp(
    token_counts: dict, weights: dict, total_budget: int
) -> dict:
    """Per-stratum keep-rates (basis points) to hit a TOKEN budget with
    target mix ``weights``: stratum s receives budget
    ``total_budget * w_s / sum(w)`` tokens and keeps
    ``min(10000, (10000 * budget_s) // tokens_s)`` — ALL integer
    arithmetic, so any engine computes identical rates (no float
    drift at the floor boundary). A stratum with fewer tokens than its
    budget keeps everything; the shortfall is reported by
    :func:`token_budget_sample`'s summary columns rather than silently
    re-allocated (re-allocation policy is a caller decision)."""
    for s, w in weights.items():
        if not isinstance(w, int) or isinstance(w, bool) or w <= 0:
            # int(0.6) would silently become 0 and zero the stratum;
            # a negative weight would corrupt sum_w (zeroing or
            # sign-flipping every OTHER stratum's rate); integer
            # ratios are also what keeps the rate arithmetic
            # engine-exact (express 0.6/0.4 as 3/2)
            raise ValueError(
                f"mix weight for {s!r} must be a positive integer ratio, "
                f"got {w!r} — express fractional mixes as integer ratios"
            )
    sum_w = sum(weights.values())
    out = {}
    for s, tok in token_counts.items():
        w = weights.get(s, 0)
        if tok <= 0 or w <= 0:
            out[s] = 0
            continue
        out[s] = min(10000, (10000 * int(total_budget) * w) // (sum_w * int(tok)))
    return out


def token_budget_sample(
    df: DataFrame,
    strata_col: str,
    weights: dict,
    total_budget: int,
    count_col: str = "n_tokens",
    id_col: str = "doc_id",
    kept_col: str = "sample_bucket",
) -> DataFrame:
    """Deterministic sampling toward a TOKEN budget with a target mix:
    the training-mixture builder ("2 parts web, 1 part code, 1 part
    books, 10B tokens total"). Rates weight documents by their token
    counts (one bounded per-stratum SUM, driver-collected), then the
    keep decision is the md5-bucket map-only filter, salted
    ``'budget:'`` so it is independent of the split/strat/temp hashes.
    Expected kept tokens per stratum ≈ its budget; exactness is
    statistical (documents are atomic — a pipeline needing exact token
    counts packs/truncates downstream)."""
    # validate weights exactly like token_budget_rates_bp (the rates
    # themselves are computed IN-PLAN below — the per-stratum SUM used
    # to be driver-collected, one extra action/barrier per call; the
    # integer arithmetic is identical and the DuckDB oracle already
    # expresses it in SQL)
    for s, w in weights.items():
        if not isinstance(w, int) or isinstance(w, bool) or w <= 0:
            raise ValueError(
                f"mix weight for {s!r} must be a positive integer ratio, "
                f"got {w!r} — express fractional mixes as integer ratios"
            )
    # rate = LEAST(10000, (10000 * budget * w) div (sum_w * tok)). The
    # weight folds into a per-stratum Python-int numerator
    # n = (10000 * budget * w) // sum_w (floor(floor(a/b)/c) ==
    # floor(a/(b*c))), so only ``n div tok`` runs in the plan and no
    # bigint product can wrap. tok <= n // 10000 means the rate caps
    # at 10000; otherwise n < 10000 * 2^63 fits DECIMAL(38,0) and the
    # quotient stays below 10000.
    sum_w = sum(weights.values())
    tok = F.col("__tok")
    rate: Column = F.lit(0)
    for s, w in weights.items():
        n = 10000 * int(total_budget) * w // sum_w
        if n // 10000 >= 2**63 - 1:
            stratum_rate = F.lit(10000)
        else:
            stratum_rate = F.when(tok <= n // 10000, 10000).otherwise(
                F.expr(f"CAST({n} AS DECIMAL(38,0)) div __tok")
            )
        rate = F.when(F.col(strata_col) == s, stratum_rate).otherwise(rate)
    rates = (
        df.groupBy(strata_col)
        .agg(F.sum(count_col).cast("bigint").alias("__tok"))
        .select(
            F.col(strata_col).alias("__strat"),
            F.when(tok.isNull() | (tok <= 0), 0)
            .otherwise(rate)
            .cast("bigint")
            .alias("__rate_bp"),
        )
    )
    bucket = _salted_bucket("budget:", id_col)
    out_cols = [F.col(f"`{c}`") for c in df.columns]
    return (
        df.join(F.broadcast(rates), F.col(strata_col) == F.col("__strat"))
        .withColumn(kept_col, bucket)
        .filter(F.col(kept_col) < F.col("__rate_bp"))
        .select(*out_cols, F.col(kept_col))
    )


def dsir_weights(
    df: DataFrame,
    target_pred: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
) -> DataFrame:
    """DSIR-style importance scores against a target distribution
    (Data Selection via Importance Resampling, Xie et al. 2023):
    hashed-token bucket frequencies define a target LM and a raw LM;
    each document scores by how much its tokens look like the target.

    Log-free by the house rule (BM25's rational idf,
    bigram_lm_scores): instead of the paper's sum of log-probability
    ratios, the score is the MEAN over the document's token
    occurrences of ``target_ppm(bucket) - raw_ppm(bucket)`` — integer
    ppm frequencies, summed exactly, so the score is an exact integer
    ratio any engine reproduces. Positive = more target-like; rank or
    threshold on it for resampling exactly as with log-ratio weights
    (both are monotone "target-likeness" functionals of the same
    bucket frequencies).

    Plan: one tokenize pass to (doc, bucket) occurrences — persisted,
    it feeds the two frequency aggregates AND the scoring join; the
    frequency tables are ``n_buckets`` rows (broadcast); scoring is a
    map-side join + one per-doc aggregate. ``target_pred`` is any
    boolean column over ``df``'s rows (e.g. ``F.col('lang') == 'en'``).
    """
    from .hashing import h32

    occ = cache.track(
        fan_out(df)
        .select(
            F.col(id_col).alias("doc"),
            target_pred.alias("__is_target"),
            F.explode(tokens(F.lower(F.col(text_col)))).alias("tok"),
        )
        # empty/whitespace-only docs tokenize to [''] — drop the empty
        # token (same rule as every other token-LM operator, text.py)
        # so those docs neither pollute the bucket LMs nor score
        .filter(F.col("tok") != "")
        .select(
            "doc",
            "__is_target",
            (h32(F.col("tok")) % n_buckets).alias("bucket"),
        )
        .persist()
    )
    raw = occ.groupBy("bucket").agg(F.count(F.lit(1)).alias("rc"))
    tgt = (
        occ.filter(F.col("__is_target"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("tc"))
    )
    # the frequency frames are <= n_buckets rows: the totals window and
    # the scoring joins are all tiny/broadcast
    raw_ppm = raw.select(
        "bucket",
        F.expr("1000000 * rc div sum(rc) over ()").alias("r_ppm"),
    )
    tgt_ppm = tgt.select(
        "bucket",
        F.expr("1000000 * tc div sum(tc) over ()").alias("t_ppm"),
    )
    freqs = F.broadcast(
        raw_ppm.join(tgt_ppm, "bucket", "left").select(
            "bucket",
            "r_ppm",
            F.coalesce(F.col("t_ppm"), F.lit(0)).alias("t_ppm"),
        )
    )
    return (
        occ.join(freqs, "bucket")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (
                F.sum(F.col("t_ppm") - F.col("r_ppm")).cast("double")
                / F.count(F.lit(1))
            ).alias("dsir_score"),
        )
    )
