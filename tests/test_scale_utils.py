"""Scale utilities: salted joins, and the plan shapes (shuffles,
broadcasts, window reuse) the operators and catalog specs promise."""

import re

from pyspark.sql import functions as F

from transformers_spark.operators.skew import salted_join

# case-insensitive + round-robin: plans print 'Exchange
# SinglePartition' and repartition(n) prints 'Exchange
# RoundRobinPartitioning' — a case-sensitive (hash|range|single|
# rebalance) match counted neither, so shuffle-free checks could
# pass while shuffles exist
_SHUFFLE_RE = re.compile(
    r"\bExchange (hash|range|single|rebalance|roundrobin)", re.IGNORECASE
)


def exchange_count(df) -> int:
    """Number of SHUFFLE Exchange operators in the physical plan
    (BroadcastExchange doesn't move the big side and doesn't count)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(_SHUFFLE_RE.findall(plan))


def test_exchange_count_sees_roundrobin_and_single(spark):
    """repartition(n) (RoundRobinPartitioning) and global sorts/limits
    (SinglePartition) are real shuffles and must be counted (a
    case-sensitive regex once missed both)."""
    df = spark.range(100)
    assert exchange_count(df.repartition(7)) >= 1


def test_salted_join_equals_plain_join(spark):
    big = spark.range(0, 10000).select(
        (F.col("id") % 3).alias("k"), F.col("id").alias("v")
    )  # heavy skew: 3 keys
    small = spark.createDataFrame(
        [(0, "a"), (1, "b"), (2, "c"), (3, "unmatched")], ["k", "name"]
    )
    plain = big.join(small, "k").groupBy("k", "name").count().collect()
    salted = salted_join(big, small, "k", salt=8).groupBy("k", "name").count().collect()
    assert sorted(map(tuple, salted)) == sorted(map(tuple, plain))


def test_salted_left_join_keeps_unmatched(spark):
    big = spark.createDataFrame([(1, "x"), (99, "y")], ["k", "v"])
    small = spark.createDataFrame([(1, "one")], ["k", "name"])
    out = salted_join(big, small, "k", how="left", salt=4).collect()
    names = {r["k"]: r["name"] for r in out}
    assert names == {1: "one", 99: None}


def test_asof_join_single_key_shuffle(spark):
    """The as-of join must plan as union + one window pass: exactly one
    Exchange per input lineage hash-partitioned on the join key — never
    a range/theta join that expands |L|x|R|."""
    from datetime import datetime

    from transformers_spark.operators.temporal import asof_join

    t = datetime.fromisoformat
    left = spark.createDataFrame(
        [(1, 10, t("2024-01-01 10:00:00"))], ["id", "key", "ts"]
    )
    right = spark.createDataFrame(
        [(10, 5, t("2024-01-01 09:00:00"))], ["key", "quote", "qts"]
    )
    plan = (
        asof_join(left, right, on="key", left_time="ts", right_time="qts")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "hashpartitioning(key" in plan
    assert plan.count("Exchange") <= 2  # one per union branch at most
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_range_count_join_is_equi_join(spark):
    """The bucketed range join must plan as a hash equi-join on
    (key, bucket) with the range predicate as a post-filter — not a
    nested-loop theta join."""
    from datetime import datetime

    from transformers_spark.operators.temporal import range_count_join

    t = datetime.fromisoformat
    left = spark.createDataFrame(
        [(1, 7, t("2024-01-01 00:00:00"))], ["id", "key", "ts"]
    )
    right = spark.createDataFrame([(7, t("2024-01-01 05:00:00"))], ["key", "rts"])
    plan = (
        range_count_join(
            left, right, on="key", left_time="ts", right_time="rts",
            window_us=24 * 3600 * 1_000_000,
        )
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "__bucket" in plan  # equi-join keys include the time bucket


def test_grouping_sets_is_one_scan_expand(spark):
    """GROUPING SETS must plan as a single scan + Expand + aggregate —
    not one scan per grouping set."""
    df = spark.createDataFrame([("x", "p", 1.0)], ["a", "b", "q"])
    from pyspark.sql import functions as F

    plan = (
        df.groupingSets([["a"], ["b"]], "a", "b")
        .agg(F.count(F.lit(1)).alias("n"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Expand") == 1
    assert plan.count("Scan") <= 1


def test_pack_sequences_no_single_partition_window(spark):
    """The packing prefix sum must run per range-partition — a
    SinglePartition exchange carrying the DATA into the cumulative
    Window is the scale cliff the two-phase design exists to avoid.
    Since r13 the per-partition subtotals ARE prefix-summed under one
    SinglePartition window, but that frame is an AGGREGATE of
    partition-count size: pin that every SinglePartition exchange in
    the plan feeds directly from an aggregate, never from the data."""
    from transformers_spark.operators.curation import pack_sequences

    df = spark.createDataFrame(
        [(i, i % 5 + 1) for i in range(100)], ["doc_id", "n_tokens"]
    )
    out = pack_sequences(df, seq_len=16, num_ranges=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan
    lines = plan.splitlines()
    sp_children = [
        lines[i + 1]
        for i, ln in enumerate(lines)
        if "Exchange SinglePartition" in ln and i + 1 < len(lines)
    ]
    assert all("HashAggregate" in child for child in sp_children), sp_children


def test_bpe_topk_is_take_ordered(spark):
    """The corpus-wide top-k must compile to TakeOrderedAndProject
    (distributed partial top-k), never a global sort of all distinct
    pairs."""
    from transformers_spark.operators.text import bpe_merge_candidates

    df = spark.createDataFrame([(1, "a b c a b")], ["doc_id", "text"])
    plan = (
        bpe_merge_candidates(df, top_k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan


def test_cap_per_group_two_phase_bounds_reducer_rows(spark):
    """Two-phase cap: the first window pass partitions by
    (group, input-partition id) so the plan must hash-partition on the
    composite key before the per-group pass."""
    from transformers_spark.operators.curation import cap_per_group

    df = spark.createDataFrame(
        [(i, "g", i) for i in range(50)], ["id", "grp", "score"]
    ).repartition(4)
    plan = (
        cap_per_group(df, "grp", ["score", "id"], k=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SPARK_PARTITION_ID" in plan.upper()


def test_ngram_jaccard_tokenizes_once(spark):
    """Pin the measured optimizer workaround (operators/dedup.py
    explode_outer note): the gram-construction expression must appear
    exactly once (its own Project) — InferFiltersFromGenerate +
    pushdown would otherwise inline it into a filter below the fan-out
    exchange and re-tokenize per gram position (measured 3-4s at
    sf0.1). The Generate must stay OUTER, and the only re-derived
    tokenization is the cheap length pre-filter."""
    from transformers_spark.operators.dedup import ngram_jaccard_pairs

    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e g")], ["doc_id", "text"]
    )
    plan = (
        ngram_jaccard_pairs(df, n=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("concat_ws") == 1  # gram construction not duplicated
    assert "], true, [" in plan  # Generate ... outer=true (explode_outer)
    assert plan.count("split(") <= 2  # project + length pre-filter only


def test_curated_documents_plan_shape(spark):
    """curated_documents: the dedup verdict must reduce to ONE anti-join
    against the duplicate-id set (never a nested-loop or cartesian
    expansion), with quality/lang as pure column expressions — pinned so
    a refactor can't silently reintroduce per-doc joins."""
    from transformers_spark.queries import QUERIES

    plan = (
        QUERIES["curated_documents"]
        .build(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # quality + language stay map-only: exactly one anti join consumes
    # the documents scan in the final stage (LSH pair-gen joins live in
    # the dup-set subtree, keyed by band bucket)
    assert plan.count("LeftAnti") == 1


def test_span_dedup_map_only_span_generation(spark):
    """Span generation must stay map-only (sequence+slice inside one
    projection) — an explode-then-regroup would add a shuffle before
    the count; only the count and the per-doc rollup may shuffle."""
    from transformers_spark.operators.text import span_dedup_stats

    df = spark.createDataFrame([(1, "a b c d e f g h i j")], ["doc_id", "text"])
    plan = (
        span_dedup_stats(df, span_len=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # shuffles: span-hash count, count->spans join, doc rollup; the
    # tiny test frame may broadcast the join instead
    assert plan.count("Exchange") <= 4
    assert "CartesianProduct" not in plan


def test_label_centroids_single_aggregate(spark):
    """posexplode then ONE hash aggregate with a partial (map-side
    combine) phase — shuffle volume must be labels x dims, not rows."""
    from transformers_spark.operators.similarity import label_centroids

    df = spark.createDataFrame(
        [(1, [1.0, 2.0], 0), (2, [3.0, 4.0], 1)], ["vec_id", "embedding", "label"]
    )
    plan = label_centroids(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert plan.count("HashAggregate") == 2  # partial + final
    assert "Generate posexplode" in plan or "posexplode" in plan


def test_temperature_sample_filter_is_map_only(spark):
    """The kept-set decision must never shuffle the DATA: since r13
    the per-stratum rates are computed IN-PLAN (a bounded aggregate +
    single-partition window own the only non-broadcast exchanges) and
    attach via a broadcast join, so the data side stays a
    scan+join+filter with no data exchange — the r12 form collected
    the rates to the driver instead, which was map-only too but paid
    an extra Spark action per call."""
    from transformers_spark.operators.curation import temperature_sample

    df = spark.createDataFrame(
        [(i, "en" if i % 3 else "de") for i in range(30)], ["doc_id", "lang"]
    )
    out = temperature_sample(df, "lang", alpha=0.5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange" in ln and "Broadcast" not in ln:
            # every non-broadcast exchange belongs to the bounded
            # rate aggregate, never to the data
            assert "HashAggregate" in lines[i + 1], (ln, lines[i + 1])


def test_hopping_windows_one_expand_one_aggregate(spark):
    """F.window with slide must plan as Expand (map-only row doubling)
    + one partial/final aggregate pair — never a per-window re-scan."""
    from transformers_spark.queries import QUERIES

    df = QUERIES["hopping_event_windows"].build(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Expand") == 1
    assert plan.count("Exchange") == 1


def test_funnel_windows_share_one_shuffle(spark):
    """The three running-min stage windows must reuse ONE user_id
    shuffle and sort — a per-stage re-shuffle (or the classic triple
    self-join) would triple the event movement at corpus scale."""
    from transformers_spark.queries import QUERIES

    plan = (
        QUERIES["funnel_conversion"]
        .build(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Window") == 3
    assert plan.count("Sort") == 1
    assert plan.count("Exchange") <= 2  # window shuffle + final tiny agg


def test_transition_matrix_single_user_shuffle(spark):
    """The lag window and pair aggregate must not multiply event
    movement: one user_id exchange feeds the window; the matrix share
    window runs over the tiny aggregated table."""
    from transformers_spark.queries import QUERIES

    plan = (
        QUERIES["event_transition_matrix"]
        .build(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") <= 3  # window + agg + share window
    assert "CartesianProduct" not in plan


def test_winsorized_stats_broadcasts_percentiles(spark):
    """The per-type [p05,p95] table is 5 rows — it must broadcast into
    the clip join, never shuffle the events side for it."""
    from transformers_spark.queries import QUERIES

    plan = (
        QUERIES["value_winsorized_stats"]
        .build(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_global_ntile_matches_window_ntile(spark):
    """with_global_ntile must be bit-identical to NTILE(k) OVER (ORDER
    BY ...) for every k and N — including tie values (the unique
    tie-break column makes the order total) and N % k != 0."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from transformers_spark.operators.ranking import with_global_ntile

    rows = [(i, (i * 7919) % 13, float((i * 31) % 5)) for i in range(101)]
    df = spark.createDataFrame(rows, ["id", "v", "m"])
    for k in (2, 3, 4, 7, 150):  # 150 > N exercises the tiny-N branch
        order = [F.desc("v"), F.asc("id")]
        got = {
            r["id"]: r["q"]
            for r in with_global_ntile(df, order, "q", k=k, num_partitions=5).collect()
        }
        want = {
            r["id"]: r["q"]
            for r in df.select(
                "id", F.ntile(k).over(W.orderBy(*order)).alias("q")
            ).collect()
        }
        assert got == want, f"k={k}"


def test_customer_rfm_no_single_partition_window(spark):
    """The RFM quartiles must not plan a SinglePartition global-sort
    Window — the two-phase ranking keeps every exchange parallel
    (VERDICT r2: three global NTILE sorts won't survive 100x)."""
    from transformers_spark.analytics import q_customer_rfm_segments

    import re

    df = q_customer_rfm_segments(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan
    # Every window spec must be partitioned: the FIRST argument of
    # windowspecdefinition is a partition column (__pid), never an
    # ORDER BY expression (which would print ASC/DESC). The plan's
    # remaining SinglePartition exchanges feed only the 1-row global
    # max-date aggregate, which is bounded by construction.
    for first_arg in re.findall(r"windowspecdefinition\(([^,]+),", plan):
        assert "ASC" not in first_arg and "DESC" not in first_arg, first_arg


def test_window_over_join_queries_never_single_partition(spark):
    """first_touch_attribution / interarrival_time_stats /
    median_order_gap_days (round-4 verdict ask 6): window-over-join
    shapes where a refactor could reintroduce an empty partitionBy —
    every window spec must name a partition column (no SinglePartition
    exchange may feed a Window), pinned the same way as the RFM test."""
    import re

    from transformers_spark.queries import QUERIES

    for name in (
        "first_touch_attribution",
        "interarrival_time_stats",
        "median_order_gap_days",
    ):
        df = QUERIES[name].build(spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" not in plan, name
        assert plan.count("Window") >= 1, name
        # no empty partitionBy: windowspecdefinition's first argument is
        # a partition column, never an ORDER BY expression (ASC/DESC)
        for first_arg in re.findall(r"windowspecdefinition\(([^,]+),", plan):
            assert "ASC" not in first_arg and "DESC" not in first_arg, (
                name, first_arg,
            )


def test_pq_adc_no_cartesian_and_broadcast_queries(spark):
    """PQ-ADC scoring scans the compact code table once against a
    BROADCAST query set — the only nested-loop joins allowed are
    BuildRight broadcasts of that bounded query side (ADC is by design
    a full scan of the ~64x-smaller codes); an unbroadcast
    CartesianProduct, or a nested loop building the corpus side, is
    the scale bug (PLANS.md §similarity_pq_adc)."""
    import re

    from transformers_spark.operators.specs import q_similarity_pq_adc

    df = q_similarity_pq_adc(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    for line in re.findall(r"BroadcastNestedLoopJoin[^\n]*", plan):
        assert "BuildRight" in line, line
    assert "BroadcastHashJoin" in plan  # shortlist re-rank joins


def test_connected_components_distributed_path_checkpointed(spark):
    """Above the driver threshold the propagation loop must run on a
    CHECKPOINTED edge list: the final plan reads Scan ExistingRDD, not
    the original pair-generation lineage — each round re-running the
    candidate-pair plan is the scale cliff (PLANS.md §dedup_pipeline).
    Result must equal the driver union-find on the same graph."""
    from transformers_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (7, 7), (8, 6)], ["d1", "d2"]
    )
    dist = connected_components(edges, driver_threshold=0, max_iterations=10)
    plan = dist._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan
    assert "LocalTableScan" not in plan  # original lineage cut
    got = {r["vertex"]: r["component"] for r in dist.collect()}
    want = {
        r["vertex"]: r["component"]
        for r in connected_components(edges, driver_threshold=10**6).collect()
    }
    assert got == want == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5, 8: 5, 7: 7}


def test_ntiles_wide_matches_window_ntile(spark):
    """ntiles_wide must equal NTILE(k) window results on every
    dimension simultaneously — including tie values and DESC encoded
    by negation."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from transformers_spark.operators.ranking import ntiles_wide

    rows = [(i, (i * 13) % 7, float((i * 29) % 11)) for i in range(83)]
    df = spark.createDataFrame(rows, ["id", "a", "b"])
    got = {
        r["id"]: (r["qa"], r["qb"])
        for r in ntiles_wide(
            df, "id", [("qa", F.col("a")), ("qb", -F.col("b"))], k=4
        ).collect()
    }
    want = {
        r["id"]: (r["qa"], r["qb"])
        for r in df.select(
            "id",
            F.ntile(4).over(W.orderBy(F.asc("a"), F.asc("id"))).alias("qa"),
            F.ntile(4).over(W.orderBy(F.desc("b"), F.asc("id"))).alias("qb"),
        ).collect()
    }
    assert got == want


def test_ntile_expr_edge_totals(spark):
    """NTILE-from-total boundary cases: n=1, n=k-1, n=k, n=k+1, prime
    n — every (total, k) pairing must equal the window NTILE on a
    plain range frame. Exercises _with_ntile_from_total, the shared
    column-arithmetic core of with_global_ntile / ntiles_wide /
    grouped_ntile (the r13 in-plan replacement for the driver-side
    _ntile_expr)."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from transformers_spark.operators.ranking import _with_ntile_from_total

    for k in (1, 2, 4, 5, 8):
        for n in (1, k - 1, k, k + 1, 2 * k + 3, 97):
            if n < 1:
                continue
            df = spark.range(1, n + 1).withColumnRenamed("id", "rn")
            framed = df.withColumn("__tot", F.lit(n).cast("bigint"))
            got = [
                r["q"]
                for r in _with_ntile_from_total(framed, "rn", "__tot", "q", k)
                .orderBy("rn")
                .collect()
            ]
            want = [
                r["q"]
                for r in df.select(
                    F.ntile(k).over(W.orderBy("rn")).alias("q")
                ).collect()
            ]
            assert got == want, f"n={n} k={k}"


def test_ranking_builds_without_driver_collect(spark, monkeypatch):
    """Pin the r13 in-plan offset prefix-sum: BUILDING the two-phase
    ranking frames triggers NO driver collect at all (the per-
    partition offsets used to be collected — one extra Spark action
    per call, the job-floor cost VERDICT r12 ask #1 removed). A
    refactor that reintroduces any eager action here shows up as a
    spy hit; the offsets' correctness stays pinned by the
    matches-window-ntile tests."""
    from transformers_spark.operators.ranking import global_row_number, ntiles_wide

    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 7).cast("double").alias("v")
    )
    cls = type(df)  # the concrete (classic/connect) DataFrame class
    collected = []
    orig = cls.collect

    def spy(self):
        rows = orig(self)
        collected.append((tuple(self.columns), len(rows)))
        return rows

    monkeypatch.setattr(cls, "collect", spy)
    ranked = global_row_number(
        df, [F.asc("v"), F.asc("id")], num_partitions=4, total_col="__t"
    )
    wide = ntiles_wide(df, "id", [("qa", F.col("v")), ("qb", -F.col("v"))], k=4)
    assert collected == [], collected  # fully lazy — no eager action
    # the in-plan total equals the old driver-side count
    assert ranked.select(F.max("__t")).collect()[0][0] == 1000
    assert wide.count() == 1000


def test_ntiles_wide_rejects_null_and_unrepresentable_keys(spark):
    """The double-cast contract is CHECKED, not just documented: a null
    sort key or an integral key >= 2^53 fails the job instead of
    silently mis-ranking (round-3 ADVICE, low)."""
    import pytest

    from transformers_spark.operators.ranking import ntiles_wide

    # ntiles_wide is fully lazy since r13 (no offset collect), so the
    # guard fires at the first ACTION, not at build time
    with_null = spark.createDataFrame(
        [(1, 1.0), (2, None)], "id long, b double"
    )
    with pytest.raises(Exception, match="ntiles_wide"):
        ntiles_wide(with_null, "id", [("q", F.col("b"))], k=2).collect()
    huge = spark.createDataFrame([(1, 2**53 + 1), (2, 5)], "id long, b long")
    with pytest.raises(Exception, match="ntiles_wide"):
        ntiles_wide(huge, "id", [("q", F.col("b"))], k=2).collect()
    # decimal digits that don't survive the double cast also fail ...
    import decimal

    dec = spark.createDataFrame(
        [(1, decimal.Decimal("1.0000000000000001")),
         (2, decimal.Decimal("2"))],
        "id long, b decimal(20,16)",
    )
    with pytest.raises(Exception, match="ntiles_wide"):
        ntiles_wide(dec, "id", [("q", F.col("b"))], k=2).collect()
    # ... but double keys are always exact under the identity cast:
    # huge magnitudes and NaN are legitimate (NaN sorts last, as in the
    # window-function equivalent) — the guard must not reject them
    okd = spark.createDataFrame(
        [(1, 1.2e16), (2, float("nan")), (3, -3.5)], "id long, b double"
    )
    got = {r["id"]: r["q"] for r in
           ntiles_wide(okd, "id", [("q", F.col("b"))], k=3).collect()}
    assert got == {3: 1, 1: 2, 2: 3}


def test_grouped_ntile_matches_window_ntile(spark):
    """grouped_ntile must equal NTILE(k) OVER (PARTITION BY grp ORDER
    BY ...) exactly — uneven group sizes, ties, tiny groups (n < k)
    included — with no driver collect and no per-group single sort."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from transformers_spark.operators.ranking import grouped_ntile

    rows = [(i, "g" + str(i % 3 if i < 90 else 3), (i * 17) % 23) for i in range(93)]
    # group g3 has exactly 3 members -> n < k branch
    df = spark.createDataFrame(rows, ["id", "grp", "v"])
    order = [F.asc("v"), F.asc("id")]
    got = {
        (r["grp"], r["id"]): r["q"]
        for r in grouped_ntile(df, ["grp"], order, "q", k=4).collect()
    }
    want = {
        (r["grp"], r["id"]): r["q"]
        for r in df.select(
            "grp", "id",
            F.ntile(4).over(W.partitionBy("grp").orderBy(*order)).alias("q"),
        ).collect()
    }
    assert got == want


def test_segment_window_queries_have_partitioned_windows_only(spark):
    """customer_balance_quartiles / balance_rank_distribution: no
    window may sort a whole segment in one task — every windowspec's
    leading arg must be a partition id or a tiny-frame group key, and
    the heavy ranking must go through rangepartitioning (the
    grouped_row_number two-phase shape)."""
    import re

    from transformers_spark.analytics import (
        q_balance_rank_distribution,
        q_customer_balance_quartiles,
    )

    for fn in (q_customer_balance_quartiles, q_balance_rank_distribution):
        df = fn(spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "rangepartitioning" in plan, fn.__name__
        for first_arg in re.findall(r"windowspecdefinition\(([^,]+),", plan):
            assert "ASC" not in first_arg and "DESC" not in first_arg, (
                fn.__name__,
                first_arg,
            )


def test_persisted_lsh_index_probe_shape_and_result(spark):
    """The standing-index probe must broadcast the NEW side into a
    map-side hash join over the index scan (the corpus index never
    shuffles); the only shuffle Exchange is the candidate-pair count.
    Result equals the in-memory incremental matcher."""
    from transformers_spark.operators.dedup import (
        incremental_matches_from_buckets,
        minhash_band_buckets,
        probe_lsh_index,
        write_lsh_index,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "completely different content about spark plans"),
        ],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog"),
            (101, "nothing like anything in the index whatsoever zzz"),
        ],
        ["doc_id", "text"],
    )
    spark.sql("CREATE DATABASE IF NOT EXISTS lshdb")
    write_lsh_index(corpus, "lshdb.standing_index", num_perm=16, bands=4)
    probed = probe_lsh_index(
        spark, "lshdb.standing_index", new, num_perm=16, bands=4
    )
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # 2 exchanges since r6: countDistinct(band) (duplicate-row
    # stability, ORACLES.md #15) plans as the two-level distinct
    # aggregate — both exchanges move only the MATCHED pair frame
    # (bounded by match count), never the index scan, which stays
    # map-only through the broadcast join
    assert exchange_count(probed) <= 2
    got = {(r["new_doc"], r["corpus_doc"]): r["matching_bands"] for r in probed.collect()}
    want = {
        (r["new_doc"], r["corpus_doc"]): r["matching_bands"]
        for r in incremental_matches_from_buckets(
            minhash_band_buckets(corpus, num_perm=16, bands=4),
            minhash_band_buckets(new, num_perm=16, bands=4),
        ).collect()
    }
    assert got == want and got == {(100, 1): 4}


def test_rolling_active_users_is_expansion_not_theta_join(spark):
    """rolling_7d_active_users must plan as sequence+explode (constant
    x7 map-side fan-out) joined to a BROADCAST day grid — never a
    range/theta join of days x (day, user) pairs."""
    from transformers_spark.queries import QUERIES

    plan = (
        QUERIES["rolling_7d_active_users"]
        .build(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Generate explode" in plan or "explode" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bloom_membership_probe_joins_are_broadcast(spark):
    """The Bloom position set is bounded by the bit width (8192) and
    must broadcast into BOTH probe semi-joins — a sort-merge join here
    would shuffle the full probe side twice."""
    from transformers_spark.queries import QUERIES

    plan = (
        QUERIES["sketch_bloom_membership"]
        .build(spark, "/root/testdata/sf0.001")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_expansion_ranking_queries_no_single_task_sort(spark):
    """segment_top_orders and nation_balance_gini route their ranks
    through the grouped two-phase primitive: rangepartitioning present,
    every windowspec's leading arg is a partition id / group key, and
    no window sorts a whole segment in one task."""
    import re

    from transformers_spark.queries import QUERIES

    for name in ("segment_top_orders", "nation_balance_gini"):
        plan = (
            QUERIES[name]
            .build(spark, "/root/testdata/sf0.001")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "rangepartitioning" in plan, name
        for first_arg in re.findall(r"windowspecdefinition\(([^,]+),", plan):
            assert "ASC" not in first_arg and "DESC" not in first_arg, (
                name,
                first_arg,
            )


def test_lsh_index_rejects_width_mismatch(spark):
    """A probe with widths different from the recorded index
    properties must raise — silently joining incompatible bucket
    hashes would let duplicates through undetected."""
    import pytest as _pytest

    from transformers_spark.operators.dedup import probe_lsh_index, write_lsh_index

    spark.sql("CREATE DATABASE IF NOT EXISTS lshdb")
    docs = spark.createDataFrame([(1, "a b c d")], ["doc_id", "text"])
    write_lsh_index(docs, "lshdb.width_check", num_perm=16, bands=4)
    # same widths: fine (also proves overwrite idempotence in-session)
    write_lsh_index(docs, "lshdb.width_check", num_perm=16, bands=4)
    probe_lsh_index(spark, "lshdb.width_check", docs, num_perm=16, bands=4).collect()
    with _pytest.raises(ValueError, match="different width"):
        probe_lsh_index(spark, "lshdb.width_check", docs, num_perm=128, bands=16)


def test_lsh_index_append_validates_before_writing(spark):
    """mode='append' with different widths must refuse BEFORE writing —
    an unchecked append would mix incompatible bucket hashes AND
    restamp the properties to the new values (round-4 review). A
    stampless table must also refuse probes (a write that died between
    saveAsTable and the ALTER cannot prove its parameters)."""
    import pytest as _pytest

    from transformers_spark.operators.dedup import probe_lsh_index, write_lsh_index

    spark.sql("CREATE DATABASE IF NOT EXISTS lshdb")
    docs = spark.createDataFrame([(1, "a b c d")], ["doc_id", "text"])
    write_lsh_index(docs, "lshdb.append_check", num_perm=16, bands=4)
    before = spark.table("lshdb.append_check").count()
    with _pytest.raises(ValueError, match="cannot append"):
        write_lsh_index(
            docs, "lshdb.append_check", num_perm=128, bands=16, mode="append"
        )
    assert spark.table("lshdb.append_check").count() == before  # nothing written
    # matching widths append fine
    write_lsh_index(docs, "lshdb.append_check", num_perm=16, bands=4, mode="append")
    assert spark.table("lshdb.append_check").count() == 2 * before

    # a table without the stamp refuses probes outright
    spark.sql("DROP TABLE IF EXISTS lshdb.stampless")
    spark.createDataFrame([(1, 0, "x")], ["doc", "band", "bucket"]).write.mode(
        "overwrite"
    ).saveAsTable("lshdb.stampless")
    with _pytest.raises(ValueError, match="no recorded width"):
        probe_lsh_index(spark, "lshdb.stampless", docs, num_perm=16, bands=4)
