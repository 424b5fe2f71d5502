#!/usr/bin/env python
"""Regenerate PLANS.md: physical-plan skeletons for the queries whose
scale behavior the README claims (pushdown, broadcast, partial agg,
local pair expansion, partitioned prefix sum, distributed top-k)."""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PICKS = {
    "windowed_daily_events": (
        "Flagship windowed transformation — the range filter must reach the "
        "parquet row groups as PushedFilters, and the scan must prune to the "
        "referenced columns only."
    ),
    "local_supplier_volume": (
        "TPC-H Q5-shape 6-way star join — every dimension broadcasts; the "
        "single big shuffle is the lineitem⋈orders hash join."
    ),
    "pricing_summary": (
        "TPC-H Q1-shape scan+aggregate — partial (map-side) HashAggregate "
        "before the exchange, whole-stage codegen over the decimal sums."
    ),
    "dedup_minhash_lsh": (
        "MinHash+LSH — one shuffle groups band buckets; pairs expand locally "
        "(no bucket self-join)."
    ),
    "curation_pack_sequences": (
        "Document packing — the cumulative sum runs per range partition (no "
        "SinglePartition exchange feeding the window)."
    ),
    "text_bpe_merge_candidates": (
        "BPE pair counting — map-side combined count + TakeOrderedAndProject "
        "distributed top-k."
    ),
    "dedup_ngram_jaccard": (
        "n-gram Jaccard — inverted-index shuffle on gram hashes with "
        "stop-gram cap; pair expansion stays local to the posting list "
        "(no gram self-join), sizes carried with postings."
    ),
    "curated_documents": (
        "Composite curation filter — hashed-gram decontamination join plus "
        "quality/lang map work; no cartesian stage, no row-at-a-time UDF."
    ),
    "nation_profit_trend": (
        "TPC-H Q9-shape profit rollup — part/supplier/nation broadcast; the "
        "only candidate shuffle join is lineitem⋈orders on orderkey (AQE "
        "may broadcast orders at small SF), one partial+final aggregate."
    ),
    "text_span_dedup": (
        "Tiled-span substring dedup — span generation is a map-only "
        "projection (sequence+slice, no explode/regroup); only 16-byte "
        "span hashes shuffle into the count and the per-doc rollup."
    ),
    "hopping_event_windows": (
        "Batch hopping windows — Expand doubles rows map-side, then ONE "
        "partial+final aggregate pair; never a per-window re-scan."
    ),
    "funnel_conversion": (
        "Ordered event funnel — three running-min windows share ONE "
        "user_id shuffle and sort (vs the classic triple self-join that "
        "moves events three times)."
    ),
    "text_bm25_retrieval": (
        "BM25 retrieval — inverted-index term join (never query x corpus); "
        "postings persist once for the avgdl/df/match consumers."
    ),
    "similarity_pq_adc": (
        "PQ-ADC ANN — codebooks are driver-trained literals (no train-output "
        "join), ADC scores a BROADCAST query set against the ~64x-smaller "
        "code table, and the exact re-rank joins only the |q|*k shortlist "
        "back to full-width vectors; no cartesian stage anywhere."
    ),
    "dedup_pipeline": (
        "Near-dup pipeline graph phase — the candidate-pair plan is "
        "materialized ONCE by localCheckpoint (the final plan reads "
        "`Scan ExistingRDD`: lineage deliberately cut so propagation rounds "
        "never re-run the MinHash pair generation); components come from "
        "bounded driver union-find under the 2M-edge threshold, alternating "
        "checkpointed min-label propagation above it; the verdict step "
        "broadcasts the component table back onto the corpus."
    ),
    "customer_rfm_segments": (
        "Fused three-dimension quartiles (operators/ranking.ntiles_wide) — "
        "ONE union-encoded range shuffle + per-partition local sorts rank "
        "all three RFM orderings; every window is partitioned by "
        "(partition id, dimension), never a SinglePartition NTILE sort."
    ),
    "customer_balance_quartiles": (
        "Grouped two-phase NTILE (operators/ranking.grouped_ntile) — "
        "range-partitioned on (segment, balance, key) with DISTRIBUTED "
        "prefix-summed offsets; no segment ever funnels through one task's "
        "sort and no driver collect exists at any group cardinality."
    ),
    "curation_dsir_weights": (
        "DSIR importance scores — one tokenize pass persists the (doc, "
        "bucket) occurrences consumed by BOTH frequency aggregates and the "
        "scoring join; the bucket-frequency tables are bounded by the "
        "bucket count and broadcast into a map-side join."
    ),
    "rolling_7d_active_users": (
        "Trailing-7-day distinct users — sequence+explode expands each "
        "(day, user) pair map-side by a CONSTANT x7 (never a days x pairs "
        "range join); the observed-day grid broadcasts; one distinct "
        "aggregate carries the only shuffle."
    ),
    "segment_top_orders": (
        "Top-n per segment (QUALIFY idiom) — grouped two-phase ROW_NUMBER: "
        "range-partitioned on (segment, price DESC, key), per-partition "
        "local windows only, distributed prefix-summed offsets; 5 giant "
        "segments never funnel through single-task sorts."
    ),
    "sketch_bloom_membership": (
        "Bloom membership — the position set is bounded by the bit width "
        "(m=8192) and BROADCASTS into both probe semi-joins at any member "
        "cardinality; the probe side is scanned once, map-side only."
    ),
    "user_ltv_deciles": (
        "Global NTILE(10) over per-user lifetime value — two-phase ranking "
        "(range-partition + per-partition local window + partition-count "
        "offset collect): no SinglePartition sort at any user cardinality; "
        "the decile rollup is one ordinary keyed aggregate."
    ),
    "nation_balance_gini": (
        "Per-nation Gini via the rank formula — grouped two-phase "
        "ROW_NUMBER keeps every nation's rank assignment distributed "
        "(a giant nation never funnels through one task); decimal power "
        "sums reduce to one row per nation before the only division."
    ),
    "first_touch_attribution": (
        "First-touch attribution — the first_value window partitions by "
        "(user, day): one keyed shuffle, never a SinglePartition sort; the "
        "two rollup aggregates are partial+final hash aggregates."
    ),
    "interarrival_time_stats": (
        "Inter-arrival gaps — the lag window partitions by (user, type) "
        "bounded streams; gap stats reduce map-side before the only "
        "aggregate exchange; no SinglePartition window anywhere."
    ),
    "median_order_gap_days": (
        "Median order gap — the lag window partitions by customer; the "
        "customer join stays a broadcast at dim scale and the ordered-set "
        "median is a keyed (per-segment) aggregate, never a global sort."
    ),
    "text_ngram_novelty": (
        "Corpus duplication curve — shingles shuffle ONCE on their 60-bit "
        "hash; novelty is a min-over-window on that same partitioning (no "
        "posting self-join); the rollup is an ordinary per-source hash "
        "aggregate."
    ),
    "sketch_kmv_rollup": (
        "Mergeable KMV rollup — one (day, hash) dedup shuffle; per-day "
        "ranks stay day-partitioned; both k-min reductions compile to "
        "TakeOrderedAndProject (distributed partial top-k), and the final "
        "combine is 1-row broadcast cross joins."
    ),
    "event_cooccurrence_lift": (
        "Event-pair lift — the distinct (user, type) frame is computed "
        "ONCE and persisted for its four consumers (pair join, two "
        "marginals, total); pair candidates come from a per-user "
        "self-join on the deduped frame, never a row-level cross join; "
        "1-row totals broadcast into the final projection."
    ),
    "event_path_counts": (
        "Funnel path discovery with the r6 cardinality guard — the "
        "first-3 slice MUST show the two-phase WindowGroupLimit "
        "(Partial before the (user, day) exchange, Final after), so a "
        "bot user-day ships 3 rows, never its whole history; the final "
        "top-10 is TakeOrderedAndProject."
    ),
    "order_basket_pairs": (
        "Market-basket pairs with the r6 BASKET_CAP guard — the window "
        "count rides the SAME okey partitioning the self-join uses "
        "(one exchange serves both); marginals and the 1-row order "
        "count broadcast; final top-20 is TakeOrderedAndProject."
    ),
    "brand_top_parts": (
        "Grouped top-k (r6) — part dim broadcasts into the lineitem "
        "scan; the per-brand rank slice compiles to the two-phase "
        "WindowGroupLimit; ranking compares the EXACT decimal, casting "
        "to double only in the final projection."
    ),
    "sketch_hll_rollup": (
        "Portable HLL register rollup (r6) — register extraction is "
        "map-side; the (day, bucket) max-aggregate partial-combines "
        "before its exchange; the merge level is <= 64x|days| rows and "
        "the 64-slot literal frame joins are broadcast."
    ),
    "watermark_late_arrivals": (
        "Late-arrival accounting (r7) — the running max over arrival "
        "order is the two-phase prefix max: per-range-partition window "
        "plus a broadcast partition-offset join; NO SinglePartition "
        "window over the events."
    ),
    "lsh_band_bucket_skew": (
        "LSH bucket-size profile (r7) — one (band, bucket) distinct-"
        "count aggregate feeds the per-band rollup; pair-slots is exact "
        "integer arithmetic inside the same aggregate, no second pass."
    ),
    "dedup_lsh_precision": (
        "LSH eval pair join (r6 soak fix) — the exact-pair ⋈ lsh-pair "
        "comparison joins two DATA-SIZED frames and must stay a "
        "SortMergeJoin (hint('merge')): the r6 10× soak proved the "
        "post-aggregation size misestimate otherwise broadcasts a "
        "data-sized side and blows maxResultSize."
    ),
    "source_overlap_matrix": (
        "Cross-source fingerprint overlap — ONE dedup shuffle over "
        "(fingerprint, source) postings; the source-pair expansion is "
        "local to each posting list (never a corpus self-join) and the "
        "matrix rollup is an ordinary keyed aggregate."
    ),
    "minhash_jaccard_error": (
        "MinHash estimator audit (r7) — candidates come from the banded "
        "bucket index (local pair expansion via Generate, never an "
        "all-pairs join); signature/gram frames persist once and join "
        "per-doc; no cartesian stage. At sf0.01 the persisted sides "
        "broadcast (AQE sizes them from materialized InMemoryRelation "
        "stats, so data-sized sides fall back to shuffle joins at scale)."
    ),
    "crosslingual_near_dup": (
        "Cross-lingual shared-shingle candidates (r8) — 4-gram postings "
        "shuffle once; the ONLY quadratic site is the per-gram self-join "
        "and the df cap (2..50) bounds each gram's pair slots; lang "
        "collapses to MIN per doc so duplicate rows cannot fan pairs."
    ),
    "dedup_degree_profile": (
        "Candidate-graph degree histogram (r8) — pairs come from the "
        "skew-capped banded index (local pair expansion, never an "
        "all-pairs join); degree is one doc-keyed aggregate and the "
        "zero-degree universe arrives via a LEFT join, not a second "
        "signature pass."
    ),
    "embedding_decontamination": (
        "Embedding decontamination (r8) — the hash-mod split is map-only; "
        "candidates come from the hyperplane-bucket equi-join (work "
        "follows bucket sizes, never |eval| x |train|); the threshold "
        "fan-out joins a 2-row broadcast literal frame."
    ),
    "supplier_fulfillment_lag": (
        "Fulfillment SLA rollup (r6) — orders⋈lineitem is the ONE big "
        "exchange (both sides hash on orderkey, AQE-sized); supplier "
        "and nation stay BroadcastHashJoin; lag math is exact integer "
        "days with a single double division in the rollup."
    ),
    # r9 pin-by-cost additions: the remaining top-10-cost batch
    # queries (test_plan_pins.test_top_cost_batch_queries_are_pinned)
    "ivf_probe_recall_curve": (
        "IVF probe/recall curve (r8) — exact baseline is "
        "broadcast(5 queries)×corpus (the intended BNLJ brute-force "
        "scan); rank<=k pushes into the shuffle as WindowGroupLimit; "
        "the only cross joins are the 1-row scalar and 2-row literal "
        "frames — never a data-sized CartesianProduct."
    ),
    "column_profile": (
        "Multi-column profile (r12 split) — min/max/nulls in a keyless "
        "streaming aggregate (NO Sort node: string-buffered min/max "
        "would force the whole pipeline into sort-based aggregation), "
        "the exact-distinct Expand pipeline all-HashAggregate, and the "
        "two 1-row results joined by a one-row broadcast."
    ),
    "multimodal_image_features": (
        "Arrow-batched decode path — MapInPandas directly over the "
        "pruned parquet scan; never a row-at-a-time Python UDF."
    ),
    "retrieval_rrf_fusion": (
        "RRF fusion (r8) — BM25 inverted-index join + broadcast-"
        "queries dense scan, fused rank window with WindowGroupLimit; "
        "pinned on the PRE-checkpoint frame (the public query "
        "localCheckpoints eagerly, which materializes the plan)."
    ),
    "dedup_pipeline": (
        "Full near-dup pass — final stage joins the connected-"
        "component labels (checkpointed by label propagation, hence "
        "Scan ExistingRDD) back onto docs as a SortMergeJoin on id; "
        "the LSH/CC internals are pinned via minhash_jaccard_error "
        "and the SF100 probe."
    ),
    "text_cross_doc_span_dedup": (
        "Cross-doc substring dedup (r10) — map-only tiled-span "
        "generation (Generate; only 16-byte hashes + ints shuffle), "
        "one per-hash aggregate (distinct-doc count + struct-min "
        "keeper), hash join back, per-doc rollup. Never an all-pairs "
        "stage."
    ),
    "text_sliding_span_dedup": (
        "Sliding-window substring profile (r10) — every k-token "
        "window hashed map-only (k x the tiled volume, the "
        "full-resolution price), per-hash aggregate, hash join back, "
        "then the islands max-run window over DUPLICATED positions "
        "only."
    ),
    "text_remove_dup_substrings": (
        "The >=N-token removal policy (r11) — the sliding-flag "
        "pipeline, islands over duplicated positions only, ONE "
        "small (start,len) ranges row per affected doc joined back "
        "by id, and a map-side token filter; the text itself never "
        "shuffles."
    ),
}


def _rrf_builder(spark, sf):
    from transformers_spark.expansion5 import _rrf_fusion_frame

    return _rrf_fusion_frame(spark, sf)


# queries whose public frame hides the real plan behind an eager
# localCheckpoint — build the un-checkpointed frame instead
BUILDERS = {"retrieval_rrf_fusion": _rrf_builder}

_KEEP_PREFIXES = (
    "Output", "Batched", "Location", "PushedFilters", "ReadSchema", "Input",
    "Keys", "Functions", "Arguments", "Join condition", "Left keys",
    "Right keys", "Condition", "PartitionFilters",
)


def skeleton(text: str) -> list[str]:
    keep = []
    for line in text.splitlines():
        s = line.strip()
        if s and (re.match(r"^\(\d+\)", s) or s.startswith(_KEEP_PREFIXES)):
            keep.append(s)
    return keep


def main() -> None:
    from transformers_spark.queries import QUERIES
    from transformers_spark.session import get_spark

    spark = get_spark("plans")
    spark.sparkContext.setLogLevel("ERROR")
    # the scale the plan pins check PLANS.md at: a PLANS.md generated
    # at any other scale is one they reject
    from tests.test_plan_pins import SF as sf

    out = [
        "# PLANS — physical-plan evidence for the scale claims\n",
        "Generated from `.explain('formatted')` at sf0.01 (plans are",
        "scale-independent; AQE re-sizes exchanges at runtime). Regenerate",
        "with `python tools/gen_plans.py`. Each excerpt keeps the",
        "scan/exchange/join/window skeleton and elides codegen ids.\n",
    ]
    from transformers_spark import cache

    for name, why in PICKS.items():
        if name in BUILDERS:
            df = BUILDERS[name](spark, sf)
        else:
            df = QUERIES[name].build(spark, sf)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        # release per query, exactly like tests/test_plan_pins._live_plan:
        # an earlier query's MATERIALIZED cache entry otherwise resolves
        # into this plan's InMemoryRelation and the captured child grows
        # executed-state markers (ColumnarToRow) the cache-clean pin
        # session never sees (found via retrieval_rrf_fusion in r13)
        cache.release()
        lines = skeleton(buf.getvalue())
        out.append(f"## {name}\n")
        out.append(why + "\n")
        out.append("```")
        out.extend(lines[:48])
        if len(lines) > 48:
            out.append(f"... ({len(lines) - 48} more plan lines)")
        out.append("```\n")

    # The CDC query's returned frame is just a post-merge scan+rollup,
    # so the load-bearing evidence is the MERGE executor's own plan
    # (round-7 verdict ask 3): pass-through anti-join against the
    # source, in-plan duplicate-match guard, no cartesian, no shuffle or
    # broadcast of the target. Documented here; the live assertions run
    # in tests/test_plan_pins.py::test_merge_plan_properties.
    from transformers_spark.dml import build_merge_plan, materialize_source
    from transformers_spark.expansion4 import _cdc_merge_setup

    cat, _, stmt, fqn = _cdc_merge_setup(spark, sf)
    source = materialize_source(spark, stmt)
    df = build_merge_plan(spark, cat, stmt, fqn, source)
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    source.unpersist()
    lines = skeleton(buf.getvalue())
    out.append("## dedup_cdc_merge__merge_plan\n")
    out.append(
        "MERGE executor plan for dedup_cdc_merge (dml.build_merge_plan on "
        "the CDC fixture) — the source is materialized once and "
        "broadcast; target rows without a match pass through a LeftAnti "
        "join against it; only matched pairs and source rows are "
        "shuffled, once, and the multi-match guard is an in-plan "
        "raise_error over a window count; the target is scanned twice, "
        "never shuffled or broadcast, and there is no cartesian "
        "stage. Properties asserted live in tests/test_plan_pins.py; "
        "the skeleton below is evidence, not a freshness pin (AQE stage "
        "markers in it depend on which setup stages already ran).\n"
    )
    out.append("```")
    out.extend(lines[:48])
    if len(lines) > 48:
        out.append(f"... ({len(lines) - 48} more plan lines)")
    out.append("```\n")

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print("wrote PLANS.md")


if __name__ == "__main__":
    main()
