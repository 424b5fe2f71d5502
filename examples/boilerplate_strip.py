#!/usr/bin/env python
"""Cross-document boilerplate strip — the substring-dedup deployment
shape for crawl corpora: spans repeated across pages (navbars, license
footers, syndicated paragraphs) are removed everywhere except one
canonical occurrence, and the per-source token savings are reported
before the rewritten corpus is written out.

Run: ``python examples/boilerplate_strip.py [sf_dir] [out_dir]``
(default /root/testdata/sf0.001). Smoke-tested by
tests/test_examples.py.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(sf_dir: str, out_dir: str) -> dict:
    from pyspark.sql import functions as F

    from transformers_spark.operators.text import (
        cross_doc_span_dedup,
        cross_doc_span_dedup_stats,
        remove_long_dup_substrings,
    )
    from transformers_spark.session import get_spark
    from transformers_spark.sources.testdata import load_table

    spark = get_spark(app_name="boilerplate-strip-demo")
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_table(spark, sf_dir, "documents")

    # 1. measure first: what would the strip remove, per source?
    # hasher="fast" is the production setting: xxhash64 long keys
    # instead of the oracle-portable md5 hex strings, so the per-hash
    # shuffle rows are ~4x smaller (round-11 A/B).
    stats = cross_doc_span_dedup_stats(docs, span_len=8, hasher="fast")
    report = (
        docs.select(F.col("doc_id").alias("doc"), "source")
        .join(stats, "doc")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_tokens").alias("tokens"),
            F.sum("tokens_removed").alias("tokens_removed"),
        )
        .collect()
    )
    total_tokens = sum(r["tokens"] for r in report)
    total_removed = sum(r["tokens_removed"] for r in report)

    # 2. rewrite and persist the cleaned corpus (text swapped in
    # place, every other column preserved). Note: the rewrite
    # re-joins tokens with single spaces, so ALL whitespace is
    # normalized corpus-wide — even documents with zero removals do
    # not round-trip byte-identical (see cross_doc_span_dedup docs).
    cleaned = docs.join(
        cross_doc_span_dedup(docs, span_len=8, hasher="fast"), "doc_id"
    ).select(
        "doc_id",
        F.col("deduped_text").alias("text"),
        "lang",
        "source",
        F.length("deduped_text").alias("n_chars"),
    )
    cleaned.write.mode("overwrite").parquet(os.path.join(out_dir, "documents"))

    # 3. the stricter published policy as an alternative pass: remove
    # only LONG duplicated substrings (>= 24 tokens here; 50 is the
    # crawl-scale convention) — everything shorter survives
    strict = remove_long_dup_substrings(
        docs, span_len=8, min_run_tokens=24, hasher="fast"
    )
    strict_removed = int(
        strict.agg(F.sum("n_tokens_removed")).collect()[0][0] or 0
    )

    n_docs = docs.count()
    n_out = spark.read.parquet(os.path.join(out_dir, "documents")).count()
    stats_out = {
        "input_docs": n_docs,
        "output_docs": n_out,
        "strict_policy_tokens_removed": strict_removed,
        "total_tokens": int(total_tokens),
        "tokens_removed": int(total_removed),
        "savings_pct": round(100.0 * total_removed / total_tokens, 2)
        if total_tokens
        else 0.0,
        "sources": {r["source"]: int(r["tokens_removed"]) for r in report},
    }
    print(stats_out)
    return stats_out


if __name__ == "__main__":
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/boilerplate_strip_out"
    main(sf, out)
