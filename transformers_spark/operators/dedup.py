"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Designed scale-first:

* **exact**: one hash-groupBy shuffle on a 128-bit content fingerprint
  — the canonical 100 TB dedup pass.
* **minhash_lsh**: shingle → K permuted min-hashes → banded buckets →
  candidate pairs from a bucket self-join. Only docs sharing a band
  bucket ever meet, so the join is |buckets| × small, not n².
  ``max_bucket_size`` caps degenerate buckets (skew guard).
* **ngram_jaccard**: exact Jaccard over word n-grams via an inverted-
  index join; ``max_doc_freq`` drops stop-grams (both a skew guard and
  the standard IDF-ish trick).
* **simhash**: 32-bit weighted bit-vote fingerprint; near-dups =
  fingerprints at small Hamming distance, found via band buckets.

Hashing is pluggable (``hasher=``): the default md5-derived hash
(operators/hashing.py) makes every operator reproducible in the DuckDB
oracle; ``hasher="fast"`` switches the signature paths to JVM xxhash64
for production runs where cross-engine reproducibility isn't needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .hashing import MERSENNE_P, hash32, lcg_constants, perm_hash_sql
from .skew import fan_out
from .text import doc_fingerprint, tokens

__all__ = [
    "DEMO_NUM_PERM",
    "DEMO_BANDS",
    "PRODUCTION_NUM_PERM",
    "PRODUCTION_BANDS",
    "exact_dedup_groups",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "lsh_pairs_from_buckets",
    "minhash_band_buckets",
    "incremental_matches_from_buckets",
    "write_lsh_index",
    "probe_lsh_index",
    "ngram_jaccard_pairs",
    "simhash_fingerprints",
    "dedup_pipeline",
]

# MinHash width parameters. With K = num_perm permutations split into
# b bands of r = K/b rows, a pair at Jaccard similarity s becomes an
# LSH candidate with p(s) = 1 - (1 - s^r)^b; the S-curve midpoint is
# t ≈ (1/b)^(1/r). Collision probabilities:
#
#   s      demo 16/4 (r=4)    production 128/16 (r=8)
#   0.5        0.23                  0.06
#   0.6        0.41                  0.24
#   0.7        0.66                  0.61
#   0.8        0.88                  0.95
#   0.9        0.99                  0.9996
#
# Both widths center at t ≈ 0.71, but the 128/16 curve is SHARP: it
# passes 0.8+ near-dups with ≥0.95 recall while keeping 0.5-similarity
# noise pairs under 6% — candidate volume stays near the true-dup
# volume, which is what makes the bucket join affordable at 10^9 docs.
# The shallow 16/4 curve admits 23% of 0.5-similarity pairs: fine for
# asserting machinery on test corpora, not for production recall or
# candidate-volume control.
#
# Demo/oracle widths: small enough that the DuckDB oracle SQL (one
# expression per permutation) stays tractable and the sf0.01 gate runs
# in seconds. The query catalog passes these explicitly.
DEMO_NUM_PERM = 16
DEMO_BANDS = 4

# The CLASS DEFAULTS are the production widths (the 128/16 class used
# by large web-dedup pipelines) — callers who just write
# ``minhash_lsh_pairs(df)`` get corpus-scale recall; pair with
# hasher="fast" (JVM xxhash64) when cross-engine reproducibility isn't
# needed.
PRODUCTION_NUM_PERM = 128
PRODUCTION_BANDS = 16
DEFAULT_NUM_PERM = PRODUCTION_NUM_PERM
DEFAULT_BANDS = PRODUCTION_BANDS


def exact_dedup_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Content-identical groups: fingerprint → (representative id,
    duplicate count). Representative = min id (deterministic)."""
    return (
        df.select(F.col(id_col), doc_fingerprint(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


def _word_ngrams(toks: Column, n: int) -> Column:
    """Distinct word n-grams as strings (space-joined).

    ``toks`` MUST be a materialized column reference, not an inline
    expression: the lambda re-evaluates ``toks`` (via ``slice``) once
    per gram position, so an inline ``split(text)`` would re-tokenize
    the document for every position (measured 5× slower at sf0.1)."""
    if n == 1:
        return F.array_distinct(toks)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        )
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = DEFAULT_NUM_PERM,
    shingle_n: int = 2,
    hasher: str = "portable",
) -> DataFrame:
    """(id, sig_0..sig_{K-1}): min over shingles of K permuted hashes.

    Map-only: the shingle set never leaves its row. Each doc's grams are
    hashed once (``transform``), then each permutation takes its minimum
    with a flat ``array_min(transform(...))`` — one pass per
    permutation, no per-gram accumulator allocation (the fold form that
    rebuilt a K-wide array per shingle measured 2-4× slower at sf0.1).
    Zero shuffles — at 100 TB this is a pure scan→project stage, vs.
    the classic explode+groupBy which shuffles (or at best partially
    aggregates) every shingle."""
    consts = lcg_constants(num_perm)
    # tokenize into ITS OWN projection before gram construction — see
    # _word_ngrams on why feeding it the inline split is 5× slower;
    # fan_out: the gram hashing is CPU-bound and must not inherit a
    # single-file scan's one-task partitioning
    out = fan_out(df).select(F.col(id_col).alias("doc"), tokens(F.col(text_col)).alias("toks"))
    if shingle_n > 1:
        out = out.filter(F.size("toks") >= shingle_n)  # too-short docs have no n-grams
    hashed = out.select(
        "doc",
        F.transform(_word_ngrams(F.col("toks"), shingle_n), hash32(hasher)).alias("hs"),
    )
    # The K signature columns reach Catalyst as SQL text in one call,
    # as do the bands and pairs below: built from Column lambdas, the
    # dedup_minhash_lsh plan took 1,471 py4j round trips to build, as
    # SQL text 251. perm_hash_sql is THE permutation formula (the
    # oracles emit the same text) — never inline a copy here.
    return hashed.selectExpr(
        "doc",
        *(
            f"coalesce(array_min(transform(hs, h -> {perm_hash_sql('h', a, b)})), "
            # no shingles → the fold identity
            f"CAST({MERSENNE_P} AS BIGINT)) AS sig_{i}"
            for i, (a, b) in enumerate(consts)
        ),
    )


def _band_buckets(
    sigs: DataFrame, bands: int, rows_per_band: int, hasher: str
) -> DataFrame:
    """(doc, band, bucket) rows from a signature frame — the shared
    banding step of the self-join (:func:`minhash_lsh_pairs`) and
    incremental (:func:`incremental_matches_from_buckets`) LSH paths."""

    def bucket(band: int) -> str:
        members = ", ".join(
            f"sig_{band * rows_per_band + j}" for j in range(rows_per_band)
        )
        if hasher == "portable":
            return f"md5(concat_ws('-', {members}))"
        return f"CAST(xxhash64({members}) AS STRING)"  # 64-bit id, no hex string

    structs = ", ".join(
        f"struct({band} AS band, {bucket(band)} AS bucket)"
        for band in range(bands)
    )
    return sigs.selectExpr("doc", f"explode(array({structs})) AS bb").selectExpr(
        "doc", "bb.band AS band", "bb.bucket AS bucket"
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = DEFAULT_NUM_PERM,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 2,
    max_bucket_size: int = 1000,
    hasher: str = "portable",
) -> DataFrame:
    """Candidate near-duplicate pairs (d1 < d2) with the number of
    agreeing bands. Docs pair iff an entire band of their signatures
    matches — the classic LSH S-curve."""
    if num_perm % bands:
        raise ValueError("num_perm must be divisible by bands")
    rows_per_band = num_perm // bands
    sigs = minhash_signatures(df, text_col, id_col, num_perm, shingle_n, hasher)
    buckets = _band_buckets(sigs, bands, rows_per_band, hasher)
    return lsh_pairs_from_buckets(buckets, max_bucket_size)


def lsh_pairs_from_buckets(
    buckets: DataFrame, max_bucket_size: int = 1000
) -> DataFrame:
    """(d1 < d2, matching_bands) pairs from a (doc, band, bucket)
    frame — the post-banding half of :func:`minhash_lsh_pairs`,
    exposed so callers that band ONE signature frame several ways
    (expansion6.q_lsh_scurve_calibration sweeps 3 band configs) pay
    for signatures once instead of once per config.

    One shuffle groups each bucket's members; oversized buckets
    (degenerate content, the skew hazard) are dropped wholesale, and
    each surviving list expands to its (d1 < d2) pairs locally — no
    bucket self-join, no window pass.
    array_distinct collapses duplicate doc_id INPUT ROWS inside each
    bucket (identical rows band identically) — without it a
    duplicated doc double-counts matching_bands for every pair it is
    in and emits d1 == d2 self-pairs (duplicate-row gate,
    ORACLES.md #15). Dedup happens AFTER the collect, inside the one
    existing shuffle — a frame-level distinct() would cost a second.
    """
    members = (
        buckets.groupBy("band", "bucket")
        .agg(F.expr("sort_array(array_distinct(collect_list(doc))) AS docs"))
        .where(f"size(docs) >= 2 AND size(docs) <= {int(max_bucket_size)}")
    )
    pair_array = (
        "flatten(transform(sequence(0, size(docs) - 2), "
        "i -> transform(slice(docs, i + 2, size(docs)), "
        "d2 -> struct(docs[i] AS d1, d2 AS d2))))"
    )
    # (band, d1, d2) is already unique — a doc has exactly one bucket
    # per band — so a plain count equals COUNT(DISTINCT band) without
    # the two-shuffle distinct-aggregate expansion.
    return (
        members.selectExpr("band", f"explode({pair_array}) AS p")
        .selectExpr("band", "p.d1 AS d1", "p.d2 AS d2")
        # duplicate doc_id input rows would expand to d1 == d2
        # self-pairs (sorted-list slice pairing only guarantees
        # d1 <= d2) — drop them so the documented d1 < d2 contract
        # holds even on dirty re-ingests; ids appearing twice should
        # still be exact-deduped upstream (matching_bands can
        # otherwise double-count a pair within one band)
        .where("d1 != d2")
        .groupBy("d1", "d2")
        .agg(F.expr("count(1) AS matching_bands"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.2,
    max_doc_freq: int = 100000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing ≥1 gram.
    Inverted-index join: shuffle keys are grams, so co-grouped docs
    meet locally; ``max_doc_freq`` removes stop-grams that would
    explode the join (skew guard — at 100 TB this cap is mandatory)."""
    # tokenize in its own projection (see _word_ngrams: inline split
    # re-tokenizes per gram position, 5× slower)
    toked = fan_out(df).select(F.col(id_col).alias("doc"), tokens(F.col(text_col)).alias("toks"))
    base = toked.filter(F.size("toks") >= n) if n > 1 else toked
    # Each doc's gram-set size rides along with every posting, so the
    # per-pair union size |A|+|B|-shared is known locally — no separate
    # sizes aggregation and no post-hoc joins (two full shuffles saved;
    # at 100 TB those joins re-shuffle the entire pair set).
    #
    # The gram array MUST be materialized as its own column before the
    # size+explode projection: if `sz` referenced the raw n-gram
    # expression, the Project that lands above Generate would rebuild
    # the whole array once per exploded row (measured 30× slower).
    # explode_outer, NOT explode: for a plain attribute explode,
    # InferFiltersFromGenerate adds `size(grams) > 0` and predicate
    # pushdown inlines the whole gram-construction alias into a filter
    # below the fan-out exchange — re-tokenizing per gram position,
    # single-task, before the stage even starts (measured 3-4s of the
    # query at sf0.1). The outer variant infers nothing; empty docs
    # yield one null gram dropped right above the Generate.
    grams = base.select(
        "doc", _word_ngrams(F.col("toks"), n).alias("grams")
    ).select(
        "doc",
        F.size("grams").alias("sz"),
        F.explode_outer("grams").alias("gram"),
    ).filter(F.col("gram").isNotNull())
    # One shuffle groups each gram's posting list; stop-grams (lists
    # longer than max_doc_freq) are dropped wholesale, then each list
    # expands to its (d1 < d2) pairs locally — no gram self-join, and
    # skew is bounded by construction.
    # array_distinct: duplicate doc_id input rows post identical
    # (doc, sz) structs — without the collapse they inflate `shared`
    # past the true intersection (jaccard > 1) and emit d1 == d2
    # self-pairs (duplicate-row gate, ORACLES.md #15)
    postings = (
        grams.groupBy("gram")
        .agg(
            F.sort_array(
                F.array_distinct(F.collect_list(F.struct("doc", "sz")))
            ).alias("docs")
        )
        .filter(F.size("docs").between(2, max_doc_freq))
    )
    pair_array = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.size("docs") - 2),
            lambda i: F.transform(
                F.slice(F.col("docs"), i + 2, F.size("docs")),
                lambda d2: F.struct(
                    F.col("docs")[i]["doc"].alias("d1"),
                    F.col("docs")[i]["sz"].alias("sz1"),
                    d2["doc"].alias("d2"),
                    d2["sz"].alias("sz2"),
                ),
            ),
        )
    )
    return (
        postings.select(F.explode(pair_array).alias("p"))
        .select("p.d1", "p.sz1", "p.d2", "p.sz2")
        .groupBy("d1", "d2", "sz1", "sz2")
        .agg(F.count(F.lit(1)).alias("shared"))
        .select(
            "d1",
            "d2",
            F.round(
                F.col("shared") / (F.col("sz1") + F.col("sz2") - F.col("shared")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def dedup_pipeline(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = DEFAULT_NUM_PERM,
    bands: int = DEFAULT_BANDS,
    min_matching_bands: int = 2,
    shingle_n: int = 2,
    hasher: str = "portable",
) -> DataFrame:
    """End-to-end near-dup pipeline: MinHash-LSH candidate pairs →
    connected components → per-document verdict
    ``(doc_id, keep_id, is_duplicate)`` where ``keep_id`` is the
    smallest id in the document's duplicate component (its own id if
    unique). This is the full 100 TB dedup pass: two shuffles for
    candidates, O(log diameter) label-propagation rounds for grouping,
    one left join to produce the verdict."""
    from .graph import connected_components

    pairs = minhash_lsh_pairs(
        df, text_col, id_col, num_perm, bands, shingle_n, hasher=hasher
    ).filter(
        F.col("matching_bands") >= min_matching_bands
    )
    components = connected_components(pairs)
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(components, F.col("doc_id") == components.vertex, "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("keep_id"),
            (
                F.coalesce(F.col("component"), F.col("doc_id")) != F.col("doc_id")
            ).alias("is_duplicate"),
        )
    )


def simhash_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hasher: str = "portable",
) -> DataFrame:
    """64-bit SimHash: per token-hash bit, vote +1/-1; fingerprint bit
    = sign of the vote. Fully map-only: a doc's token hashes never leave
    its row (``transform`` + per-bit ``filter`` counts), so the plan is
    scan→project with zero shuffles — the explode+groupBy form shuffles
    every token at 100 TB. Per-bit vote ``sum(±1) > 0`` is equivalent to
    ``2·(set-bit count) > n_tokens``. Near-dup search then buckets on
    fingerprint bands (pair search composes with minhash_lsh_pairs
    machinery).

    The 64 hash bits come from the full md5-derived value on the
    portable path (two 32-bit halves, hi||lo) and from ``xxhash64``
    directly on the fast path. The fingerprint is a signed bigint in
    two's complement: bit 63 contributes ``-2^63`` so the value stays
    an exact int64 in both Spark and the DuckDB oracle.
    """
    # a null-text doc has no signature: every vote is null, the
    # fingerprint degenerates to 0, and ALL null docs collide into one
    # giant false-duplicate bucket (quadratic pair blowup at scale) —
    # drop them like the other signature families do
    df = df.filter(F.col(text_col).isNotNull())
    toks = tokens(F.col(text_col))
    if hasher == "fast":
        # one signed-64 array; arithmetic shiftright + &1 reads any bit
        hashed = fan_out(df).select(
            F.col(id_col).alias("doc"),
            # lambda wrapper: Spark 4 rejects *cols-variadic builtins
            # (F.xxhash64) as higher-order-function callbacks
            F.transform(toks, lambda t: F.xxhash64(t)).alias("hs_lo"),
        )
        votes = F.expr(
            "transform(sequence(0, 63), b -> "
            "size(filter(hs_lo, h -> ((h >> b) & 1) = 1)))"
        )
    else:
        # ONE md5 per token: materialize the digests in their own
        # projection and slice both 32-bit halves from it. Inlining
        # md5 into two separate transform lambdas digests every token
        # twice — Spark cannot CSE across lambda scopes, and the
        # digest dominates simhash cost. CollapseProject keeps the
        # projections separate (the digest array is a non-cheap expr
        # referenced twice).
        digests = fan_out(df).select(
            F.col(id_col).alias("doc"),
            F.transform(toks, lambda t: F.md5(t)).alias("__dg"),
        )
        hashed = digests.select(
            "doc",
            F.transform(
                F.col("__dg"),
                lambda d: F.conv(F.substring(d, 1, 8), 16, 10).cast("long"),
            ).alias("hs_lo"),
            F.transform(
                F.col("__dg"),
                lambda d: F.conv(F.substring(d, 9, 8), 16, 10).cast("long"),
            ).alias("hs_hi"),
        )
        votes = F.expr(
            "concat("
            "transform(sequence(0, 31), b -> "
            "size(filter(hs_lo, h -> ((h >> b) & 1) = 1))), "
            "transform(sequence(0, 31), b -> "
            "size(filter(hs_hi, h -> ((h >> b) & 1) = 1))))"
        )
    # Per-bit vote majority folded into ONE compact aggregate over the
    # 64-slot vote-count array instead of a Python-built 64-term Add
    # chain of per-bit filter expressions: identical exact-int64 math
    # (shiftleft(1L, 63) IS -2^63 in two's complement, matching the
    # old bit-63 weight), but the plan tree shrinks ~64x — the old
    # form cost ~1.8 s of driver-side construction+analysis per build
    # at r12 measurement, >half this query's wall (guide §7.3: very
    # large expression trees spend their time in the optimizer). The
    # vote array rides as zip_with's ARGUMENT (not inside a lambda
    # body), so it is evaluated once per row even after
    # CollapseProject inlines the single-use alias.
    fingerprint = F.expr(
        "aggregate("
        "zip_with(__votes, sequence(0, 63), (v, b) -> "
        "IF(2 * v > size(hs_lo), shiftleft(1L, b), 0L)), "
        "0L, (acc, x) -> acc + x)"
    )
    return hashed.withColumn("__votes", votes).select(
        F.col("doc"), fingerprint.cast("bigint").alias("simhash")
    )


def minhash_band_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = DEFAULT_NUM_PERM,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 2,
    hasher: str = "portable",
) -> DataFrame:
    """Public (doc, band, bucket) table — the persistable LSH index.
    Computing this ONCE and filtering it into corpus/new sides (or
    writing it as the standing index table) avoids re-tokenizing the
    documents per side; it is what a production deployment stores."""
    if num_perm % bands:
        raise ValueError("num_perm must be divisible by bands")
    return _band_buckets(
        minhash_signatures(df, text_col, id_col, num_perm, shingle_n, hasher),
        bands,
        num_perm // bands,
        hasher,
    )


def incremental_matches_from_buckets(
    corpus_buckets: DataFrame,
    new_buckets: DataFrame,
    min_bands: int = 1,
    broadcast_new: bool = True,
) -> DataFrame:
    """Incremental near-dup check: (new_doc, corpus_doc,
    matching_bands) for every new document that shares at least
    ``min_bands`` LSH bands with an indexed corpus document, from the
    two sides' band-bucket tables (:func:`minhash_band_buckets`, one
    shared computation or a persisted index). The NEW side is
    broadcast, so the corpus bucket table streams through map tasks
    with no shuffle. ``broadcast_new`` is a HARD hint (AQE never
    demotes an explicit broadcast): right for the common case of an
    increment orders of magnitude smaller than the corpus, but a
    probe batch comparable to the index would fail the broadcast
    build — pass ``broadcast_new=False`` there and let AQE pick the
    join strategy from runtime sizes."""
    new_side = new_buckets.withColumnRenamed("doc", "new_doc")
    if broadcast_new:
        new_side = F.broadcast(new_side)
    matched = (
        corpus_buckets.withColumnRenamed("doc", "corpus_doc")
        .join(new_side, ["band", "bucket"])
        .filter(F.col("corpus_doc") != F.col("new_doc"))
        .groupBy("new_doc", "corpus_doc")
        # countDistinct, not count: duplicate doc_id rows on either
        # side (a dirty re-ingest, the duplicate-row gate's shape)
        # would double-count a band; a unique pair matches each band
        # at most once, so DISTINCT band is exactly "agreeing bands"
        # while keeping both index sides map-only (ORACLES.md #15)
        .agg(F.countDistinct("band").alias("matching_bands"))
    )
    return matched.filter(F.col("matching_bands") >= min_bands)


def write_lsh_index(
    df: DataFrame,
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = DEFAULT_NUM_PERM,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 2,
    hasher: str = "portable",
    mode: str = "overwrite",
) -> None:
    """Persist the corpus's band-bucket table as the STANDING LSH
    index — the deployment shape of
    :func:`incremental_matches_from_buckets`: build once over the 100 TB
    corpus, then every new-batch probe reads it in place (the probe is
    a broadcast join, so no sort or clustering of the index buys
    anything). The width parameters
    are recorded as table properties so :func:`probe_lsh_index` can
    reject a mismatched probe instead of silently joining
    incompatible bucket hashes. ``mode="append"`` validates the new
    batch's widths against the existing stamp BEFORE writing — an
    append with different parameters would mix incompatible bucket
    hashes in one table while restamping the properties to the new
    values, defeating the very check they exist for."""
    import re as _re
    import shutil as _shutil

    spark = df.sparkSession
    asked = _lsh_width_props(num_perm, bands, shingle_n, hasher)
    if mode == "append" and spark.catalog.tableExists(table):
        recorded = _read_lsh_props(spark, table)
        bad = {
            k: (recorded.get(k), v)
            for k, v in asked.items()
            if recorded.get(k) != v
        }
        if bad:
            raise ValueError(
                f"cannot append to LSH index {table}: width parameters "
                f"differ from the recorded stamp {bad} (recorded, new) — "
                f"rebuild the index or match its parameters"
            )
    buckets = minhash_band_buckets(
        df, text_col, id_col, num_perm, bands, shingle_n, hasher
    )
    try:
        buckets.write.format("parquet").mode(mode).saveAsTable(table)
    except Exception as err:
        # In-memory catalog + persistent warehouse: a previous
        # session's table directory survives as an orphan the catalog
        # no longer knows (same recovery as catalog.create_table).
        if "LOCATION_ALREADY_EXISTS" not in str(err):
            raise
        loc = _re.search(r"'file:([^']+)'", str(err))
        if loc is None:
            raise
        _shutil.rmtree(loc.group(1), ignore_errors=True)
        buckets.write.format("parquet").mode(mode).saveAsTable(table)
    spark.sql(
        f"ALTER TABLE {table} SET TBLPROPERTIES ("
        f"'transformers.lsh.num_perm' = '{asked['num_perm']}', "
        f"'transformers.lsh.bands' = '{asked['bands']}', "
        f"'transformers.lsh.shingle_n' = '{asked['shingle_n']}', "
        f"'transformers.lsh.hasher' = '{asked['hasher']}')"
    )


def _lsh_width_props(
    num_perm: int, bands: int, shingle_n: int, hasher: str
) -> dict:
    return {
        "num_perm": str(int(num_perm)),
        "bands": str(int(bands)),
        "shingle_n": str(int(shingle_n)),
        "hasher": hasher,
    }


def _read_lsh_props(spark, table: str) -> dict:
    props = {
        r["key"]: r["value"]
        for r in spark.sql(f"SHOW TBLPROPERTIES {table}").collect()
    }
    return {
        k: props.get(f"transformers.lsh.{k}")
        for k in ("num_perm", "bands", "shingle_n", "hasher")
    }


def probe_lsh_index(
    spark,
    table: str,
    new: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = DEFAULT_NUM_PERM,
    bands: int = DEFAULT_BANDS,
    shingle_n: int = 2,
    hasher: str = "portable",
    min_bands: int = 1,
) -> DataFrame:
    """(new_doc, corpus_doc, matching_bands) for a new batch against a
    persisted :func:`write_lsh_index` table. The index side NEVER
    moves: the new batch's (small) bucket table broadcasts into a
    map-side hash join over the index scan — the only shuffle in the
    plan is the candidate-pair count, which is bounded by matches, not
    by the corpus. Width parameters must match the stamp the index was
    written with; a MISSING stamp also raises — a table without the
    properties (e.g. a write that died between saveAsTable and the
    ALTER, or a hand-made table) cannot prove its widths, and probing
    it would silently join incompatible bucket hashes. Rebuild such an
    index with :func:`write_lsh_index`."""
    if num_perm % bands:
        raise ValueError("num_perm must be divisible by bands")
    recorded = _read_lsh_props(spark, table)
    asked = _lsh_width_props(num_perm, bands, shingle_n, hasher)
    missing = [k for k, v in recorded.items() if v is None]
    if missing:
        raise ValueError(
            f"LSH index {table} has no recorded width properties "
            f"({missing}) — not a complete write_lsh_index table; "
            f"rebuild it (a write that died before stamping cannot "
            f"prove its parameters)"
        )
    mismatched = {
        k: (recorded[k], asked[k]) for k in asked if recorded[k] != asked[k]
    }
    if mismatched:
        raise ValueError(
            f"LSH index {table} was written with different width "
            f"parameters: {mismatched} (recorded, probed)"
        )
    new_buckets = minhash_band_buckets(
        new, text_col, id_col, num_perm, bands, shingle_n, hasher
    )
    return incremental_matches_from_buckets(
        spark.table(table), new_buckets, min_bands
    )
