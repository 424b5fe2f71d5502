"""Round-8 catalog expansion: eight pipeline operators, each
Spark-first with an exact DuckDB oracle, closing the last
unrepresented pipeline shapes the round-7 verdict named (embedding-
space decontamination, hybrid retrieval fusion, cross-lingual near-dup
candidates, shard-skew audit) plus four standing audits a production
training-data pipeline runs continuously.

* embedding_decontamination — eval-vs-train near-dup in EMBEDDING
  space (completes curation_decontamination's n-gram-only view): the
  deterministic hash-mod split assigns train/eval, hyperplane-LSH
  buckets generate candidates, and per cosine threshold the query
  reports how many eval vectors have a too-close train neighbor.
  Thresholds are literal-frame keyed so both rows survive an empty
  corpus (ORACLES.md #13).
* retrieval_rrf_fusion — hybrid retrieval: BM25 top-5 (lexical) and
  exact-cosine top-5 (dense) fused with reciprocal-rank fusion
  1/(60+r). The fused score is a fixed-shape two-term double
  expression (identical IEEE ops in both engines — never a
  row-order-dependent sum), and distinct fractions differ by
  >= 1/(65*65)^2 so double ordering equals exact rational ordering.
* crosslingual_near_dup — cross-language near-dup CANDIDATES via
  shared word-4-gram shingles after fold/strip normalization
  (text.normalized_text): inverted-index join with a document-
  frequency stop-gram cap, rolled up per unordered language pair.
  4-grams, not bigrams: on a small shared vocabulary the bigram df
  distribution is bimodal (singletons + corpus-wide stop-grams), so
  every bigram either fails the cap or the min-shared bar; 4-grams
  keep the index selective (measured sf0.1: bigram max df 338/5000
  docs -> zero candidates; 4-gram max df 6 -> 52k pair slots, 197
  candidate pairs).
* curation_shard_skew — the write-side skew audit curation_shard_plan
  lacks: per-shard doc/byte histogram (min / discrete p50 / max) and
  the max/p50 byte skew ratio — ONE row a deployment alerts on.
* sketch_hist_quantile_error — mergeable fixed-width-histogram
  quantile estimator (bin counts are sum-mergeable, the property a
  100 TB rollup needs) vs exact discrete quantiles per event type,
  with absolute error. Estimator: smallest bin whose cumulative count
  reaches ceil(q*n); estimate = bin lower edge.
* ivf_probe_recall_curve — recall@5 of IVF ANN as a function of
  n_probe (1 vs 4): the probe-budget/recall trade-off curve that
  complements embedding_recall_curve's LSH view. Parameter-keyed,
  empty-safe.
* dedup_degree_profile — candidate-graph degree histogram over the
  banded-LSH pair set (skew-capped, as everywhere): how many docs
  have 0/1/2-3/4-7/8+ candidate partners. The super-node early
  warning for connected components — one hub makes label propagation
  quadratic, and this is the audit that sees it first.
* curation_epoch_shuffle — deterministic per-epoch shuffle-block
  assignment audit (block = md5('epoch<e>:' || doc_id) mod 64): per
  epoch, block-count/size stats. The reproducible data-ordering step
  of a multi-epoch training run, checked for uniformity.

Determinism rules as everywhere (queries.py docstring, ORACLES.md):
exact integer aggregates, discrete percentiles, md5-derived hashes,
fixed-shape double expressions (at most one division per term, never
an order-dependent double sum), explicit whitespace classes, İ
pre-replace in every oracle lower() (class 5), DECIMAL/HUGEINT cast
away at every oracle output (canon.py hazards).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from . import cache
from .operators.dedup import DEMO_BANDS, DEMO_NUM_PERM, _word_ngrams
from .operators.frames import literal_frame
from .operators.hashing import duck_h32, h32
from .operators.similarity import (
    _dot,
    _norm,
    cosine_topk,
    hyperplane_signature,
    hyperplane_weights,
)
from .operators.skew import fan_out
from .operators.specs import (
    DUCK_NORMALIZED,
    N_QUERY_VECS,
    _duck_grams,
    _duck_sig_terms,
)
from .operators.text import normalized_text, tokens
from .sources.testdata import register_tables

__all__ = ["expansion5_specs"]

# decontamination cosine thresholds: p90 / p99 of the bucket-collision
# cosine distribution on the synthetic corpus — one permissive, one
# strict, so both the flagged and the near-empty regimes stay gated
DECON_THRESHOLDS = (0.2, 0.35)
RRF_K = 60
XLING_N = 4  # shingle width (see module docstring on why not 2)
XLING_MIN_SHARED = 3  # shared shingles to call a pair a candidate
XLING_MAX_DF = 50  # stop-gram cap: grams in more docs are dropped
SHARD_BYTES = 65536  # same budget as curation_shard_plan
HIST_BIN_W = 10.0  # events.value spans [0, ~500] -> ~50 bins
EPOCH_BLOCKS = 64


# ---------------------------------------------------------------------------
# 1. embedding_decontamination
# ---------------------------------------------------------------------------


def q_embedding_decontamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Eval-vs-train embedding decontamination: hash-mod split
    (operators/split.py, train=80%), hyperplane-LSH bucket candidates
    (the same 8-plane signature as similarity_lsh_ann), cosine >=
    threshold flags an eval vector as contaminated.

    Scale shape: the split is a map-only projection; candidates come
    from the bucket equi-join (work follows bucket sizes, never
    |eval| x |train|); the threshold fan-out is a 2-row broadcast
    literal frame. Flag counting is COUNT(DISTINCT eval id), so
    duplicate input rows and multi-candidate eval vectors collapse
    inside the one aggregate (ORACLES.md #15)."""
    from .operators.split import split_expr

    register_tables(spark, sf_dir, ("embeddings",))
    emb = spark.table("embeddings").filter(F.col("embedding").isNotNull())
    weights = hyperplane_weights(8, 64)
    sig = emb.select(
        "vec_id",
        "embedding",
        hyperplane_signature(F.col("embedding"), weights).alias("bucket"),
        split_expr(F.col("vec_id")).alias("split"),
    )
    train = sig.filter(F.col("split") == "train").select(
        F.col("embedding").alias("tvec"), "bucket"
    )
    ev = sig.filter(F.col("split") != "train").select(
        F.col("vec_id").alias("eid"), F.col("embedding").alias("evec"), "bucket"
    )
    pairs = ev.join(train, "bucket").select(
        "eid",
        F.round(
            _dot(F.col("evec"), F.col("tvec"))
            / (_norm(F.col("evec")) * _norm(F.col("tvec"))),
            6,
        ).alias("cosine"),
    )
    ks = literal_frame(
        spark, [(t,) for t in DECON_THRESHOLDS], [("threshold", "double")]
    )
    # Inner non-equi join against the broadcast literal frame: thresholds
    # with zero matches are restored by the final left join + coalesce(0),
    # so the outer join type here bought nothing except BNLJ's slower
    # default-join path on the big side.
    flagged = (
        pairs.join(F.broadcast(ks), F.col("cosine") >= F.col("threshold"))
        .groupBy("threshold")
        .agg(F.countDistinct("eid").alias("__f"))
    )
    n_eval = ev.agg(F.countDistinct("eid").alias("__n"))
    return (
        ks.join(flagged, "threshold", "left")
        .crossJoin(F.broadcast(n_eval))
        .select(
            "threshold",
            F.coalesce(F.col("__n"), F.lit(0)).cast("bigint").alias("n_eval"),
            F.coalesce(F.col("__f"), F.lit(0)).cast("bigint").alias(
                "n_flagged"
            ),
            F.when(
                F.coalesce(F.col("__n"), F.lit(0)) > 0,
                F.round(
                    F.coalesce(F.col("__f"), F.lit(0)).cast("double")
                    / F.col("__n").cast("double"),
                    6,
                ),
            ).alias("flag_rate"),
        )
    )


def _oracle_embedding_decontamination() -> str:
    sig_terms = _duck_sig_terms()
    ks = " UNION ALL ".join(
        f"SELECT CAST({t} AS DOUBLE) AS threshold" for t in DECON_THRESHOLDS
    )
    return f"""
WITH vecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  WHERE embedding IS NOT NULL
),
sigs AS (
  SELECT vec_id, v, CAST({sig_terms} AS BIGINT) AS bucket,
         ({duck_h32("CAST(vec_id AS VARCHAR)")}) % 100 AS b100
  FROM vecs
),
tr AS (SELECT v AS tvec, bucket FROM sigs WHERE b100 < 80),
ev AS (SELECT vec_id AS eid, v AS evec, bucket FROM sigs WHERE b100 >= 80),
pairs AS (
  SELECT eid,
    ROUND(list_dot_product(evec, tvec)
          / (sqrt(list_dot_product(evec, evec))
             * sqrt(list_dot_product(tvec, tvec))), 6) AS cosine
  FROM ev JOIN tr USING (bucket)
),
ks AS ({ks}),
fl AS (
  SELECT threshold, COUNT(DISTINCT eid) AS f
  FROM ks LEFT JOIN pairs ON cosine >= threshold GROUP BY threshold
),
ne AS (SELECT COUNT(DISTINCT eid) AS n FROM ev)
SELECT ks.threshold,
       CAST(n AS BIGINT) AS n_eval,
       CAST(COALESCE(f, 0) AS BIGINT) AS n_flagged,
       CASE WHEN n > 0
            THEN ROUND(CAST(COALESCE(f, 0) AS DOUBLE) / CAST(n AS DOUBLE), 6)
       END AS flag_rate
FROM ks LEFT JOIN fl USING (threshold) CROSS JOIN ne
"""


# ---------------------------------------------------------------------------
# 2. retrieval_rrf_fusion
# ---------------------------------------------------------------------------


def _rrf_fusion_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Un-checkpointed RRF frame — the real logical plan, exposed so
    tests/test_plan_pins.py can assert plan properties (the public
    query eagerly localCheckpoints, which materializes the plan into a
    `Scan ExistingRDD` that a pin can't see through)."""
    from .operators.text import bm25_topk

    register_tables(spark, sf_dir, ("documents", "embeddings"))
    docs = spark.table("documents")
    emb = spark.table("embeddings")
    bm = (
        bm25_topk(docs, docs.filter(F.col("doc_id") < N_QUERY_VECS), top_k=5)
        .groupBy("query_id", F.col("doc_id").alias("cand"))
        .agg(F.min("rank").alias("br"))
    )
    cs = (
        cosine_topk(emb, emb.filter(F.col("vec_id") < N_QUERY_VECS), k=5)
        .groupBy("query_id", F.col("neighbor_id").alias("cand"))
        .agg(F.min("rank").alias("cr"))
    )
    fused = bm.join(cs, ["query_id", "cand"], "full").select(
        "query_id",
        "cand",
        (
            F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("br")), F.lit(0.0))
            + F.coalesce(
                F.lit(1.0) / (F.lit(RRF_K) + F.col("cr")), F.lit(0.0)
            )
        ).alias("score"),
    )
    win = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("cand"))
    return (
        fused.withColumn("fused_rank", F.row_number().over(win))
        .filter(F.col("fused_rank") <= 3)
        .select(
            "query_id",
            F.col("cand").alias("doc_id"),
            F.col("fused_rank").cast("int").alias("fused_rank"),
            F.round(F.col("score"), 6).alias("rrf_score"),
        )
    )


def q_retrieval_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: reciprocal-rank fusion of BM25 top-5 (lexical,
    operators/text.bm25_topk) and exact-cosine top-5 (dense,
    operators/similarity.cosine_topk) over the id-aligned documents /
    embeddings tables; fused top-3 per query.

    Determinism: ranks collapse to MIN per (query, candidate) first
    (duplicate-row gate — a duplicated corpus row yields adjacent
    ranks, and min() collapses them inside one aggregate), then the
    score is the fixed two-term expression 1/(60+br) + 1/(60+cr) —
    identical IEEE double ops in both engines, and distinct rational
    values differ by >= (65*65)^-2 >> double eps, so ordering on the
    double IS the exact fraction ordering. Missing-list terms
    contribute 0.

    Scale shape: BM25 is the inverted-index join (never
    query x corpus); the dense side is the broadcast-queries
    brute-force scan; the fusion join touches <= 2 x |q| x 5 rows.
    Narrow shuffles, so the 8-wide clamp + eager checkpoint from
    q_bm25_retrieval applies (see that docstring for the measured
    rationale). The logical plan lives in ``_rrf_fusion_frame`` so the
    plan-pin tests can see past the eager checkpoint."""
    from .streaming.windows import shuffle_partitions

    with shuffle_partitions(spark, 8):
        return _rrf_fusion_frame(spark, sf_dir).localCheckpoint(eager=True)


# float discipline mirrors ORACLE_BM25_RETRIEVAL exactly (its comment
# applies verbatim); the fusion terms are CAST(1.0 AS DOUBLE)/(60+r)
# so DuckDB does IEEE double division, not DECIMAL division.
ORACLE_RETRIEVAL_RRF_FUSION = f"""
WITH post AS (
  SELECT doc_id AS doc, term, COUNT(*) AS tf
  FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(replace(text, 'İ', 'i̇'))), '[ \\t\\n\\x0B\\f\\r]+')) AS term
        FROM documents)
  WHERE length(term) >= 3
  GROUP BY 1, 2
),
doclen AS (SELECT doc, CAST(SUM(tf) AS BIGINT) AS dl FROM post GROUP BY 1),
stats AS (
  SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
         CAST(COUNT(*) AS DOUBLE) AS n_docs
  FROM doclen
),
dfreq AS (SELECT term, COUNT(*) AS df FROM post GROUP BY 1),
qterms AS (
  SELECT DISTINCT doc_id AS query_id, term
  FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(lower(replace(text, 'İ', 'i̇'))), '[ \\t\\n\\x0B\\f\\r]+')) AS term
        FROM documents WHERE doc_id < {N_QUERY_VECS})
  WHERE length(term) >= 3
),
matched AS (
  SELECT q.query_id, p.doc,
         CAST(ROUND(((s.n_docs - f.df + 0.5) / (f.df + 0.5))
               * ((p.tf * (1.2 + 1.0))
                  / (p.tf + 1.2 * ((1.0 - 0.75) + (0.75 * l.dl) / s.avgdl))), 6)
              AS DECIMAL(18,6)) AS part_score
  FROM qterms q
  JOIN post p  ON q.term = p.term
  JOIN dfreq f ON q.term = f.term
  JOIN doclen l ON p.doc = l.doc
  CROSS JOIN stats s
  WHERE q.query_id <> p.doc
),
bm_scored AS (
  SELECT query_id, doc, ROUND(CAST(SUM(part_score) AS DOUBLE), 6) AS score
  FROM matched GROUP BY 1, 2
),
bm_list AS (
  SELECT query_id, doc AS cand, rank FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY score DESC, doc ASC) AS rank
    FROM bm_scored
  ) WHERE rank <= 5
),
bmr AS (SELECT query_id, cand, MIN(rank) AS br FROM bm_list GROUP BY 1, 2),
qv AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec FROM embeddings
  WHERE vec_id < {N_QUERY_VECS} AND embedding IS NOT NULL
),
cv AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cvec
       FROM embeddings WHERE embedding IS NOT NULL),
cos_scored AS (
  SELECT query_id, neighbor_id,
    ROUND(list_dot_product(qvec, cvec)
          / (sqrt(list_dot_product(qvec, qvec))
             * sqrt(list_dot_product(cvec, cvec))), 6) AS cosine
  FROM cv CROSS JOIN qv WHERE neighbor_id != query_id
),
cos_list AS (
  SELECT query_id, neighbor_id AS cand,
         CAST(row_number() OVER w AS INT) AS rank
  FROM cos_scored
  WINDOW w AS (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC)
  QUALIFY row_number() OVER w <= 5
),
csr AS (SELECT query_id, cand, MIN(rank) AS cr FROM cos_list GROUP BY 1, 2),
fused AS (
  SELECT COALESCE(b.query_id, c.query_id) AS query_id,
         COALESCE(b.cand, c.cand) AS cand,
         COALESCE(CAST(1.0 AS DOUBLE) / ({RRF_K} + b.br),
                  CAST(0.0 AS DOUBLE))
         + COALESCE(CAST(1.0 AS DOUBLE) / ({RRF_K} + c.cr),
                    CAST(0.0 AS DOUBLE)) AS score
  FROM bmr b FULL OUTER JOIN csr c
    ON b.query_id = c.query_id AND b.cand = c.cand
)
SELECT query_id, cand AS doc_id,
       CAST(row_number() OVER w AS INT) AS fused_rank,
       ROUND(score, 6) AS rrf_score
FROM fused
WINDOW w AS (PARTITION BY query_id ORDER BY score DESC, cand ASC)
QUALIFY row_number() OVER w <= 3
"""


# ---------------------------------------------------------------------------
# 3. crosslingual_near_dup
# ---------------------------------------------------------------------------


def q_crosslingual_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-language near-dup candidates: word-4-gram shingles of the
    fold/strip-normalized text (lowercase, non-alphanumerics stripped —
    text.normalized_text), inverted-index posting lists expanded to
    DIFFERENT-language doc pairs, candidate = >= XLING_MIN_SHARED
    shared shingles; rolled up per unordered language pair.

    Scale shape: the only quadratic site is the local posting-list
    pair expansion, and the document-frequency cap (XLING_MAX_DF)
    bounds each gram's pair slots at df*(df-1)/2 — the same stop-gram
    discipline as the Jaccard inverted index (boilerplate shingles
    shared by thousands of docs are dropped WHOLESALE on both engine
    and oracle). Langs attach to the df-capped candidate PAIR set,
    never to the posting set. Gram sets are DISTINCT per doc and lang
    collapses to MIN per doc, so duplicate input rows cannot fan the
    pair counts (ORACLES.md #15)."""
    register_tables(spark, sf_dir, ("documents",))
    docs = spark.table("documents")
    langs = docs.groupBy(F.col("doc_id").alias("doc")).agg(
        F.min("lang").alias("lang")
    )
    toked = fan_out(docs).select(
        F.col("doc_id").alias("doc"),
        tokens(normalized_text(F.col("text"))).alias("t"),
    ).filter(F.size("t") >= XLING_N)
    grams = toked.select(
        "doc", F.explode(_word_ngrams(F.col("t"), XLING_N)).alias("gram")
    )
    # Postings pattern (dedup.ngram_jaccard_pairs): ONE shuffle groups
    # each gram's posting list, the document-frequency cap filters on
    # the list size, and pairs expand LOCALLY from the sorted list.
    # The previous gram-keyed self-join form evaluated the whole
    # tokenize+explode+distinct pipeline SIX times (dfreq + both join
    # sides, each with its own kept/langs rebuild — no exchange reuse
    # fired), and shuffled the posting set three more times.
    # _word_ngrams is distinct per doc, so duplicate (doc, gram) rows
    # can only come from duplicated INPUT rows — array_distinct inside
    # the one aggregate collapses them (the old frame-level .distinct()
    # did the same a shuffle earlier). collect_list drops NULL docs
    # (they can never pair: the old inner join against doc-keyed langs
    # dropped them too), but the document-frequency CAP must still
    # count a null-doc posting as one distinct doc — the old dfreq
    # (and the oracle's dfq) counts DISTINCT (doc, gram) rows
    # INCLUDING the null doc, so a boundary gram with a null posting
    # must drop identically: __null adds that one back. Lower bound 2
    # is on REAL docs (a 1-real + null gram passes the old d >= 2 but
    # yields no pairs either way).
    # Buffer-size assumption (r12 ADVICE, documented trade): the
    # collect_list materializes a gram's full posting array BEFORE the
    # XLING_MAX_DF size filter, so one degenerate stop-gram holds its
    # whole posting list in a single aggregation buffer — the same
    # bound the repo's ngram_jaccard inverted index accepts, because
    # 4-gram shingles over natural text have sharply bounded df (a
    # 4-gram shared by millions of docs is boilerplate the upstream
    # dedup/quality passes remove). A pre-filter (per-gram count
    # aggregate joined back) would bound the buffer at the price of a
    # second full shuffle of every (gram, doc) row on EVERY run — the
    # wrong trade while the assumption holds.
    postings = (
        grams.groupBy("gram")
        .agg(
            F.sort_array(F.array_distinct(F.collect_list("doc"))).alias("docs"),
            F.max(F.col("doc").isNull().cast("int")).alias("__null"),
        )
        .filter(
            (F.size("docs") >= 2)
            & ((F.size("docs") + F.col("__null")) <= XLING_MAX_DF)
        )
    )
    pair_array = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.size("docs") - 2),
            lambda i: F.transform(
                F.slice(F.col("docs"), i + 2, F.size("docs")),
                lambda d2: F.struct(F.col("docs")[i].alias("d1"), d2.alias("d2")),
            ),
        )
    )
    # Count shared grams per (d1 < d2) pair FIRST, then attach langs to
    # the (tiny, df-capped) candidate pair set — the language predicate
    # commutes with the count, and the doc-keyed langs join now touches
    # |pairs| rows instead of |postings| rows.
    shared = (
        postings.select(F.explode(pair_array).alias("p"))
        .select("p.d1", "p.d2")
        .groupBy("d1", "d2")
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= XLING_MIN_SHARED)
    )
    pairs = (
        shared.join(
            langs.select(F.col("doc").alias("d1"), F.col("lang").alias("l1")),
            "d1",
        )
        .join(
            langs.select(F.col("doc").alias("d2"), F.col("lang").alias("l2")),
            "d2",
        )
        .filter(F.col("l1") != F.col("l2"))
    )
    rolled = pairs.select(
        F.least("l1", "l2").alias("lang_a"),
        F.greatest("l1", "l2").alias("lang_b"),
        "shared",
    )
    rolled.createOrReplaceTempView("xling_pairs_v")
    return spark.sql(
        """
        SELECT lang_a, lang_b,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               CAST(MAX(shared) AS BIGINT) AS max_shared,
               CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY shared)
                    AS BIGINT) AS p50_shared
        FROM xling_pairs_v GROUP BY lang_a, lang_b
        """
    )


ORACLE_CROSSLINGUAL_NEAR_DUP = f"""
WITH langs AS (SELECT doc_id AS doc, MIN(lang) AS lang FROM documents GROUP BY 1),
toks AS (
  SELECT doc_id AS doc, regexp_split_to_array({DUCK_NORMALIZED}, ' ') AS t
  FROM documents
),
g AS (
  SELECT DISTINCT doc, gram FROM (
    SELECT doc, unnest({_duck_grams(XLING_N)}) AS gram FROM toks
    WHERE len(t) >= {XLING_N}
  )
),
dfq AS (SELECT gram, COUNT(*) AS d FROM g GROUP BY 1),
kept AS (SELECT gram FROM dfq WHERE d BETWEEN 2 AND {XLING_MAX_DF}),
gg AS (
  SELECT g.doc, g.gram, l.lang
  FROM g JOIN kept USING (gram) JOIN langs l ON g.doc = l.doc
),
p AS (
  SELECT a.doc AS d1, b.doc AS d2, a.lang AS l1, b.lang AS l2,
         COUNT(*) AS shared
  FROM gg a JOIN gg b
    ON a.gram = b.gram AND a.doc < b.doc AND a.lang <> b.lang
  GROUP BY 1, 2, 3, 4
  HAVING COUNT(*) >= {XLING_MIN_SHARED}
)
SELECT least(l1, l2) AS lang_a, greatest(l1, l2) AS lang_b,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(MAX(shared) AS BIGINT) AS max_shared,
       CAST(quantile_disc(shared, 0.5) AS BIGINT) AS p50_shared
FROM p GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# 4. curation_shard_skew
# ---------------------------------------------------------------------------


def q_curation_shard_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bytes-per-shard skew audit for curation_shard_plan: docs are
    attributed to the shard their byte offset STARTS in (the same
    two-phase prefix-sum assignment as the plan itself), then ONE row
    summarizes the per-shard histogram — doc and byte min / discrete
    p50 / max, and the max/p50 byte skew ratio a deployment alerts on.
    The tail shard is deliberately included: an underfull final shard
    is real output skew, not noise.

    Scale shape: the prefix sum is the parallel two-phase pattern
    (operators/curation.pack_sequences — per-partition subtotals then
    a bounded offset join, never a single-partition window); the
    histogram is one shard-keyed aggregate and the final rollup sees
    only n_shards rows."""
    from .operators.curation import pack_sequences

    register_tables(spark, sf_dir, ("documents",))
    docs = spark.table("documents").select(
        "doc_id", F.col("n_chars").cast("bigint").alias("n_bytes")
    )
    plan = pack_sequences(docs, seq_len=SHARD_BYTES, count_col="n_bytes")
    per_shard = plan.groupBy(F.col("seq_id").alias("shard")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bytes").alias("sh_bytes"),
    )
    per_shard.createOrReplaceTempView("shard_sizes_v")
    return spark.sql(
        """
        SELECT n_shards, min_docs, p50_docs, max_docs,
               min_bytes, p50_bytes, max_bytes,
               CASE WHEN p50_bytes > 0
                    THEN ROUND(CAST(max_bytes AS DOUBLE)
                               / CAST(p50_bytes AS DOUBLE), 6)
               END AS bytes_skew
        FROM (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_shards,
                 CAST(MIN(n_docs) AS BIGINT) AS min_docs,
                 CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY n_docs)
                      AS BIGINT) AS p50_docs,
                 CAST(MAX(n_docs) AS BIGINT) AS max_docs,
                 CAST(MIN(sh_bytes) AS BIGINT) AS min_bytes,
                 CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY sh_bytes)
                      AS BIGINT) AS p50_bytes,
                 CAST(MAX(sh_bytes) AS BIGINT) AS max_bytes
          FROM shard_sizes_v
        )
        """
    )


ORACLE_CURATION_SHARD_SKEW = f"""
WITH cum AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_bytes,
         SUM(CAST(n_chars AS BIGINT)) OVER (ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_chars AS start
  FROM documents
),
per_shard AS (
  SELECT CAST(start // {SHARD_BYTES} AS BIGINT) AS shard,
         COUNT(*) AS n_docs, SUM(n_bytes) AS sh_bytes
  FROM cum GROUP BY 1
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_shards,
         CAST(MIN(n_docs) AS BIGINT) AS min_docs,
         CAST(quantile_disc(n_docs, 0.5) AS BIGINT) AS p50_docs,
         CAST(MAX(n_docs) AS BIGINT) AS max_docs,
         CAST(MIN(sh_bytes) AS BIGINT) AS min_bytes,
         CAST(quantile_disc(sh_bytes, 0.5) AS BIGINT) AS p50_bytes,
         CAST(MAX(sh_bytes) AS BIGINT) AS max_bytes
  FROM per_shard
)
SELECT n_shards, min_docs, p50_docs, max_docs,
       min_bytes, p50_bytes, max_bytes,
       CASE WHEN p50_bytes > 0
            THEN ROUND(CAST(max_bytes AS DOUBLE)
                       / CAST(p50_bytes AS DOUBLE), 6)
       END AS bytes_skew
FROM agg
"""


# ---------------------------------------------------------------------------
# 5. sketch_hist_quantile_error
# ---------------------------------------------------------------------------


def q_sketch_hist_quantile_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Mergeable histogram-quantile estimator vs exact discrete
    quantiles, per event type: bin counts (width HIST_BIN_W) are the
    sum-mergeable state a 100 TB rollup table stores; the estimate for
    quantile q is the lower edge of the smallest bin whose cumulative
    count reaches ceil(q * n). Reported against percentile_disc with
    absolute error — the accuracy audit that prices the sketch before
    a pipeline trusts it (same contract as sketch_hll_error_by_day).

    Scale shape: ONE map-side-combined (type, bin) count aggregate;
    the cumulative window runs over bins-per-type rows (~50), never
    data-sized. 0.5 is a power of two, so q*n is exact there; 0.9*n
    is the same IEEE double in both engines.

    Bounded-domain contract (the extreme-values gate caught both
    halves): NaN/±inf cannot be binned at all and are excluded from
    sketch AND exact sides in BOTH engines; finite values outside the
    sketch domain [0, 1000) — e.g. the wave's 1e307, whose raw bin id
    overflows int64 — saturate into an underflow bucket (bin -1, all
    negatives) or an overflow bucket (bin 100), exactly like a real
    bounded histogram sketch. A saturated estimate reads as the
    domain edge, and the audit then SHOWS the large error — which is
    the point of an estimator-error query."""
    register_tables(spark, sf_dir, ("events",))
    ev = spark.table("events").filter(
        F.col("value").isNotNull()
        & F.col("event_type").isNotNull()
        & ~F.isnan("value")
        & (F.abs(F.col("value")) != F.lit(float("inf")))
    )
    ev.createOrReplaceTempView("hist_events_v")
    return spark.sql(
        f"""
        WITH h AS (
          SELECT event_type,
                 CASE WHEN value < 0D THEN CAST(-1 AS BIGINT)
                      WHEN value >= 1000D THEN CAST(100 AS BIGINT)
                      ELSE CAST(FLOOR(value / {HIST_BIN_W}D) AS BIGINT)
                 END AS bin,
                 COUNT(*) AS n
          FROM hist_events_v GROUP BY 1, 2
        ),
        c AS (
          SELECT event_type, bin,
                 SUM(n) OVER (PARTITION BY event_type ORDER BY bin
                              ROWS UNBOUNDED PRECEDING) AS cum,
                 SUM(n) OVER (PARTITION BY event_type) AS tot
          FROM h
        ),
        qs AS (SELECT CAST(0.5 AS DOUBLE) AS q
               UNION ALL SELECT CAST(0.9 AS DOUBLE)),
        est AS (
          SELECT event_type, q, MIN(bin) AS est_bin
          FROM c JOIN qs ON cum >= CEIL(q * tot)
          GROUP BY 1, 2
        ),
        ex AS (
          SELECT event_type,
                 percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS e50,
                 percentile_disc(0.9) WITHIN GROUP (ORDER BY value) AS e90
          FROM hist_events_v GROUP BY 1
        )
        SELECT est.event_type, est.q,
               est.est_bin * {HIST_BIN_W}D AS est_value,
               CASE WHEN est.q = CAST(0.5 AS DOUBLE) THEN ex.e50
                    ELSE ex.e90 END AS exact_value,
               ROUND(ABS(est.est_bin * {HIST_BIN_W}D
                         - CASE WHEN est.q = CAST(0.5 AS DOUBLE) THEN ex.e50
                                ELSE ex.e90 END), 6) AS abs_err
        FROM est JOIN ex ON est.event_type = ex.event_type
        """
    )


ORACLE_SKETCH_HIST_QUANTILE_ERROR = f"""
WITH v AS (
  SELECT event_type, value FROM events
  WHERE value IS NOT NULL AND event_type IS NOT NULL AND isfinite(value)
),
h AS (
  SELECT event_type,
         CASE WHEN value < CAST(0 AS DOUBLE) THEN CAST(-1 AS BIGINT)
              WHEN value >= CAST(1000 AS DOUBLE) THEN CAST(100 AS BIGINT)
              ELSE CAST(FLOOR(value / CAST({HIST_BIN_W} AS DOUBLE)) AS BIGINT)
         END AS bin,
         COUNT(*) AS n
  FROM v GROUP BY 1, 2
),
c AS (
  SELECT event_type, bin,
         SUM(n) OVER (PARTITION BY event_type ORDER BY bin
                      ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(n) OVER (PARTITION BY event_type) AS tot
  FROM h
),
qs AS (SELECT CAST(0.5 AS DOUBLE) AS q UNION ALL SELECT CAST(0.9 AS DOUBLE)),
est AS (
  SELECT event_type, q, MIN(bin) AS est_bin
  FROM c JOIN qs ON cum >= CEIL(q * tot)
  GROUP BY 1, 2
),
ex AS (
  SELECT event_type,
         quantile_disc(value, 0.5) AS e50,
         quantile_disc(value, 0.9) AS e90
  FROM v GROUP BY 1
)
SELECT est.event_type, est.q,
       est.est_bin * CAST({HIST_BIN_W} AS DOUBLE) AS est_value,
       CASE WHEN est.q = CAST(0.5 AS DOUBLE) THEN ex.e50
            ELSE ex.e90 END AS exact_value,
       ROUND(ABS(est.est_bin * CAST({HIST_BIN_W} AS DOUBLE)
                 - CASE WHEN est.q = CAST(0.5 AS DOUBLE) THEN ex.e50
                        ELSE ex.e90 END), 6) AS abs_err
FROM est JOIN ex ON est.event_type = ex.event_type
"""


# ---------------------------------------------------------------------------
# 6. ivf_probe_recall_curve
# ---------------------------------------------------------------------------

IVF_PROBES = (1, 4)


def q_ivf_probe_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of IVF ANN (default id<16 codebook, as
    similarity_ivf_ann) as a function of n_probe — the probe-budget /
    recall trade-off curve, parameter-keyed so both rows survive an
    empty RESULT (ORACLES.md #13). An empty CORPUS rejects codebook
    collection with a loud ValueError — the same contract as every
    IVF/PQ sibling (empty_gate.EMPTY_ERROR_CONTRACTS). Complements
    embedding_recall_curve (which pins the LSH family) so BOTH ANN
    index families carry a standing quality gate.

    Hit/slot sets are DISTINCT (query, neighbor) pairs on both sides —
    a duplicated corpus vector occupies two rank slots but one
    identity, and recall is about identities (duplicate-row gate;
    the oracle collapses the same way)."""
    register_tables(spark, sf_dir, ("embeddings",))
    emb = spark.table("embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    exact = cache.track(
        cosine_topk(emb, queries, k=5)
        .select("query_id", "neighbor_id")
        .distinct()
        .persist()
    )
    # ONE codebook collect shared across the probe settings (the same
    # index is probed at every n_probe; per-call collects cost ~2 s
    # cold at sf0.1, measured in round 10; r9 verdict ask 4). The public
    # default_codebook helper IS ivf_topk's default seeding rule, so
    # the curve can never diverge from per-call behavior (r10 ADVICE).
    # ivf_probe_sweep also shares the corpus CELL ASSIGNMENT and the
    # candidate scoring across the settings (one persisted scored
    # frame; per-setting prefix filters — equivalence documented on
    # the operator), where the old per-setting ivf_topk loop re-ran
    # both once per n_probe.
    from .operators.similarity import default_codebook, ivf_probe_sweep

    codebook = default_codebook(emb)
    approx = (
        ivf_probe_sweep(
            emb, queries, k=5, n_probes=IVF_PROBES, codebook=codebook
        )
        .select("n_probe", "query_id", "neighbor_id")
        .distinct()
    )
    hits = (
        approx.join(exact, ["query_id", "neighbor_id"])
        .groupBy("n_probe")
        .agg(F.count(F.lit(1)).alias("__h"))
    )
    slots = exact.agg(F.count(F.lit(1)).alias("__s"))
    ps = literal_frame(
        spark, [(p,) for p in IVF_PROBES], [("n_probe", "int")]
    )
    return (
        ps.join(hits, "n_probe", "left")
        .crossJoin(F.broadcast(slots))
        .select(
            "n_probe",
            F.coalesce(F.col("__s"), F.lit(0)).cast("bigint").alias(
                "n_exact_slots"
            ),
            F.coalesce(F.col("__h"), F.lit(0)).cast("bigint").alias(
                "n_hits"
            ),
            F.when(
                F.coalesce(F.col("__s"), F.lit(0)) > 0,
                F.round(
                    F.coalesce(F.col("__h"), F.lit(0)).cast("double")
                    / F.col("__s").cast("double"),
                    6,
                ),
            ).alias("recall"),
        )
    )


def _oracle_ivf_probe_recall_curve() -> str:
    # rid-keyed assignment CTEs mirror ORACLE_IVF_ANN (its
    # duplicate-row rationale applies); hit/slot sets are DISTINCT
    # identity pairs, mirroring the engine.
    ivf_branches = " UNION ALL ".join(
        f"""
  SELECT CAST({np_} AS INTEGER) AS n_probe, query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id ASC) AS rk
    FROM (
      SELECT q.query_id, c.neighbor_id,
        ROUND(list_dot_product(q.qvec, c.cvec)
              / (sqrt(list_dot_product(q.qvec, q.qvec))
                 * sqrt(list_dot_product(c.cvec, c.cvec))), 6) AS cosine
      FROM c_assign c JOIN q_assign q USING (cell)
      WHERE q.probe_rank <= {np_} AND c.neighbor_id != q.query_id
    )
  ) WHERE rk <= 5"""
        for np_ in IVF_PROBES
    )
    ps = " UNION ALL ".join(
        f"SELECT CAST({p} AS INTEGER) AS n_probe" for p in IVF_PROBES
    )
    return f"""
WITH vecs AS (SELECT row_number() OVER () AS rid, vec_id,
                     embedding::DOUBLE[] AS v
              FROM embeddings WHERE embedding IS NOT NULL),
cent AS (SELECT vec_id AS centroid_id, v AS centvec FROM vecs
         WHERE vec_id < 16),
c_assign AS (
  SELECT rid, vec_id AS neighbor_id, v AS cvec, centroid_id AS cell
  FROM vecs CROSS JOIN cent
  QUALIFY row_number() OVER (
    PARTITION BY rid
    ORDER BY ROUND(list_dot_product(v, centvec)
             / (sqrt(list_dot_product(v, v))
                * sqrt(list_dot_product(centvec, centvec))), 6) DESC,
             centroid_id ASC) <= 1
),
q_assign AS (
  SELECT rid, vec_id AS query_id, v AS qvec, centroid_id AS cell,
         row_number() OVER (
           PARTITION BY rid
           ORDER BY ROUND(list_dot_product(v, centvec)
                    / (sqrt(list_dot_product(v, v))
                       * sqrt(list_dot_product(centvec, centvec))), 6) DESC,
                    centroid_id ASC) AS probe_rank
  FROM vecs CROSS JOIN cent
  WHERE vec_id < {N_QUERY_VECS}
  QUALIFY probe_rank <= {max(IVF_PROBES)}
),
exact5 AS (
  SELECT DISTINCT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id ASC) AS rk
    FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        ROUND(list_dot_product(q.v, c.v)
              / (sqrt(list_dot_product(q.v, q.v))
                 * sqrt(list_dot_product(c.v, c.v))), 6) AS cosine
      FROM vecs c CROSS JOIN (SELECT * FROM vecs
                              WHERE vec_id < {N_QUERY_VECS}) q
      WHERE c.vec_id != q.vec_id
    )
  ) WHERE rk <= 5
),
ivf AS (
  SELECT DISTINCT n_probe, query_id, neighbor_id FROM ({ivf_branches})
),
hits AS (
  SELECT n_probe, COUNT(*) AS h
  FROM ivf JOIN exact5 USING (query_id, neighbor_id)
  GROUP BY 1
),
slots AS (SELECT COUNT(*) AS s FROM exact5),
ps AS ({ps})
SELECT ps.n_probe,
       CAST(COALESCE(s, 0) AS BIGINT) AS n_exact_slots,
       CAST(COALESCE(h, 0) AS BIGINT) AS n_hits,
       CASE WHEN COALESCE(s, 0) > 0
            THEN ROUND(CAST(COALESCE(h, 0) AS DOUBLE)
                       / CAST(s AS DOUBLE), 6)
       END AS recall
FROM ps LEFT JOIN hits USING (n_probe) CROSS JOIN slots
"""


# ---------------------------------------------------------------------------
# 7. dedup_degree_profile
# ---------------------------------------------------------------------------


def q_dedup_degree_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate-graph degree histogram over the banded-LSH pair set:
    per document, how many distinct candidate partners — bucketed
    0 / 1 / 2-3 / 4-7 / 8+. The super-node early warning for
    connected components: one hub document turns label propagation
    quadratic, and a deployment alerts on the 8+ bucket growing.

    Scale shape: pairs come from the skew-capped banded bucket join
    (operators/dedup.minhash_lsh_pairs — never all-pairs); the degree
    count is one doc-keyed aggregate; the zero-degree universe is the
    indexable doc set (>= 2 tokens, the index precondition) minus the
    paired docs via a LEFT join — no second signature pass."""
    from .operators.dedup import minhash_lsh_pairs

    register_tables(spark, sf_dir, ("documents",))
    docs = spark.table("documents")
    pairs = minhash_lsh_pairs(
        docs, num_perm=DEMO_NUM_PERM, bands=DEMO_BANDS
    ).select("d1", "d2")
    # explode both endpoints of each pair in ONE pass: the union-legs
    # form evaluated the whole LSH candidate pipeline TWICE (one full
    # signature+banding pass per leg — no exchange reuse fires across
    # the union), for the identical multiset of endpoint rows
    deg = (
        pairs.select(F.explode(F.array(F.col("d1"), F.col("d2"))).alias("doc"))
        .groupBy("doc")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    universe = (
        docs.select(
            F.col("doc_id").alias("doc"),
            tokens(F.col("text")).alias("t"),
        )
        .filter(F.size("t") >= 2)
        .select("doc")
        .distinct()
    )
    with_deg = universe.join(deg, "doc", "left").select(
        "doc", F.coalesce(F.col("degree"), F.lit(0)).alias("degree")
    )
    bucket = (
        F.when(F.col("degree") == 0, "0")
        .when(F.col("degree") == 1, "1")
        .when(F.col("degree") <= 3, "2-3")
        .when(F.col("degree") <= 7, "4-7")
        .otherwise("8+")
    )
    return (
        with_deg.groupBy(bucket.alias("degree_bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("degree").cast("bigint").alias("total_degree"),
        )
    )


def _oracle_dedup_degree_profile() -> str:
    from .expansion4 import _duck_lsh_index_ctes

    return f"""
WITH {_duck_lsh_index_ctes()},
kept AS (
  -- the engine's max_bucket_size=1000 skew cap (dedup.py), mirrored
  -- exactly as in the minhash oracles
  SELECT band, bucket FROM buckets
  GROUP BY band, bucket
  HAVING COUNT(DISTINCT doc) BETWEEN 2 AND 1000
),
cands AS (
  SELECT a.doc AS d1, b.doc AS d2
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc < b.doc
  JOIN kept k ON a.band = k.band AND a.bucket = k.bucket
  GROUP BY 1, 2
),
deg AS (
  SELECT doc, COUNT(*) AS degree FROM (
    SELECT d1 AS doc FROM cands UNION ALL SELECT d2 AS doc FROM cands
  ) GROUP BY 1
),
universe AS (SELECT DISTINCT doc FROM toks),
with_deg AS (
  SELECT u.doc, COALESCE(degree, 0) AS degree
  FROM universe u LEFT JOIN deg USING (doc)
)
SELECT CASE WHEN degree = 0 THEN '0'
            WHEN degree = 1 THEN '1'
            WHEN degree <= 3 THEN '2-3'
            WHEN degree <= 7 THEN '4-7'
            ELSE '8+' END AS degree_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(degree) AS BIGINT) AS total_degree
FROM with_deg GROUP BY 1
"""


# ---------------------------------------------------------------------------
# 8. curation_epoch_shuffle
# ---------------------------------------------------------------------------

EPOCHS = (0, 1)


def q_curation_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch shuffle-block audit: each document's
    training-order block for epoch e is md5('epoch<e>:' || doc_id) mod
    EPOCH_BLOCKS — reproducible across runs and engines, re-keyed per
    epoch so consecutive epochs see decorrelated orders without any
    stateful shuffle. Output per epoch: docs, blocks, and block-size
    min / discrete p50 / max — the uniformity check that catches a
    broken salt before a training run inherits a skewed data order.

    Scale shape: the epoch fan-out is a 2-row broadcast literal cross
    join (map-only per row); block sizes come from one (epoch, block)
    aggregate; the rollup sees EPOCH_BLOCKS rows per epoch. Epoch keys
    are literal-frame keyed so both rows survive an empty corpus."""
    register_tables(spark, sf_dir, ("documents",))
    eps = literal_frame(spark, [(e,) for e in EPOCHS], [("epoch", "int")])
    d = (
        spark.table("documents")
        .filter(F.col("doc_id").isNotNull())
        .select("doc_id")
        .crossJoin(F.broadcast(eps))
    )
    blocks = d.select(
        "epoch",
        (
            h32(
                F.concat(
                    F.lit("epoch"),
                    F.col("epoch").cast("string"),
                    F.lit(":"),
                    F.col("doc_id").cast("string"),
                )
            )
            % EPOCH_BLOCKS
        ).alias("block"),
        "doc_id",
    )
    sizes = blocks.groupBy("epoch", "block").agg(
        F.countDistinct("doc_id").alias("sz")
    )
    sizes.createOrReplaceTempView("epoch_blocks_v")
    rolled = spark.sql(
        """
        SELECT epoch,
               CAST(SUM(sz) AS BIGINT) AS n_docs,
               CAST(COUNT(*) AS BIGINT) AS n_blocks,
               CAST(MIN(sz) AS BIGINT) AS min_block,
               CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY sz)
                    AS BIGINT) AS p50_block,
               CAST(MAX(sz) AS BIGINT) AS max_block
        FROM epoch_blocks_v GROUP BY epoch
        """
    )
    return eps.join(rolled, "epoch", "left").select(
        "epoch",
        F.coalesce(F.col("n_docs"), F.lit(0)).cast("bigint").alias("n_docs"),
        F.coalesce(F.col("n_blocks"), F.lit(0)).cast("bigint").alias(
            "n_blocks"
        ),
        "min_block",
        "p50_block",
        "max_block",
    )


def _oracle_curation_epoch_shuffle() -> str:
    ks = " UNION ALL ".join(
        f"SELECT CAST({e} AS INTEGER) AS epoch" for e in EPOCHS
    )
    block = duck_h32(
        "'epoch' || CAST(k.epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)"
    )
    return f"""
WITH ks AS ({ks}),
b AS (
  SELECT k.epoch, ({block}) % {EPOCH_BLOCKS} AS block, doc_id
  FROM documents CROSS JOIN ks k WHERE doc_id IS NOT NULL
),
s AS (SELECT epoch, block, COUNT(DISTINCT doc_id) AS sz FROM b GROUP BY 1, 2),
r AS (
  SELECT epoch,
         CAST(SUM(sz) AS BIGINT) AS n_docs,
         CAST(COUNT(*) AS BIGINT) AS n_blocks,
         CAST(MIN(sz) AS BIGINT) AS min_block,
         CAST(quantile_disc(sz, 0.5) AS BIGINT) AS p50_block,
         CAST(MAX(sz) AS BIGINT) AS max_block
  FROM s GROUP BY 1
)
SELECT k.epoch,
       CAST(COALESCE(n_docs, 0) AS BIGINT) AS n_docs,
       CAST(COALESCE(n_blocks, 0) AS BIGINT) AS n_blocks,
       min_block, p50_block, max_block
FROM ks k LEFT JOIN r USING (epoch)
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------


def expansion5_specs() -> list:
    from .queries import QuerySpec

    return [
        QuerySpec(
            "embedding_decontamination",
            "Eval-vs-train embedding near-dup decontamination (LSH buckets)",
            q_embedding_decontamination,
            _oracle_embedding_decontamination(),
        ),
        QuerySpec(
            "retrieval_rrf_fusion",
            "BM25 + cosine reciprocal-rank fusion, top-3 per query",
            q_retrieval_rrf_fusion,
            ORACLE_RETRIEVAL_RRF_FUSION,
        ),
        QuerySpec(
            "crosslingual_near_dup",
            "Cross-language shared-shingle near-dup candidates per lang pair",
            q_crosslingual_near_dup,
            ORACLE_CROSSLINGUAL_NEAR_DUP,
        ),
        QuerySpec(
            "curation_shard_skew",
            "Bytes-per-shard histogram + skew ratio for the shard plan",
            q_curation_shard_skew,
            ORACLE_CURATION_SHARD_SKEW,
        ),
        QuerySpec(
            "sketch_hist_quantile_error",
            "Mergeable histogram quantile estimate vs exact, per event type",
            q_sketch_hist_quantile_error,
            ORACLE_SKETCH_HIST_QUANTILE_ERROR,
        ),
        QuerySpec(
            "ivf_probe_recall_curve",
            "IVF ANN recall@5 vs n_probe (1, 4) against exact top-5",
            q_ivf_probe_recall_curve,
            _oracle_ivf_probe_recall_curve(),
        ),
        QuerySpec(
            "dedup_degree_profile",
            "LSH candidate-graph degree histogram (super-node early warning)",
            q_dedup_degree_profile,
            _oracle_dedup_degree_profile(),
        ),
        QuerySpec(
            "curation_epoch_shuffle",
            "Per-epoch deterministic shuffle-block uniformity audit",
            q_curation_epoch_shuffle,
            _oracle_curation_epoch_shuffle(),
        ),
    ]
