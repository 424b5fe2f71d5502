"""Oracle-checked query specs for the training-pipeline operators.

Each spec pairs the Spark operator (operators/*.py) with DuckDB SQL
computing the SAME result — including the md5-derived hashes, LCG
permutation constants, and literal LSH hyperplanes, which are shared
by construction. The Arrow mapInPandas multimodal decodes aren't
SQL-expressible, but their stub codecs are deterministic — their
oracles are VALUES-literal tables of the expected features computed in
Python at the driver's correctness scale (``_multimodal_oracle``), so
every spec gets the full rows/schema/hash gate.

Engine↔oracle divergence classes (and the idiom each oracle must use)
are consolidated in ORACLES.md at the repo root — docstrings cite a
class number (e.g. "ORACLES.md #15") instead of restating contracts.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.testdata import register_tables
from .dedup import (
    DEMO_BANDS,
    DEMO_NUM_PERM,
    dedup_pipeline,
    exact_dedup_groups,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_fingerprints,
)
from .hashing import duck_h32, lcg_constants, perm_hash_sql
from .multimodal import (
    decode_audio_features,
    decode_image_features,
    fake_audio_decoder,
    fake_image_decoder,
)
from .similarity import (
    cosine_topk,
    embedding_neardup_pairs,
    hyperplane_weights,
    ivf_topk,
    kmeans_centroids,
    label_centroids,
    lsh_bucketed_topk,
)
from .text import (
    BPE_TOKEN_RE,
    STOPWORDS,
    lang_id,
    pii_redaction,
    quality_scores,
    span_dedup_stats,
    text_stats,
    tfidf_top_terms,
    token_counts,
    winnowing_fingerprints,
)

try:  # shared QuerySpec type (avoid circular import at module load)
    from ..queries import QuerySpec
except ImportError:  # pragma: no cover
    QuerySpec = None  # type: ignore

N_QUERY_VECS = 5  # embeddings with vec_id < 5 are the query set

# --- DuckDB fragments shared across oracles ---------------------------

# Oracle-side lowering is written lower(replace(text, 'İ', 'i̇'))
# everywhere: Java/ICU full case folding (Spark = the engine contract)
# maps U+0130 to 'i' + U+0307 while DuckDB's simple folding gives bare
# 'i' — U+0130 is the ONLY non-locale codepoint whose lowercase
# mapping lengthens, so this single pre-replace makes oracle lower()
# match Spark on all inputs (found by the round-5 unicode-text gate).
DUCK_TOKENS = "regexp_split_to_array(trim(text), '[ \\t\\n\\x0B\\f\\r]+')"
DUCK_NORMALIZED = (
    "trim(regexp_replace(regexp_replace(lower(replace(text, 'İ', 'i̇')), '[^a-z0-9 \\t\\n\\x0B\\f\\r]', ' ', 'g'),"
    " '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g'))"
)


def _duck_grams(n: int) -> str:
    """Distinct word n-grams of ``t`` (a token list) as strings."""
    return (
        f"list_distinct([array_to_string(t[i:i+{n - 1}], ' ') "
        f"for i in range(1, len(t) - {n} + 2)])"
    )


# --- dedup -------------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir, ("documents",))
    return exact_dedup_groups(spark.table("documents"))


ORACLE_DEDUP_EXACT = f"""
SELECT md5({DUCK_NORMALIZED}) AS fingerprint,
       MIN(doc_id) AS keep_id,
       COUNT(*)    AS n_docs
FROM documents
GROUP BY 1
"""


def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir, ("documents",))
    return minhash_lsh_pairs(
        spark.table("documents"), num_perm=DEMO_NUM_PERM, bands=DEMO_BANDS
    )


def _oracle_minhash() -> str:
    consts = lcg_constants(DEMO_NUM_PERM)
    rows_per_band = DEMO_NUM_PERM // DEMO_BANDS
    sig_exprs = ",\n    ".join(
        f"MIN({perm_hash_sql(duck_h32('gram'), a, b)}) AS sig_{i}"
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
),
buckets AS ({band_selects}),
kept AS (
  -- mirror the engine's max_bucket_size skew cap (dedup.py
  -- minhash_lsh_pairs, default 1000): oversized degenerate buckets
  -- are dropped WHOLESALE before pairing on both sides, so a
  -- boilerplate bucket over 1000 docs cannot diverge the gate
  -- (ADVICE r7). COUNT(DISTINCT doc) matches the engine's
  -- array_distinct'ed member list.
  SELECT band, bucket FROM buckets
  GROUP BY band, bucket
  HAVING COUNT(DISTINCT doc) BETWEEN 2 AND 1000
)
SELECT a.doc AS d1, b.doc AS d2, COUNT(DISTINCT a.band) AS matching_bands
FROM buckets a
JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket
JOIN kept k ON a.band = k.band AND a.bucket = k.bucket
WHERE a.doc < b.doc
GROUP BY 1, 2
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir, ("documents",))
    return ngram_jaccard_pairs(spark.table("documents"), n=3, threshold=0.2)


ORACLE_NGRAM_JACCARD = f"""
WITH toks AS (
  SELECT doc_id AS doc, {DUCK_TOKENS} AS t FROM documents
  WHERE len({DUCK_TOKENS}) >= 3
),
grams AS (
  -- DISTINCT collapses duplicate doc_id input rows (identical rows
  -- post identical postings; per-doc grams are already unique by the
  -- distinct-token construction) — mirrors the engine's
  -- array_distinct'ed posting lists (duplicate-row gate, ORACLES.md
  -- #15). Without it `shared` double-counts and jaccard exceeds 1.
  SELECT DISTINCT doc, gram FROM (
    SELECT doc, unnest({_duck_grams(3)}) AS gram FROM toks
  )
),
sizes AS (SELECT doc, COUNT(*) AS sz FROM grams GROUP BY doc),
shared AS (
  SELECT a.doc AS d1, b.doc AS d2, COUNT(*) AS shared
  FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc < b.doc
  GROUP BY 1, 2
)
SELECT d1, d2,
       ROUND(shared / (s1.sz + s2.sz - shared), 6) AS jaccard
FROM shared
JOIN sizes s1 ON s1.doc = d1
JOIN sizes s2 ON s2.doc = d2
-- filter on the ROUNDED ratio exactly like ngram_jaccard_pairs
-- (dedup.py): a raw jaccard in [0.1999995, 0.2) rounds UP to the
-- threshold and must be included on both engines
WHERE ROUND(shared / (s1.sz + s2.sz - shared), 6) >= 0.2
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir, ("documents",))
    return simhash_fingerprints(spark.table("documents"))


def _oracle_simhash() -> str:
    """64-bit twin of simhash_fingerprints: bits 0-31 from the first
    md5 half, 32-63 from the second; bit 63 contributes -2^63 so the
    fingerprint is the same two's-complement BIGINT Spark produces."""
    def src(bit):
        return ("h_lo", bit) if bit < 32 else ("h_hi", bit - 32)

    votes = ",\n    ".join(
        "SUM(CASE WHEN ({} >> {}) & 1 = 1 THEN 1 ELSE -1 END) AS v{}".format(*src(bit), bit)
        for bit in range(64)
    )
    fp = " + ".join(
        f"(CASE WHEN v{bit} > 0 THEN "
        + ("(-9223372036854775807 - 1)" if bit == 63 else str(2**bit))
        + " ELSE 0 END)"
        for bit in range(64)
    )
    return f"""
WITH docs_r AS (
  -- simhash is a MAP-ONLY per-row operator in the engine: duplicated
  -- input rows emit duplicate fingerprints. Group votes by a
  -- synthetic per-row id, not by doc_id, to mirror that multiset
  -- (duplicate-row gate, ORACLES.md #15).
  SELECT doc_id AS doc, row_number() OVER () AS rid, text FROM documents
),
toks AS (
  SELECT doc, rid, unnest({DUCK_TOKENS}) AS tok FROM docs_r
),
hashed AS (
  SELECT doc, rid,
         {duck_h32("tok")} AS h_lo,
         ('0x' || substr(md5(tok), 9, 8))::BIGINT AS h_hi
  FROM toks
),
votes AS (
  SELECT doc, rid,
    {votes}
  FROM hashed GROUP BY doc, rid
)
SELECT doc, CAST({fp} AS BIGINT) AS simhash FROM votes
"""


def q_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir, ("documents",))
    return dedup_pipeline(
        spark.table("documents"), num_perm=DEMO_NUM_PERM, bands=DEMO_BANDS
    )


def _oracle_dedup_pipeline() -> str:
    """Recursive-CTE twin of pairs → connected components → verdict."""
    pairs_sql = _oracle_minhash().strip().rstrip(";")
    return f"""
WITH RECURSIVE pairs AS ({pairs_sql}),
edges AS (
  SELECT d1 AS a, d2 AS b FROM pairs WHERE matching_bands >= 2
  UNION
  SELECT d2 AS a, d1 AS b FROM pairs WHERE matching_bands >= 2
),
reach(v, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.v
),
components AS (SELECT v AS vertex, MIN(r) AS component FROM reach GROUP BY v)
SELECT d.doc_id,
       COALESCE(c.component, d.doc_id) AS keep_id,
       COALESCE(c.component, d.doc_id) != d.doc_id AS is_duplicate
FROM documents d LEFT JOIN components c ON d.doc_id = c.vertex
"""


def q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir, ("embeddings",))
    emb = spark.table("embeddings")
    return ivf_topk(emb, emb.filter(F.col("vec_id") < N_QUERY_VECS), k=5)


ORACLE_IVF_ANN = f"""
-- null-vector contract: NULL embeddings are dropped at intake.
-- rid keys each PHYSICAL row: the engine's index contains what you
-- put in it — a duplicated corpus vector is a separate candidate (and
-- a duplicated codebook row a separate probe slot), so assignments
-- partition by rid and `scored` keeps duplicates (no DISTINCT) —
-- duplicate-row gate, ORACLES.md #15.
WITH vecs AS (SELECT row_number() OVER () AS rid, vec_id,
                     embedding::DOUBLE[] AS v
              FROM embeddings WHERE embedding IS NOT NULL),
cent AS (SELECT vec_id AS centroid_id, v AS centvec FROM vecs WHERE vec_id < 16),
c_assign AS (
  SELECT rid, vec_id AS neighbor_id, v AS cvec, centroid_id AS cell
  FROM vecs CROSS JOIN cent
  QUALIFY row_number() OVER (
    PARTITION BY rid
    ORDER BY ROUND(list_dot_product(v, centvec)
             / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(centvec, centvec))), 6) DESC,
             centroid_id ASC) <= 1
),
q_assign AS (
  SELECT rid, vec_id AS query_id, v AS qvec, centroid_id AS cell
  FROM vecs CROSS JOIN cent
  WHERE vec_id < {N_QUERY_VECS}
  QUALIFY row_number() OVER (
    PARTITION BY rid
    ORDER BY ROUND(list_dot_product(v, centvec)
             / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(centvec, centvec))), 6) DESC,
             centroid_id ASC) <= 4
),
scored AS (
  SELECT query_id, neighbor_id,
    ROUND(list_dot_product(qvec, cvec)
          / (sqrt(list_dot_product(qvec, qvec)) * sqrt(list_dot_product(cvec, cvec))), 6) AS cosine
  FROM c_assign JOIN q_assign USING (cell)
  WHERE neighbor_id != query_id
)
SELECT query_id, neighbor_id,
       CAST(row_number() OVER w AS INT) AS rank,
       cosine
FROM scored
WINDOW w AS (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC)
QUALIFY row_number() OVER w <= 5
"""


# --- text analysis -----------------------------------------------------


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir, ("documents",))
    return text_stats(spark.table("documents"))


ORACLE_TEXT_STATS = f"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars,
       CAST(len({DUCK_TOKENS}) AS BIGINT) AS n_tokens,
       ROUND(length(text) / len({DUCK_TOKENS}), 6) AS avg_token_len,
       CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS BIGINT)
         AS n_punct
FROM documents
"""


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir, ("documents",))
    return quality_scores(spark.table("documents"))


def _oracle_quality() -> str:
    en = ", ".join(f"'{w}'" for w in STOPWORDS["en"])
    return f"""
WITH base AS (
  SELECT doc_id,
    CAST(length(text) AS DOUBLE) AS n_chars,
    CAST(len({DUCK_TOKENS}) AS DOUBLE) AS n_tokens,
    CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS DOUBLE)
      AS digit_chars,
    CAST(length(text) - length(regexp_replace(text, '[^\\w \\t\\n\\x0B\\f\\r]', '', 'g')) AS DOUBLE)
      AS punct_chars,
    CAST(len(list_intersect({DUCK_TOKENS}, [{en}])) AS DOUBLE) AS stop_hits
  FROM documents
),
scored AS (
  SELECT doc_id, digit_chars, punct_chars, n_chars, stop_hits,
    0.4 * least(n_tokens / 20.0, 1.0)
    + 0.4 * least(stop_hits / 4.0, 1.0)
    + 0.2 * (1 - least(digit_chars / n_chars * 5, 1.0))
    - 0.2 * least(punct_chars / n_chars * 5, 1.0) AS quality
  FROM base
)
SELECT doc_id,
  ROUND(greatest(least(quality, 1.0), 0.0), 6) AS quality,
  ROUND(digit_chars / n_chars, 6) AS digit_ratio,
  ROUND(punct_chars / n_chars, 6) AS punct_ratio,
  CAST(stop_hits AS BIGINT) AS stopword_hits
FROM scored
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir, ("documents",))
    return lang_id(spark.table("documents"))


def _oracle_lang_id() -> str:
    langs = sorted(STOPWORDS)
    lower_toks = "regexp_split_to_array(trim(lower(replace(text, 'İ', 'i̇'))), '[ \\t\\n\\x0B\\f\\r]+')"
    scores = ",\n    ".join(
        "CAST(len(list_intersect({t}, [{words}])) AS BIGINT) AS score_{lang}".format(
            t=lower_toks,
            words=", ".join(f"'{w}'" for w in STOPWORDS[lang]),
            lang=lang,
        )
        for lang in langs
    )
    best = "greatest({})".format(", ".join(f"score_{lang}" for lang in langs))
    pred = "CASE " + " ".join(
        f"WHEN score_{lang} = best THEN '{lang}'" for lang in langs
    ) + " END"
    return f"""
WITH scored AS (
  SELECT doc_id,
    {scores}
  FROM documents
),
with_best AS (SELECT *, {best} AS best FROM scored)
SELECT doc_id, {pred} AS predicted_lang, best AS best_score
FROM with_best
"""


CMS_WIDTH, CMS_DEPTH = 64, 4
CMS_QUERY_USERS = ["1", "2", "3", "7", "42"]


def q_count_min_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch event frequencies for five user ids, vs their
    exact counts (operators/sketch.py:count_min_frequencies). width=64
    over ~150 users forces real collisions, so the overestimate
    property is exercised, not vacuous."""
    from .sketch import count_min_frequencies

    register_tables(spark, sf_dir, ("events",))
    return count_min_frequencies(
        spark.table("events"),
        key_col="user_id",
        queries=CMS_QUERY_USERS,
        width=CMS_WIDTH,
        depth=CMS_DEPTH,
    )


def _oracle_count_min() -> str:
    def bucket(expr: str, d: int) -> str:
        salted = "'cms" + str(d) + ":' || " + expr
        return f"{duck_h32(salted)} % {CMS_WIDTH}"

    counter_rows = " UNION ALL ".join(
        f"SELECT {d} AS row_idx, {bucket('CAST(user_id AS VARCHAR)', d)} AS bucket FROM events"
        for d in range(CMS_DEPTH)
    )
    lookup_rows = " UNION ALL ".join(
        f"SELECT '{q}' AS key, {d} AS row_idx, {bucket(repr(q), d)} AS bucket"
        for q in CMS_QUERY_USERS
        for d in range(CMS_DEPTH)
    )
    keys = ", ".join(f"'{q}'" for q in CMS_QUERY_USERS)
    return f"""
WITH counters AS (
  SELECT row_idx, bucket, COUNT(*) AS cnt
  FROM ({counter_rows}) GROUP BY 1, 2
),
lookups AS ({lookup_rows}),
est AS (
  SELECT l.key, CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS est_count
  FROM lookups l LEFT JOIN counters c USING (row_idx, bucket)
  GROUP BY l.key
),
exact AS (
  SELECT CAST(user_id AS VARCHAR) AS key, COUNT(*) AS exact_count
  FROM events WHERE CAST(user_id AS VARCHAR) IN ({keys})
  GROUP BY 1
)
SELECT e.key, e.est_count,
       CAST(COALESCE(x.exact_count, 0) AS BIGINT) AS exact_count,
       e.est_count >= COALESCE(x.exact_count, 0) AS overestimate_ok
FROM est e LEFT JOIN exact x USING (key)
"""


def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier evaluation the way a real pipeline validates its
    language-ID stage: confusion matrix of the corpus's labeled lang
    vs the stopword-vote prediction, plus each cell's share of its
    true-label row. One map-only scoring pass + one (true, pred)
    aggregate; the per-true-label share is a window over the tiny
    aggregated matrix, not the corpus."""
    from pyspark.sql import Window as W

    register_tables(spark, sf_dir, ("documents",))
    docs = spark.table("documents")
    preds = lang_id(docs).join(docs.select("doc_id", "lang"), "doc_id")
    cells = preds.groupBy(
        F.col("lang").alias("true_lang"),
        F.col("predicted_lang").alias("pred_lang"),
    ).agg(F.count(F.lit(1)).alias("n_docs"))
    per_true = W.partitionBy("true_lang")
    return cells.select(
        "true_lang",
        "pred_lang",
        "n_docs",
        F.round(F.col("n_docs") / F.sum("n_docs").over(per_true), 6).alias(
            "row_frac"
        ),
    )


def _oracle_langid_confusion() -> str:
    pred_sql = _oracle_lang_id().strip().rstrip(";")
    return f"""
WITH preds AS ({pred_sql}),
cells AS (
  SELECT d.lang AS true_lang, p.predicted_lang AS pred_lang,
         COUNT(*) AS n_docs
  FROM documents d JOIN preds p USING (doc_id)
  GROUP BY 1, 2
)
SELECT true_lang, pred_lang, n_docs,
       ROUND(CAST(n_docs AS DOUBLE)
             / SUM(n_docs) OVER (PARTITION BY true_lang), 6) AS row_frac
FROM cells
"""


# --- similarity --------------------------------------------------------


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir, ("embeddings",))
    emb = spark.table("embeddings")
    return cosine_topk(emb, emb.filter(F.col("vec_id") < N_QUERY_VECS), k=5)


ORACLE_COSINE_TOPK = f"""
WITH q AS (
  -- null-vector contract: NULL embeddings dropped on both sides
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec FROM embeddings
  WHERE vec_id < {N_QUERY_VECS} AND embedding IS NOT NULL
),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cvec FROM embeddings
      WHERE embedding IS NOT NULL),
scored AS (
  SELECT query_id, neighbor_id,
    ROUND(list_dot_product(qvec, cvec)
          / (sqrt(list_dot_product(qvec, qvec)) * sqrt(list_dot_product(cvec, cvec))),
          6) AS cosine
  FROM c CROSS JOIN q
  WHERE neighbor_id != query_id
)
SELECT query_id, neighbor_id,
       CAST(row_number() OVER w AS INT) AS rank,
       cosine
FROM scored
WINDOW w AS (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC)
QUALIFY row_number() OVER w <= 5
"""


def q_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir, ("embeddings",))
    emb = spark.table("embeddings")
    return lsh_bucketed_topk(emb, emb.filter(F.col("vec_id") < N_QUERY_VECS), k=5)


def _duck_sig_terms(planes: int = 8, dim: int = 64) -> str:
    """Hyperplane-signature literal expression over ``v`` — the DuckDB
    twin of similarity.hyperplane_signature (same md5-derived weights)."""
    weights = hyperplane_weights(planes, dim)
    return " + ".join(
        "(CASE WHEN list_dot_product(v, [{w}]) >= 0 THEN {pow} ELSE 0 END)".format(
            w=", ".join(repr(x) for x in weights[p]), pow=2**p
        )
        for p in range(planes)
    )


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir, ("embeddings",))
    # Synthetic embeddings are near-uniform (max in-bucket cosine ~0.47
    # at sf0.01); 0.3 keeps the result non-trivial. Real corpora use the
    # operator default (0.9).
    return embedding_neardup_pairs(spark.table("embeddings"), threshold=0.3)


def _oracle_embedding_neardup() -> str:
    return f"""
WITH vecs AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
              WHERE embedding IS NOT NULL),
sigs AS (SELECT vec_id, v, CAST({_duck_sig_terms()} AS BIGINT) AS bucket FROM vecs),
scored AS (
  SELECT a.vec_id AS d1, b.vec_id AS d2,
    ROUND(list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))),
          6) AS cosine
  FROM sigs a JOIN sigs b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT d1, d2, cosine FROM scored WHERE cosine >= 0.3
"""


def q_embedding_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full embedding-space dedup pass: hyperplane-bucketed cosine
    pairs → connected components → per-vector verdict (keep lowest id
    per component) — the modality-agnostic twin of the text
    dedup_pipeline, for corpora deduped on semantic embeddings rather
    than surface text. Same scale shape: bucketed candidate pairs
    (never all-pairs), log-diameter label propagation, one verdict
    join."""
    from .graph import connected_components

    register_tables(spark, sf_dir, ("embeddings",))
    emb = spark.table("embeddings")
    pairs = embedding_neardup_pairs(emb, threshold=0.3).select("d1", "d2")
    components = connected_components(pairs)
    return (
        emb.select(F.col("vec_id"))
        .join(components, F.col("vec_id") == components.vertex, "left")
        .select(
            "vec_id",
            F.coalesce(F.col("component"), F.col("vec_id")).alias("keep_id"),
            (
                F.coalesce(F.col("component"), F.col("vec_id")) != F.col("vec_id")
            ).alias("is_duplicate"),
        )
    )


def _oracle_embedding_dedup_pipeline() -> str:
    pairs_sql = _oracle_embedding_neardup().strip().rstrip(";")
    return f"""
WITH RECURSIVE pairs AS ({pairs_sql}),
edges AS (
  SELECT d1 AS a, d2 AS b FROM pairs
  UNION
  SELECT d2 AS a, d1 AS b FROM pairs
),
reach(v, r) AS (
  SELECT a, a FROM edges
  UNION
  SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.v
),
components AS (SELECT v AS vertex, MIN(r) AS component FROM reach GROUP BY v)
SELECT emb.vec_id,
       COALESCE(c.component, emb.vec_id) AS keep_id,
       COALESCE(c.component, emb.vec_id) != emb.vec_id AS is_duplicate
FROM embeddings emb LEFT JOIN components c ON emb.vec_id = c.vertex
"""


def _oracle_lsh_ann() -> str:
    sig_terms = _duck_sig_terms()
    return f"""
WITH vecs AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  WHERE embedding IS NOT NULL
),
sigs AS (SELECT vec_id, v, CAST({sig_terms} AS BIGINT) AS bucket FROM vecs),
q AS (SELECT vec_id AS query_id, v AS qvec, bucket FROM sigs WHERE vec_id < {N_QUERY_VECS}),
c AS (SELECT vec_id AS neighbor_id, v AS cvec, bucket FROM sigs),
scored AS (
  SELECT query_id, neighbor_id,
    ROUND(list_dot_product(qvec, cvec)
          / (sqrt(list_dot_product(qvec, qvec)) * sqrt(list_dot_product(cvec, cvec))),
          6) AS cosine
  FROM c JOIN q USING (bucket)
  WHERE neighbor_id != query_id
)
SELECT query_id, neighbor_id,
       CAST(row_number() OVER w AS INT) AS rank,
       cosine
FROM scored
WINDOW w AS (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC)
QUALIFY row_number() OVER w <= 5
"""


def q_curated_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data curation: keep documents that are (a) the
    representative of their near-dup component, (b) above a quality
    floor, and (c) confidently language-identified — the composite
    filter a pretraining pipeline runs before tokenization.

    Quality and language are pure column expressions, so (b) and (c)
    are one map-only projection — no self-joins. The dedup verdict
    reduces to a left-anti join against just the duplicate ids (the
    only rows where keep_id != doc_id), not the full per-doc verdict
    table: at 100 TB that anti-join's build side is only the dup set."""
    from .graph import connected_components
    from .text import lang_exprs, quality_expr

    register_tables(spark, sf_dir, ("documents",))
    docs = spark.table("documents")
    pairs = minhash_lsh_pairs(
        docs, num_perm=DEMO_NUM_PERM, bands=DEMO_BANDS
    ).filter(F.col("matching_bands") >= 2)
    dups = (
        connected_components(pairs)
        .filter(F.col("vertex") != F.col("component"))
        .select(F.col("vertex").alias("doc_id"))
    )
    pred, best = lang_exprs(F.col("text"))
    return (
        docs.select(
            "doc_id",
            "source",
            "n_chars",
            pred.alias("predicted_lang"),
            quality_expr(F.col("text")).alias("quality"),
            best.alias("best_score"),
        )
        .filter((F.col("quality") >= 0.5) & (F.col("best_score") >= 1))
        .join(dups, "doc_id", "left_anti")
        .select("doc_id", "source", "n_chars", "predicted_lang")
    )


def _oracle_curated() -> str:
    dedup_sql = _oracle_dedup_pipeline().strip().rstrip(";")
    quality_sql = _oracle_quality().strip().rstrip(";")
    lang_sql = _oracle_lang_id().strip().rstrip(";")
    return f"""
WITH verdicts0 AS ({dedup_sql}),
quality0 AS ({quality_sql}),
langs0 AS ({lang_sql}),
-- the engine computes quality/lang as PER-ROW map expressions and
-- anti-joins the dup-id set, so its output is one row per surviving
-- PHYSICAL row; the id-keyed helper joins here must therefore be 1:1
-- per doc_id (duplicated input rows carry identical verdicts/scores —
-- DISTINCT collapses them; without it the joins fan out 2x2x2 per
-- duplicated id: duplicate-row gate, ORACLES.md #15)
verdicts AS (SELECT DISTINCT doc_id, is_duplicate FROM verdicts0),
quality AS (SELECT DISTINCT doc_id, quality FROM quality0),
langs AS (SELECT DISTINCT doc_id, predicted_lang, best_score FROM langs0)
SELECT d.doc_id, d.source, d.n_chars, l.predicted_lang
FROM documents d
JOIN verdicts v ON v.doc_id = d.doc_id AND NOT v.is_duplicate
JOIN quality q ON q.doc_id = d.doc_id AND q.quality >= 0.5
JOIN langs  l ON l.doc_id = d.doc_id AND l.best_score >= 1
"""


# IVF(kmeans) must find ≥ this many of each query's exact top-5
# neighbors. Measured floor is 3/5 across sf0.001-0.1 (nprobe=4 of 16
# cells); 2 keeps regeneration margin while still failing loudly if the
# codebook training or cell assignment regresses.
IVF_KMEANS_MIN_HITS = 2


def q_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with a Lloyd's-trained codebook, gated on RECALL against the
    exact answer: for every query vector, the approximate top-5 must
    contain at least IVF_KMEANS_MIN_HITS of the exact cosine top-5
    (cosine_topk — itself independently oracle-checked). The k-means
    loop is driver-coordinated and not SQL-expressible, but its
    retrieval QUALITY is — so the oracle asserts recall_ok for every
    query, and any regression in codebook training or probed-cell
    assignment flips a row to false and hash-mismatches."""
    register_tables(spark, sf_dir, ("embeddings",))
    emb = spark.table("embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    cents = kmeans_centroids(emb, n_centroids=16, iters=2)
    approx = ivf_topk(emb, queries, k=5, centroids=cents)
    exact = cosine_topk(emb, queries, k=5)
    hits = (
        approx.join(exact.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        queries.select(F.col("vec_id").alias("query_id"))
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            (F.coalesce(F.col("n_hits"), F.lit(0)) >= IVF_KMEANS_MIN_HITS).alias(
                "recall_ok"
            ),
        )
    )


ORACLE_IVF_KMEANS = f"""
SELECT vec_id AS query_id, TRUE AS recall_ok
FROM embeddings WHERE vec_id < {N_QUERY_VECS} AND embedding IS NOT NULL
"""


def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir, ("documents",))
    return winnowing_fingerprints(spark.table("documents"))


# k=8, window=4 — keep in sync with winnowing_fingerprints defaults.
ORACLE_TEXT_FINGERPRINT = f"""
WITH norm AS (
  SELECT doc_id, {DUCK_NORMALIZED} AS t FROM documents
),
grams AS (
  SELECT doc_id, [substr(t, i, 8) for i in range(1, length(t) - 6)] AS gs
  FROM norm WHERE length(t) >= 11
),
hashes AS (
  SELECT doc_id, [('0x' || substr(md5(g), 1, 8))::BIGINT for g in gs] AS hs
  FROM grams
),
mins AS (
  SELECT doc_id, [list_min(hs[j:j+3]) for j in range(1, len(hs) - 2)] AS ms
  FROM hashes
)
SELECT doc_id, unnest(list_distinct(ms)) AS fingerprint FROM mins
"""


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir, ("documents",))
    return tfidf_top_terms(spark.table("documents"))


ORACLE_TFIDF_TOP_TERMS = """
WITH terms AS (
  SELECT doc_id AS doc,
         unnest(regexp_split_to_array(trim(lower(replace(text, 'İ', 'i̇'))), '[ \\t\\n\\x0B\\f\\r]+')) AS term
  FROM documents
),
filt AS (SELECT doc, term FROM terms WHERE length(term) >= 3),
tf AS (SELECT doc, term, count(*) AS tf FROM filt GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
scored AS (
  SELECT doc, term,
         ROUND(tf * (SELECT count(*) FROM documents)::DOUBLE / df, 6) AS score
  FROM tf JOIN dfreq USING (term)
)
SELECT doc AS doc_id, term, CAST(row_number() OVER w AS INT) AS rank, score
FROM scored
WINDOW w AS (PARTITION BY doc ORDER BY score DESC, term ASC)
QUALIFY row_number() OVER w <= 3
"""


def q_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_tables(spark, sf_dir, ("documents",))
    return token_counts(spark.table("documents"))


ORACLE_TOKEN_COUNTS = f"""
SELECT doc_id,
       CAST(len({DUCK_TOKENS}) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(text, '{BPE_TOKEN_RE}')) AS BIGINT) AS n_bpe_tokens
FROM documents
"""


# --- multimodal (VALUES-literal oracles: stub codecs are deterministic) --


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing demo: documents' text encoded to binary
    payloads, decoded back to features via Arrow-batched mapInPandas
    with the deterministic fake codec."""
    register_tables(spark, sf_dir, ("documents",))
    media = spark.table("documents").select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("image").alias("modality"),
        F.lit("application/octet-stream").alias("mime_type"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    return decode_image_features(media, decoder=fake_image_decoder)


def q_multimodal_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-column plumbing: binary payloads through the Arrow-batched
    audio feature extractor (deterministic fake codec)."""
    register_tables(spark, sf_dir, ("documents",))
    media = spark.table("documents").select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.lit("audio").alias("modality"),
        F.lit("audio/wav").alias("mime_type"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
    )
    return decode_audio_features(media, decoder=fake_audio_decoder)


# The stub codecs are deterministic pure functions of the payload
# bytes, so the expected features can be computed directly in Python
# at the driver's correctness scale factor and emitted as a literal
# oracle table — giving the multimodal queries the SAME
# rows/schema/hash gate as every SQL-expressible spec.
_MULTIMODAL_ORACLE_DOCS = "/root/testdata/sf0.01/documents.parquet"


@lru_cache(maxsize=4)
def _read_multimodal_docs(docs_path: str):
    """One parquet read shared by the three per-kind oracle builders
    (memoized — catalog import calls them back to back)."""
    import pyarrow.parquet as pq

    return pq.read_table(
        docs_path, columns=["doc_id", "text", "n_chars"]
    ).to_pylist()


def _multimodal_oracle(kind: str, docs_path: str = _MULTIMODAL_ORACLE_DOCS) -> "str | None":
    import hashlib
    import os

    if not os.path.exists(docs_path):
        # Degrade LOUDLY, not silently: without the parquet the three
        # multimodal specs fall back to a rows-only gate (oracle=None),
        # violating the catalog's no_oracle=0 contract. A hard raise
        # here would instead break the whole catalog import in any
        # environment without testdata, which is worse.
        import warnings

        warnings.warn(
            f"multimodal oracle source {docs_path} missing — "
            f"{kind} spec degrades to a rows-only correctness gate",
            RuntimeWarning,
            stacklevel=2,
        )
        return None

    from .multimodal import fake_resizer

    records = _read_multimodal_docs(docs_path)

    def lit(v) -> str:
        return "NULL" if v is None else (f"'{v}'" if isinstance(v, str) else str(v))

    rows = []
    for rec in records:
        media_id = str(rec["doc_id"])
        text = rec["text"]
        payload = None if text is None else text.encode("utf-8")
        n_bytes = 0 if payload is None else len(payload)
        if kind == "image":
            w, h = fake_image_decoder(payload)
            # NULL payload hashes to NULL, as on the decode path
            chash = None if payload is None else hashlib.md5(payload).hexdigest()
            rows.append((media_id, w, h, n_bytes, chash))
        elif kind == "audio":
            dur, rate, rms = (
                fake_audio_decoder(payload) if payload is not None else (0, 0, 0)
            )
            rows.append((media_id, dur, rate, rms, n_bytes))
        else:  # resize plan
            resized = None if payload is None else fake_resizer(payload, 64, 64)
            rb = None if resized is None else len(resized)
            n_chars = rec["n_chars"]
            if n_chars is None:
                nf = None
            else:
                duration = n_chars % 300 + 1
                nf = min(max(duration - 1, 0), 120) // 30 + 1
            rows.append((media_id, rb, 64, 64, nf))
    cols = {
        "image": ("media_id", "width", "height", "n_bytes", "content_hash"),
        "audio": ("media_id", "duration_ms", "sample_rate", "rms_level", "n_bytes"),
        "resize": ("media_id", "resized_bytes", "width", "height", "n_sampled_frames"),
    }[kind]
    select = ", ".join(
        c if c in ("media_id", "content_hash") else f"CAST({c} AS INT) AS {c}"
        for c in cols
    )
    if not rows:
        # zero documents (empty-input wave): the engine returns an
        # empty frame with the full schema — emit a typed zero-row
        # literal, not a bare `VALUES` (which is a parse error)
        nulls = ", ".join("NULL" for _ in cols)
        return (
            f"SELECT {select} FROM (VALUES ({nulls})) "
            f"AS t({', '.join(cols)}) WHERE 1 = 0"
        )
    values = ",\n".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)
    return (
        f"SELECT {select} FROM (VALUES {values}) AS t({', '.join(cols)})"
    )


# --- temporal joins & sketches ----------------------------------------

RANGE_DAY_US = 24 * 3600 * 1_000_000


def q_asof_latest_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time enrichment: each purchase event annotated with the
    user's most recent click at-or-before it (backward-inclusive as-of
    join — operators/temporal.py)."""
    from .temporal import asof_join, ts_micros

    register_tables(spark, sf_dir, ("events",))
    ev = spark.table("events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    joined = asof_join(
        purchases,
        clicks,
        on="user_id",
        left_time="ts",
        right_time="click_ts",
        right_cols=["click_id", "click_ts"],
        # deterministic tie-break: two clicks at an identical (user,
        # ts) resolve to the MAX click_id (asof_join takes the last
        # row in ascending right_order); the oracle mirrors this by
        # pre-deduping the right side to MAX(event_id) per (user, ts)
        right_order="click_id",
    )
    # no-match -> -1, not NULL: nullable BIGINTs round-trip as NaN
    # through pandas on the oracle side, which breaks value compares
    return joined.select(
        "purchase_id",
        "user_id",
        F.coalesce("click_id", F.lit(-1)).alias("click_id"),
        F.coalesce(
            ts_micros("ts") - ts_micros("click_ts"), F.lit(-1)
        ).alias("gap_us"),
    )


ORACLE_ASOF_LATEST_CLICK = """
SELECT p.event_id AS purchase_id,
       p.user_id AS user_id,
       -- a NULL left time has no "most recent click before it":
       -- DuckDB's ASOF sorts NULL greatest and would match the user's
       -- LAST click; the engine contract (asof_join) is no-match
       CASE WHEN p.ts IS NULL THEN -1
            ELSE COALESCE(c.event_id, -1) END AS click_id,
       COALESCE(epoch_us(p.ts) - epoch_us(c.ts), -1) AS gap_us
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (
  -- pre-dedup to MAX(event_id) per (user, ts): DuckDB's ASOF picks an
  -- arbitrary row among duplicate right timestamps; the Spark side's
  -- right_order='click_id' tie-break resolves to the same max id
  SELECT user_id, ts, MAX(event_id) AS event_id
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
) c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def q_range_next_day_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded interval join: per view event, how many purchases the
    same user makes within the following 24h (bucketed range join —
    operators/temporal.py)."""
    from .temporal import range_count_join

    register_tables(spark, sf_dir, ("events",))
    ev = spark.table("events")
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("purchase_ts")
    )
    return range_count_join(
        views,
        purchases,
        on="user_id",
        left_time="ts",
        right_time="purchase_ts",
        window_us=RANGE_DAY_US,
        count_col="n_purchases",
    ).select("view_id", "user_id", "n_purchases")


ORACLE_RANGE_NEXT_DAY = """
-- the engine annotates each view ROW (a duplicated view event stays
-- two rows, each with its own count — ORACLES.md #15), so the oracle
-- groups by a synthetic per-row id, not by (event_id, user_id) which
-- would merge duplicates and double their counts
WITH v AS (
  SELECT *, row_number() OVER () AS rid
  FROM events WHERE event_type = 'view'
)
SELECT v.event_id AS view_id,
       v.user_id AS user_id,
       CAST(count(p.ts) AS BIGINT) AS n_purchases
FROM v
LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON v.user_id = p.user_id
 AND p.ts > v.ts
 AND epoch_us(p.ts) <= epoch_us(v.ts) + 86400000000
GROUP BY v.rid, v.event_id, v.user_id
"""


def q_kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-count sketch vs the exact count, per event type
    (operators/sketch.py): k=64 < 150 distinct users, so the estimation
    path is genuinely exercised."""
    from .sketch import kmv_distinct

    register_tables(spark, sf_dir, ("events",))
    ev = spark.table("events")
    est = kmv_distinct(ev, ["event_type"], "user_id", k=64, est_col="est_users")
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_users")
    )
    return est.join(exact, "event_type").select(
        "event_type", "est_users", "exact_users"
    )


def _oracle_kmv() -> str:
    return f"""
WITH h AS (
  SELECT DISTINCT event_type, {duck_h32("CAST(user_id AS VARCHAR)")} AS h
  FROM events WHERE user_id IS NOT NULL
),
rk AS (
  SELECT event_type, h, row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
  FROM h
),
kept AS (
  SELECT event_type, count(*) AS n, max(h) AS kth FROM rk WHERE rk <= 64 GROUP BY 1
)
SELECT kept.event_type,
       CAST(CASE WHEN n < 64 THEN n
                 ELSE floor(63.0 * 4294967296.0 / kth) END AS BIGINT) AS est_users,
       e.exact_users
FROM kept
JOIN (
  SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
  FROM events GROUP BY 1
) e USING (event_type)
"""


def q_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct users per event type via Spark's
    built-in ``approx_count_distinct`` (rsd=0.05), gated against the
    exact count at 5x the configured relative error plus slack — the
    error-bound-gate pattern of the recall-gated ANN specs (HLL sketch
    values aren't SQL-portable, but the accuracy CONTRACT is). 5-sigma
    plus an additive floor keeps the gate deterministic in practice on
    ANY dataset (a 3-sigma bound would be a per-dataset lottery with
    ~0.3% failure odds per group) while still catching an estimator
    that's actually broken. At 100x this is the estimator that
    replaces COUNT(DISTINCT)'s full shuffle with a constant-size
    mergeable sketch; KMV/theta/count-min cover the rest of the
    sketch family."""
    register_tables(spark, sf_dir, ("events",))
    ev = spark.table("events")
    est = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.05).alias("hll_users"),
        F.countDistinct("user_id").cast("bigint").alias("exact_users"),
    )
    bound = F.ceil(F.col("exact_users") * 0.25) + F.lit(10)
    return est.select(
        "event_type",
        "exact_users",
        (F.abs(F.col("hll_users") - F.col("exact_users")) <= bound).alias("hll_ok"),
    )


ORACLE_HLL_USERS = """
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS hll_ok
FROM events
GROUP BY event_type
"""


def q_repetition_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition filters: duplicate
    word-trigram fraction and top-word fraction — map-only, no
    shuffle (operators/text.py)."""
    from .text import repetition_ratios

    register_tables(spark, sf_dir, ("documents",))
    return repetition_ratios(spark.table("documents"))


ORACLE_REPETITION_RATIOS = """
WITH toked AS (
  SELECT doc_id, regexp_split_to_array(trim(lower(replace(text, 'İ', 'i̇'))), '[ \\t\\n\\x0B\\f\\r]+') AS t
  FROM documents
),
filt AS (SELECT * FROM toked WHERE len(t) >= 5),
g AS (
  SELECT doc_id, t,
         [t[i] || ' ' || t[i+1] || ' ' || t[i+2] for i in range(1, len(t) - 1)] AS gr
  FROM filt
)
SELECT doc_id,
  CAST(len(t) AS INT) AS n_words,
  ROUND(1.0 - len(list_distinct(gr))::DOUBLE / len(gr), 6) AS dup_ngram_frac,
  ROUND(list_max([len(list_filter(t, x -> x = w))::DOUBLE for w in list_distinct(t)])
        / len(t), 6) AS top_word_frac
FROM g
"""


def q_hash_split_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-mod train/val/test split (operators/split.py)
    summarized per (split, source): the assignment itself is a map-only
    projection; only this reporting rollup shuffles."""
    from .split import hash_split

    register_tables(spark, sf_dir, ("documents",))
    return (
        hash_split(spark.table("documents"))
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
    )


ORACLE_HASH_SPLIT_STATS = """
WITH b AS (
  SELECT *,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS bucket
  FROM documents
)
SELECT CASE WHEN bucket IS NULL THEN NULL  -- NULL id: no split, like
            -- Spark's when-chain without otherwise (md5(NULL) = NULL)
            WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val'
            ELSE 'test' END AS split,
       source,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM b
GROUP BY 1, 2
"""


def q_theta_setops_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set algebra over the viewer vs purchaser user sets
    (operators/sketch.py): union / intersection / difference estimates
    from two k=64 sketches — 150 distinct users per side, so the
    estimation path (not the exact below-capacity path) is exercised."""
    from .sketch import theta_sketch_setops

    register_tables(spark, sf_dir, ("events",))
    return theta_sketch_setops(
        spark.table("events"), "event_type", "user_id", "view", "purchase"
    )


def _oracle_theta_setops() -> str:
    return f"""
WITH h AS (
  SELECT DISTINCT event_type AS grp, {duck_h32("CAST(user_id AS VARCHAR)")} AS h
  FROM events
  WHERE event_type IN ('view', 'purchase') AND user_id IS NOT NULL
),
rk AS (
  SELECT grp, h, row_number() OVER (PARTITION BY grp ORDER BY h) AS rk FROM h
),
sk AS (
  SELECT grp, list_sort(list(h)) AS hs, count(*) AS n, max(h) AS kth
  FROM rk WHERE rk <= 64 GROUP BY 1
),
sk2 AS (
  SELECT grp, CASE WHEN n < 64 THEN 4294967296.0 ELSE kth::DOUBLE END AS theta, hs
  FROM sk
),
-- the (view, purchase) pair is a QUERY PARAMETER, not data: the
-- engine reports zero estimates for the requested pair even when one
-- or both sides have no rows (empty-input wave), so the pair row is a
-- literal and the sketches LEFT JOIN onto it (missing side = empty
-- sketch: theta 2^32, no retained hashes)
pairs AS (SELECT 'view' AS group_a, 'purchase' AS group_b),
j AS (
  SELECT p.group_a, p.group_b,
         least(coalesce(a.theta, 4294967296.0),
               coalesce(b.theta, 4294967296.0)) AS th,
         coalesce(a.hs, CAST([] AS BIGINT[])) AS ha,
         coalesce(b.hs, CAST([] AS BIGINT[])) AS hb
  FROM pairs p
  LEFT JOIN sk2 a ON a.grp = p.group_a
  LEFT JOIN sk2 b ON b.grp = p.group_b
),
f AS (
  SELECT group_a, group_b, th,
         list_filter(ha, x -> x < th) AS fa,
         list_filter(hb, x -> x < th) AS fb
  FROM j
),
c AS (
  SELECT group_a, group_b, th, len(fa) AS na, len(fb) AS nb,
         len(list_filter(fa, x -> list_contains(fb, x))) AS ni
  FROM f
)
SELECT group_a, group_b,
  CAST(floor((na + nb - ni) * 4294967296.0 / th) AS BIGINT) AS union_est,
  CAST(floor(ni * 4294967296.0 / th) AS BIGINT) AS intersect_est,
  CAST(floor((na - ni) * 4294967296.0 / th) AS BIGINT) AS a_not_b_est,
  ROUND(CASE WHEN na + nb - ni = 0 THEN 0.0
             ELSE ni::DOUBLE / (na + nb - ni) END, 6) AS jaccard
FROM c
"""


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: eval-split docs sharing word 4-grams
    with any train-split doc (operators/curation.py)."""
    from .curation import contamination_report

    register_tables(spark, sf_dir, ("documents",))
    return contamination_report(spark.table("documents"), n=4)


def _oracle_contamination(n: int = 4) -> str:
    h60 = "('0x' || substr(md5(gram), 1, 15))::BIGINT"
    return f"""
WITH toks AS (
  SELECT doc_id AS doc,
         CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 80
              THEN 'train'
              WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 90
              THEN 'val' ELSE 'test' END AS split,
         {DUCK_TOKENS} AS t
  FROM documents
  WHERE len({DUCK_TOKENS}) >= {n}
),
grams AS (
  SELECT doc, split, {h60.replace("gram", f"unnest({_duck_grams(n)})")} AS h
  FROM toks
),
train AS (SELECT DISTINCT h FROM grams WHERE split = 'train'),
ev AS (SELECT doc, split, h FROM grams WHERE split <> 'train')
SELECT ev.doc AS doc_id, ev.split,
       COUNT(*) AS n_grams,
       CAST(COUNT(train.h) AS BIGINT) AS n_contaminated,
       ROUND(COUNT(train.h) / COUNT(*), 6) AS contamination
FROM ev LEFT JOIN train ON ev.h = train.h
GROUP BY 1, 2
"""


def q_source_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document caps (at most 20 docs per source, longest
    first) via skew-safe two-phase top-k (operators/curation.py)."""
    from .curation import cap_per_group

    register_tables(spark, sf_dir, ("documents",))
    return cap_per_group(
        spark.table("documents").select("doc_id", "source", "n_chars"),
        group_col="source",
        order_cols=["n_chars", "doc_id"],
        k=20,
    )


ORACLE_SOURCE_CAPS = """
SELECT doc_id, source, n_chars, rank FROM (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rank
  FROM documents
) WHERE rank <= 20
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsample: rebalance the language mix
    by keeping 30% of 'en' docs and all others (operators/curation.py)."""
    from .curation import stratified_sample

    register_tables(spark, sf_dir, ("documents",))
    return stratified_sample(
        spark.table("documents").select("doc_id", "lang", "source"),
        strata_col="lang",
        rates_bp={"en": 3000},
        default_rate_bp=10000,
    )


ORACLE_STRATIFIED_SAMPLE = """
SELECT doc_id, lang, source,
       ('0x' || substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
         % 10000 AS sample_bucket
FROM documents
WHERE ('0x' || substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        % 10000
      < CASE WHEN lang = 'en' THEN 3000 ELSE 10000 END
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document packing: lay documents end-to-end in doc_id order and
    cut 512-token training sequences; the running total is a two-phase
    parallel prefix sum, never a single-partition window
    (operators/curation.py)."""
    from .curation import pack_sequences
    from .text import tokens

    register_tables(spark, sf_dir, ("documents",))
    docs = spark.table("documents").select(
        "doc_id", F.size(tokens(F.col("text"))).alias("n_tokens")
    )
    return pack_sequences(docs, seq_len=512)


ORACLE_PACK_SEQUENCES = f"""
WITH counted AS (
  SELECT doc_id, len({DUCK_TOKENS}) AS n_tokens FROM documents
),
cum AS (
  SELECT doc_id, n_tokens,
         SUM(n_tokens) OVER (ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_tokens AS start
  FROM counted
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(start // 512 AS BIGINT) AS seq_id,
       CAST(start % 512 AS BIGINT) AS seq_offset
FROM cum
"""


def q_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Output-shard planning: lay documents end-to-end in id order and
    cut fixed-byte training shards (64 KB here) — the WebDataset-style
    shard assignment a serving/export step consumes, reusing the same
    two-phase parallel prefix sum as sequence packing (the shard id is
    just the byte prefix-sum div the shard budget; no single-partition
    window)."""
    from .curation import pack_sequences

    register_tables(spark, sf_dir, ("documents",))
    docs = spark.table("documents").select(
        "doc_id", F.col("n_chars").cast("bigint").alias("n_bytes")
    )
    out = pack_sequences(docs, seq_len=65536, count_col="n_bytes")
    return out.select(
        "doc_id",
        "n_bytes",
        F.col("seq_id").alias("shard_id"),
        F.col("seq_offset").alias("shard_offset"),
    )


ORACLE_SHARD_PLAN = """
WITH cum AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_bytes,
         SUM(CAST(n_chars AS BIGINT)) OVER (ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n_chars AS start
  FROM documents
)
SELECT doc_id, n_bytes,
       CAST(start // 65536 AS BIGINT) AS shard_id,
       CAST(start % 65536 AS BIGINT) AS shard_offset
FROM cum
"""


def q_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE tokenizer-training round: corpus-wide adjacent-token
    pair counts, top-20 (operators/text.py)."""
    register_tables(spark, sf_dir, ("documents",))
    from .text import bpe_merge_candidates

    return bpe_merge_candidates(spark.table("documents"), top_k=20)


ORACLE_BPE_MERGE_CANDIDATES = f"""
WITH toks AS (
  SELECT regexp_split_to_array(trim(lower(replace(text, 'İ', 'i̇'))), '[ \\t\\n\\x0B\\f\\r]+') AS t FROM documents
  WHERE len(regexp_split_to_array(trim(lower(replace(text, 'İ', 'i̇'))), '[ \\t\\n\\x0B\\f\\r]+')) >= 2
),
pairs AS (
  SELECT unnest([t[i] || ' ' || t[i+1] for i in range(1, len(t))]) AS pair
  FROM toks
),
counts AS (
  SELECT pair, COUNT(*) AS n_occurrences FROM pairs GROUP BY pair
)
SELECT CAST(row_number() OVER (ORDER BY n_occurrences DESC, pair) AS INT) AS rank,
       pair, n_occurrences
FROM counts
ORDER BY n_occurrences DESC, pair
LIMIT 20
"""


def q_multimodal_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize (Arrow mapInPandas, fake resizer) composed with the
    JVM-side video frame-sampling plan — the binary-column pipeline
    shape: plan/prune in Catalyst, decode at the Python edge."""
    from .multimodal import fake_resizer, frame_sample_plan, resize_images

    register_tables(spark, sf_dir, ("documents",))
    media = spark.table("documents").select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        (F.col("n_chars") % 300 + 1).alias("duration_frames"),
    )
    # frame plan first (a JVM-side withColumn), then the frame count
    # rides through the resize as a PASSTHROUGH column — no join-back
    # by media_id, so no shuffle and no fan-out on duplicated ids
    # (duplicate-row gate class; see ORACLES.md #15)
    planned = frame_sample_plan(media, every_n_frames=30, max_frames=5)
    planned = planned.withColumn(
        "n_sampled_frames", F.size("sample_frames")
    ).drop("sample_frames")
    resized = resize_images(
        planned,
        target_w=64,
        target_h=64,
        resizer=fake_resizer,
        passthrough=("n_sampled_frames",),
    )
    return resized.select(
        "media_id",
        F.length("payload").alias("resized_bytes"),
        "width",
        "height",
        "n_sampled_frames",
    )


def q_streaming_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator: gap-based sessionization via
    applyInPandasWithState with event-time timeout, drained over a
    time-ordered file source with watermark-flush sentinels
    (streaming/specs._stream_flush_source_dir) so EVERY session —
    including the per-user final ones — closes deterministically
    before the availableNow drain ends. The drained output is
    hash-equal to the batch window-function oracle, which puts the
    streaming engine (micro-batching, state store, event-time
    timeouts) under the full correctness gate."""
    from ..streaming.specs import SENTINEL_USER, _stream_flush_source_dir
    from ..streaming.windows import (
        run_available_now,
        sessionize,
        shuffle_partitions,
    )

    import hashlib as _hl

    source = _stream_flush_source_dir(spark, sf_dir)
    with shuffle_partitions(spark, 8):
        # Drain ALL files in one micro-batch (availableNow with no
        # maxFilesPerTrigger): the session fn sorts each user's full
        # series in-batch, so the in-order-across-batches requirement
        # is vacuous, nothing is late (the first batch runs under
        # watermark 0), and the batch's own max event time — the
        # second sentinel — advances the watermark past every real
        # session's gap boundary, so the engine's one trailing
        # timeout batch flushes every open session deterministically.
        # Byte-identical output to the old file-at-a-time drain
        # (compared row-for-row in round 13)
        # at 2 micro-batches instead of 5 — each batch pays a
        # state-store/Python round trip measured at 0.75-2 s (r12).
        # Production streams (unbounded sources) still drain
        # file-at-a-time via the max_files_per_trigger parameter.
        sdf = sessionize(spark, source, timeout="event")
        name = "stream_sess_" + _hl.md5(sf_dir.encode()).hexdigest()[:8]
        result = run_available_now(sdf, name, output_mode="append")
        return result.filter(F.col("user_id") != SENTINEL_USER)


ORACLE_STREAMING_SESSIONIZATION = """
WITH marked AS (
  SELECT user_id, ts,
    CASE WHEN epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
         THEN 1 ELSE 0 END AS brk
  FROM events
  -- streaming drops NULL event times (watermarking engine-side, and
  -- the session fn filters NaT) and NULL users (no key to attribute
  -- a session to) — mirror both here
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sessions AS (
  SELECT user_id, ts,
    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       COUNT(*) AS n_events
FROM sessions
GROUP BY user_id, sid
"""


RP_OUT_DIM, RP_IN_DIM = 8, 64


def q_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss reduction 64-d -> 8-d with deterministic
    md5-derived directions (operators/similarity.py): map-only, the
    weight matrix ships as plan literals."""
    from .similarity import random_projection

    register_tables(spark, sf_dir, ("embeddings",))
    return random_projection(
        spark.table("embeddings"), out_dim=RP_OUT_DIM, in_dim=RP_IN_DIM
    )


def _oracle_random_projection() -> str:

    weights = hyperplane_weights(RP_OUT_DIM, RP_IN_DIM)
    cols = ",\n       ".join(
        "ROUND(list_dot_product(embedding::DOUBLE[], [{}]), 6) AS p{}".format(
            ", ".join(repr(v) for v in row), j
        )
        for j, row in enumerate(weights)
    )
    return (
        f"SELECT vec_id,\n       {cols}\nFROM embeddings\n"
        "WHERE embedding IS NOT NULL"
    )


def q_unigram_frequency_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency quality signal: per-doc mean token ppm + rare
    fraction (operators/text.py) — the statistical complement to the
    heuristic quality scores."""
    from .text import unigram_frequency_scores

    register_tables(spark, sf_dir, ("documents",))
    return unigram_frequency_scores(spark.table("documents"))


ORACLE_UNIGRAM_FREQUENCY = """
WITH toks AS (
  SELECT doc_id AS doc,
         unnest(regexp_split_to_array(trim(lower(replace(text, 'İ', 'i̇'))), '[ \\t\\n\\x0B\\f\\r]+')) AS tok
  FROM documents
  WHERE trim(text) <> ''
),
freqs AS (
  SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
),
total AS (SELECT SUM(c) AS n FROM freqs),
ppm AS (
  SELECT tok, (c * 1000000) // (SELECT n FROM total) AS ppm FROM freqs
)
SELECT doc AS doc_id,
       COUNT(*) AS n_tokens,
       ROUND(SUM(ppm) / COUNT(*), 6) AS mean_token_ppm,
       ROUND(SUM(CASE WHEN ppm < 500 THEN 1 ELSE 0 END) / COUNT(*), 6)
         AS rare_frac
FROM toks JOIN ppm USING (tok)
GROUP BY doc
"""


def q_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus-health diagnostics: tokens, types, TTR, hapax
    fraction (operators/text.py)."""
    from .text import vocab_stats

    register_tables(spark, sf_dir, ("documents",))
    return vocab_stats(spark.table("documents"))


ORACLE_VOCAB_STATS = """
WITH toks AS (
  SELECT source AS grp,
         unnest(regexp_split_to_array(trim(lower(replace(text, 'İ', 'i̇'))), '[ \\t\\n\\x0B\\f\\r]+')) AS tok
  FROM documents
  WHERE trim(text) <> ''
),
tc AS (SELECT grp, tok, COUNT(*) AS c FROM toks GROUP BY grp, tok)
SELECT grp AS source,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       COUNT(*) AS n_types,
       ROUND(COUNT(*) / SUM(c), 6) AS type_token_ratio,
       ROUND(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) / COUNT(*), 6) AS hapax_frac
FROM tc
GROUP BY grp
"""


def q_salted_user_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted join under the oracle gate: enrich every event with
    its user's purchase count via operators/skew.salted_join (big side
    salted, small side replicated per salt), then roll up per event
    type. The result must equal the plain SQL join — salting is a
    physical-distribution change only. At 100 TB this is the manual
    fallback when one hot user key exceeds what AQE skew-splitting
    handles."""
    from .skew import salted_join

    register_tables(spark, sf_dir, ("events",))
    ev = spark.table("events")
    per_user = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_purchases"))
    )
    joined = salted_join(
        ev.select("event_id", "user_id", "event_type"), per_user, on="user_id"
    )
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("n_purchases").cast("bigint").alias("total_purchase_weight"),
    )


ORACLE_SALTED_USER_ENRICHMENT = """
SELECT e.event_type,
       COUNT(*) AS n_events,
       CAST(SUM(p.n_purchases) AS BIGINT) AS total_purchase_weight
FROM events e
JOIN (SELECT user_id, COUNT(*) AS n_purchases
      FROM events WHERE event_type = 'purchase' GROUP BY user_id) p
  ON e.user_id = p.user_id
GROUP BY e.event_type
"""


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated 8-word-span fraction per document (substring-level
    dedup rollup; operators/text.py:span_dedup_stats)."""
    register_tables(spark, sf_dir, ("documents",))
    return span_dedup_stats(spark.table("documents"), span_len=8)


ORACLE_SPAN_DEDUP = f"""
WITH toks AS (
  SELECT doc_id, {DUCK_TOKENS} AS ts FROM documents
),
spans AS (
  SELECT doc_id,
         md5(array_to_string(list_slice(ts, i*8 + 1, i*8 + 8), ' ')) AS span_h
  FROM toks,
       unnest(generate_series(0, CAST(ceil(len(ts) / 8.0) AS INT) - 1)) AS g(i)
  WHERE len(ts) > 0
),
counts AS (
  SELECT span_h, COUNT(*) AS global_cnt FROM spans GROUP BY span_h
)
SELECT s.doc_id AS doc,
       COUNT(*) AS n_spans,
       CAST(SUM(CASE WHEN c.global_cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_spans,
       ROUND(SUM(CASE WHEN c.global_cnt > 1 THEN 1 ELSE 0 END)::DOUBLE
             / COUNT(*), 6) AS dup_span_frac
FROM spans s JOIN counts c USING (span_h)
GROUP BY s.doc_id
"""


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-shaped scrub over the events props payload: per event type,
    match counts and distinct redacted payload shapes
    (operators/text.py:pii_redaction). The per-record scrub is
    map-only; this rollup is one hash aggregate."""
    register_tables(spark, sf_dir, ("events",))
    red = pii_redaction(
        spark.table("events").select("event_id", "event_type", "props"),
        text_col="props",
    )
    return red.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.sum("n_emails").cast("bigint").alias("total_emails"),
        F.sum("n_numbers").cast("bigint").alias("total_numbers"),
        F.countDistinct("redacted").alias("n_redacted_shapes"),
    )


ORACLE_PII_REDACTION = """
SELECT event_type,
       COUNT(*) AS n_records,
       CAST(SUM(len(regexp_extract_all(props,
            '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}'))) AS BIGINT)
         AS total_emails,
       CAST(SUM(len(regexp_extract_all(
            regexp_replace(props,
              '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
            '[0-9]{2,}'))) AS BIGINT) AS total_numbers,
       COUNT(DISTINCT regexp_replace(
            regexp_replace(props,
              '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
            '[0-9]{2,}', '<NUM>', 'g')) AS n_redacted_shapes
FROM events
GROUP BY event_type
"""


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids via posexplode + decimal-summed
    mean (operators/similarity.py:label_centroids)."""
    register_tables(spark, sf_dir, ("embeddings",))
    return label_centroids(spark.table("embeddings"))


ORACLE_LABEL_CENTROIDS = """
WITH ex AS (
  SELECT label,
         generate_subscripts(embedding, 1) - 1 AS dim,
         unnest(embedding) AS v
  FROM embeddings
)
SELECT label, dim,
       ROUND(CAST(SUM(CAST(ROUND(CAST(v AS DOUBLE), 6) AS DECIMAL(18,6)))
                  AS DOUBLE) / COUNT(*), 6) AS mean_v,
       COUNT(*) AS n_vectors
FROM ex
GROUP BY 1, 2
"""


def q_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened language mix (alpha=0.5): en dominates the
    corpus, so its keep-rate drops toward sqrt(min/count)
    (operators/curation.py:temperature_sample)."""
    from .curation import temperature_sample

    register_tables(spark, sf_dir, ("documents",))
    return temperature_sample(
        spark.table("documents").select("doc_id", "lang", "source"),
        strata_col="lang",
        alpha=0.5,
    )


ORACLE_TEMPERATURE_SAMPLE = """
WITH counts AS (
  -- null strata are excluded from the rate computation (a NULL group
  -- would corrupt MIN(c), shrinking every real stratum's rate) —
  -- mirrors temperature_sample's documented contract
  SELECT lang, COUNT(*) AS c FROM documents
  WHERE lang IS NOT NULL GROUP BY lang
),
m AS (SELECT MIN(c) AS mc FROM counts),
rates AS (
  SELECT lang,
         GREATEST(1, CAST(FLOOR(10000 * sqrt(mc::DOUBLE / c::DOUBLE)) AS BIGINT))
           AS rate_bp
  FROM counts, m
)
SELECT doc_id, d.lang, d.source,
       ('0x' || substr(md5('temp:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
         % 10000 AS sample_bucket
FROM documents d JOIN rates r ON d.lang = r.lang
WHERE ('0x' || substr(md5('temp:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
        % 10000
      < r.rate_bp
"""


PQ_SHORTLIST_K = 20
PQ_MIN_TOTAL_HITS = 5  # aggregate shortlist recall: ≥5 of the 25 exact
# top-5 slots across the 5 queries must survive PQ compression — ~25%
# corpus-level recall, vs ~1 expected hit by chance at sf0.01. Uniform
# random embeddings are PQ's worst case (no cluster structure), so the
# gate is corpus-level: per-query recall on this data is noisy, but a
# broken codebook/encode/ADC drops the total to chance level.


def q_similarity_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN, the full production shape: train m
    per-subspace codebooks (driver-side Lloyd's on a bounded sample),
    encode the corpus to m uint8-sized codes (map-only, codebooks as
    literals — at 100 TB the ~64x-smaller code table is the whole
    point), ADC-score a broadcast query set against the codes for a
    shortlist, then RE-RANK the shortlist with exact distances on the
    raw vectors (touching only |q|x20 rows of the full-width table).
    Gated on recall against the independently-oracled exact top-5
    (operators/similarity.py:pq_codebooks/pq_encode/pq_adc_topk)."""
    from .similarity import l2_topk, pq_adc_topk, pq_codebooks, pq_encode
    from pyspark.sql import Window as W

    register_tables(spark, sf_dir, ("embeddings",))
    emb = spark.table("embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    books = pq_codebooks(emb, m=8, n_codes=16, iters=3)
    codes = pq_encode(emb, books)
    shortlist = pq_adc_topk(codes, queries, books, k=PQ_SHORTLIST_K)
    # exact re-rank of the shortlist only
    qvecs = F.broadcast(
        queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    )
    nvecs = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("nv")
    )
    sq = F.aggregate(
        F.zip_with(
            F.col("qv"),
            F.col("nv"),
            lambda a, b: (a.cast("double") - b.cast("double"))
            * (a.cast("double") - b.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    rerank_w = W.partitionBy("query_id").orderBy(F.asc("sq_dist"), F.asc("neighbor_id"))
    reranked = (
        shortlist.select("query_id", "neighbor_id")
        .join(nvecs, "neighbor_id")
        .join(qvecs, "query_id")
        .select("query_id", "neighbor_id", F.round(sq, 6).alias("sq_dist"))
        .withColumn("rr", F.row_number().over(rerank_w))
        .filter(F.col("rr") <= 5)
    )
    exact = l2_topk(emb, queries, k=5)
    hits = (
        reranked.join(
            exact.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"]
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    total_w = W.partitionBy()
    return (
        queries.select(F.col("vec_id").alias("query_id"))
        .join(hits, "query_id", "left")
        .select("query_id", F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"))
        .select(
            "query_id",
            (F.sum("n_hits").over(total_w) >= PQ_MIN_TOTAL_HITS).alias("recall_ok"),
        )
    )


ORACLE_PQ_ADC = f"""
SELECT vec_id AS query_id, TRUE AS recall_ok
FROM embeddings WHERE vec_id < {N_QUERY_VECS} AND embedding IS NOT NULL
"""


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup: the newest 20% of documents checked
    against the older 80% as the standing index
    (operators/dedup.py:incremental_matches_from_buckets). Returns
    every new doc with its best corpus match (most agreeing bands,
    min-id tie-break) or NULLs when nothing collides. The band-bucket
    index is computed ONCE over all documents and filtered into the
    two sides (persisted — both sides branch off the same tokenize+
    minhash lineage; in production the corpus side is a standing
    table)."""
    from .dedup import incremental_matches_from_buckets, minhash_band_buckets
    from pyspark.sql import Window as W
    from .. import cache

    register_tables(spark, sf_dir, ("documents",))
    docs = spark.table("documents")
    # Lazy threshold: an eager collect here would run a full scan just
    # to BUILD the plan (and crash on an empty table) — broadcast the
    # 1-row aggregate instead (same pattern as q_customer_rfm_segments)
    thr = docs.agg(F.expr("max(doc_id) * 4 div 5").alias("__thr"))

    def above(df: DataFrame, col: str) -> DataFrame:
        return (
            df.join(F.broadcast(thr))
            .filter(F.col(col) >= F.col("__thr"))
            .drop("__thr")
        )

    def below(df: DataFrame, col: str) -> DataFrame:
        return (
            df.join(F.broadcast(thr))
            .filter(F.col(col) < F.col("__thr"))
            .drop("__thr")
        )

    new = above(docs, "doc_id")
    buckets = cache.track(
        minhash_band_buckets(
            docs, num_perm=DEMO_NUM_PERM, bands=DEMO_BANDS
        ).persist()
    )
    matches = incremental_matches_from_buckets(
        below(buckets, "doc"),
        above(buckets, "doc"),
    )
    best = (
        matches.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("new_doc").orderBy(
                    F.desc("matching_bands"), F.asc("corpus_doc")
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return (
        new.select(F.col("doc_id").alias("new_doc"))
        .join(best, "new_doc", "left")
        .select(
            "new_doc",
            F.col("corpus_doc").alias("matched_doc"),
            "matching_bands",
        )
    )


def _oracle_dedup_incremental() -> str:
    consts = lcg_constants(DEMO_NUM_PERM)
    rows_per_band = DEMO_NUM_PERM // DEMO_BANDS
    sig_exprs = ",\n    ".join(
        f"MIN({perm_hash_sql(duck_h32('gram'), a, b)}) AS sig_{i}"
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
WITH thr AS (SELECT (MAX(doc_id) * 4) // 5 AS t FROM documents),
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
buckets AS ({band_selects}),
matches AS (
  SELECT b.doc AS new_doc, a.doc AS corpus_doc, COUNT(*) AS matching_bands
  FROM buckets a
  JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket, thr
  WHERE a.doc < thr.t AND b.doc >= thr.t
  GROUP BY 1, 2
),
best AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY new_doc
                                 ORDER BY matching_bands DESC, corpus_doc ASC) AS rn
    FROM matches
  ) WHERE rn = 1
)
SELECT d.doc_id AS new_doc, best.corpus_doc AS matched_doc, best.matching_bands
FROM documents d LEFT JOIN best ON d.doc_id = best.new_doc, thr
WHERE d.doc_id >= thr.t
"""


def q_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data-quality profile of orders: null rate, exact
    distinct count, min/max (operators/profile.py:column_profile) —
    one aggregate pass + a map-only unpivot."""
    from .profile import column_profile

    register_tables(spark, sf_dir, ("orders",))
    return column_profile(
        spark.table("orders"),
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority", "o_orderdate"],
    )


def _profile_oracle_col(c: str) -> str:
    return f"""
SELECT '{c}' AS "column",
       (SELECT COUNT(*) FROM orders) AS n_rows,
       CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
       ROUND(CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS null_frac,
       COUNT(DISTINCT {c}) AS n_distinct,
       CAST(MIN({c}) AS VARCHAR) AS min_value,
       CAST(MAX({c}) AS VARCHAR) AS max_value
FROM orders"""


ORACLE_COLUMN_PROFILE = " UNION ALL ".join(
    _profile_oracle_col(c)
    for c in ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority", "o_orderdate"]
)


TOKEN_BUDGET = 8000
TOKEN_BUDGET_HEAVY = ("src0", "src1", "src2", "src3")  # weight 3, others 1


def q_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture builder: sample documents toward an 8000-token
    budget with sources src0-src3 weighted 3x
    (operators/curation.py:token_budget_sample; integer-exact rates)."""
    from .curation import token_budget_sample
    from .text import tokens as tok_expr

    register_tables(spark, sf_dir, ("documents",))
    docs = spark.table("documents").select(
        "doc_id",
        "source",
        F.size(tok_expr(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    weights = {f"src{i}": (3 if f"src{i}" in TOKEN_BUDGET_HEAVY else 1) for i in range(20)}
    return token_budget_sample(
        docs, "source", weights, TOKEN_BUDGET, count_col="n_tokens"
    )


def _oracle_token_budget() -> str:
    heavy = ", ".join(f"'{s}'" for s in TOKEN_BUDGET_HEAVY)
    sum_w = 4 * 3 + 16 * 1
    return f"""
WITH tok AS (
  SELECT doc_id, source,
         CAST(len({DUCK_TOKENS}) AS BIGINT) AS n_tokens
  FROM documents
),
counts AS (SELECT source, SUM(n_tokens) AS tot FROM tok GROUP BY source),
rates AS (
  SELECT source,
         LEAST(10000,
               (10000 * {TOKEN_BUDGET}
                * (CASE WHEN source IN ({heavy}) THEN 3 ELSE 1 END))
               // ({sum_w} * tot)) AS rate_bp
  FROM counts
)
SELECT t.doc_id, t.source, t.n_tokens,
       ('0x' || substr(md5('budget:' || CAST(t.doc_id AS VARCHAR)), 1, 8))::BIGINT
         % 10000 AS sample_bucket
FROM tok t JOIN rates r ON t.source = r.source
WHERE ('0x' || substr(md5('budget:' || CAST(t.doc_id AS VARCHAR)), 1, 8))::BIGINT
        % 10000
      < r.rate_bp
"""


def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distance-to-centroid z-score outlier flags per label
    (operators/similarity.py:embedding_outliers)."""
    from .similarity import embedding_outliers

    register_tables(spark, sf_dir, ("embeddings",))
    return embedding_outliers(spark.table("embeddings"), z_threshold=2.0)


ORACLE_EMBEDDING_OUTLIERS = """
WITH ex AS (
  -- rid keys each PHYSICAL row: the engine computes sq_dist as a
  -- per-row array fold, so duplicated vec_ids stay separate rows
  -- (grouping by vec_id would merge copies and double their sq_dist:
  -- duplicate-row gate, ORACLES.md #15)
  SELECT rid, vec_id, label,
         generate_subscripts(embedding, 1) - 1 AS dim,
         unnest(embedding) AS v
  FROM (SELECT *, row_number() OVER () AS rid FROM embeddings)
),
cents AS (
  SELECT label, dim,
         ROUND(CAST(SUM(CAST(ROUND(CAST(v AS DOUBLE), 6) AS DECIMAL(18,6)))
                    AS DOUBLE) / COUNT(*), 6) AS mean_v
  FROM ex GROUP BY 1, 2
),
dists AS (
  SELECT e.rid, e.vec_id AS vec, e.label,
         ROUND(CAST(SUM(CAST(ROUND((CAST(e.v AS DOUBLE) - c.mean_v)
                                   * (CAST(e.v AS DOUBLE) - c.mean_v), 6)
                             AS DECIMAL(18,6))) AS DOUBLE), 6) AS sq_dist
  FROM ex e JOIN cents c USING (label, dim)
  GROUP BY 1, 2, 3
),
m AS (
  SELECT label, COUNT(*) AS n,
         SUM(CAST(sq_dist AS DECIMAL(18,6))) AS sx,
         SUM(CAST(sq_dist AS DECIMAL(18,6)) * CAST(sq_dist AS DECIMAL(18,6))) AS sxx
  FROM dists GROUP BY 1
),
stats AS (
  SELECT label,
         CAST(sx AS DOUBLE) / n AS mean_d,
         CASE WHEN n > 1
               AND (CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / (n - 1.0) >= 0
              THEN SQRT((CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / (n - 1.0))
         END AS std_d
  FROM m
)
SELECT d.vec, d.label, d.sq_dist,
       CASE WHEN s.std_d IS NOT NULL
            THEN d.sq_dist > s.mean_d + 2.0 * s.std_d
            ELSE FALSE END AS is_outlier
FROM dists d JOIN stats s USING (label)
"""


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 64-token chunks with 16-token overlap
    (operators/text.py:chunk_documents) — RAG/embedding prep."""
    from .text import chunk_documents

    register_tables(spark, sf_dir, ("documents",))
    return chunk_documents(spark.table("documents"), chunk_tokens=64, overlap=16)


ORACLE_CHUNK_DOCUMENTS = f"""
WITH toks AS (
  -- null text yields no chunks (mirrors chunk_documents, where the
  -- null token array collapses the starts sequence and explode drops
  -- the row) — without this the oracle fabricates one NULL chunk
  SELECT doc_id AS doc, {DUCK_TOKENS} AS ts FROM documents
  WHERE text IS NOT NULL
),
starts AS (
  SELECT doc, ts,
         GREATEST(1, CAST(CEIL((len(ts) - 16) / 48.0) AS INT)) AS n_starts
  FROM toks
)
SELECT doc,
       i AS chunk_idx,
       array_to_string(list_slice(ts, i * 48 + 1, i * 48 + 64), ' ') AS chunk_text,
       CAST(LEAST(len(ts) - i * 48, 64) AS BIGINT) AS n_tokens
FROM starts, unnest(generate_series(0, n_starts - 1)) AS g(i)
"""


def q_dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition of the dedup result: histogram of duplicate-cluster
    sizes (size 1 = unique docs) with each bucket's share of the
    corpus — the before/after report a dedup pass ships with. Reuses
    the full pipeline verdicts; the histogram is two tiny aggregates
    over the per-doc verdict table."""
    from pyspark.sql import Window as W

    register_tables(spark, sf_dir, ("documents",))
    verdicts = dedup_pipeline(
        spark.table("documents"), num_perm=DEMO_NUM_PERM, bands=DEMO_BANDS
    )
    sizes = verdicts.groupBy("keep_id").agg(F.count(F.lit(1)).alias("cluster_size"))
    hist = sizes.groupBy("cluster_size").agg(F.count(F.lit(1)).alias("n_clusters"))
    total_w = W.partitionBy()
    return hist.select(
        "cluster_size",
        "n_clusters",
        (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
        F.round(
            (F.col("cluster_size") * F.col("n_clusters"))
            / F.sum(F.col("cluster_size") * F.col("n_clusters")).over(total_w),
            6,
        ).alias("doc_share"),
    )


def _oracle_dedup_cluster_sizes() -> str:
    verdicts_sql = _oracle_dedup_pipeline().strip().rstrip(";")
    return f"""
WITH RECURSIVE verdicts AS ({verdicts_sql}),
sizes AS (SELECT keep_id, COUNT(*) AS cluster_size FROM verdicts GROUP BY 1),
hist AS (
  SELECT cluster_size, COUNT(*) AS n_clusters FROM sizes GROUP BY 1
)
SELECT cluster_size, n_clusters,
       cluster_size * n_clusters AS n_docs,
       ROUND(CAST(cluster_size * n_clusters AS DOUBLE)
             / SUM(cluster_size * n_clusters) OVER (), 6) AS doc_share
FROM hist
"""


def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram LM table: top-3 smoothed next tokens per head
    (operators/text.py:bigram_lm)."""
    from .text import bigram_lm

    register_tables(spark, sf_dir, ("documents",))
    return bigram_lm(spark.table("documents"), k_smooth=0.5, top_k=3)


ORACLE_BIGRAM_LM = """
WITH toks AS (
  SELECT regexp_split_to_array(trim(lower(replace(text, 'İ', 'i̇'))), '[ \\t\\n\\x0B\\f\\r]+') AS ts FROM documents
),
pairs AS (
  SELECT ts[i] AS w1, ts[i+1] AS w2
  FROM toks, unnest(generate_series(1, len(ts) - 1)) AS g(i)
  WHERE len(ts) >= 2
),
counts AS (SELECT w1, w2, COUNT(*) AS c12 FROM pairs GROUP BY 1, 2),
heads AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM counts GROUP BY 1),
v AS (SELECT COUNT(*) AS vocab FROM heads)
SELECT w1, w2, rank, prob, c12, c1 FROM (
  SELECT w1, w2, c12, c1, prob,
         row_number() OVER (PARTITION BY w1
                            ORDER BY prob DESC, w2 ASC) AS rank
  FROM (
    SELECT c.w1, c.w2, c.c12, h.c1,
           ROUND((c.c12 + 0.5) / (h.c1 + 0.5 * v.vocab), 6) AS prob
    FROM counts c JOIN heads h USING (w1), v
  )
) WHERE rank <= 3
"""


def q_lsh_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measure-don't-guess eval for the LSH dedup stage: every MinHash
    candidate pair joined against its EXACT 3-gram Jaccard, rolled up
    per matching-band count — the precision table that justifies (or
    indicts) the banding parameters before a corpus-wide run. A pair
    with no shared gram scores Jaccard 0 via the left join.

    Scale note: the exact side (threshold=0.0) emits every
    gram-sharing pair, which is bounded here only by ``max_doc_freq``
    — at corpus scale run this eval on a hash-sampled slice (e.g.
    ``dataset_hash_split``'s val bucket), exactly how banding
    parameters are tuned in practice; the LSH side under test is the
    cheap part."""

    register_tables(spark, sf_dir, ("documents",))
    docs = spark.table("documents")
    cand = minhash_lsh_pairs(docs, num_perm=DEMO_NUM_PERM, bands=DEMO_BANDS)
    exact = ngram_jaccard_pairs(docs, n=3, threshold=0.0)
    # merge hint: the exact pair set is DATA-SIZED (every gram-sharing
    # pair) and the planner's post-aggregation estimate undercounts it
    # badly enough to pick a broadcast — at the 10x soak scale that
    # broadcast collect blew spark.driver.maxResultSize (r6 finding).
    # Sort-merge keeps both sides distributed at any corpus size.
    joined = cand.join(exact.hint("merge"), ["d1", "d2"], "left").select(
        "matching_bands", F.coalesce(F.col("jaccard"), F.lit(0.0)).alias("j")
    )
    return joined.groupBy("matching_bands").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum((F.col("j") >= 0.2).cast("bigint")).alias("n_true"),
        F.round(
            F.sum((F.col("j") >= 0.2).cast("bigint")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("precision"),
    )


def _oracle_lsh_precision() -> str:
    cand = _oracle_minhash().strip().rstrip(";")
    exact = ORACLE_NGRAM_JACCARD.strip().rstrip(";").replace(">= 0.2", ">= 0.0")
    return f"""
SELECT matching_bands,
       COUNT(*) AS n_pairs,
       CAST(SUM(CASE WHEN j >= 0.2 THEN 1 ELSE 0 END) AS BIGINT) AS n_true,
       ROUND(CAST(SUM(CASE WHEN j >= 0.2 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS precision
FROM (
  SELECT c.matching_bands, COALESCE(e.jaccard, 0.0) AS j
  FROM ({cand}) c
  LEFT JOIN ({exact}) e ON c.d1 = e.d1 AND c.d2 = e.d2
)
GROUP BY matching_bands
"""


def q_crossmodal_dedup_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal consistency eval: MEASURES whether text near-dup
    pairs (exact 3-gram Jaccard >= 0.2) are more embedding-similar
    than an id-adjacent baseline — the sanity check run before
    trusting embedding-only near-dup at scale (a real embedding model
    shows dup-pair cosine >> baseline; the synthetic testdata's random
    embeddings correctly show no separation). Deterministic baseline:
    (2k, 2k+1) id pairs — no random sampling, ids are
    content-uncorrelated."""
    from .similarity import _dot, _norm

    register_tables(spark, sf_dir, ("documents", "embeddings"))
    docs = spark.table("documents")
    emb = spark.table("embeddings")
    dups = (
        ngram_jaccard_pairs(docs, n=3, threshold=0.2)
        .select(F.lit("textdup").alias("pair_kind"), "d1", "d2")
    )
    base = emb.filter(F.col("vec_id") % 2 == 0).select(
        F.lit("baseline").alias("pair_kind"),
        F.col("vec_id").alias("d1"),
        (F.col("vec_id") + 1).alias("d2"),
    )
    pairs = dups.unionByName(base)
    a = emb.select(F.col("vec_id").alias("d1"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("d2"), F.col("embedding").alias("vb"))
    scored = (
        pairs.join(a, "d1")
        .join(b, "d2")
        .select(
            "pair_kind",
            F.round(
                _dot(F.col("va"), F.col("vb"))
                / (_norm(F.col("va")) * _norm(F.col("vb"))),
                6,
            ).alias("cos"),
        )
    )
    return scored.groupBy("pair_kind").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(
            F.sum(F.col("cos").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_cosine"),
    )


def _oracle_crossmodal_agreement() -> str:
    dup_sql = ORACLE_NGRAM_JACCARD.strip().rstrip(";")
    return f"""
WITH dups AS ({dup_sql}),
pairs AS (
  SELECT 'textdup' AS pair_kind, d1, d2 FROM dups
  UNION ALL
  SELECT 'baseline', vec_id, vec_id + 1 FROM embeddings WHERE vec_id % 2 = 0
),
scored AS (
  SELECT p.pair_kind,
         ROUND(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
               / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
               6) AS cos
  FROM pairs p
  JOIN embeddings a ON p.d1 = a.vec_id
  JOIN embeddings b ON p.d2 = b.vec_id
)
SELECT pair_kind,
       COUNT(*) AS n_pairs,
       ROUND(CAST(SUM(CAST(cos AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
         AS mean_cosine
FROM scored
GROUP BY pair_kind
"""


def q_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall companion to dedup_lsh_precision: of the TRUE near-dup
    pairs (exact 3-gram Jaccard >= 0.2), what fraction does the LSH
    stage capture at each min-matching-bands cutoff — the table that
    sets ``min_matching_bands`` for the full pipeline. True pairs the
    LSH never candidates score 0 bands via the left join."""

    register_tables(spark, sf_dir, ("documents",))
    docs = spark.table("documents")
    true_pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.2).select("d1", "d2")
    cand = minhash_lsh_pairs(docs, num_perm=DEMO_NUM_PERM, bands=DEMO_BANDS)
    # aggregate to per-matching-bands COUNTS first (<= bands+1 rows),
    # then sweep cutoffs over that tiny histogram — the cutoff expand
    # must not multiply the (potentially huge) true-pair set
    hist = (
        # merge hint: both pair sets are data-sized; a planner
        # misestimate must not broadcast either (see q_lsh_precision)
        true_pairs.join(cand.hint("merge"), ["d1", "d2"], "left")
        .select(F.coalesce(F.col("matching_bands"), F.lit(0)).alias("mb"))
        .groupBy("mb")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    cutoffs = F.explode(
        F.array(*[F.lit(m) for m in range(1, DEMO_BANDS + 1)])
    ).alias("min_bands")
    swept = hist.select("mb", "cnt", cutoffs)
    captured = F.when(F.col("mb") >= F.col("min_bands"), F.col("cnt")).otherwise(
        F.lit(0)
    )
    return swept.groupBy("min_bands").agg(
        F.sum("cnt").alias("n_true_pairs"),
        F.sum(captured).alias("n_captured"),
        F.round(
            F.sum(captured).cast("double") / F.sum("cnt"), 6
        ).alias("recall"),
    )


def _oracle_lsh_recall() -> str:
    cand = _oracle_minhash().strip().rstrip(";")
    exact = ORACLE_NGRAM_JACCARD.strip().rstrip(";")
    cutoffs = ", ".join(str(m) for m in range(1, DEMO_BANDS + 1))
    return f"""
WITH truep AS (SELECT d1, d2 FROM ({exact})),
cand AS ({cand}),
hist AS (
  SELECT COALESCE(c.matching_bands, 0) AS mb, COUNT(*) AS cnt
  FROM truep t LEFT JOIN cand c ON t.d1 = c.d1 AND t.d2 = c.d2
  GROUP BY 1
),
swept AS (
  SELECT mb, cnt, m.min_bands
  FROM hist, (SELECT unnest([{cutoffs}]) AS min_bands) m
)
SELECT min_bands,
       CAST(SUM(cnt) AS BIGINT) AS n_true_pairs,
       CAST(SUM(CASE WHEN mb >= min_bands THEN cnt ELSE 0 END) AS BIGINT)
         AS n_captured,
       ROUND(CAST(SUM(CASE WHEN mb >= min_bands THEN cnt ELSE 0 END) AS DOUBLE)
             / SUM(cnt), 6) AS recall
FROM swept
GROUP BY min_bands
"""


def q_quality_filter_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold sweep for the quality filter: survivors and their
    mean length at each cutoff 0.0..0.9 — the tuning table read before
    committing a corpus-wide quality floor. One map-only expand (10
    rows per doc) into one aggregate; exact decimal char sums."""
    from .text import quality_expr

    register_tables(spark, sf_dir, ("documents",))
    scored = spark.table("documents").select(
        quality_expr(F.col("text")).alias("q"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
    )
    thresholds = F.explode(
        F.array(*[F.lit(t / 10.0) for t in range(10)])
    ).alias("threshold")
    swept = scored.select("q", "n_chars", thresholds)
    kept = (F.col("q") >= F.col("threshold")).cast("bigint")
    return swept.groupBy("threshold").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(kept).alias("n_kept"),
        F.round(F.sum(kept).cast("double") / F.count(F.lit(1)), 6).alias("frac_kept"),
        F.round(
            F.sum(F.when(kept == 1, F.col("n_chars")).otherwise(F.lit(0))).cast("double")
            / F.nullif(F.sum(kept), F.lit(0)),
            6,
        ).alias("mean_chars_kept"),
    )


def _oracle_quality_filter_sweep() -> str:
    quality_sql = _oracle_quality().strip().rstrip(";")
    thresholds = ", ".join(repr(t / 10.0) for t in range(10))
    return f"""
WITH qscore0 AS ({quality_sql}),
-- the engine computes quality as a per-ROW map expression: one scored
-- row per physical document row. The id-join back to documents must
-- therefore be 1:1 per doc_id (duplicated rows carry identical
-- scores; without DISTINCT the join fans out 2x2 per duplicated id —
-- duplicate-row gate, ORACLES.md #15)
qscore AS (SELECT DISTINCT doc_id, quality FROM qscore0),
scored AS (
  SELECT qs.quality AS q, CAST(d.n_chars AS BIGINT) AS n_chars
  FROM qscore qs JOIN documents d USING (doc_id)
),
swept AS (
  SELECT q, n_chars, t.threshold
  FROM scored, (SELECT CAST(unnest([{thresholds}]) AS DOUBLE) AS threshold) t
)
SELECT threshold,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN q >= threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       ROUND(CAST(SUM(CASE WHEN q >= threshold THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS frac_kept,
       ROUND(CAST(SUM(CASE WHEN q >= threshold THEN n_chars ELSE 0 END) AS DOUBLE)
             / NULLIF(SUM(CASE WHEN q >= threshold THEN 1 ELSE 0 END), 0), 6)
         AS mean_chars_kept
FROM swept
GROUP BY threshold
"""


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style target-likeness importance scores, target = English
    documents (operators/curation.py:dsir_weights)."""
    from .curation import dsir_weights

    register_tables(spark, sf_dir, ("documents",))
    return dsir_weights(spark.table("documents"), F.col("lang") == "en")


ORACLE_DSIR_WEIGHTS = f"""
WITH occ AS (
  SELECT doc_id AS doc, is_t, {duck_h32('tok')} % 1024 AS bucket
  FROM (
    SELECT doc_id, (lang = 'en') AS is_t,
           unnest(regexp_split_to_array(trim(lower(replace(text, 'İ', 'i̇'))), '[ \\t\\n\\x0B\\f\\r]+')) AS tok
    FROM documents
  )
  -- empty docs tokenize to ['']: dropped on both engines (text.py rule)
  WHERE tok != ''
),
raw AS (SELECT bucket, COUNT(*) AS rc FROM occ GROUP BY 1),
tgt AS (SELECT bucket, COUNT(*) AS tc FROM occ WHERE is_t GROUP BY 1),
rp AS (SELECT bucket, (1000000 * rc) // SUM(rc) OVER () AS r_ppm FROM raw),
tp AS (SELECT bucket, (1000000 * tc) // SUM(tc) OVER () AS t_ppm FROM tgt),
f AS (
  SELECT r.bucket, r.r_ppm, COALESCE(t.t_ppm, 0) AS t_ppm
  FROM rp r LEFT JOIN tp t ON r.bucket = t.bucket
)
SELECT o.doc,
       COUNT(*) AS n_tokens,
       CAST(SUM(t_ppm - r_ppm) AS DOUBLE) / COUNT(*) AS dsir_score
FROM occ o JOIN f USING (bucket)
GROUP BY o.doc
"""


def q_embedding_cluster_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition by embedding cluster
    (operators/similarity.py:embedding_cluster_profile). The demo
    codebook is kmeans_centroids with iters=0 — i.e. the 8 lowest-id
    vectors as seeds — so the oracle can replicate the assignment in
    plain SQL; production passes a converged codebook through the SAME
    assignment/profile path."""
    from .similarity import embedding_cluster_profile

    register_tables(spark, sf_dir, ("embeddings",))
    emb = spark.table("embeddings")
    seeds = kmeans_centroids(emb, n_centroids=8, iters=0)
    return embedding_cluster_profile(emb, seeds)


ORACLE_EMBEDDING_CLUSTER_PROFILE = """
WITH ex AS (
  SELECT rid, vec_id, generate_subscripts(embedding, 1) AS dim,
         unnest(embedding) AS v
  FROM (SELECT *, row_number() OVER () AS rid FROM embeddings)
),
sx AS (
  -- the 8 lowest-id NON-NULL vectors: kmeans_centroids drops NULL
  -- embeddings before its id-ordered take, and numbers centroids
  -- POSITIONALLY (0..7), not by vec_id
  SELECT (row_number() OVER (ORDER BY vec_id)) - 1 AS cid,
         generate_subscripts(embedding, 1) AS dim,
         unnest(embedding) AS c
  FROM (SELECT vec_id, embedding FROM embeddings
        WHERE embedding IS NOT NULL ORDER BY vec_id LIMIT 8) seeds
),
pairs AS (
  -- rid keys each PHYSICAL row: the engine assigns every row to its
  -- nearest centroid independently, so duplicated vec_ids stay
  -- separate (a vec_id group would sum both copies' dims and double
  -- sq: duplicate-row gate, ORACLES.md #15)
  SELECT e.rid, e.vec_id, s.cid,
         ROUND(CAST(SUM(CAST(ROUND((CAST(e.v AS DOUBLE) - CAST(s.c AS DOUBLE))
                                   * (CAST(e.v AS DOUBLE) - CAST(s.c AS DOUBLE)), 6)
                             AS DECIMAL(18,6))) AS DOUBLE), 6) AS sq
  FROM ex e JOIN sx s USING (dim)
  GROUP BY 1, 2, 3
),
assigned AS (
  SELECT rid, vec_id, cid, sq,
         row_number() OVER (PARTITION BY rid ORDER BY sq ASC, cid ASC) AS rn
  FROM pairs
)
SELECT cid AS centroid_id,
       COUNT(*) AS n_vectors,
       ROUND(CAST(SUM(CAST(sq AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
         AS mean_sq_dist,
       MAX(sq) AS max_sq_dist
FROM assigned
WHERE rn = 1
GROUP BY cid
"""


def q_bigram_lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document LM quality under the corpus's own bigram model —
    CCNet-style perplexity-proxy bucketing, log-free so the PPM sums
    are exact integer ratios (operators/text.py:bigram_lm_scores)."""
    from .text import bigram_lm_scores

    register_tables(spark, sf_dir, ("documents",))
    return bigram_lm_scores(spark.table("documents"), k_smooth=0.5, rare_ppm=100)


ORACLE_TEXT_LM_QUALITY = """
WITH toks AS (
  SELECT doc_id AS doc, regexp_split_to_array(trim(lower(replace(text, 'İ', 'i̇'))), '[ \\t\\n\\x0B\\f\\r]+') AS ts
  FROM documents
),
pairs AS (
  SELECT doc, ts[i] AS w1, ts[i+1] AS w2
  FROM toks, unnest(generate_series(1, len(ts) - 1)) AS g(i)
  WHERE len(ts) >= 2
),
counts AS (SELECT w1, w2, COUNT(*) AS c12 FROM pairs GROUP BY 1, 2),
heads AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM counts GROUP BY 1),
v AS (SELECT COUNT(*) AS vocab FROM heads),
lm AS (
  SELECT c.w1, c.w2,
         CAST(ROUND(1000000 * (c.c12 + 0.5) / (h.c1 + 0.5 * v.vocab)) AS BIGINT) AS ppm
  FROM counts c JOIN heads h USING (w1), v
)
SELECT p.doc,
       COUNT(*) AS n_bigrams,
       CAST(SUM(ppm) AS DOUBLE) / COUNT(*) AS mean_prob_ppm,
       CAST(SUM(CASE WHEN ppm < 100 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS rare_frac
FROM pairs p JOIN lm USING (w1, w2)
GROUP BY p.doc
"""


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility stats — the budgeting signal
    for multilingual token-budget planning
    (operators/text.py:tokenizer_fertility)."""
    from .text import tokenizer_fertility

    register_tables(spark, sf_dir, ("documents",))
    return tokenizer_fertility(spark.table("documents"), group_col="lang")


ORACLE_TOKENIZER_FERTILITY = f"""
WITH per_doc AS (
  SELECT lang,
         CAST(length(text) AS BIGINT) AS n_chars,
         CAST(len({DUCK_TOKENS}) AS BIGINT) AS n_ws,
         CAST(len(regexp_extract_all(text, '{BPE_TOKEN_RE}')) AS BIGINT) AS n_bpe
  FROM documents
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(n_ws) AS BIGINT) AS total_ws_tokens,
       CAST(SUM(n_bpe) AS BIGINT) AS total_bpe_tokens,
       CAST(SUM(n_chars) AS DOUBLE) / NULLIF(SUM(n_bpe), 0) AS chars_per_bpe_token,
       CAST(SUM(n_bpe) AS DOUBLE) / NULLIF(SUM(n_ws), 0) AS bpe_per_ws_token
FROM per_doc
GROUP BY lang
"""


def q_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-5 corpus docs for each of the first 5 documents as
    queries (operators/text.py:bm25_topk, log-free rational idf)."""
    from .text import bm25_topk

    register_tables(spark, sf_dir, ("documents",))
    docs = spark.table("documents")
    # The six index-side shuffles here (postings, doclen, df, match,
    # rerank) all carry small per-term/per-doc tables; at local scale
    # the per-partition task overhead of a wide default dominates even
    # under AQE (sf0.1 measured: 200-wide 21s, 32-wide 7.4s, 8-wide
    # 4.2s). The conf only applies if the plan EXECUTES inside the
    # window — shuffle.partitions is read at run time, so a lazily
    # returned plan would run at the caller's width — hence the eager
    # localCheckpoint of the tiny (top_k x n_queries) result. A
    # cluster deployment sizes this to executor width instead.
    from ..streaming.windows import shuffle_partitions

    with shuffle_partitions(spark, 8):
        return bm25_topk(
            docs, docs.filter(F.col("doc_id") < 5), top_k=5
        ).localCheckpoint(eager=True)


# float discipline: every constant-folding step mirrors the Spark
# expression exactly — (1.2 + 1.0) stays an ADDITION (the 2.2 literal
# is a DIFFERENT double), (0.75 * dl) / avgdl keeps Spark's left
# association, and per-term scores are rounded then decimal-summed so
# the total ignores term order.
ORACLE_BM25_RETRIEVAL = """
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
        FROM documents WHERE doc_id < 5)
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
scored AS (
  SELECT query_id, doc, ROUND(CAST(SUM(part_score) AS DOUBLE), 6) AS score
  FROM matched GROUP BY 1, 2
)
SELECT query_id, doc AS doc_id, rank, score FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY score DESC, doc ASC) AS rank
  FROM scored
) WHERE rank <= 5
"""


def pipeline_specs() -> list:
    from ..queries import QuerySpec as QS

    return [
        QS("asof_latest_click", "Backward-inclusive as-of join: purchase -> latest prior click", q_asof_latest_click, ORACLE_ASOF_LATEST_CLICK),
        QS("range_next_day_purchases", "Bucketed interval join: purchases within 24h of a view", q_range_next_day_purchases, ORACLE_RANGE_NEXT_DAY),
        QS("sketch_kmv_users", "KMV distinct-count sketch vs exact, per event type", q_kmv_distinct_users, _oracle_kmv()),
        QS("sketch_hll_users", "HyperLogLog++ distinct users, error-bound-gated vs exact", q_hll_distinct_users, ORACLE_HLL_USERS),
        QS("sketch_theta_setops", "Theta-sketch union/intersect/diff estimates between user sets", q_theta_setops_users, _oracle_theta_setops()),
        QS("dedup_exact", "Exact dedup groups via normalized-content fingerprint", q_dedup_exact, ORACLE_DEDUP_EXACT),
        QS("dedup_minhash_lsh", "MinHash+LSH near-dup candidate pairs (banded buckets)", q_minhash_lsh, _oracle_minhash()),
        QS("dedup_ngram_jaccard", "Exact 3-gram Jaccard pairs via inverted-index join", q_ngram_jaccard, ORACLE_NGRAM_JACCARD),
        QS("dedup_simhash", "64-bit SimHash fingerprints (bit-vote)", q_simhash, _oracle_simhash()),
        QS("dedup_pipeline", "Full near-dup pass: LSH pairs → connected components → verdicts", q_dedup_pipeline, _oracle_dedup_pipeline()),
        QS("similarity_ivf_ann", "IVF coarse-quantizer approximate top-k (probed cells)", q_ivf_ann_topk, ORACLE_IVF_ANN),
        QS("curated_documents", "Composite curation filter: dedup + quality + language", q_curated_documents, _oracle_curated()),
        QS("text_stats", "Token/char/punctuation stats per document", q_text_stats, ORACLE_TEXT_STATS),
        QS("text_quality", "Heuristic quality scores (length/stopword/digit/punct)", q_quality_scores, _oracle_quality()),
        QS("text_lang_id", "Stopword-vote language identification", q_lang_id, _oracle_lang_id()),
        QS("similarity_cosine_topk", "Exact brute-force cosine top-k neighbors", q_cosine_topk, ORACLE_COSINE_TOPK),
        QS("similarity_lsh_ann", "Random-hyperplane LSH-bucketed approximate top-k", q_lsh_ann_topk, _oracle_lsh_ann()),
        QS("dedup_embedding_cosine", "Embedding-cosine near-dup pairs (hyperplane-bucketed)", q_embedding_neardup, _oracle_embedding_neardup()),
        QS("dedup_embedding_pipeline", "Embedding-space dedup: pairs -> components -> verdicts", q_embedding_dedup_pipeline, _oracle_embedding_dedup_pipeline()),
        QS("similarity_ivf_kmeans", "IVF top-k with Lloyd's-trained codebook, recall-gated vs exact top-k", q_ivf_kmeans_topk, ORACLE_IVF_KMEANS),
        QS("text_fingerprint", "Winnowing rolling-hash document fingerprints", q_text_fingerprint, ORACLE_TEXT_FINGERPRINT),
        QS("text_tfidf_terms", "Log-free TF-IDF top-3 salient terms per document", q_tfidf_top_terms, ORACLE_TFIDF_TOP_TERMS),
        QS("multimodal_image_features", "Arrow mapInPandas binary decode plumbing (stub codec)", q_multimodal_features, _multimodal_oracle("image")),
        QS("multimodal_audio_features", "Arrow mapInPandas audio feature plumbing (stub codec)", q_multimodal_audio, _multimodal_oracle("audio")),
        QS("text_token_counts", "Whitespace + BPE-ish regex token counting", q_token_counts, ORACLE_TOKEN_COUNTS),
        QS("text_repetition_ratios", "Gopher-style within-doc repetition filters (map-only)", q_repetition_ratios, ORACLE_REPETITION_RATIOS),
        QS("dataset_hash_split", "Deterministic hash-mod train/val/test split stats", q_hash_split_stats, ORACLE_HASH_SPLIT_STATS),
        QS("curation_decontamination", "Eval-vs-train n-gram contamination report (hashed gram join)", q_contamination, _oracle_contamination()),
        QS("curation_source_caps", "Per-source doc caps via skew-safe two-phase top-k", q_source_caps, ORACLE_SOURCE_CAPS),
        QS("curation_stratified_sample", "Deterministic basis-point stratified sampling per language", q_stratified_sample, ORACLE_STRATIFIED_SAMPLE),
        QS("curation_pack_sequences", "Document packing via two-phase parallel prefix sum", q_pack_sequences, ORACLE_PACK_SEQUENCES),
        QS("curation_shard_plan", "Fixed-byte output-shard assignment (prefix-sum, WebDataset-style)", q_shard_plan, ORACLE_SHARD_PLAN),
        QS("text_bpe_merge_candidates", "BPE merge-candidate round: top adjacent-pair counts", q_bpe_merge_candidates, ORACLE_BPE_MERGE_CANDIDATES),
        QS("skew_salted_enrichment", "Skew-salted join equals the plain join (oracle-proved)", q_salted_user_enrichment, ORACLE_SALTED_USER_ENRICHMENT),
        QS("similarity_random_projection", "JL random-projection 64d->8d (map-only, literal matrix)", q_random_projection, _oracle_random_projection()),
        QS("text_unigram_frequency", "Corpus-frequency quality signal: mean token ppm + rare frac", q_unigram_frequency_scores, ORACLE_UNIGRAM_FREQUENCY),
        QS("text_vocab_stats", "Per-source corpus health: tokens/types/TTR/hapax fraction", q_vocab_stats, ORACLE_VOCAB_STATS),
        QS("multimodal_resize_plan", "Image resize + frame-sample plan (binary-column pipeline)", q_multimodal_resize_plan, _multimodal_oracle("resize")),
        QS("streaming_sessionization", "applyInPandasWithState event-time sessionization (sentinel-flushed drain) vs batch oracle", q_streaming_sessionization, ORACLE_STREAMING_SESSIONIZATION),
        QS("text_span_dedup", "Repeated 8-word-span fraction per doc (substring-dedup rollup)", q_span_dedup, ORACLE_SPAN_DEDUP),
        QS("text_pii_redaction", "PII-shaped regex scrub counts + redacted-shape cardinality", q_pii_redaction, ORACLE_PII_REDACTION),
        QS("embedding_label_centroids", "Per-label centroids via posexplode + decimal-sum mean", q_label_centroids, ORACLE_LABEL_CENTROIDS),
        QS("curation_temperature_sample", "Temperature-flattened (alpha=0.5) language-mix sampling", q_temperature_sample, ORACLE_TEMPERATURE_SAMPLE),
        QS("dedup_incremental", "New-batch near-dup check against the standing LSH index", q_dedup_incremental, _oracle_dedup_incremental()),
        QS("similarity_pq_adc", "PQ compress + ADC shortlist + exact re-rank, recall-gated", q_similarity_pq_adc, ORACLE_PQ_ADC),
        QS("dedup_cluster_sizes", "Histogram of duplicate-cluster sizes (dedup composition)", q_dedup_cluster_sizes, _oracle_dedup_cluster_sizes()),
        QS("text_bigram_lm", "Bigram LM table: smoothed top-3 next tokens per head", q_bigram_lm, ORACLE_BIGRAM_LM),
        QS("text_bm25_retrieval", "BM25 top-5 retrieval via inverted-index join (log-free idf)", q_bm25_retrieval, ORACLE_BM25_RETRIEVAL),
        QS("column_profile", "Per-column null/distinct/min/max profile in one pass", q_column_profile, ORACLE_COLUMN_PROFILE),
        QS("text_langid_confusion", "Lang-ID confusion matrix vs labeled lang (classifier eval)", q_langid_confusion, _oracle_langid_confusion()),
        QS("sketch_count_min", "Count-min sketch frequencies vs exact (overestimate-gated)", q_count_min_users, _oracle_count_min()),
        QS("text_chunking", "Overlapping token-window chunks (RAG/embedding prep)", q_chunk_documents, ORACLE_CHUNK_DOCUMENTS),
        QS("curation_token_budget", "Token-budget mixture sampling with integer-exact rates", q_token_budget_sample, _oracle_token_budget()),
        QS("embedding_outliers", "Distance-to-centroid z-score outlier flags (embedding QA)", q_embedding_outliers, ORACLE_EMBEDDING_OUTLIERS),
        QS("text_lm_quality", "Per-doc bigram-LM quality scores (log-free PPM perplexity proxy)", q_bigram_lm_scores, ORACLE_TEXT_LM_QUALITY),
        QS("embedding_cluster_profile", "Per-cluster corpus composition (nearest-centroid assignment)", q_embedding_cluster_profile, ORACLE_EMBEDDING_CLUSTER_PROFILE),
        QS("curation_dsir_weights", "DSIR-style hashed-bucket target-likeness importance scores", q_dsir_weights, ORACLE_DSIR_WEIGHTS),
        QS("dedup_lsh_precision", "LSH candidate precision vs exact Jaccard per matching-band level", q_lsh_precision, _oracle_lsh_precision()),
        QS("dedup_lsh_recall", "LSH recall of true Jaccard pairs per min-matching-bands cutoff", q_lsh_recall, _oracle_lsh_recall()),
        QS("text_quality_filter_sweep", "Quality-threshold sweep: survivors + mean length per cutoff", q_quality_filter_sweep, _oracle_quality_filter_sweep()),
        QS("crossmodal_dedup_agreement", "Text near-dup pairs vs embedding cosine (cross-modal eval)", q_crossmodal_dedup_agreement, _oracle_crossmodal_agreement()),
        QS("text_tokenizer_fertility", "Per-language chars/BPE-token fertility + token inflation", q_tokenizer_fertility, ORACLE_TOKENIZER_FERTILITY),
    ]
