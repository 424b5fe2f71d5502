"""Text-analysis operators for training-data pipelines.

All JVM-side (built-in pyspark.sql.functions — no Python UDFs in the
hot path): language-ID by stopword voting, quality scoring from
length/punctuation/digit/stopword ratios, token counting, and
document fingerprinting. Each is a narrow projection over the
``documents`` table — at 100 TB these are embarrassingly parallel
map-only plans with no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import cache

__all__ = [
    "tokens",
    "normalized_text",
    "doc_fingerprint",
    "text_stats",
    "quality_expr",
    "quality_scores",
    "lang_exprs",
    "lang_id",
    "winnowing_fingerprints",
    "token_counts",
    "repetition_ratios",
    "bpe_merge_candidates",
    "unigram_frequency_scores",
    "tfidf_top_terms",
    "vocab_stats",
    "span_dedup_stats",
    "cross_doc_span_dedup",
    "cross_doc_span_dedup_stats",
    "sliding_span_dup_profile",
    "sliding_window_hashes",
    "remove_long_dup_substrings",
    "pii_redaction",
    "bigram_lm",
    "bigram_lm_scores",
    "tokenizer_fertility",
    "bm25_topk",
    "chunk_documents",
    "BPE_TOKEN_RE",
    "PII_EMAIL_RE",
    "PII_NUMBER_RE",
    "STOPWORDS",
]

# NO cross-engine pattern may say \s: Java regex \s is
# [ \t\n\x0B\f\r] while RE2 (the DuckDB oracle) \s lacks \x0B, so a
# vertical tab in text silently diverges tokenization between engine
# and oracle (ORACLES.md class 16; caught by the degenerate-text
# wave's VT probe). WS_CLASS spells out Java's \s — Spark behavior is
# byte-identical to before; oracles interpolate the same class.
WS_CLASS = " \\t\\n\\x0B\\f\\r"

# BPE-ish pre-tokenizer classes (GPT-2-style, ASCII-simplified so the
# same pattern runs in Spark (Java regex) and DuckDB (RE2)): letter
# runs, digit runs, and single punctuation marks each become one token.
BPE_TOKEN_RE = f"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9{WS_CLASS}]"

WHITESPACE = f"[{WS_CLASS}]+"


def tokens(col: Column) -> Column:
    return F.split(F.trim(col), WHITESPACE)


def normalized_text(col: Column) -> Column:
    """Lowercase, strip non-alphanumerics, collapse whitespace — the
    canonical form used for exact-dedup fingerprints."""
    cleaned = F.regexp_replace(F.lower(col), f"[^a-z0-9{WS_CLASS}]", " ")
    return F.trim(F.regexp_replace(cleaned, WHITESPACE, " "))


def doc_fingerprint(col: Column) -> Column:
    """Deterministic content fingerprint (md5 of normalized text)."""
    return F.md5(normalized_text(col))


def token_counts(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Token counting two ways: whitespace tokens (the cheap budget
    estimate) and BPE-ish pre-tokenizer units (letter runs / digit runs
    / punctuation — a far better proxy for LLM token cost on prose).
    Map-only projection, no shuffle."""
    txt = F.col(text_col)
    # NULL text counts NULL, not -1: non-ANSI size(NULL) = -1 would
    # silently corrupt downstream SUMs (tokenizer_fertility) while the
    # DuckDB oracle's len(NULL) is NULL and its SUM skips the row
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.when(txt.isNotNull(), F.size(tokens(txt)).cast("bigint")).alias(
            "n_ws_tokens"
        ),
        F.when(
            txt.isNotNull(),
            F.size(F.regexp_extract_all(txt, F.lit(BPE_TOKEN_RE), F.lit(0))).cast(
                "bigint"
            ),
        ).alias("n_bpe_tokens"),
    )


def winnowing_fingerprints(
    df: DataFrame,
    k: int = 8,
    window: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
    hasher: str = "portable",
) -> DataFrame:
    """Rolling-hash document fingerprints via winnowing (Schleimer et
    al., SIGMOD'03): hash every char ``k``-gram of the normalized text,
    keep the minimum hash of each ``window`` consecutive grams, emit the
    distinct selected hashes as (doc_id, fingerprint) rows.

    Two documents sharing a fingerprint share a ≥k-char run — the
    standard local plagiarism/overlap signal that survives edits exact
    whole-doc hashing misses. The whole computation is array expressions
    inside one projection (sequence → transform → slice → array_min →
    array_distinct → explode): map-only, no shuffle, and the hash is the
    portable md5-derived ``h32`` so a DuckDB oracle reproduces it.
    """
    from .hashing import hash32
    from .skew import fan_out

    # Each stage is its own projection: nesting all four higher-order
    # expressions into one would re-evaluate the inner arrays per lambda
    # element (O(n²) regex + md5 per row, ~20× slower measured).
    # ~n_chars md5 calls per doc make this CPU-bound: fan narrow inputs
    # out to every core first (4× at sf0.1 on a single-file scan).
    norm = fan_out(df).select(
        F.col(id_col).alias("doc_id"),
        normalized_text(F.col(text_col)).alias("norm"),
    ).filter(F.length("norm") >= F.lit(k + window - 1))
    grams = norm.select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(1), F.length("norm") - F.lit(k - 1)),
            lambda i: F.col("norm").substr(i, F.lit(k)),
        ).alias("grams"),
    )
    hashes = grams.select(
        "doc_id", F.transform("grams", hash32(hasher)).alias("hashes")
    )
    mins = hashes.select(
        "doc_id",
        F.transform(
            F.sequence(F.lit(1), F.size("hashes") - F.lit(window - 1)),
            lambda j: F.array_min(F.slice("hashes", j, window)),
        ).alias("mins"),
    )
    return mins.select(
        "doc_id", F.explode(F.array_distinct("mins")).alias("fingerprint")
    )


# Small per-language stopword lists: enough signal for n-gram-free
# heuristic language ID. Kept tiny and alphabetical so the oracle SQL
# embeds the same lists verbatim.
STOPWORDS: dict[str, list[str]] = {
    "en": ["a", "and", "are", "for", "in", "is", "of", "that", "the", "to"],
    "de": ["das", "der", "die", "ein", "ist", "nicht", "und", "von", "zu"],
    "es": ["de", "el", "en", "es", "la", "los", "no", "que", "un", "y"],
    "fr": ["de", "des", "du", "est", "et", "la", "le", "les", "un", "une"],
    "zh": ["了", "是", "我", "的", "不", "在", "人", "有", "他", "这"],
}


def _stopword_hits(toks: Column, words: list[str]) -> Column:
    """Number of distinct stopwords from ``words`` present (set
    intersection — portable to DuckDB list_intersect)."""
    return F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words])))


def text_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    toks = tokens(F.col(text_col))
    n_chars = F.length(F.col(text_col))
    n_punct = n_chars - F.length(F.regexp_replace(F.col(text_col), r"[.,;:!?]", ""))
    return df.select(
        F.col(id_col),
        n_chars.cast("bigint").alias("n_chars"),
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.round(n_chars / F.size(toks), 6).alias("avg_token_len"),
        n_punct.cast("bigint").alias("n_punct"),
    )


def quality_expr(text_col: Column) -> Column:
    """Heuristic document quality in [0,1] (rounded to 6 places):
    rewards stopword presence and reasonable length, penalizes
    digits/punctuation soup. Pure column expression — composable into
    any projection without a join."""
    toks = tokens(text_col)
    n_chars = F.length(text_col).cast("double")
    n_tokens = F.size(toks).cast("double")
    digit_chars = n_chars - F.length(F.regexp_replace(text_col, r"[0-9]", ""))
    punct_chars = n_chars - F.length(F.regexp_replace(text_col, f"[^\\w{WS_CLASS}]", ""))
    stop_hits = _stopword_hits(toks, STOPWORDS["en"]).cast("double")
    length_score = F.least(n_tokens / F.lit(20.0), F.lit(1.0))
    stop_score = F.least(stop_hits / F.lit(4.0), F.lit(1.0))
    digit_penalty = F.least(digit_chars / n_chars * 5, F.lit(1.0))
    punct_penalty = F.least(punct_chars / n_chars * 5, F.lit(1.0))
    quality = (
        F.lit(0.4) * length_score
        + F.lit(0.4) * stop_score
        + F.lit(0.2) * (1 - digit_penalty)
        - F.lit(0.2) * punct_penalty
    )
    return F.round(F.greatest(F.least(quality, F.lit(1.0)), F.lit(0.0)), 6)


def quality_scores(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic document quality in [0,1]: rewards stopword presence
    and reasonable length, penalizes digits/punctuation soup."""
    col = F.col(text_col)
    toks = tokens(col)
    n_chars = F.length(col).cast("double")
    digit_chars = n_chars - F.length(F.regexp_replace(col, r"[0-9]", ""))
    punct_chars = n_chars - F.length(F.regexp_replace(col, f"[^\\w{WS_CLASS}]", ""))
    stop_hits = _stopword_hits(toks, STOPWORDS["en"]).cast("double")
    return df.select(
        F.col(id_col),
        quality_expr(col).alias("quality"),
        F.round(digit_chars / n_chars, 6).alias("digit_ratio"),
        F.round(punct_chars / n_chars, 6).alias("punct_ratio"),
        F.round(stop_hits, 6).cast("bigint").alias("stopword_hits"),
    )


def lang_exprs(text_col: Column) -> tuple[Column, Column]:
    """(predicted_lang, best_score) column expressions for stopword-vote
    language ID. Ties break alphabetically by language code
    (deterministic). Composable into any projection without a join."""
    toks = tokens(F.lower(text_col))
    langs = sorted(STOPWORDS)
    scores = {lang: _stopword_hits(toks, STOPWORDS[lang]) for lang in langs}
    best = F.greatest(*[scores[lang] for lang in langs])
    pred = F.coalesce(*[F.when(scores[lang] == best, F.lit(lang)) for lang in langs])
    return pred, best.cast("bigint")


def lang_id(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-vote language ID. Ties break alphabetically by language
    code (deterministic). A real deployment would swap in a trained
    n-gram model via pandas UDF; the shape (map-only, no shuffle) holds."""
    pred, best = lang_exprs(F.col(text_col))
    return df.select(
        F.col(id_col),
        pred.alias("predicted_lang"),
        best.alias("best_score"),
    )


def tfidf_top_terms(
    df: DataFrame,
    top_k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_term_len: int = 3,
) -> DataFrame:
    """Per-document salient terms by a log-free TF-IDF:
    ``score = tf * N / df`` (term frequency × inverse document
    frequency without the logarithm — same ranking for fixed tf, and
    exact integer-ratio doubles, so Spark and a DuckDB oracle agree
    bit-for-bit where ``ln`` implementations may not).

    Plan shape: one (doc, term) partial-agg shuffle for tf, one
    term-keyed aggregate for df, a term-keyed join (AQE handles
    stop-term skew), and a per-doc top-k window over candidate terms
    only. ``min_term_len`` drops short function words cheaply before
    any shuffle.
    """
    from pyspark.sql import Window as W

    from .skew import fan_out

    n_docs = df.count()  # driver-side scalar: one count job, broadcast as literal
    terms = (
        fan_out(df)
        .select(F.col(id_col).alias("doc"), F.explode_outer(tokens(F.lower(F.col(text_col)))).alias("term"))
        .filter(F.col("term").isNotNull() & (F.length("term") >= min_term_len))
    )
    tf = terms.groupBy("doc", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(dfreq, "term").select(
        "doc",
        "term",
        F.round(F.col("tf") * F.lit(float(n_docs)) / F.col("df"), 6).alias("score"),
    )
    w = W.partitionBy("doc").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(F.col("doc").alias(id_col), "term", "rank", "score")
    )


def unigram_frequency_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    rare_ppm: int = 500,
) -> DataFrame:
    """Corpus-statistics quality signal (the log-free stand-in for
    unigram perplexity filtering): per document, the mean corpus
    frequency of its tokens in parts-per-million and the fraction of
    tokens rarer than ``rare_ppm``. Gibberish and OOV-heavy documents
    sit at the low-mean / high-rare-fraction corner.

    Integer ppm via ``floor(count * 1e6 / N)`` keeps every per-token
    value exact in both engines (no float ratios accumulate), so the
    doc mean is a sum of exact integers — deterministic at any
    parallelism. Plan: one (token) partial-agg shuffle for the
    frequency table, a token-keyed join (AQE handles stop-token skew),
    one doc-keyed rollup — same cost class as TF-IDF.
    """
    from .skew import fan_out

    doc_toks = (
        fan_out(df)
        .select(
            F.col(id_col).alias("doc"),
            F.explode_outer(tokens(F.lower(F.col(text_col)))).alias("tok"),
        )
        # empty/whitespace-only docs tokenize to [''] — drop the empty
        # token so those docs vanish from the report (and from N), the
        # same exclusion the oracle's trim(text) <> '' applies
        .filter(F.col("tok").isNotNull() & (F.col("tok") != ""))
    )
    # cache the VOCABULARY-sized frequency table (not the token
    # explode): the corpus total derives from it lazily, and the
    # per-doc join reuses it — memory cost is |vocab| rows. Exposed as
    # ``result._freq_cache`` for unpersist after materialization.
    freq_counts = cache.track(
        doc_toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c")).cache()
    )
    # total joins in as a broadcast 1-row aggregate: no eager driver
    # job at plan-construction time, no constant frozen against a
    # table that changes before the action runs
    total = freq_counts.agg(F.sum("c").alias("__N"))
    freqs = freq_counts.crossJoin(F.broadcast(total)).select(
        # integer `div` end-to-end: double division drifts at the floor
        # boundary once c*1e6 nears 2^53 (real at web-corpus scale) and
        # the DuckDB oracle's `//` is exact
        "tok",
        F.expr("(c * 1000000L) div __N").alias("ppm"),
    )
    result = (
        doc_toks.join(freqs, "tok")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.sum("ppm") / F.count(F.lit(1)), 6).alias("mean_token_ppm"),
            F.round(
                F.sum((F.col("ppm") < rare_ppm).cast("bigint"))
                / F.count(F.lit(1)),
                6,
            ).alias("rare_frac"),
        )
        .select(F.col("doc").alias(id_col), "n_tokens", "mean_token_ppm", "rare_frac")
    )
    result._freq_cache = freq_counts  # unpersist handle (repo convention)
    return result


def vocab_stats(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-group corpus-health diagnostics: token count, vocabulary
    size (types), type-token ratio, and hapax fraction (share of the
    vocabulary occurring exactly once — the Zipf tail). A shrinking
    TTR or collapsing hapax fraction is the standard symptom of
    boilerplate/duplication in a crawl slice.

    Two aggregate passes — (group, token) counts, then per-group
    rollup — both map-side combined; nothing wider than the
    per-group vocabulary ever shuffles.
    """
    from .skew import fan_out

    tok_counts = (
        fan_out(df)
        .select(
            F.col(group_col).alias("grp"),
            F.explode_outer(tokens(F.lower(F.col(text_col)))).alias("tok"),
        )
        .filter(F.col("tok").isNotNull() & (F.col("tok") != ""))
        .groupBy("grp", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        tok_counts.groupBy("grp")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_types"),
            F.round(F.count(F.lit(1)) / F.sum("c"), 6).alias("type_token_ratio"),
            F.round(
                F.sum((F.col("c") == 1).cast("bigint")) / F.count(F.lit(1)), 6
            ).alias("hapax_frac"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_tokens",
            "n_types",
            "type_token_ratio",
            "hapax_frac",
        )
    )


def bpe_merge_candidates(
    df: DataFrame,
    top_k: int = 20,
    text_col: str = "text",
) -> DataFrame:
    """One round of BPE-style merge-candidate counting at corpus
    scale: the ``top_k`` most frequent ADJACENT token pairs across all
    documents (ties broken lexically). Iterating this — count, merge
    the winner, re-count — is exactly tokenizer training; one round is
    the per-iteration workload and the part that must scale.

    Plan shape: tokenize (map-only, fanned out), expand each doc's
    adjacent pairs as an array expression (local, no self-join),
    explode, one partial-agg count shuffle, then a driver-bounded
    top-k sort of the distinct-pair counts. No shuffle carries more
    than one row per (pair) key after the map-side combine.
    """
    from pyspark.sql import Window as W

    from .skew import fan_out

    toked = (
        fan_out(df)
        .select(tokens(F.lower(F.col(text_col))).alias("__t"))
        .filter(F.size("__t") >= 2)
    )
    pairs = toked.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("__t") - 1),
                lambda i: F.concat_ws(
                    " ", F.element_at(F.col("__t"), i), F.element_at(F.col("__t"), i + 1)
                ),
            )
        ).alias("pair")
    )
    counts = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("n_occurrences"))
    # orderBy().limit(k) compiles to TakeOrderedAndProject: each
    # partition keeps its local top-k and the driver merges k·P rows —
    # no single task ever sorts the full distinct-pair set (which for
    # web corpora is itself huge). The rank window then runs over just
    # the k survivors.
    top = counts.orderBy(F.desc("n_occurrences"), F.asc("pair")).limit(top_k)
    w = W.orderBy(F.desc("n_occurrences"), F.asc("pair"))
    return top.withColumn("rank", F.row_number().over(w)).select(
        "rank", "pair", "n_occurrences"
    )


def repetition_ratios(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_words: int = 5,
) -> DataFrame:
    """Within-document repetition signals (the Gopher/MassiveText
    repetition filters): the fraction of word ``n``-grams that are
    duplicates of an earlier n-gram in the SAME document, and the
    fraction of words taken by the single most frequent word.

    Both are pure array expressions over the tokenized text — a
    map-only plan with NO shuffle, so at 100 TB it scales with scan
    bandwidth alone. The top-word pass is O(distinct x total) per row
    (nested ``filter`` under ``transform``), bounded by document
    length — fine for web-scale docs, and still shuffle-free.
    """
    # Materialize the token array in its own projection BEFORE any
    # higher-order lambda touches it: Catalyst inlines same-select
    # aliases into each lambda call, re-running the split per element
    # (O(n_words²) regex work per row).
    # The gram window needs at least n tokens: for size < n,
    # sequence(1, size-(n-1)) runs DESCENDING through 0 and
    # element_at(_, 0) raises INVALID_INDEX_OF_ZERO — so the effective
    # floor is max(min_words, n) regardless of the caller's min_words.
    toked = df.select(
        id_col, tokens(F.lower(F.col(text_col))).alias("__t")
    ).filter(F.size("__t") >= max(min_words, n))
    grammed = toked.select(
        id_col,
        "__t",
        F.transform(
            F.sequence(F.lit(1), F.size("__t") - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(F.col("__t"), i + j) for j in range(n)]
            ),
        ).alias("__g"),
    )
    return grammed.select(
        id_col,
        F.size("__t").alias("n_words"),
        F.round(
            F.lit(1.0)
            - F.size(F.array_distinct("__g")).cast("double") / F.size("__g"),
            6,
        ).alias("dup_ngram_frac"),
        F.round(
            F.array_max(
                F.transform(
                    F.array_distinct("__t"),
                    lambda w: F.size(F.filter(F.col("__t"), lambda x: x == w)),
                )
            ).cast("double")
            / F.size("__t"),
            6,
        ).alias("top_word_frac"),
    )


def span_dedup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_len: int = 8,
    hasher: str = "portable",
) -> DataFrame:
    """Repeated-span statistics: per document, the fraction of its
    fixed-length word spans that occur elsewhere in the corpus — the
    rollup behind substring-level dedup (the "remove duplicated
    substrings, not whole documents" regime; whole-doc similarity ops
    in dedup.py can't see a boilerplate paragraph shared by otherwise
    distinct pages).

    Returns (doc, n_spans, n_dup_spans, dup_span_frac).

    Plan shape, scale-first: span generation is MAP-ONLY — the token
    array is sliced in place via ``sequence``+``transform``+``slice``
    (no explode-then-regroup round trip), and only the span hash
    (md5, or xxhash64 longs with ``hasher='fast'`` — see _span_hash)
    travels into the aggregation, never the span text. Then one
    shuffle counts global span frequencies, and the duplicated subset
    (global count > 1, typically a small fraction of distinct spans)
    joins back against the per-doc span list — AQE turns that into a
    broadcast join whenever the duplicated set fits, else it is a hash
    join on the 16-byte hash. Final per-doc rollup re-aggregates on
    the doc id. Tail spans shorter than ``span_len`` are kept: dropped
    tails would blind the stat on short documents.

    Spans are TILED (stride = span_len), not sliding: an offset-shifted
    repeat lands in different tiles and is missed, so this undercounts
    relative to a suffix-array substring pass — the accepted trade for
    a corpus-scale first cut at 1/span_len the span volume. A sliding
    variant is the same plan with ``sequence(0, n - span_len)`` span
    starts and span_len x the rows.
    """
    toked = _tok_docs(df, text_col, id_col)
    toks = F.col("__toks")
    n = F.size(toks)
    k = int(span_len)
    h_t = "string" if hasher == "portable" else "bigint"
    n_spans = F.ceil(n.cast("double") / F.lit(float(k))).cast("int")
    span_hashes = F.when(n <= 0, F.array().cast(f"array<{h_t}>")).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_spans - F.lit(1)),
            lambda i: _span_hash(
                F.array_join(F.slice(toks, i * k + 1, k), " "), hasher
            ),
        )
    )
    spans = toked.select(
        "doc", F.explode(span_hashes).alias("span_h")
    )
    dup_spans = (
        spans.groupBy("span_h")
        .agg(F.count(F.lit(1)).alias("global_cnt"))
        .filter(F.col("global_cnt") > 1)
    )
    flagged = spans.join(dup_spans, "span_h", "left")
    return (
        flagged.groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(
                F.when(F.col("global_cnt").isNotNull(), 1).otherwise(0)
            ).alias("n_dup_spans"),
        )
        .select(
            "doc",
            "n_spans",
            "n_dup_spans",
            F.round(
                F.col("n_dup_spans").cast("double") / F.col("n_spans"), 6
            ).alias("dup_span_frac"),
        )
    )


def _span_hash(joined: Column, hasher: str) -> Column:
    """Window/span hash for the substring-dedup family: ``portable``
    (md5, 32-hex-char string — identical in the DuckDB oracle) or
    ``fast`` (JVM xxhash64, an 8-byte LONG — no digest + hex
    round-trip, and the hash KEY is 4x smaller). Measured effect
    (round 12, executor shuffle metrics on the policy
    operator): total shuffle bytes shrink 2.95x at 1x and 2.19x on
    the 100x saturated corpus — less than the 4x key ratio because
    the shuffled rows also carry doc/pos ints and the downstream
    stages' rows; local wall is ~1.08x (CPU-bound), so the fast
    path's real win is network shuffle bytes at cluster scale. The
    fast path is the production setting at corpus scale; collision
    math: expected falsely-duplicated window pairs ≈ W²/2^65 for W
    distinct windows, i.e. < 0.03 at W = 10^9 — use portable
    (128-bit md5) beyond ~10^9-window corpora if even that is too
    much."""
    if hasher == "portable":
        return F.md5(joined)
    if hasher == "fast":
        return F.xxhash64(joined)
    raise ValueError(
        f"unknown hasher {hasher!r}: use 'portable' or 'fast'"
    )


def _tok_docs(
    df: DataFrame, text_col: str, id_col: str | None, lower: bool = False
) -> DataFrame:
    """(doc, __toks): the token array materialized in its OWN
    projection, on a fanned-out input. Two load-bearing properties for
    every span/window generator built on top (the repetition_ratios /
    winnowing lesson, r12 measured on this family too):

    * tokenize ONCE per row — referencing ``tokens(col)`` inside a
      higher-order lambda inlines the split into the Generate, where
      it re-runs per produced element (O(n_words²) regex work per
      doc; the r12 before-plan showed 4 ``split(trim(...))`` calls
      inside one explode argument);
    * ``fan_out`` widens a narrow local scan (sf0.1 documents is ONE
      parquet split → the whole CPU-bound hash stage ran on one core)
      and is a no-op at cluster scale where the scan arrives in
      thousands of splits."""
    from .skew import fan_out

    text = F.lower(F.col(text_col)) if lower else F.col(text_col)
    doc = F.col(id_col) if id_col is not None else F.lit(0)
    return fan_out(df).select(doc.alias("doc"), tokens(text).alias("__toks"))


def _tiled_spans(
    df: DataFrame, text_col: str, id_col: str, span_len: int,
    hasher: str = "portable",
) -> DataFrame:
    """(doc, span_idx, span_h, tok_len) for every tiled fixed-length
    word span — the shared map-only front end of the substring-dedup
    family (see span_dedup_stats for the tiling rationale). Only the
    16-byte hash, two ints, and the id ever leave the map stage; span
    text never shuffles."""
    toked = _tok_docs(df, text_col, id_col)
    toks = F.col("__toks")
    n = F.size(toks)
    k = int(span_len)
    h_t = "string" if hasher == "portable" else "bigint"
    n_spans = F.ceil(n.cast("double") / F.lit(float(k))).cast("int")
    span_structs = F.when(
        n <= 0,
        F.array().cast(f"array<struct<idx:int,h:{h_t},len:int>>"),
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), n_spans - F.lit(1)),
            lambda i: F.struct(
                i.cast("int").alias("idx"),
                _span_hash(
                    F.array_join(F.slice(toks, i * k + 1, k), " "), hasher
                ).alias("h"),
                F.least(F.lit(k), n - i * k).cast("int").alias("len"),
            ),
        )
    )
    return toked.select(
        "doc", F.explode(span_structs).alias("s")
    ).select(
        "doc",
        F.col("s.idx").alias("span_idx"),
        F.col("s.h").alias("span_h"),
        F.col("s.len").alias("tok_len"),
    )


def _cross_doc_removal_flags(spans: DataFrame) -> DataFrame:
    """spans + (is_dup, removed): a span occurrence is removed iff its
    hash occurs in >= 2 DISTINCT documents and the occurrence is not
    the canonical keeper — the lexicographically smallest
    (doc, span_idx) across the corpus, so exactly one occurrence of
    each cross-doc span survives and the choice is deterministic."""
    # "occurs in >= 2 distinct docs" == min(doc) != max(doc) (both
    # null-skipping, exactly like COUNT(DISTINCT doc) >= 2 — incl. the
    # null-doc edge: {NULL, a} is 1 distinct doc under both forms).
    # min/max partial-aggregate map-side and need ONE exchange, where
    # countDistinct plans the two-exchange (key, doc)-then-key rewrite
    # (guide §2.3/§2.4; r12 plan diff: 2 Exchange -> 1 on this agg).
    dup = (
        spans.groupBy("span_h")
        .agg(
            F.min(F.struct(F.col("doc"), F.col("span_idx"))).alias(
                "keeper"
            ),
            F.min("doc").alias("__dmin"),
            F.max("doc").alias("__dmax"),
        )
        .filter(F.col("__dmin") != F.col("__dmax"))
        .select("span_h", "keeper", "__dmax")
    )
    is_dup = F.col("__dmax").isNotNull()
    removed = is_dup & ~(
        (F.col("keeper.doc") == F.col("doc"))
        & (F.col("keeper.span_idx") == F.col("span_idx"))
    )
    return spans.join(dup, "span_h", "left").select(
        "doc",
        "span_idx",
        "span_h",
        "tok_len",
        is_dup.alias("is_dup"),
        removed.alias("removed"),
    )


def cross_doc_span_dedup_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_len: int = 8,
    hasher: str = "portable",
) -> DataFrame:
    """CROSS-document substring dedup, rollup form: spans repeated in
    >= 2 distinct documents (crawl boilerplate — navbars, license
    footers, syndicated paragraphs) are removed everywhere except one
    canonical keeper occurrence (global min (doc, span_idx)), and each
    document reports what the rewrite did to it.

    This is the exact-substring-dedup class (the "remove duplicated
    substrings across pages" regime); span_dedup_stats counts repeats
    anywhere INCLUDING within one doc, while this operator's removal
    set is strictly cross-document — a chorus repeated inside a single
    lyric sheet is untouched, a footer shared by two sites is not.

    Returns per doc: n_spans, n_cross_dup_spans, n_removed_spans,
    n_tokens, tokens_removed, retained_token_frac, and
    kept_fingerprint — md5 over the ordered (span_idx:span_h) list of
    surviving spans, which pins the rewritten document's content
    without ever shuffling span text (the fingerprint determines the
    rebuilt text up to md5 collision; cross_doc_span_dedup
    materializes the text itself).

    Plan shape, scale-first: map-only span generation (hashes only) →
    one shuffle for global per-hash (distinct-doc count, keeper) → one
    hash join back (AQE broadcasts the dup set when it fits — at crawl
    scale the cross-doc-duplicated hash set is far smaller than the
    span set) → one per-doc rollup. No all-pairs stage anywhere; the
    heaviest shuffle carries 16-byte hashes + ints.
    """
    flagged = _cross_doc_removal_flags(
        _tiled_spans(df, text_col, id_col, span_len, hasher)
    )
    kept_entry = F.when(
        ~F.col("removed"), F.struct(F.col("span_idx"), F.col("span_h"))
    )
    return flagged.groupBy("doc").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.when(F.col("is_dup"), 1).otherwise(0)).alias(
            "n_cross_dup_spans"
        ),
        F.sum(F.when(F.col("removed"), 1).otherwise(0)).alias(
            "n_removed_spans"
        ),
        F.sum("tok_len").cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("removed"), F.col("tok_len")).otherwise(0))
        .cast("bigint")
        .alias("tokens_removed"),
        F.round(
            F.lit(1.0)
            - F.sum(
                F.when(F.col("removed"), F.col("tok_len")).otherwise(0)
            ).cast("double")
            / F.sum("tok_len"),
            6,
        ).alias("retained_token_frac"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_entry)),
                    lambda s: F.concat_ws(
                        ":", s.getField("span_idx"), s.getField("span_h")
                    ),
                ),
                " ",
            )
        ).alias("kept_fingerprint"),
    )


def sliding_window_hashes(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_len: int = 8,
    hasher: str = "portable",
) -> DataFrame:
    """(doc, pos, h) for every sliding k-token window — the map-only
    hash front end of the sliding substring-dedup family (16-byte
    hash + position int only; window text never leaves the map
    stage). Docs shorter than k have no window and produce no row.
    Public seam: the incremental span-hash index
    (expansion7.q_span_dedup_incremental) builds its standing index
    and new-batch probes from exactly these rows."""
    toked = _tok_docs(df, text_col, id_col)
    toks = F.col("__toks")
    n = F.size(toks)
    k = int(span_len)
    h_t = "string" if hasher == "portable" else "bigint"
    win_structs = F.when(
        n < k, F.array().cast(f"array<struct<pos:int,h:{h_t}>>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(0), n - F.lit(k)),
            lambda i: F.struct(
                i.cast("int").alias("pos"),
                _span_hash(
                    F.array_join(F.slice(toks, i + 1, k), " "), hasher
                ).alias("h"),
            ),
        )
    )
    return toked.select(
        "doc", F.explode(win_structs).alias("s")
    ).select("doc", F.col("s.pos").alias("pos"), F.col("s.h").alias("h"))


def _cross_doc_hashes(pos: DataFrame) -> DataFrame:
    """The one-column set of window hashes occurring in >= 2 DISTINCT
    documents. min(doc) != max(doc) is exactly COUNT(DISTINCT doc) >= 2
    (both skip NULL docs), but partial-aggregates map-side with ONE
    exchange instead of countDistinct's two-exchange rewrite
    (guide §2.3/§2.4; r12 plan diff: 2 Exchange -> 1)."""
    return (
        pos.groupBy("h")
        .agg(F.min("doc").alias("__d0"), F.max("doc").alias("__d1"))
        .filter(F.col("__d0") != F.col("__d1"))
        .select("h")
    )


def _dup_islands(pos: DataFrame, dup: DataFrame) -> DataFrame:
    """(doc, __island, start, __run) for every maximal run of
    consecutive duplicated window positions: semi-join the positions
    against the cross-doc hash set (only duplicated positions survive
    into the window), then islands via pos - row_number. row_number
    ties are between identical pos values, so the island arithmetic is
    tie-order independent (duprows gate)."""
    from pyspark.sql import Window as W

    return (
        pos.join(dup, "h", "leftsemi")
        .withColumn(
            "__island",
            F.col("pos")
            - F.row_number().over(W.partitionBy("doc").orderBy("pos")),
        )
        .groupBy("doc", "__island")
        .agg(
            F.min("pos").alias("start"),
            F.count(F.lit(1)).alias("__run"),
        )
    )


def sliding_span_dup_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_len: int = 8,
    hasher: str = "portable",
) -> DataFrame:
    """SLIDING-window cross-document substring duplication profile —
    the full-resolution detector the tiled operators trade away:
    cross_doc_span_dedup's stride-k tiles miss an offset-shifted
    repeat (a footer starting at token 3 of one page and token 11 of
    another lands in different tiles), while every k-token window
    here is checked, so any duplicated run of >= k tokens is seen at
    EVERY offset.

    Per doc: n_positions (sliding windows), n_dup_positions (windows
    whose hash occurs in >= 2 distinct docs), dup_pos_frac, and the
    exact-substring-dedup headline number — max_dup_run (longest
    consecutive run of duplicated window positions) and
    longest_dup_span_tokens (= max_dup_run + k - 1, the length in
    tokens of the longest substring shared with another document, the
    quantity a "remove duplicated substrings >= N tokens" policy
    thresholds on). Docs shorter than k tokens have no k-window and
    produce no row.

    Plan shape, scale-first: map-only window-hash generation (k x the
    tiled volume — the documented price of full resolution; only the
    16-byte hash + a position int shuffle), one per-hash aggregate,
    one SEMI join back (only duplicated positions survive into the
    islands window), then one per-doc aggregate whose SUM(run) IS
    n_dup_positions — so the expensive hash pipeline is consumed
    exactly twice (aggregate build + probe), not four times as when a
    flags frame feeds base and runs separately (r12: that double
    consumption was ~2x the query's wall). n_positions never needs
    the hash pipeline at all: it is sum(max(n_tokens - k + 1, 0)) per
    doc straight off the corpus scan. No all-pairs stage; the per-doc
    window shuffles only duplicated positions. Duplicate physical
    rows stay deterministic: row_number ties are between identical
    position values, so the island arithmetic is
    tie-order-independent.
    """
    k = int(span_len)
    pos = sliding_window_hashes(df, text_col, id_col, span_len, hasher)
    runs = (
        _dup_islands(pos, _cross_doc_hashes(pos))
        .groupBy("doc")
        .agg(
            F.max("__run").alias("__max_run"),
            F.sum("__run").alias("__n_dup"),
        )
    )
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    per_row = F.when(n >= k, (n - F.lit(k - 1)).cast("bigint")).otherwise(
        F.lit(0).cast("bigint")
    )
    base = (
        df.select(F.col(id_col).alias("doc"), per_row.alias("__w"))
        .groupBy("doc")
        .agg(F.sum("__w").alias("n_positions"))
        .filter(F.col("n_positions") > 0)
    )
    max_run = F.coalesce(F.col("__max_run"), F.lit(0)).cast("bigint")
    n_dup = F.coalesce(F.col("__n_dup"), F.lit(0)).cast("bigint")
    return base.join(runs, "doc", "left").select(
        "doc",
        "n_positions",
        n_dup.alias("n_dup_positions"),
        F.round(
            n_dup.cast("double") / F.col("n_positions"),
            6,
        ).alias("dup_pos_frac"),
        max_run.alias("max_dup_run"),
        F.when(max_run > 0, max_run + F.lit(k - 1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("longest_dup_span_tokens"),
    )


def remove_long_dup_substrings(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_len: int = 8,
    min_run_tokens: int = 50,
    hasher: str = "portable",
) -> DataFrame:
    """The exact-substring-dedup REMOVAL policy crawl pipelines apply
    on top of sliding_span_dup_profile: drop every token covered by a
    cross-document duplicated run of >= ``min_run_tokens`` tokens
    (the "remove duplicated substrings longer than N" rule; N=50 is
    the published crawl-dedup convention). Returns
    (id_col, deduped_text, n_tokens_removed).

    Policy is REMOVE-ALL occurrences (both/all copies of a qualifying
    substring go): at substring granularity a keeper-kept policy
    needs a global choice per maximal shared substring, whose
    occurrences sit inside DIFFERENT-length runs in different docs —
    coordination that buys little (the duplicated text is boilerplate
    by construction) and costs a corpus-wide alignment pass. The
    tiled operator (cross_doc_span_dedup) provides keeper-kept
    semantics where one surviving copy matters.

    PRECONDITION: id_col unique per row (the removed-range arrays
    join back onto df by id, as in cross_doc_span_dedup).

    WHITESPACE SIDE EFFECT: the text is rebuilt as
    ``array_join(tokens, ' ')``, so every whitespace run (newlines,
    tabs, multiple spaces) collapses to a single space CORPUS-WIDE —
    documents with zero removals do not round-trip byte-identical,
    only token-identical.

    Scale shape: the hash-only flag pipeline (semi-join form — only
    duplicated positions reach the islands window), one small
    aggregate of qualifying runs per affected doc (start + length
    ints), a join back by id (AQE broadcasts the affected-doc side
    when small), and a map-side token filter over a tokenize-ONCE
    projection (see _tok_docs: an inlined tokens() inside the rebuild
    lambda re-splits per token). Text never shuffles.
    """
    k = int(span_len)
    pos = sliding_window_hashes(df, text_col, id_col, span_len, hasher)
    runs = (
        _dup_islands(pos, _cross_doc_hashes(pos))
        .select(
            "doc",
            "start",
            (F.col("__run") + F.lit(k - 1)).cast("int").alias("len"),
        )
        .filter(F.col("len") >= int(min_run_tokens))
        .groupBy("doc")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("start"), F.col("len")))
            ).alias("__rm_ranges")
        )
        .withColumnRenamed("doc", "__rm_doc")
    )
    from .skew import fan_out

    toked = fan_out(df).select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    )
    joined = toked.join(
        runs, F.col(id_col) == F.col("__rm_doc"), "left"
    )
    toks = F.col("__toks")
    n = F.size(toks)
    ranges = F.coalesce(
        F.col("__rm_ranges"),
        F.array().cast("array<struct<start:int,len:int>>"),
    )
    kept = F.when(n <= 0, F.array().cast("array<string>")).otherwise(
        F.filter(
            F.transform(
                F.sequence(F.lit(0), n - F.lit(1)),
                lambda i: F.when(
                    ~F.exists(
                        ranges,
                        lambda r: (i >= r.getField("start"))
                        & (
                            i
                            < r.getField("start") + r.getField("len")
                        ),
                    ),
                    F.element_at(toks, i.cast("int") + 1),
                ),
            ),
            lambda t: t.isNotNull(),
        )
    )
    return joined.select(
        F.col(id_col),
        F.array_join(kept, " ").alias("deduped_text"),
        (F.greatest(n, F.lit(0)) - F.size(kept))
        .cast("bigint")
        .alias("n_tokens_removed"),
    )


def cross_doc_span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_len: int = 8,
    hasher: str = "portable",
) -> DataFrame:
    """CROSS-document substring dedup, rewrite form: returns
    (id_col, deduped_text) where every span occurrence flagged by
    cross_doc_span_dedup_stats' removal rule is dropped and the
    surviving tiles are re-joined with single spaces.

    PRECONDITION: id_col must be unique per row — the removed-tile
    index array joins back onto df by id to rebuild the text, so a
    duplicated id would fan out (use the stats form, which is
    dup-row-safe, when ids may repeat).

    WHITESPACE SIDE EFFECT: the text is rebuilt as
    ``array_join(tiles, ' ')``, so every whitespace run (newlines,
    tabs, multiple spaces) collapses to a single space CORPUS-WIDE —
    documents with zero removals do not round-trip byte-identical,
    only token-identical.

    Scale shape: the hash-only stats pipeline computes the removal
    set, collapses it to ONE small row per affected doc (an int array
    of removed tile indexes), and joins that back by id — AQE
    broadcasts it when the affected-doc set is small, which at crawl
    scale it is relative to the corpus. The text itself is rebuilt
    map-side from the original token array; full text never shuffles.
    """
    flagged = _cross_doc_removal_flags(
        _tiled_spans(df, text_col, id_col, span_len, hasher)
    )
    removed_idx = (
        flagged.filter(F.col("removed"))
        .groupBy("doc")
        .agg(F.array_sort(F.collect_list("span_idx")).alias("__rm"))
        .withColumnRenamed("doc", "__rm_doc")
    )
    from .skew import fan_out

    # tokenize ONCE in its own projection before the rebuild lambda
    # (see _tok_docs — an inlined tokens() re-splits per tile)
    toked = fan_out(df).select(
        F.col(id_col), tokens(F.col(text_col)).alias("__toks")
    )
    joined = toked.join(
        removed_idx, F.col(id_col) == F.col("__rm_doc"), "left"
    )
    toks = F.col("__toks")
    n = F.size(toks)
    k = int(span_len)
    n_spans = F.ceil(n.cast("double") / F.lit(float(k))).cast("int")
    rm = F.coalesce(F.col("__rm"), F.array().cast("array<int>"))
    kept_tiles = F.when(n <= 0, F.array().cast("array<string>")).otherwise(
        F.filter(
            F.transform(
                F.sequence(F.lit(0), n_spans - F.lit(1)),
                lambda i: F.when(
                    ~F.array_contains(rm, i.cast("int")),
                    F.array_join(F.slice(toks, i * k + 1, k), " "),
                ),
            ),
            lambda t: t.isNotNull(),
        )
    )
    return joined.select(
        F.col(id_col), F.array_join(kept_tiles, " ").alias("deduped_text")
    )


# PII-shaped patterns, ASCII-simplified so the identical regex runs in
# Spark (Java regex) and DuckDB (RE2). Redaction order matters: emails
# first (they contain digit runs), then standalone digit runs.
PII_EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
PII_NUMBER_RE = "[0-9]{2,}"


def pii_redaction(df: DataFrame, text_col: str) -> DataFrame:
    """Per-record PII-shaped pattern scrub: appends match counts for
    email-shaped and digit-run patterns and the redacted text (emails
    → ``<EMAIL>``, digit runs → ``<NUM>``) while preserving every
    input column. Map-only — three regex passes per row, all
    JVM-side; at corpus scale this is the cheap first pass before a
    model-based PII stage, and the match counts feed per-source
    redaction-rate monitors."""
    txt = F.col(text_col)
    email_scrubbed = F.regexp_replace(txt, PII_EMAIL_RE, "<EMAIL>")
    return (
        df.withColumn("n_emails", F.regexp_count(txt, F.lit(PII_EMAIL_RE)))
        .withColumn(
            "n_numbers", F.regexp_count(email_scrubbed, F.lit(PII_NUMBER_RE))
        )
        .withColumn(
            "redacted", F.regexp_replace(email_scrubbed, PII_NUMBER_RE, "<NUM>")
        )
    )


def _doc_bigrams(df: DataFrame, text_col: str, id_col: str | None) -> DataFrame:
    """(doc, w1, w2) — one row per adjacent lowercase-token pair
    occurrence, via a map-only zip of the token array with its shifted
    self (no posexplode+self-join). Docs with < 2 tokens contribute
    nothing. Shared by :func:`bigram_lm` (which aggregates away the
    doc — pass ``id_col=None`` for frames without an id column) and
    :func:`bigram_lm_scores` (which scores per doc) so the
    tokenization and pair semantics can never diverge.

    Built on :func:`_tok_docs` (tokenize ONCE below the Generate +
    fan_out) — the split otherwise inlines 4x into the explode
    argument, where Generate codegen does not subexpression-eliminate
    it (r12 measured 1.9x on this operator at sf0.1)."""
    toked = _tok_docs(df, text_col, id_col, lower=True)
    toks = F.col("__toks")
    n = F.size(toks)
    pairs_arr = F.when(
        n < 2, F.array().cast("array<struct<w1:string,w2:string>>")
    ).otherwise(
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        )
    )
    return toked.select("doc", F.explode(pairs_arr).alias("p")).select(
        "doc", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )


def _bigram_heads(counts: DataFrame):
    """(counts + c(w1·) head totals, vocab scalar) — the shared LM
    normalization of :func:`bigram_lm` and :func:`bigram_lm_scores`."""
    from pyspark.sql import Window as W

    vocab = counts.select("w1").distinct().count()  # driver scalar
    return counts.withColumn("c1", F.sum("c12").over(W.partitionBy("w1"))), vocab


def _smoothed_bigram_expr(
    k_smooth: float, vocab: int, scale: float | None = None
) -> Column:
    """THE canonical add-k smoothed conditional probability
    ``(c12 + k) / (c1 + k·V)``, optionally pre-scaled (``scale``
    multiplies the NUMERATOR first — the left association the DuckDB
    oracles embed; changing it changes double rounding). Shared by
    bigram_lm (6dp) and bigram_lm_scores (integer PPM) so the
    derivation can never drift between them and their oracles."""
    num: Column = F.col("c12") + F.lit(float(k_smooth))
    if scale is not None:
        num = F.lit(scale) * num
    return num / (F.col("c1") + F.lit(float(k_smooth) * vocab))


def bigram_lm(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_smooth: float = 0.5,
    top_k: int = 3,
) -> DataFrame:
    """Corpus bigram language-model table: for each head token, the
    ``top_k`` next tokens by add-k-smoothed conditional probability
    ``P(w2|w1) = (c(w1,w2)+k) / (c(w1·)+k·V)`` — the statistic behind
    n-gram perplexity filters and cheap LM-based quality scores when a
    neural scorer is too expensive for a full-corpus pass.

    Plan shape: adjacent pairs come from a map-only zip of the token
    array with its shifted self (no posexplode+self-join); ONE shuffle
    counts (w1, w2); the head totals ``c(w1·)`` are the per-w1 SUM of
    those pair counts (a window over the already-shuffled counts —
    no second corpus scan; the last token of a doc is never a head,
    which is exactly the bigram normalization). V (distinct heads) is
    a driver scalar from the same counts. Probabilities are exact
    integer-ratio doubles rounded to 6 — bit-identical in any engine.
    """
    from pyspark.sql import Window as W

    # persist: pair counts feed both the vocab scalar action and the
    # final probability plan — uncached, the corpus re-tokenizes for
    # each. Released by the harness after materialization (cache.py).
    pairs = cache.track(
        # id only for provenance of the shared pair extraction — the
        # aggregate drops it, so frames without the id column still work
        _doc_bigrams(df, text_col, id_col if id_col in df.columns else None)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c12"))
        .persist()
    )
    with_heads, vocab = _bigram_heads(pairs)
    rank_w = W.partitionBy("w1").orderBy(F.desc("prob"), F.asc("w2"))
    return (
        with_heads.withColumn(
            "prob", F.round(_smoothed_bigram_expr(k_smooth, vocab), 6)
        )
        .withColumn("rank", F.row_number().over(rank_w))
        .filter(F.col("rank") <= top_k)
        .select("w1", "w2", "rank", "prob", "c12", "c1")
    )


def bigram_lm_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k_smooth: float = 0.5,
    rare_ppm: int = 100,
) -> DataFrame:
    """Per-document quality scores under the corpus's own add-k bigram
    LM — the cheap full-corpus stand-in for neural perplexity filters
    (CCNet-style bucketing): documents whose bigrams are
    corpus-typical score high, boilerplate/garbled text scores low.

    Log-free by the same engine-portability rule as BM25's rational
    idf: each bigram's smoothed conditional probability is rounded to
    integer PPM (parts per million) and summed EXACTLY (bigint), so
    ``mean_prob_ppm`` and ``rare_frac`` are exact integer ratios —
    bit-identical in any engine, where a log-prob double sum would be
    partitioning-order-dependent and could never hash-match an oracle.

    Plan shape: one tokenize pass produces (doc, w1, w2) occurrences
    — persisted, because BOTH the LM aggregate and the scoring join
    consume it; the LM is a (w1,w2)-grouped count (one shuffle) with
    head totals from a window over those counts; scoring is a hash
    join of occurrences against the (much smaller) LM table, then one
    per-doc aggregate. Docs with < 2 tokens have no bigrams and are
    excluded (they have no LM evidence either way).

    Output: (doc, n_bigrams, mean_prob_ppm, rare_frac) where
    ``rare_frac`` is the fraction of the doc's bigrams with smoothed
    probability below ``rare_ppm`` parts per million.
    """
    from pyspark.sql import Window as W

    occurrences = cache.track(_doc_bigrams(df, text_col, id_col).persist())
    counts = occurrences.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    with_heads, vocab = _bigram_heads(counts)
    lm = (
        with_heads.withColumn(
            "ppm",
            F.round(
                _smoothed_bigram_expr(k_smooth, vocab, scale=1000000.0)
            ).cast("bigint"),
        )
        .select("w1", "w2", "ppm")
    )
    return (
        occurrences.join(lm, ["w1", "w2"])
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (F.sum("ppm").cast("double") / F.count(F.lit(1))).alias(
                "mean_prob_ppm"
            ),
            (
                F.sum((F.col("ppm") < rare_ppm).cast("bigint")).cast("double")
                / F.count(F.lit(1))
            ).alias("rare_frac"),
        )
    )


def tokenizer_fertility(
    df: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group tokenizer fertility: characters per BPE-ish token and
    BPE-to-whitespace token inflation — the budgeting signal a
    multilingual pipeline needs before spending a real tokenizer pass
    (languages with high fertility consume more of a token budget per
    character; whitespace counts alone undercount CJK-like scripts).

    Map-only per-doc counting (the token_counts expressions) feeding
    one partial-aggregated groupBy; all sums are exact bigints, the
    ratios exact integer-ratio doubles.
    """
    txt = F.col(text_col)
    per_doc = df.select(
        F.col(group_col).alias("grp"),
        F.length(txt).cast("bigint").alias("n_chars"),
        F.size(tokens(txt)).cast("bigint").alias("n_ws"),
        F.size(F.regexp_extract_all(txt, F.lit(BPE_TOKEN_RE), F.lit(0)))
        .cast("bigint")
        .alias("n_bpe"),
    )
    return (
        per_doc.groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum("n_ws").alias("total_ws_tokens"),
            F.sum("n_bpe").alias("total_bpe_tokens"),
        )
        .select(
            F.col("grp").alias(group_col),
            "n_docs",
            "total_chars",
            "total_ws_tokens",
            "total_bpe_tokens",
            (
                F.col("total_chars").cast("double")
                / F.nullif(F.col("total_bpe_tokens"), F.lit(0))
            ).alias("chars_per_bpe_token"),
            (
                F.col("total_bpe_tokens").cast("double")
                / F.nullif(F.col("total_ws_tokens"), F.lit(0))
            ).alias("bpe_per_ws_token"),
        )
    )


def bm25_topk(
    corpus: DataFrame,
    queries: DataFrame,
    top_k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_term_len: int = 3,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Lexical retrieval: BM25 top-k corpus documents per query
    document, with a LOG-FREE rational idf ``(N - df + 0.5)/(df + 0.5)``
    (monotone in the standard log idf, so rankings agree; division is
    correctly-rounded IEEE, so Spark and a DuckDB oracle agree
    bit-for-bit where ``ln`` implementations may not).

    Plan shape — an inverted-index join, never query×corpus:
    (doc, term, tf, dl) postings from one corpus pass; df and avgdl
    from term-keyed / global aggregates (avgdl and N are driver
    scalars); DISTINCT query terms join postings ON TERM, so each
    query only meets documents sharing a term. ``max_doc_freq`` drops
    stop terms — the skew cap that keeps the hottest posting list
    bounded at corpus scale (same discipline as the Jaccard inverted
    index). Per-term partial scores are rounded then decimal-summed so
    the (query, doc) total is independent of term arrival order at any
    parallelism.

    Self-matches (a query retrieving itself when queries come from the
    corpus) are excluded. Returns (query_id, doc_id, rank, score).
    """
    from pyspark.sql import Window as W

    from .skew import fan_out

    def postings_of(frame: DataFrame) -> DataFrame:
        toks = (
            fan_out(frame)
            .select(
                F.col(id_col).alias("doc"),
                F.explode_outer(tokens(F.lower(F.col(text_col)))).alias("term"),
            )
            .filter(F.col("term").isNotNull() & (F.length("term") >= min_term_len))
        )
        return toks.groupBy("doc", "term").agg(F.count(F.lit(1)).alias("tf"))

    # persist: the postings (scan+tokenize+aggregate) feed THREE
    # consumers — the avgdl scalar action, the df aggregate, and the
    # final match join; without the cache the corpus tokenizes three
    # times (measured ~2.5x the query time at sf0.1). Released by the
    # harness after materialization (cache.py registry).
    post = cache.track(postings_of(corpus).persist())
    doclen = post.groupBy("doc").agg(F.sum("tf").alias("dl"))
    post = post.join(doclen, "doc")
    # N = documents WITH at least one indexed term (= |doclen|): a doc
    # whose tokens are all below min_term_len contributes nothing to
    # tf/df/avgdl, so counting it in N would make idf disagree with
    # the index the scores are computed over. One agg serves both
    # scalars — kept as a 1-row frame crossed in via broadcast rather
    # than a driver collect: the collect was a whole extra Spark
    # action per query (job floor, guide §5 "the driver should do
    # almost no data work"); the values are bit-identical (the same
    # double would have round-tripped through F.lit).
    stats = doclen.agg(
        F.count(F.lit(1)).cast("double").alias("__n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("__avgdl"),
    )
    dfreq = post.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    if max_doc_freq is not None:
        dfreq = dfreq.filter(F.col("df") <= max_doc_freq)
    q_terms = (
        fan_out(queries)
        .select(
            F.col(id_col).alias("query_id"),
            F.explode_outer(tokens(F.lower(F.col(text_col)))).alias("term"),
        )
        .filter(F.col("term").isNotNull() & (F.length("term") >= min_term_len))
        .distinct()
    )
    idf = (F.col("__n_docs") - F.col("df") + F.lit(0.5)) / (
        F.col("df") + F.lit(0.5)
    )
    tf_part = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf")
        + F.lit(k1)
        * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / F.col("__avgdl"))
    )
    matched = (
        q_terms.join(post, "term")
        .join(dfreq, "term")
        .filter(F.col("query_id") != F.col("doc"))
        .crossJoin(F.broadcast(stats))
        .select(
            "query_id",
            "doc",
            F.round(idf * tf_part, 6).cast("decimal(18,6)").alias("part_score"),
        )
    )
    scored = matched.groupBy("query_id", "doc").agg(
        F.round(F.sum("part_score").cast("double"), 6).alias("score")
    )
    w = W.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("query_id", F.col("doc").alias("doc_id"), "rank", "score")
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 64,
    overlap: int = 16,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into overlapping token-window chunks —
    (doc, chunk_idx, chunk_text, n_tokens) — the retrieval/context-
    window prep step (RAG indexing, long-doc embedding) that runs over
    every corpus before an embedding pass.

    Chunks start every ``chunk_tokens - overlap`` tokens and span
    ``chunk_tokens``; the final chunk is the shorter tail. A document
    shorter than one chunk yields exactly one chunk. Map-only: chunk
    starts come from ``sequence`` and each chunk is a ``slice`` +
    ``array_join`` of the token array (tokenized ONCE via
    ``_tok_docs``) — no explode-then-regroup, no data-sized shuffle at
    any corpus size (``fan_out`` only widens narrow local scans). Emitted
    ``n_tokens`` is the chunk's real token count (tail-aware), which
    downstream packing/batching needs.
    """
    if chunk_tokens < 1:
        raise ValueError(f"chunk_tokens must be >= 1, got {chunk_tokens}")
    if not 0 <= overlap < chunk_tokens:
        # a NEGATIVE overlap silently skips stride-chunk_tokens tokens
        # between consecutive chunks — data loss, not a layout choice
        raise ValueError(
            f"overlap must be in [0, chunk_tokens), got {overlap}"
        )
    stride = chunk_tokens - overlap
    # NULL text yields no chunks (least/greatest SKIP nulls, so an
    # unfiltered null row would emit one phantom full-size chunk).
    # Tokenize ONCE below the Generate via _tok_docs — each chunk's
    # slice otherwise re-runs the split inside the transform lambda
    # (O(n_tokens^2/stride) regex work per doc; r12 measured 2.2x on
    # this operator at sf0.1).
    toked = _tok_docs(
        df.filter(F.col(text_col).isNotNull()), text_col, id_col
    )
    toks = F.col("__toks")
    n = F.size(toks)
    # last start index: the largest multiple of stride that still
    # begins a NEW span (start < n); docs shorter than one chunk get
    # the single start 0
    n_starts = F.greatest(
        F.lit(1), F.ceil((n - F.lit(overlap)).cast("double") / stride).cast("int")
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_starts - 1),
        lambda i: F.struct(
            i.alias("chunk_idx"),
            F.array_join(F.slice(toks, i * stride + 1, chunk_tokens), " ").alias(
                "chunk_text"
            ),
            F.least(n - i * stride, F.lit(chunk_tokens)).alias("n_tokens"),
        ),
    )
    return (
        toked.select("doc", F.explode(chunks).alias("c"))
        .select(
            "doc",
            F.col("c.chunk_idx").alias("chunk_idx"),
            F.col("c.chunk_text").alias("chunk_text"),
            F.col("c.n_tokens").cast("bigint").alias("n_tokens"),
        )
    )
