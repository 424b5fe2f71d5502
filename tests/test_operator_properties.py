"""Property-based tests (hypothesis) for the newer operator kernels —
the temperature-sampling rate math against its Python reference, plus
bounded Spark-backed properties for span dedup, the bigram LM and
chunking against brute-force Python twins."""

import math

from hypothesis import given, settings
from hypothesis import strategies as st


def temperature_rates_bp(counts: dict, alpha: float, floor_bp: int = 1) -> dict:
    """Python reference for ``curation.temperature_sample``'s in-plan
    keep-rates, in basis points: ``floor(10000 * (min_count/count)^(1-alpha))``,
    floored at ``floor_bp``. alpha=0.5 routes through ``math.sqrt``
    (correctly rounded, so every engine computes the identical rate);
    other alphas use ``pow``, which may differ in the last ulp."""
    min_c = min(counts.values())
    out = {}
    for v, c in counts.items():
        x = min_c / c
        scaled = math.sqrt(x) if alpha == 0.5 else math.pow(x, 1.0 - alpha)
        out[v] = max(int(floor_bp), int(math.floor(10000.0 * scaled)))
    return out


count_maps = st.dictionaries(
    st.text(alphabet="abcdefg", min_size=1, max_size=3),
    st.integers(min_value=1, max_value=10**9),
    min_size=1,
    max_size=8,
)
alphas = st.one_of(
    st.just(0.0), st.just(0.5), st.just(1.0), st.floats(min_value=0.0, max_value=1.0)
)


@given(count_maps, alphas)
@settings(max_examples=300, deadline=None)
def test_temperature_rates_properties(counts, alpha):
    rates = temperature_rates_bp(counts, alpha)
    # bounded; minority stratum always keeps everything
    assert all(1 <= r <= 10000 for r in rates.values())
    min_k = min(counts, key=lambda k: (counts[k], k))
    assert rates[min_k] == 10000
    # monotone: bigger strata never keep a higher rate
    by_count = sorted(counts.items(), key=lambda kv: kv[1])
    for (_, c1), (_, c2) in zip(by_count, by_count[1:]):
        k1 = [k for k, c in counts.items() if c == c1][0]
        k2 = [k for k, c in counts.items() if c == c2][0]
        assert rates[k1] >= rates[k2]


@given(count_maps)
@settings(max_examples=200, deadline=None)
def test_temperature_alpha_one_is_identity(counts):
    assert set(temperature_rates_bp(counts, 1.0).values()) == {10000}


@given(count_maps)
@settings(max_examples=200, deadline=None)
def test_temperature_alpha_half_matches_sqrt_oracle(counts):
    # the DuckDB oracle computes FLOOR(10000*sqrt(min/c)) — the helper
    # must route alpha=0.5 through sqrt, not pow, to match bit-for-bit
    rates = temperature_rates_bp(counts, 0.5)
    mn = min(counts.values())
    for k, c in counts.items():
        assert rates[k] == max(1, int(math.floor(10000.0 * math.sqrt(mn / c))))


def test_temperature_sample_keeps_what_the_reference_rates_keep(spark):
    """temperature_sample computes its rates in the plan; the kept set
    must equal the rows whose salted bucket is below the Python
    reference's rate for their stratum."""
    from transformers_spark.operators.curation import (
        _salted_bucket,
        temperature_sample,
    )

    rows = (
        [(i, "en") for i in range(300)]
        + [(1000 + i, "de") for i in range(70)]
        + [(2000 + i, "fr") for i in range(11)]
    )
    df = spark.createDataFrame(rows, "doc_id bigint, lang string")
    counts = {"en": 300, "de": 70, "fr": 11}
    bucket = {
        r["doc_id"]: r["b"]
        for r in df.select(
            "doc_id", _salted_bucket("temp:", "doc_id").alias("b")
        ).collect()
    }
    for alpha in (0.0, 0.5, 0.7):
        rate = temperature_rates_bp(counts, alpha)
        want = sorted(d for d, s in rows if bucket[d] < rate[s])
        got = sorted(
            r["doc_id"] for r in temperature_sample(df, "lang", alpha).collect()
        )
        assert got == want, alpha


@given(
    st.lists(
        st.lists(st.sampled_from("abcd"), min_size=0, max_size=12).map(" ".join),
        min_size=1,
        max_size=6,
    ),
    st.integers(min_value=1, max_value=4),
)
@settings(max_examples=15, deadline=None)
def test_span_dedup_matches_bruteforce(spark, texts, k):
    """Spark span_dedup_stats equals a brute-force Python twin on
    arbitrary tiny corpora (empty docs, 1-token docs, shared spans)."""
    from collections import Counter

    from transformers_spark.operators.text import span_dedup_stats

    docs = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    def spans_of(text):
        # mirror F.split(trim, \s+): empty text -> ['']
        import re

        toks = re.split(r"\s+", text.strip())
        return [
            " ".join(toks[i * k : (i + 1) * k])
            for i in range(math.ceil(len(toks) / k))
        ]

    counts = Counter(s for _, t in docs for s in spans_of(t))
    expect = {}
    for i, t in docs:
        sp = spans_of(t)
        if not sp:
            continue
        dup = sum(1 for s in sp if counts[s] > 1)
        expect[i] = (len(sp), dup)
    got = {
        r["doc"]: (r["n_spans"], r["n_dup_spans"])
        for r in span_dedup_stats(df, span_len=k).collect()
    }
    assert got == expect


@given(
    st.lists(
        st.lists(st.sampled_from("abc"), min_size=0, max_size=8).map(" ".join),
        min_size=1,
        max_size=5,
    )
)
@settings(max_examples=12, deadline=None)
def test_bigram_lm_matches_bruteforce(spark, texts):
    """Spark bigram_lm equals a pure-Python model on arbitrary tiny
    corpora (single-token docs, empty docs, tie-breaks)."""
    from collections import Counter, defaultdict

    from transformers_spark.operators.text import bigram_lm

    docs = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    import re

    pair_counts = Counter()
    for _, t in docs:
        toks = re.split(r"\s+", t.strip().lower())
        for a, b in zip(toks, toks[1:]):
            pair_counts[(a, b)] += 1
    heads = defaultdict(int)
    for (a, _), c in pair_counts.items():
        heads[a] += c
    vocab = len(heads)
    expect = {}
    for a in heads:
        cands = sorted(
            ((w2, c) for (w1, w2), c in pair_counts.items() if w1 == a),
            key=lambda x: (-round((x[1] + 0.5) / (heads[a] + 0.5 * vocab), 6), x[0]),
        )[:3]
        for rank, (w2, c) in enumerate(cands, 1):
            expect[(a, w2)] = (
                rank,
                round((c + 0.5) / (heads[a] + 0.5 * vocab), 6),
                c,
                heads[a],
            )
    got = {
        (r["w1"], r["w2"]): (r["rank"], r["prob"], r["c12"], r["c1"])
        for r in bigram_lm(df, k_smooth=0.5, top_k=3).collect()
    }
    assert got == expect


@given(
    st.integers(min_value=1, max_value=30),
    st.integers(min_value=2, max_value=8),
    st.integers(min_value=0, max_value=6),
)
@settings(max_examples=12, deadline=None)
def test_chunking_covers_every_token(spark, n_tokens, chunk, overlap):
    """Every token index appears in at least one chunk; consecutive
    chunks overlap by exactly `overlap` (except the tail)."""
    from hypothesis import assume

    from transformers_spark.operators.text import chunk_documents

    assume(overlap < chunk)
    text = " ".join(str(i) for i in range(n_tokens))
    df = spark.createDataFrame([(1, text)], ["doc_id", "text"])
    rows = sorted(
        chunk_documents(df, chunk_tokens=chunk, overlap=overlap).collect(),
        key=lambda r: r["chunk_idx"],
    )
    stride = chunk - overlap
    covered = set()
    for r in rows:
        toks = r["chunk_text"].split(" ")
        assert len(toks) == r["n_tokens"] <= chunk
        assert toks[0] == str(r["chunk_idx"] * stride)  # correct start
        covered.update(int(t) for t in toks)
    assert covered == set(range(n_tokens))
