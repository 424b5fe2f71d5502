"""Operator unit tests beyond the oracle comparisons."""

import hashlib

import pytest
from pyspark.sql import functions as F

from transformers_spark.operators.dedup import exact_dedup_groups, minhash_signatures
from transformers_spark.operators.hashing import MERSENNE_P, h32, lcg_constants
from transformers_spark.operators.multimodal import (
    DecoderUnavailable,
    attach_media_metadata,
    decode_image_features,
    fake_image_decoder,
    frame_sample_plan,
)
from transformers_spark.operators.similarity import cosine_topk


def test_h32_matches_python_md5(spark):
    df = spark.createDataFrame([("hello",), ("world",)], ["s"])
    rows = {r["s"]: r["h"] for r in df.select("s", h32(F.col("s")).alias("h")).collect()}
    for s, h in rows.items():
        assert h == int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def test_lcg_constants_deterministic_and_bounded():
    a = lcg_constants(8)
    assert a == lcg_constants(8)
    for x, y in a:
        assert 0 < x < MERSENNE_P and x % 2 == 1
        assert 0 <= y < MERSENNE_P


def test_exact_dedup_finds_duplicates(spark):
    df = spark.createDataFrame(
        [(1, "Hello,  World!"), (2, "hello world"), (3, "different doc")],
        ["doc_id", "text"],
    )
    groups = exact_dedup_groups(df).collect()
    by_keep = {r["keep_id"]: r["n_docs"] for r in groups}
    assert by_keep == {1: 2, 3: 1}  # normalization unifies 1 and 2


def test_minhash_identical_docs_identical_sigs(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f"), (3, "x y z w v u")],
        ["doc_id", "text"],
    )
    sigs = {r["doc"]: tuple(r[i] for i in range(1, 17)) for r in minhash_signatures(df, num_perm=16).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[1] != sigs[3]


def test_cosine_topk_self_excluded_and_ranked(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.1]), (2, [0.0, 1.0])],
        ["vec_id", "embedding"],
    )
    out = cosine_topk(df, df.filter(F.col("vec_id") == 0), k=2).collect()
    assert [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])] == [1, 2]
    assert all(r["query_id"] == 0 for r in out)


def test_multimodal_decode_plumbing(spark):
    df = spark.createDataFrame(
        [("m1", "image", "application/octet-stream", bytearray(b"hello")),
         ("m2", "image", "application/octet-stream", bytearray(b"a longer payload"))],
        "media_id string, modality string, mime_type string, payload binary",
    )
    feats = {r["media_id"]: r.asDict() for r in
             decode_image_features(df, decoder=fake_image_decoder).collect()}
    assert feats["m1"]["n_bytes"] == 5
    assert feats["m1"]["content_hash"] == hashlib.md5(b"hello").hexdigest()
    w, h = fake_image_decoder(b"hello")
    assert (feats["m1"]["width"], feats["m1"]["height"]) == (w, h)


def test_multimodal_real_decoder_stubbed(spark):
    df = spark.createDataFrame(
        [("m1", "image", None, bytearray(b"x"))],
        "media_id string, modality string, mime_type string, payload binary",
    )
    with pytest.raises(Exception) as err:
        decode_image_features(df).collect()
    assert "DecoderUnavailable" in str(err.value) or "codecs" in str(err.value)


def test_attach_media_metadata_jvm_side(spark):
    df = spark.createDataFrame(
        [("m1", bytearray(b"abc"))], "media_id string, payload binary"
    )
    row = attach_media_metadata(df).collect()[0]
    assert row["n_bytes"] == 3
    assert row["content_hash"] == hashlib.md5(b"abc").hexdigest()
    # no python stage in the plan
    assert "pythonUDF" not in attach_media_metadata(df)._jdf.queryExecution().toString().lower()


def test_frame_sample_plan(spark):
    df = spark.createDataFrame([("v1", 100), ("v2", 5)], "media_id string, duration_frames int")
    rows = {r["media_id"]: r["sample_frames"] for r in frame_sample_plan(df, 30, 4).collect()}
    assert rows["v1"] == [0, 30, 60, 90]
    assert rows["v2"] == [0]


def test_winnowing_fingerprints_detect_shared_run(spark):
    from transformers_spark.operators.text import winnowing_fingerprints

    # Docs 1 and 2 share a long run; doc 3 is disjoint content.
    shared = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [(1, shared + " alpha beta"), (2, "gamma delta " + shared), (3, "zz " * 30)],
        ["doc_id", "text"],
    )
    rows = winnowing_fingerprints(df).collect()
    fps = {}
    for r in rows:
        fps.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    overlap_12 = fps[1] & fps[2]
    overlap_13 = fps[1] & fps[3]
    assert len(overlap_12) > 0  # shared run → shared fingerprints
    assert len(overlap_12) > len(overlap_13)
    # identical doc → identical fingerprint set
    df2 = spark.createDataFrame([(9, shared + " alpha beta")], ["doc_id", "text"])
    fps9 = {r["fingerprint"] for r in winnowing_fingerprints(df2).collect()}
    assert fps9 == fps[1]


def test_embedding_neardup_pairs_threshold_and_symmetry(spark):
    from transformers_spark.operators.similarity import embedding_neardup_pairs

    base = [1.0] + [0.0] * 63
    near = [1.0, 0.01] + [0.0] * 62
    far = [0.0] * 63 + [1.0]
    df = spark.createDataFrame(
        [(0, base), (1, near), (2, far)], ["vec_id", "embedding"]
    )
    rows = embedding_neardup_pairs(df, threshold=0.9).collect()
    pairs = {(r["d1"], r["d2"]) for r in rows}
    assert (0, 1) in pairs  # near-identical pair found
    assert all(d1 < d2 for d1, d2 in pairs)  # each pair once, ordered
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_kmeans_centroids_converge_and_improve_recall(spark):
    from transformers_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
        kmeans_centroids,
    )
    from transformers_spark.sources.testdata import register_tables

    register_tables(spark, "/root/testdata/sf0.001", ("embeddings",))
    emb = spark.table("embeddings")
    cents = kmeans_centroids(emb, n_centroids=8, iters=2)
    rows = cents.collect()
    assert len(rows) == 8
    assert all(len(r["centvec"]) == 64 for r in rows)
    # determinism: same input -> same codebook
    again = kmeans_centroids(emb, n_centroids=8, iters=2).collect()
    assert sorted(map(str, rows)) == sorted(map(str, again))

    queries = emb.filter(F.col("vec_id") < 5)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, queries, k=5).collect()
    }
    km = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(emb, queries, k=5, n_probe=4, centroids=cents).collect()
    }
    # trained codebook must find a reasonable share of true neighbors
    assert len(km & exact) / len(exact) >= 0.3


def test_ivf_probe_sweep_matches_per_setting_topk(spark):
    """ivf_probe_sweep shares the corpus cell assignment and candidate
    scoring across probe settings; its output must be row-identical to
    the per-setting ivf_topk loop it replaced (the prefix-slice
    equivalence documented on the operator)."""
    from transformers_spark import cache
    from transformers_spark.operators.similarity import (
        default_codebook,
        ivf_probe_sweep,
        ivf_topk,
    )
    from transformers_spark.sources.testdata import register_tables

    register_tables(spark, "/root/testdata/sf0.001", ("embeddings",))
    emb = spark.table("embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    codebook = default_codebook(emb)
    swept = {
        (r["n_probe"], r["query_id"], r["neighbor_id"], r["rank"], r["cosine"])
        for r in ivf_probe_sweep(
            emb, queries, k=5, n_probes=(1, 4), codebook=codebook
        ).collect()
    }
    cache.release()
    looped = set()
    for np_ in (1, 4):
        looped |= {
            (np_, r["query_id"], r["neighbor_id"], r["rank"], r["cosine"])
            for r in ivf_topk(
                emb, queries, k=5, n_probe=np_, codebook=codebook
            ).collect()
        }
    assert swept and swept == looped


def test_fast_hasher_preserves_dedup_semantics(spark):
    """xxhash64 fast path: identical docs still collide on every
    signature; results stay internally consistent (values differ from
    the portable path by construction)."""
    from transformers_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
        simhash_fingerprints,
    )

    df = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f"), (3, "x y z w v u")],
        ["doc_id", "text"],
    )
    sigs = {
        r["doc"]: tuple(r[i] for i in range(1, 17))
        for r in minhash_signatures(df, num_perm=16, hasher="fast").collect()
    }
    assert sigs[1] == sigs[2] and sigs[1] != sigs[3]
    pairs = {(r["d1"], r["d2"]): r["matching_bands"]
             for r in minhash_lsh_pairs(df, num_perm=16, bands=4, hasher="fast").collect()}
    assert pairs.get((1, 2)) == 4  # identical docs agree on all bands
    sh = {r["doc"]: r["simhash"] for r in simhash_fingerprints(df, hasher="fast").collect()}
    assert sh[1] == sh[2]


def test_fast_hasher_winnowing(spark):
    from transformers_spark.operators.text import winnowing_fingerprints

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over it"), (2, "the quick brown fox jumps over it")],
        ["doc_id", "text"],
    )
    rows = winnowing_fingerprints(df, hasher="fast").collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], set()).add(r["fingerprint"])
    assert by_doc[1] == by_doc[2] and len(by_doc[1]) > 0


def test_unknown_hasher_raises():
    from transformers_spark.operators.hashing import hash32

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown hasher"):
        hash32("sha1")


def test_audio_features_plumbing(spark):
    from transformers_spark.operators.multimodal import (
        decode_audio_features,
        fake_audio_decoder,
    )

    df = spark.createDataFrame(
        [("a1", "audio", "audio/wav", bytearray(b"\x01payload")),
         ("a2", "audio", "audio/wav", None)],
        "media_id string, modality string, mime_type string, payload binary",
    )
    rows = {r["media_id"]: r for r in decode_audio_features(df, decoder=fake_audio_decoder).collect()}
    assert rows["a1"]["sample_rate"] in (8000, 16000, 22050, 44100)
    assert rows["a1"]["n_bytes"] == 8
    assert rows["a2"]["duration_ms"] == 0


def test_resize_images_plumbing(spark):
    from transformers_spark.operators.multimodal import fake_resizer, resize_images

    df = spark.createDataFrame(
        [("m1", "image", "image/png", bytearray(b"abcdef"))],
        "media_id string, modality string, mime_type string, payload binary",
    )
    row = resize_images(df, target_w=32, target_h=32, resizer=fake_resizer).collect()[0]
    assert (row["width"], row["height"]) == (32, 32)
    assert len(row["payload"]) == 32 * 32 // 8


def test_real_decoders_raise_decoder_unavailable(spark):
    from transformers_spark.operators.multimodal import (
        DecoderUnavailable,
        decode_audio_features,
        resize_images,
    )
    import pytest as _pytest

    df = spark.createDataFrame(
        [("m1", "audio", "audio/wav", bytearray(b"x"))],
        "media_id string, modality string, mime_type string, payload binary",
    )
    with _pytest.raises(Exception):  # DecoderUnavailable surfaces via Py4J
        decode_audio_features(df).collect()
    with _pytest.raises(Exception):
        resize_images(df).collect()


def test_token_counts_bpe_vs_ws(spark):
    from transformers_spark.operators.text import token_counts

    df = spark.createDataFrame(
        [(1, "Hello, world! 42 times."), (2, "plain words only")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in token_counts(df).collect()}
    # "Hello , world ! 42 times ." -> 7 BPE-ish units, 4 ws tokens
    assert rows[1]["n_ws_tokens"] == 4
    assert rows[1]["n_bpe_tokens"] == 7
    assert rows[2]["n_ws_tokens"] == rows[2]["n_bpe_tokens"] == 3


def test_asof_join_backward_inclusive(spark):
    from datetime import datetime

    from transformers_spark.operators.temporal import asof_join

    t = lambda s: datetime.fromisoformat(s)
    left = spark.createDataFrame(
        [
            (1, 10, t("2024-01-01 10:00:00")),  # after both quotes
            (2, 10, t("2024-01-01 08:30:00")),  # between quotes
            (3, 10, t("2024-01-01 08:00:00")),  # exactly at first quote
            (4, 10, t("2024-01-01 07:00:00")),  # before any quote
            (5, 11, t("2024-01-01 12:00:00")),  # key with no right rows
        ],
        ["id", "key", "ts"],
    )
    right = spark.createDataFrame(
        [
            (10, 100, t("2024-01-01 08:00:00")),
            (10, 101, t("2024-01-01 09:00:00")),
        ],
        ["key", "quote", "qts"],
    )
    out = {
        r["id"]: r["quote"]
        for r in asof_join(
            left, right, on="key", left_time="ts", right_time="qts",
            right_cols=["quote"],
        ).collect()
    }
    assert out == {1: 101, 2: 100, 3: 100, 4: None, 5: None}


def test_range_count_join_window_bounds(spark):
    from datetime import datetime

    from transformers_spark.operators.temporal import range_count_join

    t = lambda s: datetime.fromisoformat(s)
    left = spark.createDataFrame(
        [(1, 7, t("2024-01-01 00:00:00")), (2, 7, t("2024-01-02 12:00:00"))],
        ["id", "key", "ts"],
    )
    right = spark.createDataFrame(
        [
            (7, t("2024-01-01 00:00:00")),  # == left ts: excluded (open lower)
            (7, t("2024-01-01 05:00:00")),  # inside
            (7, t("2024-01-02 00:00:00")),  # exactly +24h: included (closed upper)
            (7, t("2024-01-02 00:00:01")),  # outside for id=1, before id=2
        ],
        ["key", "rts"],
    )
    out = {
        r["id"]: r["n"]
        for r in range_count_join(
            left, right, on="key", left_time="ts", right_time="rts",
            window_us=24 * 3600 * 1_000_000, count_col="n",
        ).collect()
    }
    assert out == {1: 2, 2: 0}


def test_kmv_exact_below_capacity_and_estimates_above(spark):
    from transformers_spark.operators.sketch import kmv_distinct

    rows = [("small", f"v{i}") for i in range(10)] * 3 + [
        ("big", f"u{i}") for i in range(500)
    ]
    df = spark.createDataFrame(rows, ["grp", "val"])
    out = {r["grp"]: r["est_distinct"] for r in kmv_distinct(df, ["grp"], "val", k=64).collect()}
    assert out["small"] == 10  # below capacity: exact
    assert 350 <= out["big"] <= 700  # estimator within sane bounds


def test_tfidf_top_terms_ranks_rare_terms(spark):
    from transformers_spark.operators.text import tfidf_top_terms

    df = spark.createDataFrame(
        [
            (1, "common common common zebra"),
            (2, "common words here also"),
            (3, "common words apple apple"),
        ],
        ["doc_id", "text"],
    )
    out = tfidf_top_terms(df, top_k=1)
    top = {r["doc_id"]: r["term"] for r in out.collect()}
    # the doc-unique term beats the corpus-wide one even at lower tf
    assert top[1] == "common"  # tf=3, df=3 -> 3; zebra tf=1, df=1 -> 3; tie -> 'common' asc
    assert top[3] == "apple"   # tf=2, df=1 -> 6 beats common 1*3/3


def test_theta_setops_exact_below_capacity(spark):
    from transformers_spark.operators.sketch import theta_sketch_setops

    rows = [("a", i) for i in range(10)] + [("b", i) for i in range(5, 20)]
    df = spark.createDataFrame(rows, ["grp", "val"])
    r = theta_sketch_setops(df, "grp", "val", "a", "b", k=64).collect()[0]
    # both sides below k: theta = full hash space, every estimate exact
    assert r["union_est"] == 20
    assert r["intersect_est"] == 5
    assert r["a_not_b_est"] == 5
    assert abs(r["jaccard"] - 0.25) < 1e-9


def test_hash_split_stable_under_repartition(spark):
    import pytest

    from transformers_spark.operators.split import hash_split

    df = spark.createDataFrame([(i,) for i in range(50)], ["doc_id"])
    a = {r["doc_id"]: r["split"] for r in hash_split(df).collect()}
    b = {r["doc_id"]: r["split"] for r in hash_split(df.repartition(7)).collect()}
    assert a == b  # assignment keyed on id hash, not partition layout
    assert set(a.values()) <= {"train", "val", "test"}
    with pytest.raises(ValueError):
        hash_split(df, weights={"train": 50, "val": 10})


def test_repetition_ratios_flags_repetitive_doc(spark):
    from transformers_spark.operators.text import repetition_ratios

    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "spam spam spam spam spam spam"),
            (3, "too short"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in repetition_ratios(df).collect()}
    assert 3 not in out  # below min_words
    assert out[1]["dup_ngram_frac"] == 0.0
    assert abs(out[1]["top_word_frac"] - 2 / 6) < 1e-6
    assert out[2]["dup_ngram_frac"] == 0.75  # 4 identical trigrams
    assert out[2]["top_word_frac"] == 1.0


def test_connected_components_paths_agree(spark):
    """Driver union-find (small-edge fast path) and distributed label
    propagation return identical (vertex, component) labelings; empty
    edge lists yield an empty result on both."""
    from transformers_spark.operators.graph import connected_components

    # chain 1-2-3, pair 10-11, triangle 20-21-22 (one redundant edge)
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11), (20, 21), (21, 22), (20, 22)],
        ["d1", "d2"],
    )
    fast = {(r["vertex"], r["component"])
            for r in connected_components(edges).collect()}
    dist = {(r["vertex"], r["component"])
            for r in connected_components(edges, driver_threshold=0).collect()}
    want = {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10),
            (20, 20), (21, 20), (22, 20)}
    assert fast == want
    assert dist == want

    empty = edges.filter(F.lit(False))
    assert connected_components(empty).count() == 0


def test_cap_per_group_two_phase_matches_single(spark):
    """Two-phase (skew-safe) and single-window top-k must agree, and
    rank must restart per group with the deterministic tie-break."""
    from transformers_spark.operators.curation import cap_per_group

    rows = [(i, "a" if i % 3 else "b", i % 7) for i in range(60)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "n_chars"]).repartition(8)
    kw = dict(group_col="source", order_cols=["n_chars", "doc_id"], k=5)
    two = {tuple(r) for r in cap_per_group(df, **kw).collect()}
    one = {tuple(r) for r in cap_per_group(df, two_phase=False, **kw).collect()}
    assert two == one
    per_group = {}
    for _, src, _, rank in two:
        per_group.setdefault(src, []).append(rank)
    for ranks in per_group.values():
        assert sorted(ranks) == list(range(1, 6))


def test_stratified_sample_rates_and_determinism(spark):
    """rate 0 drops the stratum entirely, rate 10000 keeps it entirely,
    and two runs agree row-for-row (hash-deterministic)."""
    from transformers_spark.operators.curation import stratified_sample

    rows = [(i, "en" if i % 2 else "de") for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    kept = stratified_sample(df, "lang", {"en": 0, "de": 10000})
    langs = {r["lang"] for r in kept.collect()}
    assert langs == {"de"}
    assert kept.count() == 100
    a = sorted(r["doc_id"] for r in stratified_sample(df, "lang", {"en": 4000}, 10000).collect())
    b = sorted(r["doc_id"] for r in stratified_sample(df, "lang", {"en": 4000}, 10000).collect())
    assert a == b and 0 < len(a) < 200


def test_contamination_report_detects_overlap(spark):
    """A doc sharing its whole text with a train doc reports full
    contamination; disjoint text reports zero; short docs are skipped."""
    from transformers_spark.operators.curation import contamination_report

    # weights chosen so hash buckets put ids deterministically; instead
    # of relying on md5 bucket luck, use an 80/20 split over many ids
    # and check invariant properties rather than specific ids.
    shared = "alpha beta gamma delta epsilon zeta"
    rows = [(i, shared if i % 2 == 0 else f"unique{i} u{i}b u{i}c u{i}d u{i}e") for i in range(100)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    rep = {r["doc_id"]: r for r in contamination_report(df, n=3).collect()}
    assert rep  # some docs landed in eval splits
    for doc_id, r in rep.items():
        if doc_id % 2 == 0:
            # identical text to ~40 train docs -> fully contaminated
            assert r["contamination"] == 1.0
        else:
            assert r["n_contaminated"] == 0


def test_pack_sequences_contiguous_layout(spark):
    """Documents laid end-to-end in id order: each doc's start equals
    the previous doc's start + its token count, across range-partition
    boundaries; seq_id/seq_offset decompose that start by seq_len."""
    from transformers_spark.operators.curation import pack_sequences

    rows = [(i, (i % 7) + 1) for i in range(50)]
    df = spark.createDataFrame(rows, ["doc_id", "n_tokens"]).repartition(8)
    out = {r["doc_id"]: r for r in pack_sequences(df, seq_len=10, num_ranges=6).collect()}
    start = 0
    for i in range(50):
        r = out[i]
        assert (r["seq_id"], r["seq_offset"]) == (start // 10, start % 10), i
        start += (i % 7) + 1


def test_bpe_merge_candidates_counts_and_ties(spark):
    from transformers_spark.operators.text import bpe_merge_candidates

    df = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b x"), (3, "zz")], ["doc_id", "text"]
    )
    got = [(r["rank"], r["pair"], r["n_occurrences"])
           for r in bpe_merge_candidates(df, top_k=3).collect()]
    # pairs: doc1 -> (a b),(b a),(a b),(b c); doc2 -> (a b),(b x); doc3 dropped
    assert got == [(1, "a b", 3), (2, "b a", 1), (3, "b c", 1)]


def test_simhash_64bit_matches_python_reference(spark):
    """64-bit fingerprints (VERDICT r1 item 8): exact equality with a
    driver-side md5 reference, incl. the two's-complement sign bit."""
    import hashlib as _hl

    from transformers_spark.operators.dedup import SIMHASH_BITS, simhash_fingerprints

    assert SIMHASH_BITS == 64
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon"),
            (3, "zq xw vv kk jj uu ii oo pp"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc"]: r["simhash"] for r in simhash_fingerprints(docs).collect()}

    def ref(text):
        votes = [0] * 64
        for tok in text.strip().split():
            d = _hl.md5(tok.encode()).hexdigest()
            lo, hi = int(d[:8], 16), int(d[8:16], 16)
            for b in range(32):
                votes[b] += 1 if (lo >> b) & 1 else -1
                votes[32 + b] += 1 if (hi >> b) & 1 else -1
        fp = sum(1 << b for b in range(64) if votes[b] > 0)
        return fp - (1 << 64) if fp >= (1 << 63) else fp

    for doc_id, text in [(1, "alpha beta gamma delta epsilon"),
                         (3, "zq xw vv kk jj uu ii oo pp")]:
        assert got[doc_id] == ref(text), doc_id
    assert got[1] == got[2]  # identical docs -> identical fingerprints
    assert got[1] != got[3]
    # a real 64-bit fingerprint: some doc must use bits above 31
    assert any(abs(v) >= (1 << 32) for v in got.values())


def test_minhash_lsh_production_width(spark):
    """Production 128/16 S-curve parameters (VERDICT r1 item 8) on the
    fast hasher: exact duplicates agree in all 16 bands, dissimilar
    docs yield no candidate pair."""
    from transformers_spark.operators.dedup import (
        PRODUCTION_BANDS,
        PRODUCTION_NUM_PERM,
        minhash_lsh_pairs,
    )

    assert PRODUCTION_NUM_PERM % PRODUCTION_BANDS == 0
    same = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [(1, same), (2, same), (3, "completely unrelated tokens about spark shuffles and parquet footers")],
        ["doc_id", "text"],
    )
    pairs = {
        (r["d1"], r["d2"]): r["matching_bands"]
        for r in minhash_lsh_pairs(
            docs,
            num_perm=PRODUCTION_NUM_PERM,
            bands=PRODUCTION_BANDS,
            hasher="fast",
        ).collect()
    }
    assert pairs == {(1, 2): PRODUCTION_BANDS}


def test_span_dedup_stats_tiled_spans(spark):
    from transformers_spark.operators.text import span_dedup_stats

    # doc 1 and 2 share identical text -> every span duplicated;
    # doc 3 is unique -> zero. 5 words at span_len=2 -> 3 spans
    # (last is the 1-word tail, also counted).
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "v w x y z")],
        ["doc_id", "text"],
    )
    out = {r["doc"]: r for r in span_dedup_stats(df, span_len=2).collect()}
    assert out[1]["n_spans"] == 3 and out[1]["n_dup_spans"] == 3
    assert out[1]["dup_span_frac"] == 1.0
    assert out[3]["n_dup_spans"] == 0 and out[3]["dup_span_frac"] == 0.0


def test_span_dedup_offset_shift_is_missed(spark):
    from transformers_spark.operators.text import span_dedup_stats

    # documented stride limitation: the same phrase shifted by one
    # word tiles differently and is NOT flagged
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "z a b c")], ["doc_id", "text"]
    )
    out = {r["doc"]: r for r in span_dedup_stats(df, span_len=2).collect()}
    assert out[1]["n_dup_spans"] == 0 and out[2]["n_dup_spans"] == 0


def test_pii_redaction_patterns(spark):
    from transformers_spark.operators.text import pii_redaction

    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@corp.example.com and call 555123 ok"),
            (2, "no pii here"),
            (3, "codes 42 and 9 and 123456"),
        ],
        ["record_id", "payload"],
    )
    out = {r["record_id"]: r for r in pii_redaction(df, "payload").collect()}
    assert out[1]["n_emails"] == 1 and out[1]["n_numbers"] == 1
    assert out[1]["redacted"] == "mail <EMAIL> and call <NUM> ok"
    assert out[2]["n_emails"] == 0 and out[2]["n_numbers"] == 0
    assert out[2]["redacted"] == "no pii here"
    # single digits are not digit runs; 42 and 123456 are
    assert out[3]["n_numbers"] == 2
    assert out[3]["redacted"] == "codes <NUM> and 9 and <NUM>"


def test_temperature_sample_flattens_mix(spark):
    from transformers_spark.operators.curation import temperature_sample

    rows = [(i, "en") for i in range(400)] + [(1000 + i, "de") for i in range(100)]
    df = spark.createDataFrame(rows, ["doc_id", "lang"])
    # alpha=1 is the natural mix: keeps everything
    assert temperature_sample(df, "lang", alpha=1.0).count() == 500
    kept = temperature_sample(df, "lang", alpha=0.5).toPandas()
    by_lang = kept.groupby("lang")["doc_id"].count()
    # de (minority) keeps all; en keeps ~sqrt(100/400)=50% of 400
    assert by_lang["de"] == 100
    assert 130 <= by_lang["en"] <= 270  # md5-bucket noise around 200
    # deterministic: same input -> identical kept set
    kept2 = temperature_sample(df, "lang", alpha=0.5).toPandas()
    assert sorted(kept["doc_id"]) == sorted(kept2["doc_id"])


def test_label_centroids_hand_computed(spark):
    from transformers_spark.operators.similarity import label_centroids

    df = spark.createDataFrame(
        [(1, [1.0, 2.0], 0), (2, [3.0, 6.0], 0), (3, [10.0, 0.0], 1)],
        ["vec_id", "embedding", "label"],
    )
    out = {(r["label"], r["dim"]): r for r in label_centroids(df).collect()}
    assert out[(0, 0)]["mean_v"] == 2.0 and out[(0, 1)]["mean_v"] == 4.0
    assert out[(0, 0)]["n_vectors"] == 2
    assert out[(1, 0)]["mean_v"] == 10.0 and out[(1, 1)]["mean_v"] == 0.0


def test_bigram_lm_probabilities(spark):
    from transformers_spark.operators.text import bigram_lm

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a c"), (3, "x")],  # doc 3: no bigrams
        ["doc_id", "text"],
    )
    out = bigram_lm(df, k_smooth=0.5, top_k=3).collect()
    rows = {(r["w1"], r["w2"]): r for r in out}
    # heads: a (b,b,c), b (a); V = 2 distinct heads
    # P(b|a) = (2+0.5)/(3+0.5*2) = 2.5/4 ; P(c|a) = 1.5/4
    assert rows[("a", "b")]["prob"] == 0.625
    assert rows[("a", "c")]["prob"] == 0.375
    assert rows[("a", "b")]["c12"] == 2 and rows[("a", "b")]["c1"] == 3
    assert rows[("b", "a")]["rank"] == 1
    assert not any(r["w1"] == "x" for r in out)  # lone token: no head


def test_bm25_excludes_self_and_ranks_shared_terms(spark):
    from transformers_spark.operators.text import bm25_topk

    corpus = spark.createDataFrame(
        [
            (1, "apple banana cherry"),
            (2, "apple banana cherry"),
            (3, "apple dog elephant"),
            (4, "fig grape hazelnut"),
        ],
        ["doc_id", "text"],
    )
    out = bm25_topk(corpus, corpus.filter(F.col("doc_id") == 1), top_k=3).collect()
    assert all(r["doc_id"] != 1 for r in out)  # no self-match
    ranked = [r["doc_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ranked[0] == 2  # identical doc wins
    assert ranked[1] == 3  # one shared term
    assert 4 not in ranked  # zero shared terms never scored


def test_incremental_lsh_finds_known_duplicate(spark):
    from transformers_spark.operators.dedup import incremental_lsh_matches

    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "completely different content about spark plans")],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
         (101, "nothing like anything in the index whatsoever zzz")],
        ["doc_id", "text"],
    )
    out = {r["new_doc"]: r for r in incremental_lsh_matches(corpus, new, num_perm=16, bands=4).collect()}
    assert out[100]["corpus_doc"] == 1 and out[100]["matching_bands"] == 4
    assert 101 not in out  # no spurious match


def test_pq_roundtrip_and_determinism(spark):
    from transformers_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebooks,
        pq_encode,
    )

    # 8-dim vectors, 2 subspaces: three tight clusters + one outlier
    base = [
        (0, [0.0] * 8), (1, [0.01] * 8), (2, [0.02] * 8),
        (3, [1.0] * 8), (4, [1.01] * 8),
        (5, [5.0] * 8),
    ]
    df = spark.createDataFrame(base, ["vec_id", "embedding"])
    books = pq_codebooks(df, m=2, n_codes=3, iters=4)
    assert len(books) == 2 and len(books[0]) == 3 and len(books[0][0]) == 4
    codes = {r["doc"]: list(r["codes"]) for r in pq_encode(df, books).collect()}
    # same-cluster vectors share codes; clusters get distinct codes
    assert codes[0] == codes[1] == codes[2]
    assert codes[3] == codes[4]
    assert codes[0] != codes[3] and codes[0] != codes[5]
    # deterministic retrain
    assert books == pq_codebooks(df, m=2, n_codes=3, iters=4)
    # ADC ranks the same-cluster doc first for a cluster-0 query
    q = df.filter(F.col("vec_id") == 0)
    top = sorted(
        pq_adc_topk(pq_encode(df, books), q, books, k=5).collect(),
        key=lambda r: r["rank"],
    )
    assert top[0]["neighbor_id"] in (1, 2)  # own cluster wins
    assert top[-1]["neighbor_id"] == 5  # outlier ranks last


def test_l2_topk_exact(spark):
    from transformers_spark.operators.similarity import l2_topk

    df = spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [1.0, 0.0]), (2, [3.0, 4.0])],
        ["vec_id", "embedding"],
    )
    q = df.filter(F.col("vec_id") == 0)
    rows = sorted(l2_topk(df, q, k=2).collect(), key=lambda r: r["rank"])
    assert [r["neighbor_id"] for r in rows] == [1, 2]
    assert rows[0]["sq_dist"] == 1.0 and rows[1]["sq_dist"] == 25.0


def test_funnel_requires_stage_order(spark):
    from transformers_spark.analytics import q_funnel_conversion
    import os, tempfile

    # user 1: view -> click -> purchase (converts all stages)
    # user 2: purchase BEFORE view/click (must NOT count as converted)
    # user 3: view only
    rows = [
        (1, 1, "view", "2024-01-01 10:00:00", 0.0),
        (2, 1, "click", "2024-01-01 10:05:00", 0.0),
        (3, 1, "purchase", "2024-01-01 10:10:00", 0.0),
        (4, 2, "purchase", "2024-01-01 09:00:00", 0.0),
        (5, 2, "view", "2024-01-01 10:00:00", 0.0),
        (6, 2, "click", "2024-01-01 11:00:00", 0.0),
        (7, 3, "view", "2024-01-01 10:00:00", 0.0),
    ]
    d = tempfile.mkdtemp()
    spark.createDataFrame(
        rows, ["event_id", "user_id", "event_type", "ts", "value"]
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id", "event_type", "value"
    ).write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    r = q_funnel_conversion(spark, d).collect()[0]
    assert r["n_users"] == 3 and r["n_view"] == 3
    assert r["n_view_click"] == 2  # users 1 and 2 click after view
    assert r["n_view_click_purchase"] == 1  # only user 1 in order


def test_weekly_retention_cohort_shares(spark):
    from transformers_spark.analytics import q_weekly_retention
    import os, tempfile

    # cohort A (week of 2024-01-01): users 1,2; user 1 returns next week
    rows = [
        (1, 1, "view", "2024-01-01 10:00:00", 0.0),
        (2, 2, "view", "2024-01-02 10:00:00", 0.0),
        (3, 1, "view", "2024-01-08 10:00:00", 0.0),
    ]
    d = tempfile.mkdtemp()
    spark.createDataFrame(
        rows, ["event_id", "user_id", "event_type", "ts", "value"]
    ).selectExpr(
        "event_id", "CAST(ts AS TIMESTAMP) AS ts", "user_id", "event_type", "value"
    ).write.mode("overwrite").parquet(os.path.join(d, "events.parquet"))
    out = {r["week_offset"]: r for r in q_weekly_retention(spark, d).collect()}
    assert out[0]["n_active"] == 2 and out[0]["retention"] == 1.0
    assert out[1]["n_active"] == 1 and out[1]["retention"] == 0.5


def test_chunk_documents_overlap_and_tail(spark):
    from transformers_spark.operators.text import chunk_documents

    df = spark.createDataFrame(
        [(1, " ".join(str(i) for i in range(10))), (2, "a b")],
        ["doc_id", "text"],
    )
    out = sorted(
        chunk_documents(df, chunk_tokens=4, overlap=2).collect(),
        key=lambda r: (r["doc"], r["chunk_idx"]),
    )
    d1 = [r for r in out if r["doc"] == 1]
    # stride 2, 10 tokens -> ceil((10-2)/2)=4 chunks
    assert [r["chunk_text"] for r in d1] == [
        "0 1 2 3", "2 3 4 5", "4 5 6 7", "6 7 8 9"
    ]
    assert [r["n_tokens"] for r in d1] == [4, 4, 4, 4]
    # short doc -> exactly one (tail) chunk
    d2 = [r for r in out if r["doc"] == 2]
    assert len(d2) == 1 and d2[0]["chunk_text"] == "a b" and d2[0]["n_tokens"] == 2


def test_chunk_documents_skips_null_text(spark):
    from transformers_spark.operators.text import chunk_documents

    df = spark.createDataFrame(
        [(1, "a b c"), (2, None)], ["doc_id", "text"]
    )
    rows = chunk_documents(df, chunk_tokens=4, overlap=1).collect()
    assert {r["doc"] for r in rows} == {1}  # no phantom chunk for null


def test_bm25_ignores_termless_docs_in_idf(spark):
    from transformers_spark.operators.text import bm25_topk

    # doc 3 has only short tokens -> no postings; idf must use N=2
    corpus = spark.createDataFrame(
        [(1, "apple banana"), (2, "apple cherry"), (3, "a b c")],
        ["doc_id", "text"],
    )
    out = bm25_topk(corpus, corpus.filter(F.col("doc_id") == 1), top_k=2).collect()
    # 'banana' appears in 1 of N=2 indexed docs: idf=(2-1+0.5)/1.5=1.0;
    # with N=3 it would be (3-1+0.5)/1.5 — different score
    assert len(out) == 1 and out[0]["doc_id"] == 2


def test_token_budget_rejects_fractional_weights():
    import pytest

    from transformers_spark.operators.curation import token_budget_rates_bp

    with pytest.raises(ValueError):
        token_budget_rates_bp({"a": 100}, {"a": 0.6}, 50)


def test_bigram_lm_scores_typical_vs_rare(spark):
    """Docs made of corpus-common bigrams must out-score docs of
    one-off bigrams, and mean_prob_ppm must be the exact integer-ratio
    mean of the smoothed PPM values."""
    from transformers_spark.operators.text import bigram_lm_scores

    df = spark.createDataFrame(
        [
            (1, "the cat sat"),
            (2, "the cat sat"),
            (3, "the cat sat"),
            (4, "zq wv xk"),
            (5, "a"),  # < 2 tokens: excluded
        ],
        ["doc_id", "text"],
    )
    out = {r["doc"]: r for r in bigram_lm_scores(df).collect()}
    assert 5 not in out
    assert out[1]["n_bigrams"] == 2
    assert out[1]["mean_prob_ppm"] == out[2]["mean_prob_ppm"]
    assert out[1]["mean_prob_ppm"] > out[4]["mean_prob_ppm"]
    assert out[4]["rare_frac"] == 0.0  # tiny vocab: nothing under 100ppm


def test_tokenizer_fertility_exact_counts(spark):
    from transformers_spark.operators.text import tokenizer_fertility

    df = spark.createDataFrame(
        [
            (1, "en", "ab cd"),     # 5 chars, 2 ws tokens, 2 bpe tokens
            (2, "en", "a,b"),       # 3 chars, 1 ws token, 3 bpe tokens (a , b)
            (3, "fr", "xyz"),       # 3 chars, 1 ws, 1 bpe
        ],
        ["doc_id", "lang", "text"],
    )
    out = {r["lang"]: r for r in tokenizer_fertility(df).collect()}
    en = out["en"]
    assert (en["n_docs"], en["total_chars"], en["total_ws_tokens"], en["total_bpe_tokens"]) == (2, 8, 3, 5)
    assert en["chars_per_bpe_token"] == 8.0 / 5.0
    assert en["bpe_per_ws_token"] == 5.0 / 3.0
    assert out["fr"]["chars_per_bpe_token"] == 3.0


def test_embedding_cluster_profile_counts_and_selfassign(spark):
    """Seed vectors assign to themselves with distance 0; cluster
    sizes sum to the corpus; nearest assignment ties break to the
    lowest centroid id."""
    from transformers_spark.operators.similarity import (
        embedding_cluster_profile,
        kmeans_centroids,
    )

    df = spark.createDataFrame(
        [
            (0, [0.0, 0.0]),
            (1, [10.0, 10.0]),
            (2, [0.1, 0.0]),     # near seed 0
            (3, [10.0, 10.1]),   # near seed 1
            (4, [5.0, 5.0]),     # equidistant -> lowest cid (0)
        ],
        ["vec_id", "embedding"],
    )
    seeds = kmeans_centroids(df, n_centroids=2, iters=0)
    out = {r["centroid_id"]: r for r in embedding_cluster_profile(df, seeds).collect()}
    assert out[0]["n_vectors"] == 3  # 0, 2, 4(tie)
    assert out[1]["n_vectors"] == 2
    assert out[1]["max_sq_dist"] > 0
    total = sum(r["n_vectors"] for r in out.values())
    assert total == 5


def test_dsir_weights_target_likeness(spark):
    """Docs made of target-corpus tokens must score positive; docs of
    non-target-only tokens negative; mixed in between. Scores are
    exact integer ratios (deterministic across partitionings)."""
    from transformers_spark.operators.curation import dsir_weights
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (1, "en", "alpha alpha beta"),
            (2, "en", "alpha beta beta"),
            (3, "de", "zeta zeta eta"),
            (4, "de", "alpha zeta"),  # mixed
        ],
        ["doc_id", "lang", "text"],
    )
    out = {r["doc"]: r["dsir_score"] for r in dsir_weights(df, F.col("lang") == "en").collect()}
    assert out[1] > 0 and out[2] > 0      # pure target tokens
    assert out[3] < 0                      # tokens absent from target
    assert out[3] < out[4] < out[1]        # mixed in between


def test_bigram_lm_works_without_id_column(spark):
    """bigram_lm never needed an id column (it aggregates per pair) —
    the shared pair-extraction refactor must not change that contract."""
    from transformers_spark.operators.text import bigram_lm

    df = spark.createDataFrame([("a b a b",), ("a b c",)], ["text"])
    out = {(r["w1"], r["w2"]): r["c12"] for r in bigram_lm(df, top_k=10).collect()}
    assert out[("a", "b")] == 3


def test_embedding_cluster_profile_empty_codebook_raises(spark):
    import pytest as _pytest

    from transformers_spark.operators.similarity import embedding_cluster_profile

    df = spark.createDataFrame([(0, [1.0, 2.0])], ["vec_id", "embedding"])
    empty = spark.createDataFrame([], "centroid_id INT, centvec ARRAY<DOUBLE>")
    with _pytest.raises(ValueError, match="empty codebook"):
        embedding_cluster_profile(df, empty)


def test_kmv_and_theta_ignore_null_values(spark):
    """NULL values hash to NULL, sort FIRST ascending in Spark, and
    would consume a sketch slot while max() ignores them — COUNT
    (DISTINCT) semantics require dropping them (round-4 review)."""
    from transformers_spark.operators.sketch import kmv_distinct

    rows = [("g", str(i)) for i in range(10)] + [("g", None), ("allnull", None)]
    df = spark.createDataFrame(rows, ["grp", "v"])
    out = {r["grp"]: r["est_distinct"] for r in
           kmv_distinct(df, ["grp"], "v", k=4).collect()}
    # below-capacity groups are exact; the all-null group vanishes
    assert "allnull" not in out
    # 10 real distinct values, k=4: the null must not displace a real
    # hash from the k-minimum set (estimate uses the true 4th smallest)
    assert out["g"] >= 4


def test_theta_setops_empty_group_yields_zero_estimates(spark):
    """An empty (or typo'd) group returns zero-cardinality estimates,
    not a silently empty frame (round-4 review)."""
    from transformers_spark.operators.sketch import theta_sketch_setops

    df = spark.createDataFrame([("a", "x"), ("a", "y")], ["grp", "v"])
    rows = theta_sketch_setops(df, "grp", "v", "a", "nosuch").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["union_est"] == 2 and r["intersect_est"] == 0
    assert r["jaccard"] == 0.0


def test_count_min_rejects_empty_queries(spark):
    import pytest as _pytest

    from transformers_spark.operators.sketch import count_min_frequencies

    df = spark.createDataFrame([("k",)], ["key"])
    with _pytest.raises(ValueError, match="non-empty"):
        count_min_frequencies(df, "key", [])
    with _pytest.raises(ValueError, match="depth and width"):
        count_min_frequencies(df, "key", ["k"], depth=0)


def test_temperature_sample_excludes_null_strata(spark):
    """A NULL stratum must not shrink min_count (which would corrupt
    every real stratum's keep-rate); null-strata rows drop (round-4
    review)."""
    from transformers_spark.operators.curation import temperature_sample

    rows = [(i, "big") for i in range(400)] + [(1000, None)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    kept = temperature_sample(df, alpha=0.5)
    # single real stratum -> rate 10000 (keep all); the null row drops.
    # Were the null counted, min_count=1 would shrink 'big' to ~5%.
    assert kept.filter(F.col("source") == "big").count() == 400
    assert kept.filter(F.col("source").isNull()).count() == 0


def test_token_budget_rates_exact_beyond_int64(spark):
    """budget x weight above 2^63: each stratum's keep-rate must equal
    the Python-int rate; bigint arithmetic would wrap."""
    from transformers_spark.operators.curation import _salted_bucket, token_budget_sample

    rows = [(i, "a" if i % 2 else "b", 2**56 if i % 2 else 3) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id bigint, src string, n_tokens bigint")
    weights, budget = {"a": 3, "b": 1}, 2**61
    assert 10000 * budget * weights["a"] > 2**63
    tok = {s: sum(n for _, t, n in rows if t == s) for s in weights}
    rate = {
        s: min(10000, 10000 * budget * w // (sum(weights.values()) * tok[s]))
        for s, w in weights.items()
    }
    assert 0 < rate["a"] < 10000 and rate["b"] == 10000
    bucket = {
        r["doc_id"]: r["b"]
        for r in df.select("doc_id", _salted_bucket("budget:", "doc_id").alias("b")).collect()
    }
    want = sorted(d for d, s, _ in rows if bucket[d] < rate[s])
    got = sorted(r["doc_id"] for r in token_budget_sample(df, "src", weights, budget).collect())
    assert got == want


def test_token_budget_rejects_nonpositive_weights():
    import pytest as _pytest

    from transformers_spark.operators.curation import token_budget_rates_bp

    with _pytest.raises(ValueError, match="positive integer"):
        token_budget_rates_bp({"a": 100}, {"a": 3, "b": -3}, 1000)
    with _pytest.raises(ValueError, match="positive integer"):
        token_budget_rates_bp({"a": 100}, {"a": 0}, 1000)


def test_pack_sequences_rejects_nonpositive_seq_len(spark):
    import pytest as _pytest

    from transformers_spark.operators.curation import pack_sequences

    df = spark.createDataFrame([(1, 10)], ["doc_id", "n_tokens"])
    with _pytest.raises(ValueError, match="seq_len"):
        pack_sequences(df, 0)


def test_dsir_weights_drops_empty_token_docs(spark):
    """Empty/whitespace docs tokenize to [''] — they must neither
    pollute the bucket LMs nor receive a score row (round-4 review;
    same rule as text.py's token-LM operators)."""
    from transformers_spark.operators.curation import dsir_weights

    df = spark.createDataFrame(
        [(1, "real tokens here", "en"), (2, "   ", "en"), (3, "", "xx")],
        ["doc_id", "text", "lang"],
    )
    out = dsir_weights(df, F.col("lang") == "en").collect()
    assert {r["doc"] for r in out} == {1}


def test_connected_components_long_chain_converges_fast(spark):
    """Pointer jumping: a diameter-32 chain must converge well inside
    max_iterations=8 (one-hop propagation alone would need 32 rounds —
    the round-4 review's silent-corruption scenario)."""
    from transformers_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(32)], ["d1", "d2"]
    )
    out = {
        (r["vertex"], r["component"])
        for r in connected_components(
            edges, driver_threshold=0, max_iterations=8
        ).collect()
    }
    assert out == {(i, 0) for i in range(33)}


def test_connected_components_raises_when_unconverged(spark):
    """Exhausting max_iterations raises instead of returning silently
    inconsistent components (round-4 review)."""
    import pytest as _pytest

    from transformers_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], ["d1", "d2"]
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, driver_threshold=0, max_iterations=1)


def test_minhash_lsh_pairs_no_self_pairs_on_duplicate_ids(spark):
    """Duplicate doc_id rows (dirty re-ingest) must not emit d1 == d2
    self-pairs — the documented contract is d1 < d2 (round-4 review)."""
    from transformers_spark.operators.dedup import minhash_lsh_pairs

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (1, "the quick brown fox jumps"),
         (2, "the quick brown fox jumps")],
        ["doc_id", "text"],
    )
    pairs = minhash_lsh_pairs(df, num_perm=16, bands=4).collect()
    assert all(r["d1"] < r["d2"] for r in pairs)
    assert {(r["d1"], r["d2"]) for r in pairs} == {(1, 2)}


def test_range_count_join_null_columns_and_duplicates(spark):
    """Counts key on (keys, left_time) only: an unrelated NULL column
    must not zero a row's count, and duplicated left rows must each
    get their own count, not the collapsed group's double (round-4
    review)."""
    from datetime import datetime as dt

    from transformers_spark.operators.temporal import range_count_join

    left = spark.createDataFrame(
        [
            (1, dt(2024, 1, 1, 0, 0, 0), None),   # NULL extra column
            (1, dt(2024, 1, 1, 0, 0, 0), "dup"),  # duplicate (key, t)
            (1, dt(2024, 1, 1, 0, 0, 0), "dup"),
            (None, dt(2024, 1, 1, 0, 0, 0), "nullkey"),
        ],
        "k int, t timestamp, extra string",
    )
    right = spark.createDataFrame(
        [(1, dt(2024, 1, 1, 0, 30, 0)), (1, dt(2024, 1, 1, 0, 45, 0))],
        "k int, rt timestamp",
    )
    out = range_count_join(left, right, "k", "t", "rt", window_us=3_600_000_000)
    rows = [(r["extra"], r["n_matches"]) for r in out.collect()]
    assert (None, 2) in rows                       # NULL extra still counted
    assert rows.count(("dup", 2)) == 2             # each dup row gets 2, not 4
    assert ("nullkey", 0) in rows                  # NULL key matches nothing


def test_asof_join_null_semantics(spark):
    """NULL right_time / NULL keys must behave like SQL ASOF: such
    right rows never match anything; NULL-key left rows come back
    unenriched (round-4 review)."""
    from datetime import datetime as dt

    from transformers_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, dt(2024, 1, 2)), (None, dt(2024, 1, 2))], "k int, t timestamp"
    )
    right = spark.createDataFrame(
        [(1, None, "null-time"), (None, dt(2024, 1, 1), "null-key")],
        "k int, rt timestamp, tag string",
    )
    out = {
        (r["k"], r["tag"])
        for r in asof_join(left, right, "k", "t", "rt", ["tag"]).collect()
    }
    assert out == {(1, None), (None, None)}


def test_asof_join_timestamp_right_order(spark):
    """A non-numeric right_order column (timestamp) must not conflict
    with the left side's placeholder in the union (round-4 review)."""
    from datetime import datetime as dt

    from transformers_spark.operators.temporal import asof_join

    left = spark.createDataFrame([(1, dt(2024, 1, 5))], "k int, t timestamp")
    right = spark.createDataFrame(
        [(1, dt(2024, 1, 1), dt(2023, 1, 1), "old"),
         (1, dt(2024, 1, 1), dt(2023, 6, 1), "new")],
        "k int, rt timestamp, updated_at timestamp, tag string",
    )
    out = asof_join(
        left, right, "k", "t", "rt", ["tag"], right_order="updated_at"
    ).collect()
    assert out[0]["tag"] == "new"  # last in ascending right_order wins


def test_frame_sample_plan_degenerate_durations(spark):
    """duration <= 0 -> empty plan; NULL duration -> NULL plan — never
    [0], which told a decoder to extract frame 0 of a zero-frame clip
    (round-4 review)."""
    from transformers_spark.operators.multimodal import frame_sample_plan

    df = spark.createDataFrame(
        [(1, 90), (2, 0), (3, -5), (4, None)], "media_id int, duration_frames int"
    )
    out = {r["media_id"]: r["sample_frames"]
           for r in frame_sample_plan(df).collect()}
    assert out[1] == [0, 30, 60]
    assert out[2] == [] and out[3] == []
    assert out[4] is None


def test_hyperplane_dim_mismatch_raises(spark):
    """A vector length different from the plane dim must error loudly
    — zip_with null-padding silently emptied LSH output (round-4
    review). NULL vectors stay NULL."""
    import pytest as _pytest

    from transformers_spark.operators.similarity import (
        hyperplane_signature,
        hyperplane_weights,
    )

    w = hyperplane_weights(2, 4)
    ok = spark.createDataFrame([(1, [1.0, 2.0, 3.0, 4.0])], ["vec_id", "embedding"])
    assert (
        ok.select(hyperplane_signature(F.col("embedding"), w).alias("b")).first()["b"]
        is not None
    )
    nulls = spark.createDataFrame(
        [(1, None)], "vec_id int, embedding array<double>"
    )
    assert (
        nulls.select(hyperplane_signature(F.col("embedding"), w).alias("b"))
        .first()["b"]
        is None
    )
    bad = spark.createDataFrame([(1, [1.0, 2.0])], ["vec_id", "embedding"])
    with _pytest.raises(Exception, match="dim mismatch"):
        bad.select(hyperplane_signature(F.col("embedding"), w).alias("b")).collect()


def test_kmeans_and_pq_empty_training_set_raise(spark):
    import pytest as _pytest

    from transformers_spark.operators.similarity import kmeans_centroids, pq_codebooks

    empty = spark.createDataFrame([], "vec_id bigint, embedding array<double>")
    with _pytest.raises(ValueError, match="empty training set"):
        kmeans_centroids(empty)
    with _pytest.raises(ValueError, match="empty training set"):
        pq_codebooks(empty)


def test_decode_image_features_null_and_empty_payloads(spark):
    """NULL payloads never reach the decoder and hash to NULL (matching
    JVM md5(NULL)); empty payloads decode to a consistent (0, 0)
    (round-4 review)."""
    from transformers_spark.operators.multimodal import (
        decode_image_features,
        fake_image_decoder,
    )

    def exploding(b):
        assert b is not None, "decoder must never see None"
        return fake_image_decoder(b)

    df = spark.createDataFrame(
        [("a", None), ("b", b""), ("c", b"xyz")],
        "media_id string, payload binary",
    )
    out = {r["media_id"]: r for r in
           decode_image_features(df, decoder=exploding).collect()}
    assert out["a"]["content_hash"] is None
    assert (out["a"]["width"], out["a"]["height"]) == (0, 0)
    assert (out["b"]["width"], out["b"]["height"]) == (0, 0)
    assert out["c"]["width"] > 0


def test_token_counts_null_text_is_null_not_minus_one(spark):
    """Non-ANSI size(NULL) = -1 must not leak into token counts — the
    DuckDB oracle's len(NULL) is NULL and its SUMs skip the row
    (round-4 review)."""
    from transformers_spark.operators.text import token_counts

    df = spark.createDataFrame(
        [(1, "two words"), (2, None)], "doc_id bigint, text string"
    )
    out = {r["doc_id"]: (r["n_ws_tokens"], r["n_bpe_tokens"])
           for r in token_counts(df).collect()}
    assert out[1][0] == 2
    assert out[2] == (None, None)


def test_repetition_ratios_short_docs_no_crash(spark):
    """min_words below n must not generate a descending sequence
    through index 0 (INVALID_INDEX_OF_ZERO crash, round-4 review)."""
    from transformers_spark.operators.text import repetition_ratios

    df = spark.createDataFrame(
        [(1, "one two"), (2, "a b c d e f")], "doc_id bigint, text string"
    )
    out = repetition_ratios(df, n=3, min_words=2).collect()
    # the 2-token doc is below the n-gram floor and simply drops
    assert [r["doc_id"] for r in out] == [2]


def test_chunk_documents_rejects_bad_params(spark):
    import pytest as _pytest

    from transformers_spark.operators.text import chunk_documents

    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with _pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, chunk_tokens=64, overlap=-16)
    with _pytest.raises(ValueError, match="chunk_tokens"):
        chunk_documents(df, chunk_tokens=0, overlap=0)


def test_fan_out_parses_size_suffixes(spark):
    """'128m'-style maxPartitionBytes values must parse as mebibytes,
    not 128 raw bytes (which silently disabled fan-out, round-4
    review)."""
    from transformers_spark.operators.skew import fan_out

    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "128m")
    try:
        df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        # one small file, 128 MiB splits -> 1 estimated split -> fan out
        assert fan_out(df).rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_column_profile_quoted_column_names(spark):
    """Column names containing quotes/backticks are legal in Spark and
    must not break the generated stack() SQL (round-4 review)."""
    from transformers_spark.operators.profile import column_profile

    df = spark.createDataFrame([(1, "x")], ["plain", "it's"])
    out = {r["column"]: r["n_nulls"] for r in column_profile(df).collect()}
    assert out == {"plain": 0, "it's": 0}


def test_split_expr_null_id_is_null_split(spark):
    """NULL ids get NULL split on both engines (md5(NULL) = NULL; the
    oracle's CASE now mirrors it) — never a silent 'test' bucket."""
    from transformers_spark.operators.split import hash_split

    df = spark.createDataFrame([(None,), (7,)], "doc_id int")
    out = {r["doc_id"]: r["split"] for r in hash_split(df).collect()}
    assert out[None] is None
    assert out[7] in ("train", "val", "test")


def test_null_text_semantics_engine_wide(spark):
    """Null-bearing data must not silently poison counts or signatures
    (round-4 null gate): size(split(NULL)) is NULL engine-wide (the
    spark.sql.legacy.sizeOfNull=false conf — legacy -1 subtracts into
    aggregates while every DuckDB oracle null-skips), and a null-text
    doc gets NO simhash (fingerprint 0 would collide all null docs
    into one false-duplicate bucket)."""
    from pyspark.sql import functions as F

    from transformers_spark.operators.dedup import simhash_fingerprints
    from transformers_spark.operators.text import text_stats

    assert spark.conf.get("spark.sql.legacy.sizeOfNull") == "false"
    df = spark.createDataFrame(
        [(1, "a b c"), (2, None)], "doc_id bigint, text string"
    )
    sized = df.select(F.size(F.split("text", " ")).alias("n")).collect()
    assert sorted([r["n"] for r in sized], key=str) == [3, None]

    stats = {r["doc_id"]: r["n_tokens"] for r in text_stats(df).collect()}
    assert stats == {1: 3, 2: None}

    fps = simhash_fingerprints(df).collect()
    assert [r["doc"] for r in fps] == [1]  # null-text doc dropped


def test_null_vector_and_event_time_contracts(spark):
    """Round-4 wave-2 null gate contracts: vector operators drop NULL
    embeddings at intake (query AND corpus sides — a NULL cannot be
    scored, and letting it through crashes codebook training and
    diverges from every SQL oracle), and event-time operators drop
    NULL event times (their ORDER BY position is engine-dependent:
    Spark sorts NULL first ascending, standard SQL engines last)."""
    from pyspark.sql import functions as F

    from transformers_spark.operators.similarity import (
        cosine_topk,
        kmeans_centroids,
    )

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, None), (3, [0.0, 1.0])],
        "vec_id bigint, embedding array<double>",
    )
    topk = cosine_topk(emb, emb.filter(F.col("vec_id") <= 2), k=2)
    rows = topk.collect()
    assert all(r["query_id"] != 2 for r in rows)  # null query dropped
    assert all(r["neighbor_id"] != 2 for r in rows)  # null neighbor too

    cents = kmeans_centroids(emb, n_centroids=2, iters=1)
    assert cents.count() == 2  # trains despite the NULL row

    from transformers_spark.analytics import q_batch_sessionization

    # null-ts events must not contribute sessions (engine-dependent
    # ordering otherwise); exercised via the catalog query on a tmp dir
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        ev = spark.createDataFrame(
            [
                (1, "2024-01-01 10:00:00", 7, "view", 1.0, None),
                (2, None, 7, "click", 1.0, None),
            ],
            "event_id bigint, ts string, user_id bigint, event_type string,"
            " value double, props string",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        ev.write.parquet(os.path.join(d, "events.parquet"))
        out = q_batch_sessionization(spark, d).collect()
        assert len(out) == 1 and out[0]["n_events"] == 1


def test_minhash_lsh_pairs_duplicate_rows_dont_inflate_bands(spark):
    """Exact duplicate rows (ids included) must leave matching_bands
    unchanged — the bucket-member array_distinct collapse (duplicate-
    row gate r6, ORACLES.md #15)."""
    from transformers_spark.operators.dedup import minhash_lsh_pairs

    base = [(1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta zeta")]
    clean = spark.createDataFrame(base, ["doc_id", "text"])
    dirty = spark.createDataFrame(base + [base[0]], ["doc_id", "text"])
    c = {(r["d1"], r["d2"]): r["matching_bands"]
         for r in minhash_lsh_pairs(clean, num_perm=16, bands=4).collect()}
    d = {(r["d1"], r["d2"]): r["matching_bands"]
         for r in minhash_lsh_pairs(dirty, num_perm=16, bands=4).collect()}
    assert c == d


def test_ngram_jaccard_duplicate_rows_dont_inflate(spark):
    """Duplicate rows must not push jaccard above 1 or change scores
    — the posting-list array_distinct collapse (ORACLES.md #15)."""
    from transformers_spark.operators.dedup import ngram_jaccard_pairs

    base = [(1, "a b c d e f"), (2, "a b c d e g")]
    clean = spark.createDataFrame(base, ["doc_id", "text"])
    dirty = spark.createDataFrame(base + [base[1]], ["doc_id", "text"])
    c = {(r["d1"], r["d2"]): r["jaccard"]
         for r in ngram_jaccard_pairs(clean, n=3, threshold=0.1).collect()}
    d = {(r["d1"], r["d2"]): r["jaccard"]
         for r in ngram_jaccard_pairs(dirty, n=3, threshold=0.1).collect()}
    assert c == d
    assert all(v <= 1.0 for v in d.values())


def test_incremental_matches_duplicate_rows_dont_inflate(spark):
    """countDistinct(band) keeps matching_bands stable under duplicate
    rows on either index side (ORACLES.md #15)."""
    from transformers_spark.operators.dedup import incremental_lsh_matches

    corpus_rows = [(1, "alpha beta gamma delta epsilon")]
    new_rows = [(10, "alpha beta gamma delta epsilon")]
    clean = incremental_lsh_matches(
        spark.createDataFrame(corpus_rows, ["doc_id", "text"]),
        spark.createDataFrame(new_rows, ["doc_id", "text"]),
        num_perm=16, bands=4,
    ).collect()
    dirty = incremental_lsh_matches(
        spark.createDataFrame(corpus_rows * 2, ["doc_id", "text"]),
        spark.createDataFrame(new_rows * 2, ["doc_id", "text"]),
        num_perm=16, bands=4,
    ).collect()
    assert {(r["new_doc"], r["corpus_doc"], r["matching_bands"]) for r in clean} \
        == {(r["new_doc"], r["corpus_doc"], r["matching_bands"]) for r in dirty}
    assert clean and clean[0]["matching_bands"] == 4


def _formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_span_family_tokenizes_once_outside_generate(spark):
    """r12 optimization pin: the window/span generators must keep the
    whitespace split OUT of the Generate's generator expression — an
    inlined tokens() re-runs the split once per produced element
    (O(n_words^2) regex work per doc, the regression this guards)."""
    from transformers_spark.operators.text import (
        _tiled_spans,
        sliding_window_hashes,
    )

    df = spark.createDataFrame([(1, "a b c d e f g h i")], ["doc_id", "text"])
    for frame in (
        sliding_window_hashes(df, "text", "doc_id", 8),
        _tiled_spans(df, "text", "doc_id", 8),
    ):
        plan = _formatted_plan(frame)
        gen_lines = [
            ln for ln in plan.splitlines() if "explode(" in ln
        ]
        assert gen_lines, "expected a Generate/explode in the plan"
        for ln in gen_lines:
            assert "split(" not in ln, (
                "tokenize-once regressed: split() inlined into the "
                "Generate argument:\n" + ln
            )


def test_span_family_dup_test_has_no_distinct_aggregate(spark):
    """r12 optimization pin: the cross-doc duplicate test is
    min(doc) != max(doc), never COUNT(DISTINCT doc) — the distinct
    form plans the two-exchange (key, doc)-then-key rewrite and
    defeats map-side partial aggregation."""
    from transformers_spark.operators.text import (
        cross_doc_span_dedup_stats,
        remove_long_dup_substrings,
        sliding_span_dup_profile,
    )

    df = spark.createDataFrame(
        [(1, "a b c d e f g h i"), (2, "a b c d e f g h j")],
        ["doc_id", "text"],
    )
    for frame in (
        sliding_span_dup_profile(df),
        remove_long_dup_substrings(df),
        cross_doc_span_dedup_stats(df),
    ):
        plan = _formatted_plan(frame).lower()
        assert "distinct " not in plan.replace("array_distinct", ""), (
            "distinct aggregate reappeared in the span-dedup plan"
        )
