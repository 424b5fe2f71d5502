"""Similarity search over embedding columns (``array<float>``).

* ``cosine_topk`` — exact brute-force top-k: query set × corpus with
  JVM-side ``zip_with``/``aggregate`` dot products (no Python in the
  loop). At scale the query side is broadcast; the corpus is scanned
  once, and per-query top-k is a partial-aggregate-friendly window.
* ``lsh_bucketed_topk`` — the scale path: random-hyperplane signatures
  bucket the corpus; each query only scores its bucket (± multiprobe
  neighbors). Hyperplanes are derived from deterministic md5 hashing
  of (dim, plane) pairs, so results are reproducible run-to-run.

An IVF variant (k-means coarse quantizer via Spark ML, probe nearest
centroids) is the natural next step and slots into the same shape.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from .. import cache
from .skew import fan_out

__all__ = [
    "cosine_topk",
    "lsh_bucketed_topk",
    "ivf_topk",
    "ivf_probe_sweep",
    "default_codebook",
    "kmeans_centroids",
    "hyperplane_weights",
    "hyperplane_signature",
    "embedding_neardup_pairs",
    "random_projection",
    "label_centroids",
    "pq_codebooks",
    "pq_encode",
    "pq_adc_topk",
    "l2_topk",
    "embedding_outliers",
    "embedding_cluster_profile",
]


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def _norm_lit(w: list[float]) -> float:
    """Driver-side twin of :func:`_norm`: sequential left-to-right sum
    of squares, matching the Spark/DuckDB fold order bit-for-bit."""
    acc = 0.0
    for x in w:
        acc += x * x
    return math.sqrt(acc)


def _collect_codebook(centroids: DataFrame) -> list[tuple[int, list[float]]]:
    """Materialize a (small, by construction) codebook on the driver so
    cell assignment can run map-only with literal centroid vectors.
    FAISS-style: the coarse quantizer is k×dim doubles regardless of
    corpus size, so this collect is O(k·dim), never O(corpus)."""
    return sorted(
        (int(r["centroid_id"]), [float(x) for x in r["centvec"]])
        for r in centroids.collect()
    )


def _double_array_lit(values: list[float]) -> Column:
    """Array-of-doubles literal built as ONE parsed SQL expression.
    Per-element ``F.lit`` costs a py4j round-trip each (1.3s for a
    16×64 codebook, measured); one expr string parses JVM-side in ms.
    ``repr`` emits the shortest round-tripping decimal, so the parsed
    double is bit-identical to the Python value."""
    return F.expr("array(" + ",".join(repr(float(x)) + "D" for x in values) + ")")


def _codebook_literals(
    codebook: list[tuple[int, list[float]]],
) -> tuple[Column, Column]:
    """(centroid-vectors, centroid-ids) as packed literal columns — the
    shared codebook encoding of :func:`_probe_cells` and
    :func:`embedding_cluster_profile`. Rejects an empty codebook up
    front: ``sequence(1, 0)`` downstream would otherwise produce the
    DESCENDING array [1, 0] and index 0 into the empty literals."""
    if not codebook:
        raise ValueError("empty codebook: no centroids to assign against")
    cent_arr = F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(repr(float(x)) + "D" for x in cvec) + ")"
            for _, cvec in codebook
        )
        + ")"
    )
    ids = F.expr("array(" + ",".join(str(int(cid)) for cid, _ in codebook) + ")")
    return cent_arr, ids


def _rounded_sq_dist(vec: Column, cent: Column) -> Column:
    """Rounded-then-decimal-summed squared L2 — the determinism
    discipline shared by :func:`embedding_outliers` and
    :func:`embedding_cluster_profile`: each term rounds to 6 places
    and sums as exact decimals, so the total is partitioning- and
    engine-independent. Returns a rounded DOUBLE."""
    return F.round(
        F.aggregate(
            F.zip_with(
                vec,
                cent,
                lambda a, b: F.round(
                    (a.cast("double") - b.cast("double"))
                    * (a.cast("double") - b.cast("double")),
                    6,
                ).cast("decimal(18,6)"),
            ),
            F.lit(0).cast("decimal(28,6)"),
            # re-cast per step: decimal addition widens precision by one
            # and the fold requires a stable accumulator type; (28,6) has
            # 9 integer digits of headroom over any realistic distance
            lambda acc, v: (acc + v).cast("decimal(28,6)"),
        ).cast("double"),
        6,
    )


def _probe_cells(vec: Column, codebook: list[tuple[int, list[float]]], n_probe: int) -> Column:
    """Array of the ``n_probe`` nearest cell ids for ``vec`` by rounded
    cosine (desc, centroid_id asc) — the map-only replacement for the
    crossJoin+window assignment: no row expansion, no shuffle. The
    codebook rides as ONE packed array-of-arrays literal and the
    candidate loop is a single ``transform`` over centroid indices, so
    the expression tree (and its codegen) stays k-independent."""
    cent_arr, ids = _codebook_literals(codebook)
    norms = _double_array_lit([_norm_lit(cvec) for _, cvec in codebook])
    ranked = F.array_sort(
        F.transform(
            F.sequence(F.lit(1), F.lit(len(codebook))),
            lambda i: F.struct(
                (
                    -F.round(
                        _dot(vec, F.element_at(cent_arr, i))
                        / (_norm(vec) * F.element_at(norms, i)),
                        6,
                    )
                ).alias("neg_cos"),
                F.element_at(ids, i).alias("cid"),
            ),
        )
    )
    return F.transform(F.slice(ranked, 1, n_probe), lambda s: s["cid"])


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Returns (query_id, neighbor_id, rank, cosine) with deterministic
    tie-breaking (cosine desc, neighbor id asc). The join is
    broadcast(queries) × corpus — one corpus scan, no shuffle of the
    big side; the rank window shuffles only (q, k) candidate rows.
    """
    # null-vector contract: a NULL embedding can be neither query nor
    # neighbor (no score exists) — dropped at intake on both sides
    q = queries.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    c = fan_out(corpus.filter(F.col(vec_col).isNotNull())).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("qvec"), F.col("cvec"))
                / (_norm(F.col("qvec")) * _norm(F.col("cvec"))),
                6,
            ).alias("cosine"),
        )
    )
    win = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def kmeans_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_fraction: float | None = None,
    max_train_vectors: int = 65536,
) -> DataFrame:
    """Lloyd's k-means codebook for IVF, returned as a small
    (centroid_id, centvec) DataFrame for :func:`ivf_topk`.

    FAISS-style training: the codebook converges on a SAMPLE, so the
    training set is bounded — the ``max_train_vectors`` lowest-id
    vectors (one ``TakeOrderedAndProject`` job: per-partition top-k,
    driver merge — no full sort, no shuffle) — and Lloyd iterations run
    driver-side in numpy. That keeps iteration cost off the cluster
    entirely: 64k × 64 doubles is ~32 MB of driver RAM, and each
    iteration is a vectorized matmul instead of a full-corpus Spark job
    per step. At 100 TB, pre-thin with ``sample_fraction`` so the
    id-ordered take scans less; only the bounded sample is ever
    collected, and the full corpus is touched once afterwards — by
    :func:`ivf_topk`'s map-only assignment with the codebook as
    literals.

    Deterministic: the sample is id-ordered, init is the
    ``n_centroids`` lowest-id vectors, numpy float64 reductions are
    fixed-order, and argmin ties break to the lowest centroid id — so
    repeated runs agree bit-for-bit.
    """
    import numpy as np

    # null-vector contract: NULL embeddings cannot train a codebook
    # (np.array over a None row degrades to object dtype and crashes)
    vecs = corpus.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("vid"), F.col(vec_col).alias("vec")
    )
    if sample_fraction:
        vecs = vecs.sample(fraction=sample_fraction, seed=20260813)
    # Arrow toPandas (see pq_codebooks): columnar transfer of the
    # bounded sample, same rows as the row-based collect.
    pdf = vecs.orderBy("vid").limit(max_train_vectors).toPandas()
    x = np.array(list(pdf["vec"]), dtype=np.float64)
    if x.size == 0:
        # a 1-D empty array would crash the matmul below with an
        # opaque shape error — name the real problem instead
        raise ValueError("kmeans_centroids: empty training set")
    if len(x) < n_centroids:
        import warnings

        warnings.warn(
            f"kmeans_centroids: only {len(x)} training vectors for "
            f"{n_centroids} requested centroids — returning {len(x)}",
            RuntimeWarning,
            stacklevel=2,
        )
    centers = x[:n_centroids].copy()
    for _ in range(iters):
        # Nearest center by squared L2 (standard Lloyd objective);
        # np.argmin returns the FIRST minimum → ties break to the
        # lowest centroid id. ||x-c||² = ||x||² - 2x·c + ||c||², and
        # the ||x||² term is rank-invariant, so it's dropped.
        dists = -2.0 * (x @ centers.T) + (centers * centers).sum(axis=1)
        cell = np.argmin(dists, axis=1)
        for i in range(n_centroids):
            members = x[cell == i]
            if len(members):  # empty cell keeps its old center
                centers[i] = members.sum(axis=0) / len(members)
    # NOT literal_frame: a centroid table is n_centroids x dim float
    # cells — as plan literals that is thousands of constants the
    # optimizer re-folds on every evaluation of every consumer
    # (measured 2x slower for the IVF-kmeans family than shipping the
    # same rows once through createDataFrame's one-time serialization).
    return corpus.sparkSession.createDataFrame(
        [(i, [float(v) for v in c]) for i, c in enumerate(centers)],
        ["centroid_id", "centvec"],
    )


def default_codebook(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
) -> list[tuple[int, list[float]]]:
    """The SINGLE definition of :func:`ivf_topk`'s default codebook —
    non-null corpus vectors with ``id < n_centroids``, collected to the
    driver. Callers that pre-collect a shared codebook for several
    probe settings (ivf_probe_recall_curve) must use this instead of
    re-implementing the seeding rule inline, so a future change to the
    default (seeding, n_centroids) can never silently diverge between
    per-call and pre-collected behavior (r10 ADVICE item 3)."""
    nn = corpus.filter(F.col(vec_col).isNotNull())
    return _collect_codebook(
        nn.filter(F.col(id_col) < n_centroids).select(
            F.col(id_col).alias("centroid_id"),
            F.col(vec_col).alias("centvec"),
        )
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    centroids: DataFrame | None = None,
    codebook: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: corpus vectors are assigned to
    their nearest centroid (coarse quantizer); each query scores only
    the ``n_probe`` nearest cells.

    The default codebook is the corpus vectors with id < n_centroids —
    deterministic and DuckDB-oracle-reproducible. Pass
    ``centroids=kmeans_centroids(corpus)`` for a trained codebook
    (better recall; same plan shape). The codebook is collected to the
    driver (k×dim doubles — tiny by construction) and embedded as
    literals, so cell assignment is MAP-ONLY: no |corpus|×k row
    expansion, no window shuffle. Scoring work is proportional to
    probed-cell sizes — never |corpus|×|queries|.

    ``codebook`` (a pre-collected ``_collect_codebook`` result) skips
    the per-call collect entirely — callers probing several settings
    against ONE index (ivf_probe_recall_curve) collect once and share
    (the collect is ~2 s cold / ~0.25 s warm per call at sf0.1,
    measured in round 10).
    """
    # null-vector contract: NULL embeddings are dropped at intake —
    # they cannot seed the codebook, be assigned a cell, or be scored
    corpus = corpus.filter(F.col(vec_col).isNotNull())
    queries = queries.filter(F.col(vec_col).isNotNull())
    if codebook is None:
        if centroids is not None:
            codebook = _collect_codebook(centroids)
        else:
            # corpus already null-filtered above; default_codebook's
            # own filter is a no-op here and keeps one seeding rule
            codebook = default_codebook(
                corpus, id_col, vec_col, n_centroids
            )

    c = fan_out(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        _probe_cells(F.col(vec_col), codebook, 1)[0].alias("cell"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.explode(_probe_cells(F.col(vec_col), codebook, n_probe)).alias("cell"),
    )

    # Each corpus vector lives in exactly one cell and each (query,
    # cell) probe is distinct, so (query, neighbor) pairs are already
    # unique — no dedup pass needed.
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("qvec"), F.col("cvec"))
                / (_norm(F.col("qvec")) * _norm(F.col("cvec"))),
                6,
            ).alias("cosine"),
        )
    )
    win = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def ivf_probe_sweep(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probes: tuple[int, ...] = (1, 4),
    n_centroids: int = 16,
    centroids: DataFrame | None = None,
    codebook: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """:func:`ivf_topk` swept over several ``n_probe`` settings against
    ONE index, sharing the expensive per-setting work: the corpus cell
    assignment (a map pass over EVERY corpus vector) and the candidate
    scoring join run once at ``max(n_probes)`` and persist; each
    setting then top-k-ranks the scored-candidate subset it would have
    seen. A per-setting :func:`ivf_topk` loop re-assigns and re-scores
    the whole corpus once per setting (no exchange reuse fires across
    the union).

    Exactly equivalent to that loop because :func:`_probe_cells` ranks
    cells identically at any width — its ``n_probe`` slice is a PREFIX
    of the ``max(n_probes)`` slice — so filtering scored candidates to
    probe positions ``< np`` reproduces the per-call candidate set and
    the rank window sees identical rows. Output: ivf_topk's columns
    plus ``n_probe``.
    """
    if not n_probes:
        raise ValueError("ivf_probe_sweep: n_probes must be non-empty")
    # null-vector contract: as ivf_topk
    corpus = corpus.filter(F.col(vec_col).isNotNull())
    queries = queries.filter(F.col(vec_col).isNotNull())
    if codebook is None:
        if centroids is not None:
            codebook = _collect_codebook(centroids)
        else:
            codebook = default_codebook(corpus, id_col, vec_col, n_centroids)
    max_np = max(n_probes)
    c = fan_out(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        _probe_cells(F.col(vec_col), codebook, 1)[0].alias("cell"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.posexplode(_probe_cells(F.col(vec_col), codebook, max_np)).alias(
            "__probe_idx", "cell"
        ),
    )
    scored = cache.track(
        c.join(F.broadcast(q), "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            "__probe_idx",
            F.round(
                _dot(F.col("qvec"), F.col("cvec"))
                / (_norm(F.col("qvec")) * _norm(F.col("cvec"))),
                6,
            ).alias("cosine"),
        )
        .persist()
    )
    win = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    out = None
    for np_ in n_probes:
        part = (
            scored.filter(F.col("__probe_idx") < np_)
            .withColumn("rank", F.row_number().over(win))
            .filter(F.col("rank") <= k)
            .select(
                F.lit(int(np_)).cast("int").alias("n_probe"),
                "query_id",
                "neighbor_id",
                "rank",
                "cosine",
            )
        )
        out = part if out is None else out.unionByName(part)
    return out


def random_projection(
    df: DataFrame,
    out_dim: int,
    in_dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_prefix: str = "p",
) -> DataFrame:
    """Johnson–Lindenstrauss dimensionality reduction: project each
    embedding onto ``out_dim`` deterministic pseudo-random directions
    (the md5-derived :func:`hyperplane_weights`, so an oracle can embed
    the identical literal matrix). Output columns ``p0..p{k-1}`` are
    the raw projections rounded to 6 decimals.

    Map-only: the k×d weight matrix ships inside the plan as literals
    (a few KB), each row's projections are local fold sums — no
    shuffle, no driver data movement; at 100 TB this runs at scan
    bandwidth next to whatever op consumes the reduced vectors."""
    weights = hyperplane_weights(out_dim, in_dim)
    # null-vector contract: no projection exists for a NULL embedding —
    # dropped rather than emitting an all-NULL signature row
    df = df.filter(F.col(vec_col).isNotNull())
    cols = [F.col(id_col)]
    for j, row in enumerate(weights):
        # _double_array_lit, not per-element F.lit: out_dim x in_dim
        # individual lit() py4j round-trips dominate plan-build time
        # (measured in the helper's docstring)
        w = _double_array_lit(row)
        cols.append(F.round(_dot(F.col(vec_col), w), 6).alias(f"{out_prefix}{j}"))
    return df.select(*cols)


def hyperplane_weights(planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1): component
    (p, d) = md5-derived — the driver-side twin of hashing.h32, so the
    DuckDB oracle can embed the identical literals."""
    import hashlib

    out = []
    for p in range(planes):
        row = []
        for d in range(dim):
            h = int(hashlib.md5(f"{p}_{d}".encode()).hexdigest()[:8], 16)
            row.append((h % 2000001) / 1000000.0 - 1.0)
        out.append(row)
    return out


def _hyperplane_sign(vec: Column, weights: list[float]) -> Column:
    """Raw sign bit of <vec, w> with w a literal weight vector. The
    null/dimension guard lives ONCE in :func:`hyperplane_signature` —
    duplicating it per plane re-evaluated size(vec) and carried a
    raise_error branch P times per row (measured ~1.5x on the LSH
    family at sf0.1)."""
    w = _double_array_lit(weights)
    weighted = F.aggregate(
        F.zip_with(vec, w, lambda v, wi: v.cast("double") * wi),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (weighted >= 0).cast("int")


def hyperplane_signature(vec: Column, weights: list[list[float]]) -> Column:
    """Bucket id: the sign bits of <vec, w_p> packed into a long.

    A vector whose length differs from the weight dim ERRORS loudly:
    zip_with pads the shorter array with nulls, which would poison the
    fold to NULL, make every bucket NULL, and silently EMPTY the LSH
    join output. NULL vectors stay NULL (dropped by the equi-join, the
    documented contract). The guard is applied once around the packed
    signature, not per plane."""
    if not weights:
        raise ValueError("hyperplane_signature: weights must be non-empty")
    bits = [
        (_hyperplane_sign(vec, weights[p]) * F.lit(2**p)).cast("long")
        for p in range(len(weights))
    ]
    total = bits[0]
    for b in bits[1:]:
        total = total + b
    dim = len(weights[0])
    return (
        F.when(vec.isNull(), F.lit(None).cast("long"))
        .when(F.size(vec) == dim, total)
        .otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        f"hyperplane dim mismatch: weights have "
                        f"{dim} components, vector has "
                    ),
                    F.size(vec).cast("string"),
                )
            )
        )
    )


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (d1, d2, cosine) for every
    pair sharing a random-hyperplane bucket with cosine ≥ threshold.

    The scale path for near-dup over embeddings: bucketing makes the
    self-join work proportional to Σ bucket², never |corpus|²; each
    vector lands in exactly one bucket so no pair is emitted twice.
    Raise ``planes`` as the corpus grows (2^planes buckets) — high-cos
    pairs agree on most hyperplane signs, so recall degrades slowly.
    """
    weights = hyperplane_weights(planes, dim)
    # NOT persisted: both self-join arms re-evaluate sigs (no exchange
    # reuse fires across the arms), but a same-epoch A/B of the persist
    # form measured it slightly SLOWER on both catalog consumers
    # (dedup_embedding_cosine 0.87->0.99, dedup_embedding_pipeline
    # 1.40->1.85 warm) — the signature is one cheap map expression per
    # row, so the cache write + two cache reads cost more than the
    # second scan+compute, and the same arithmetic holds at cluster
    # scale (cache I/O = 1 write + 2 reads vs 1 extra columnar read).
    sigs = fan_out(df).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        hyperplane_signature(F.col(vec_col), weights).alias("bucket"),
    )
    a = sigs.select(
        F.col("id").alias("d1"), F.col("vec").alias("v1"), "bucket"
    )
    b = sigs.select(
        F.col("id").alias("d2"), F.col("vec").alias("v2"), "bucket"
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("d1") < F.col("d2"))
        .select(
            "d1",
            "d2",
            F.round(
                _dot(F.col("v1"), F.col("v2"))
                / (_norm(F.col("v1")) * _norm(F.col("v2"))),
                6,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: score only corpus vectors in the query's
    random-hyperplane bucket. Recall trades off with ``planes``; the
    shuffle key is the bucket signature, so work is proportional to
    bucket sizes, not |corpus| × |queries|."""

    weights = hyperplane_weights(planes, dim)

    def signature(vec: Column) -> Column:
        return hyperplane_signature(vec, weights)

    c = fan_out(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cvec"),
        signature(F.col(vec_col)).alias("bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        signature(F.col(vec_col)).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("qvec"), F.col("cvec"))
                / (_norm(F.col("qvec")) * _norm(F.col("cvec"))),
                6,
            ).alias("cosine"),
        )
    )
    win = W.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def label_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Per-class centroid and dispersion over an embedding column:
    (label, dim, mean_v, n_vectors) — the class-prototype build step of
    a labeled-embedding pipeline (nearest-class-mean classifiers,
    class-balanced coreset picks, per-class drift monitors).

    Plan shape: ``posexplode`` fans each vector into (dim, value) rows,
    then ONE hash aggregate on (label, dim). The fan-out is map-only;
    map-side combine collapses every partition to at most
    n_labels x dim partial sums before the single shuffle, so the
    shuffle volume is O(labels x dim x partitions), independent of row
    count — the plan that survives a 100 TB corpus. Values are rounded
    then decimal-summed so the mean is bit-identical at any
    parallelism (raw double sums are partitioning-order-dependent).
    """
    ex = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("dim", "v"),
    )
    agg = ex.groupBy("label", "dim").agg(
        F.sum(
            F.round(F.col("v").cast("double"), 6).cast("decimal(18,6)")
        ).alias("s"),
        F.count(F.lit(1)).alias("n_vectors"),
    )
    return agg.select(
        "label",
        "dim",
        F.round(F.col("s").cast("double") / F.col("n_vectors"), 6).alias("mean_v"),
        "n_vectors",
    )


def _nested_array_lit(values) -> Column:
    """Nested array literal (arbitrary depth) as ONE parsed SQL
    expression — same py4j-round-trip rationale as
    :func:`_double_array_lit`."""

    def render(v) -> str:
        if isinstance(v, (list, tuple)):
            return "array(" + ",".join(render(x) for x in v) + ")"
        return repr(float(v)) + "D"

    return F.expr(render(values))


def pq_codebooks(
    corpus: DataFrame,
    m: int = 4,
    n_codes: int = 16,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_train_vectors: int = 65536,
) -> list[list[list[float]]]:
    """Product-quantization codebooks: the embedding space splits into
    ``m`` contiguous subspaces and each learns its own ``n_codes``-entry
    Lloyd's codebook — the compression that makes billion-vector ANN
    feasible (a 64-dim float32 vector becomes ``m`` uint8 codes: 256
    bytes → 4, so a 100 TB embedding store's code table fits in the
    aggregate page cache and ADC scans become memory-bandwidth-bound).

    Training mirrors :func:`kmeans_centroids`'s bounded-sample
    discipline: ONE id-ordered take of ``max_train_vectors`` rows, all
    Lloyd iterations driver-side in numpy (m small k-means on slices of
    the same sample — the cluster is never touched per iteration).
    Deterministic: id-ordered sample, lowest-id init, fixed-order
    float64 reductions, argmin ties to the lowest code.

    Returns plain nested lists ``[m][n_codes][dim/m]`` — they are
    broadcast into encode/score expressions as literals, never joined.
    """
    import numpy as np

    # Arrow toPandas, not row-based collect: the training sample is
    # max_train_vectors full-width vectors — columnar transfer is
    # several times faster and the bound is identical.
    pdf = (
        # null-vector contract: see kmeans_centroids
        corpus.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("vid"), F.col(vec_col).alias("vec"))
        .orderBy("vid")
        .limit(max_train_vectors)
        .toPandas()
    )
    x = np.array(list(pdf["vec"]), dtype=np.float64)
    if x.size == 0:
        raise ValueError("pq_codebooks: empty training set")
    dim = x.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    ds = dim // m
    books: list[list[list[float]]] = []
    for j in range(m):
        sub = x[:, j * ds : (j + 1) * ds]
        centers = sub[:n_codes].copy()
        for _ in range(iters):
            dists = -2.0 * (sub @ centers.T) + (centers * centers).sum(axis=1)
            cell = np.argmin(dists, axis=1)
            for i in range(n_codes):
                members = sub[cell == i]
                if len(members):
                    centers[i] = members.sum(axis=0) / len(members)
        books.append([[float(v) for v in c] for c in centers])
    return books


def _subspace_code(vec: Column, book: list[list[float]], j: int, ds: int) -> Column:
    """argmin code for subspace ``j`` — an array_min over (dist, code)
    structs, so ties break to the lowest code deterministically. The
    candidate loop is ONE ``transform`` over code indices with the
    codebook as a packed literal (the _probe_cells discipline), so the
    expression tree — and its codegen compile time, which dominated an
    unrolled per-code version — is independent of n_codes."""
    qslice = F.slice(vec, j * ds + 1, ds)
    book_lit = _nested_array_lit(book)  # [n_codes][ds]
    cands = F.transform(
        F.sequence(F.lit(1), F.lit(len(book))),
        lambda c: F.struct(
            F.aggregate(
                F.zip_with(
                    qslice,
                    F.element_at(book_lit, c),
                    lambda a, b: (a.cast("double") - b) * (a.cast("double") - b),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("d"),
            (c - 1).alias("c"),
        ),
    )
    return F.array_min(cands)["c"]


def pq_encode(
    corpus: DataFrame,
    books: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes): each vector compressed to ``m`` small ints — one
    map-only projection with the codebooks inlined as literals (no
    join, no shuffle; the 100 TB encode pass is a pure scan)."""
    ds = len(books[0][0])
    codes = F.array(
        *[_subspace_code(F.col(vec_col), book, j, ds) for j, book in enumerate(books)]
    )
    # null-vector contract: a NULL embedding has no code word.
    # fan_out: the m x n_codes argmin encode (and the ADC scoring
    # stage that consumes these codes without an intervening shuffle)
    # is CPU-bound and must not inherit a single-split local scan's
    # one-task partitioning; no-op at cluster scale (skew.fan_out).
    return fan_out(corpus.filter(F.col(vec_col).isNotNull())).select(
        F.col(id_col).alias("doc"), codes.alias("codes")
    )


def pq_adc_topk(
    codes_df: DataFrame,
    queries: DataFrame,
    books: list[list[list[float]]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: raw query vectors score
    against COMPRESSED corpus codes — approximate squared L2 is the
    sum over subspaces of ||q_j - codebook_j[code_j]||². The scan
    touches only (id, codes) — at scale that is the whole point: the
    ~64x-smaller code table streams while queries broadcast. Ranks on
    rounded distance with id tie-breaks (deterministic).

    FAISS's distance-table trick: per (query, subspace) there are only
    ``n_codes`` possible term values, so the table of all of them is
    computed ONCE per query row on the (tiny, broadcast) query side,
    and the per-(query, doc) pair work drops from m·ds multiply-adds
    plus m slice allocations to m array lookups and m-1 adds. Each
    table entry evaluates the IDENTICAL expression the per-pair form
    inlined (same zip_with fold over the same slice, same
    left-to-right `+` chain across subspaces), so every distance is
    bit-identical to the direct form."""
    m, ds = len(books), len(books[0][0])

    # closure factory, NOT a j=j default on the transform lambda: a
    # 2-parameter lambda is PySpark's (element, index) form and the
    # engine would pass the index COLUMN as j
    def _lut_subspace(j: int) -> Column:
        return F.transform(
            F.sequence(F.lit(1), F.lit(len(books[j]))),
            lambda c: F.aggregate(
                F.zip_with(
                    F.slice(F.col("qvec"), j * ds + 1, ds),
                    F.element_at(_nested_array_lit(books[j]), c),
                    lambda a, b: (a.cast("double") - b)
                    * (a.cast("double") - b),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ),
        )

    # null-vector contract: a NULL query vector has no ADC distance
    lut = F.array(*[_lut_subspace(j) for j in range(m)])
    q = F.broadcast(
        queries.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"))
        .select("query_id", lut.alias("__lut"))
    )
    terms = [
        F.element_at(
            F.element_at(F.col("__lut"), j + 1), F.col("codes").getItem(j) + 1
        )
        for j in range(m)
    ]
    dist = terms[0]
    for t in terms[1:]:
        dist = dist + t
    scored = (
        codes_df.crossJoin(q)
        .filter(F.col("doc") != F.col("query_id"))
        .select(
            "query_id",
            F.col("doc").alias("neighbor_id"),
            F.round(dist, 6).alias("adc_dist"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adc_dist")
    )


def l2_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact squared-L2 top-k (the metric PQ/ADC approximates) — same
    broadcast-queries/scan-corpus shape as :func:`cosine_topk`."""
    # null-vector contract: see cosine_topk
    q = queries.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    c = fan_out(corpus.filter(F.col(vec_col).isNotNull())).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
    )
    sq = F.aggregate(
        F.zip_with(
            F.col("qvec"),
            F.col("cvec"),
            lambda a, b: (a.cast("double") - b.cast("double"))
            * (a.cast("double") - b.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", F.round(sq, 6).alias("sq_dist"))
    )
    win = W.partitionBy("query_id").orderBy(F.asc("sq_dist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "sq_dist")
    )


def embedding_outliers(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
    z_threshold: float = 2.0,
) -> DataFrame:
    """Embedding QA: flag vectors whose squared distance to their
    class centroid exceeds ``mean + z*stddev`` of their class — the
    mislabeled-example / embedding-drift detector run before trusting
    a labeled embedding set.

    Determinism discipline (the oracle hash-matches): centroids are
    the rounded decimal-sum means of :func:`label_centroids`; per-dim
    squared deviations are rounded then decimal-summed (term order
    independent); the class moments come from decimal power sums with
    the same degenerate-class guards as the exact-moments query.

    Plan: one posexplode aggregate for centroids (tiny result,
    broadcast back), one zip computing each vector's distance against
    its class centroid array, one class-moments aggregate (tiny),
    one broadcast join to flag. The corpus is scanned twice (centroid
    pass + distance pass) — unavoidable without an approximate
    streaming mean, and both scans are map-heavy/shuffle-light.
    """
    # null-vector contract: a NULL embedding has no distance to its
    # class centroid (and posexplode already skips it in the centroid
    # pass) — drop it from the distance pass so class counts agree
    df = df.filter(F.col(vec_col).isNotNull())
    cents = label_centroids(df, vec_col, label_col)
    cent_arrays = (
        cents.groupBy("label")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("dim"), F.col("mean_v")))
            ).alias("cs")
        )
        .select(
            "label", F.transform("cs", lambda s: s["mean_v"]).alias("centvec")
        )
    )
    dists = df.join(F.broadcast(cent_arrays), label_col).select(
        F.col(id_col).alias("vec"),
        F.col(label_col).alias("label"),
        _rounded_sq_dist(F.col(vec_col), F.col("centvec")).alias("sq_dist"),
    )
    d = F.col("sq_dist").cast("decimal(18,6)")
    moments = dists.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d).alias("sx"),
        F.sum(d * d).alias("sxx"),
    )
    n = F.col("n").cast("double")
    sx, sxx = F.col("sx").cast("double"), F.col("sxx").cast("double")
    var = F.when(n > 1.0, (sxx - sx * sx / n) / (n - F.lit(1.0)))
    stats = moments.select(
        "label",
        (sx / n).alias("mean_d"),
        F.when(var >= 0, F.sqrt(var)).alias("std_d"),
    )
    flagged = dists.join(F.broadcast(stats), "label").select(
        "vec",
        "label",
        "sq_dist",
        F.when(
            F.col("std_d").isNotNull(),
            F.col("sq_dist")
            > F.col("mean_d") + F.lit(float(z_threshold)) * F.col("std_d"),
        )
        .otherwise(F.lit(False))
        .alias("is_outlier"),
    )
    return flagged


def embedding_cluster_profile(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Corpus composition by embedding cluster: assign every vector to
    its nearest centroid (rounded squared-L2 asc, centroid id asc on
    ties) and profile each cluster — size, mean and max squared
    distance. This is the report a curation pass reads before setting
    per-cluster sampling rates (semantic dedup / domain balancing by
    cluster density, the SemDeDup/DataComp-style pruning signal).

    Assignment is MAP-ONLY: the codebook rides as packed literals (the
    ``_probe_cells`` discipline) — no |corpus| x k row expansion, no
    shuffle before the single per-cluster aggregate. Distances use the
    rounded-then-decimal-summed discipline of
    :func:`embedding_outliers` so any engine reproduces them
    bit-for-bit.
    """
    # null-vector contract: a NULL embedding belongs to no cluster
    corpus = corpus.filter(F.col(vec_col).isNotNull())
    codebook = _collect_codebook(centroids)
    cent_arr, ids = _codebook_literals(codebook)
    vec = F.col(vec_col)
    ranked = F.array_sort(
        F.transform(
            F.sequence(F.lit(1), F.lit(len(codebook))),
            lambda i: F.struct(
                _rounded_sq_dist(vec, F.element_at(cent_arr, i)).alias("d"),
                F.element_at(ids, i).alias("cid"),
            ),
        )
    )
    best = F.element_at(ranked, 1)
    assigned = corpus.select(
        F.col(id_col).alias("vec"),
        best["cid"].alias("centroid_id"),
        best["d"].alias("sq_dist"),
    )
    return assigned.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.round(
            F.sum(F.col("sq_dist").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_sq_dist"),
        F.max("sq_dist").alias("max_sq_dist"),
    )
