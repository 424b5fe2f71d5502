"""Empty-input wave datasets (round-6 verdict ask 1).

Zero-row source tables are the one input shape no prior wave touched
and the first shape a real deployment hits (backfill day 1, an empty
partition). ``tools/run_gates.py`` runs the dual-engine compare
against:

* ``all-empty``: every source table replaced by a zero-row copy
  (schema preserved), over the WHOLE catalog;
* ``empty:<table>``: one table emptied at a time, over the queries
  whose oracle SQL references that table (regex word match — a query
  that never reads the table can't diverge on its emptiness).

Contract pinning: some operators LEGITIMATELY error on empty input
(codebook training over zero vectors cannot produce centroids; the
engine raises a loud ValueError by design — similarity.py). Those are
pinned in EMPTY_ERROR_CONTRACTS below with the exception type; the
gate greens them only when that exact type is raised, so the artifact
records WHICH queries error-by-contract vs return empty.

    python tools/run_gates.py --waves all-empty,empty:embeddings --json /tmp/empty.json
"""

from __future__ import annotations

import os
import re
import shutil

SRC = "/root/testdata/sf0.001"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# query -> exception type that IS the documented empty-input contract
# (discovered by this gate's r6 run, then pinned): the codebook /
# centroid trainers raise a loud ValueError when given zero vectors —
# "kmeans_centroids: empty training set", "pq_codebooks: empty
# training set", "empty codebook: no centroids to assign against"
# (similarity.py). Everything else must return an (empty or
# NULL-rolled-up) frame equal to its oracle's.
EMPTY_ERROR_CONTRACTS: dict[str, str] = {
    "similarity_pq_adc": "ValueError",
    "similarity_ivf_ann": "ValueError",
    "similarity_ivf_kmeans": "ValueError",
    "embedding_cluster_profile": "ValueError",
    # r8: the IVF probe curve shares the codebook-collection contract —
    # no codebook exists over an empty corpus, so it must refuse loudly
    # rather than emit a fake zero-recall row
    "ivf_probe_recall_curve": "ValueError",
}


def build_empty(dst_dir: str, empty_tables: list[str]) -> None:
    import duckdb

    os.makedirs(dst_dir, exist_ok=True)
    for fname in sorted(os.listdir(SRC)):
        if not fname.endswith(".parquet"):
            continue
        table = fname[: -len(".parquet")]
        src = os.path.join(SRC, fname)
        dst = os.path.join(dst_dir, fname)
        if table in empty_tables:
            duckdb.sql(
                f"COPY (SELECT * FROM read_parquet('{src}') LIMIT 0) "
                f"TO '{dst}' (FORMAT PARQUET)"
            )
        else:
            shutil.copyfile(src, dst)


def oracle_tables(oracle: str) -> set[str]:
    """Tables a query reads, from its oracle SQL text (word match)."""
    return {t for t in TABLES if re.search(rf"\b{t}\b", oracle)}
