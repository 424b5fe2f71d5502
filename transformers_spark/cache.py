"""Lifecycle registry for persisted intermediate frames.

Operators that ``persist()``/``cache()`` an intermediate (gram tables,
vocabulary counts, prefix-sum inputs) register it here via
:func:`track`. Harnesses then call :func:`release` once the consuming
query has been MATERIALIZED — the catalog wrapper (queries.query_fns),
the benchmark, the gates and the pytest oracle harness all do — so
cached frames from one query never accumulate executor memory across
a 90-query catalog run.

Why not rely on the ``result._grams_cache``-style attribute handles the
operators also expose? Those are lost on any further DataFrame
transformation, so in a full catalog run nothing unpersisted them
(ADVICE r1). The registry holds strong references precisely so the
frames stay unpersistable until someone releases them.

Safety: ``release`` is called at the START of building the NEXT query,
by which point the previous query's action has run in every harness
(build → materialize → build). Unpersisting a still-lazy plan is a
correctness no-op for pure caches (Spark recomputes), with one caveat
documented on pack_sequences: its collected prefix-sum offsets assume
the persisted partitioning is not recomputed — hence release-after-
materialize, never release-mid-query.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame

__all__ = ["track", "release"]

_lock = threading.Lock()
_tracked: list[DataFrame] = []


def track(df: DataFrame) -> DataFrame:
    """Register a persisted frame for a later :func:`release`."""
    with _lock:
        _tracked.append(df)
    return df


def release() -> int:
    """Unpersist every tracked frame; returns how many were released."""
    with _lock:
        frames, _tracked[:] = list(_tracked), []
    n = 0
    for df in frames:
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass  # session already stopped — nothing to free
    return n
