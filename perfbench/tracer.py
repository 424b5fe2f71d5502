"""In-memory spans around the program's layer boundaries.

The tracer wraps public functions of each layer where their callers look
them up: ``engine.py`` binds ``transpile``, ``render_macros``,
``table_references`` and the DML executors at import time, so those are
patched on ``transformers_spark.engine`` (and on every other module that
binds them), not only on the defining module. Spans stay in memory until
the run ends. Each span records its name, start, end, parent span and
op id; self time is the span's duration minus the part its children
cover.
"""

from __future__ import annotations

import contextlib
import functools
import time
from dataclasses import dataclass, field

__all__ = ["Tracer", "Span", "LAYER_METRICS"]


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None


# Per-layer metric → (span name, what to take). Time metrics are the
# summed span time per op; counts are summed per op.
LAYER_METRICS: dict[str, tuple[str, str]] = {
    "windowing.window_for_s": ("windowing.window_for", "s"),
    "macros.render_macros_s": ("macros.render_macros", "s"),
    "dialect.transpile_s": ("dialect.transpile", "s"),
    "dialect.table_references_s": ("dialect.table_references", "s"),
    "plans.resolve_s": ("plans.resolve", "s"),
    "engine.compile_assets_s": ("engine.compile_assets", "s"),
    "engine.transform_s": ("engine.transform", "s"),
    "engine.transform_self_s": ("engine.transform", "self_s"),
    "catalog.calls": ("catalog.call", "calls"),
    "catalog.call_s": ("catalog.call", "s"),
    "loaders.write_s": ("loaders.write", "s"),
    "dml.execute_s": ("dml.execute", "s"),
    "stats.collect_job_stats_s": ("stats.collect_job_stats", "s"),
    "queries.build_s": ("queries.build", "s"),
    "queries.execute_s": ("queries.execute", "s"),
    "sources.load_table_s": ("sources.load_table", "s"),
}


def _patch_targets():
    """(owner, attribute, span name) for every wrapped entry point."""
    from transformers_spark import catalog, dialect, engine, macros, runner, windowing
    from transformers_spark import queries as queries_mod
    from transformers_spark.loaders import Writer
    from transformers_spark.plans import dependencies
    from transformers_spark.sources import testdata

    targets = [
        (windowing, "window_for", "windowing.window_for"),
        (macros, "render_macros", "macros.render_macros"),
        (engine, "render_macros", "macros.render_macros"),
        (queries_mod, "render_macros", "macros.render_macros"),
        (testdata, "load_table", "sources.load_table"),
        (engine, "compile_assets", "engine.compile_assets"),
        (runner, "compile_assets", "engine.compile_assets"),
        (engine.Engine, "transform", "engine.transform"),
        (runner, "collect_job_stats", "stats.collect_job_stats"),
    ]
    for owner in (dialect, engine, dependencies):
        targets.append((owner, "transpile", "dialect.transpile"))
        targets.append((owner, "table_references", "dialect.table_references"))
    for name in ("execute_merge", "execute_delete", "execute_update"):
        targets.append((engine, name, "dml.execute"))
    for name in (
        "create_table", "drop_table", "create_view", "drop_view", "table_exists",
        "add_columns", "relax_columns", "get_table", "read", "partition_dates",
    ):
        targets.append((catalog.Catalog, name, "catalog.call"))
    for name in (
        "append", "overwrite_table", "overwrite_partition", "overwrite_partitions",
        "overwrite_dynamic", "delete_insert", "delete_where", "update_where",
        "overwrite_from_plan_reading_destination",
    ):
        targets.append((Writer, name, "loaders.write"))
    return targets


@dataclass
class Tracer:
    active: bool = False
    op: int | None = None
    spans: list[Span] = field(default_factory=list)
    counts: dict[tuple[str, int], float] = field(default_factory=dict)
    resolves: int = 0
    resolve_hits: int = 0
    _stack: list[int] = field(default_factory=list)
    _open: dict[str, int] = field(default_factory=dict)
    _undo: list = field(default_factory=list)

    # -- recording -----------------------------------------------------
    @contextlib.contextmanager
    def __call__(self, name: str):
        """``with tracer("layer.fn"):`` — a span when active. A span
        nested in an open span of the same name is not recorded again,
        so a layer's time is never counted twice."""
        if not self.active or self._open.get(name):
            yield
            return
        span = Span(name, time.perf_counter(), parent=self._stack[-1] if self._stack else None,
                    op=self.op)
        self.spans.append(span)
        self._stack.append(len(self.spans) - 1)
        self._open[name] = self._open.get(name, 0) + 1
        try:
            yield
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            self._open[name] -= 1

    def count(self, name: str, value: float) -> None:
        if self.active and self.op is not None:
            key = (name, self.op)
            self.counts[key] = self.counts.get(key, 0) + value

    # -- patching ------------------------------------------------------
    def install(self) -> None:
        for owner, attr, name in _patch_targets():
            original = owner.__dict__[attr]
            self._undo.append((owner, attr, original))
            setattr(owner, attr, self._wrap(original, name))
        from transformers_spark.plans import DependencyResolver

        original = DependencyResolver.resolve
        tracer = self

        @functools.wraps(original)
        def resolve(resolver, *args, **kwargs):
            if not tracer.active:
                return original(resolver, *args, **kwargs)
            before = len(resolver._cache)
            with tracer("plans.resolve"):
                out = original(resolver, *args, **kwargs)
            tracer.resolves += 1
            tracer.resolve_hits += len(resolver._cache) == before
            return out

        self._undo.append((DependencyResolver, "resolve", original))
        DependencyResolver.resolve = resolve

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, original = self._undo.pop()
            setattr(owner, attr, original)

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            with tracer(name):
                return fn(*args, **kwargs)

        return wrapper

    # -- reduction -----------------------------------------------------
    def self_time(self, index: int) -> float:
        span = self.spans[index]
        covered, cursor = 0.0, span.start
        children = sorted(
            (s.start, s.end) for s in self.spans if s.parent == index
        )
        for start, end in children:
            start, end = max(start, cursor), min(end, span.end)
            if end > start:
                covered += end - start
                cursor = end
        return span.end - span.start - covered

    def per_op(self, traced_ops: list[int]) -> dict[str, float]:
        """Mean per traced op of every span metric and every count."""
        n = max(1, len(traced_ops))
        ops = set(traced_ops)
        totals = {metric: 0.0 for metric in LAYER_METRICS}
        for i, span in enumerate(self.spans):
            if span.op not in ops:
                continue
            for metric, (name, kind) in LAYER_METRICS.items():
                if name != span.name:
                    continue
                if kind == "s":
                    totals[metric] += span.end - span.start
                elif kind == "self_s":
                    totals[metric] += self.self_time(i)
                else:
                    totals[metric] += 1
        out = {metric: value / n for metric, value in totals.items()}
        for (name, op), value in self.counts.items():
            if op in ops:
                out[name] = out.get(name, 0.0) + value / n
        out["plans.cache_hit_ratio"] = (
            self.resolve_hits / self.resolves if self.resolves else 0.0
        )
        return out
