"""In-memory spans for the traced run, and the wrappers that record them
around the engine's public layer functions.

Spans are recorded from outside the package: ``Instrumentation.install``
replaces public functions and methods with wrappers that open a span
around the original, and ``restore`` puts the originals back. Nothing
here runs in an untraced run.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

PACKAGE = "dicebox_sensorybatchprocessor_spark"


class Tracer:
    """Spans as [name, start, end, parent, op] rows (perf_counter seconds,
    parent is an index into ``spans`` or None), plus named counters.
    Each thread keeps its own parent stack; spans opened on a thread the
    driver did not start (a ``foreachBatch`` callback) have no parent but
    keep the current op id."""

    def __init__(self):
        self.spans: list[list] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.op: str | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        with self._lock:
            idx = len(self.spans)
            self.spans.append([name, time.perf_counter(), None, stack[-1] if stack else None, self.op])
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def count(self, name: str) -> None:
        with self._lock:
            self.counters[name] += 1

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    **extra,
                    "fields": ["name", "start", "end", "parent", "op"],
                    "spans": self.spans,
                },
                f,
            )


def self_times(spans: list[list], ops: set | None = None) -> dict[str, float]:
    """Per span name: Σ (duration − the part of it that child spans
    cover), over the spans whose op is in ``ops`` (all when None).
    Overlapping children are merged before their union is taken."""
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for name, start, end, parent, _ in spans:
        if parent is not None and end is not None:
            children[parent].append((start, end))
    out: dict[str, float] = defaultdict(float)
    for idx, (name, start, end, _, op) in enumerate(spans):
        if end is None or (ops is not None and op not in ops):
            continue
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in sorted(children.get(idx, ())):
            a, b = max(a, start), min(b, end)
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[name] += (end - start) - covered
    return dict(out)


def totals(spans: list[list], name: str, ops: set | None = None) -> tuple[int, float]:
    """(count, Σ duration) of the finished spans called ``name``,
    restricted to spans whose op is in ``ops`` when given."""
    n, s = 0, 0.0
    for sname, start, end, _, op in spans:
        if sname == name and end is not None and (ops is None or op in ops):
            n += 1
            s += end - start
    return n, s


def _wrap(tracer: Tracer, name: str, fn, after=None, on_error=None):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        with tracer.span(name):
            try:
                result = fn(*args, **kwargs)
            except Exception as exc:
                if on_error is not None:
                    on_error(exc)
                raise
        if after is not None:
            after(result)
        return result

    return wrapper


class Instrumentation:
    """Spans around the engine's layer boundaries. ``install`` patches,
    ``restore`` undoes every patch."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self._patches: list[tuple[object, str, object]] = []
        self.queries: list = []

    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def _patch_function(self, module_name: str, attr: str, span: str, after=None) -> None:
        """Wrap ``module.attr`` in a span, in that module and in every
        package module that imported the function by name."""
        original = getattr(sys.modules[module_name], attr)
        new = _wrap(self.tracer, span, original, after=after)
        for mod_name, mod in list(sys.modules.items()):
            if mod_name.startswith(PACKAGE) and getattr(mod, attr, None) is original:
                self._patch(mod, attr, new)

    def install(self) -> None:
        t = self.tracer
        from dicebox_sensorybatchprocessor_spark.lake import CommitConflict, ManifestTable
        from dicebox_sensorybatchprocessor_spark.mv import MaterializedAgg

        self._patch_function(f"{PACKAGE}.session", "ensure_engine_conf", "session.ensure_engine_conf")
        for probe in ("parquet_footer_stats", "parquet_first_value"):
            self._patch_function(f"{PACKAGE}.utils", probe, "utils.footer_probe")

        def scratch_after(result):
            t.count("utils.scratch_calls")
            if not result[1]:
                t.count("utils.scratch_hits")

        self._patch_function(
            f"{PACKAGE}.utils", "scratch_dir_cached", "utils.scratch_dir_cached", after=scratch_after
        )

        def conflict(exc):
            if isinstance(exc, CommitConflict):
                t.count("lake.commit_conflicts")

        self._patch(ManifestTable, "commit",
                    _wrap(t, "lake.commit", ManifestTable.commit, on_error=conflict))
        self._patch(ManifestTable, "stage", _wrap(t, "lake.stage", ManifestTable.stage))
        self._patch(ManifestTable, "read", _wrap(t, "lake.read", ManifestTable.read))

        def refresh_after(ledger):
            mode = ledger.get("mode") if isinstance(ledger, dict) else None
            if mode in ("incremental", "recompute"):
                t.count(f"mv.{mode}")

        self._patch(MaterializedAgg, "refresh",
                    _wrap(t, "mv.refresh", MaterializedAgg.refresh, after=refresh_after))

        # Streaming queries run on child sessions (spark.newSession()),
        # whose listener bus a listener on the driver's session never
        # hears; keeping the handle of every started query reaches all.
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        for attr in ("start", "toTable"):
            self._patch(DataStreamWriter, attr, self._capture(getattr(DataStreamWriter, attr)))

    def _capture(self, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            query = fn(*args, **kwargs)
            self.queries.append(query)
            return query

        return wrapper

    def drain_progress(self) -> list[dict]:
        """Progress records of every query started since the last drain."""
        out = []
        for q in self.queries:
            out.extend(json.loads(p.json()) for p in q._jsq.recentProgress())
        self.queries = []
        return out

    def restore(self) -> None:
        for owner, attr, original in reversed(self._patches):
            setattr(owner, attr, original)
        self._patches.clear()
