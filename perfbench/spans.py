"""In-memory span recorder for the traced run.

With ``--trace 1`` the benchmark wraps the package's public functions
listed in ``TARGETS`` (it never edits the package), so every call records
a span: name, layer, start, end, parent span and operation id. Spans stay
in memory; the run turns them into per-layer metrics when it ends. A
layer's self time is the time of its spans minus the time covered by
their direct child spans.
"""

from __future__ import annotations

import functools
import importlib
import sys
import time
from contextlib import contextmanager

PKG = "columnar_database_project_spark"

# (module, attribute path, layer). An attribute path with a dot names a
# method, or a classmethod, of a class in that module.
TARGETS = [
    ("session", "get_spark", "session"),
    ("catalog", "register_dir", "catalog"),
    ("catalog", "load_table", "catalog"),
    ("engine", "MicroBlockEngine.query", "engine"),
    ("engine", "MicroBlockEngine.register_manifest", "engine"),
    ("engine", "MicroBlockEngine.delete_where_mor", "engine"),
    ("engine", "MicroBlockEngine.update_where_mor", "engine"),
    ("engine", "MicroBlockEngine.merge_mor", "engine"),
    ("sources.index", "MicroBlockIndex.build", "sources.index"),
    ("sources.index", "MicroBlockIndex.build_from_files", "sources.index"),
    ("sources.index", "MicroBlockIndex.predict_blocks_for_sql", "sources.index"),
    ("sources.microblock", "MicroBlockWriter.write", "sources.microblock"),
    ("sources.microblock", "read_block", "sources.microblock"),
    ("storage.block_cache", "BlockCache.get", "storage.block_cache"),
    ("storage.block_cache", "BlockCache.put", "storage.block_cache"),
    ("storage.access_logger", "AccessLogger.log", "storage.access_logger"),
    ("storage.access_logger", "GlobalHistory.record", "storage.access_logger"),
    ("ml.lstm", "LSTMPrefetcher.fit", "ml"),
    ("ml.scheduler", "PrefetchScheduler.suggest_topk_prefetch", "ml"),
    ("ml.prefetch", "PrefetchService.run_once", "ml"),
    ("ml.prefetch", "Prefetcher.prefetch_block", "ml"),
    ("storage.manifests", "ManifestStore.read", "storage.manifests"),
    ("storage.cow", "init_manifest_table", "storage.cow"),
    ("storage.cow", "delete_where_mor", "storage.cow"),
    ("storage.cow", "update_where_mor", "storage.cow"),
    ("storage.cow", "merge_mor", "storage.cow"),
    ("storage.cow", "maybe_compact_mor", "storage.cow"),
    ("storage.cow", "mor_compaction_debt", "storage.cow"),
    ("storage.cow", "compact_manifest", "storage.cow"),
]

LAYERS = ("bench", "session", "catalog", "operators", "engine", "sources.index",
          "sources.microblock", "storage.block_cache", "storage.access_logger",
          "ml", "storage.cow", "storage.manifests")


class Tracer:
    """Span recorder. A disabled tracer records nothing and its ``span``
    context manager is a no-op, so workloads call it unconditionally."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        # one tuple per span: name, layer, start, end, parent index, op id
        self.spans: list[tuple[str, str, float, float, int, int]] = []
        self._stack: list[int] = []
        self.op_id = 0
        self._undo: list[tuple[object, str, object]] = []

    # ---------------------------------------------------------- recording
    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append((name, layer, time.perf_counter(), 0.0, parent, self.op_id))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            n, lay, t0, _, par, op = self.spans[idx]
            self.spans[idx] = (n, lay, t0, time.perf_counter(), par, op)

    def _wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name, layer):
                return fn(*args, **kwargs)

        wrapper.__perfbench_wrapped__ = fn
        return wrapper

    # --------------------------------------------------------- installing
    def install(self) -> None:
        """Wrap every target. Module functions are replaced in every loaded
        module of the package that imported them by name."""
        if not self.enabled:
            return
        for mod_name, _, _ in TARGETS:
            importlib.import_module(f"{PKG}.{mod_name}")
        for mod_name, path, layer in TARGETS:
            mod = sys.modules[f"{PKG}.{mod_name}"]
            name = f"{mod_name}.{path.split('.')[-1]}"
            if "." in path:
                cls_name, attr = path.split(".")
                cls = getattr(mod, cls_name)
                raw = cls.__dict__[attr]
                if isinstance(raw, classmethod):
                    new = classmethod(self._wrap(raw.__func__, name, layer))
                else:
                    new = self._wrap(raw, name, layer)
                self._undo.append((cls, attr, raw))
                setattr(cls, attr, new)
                continue
            orig = getattr(mod, path)
            new = self._wrap(orig, name, layer)
            for other in list(sys.modules.values()):
                if getattr(other, "__name__", "").startswith(PKG) and getattr(other, path, None) is orig:
                    self._undo.append((other, path, orig))
                    setattr(other, path, new)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()

    # ---------------------------------------------------------- reporting
    def durations(self, name: str, t_from: float = 0.0) -> list[float]:
        """Seconds of every span called ``name`` that started after ``t_from``."""
        return [e - s for n, _, s, e, _, _ in self.spans if n == name and s >= t_from]

    def self_times(self, t_from: float, t_to: float) -> dict[str, float]:
        """Self seconds per layer over the spans inside [t_from, t_to]."""
        child = [0.0] * len(self.spans)
        for n, lay, s, e, par, _ in self.spans:
            if par >= 0:
                child[par] += e - s
        out = {layer: 0.0 for layer in LAYERS}
        for i, (n, lay, s, e, par, _) in enumerate(self.spans):
            if s >= t_from and e <= t_to:
                out[lay] = out.get(lay, 0.0) + (e - s) - child[i]
        return out


def per_span_cost_s(samples: int = 20000) -> float:
    """Calibrated cost of one recorded span around a no-op call."""
    tracer = Tracer(True)
    noop = tracer._wrap(lambda: None, "noop", "bench")
    t0 = time.perf_counter()
    for _ in range(samples):
        noop()
    return (time.perf_counter() - t0) / samples
