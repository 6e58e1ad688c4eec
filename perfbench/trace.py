"""Spans and counters recorded from outside the engine.

Nothing under ``proceso_de_etl_spark/`` is edited: the tracer replaces
module attributes with thin wrappers, so every caller that resolves the
name at call time goes through them:

- ``load_table`` in every engine module that imported it;
- ``sources.io.write_parquet``, ``sources.atomic.atomic_write_tables``
  and ``AtomicBatchWriter.stage`` / ``.commit``;
- ``cachereg.memo`` and the six module memo structures
  (``ml._EDGE_CACHE``, ``_PURCHASE_EDGE_CACHE``, ``_ORIENTED_CACHE``,
  ``_LPA_CACHE``, ``_LSH_BROADCASTS`` and ``dedup._SHINGLE_CACHE``).

While a span is open the Spark job group is ``<key>:<phase>``, so the
event log can be rolled up per key and phase. Spans live in memory and
are written out once, when the run ends. The wrappers stay installed
for the whole traced run; with ``enabled`` off they only forward.
``Tracer.cost`` is the time the tracer's own bookkeeping took.
"""

from __future__ import annotations

import sys
import time
from contextlib import contextmanager

PKG = "proceso_de_etl_spark"

MEMO_DICTS = (
    ("operators.ml", "_EDGE_CACHE"),
    ("operators.ml", "_PURCHASE_EDGE_CACHE"),
    ("operators.ml", "_ORIENTED_CACHE"),
    ("operators.ml", "_LPA_CACHE"),
    ("operators.dedup", "_SHINGLE_CACHE"),
)


class Tracer:
    """Span recorder for one traced run (single caller thread)."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self.counts: dict[str, int] = {}
        self.key: str | None = None
        self.pass_no = -1
        self._stack: list[int] = []
        self._groups: list[str | None] = []
        self._sc = None
        self._memo_open: dict[tuple[str, object], int] = {}
        self.cost = 0.0

    def bind(self, spark) -> None:
        self._sc = spark.sparkContext

    def count(self, name: str, n: int = 1) -> None:
        if self.enabled:
            t = time.perf_counter()
            self.counts[name] = self.counts.get(name, 0) + n
            self.cost += time.perf_counter() - t

    def _set_group(self, group: str | None) -> None:
        if self._sc is None:
            return
        if group is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self._sc.setJobGroup(group, group)

    def open(self, name: str, layer: str, phase: str | None = None) -> int:
        """Open a span as a child of the innermost open one; with a
        ``phase`` the job group becomes ``<key>:<phase>`` until it closes."""
        t = time.perf_counter()
        idx = len(self.spans)
        self.spans.append(
            {
                "name": name,
                "layer": layer,
                "key": self.key,
                "pass": self.pass_no,
                "parent": self._stack[-1] if self._stack else None,
                "start": time.time(),
                "end": None,
                "phase": phase,
            }
        )
        self._stack.append(idx)
        if phase is not None:
            group = f"{self.key}:{phase}"
            self._groups.append(group)
            self._set_group(group)
        self.cost += time.perf_counter() - t
        return idx

    def close(self, idx: int) -> None:
        """Close span ``idx`` and every span still open inside it."""
        while self._stack and self._stack[-1] != idx:
            self.close(self._stack[-1])
        if not self._stack:
            return
        t = time.perf_counter()
        self._stack.pop()
        rec = self.spans[idx]
        rec["end"] = time.time()
        if rec["phase"] is not None:
            self._groups.pop()
            self._set_group(self._groups[-1] if self._groups else None)
        self.cost += time.perf_counter() - t

    @contextmanager
    def span(self, name: str, layer: str, phase: str | None = None):
        if not self.enabled:
            yield
            return
        idx = self.open(name, layer, phase)
        try:
            yield
        finally:
            self.close(idx)

    # -- memo structures -------------------------------------------------

    def memo_lookup(self, name: str, key, hit: bool) -> None:
        """A memo was consulted; a miss opens a build span that the
        matching store closes."""
        if not self.enabled:
            return
        self.count("memo_calls")
        if hit:
            self.count("memo_hits")
        else:
            self._memo_open[(name, key)] = self.open(f"memo:{name}", "cachereg", "memo")

    def memo_store(self, name: str, key) -> None:
        idx = self._memo_open.pop((name, key), None)
        if idx is not None:
            self.close(idx)


def _counting_dict(tracer: Tracer, name: str):
    class CountingDict(dict):
        def get(self, key, default=None):
            hit = dict.__contains__(self, key)
            tracer.memo_lookup(name, key, hit)
            return dict.get(self, key, default)

        def __setitem__(self, key, value):
            dict.__setitem__(self, key, value)
            tracer.memo_store(name, key)

    return CountingDict


def _counting_list(tracer: Tracer):
    class CountingList(list):
        def append(self, value):
            tracer.count("memo_calls")
            list.append(self, value)

    return CountingList


def _engine_modules():
    return [m for n, m in list(sys.modules.items()) if n == PKG or n.startswith(PKG + ".")]


def _replace_everywhere(orig, wrapper) -> None:
    for mod in _engine_modules():
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, wrapper)


def install(tracer: Tracer) -> dict:
    """Wrap the layer entry points; returns handles the run reads back
    (the memo structures, for their entry counts)."""
    from proceso_de_etl_spark import cachereg
    from proceso_de_etl_spark.operators import dedup, ml
    from proceso_de_etl_spark.sources import atomic, catalog
    from proceso_de_etl_spark.sources import io as sources_io

    orig_load = catalog.load_table

    def load_table(spark, sf_dir, name):
        tracer.count("load_table_calls")
        with tracer.span(f"load_table:{name}", "sources.catalog", "load"):
            return orig_load(spark, sf_dir, name)

    _replace_everywhere(orig_load, load_table)

    def timed_write(fn, label):
        def wrapper(*args, **kwargs):
            with tracer.span(label, "sources.write", "write"):
                return fn(*args, **kwargs)

        return wrapper

    orig_wp = sources_io.write_parquet
    _replace_everywhere(orig_wp, timed_write(orig_wp, "write_parquet"))
    orig_awt = atomic.atomic_write_tables
    _replace_everywhere(orig_awt, timed_write(orig_awt, "atomic_write_tables"))
    writer = atomic.AtomicBatchWriter
    writer.stage = timed_write(writer.stage, "AtomicBatchWriter.stage")
    writer.commit = timed_write(writer.commit, "AtomicBatchWriter.commit")

    orig_memo = cachereg.memo

    def memo(spark, name, sf_dir, build):
        key = (spark.sparkContext.applicationId, name, sf_dir)
        hit = key in cachereg._CACHE
        tracer.memo_lookup("cachereg", key, hit)
        try:
            return orig_memo(spark, name, sf_dir, build)
        finally:
            tracer.memo_store("cachereg", key)

    cachereg.memo = memo

    mods = {"operators.ml": ml, "operators.dedup": dedup}
    structures = {"cachereg._CACHE": lambda: cachereg._CACHE}
    for mod_name, attr in MEMO_DICTS:
        mod = mods[mod_name]
        cls = _counting_dict(tracer, f"{mod_name.split('.')[-1]}.{attr}")
        setattr(mod, attr, cls(getattr(mod, attr)))
        structures[f"{mod_name}.{attr}"] = lambda m=mod, a=attr: getattr(m, a)
    ml._LSH_BROADCASTS = _counting_list(tracer)(ml._LSH_BROADCASTS)
    structures["operators.ml._LSH_BROADCASTS"] = lambda: ml._LSH_BROADCASTS
    return structures


def memo_entries(structures: dict) -> int:
    return sum(len(get()) for get in structures.values())


def progress_listener(events: list):
    """A StreamingQueryListener that appends micro-batch progress to
    ``events``; spans attribute each event to a key by its timestamp."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def onQueryStarted(self, event):
            events.append({"kind": "started", "run_id": str(event.runId), "ts": event.timestamp})

        def onQueryProgress(self, event):
            p = event.progress
            events.append(
                {
                    "kind": "progress",
                    "run_id": str(p.runId),
                    "batch_id": p.batchId,
                    "ts": p.timestamp,
                    "input_rows": p.numInputRows,
                    "trigger_ms": (p.durationMs or {}).get("triggerExecution", 0),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressListener()


def self_times(spans: list[dict]) -> list[float]:
    """Each span's duration minus the part its child spans cover
    (children of one caller thread never overlap each other)."""
    child = [0.0] * len(spans)
    for s in spans:
        if s["parent"] is not None and s["end"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return [
        (s["end"] - s["start"]) - child[i] if s["end"] is not None else 0.0
        for i, s in enumerate(spans)
    ]
