"""In-memory spans around the engine's public calls, patched from outside.

A traced run wraps each public function where its caller looks it up
(``pipeline.merge_cdc_batch`` as well as ``operators.cdc.merge_cdc_batch``)
and records ``(name, start, end, parent, batch)`` per call. Nothing in the
engine changes; the wrappers are installed for traced batches only and
removed again, so untraced batches in the same run give the overhead.

Operators return lazy frames, so their call is only plan building. The
workload code opens its own span around the action that consumes each
frame; the plan-building call is recorded under ``<name>.plan``.
"""

from __future__ import annotations

import functools
import importlib
import json
import time
from contextlib import contextmanager

_PKG = "incremental_etl_on_lakehouse_spark"

# (module, owner attribute or None for the module itself, attribute, span)
TARGETS = [
    ("pipeline", "CdcMedallionPipeline", "create_tables", "pipeline.create_tables"),
    ("pipeline", "CdcMedallionPipeline", "ingest_available", "pipeline.ingest"),
    ("pipeline", "CdcMedallionPipeline", "bronze_to_silver_available", "pipeline.silver"),
    ("pipeline", "CdcMedallionPipeline", "silver_to_gold_available", "pipeline.gold"),
    ("sources.discovery", "LandingLedger", "list_new", "sources.list_new"),
    ("sources.json_source", "SchemaTracker", "evolve", "sources.schema_evolve"),
    ("pipeline", None, "read_json_auto_batch", "sources.read_json"),
    ("sources.json_source", None, "read_json_auto_batch", "sources.read_json"),
    ("pipeline", None, "merge_cdc_batch", "operators.cdc.merge_cdc_batch"),
    ("operators.cdc", None, "merge_cdc_batch", "operators.cdc.merge_cdc_batch"),
    ("pipeline", None, "merge_agg_delta", "operators.cdc.merge_agg_delta"),
    ("operators.cdc", None, "merge_agg_delta", "operators.cdc.merge_agg_delta"),
    ("pipeline", None, "cdf_signed_deltas", "operators.cdc.cdf_signed_deltas.plan"),
    ("lake.table", "LakeTable", "merge", "lake.table.merge"),
    ("lake.table", "LakeTable", "append", "lake.table.append"),
    ("lake.table", "LakeTable", "read_changes", "lake.table.read_changes"),
    ("lake.table", "LakeTable", "to_df", "lake.table.to_df"),
    ("lake.log", None, "write_commit", "lake.log.write_commit"),
    ("lake.log", None, "read_log", "lake.log.read_log"),
    ("lake.log", None, "table_state", "lake.log.table_state"),
    ("lake.streaming", "LakeStreamReader", "process_available", "lake.streaming.process_available"),
    ("operators.text", None, "quality_score", "operators.text.quality_score.plan"),
    ("operators.text", None, "language_id", "operators.text.language_id.plan"),
    ("operators.text", None, "bm25_topk", "operators.text.bm25_topk.plan"),
    ("operators.dedup", None, "dedup_exact", "operators.dedup.dedup_exact.plan"),
    ("operators.dedup", None, "minhash_band_table", "operators.dedup.minhash_band_table.plan"),
    (
        "operators.dedup",
        None,
        "incremental_dedup_candidates",
        "operators.dedup.incremental_dedup_candidates.plan",
    ),
]


class Tracer:
    """Span recorder. ``span()`` is a no-op unless tracing is on."""

    def __init__(self):
        self.spans: list[tuple[str, float, float, int, int]] = []
        self.on = False
        self.batch = -1
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        if not self.on:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append((name, time.perf_counter(), 0.0, parent, self.batch))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            n, t0, _, p, b = self.spans[idx]
            self.spans[idx] = (n, t0, time.perf_counter(), p, b)

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def install(self) -> None:
        """Patch every target and start recording."""
        for mod, owner, attr, name in TARGETS:
            obj = importlib.import_module(f"{_PKG}.{mod}")
            if owner is not None:
                obj = getattr(obj, owner)
            orig = obj.__dict__[attr]
            self._patched.append((obj, attr, orig))
            setattr(obj, attr, self._wrap(name, orig))
        self.on = True

    def uninstall(self) -> None:
        self.on = False
        for obj, attr, orig in reversed(self._patched):
            setattr(obj, attr, orig)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {"name": n, "start": s, "end": e, "parent": p, "batch": b}
                    for n, s, e, p, b in self.spans
                ],
                f,
            )

    def per_batch(self) -> dict[tuple[int, str], dict[str, dict[str, float]]]:
        """(batch, root span name) -> span name -> {"s": inclusive seconds,
        "self": seconds not covered by child spans, "calls": count}. A span
        nested in a span of the same name adds to its calls, not its time."""
        child_cover = [0.0] * len(self.spans)
        root = list(range(len(self.spans)))
        for i, (n, s, e, p, _) in enumerate(self.spans):
            if p >= 0:
                child_cover[p] += e - s
                root[i] = root[p]  # parents are recorded before children
        out: dict[tuple[int, str], dict[str, dict[str, float]]] = {}
        for i, (n, s, e, p, b) in enumerate(self.spans):
            tree = out.setdefault((b, self.spans[root[i]][0]), {})
            rec = tree.setdefault(n, {"s": 0.0, "self": 0.0, "calls": 0})
            rec["calls"] += 1
            rec["self"] += (e - s) - child_cover[i]
            anc = p
            while anc >= 0 and self.spans[anc][0] != n:
                anc = self.spans[anc][3]
            if anc < 0:
                rec["s"] += e - s
        return out
