"""In-memory spans around calls into the engine, tagged with the Spark
jobs they ran.

Spans are recorded from the benchmark's own files. Each span sets a
Spark job group, so every job its calls trigger is attributed to it; the
job, task, shuffle-write and spill counts are read from Spark's status
tracker and status store after the run (the listener bus is drained
first, so late events are not lost). Stage spans come from wrapping the
public ``plans.pipeline.StageWriter.materialize`` for the traced run
only; the untraced run executes the engine unpatched.

The tracer times its own bookkeeping, reported as ``trace.bookkeeping_s``.
"""

from __future__ import annotations

import itertools
import json
import os
import time
from contextlib import contextmanager
from typing import Dict, Iterator, List, Optional

from .stats import self_time

# pipeline stage -> engine layer (module) that does the stage's work
STAGE_LAYER = {
    "chunks": "chunking",
    "triples_raw": "extraction",
    "mentions": "extraction",
    "linked_chunks": "linking",
    "structural_edges": "linking",
    "similar_edges": "similarity",
    "canonical_map": "canonicalize",
    "triples": "canonicalize",
    "structural_edges_canon": "canonicalize",
    "nodes": "materialize",
    "edges": "materialize",
}


class Span(dict):
    """One span: name, layer, start/end (perf_counter s), parent id, attrs,
    and after :meth:`Tracer.harvest` its Spark counters."""

    @property
    def dur(self) -> float:
        return self["end"] - self["start"]


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: List[Span] = []
        self.bookkeeping_s = 0.0
        self._stack: List[Span] = []
        self._ids = itertools.count(1)
        self._unpatch = None

    # -- recording -------------------------------------------------------
    @contextmanager
    def span(self, name: str, layer: str, **attrs) -> Iterator[Optional[Span]]:
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        sp = Span(
            id=next(self._ids),
            parent=self._stack[-1]["id"] if self._stack else None,
            name=name,
            layer=layer,
            attrs=dict(attrs),
        )
        self._stack.append(sp)
        self._set_group(sp)
        sp["start"] = time.perf_counter()
        self.bookkeeping_s += sp["start"] - t0
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.spans.append(sp)
            self.bookkeeping_s += time.perf_counter() - sp["end"]

    def _set_group(self, sp: Optional[Span]) -> None:
        sc = self.spark.sparkContext
        if sp is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(f"span-{sp['id']}", sp["name"])

    def patch_stage_writer(self) -> None:
        """Wrap ``StageWriter.materialize`` so every pipeline stage gets a
        span carrying the stage's own reported ``wall_s`` (the rest of the
        span is the lineage bookkeeping)."""
        if not self.enabled:
            return
        from context_aware_rag_spark.plans.pipeline import StageWriter

        original = StageWriter.materialize
        tracer = self

        def traced(writer, stage, df_thunk):
            with tracer.span(f"stage:{stage}", STAGE_LAYER.get(stage, "pipeline"), stage=stage) as sp:
                out = original(writer, stage, df_thunk)
            m = writer.metrics.get(stage, {})
            sp["attrs"].update(wall_s=m.get("wall_s"), rows=m.get("rows"),
                               resumed=bool(m.get("resumed")))
            return out

        StageWriter.materialize = traced

        def unpatch():
            StageWriter.materialize = original

        self._unpatch = unpatch

    def close(self) -> None:
        if self._unpatch is not None:
            self._unpatch()
            self._unpatch = None

    # -- counters --------------------------------------------------------
    def harvest(self) -> None:
        """Attach Spark job/task/shuffle/spill counts to every span (own
        jobs only; :meth:`subtree` sums children)."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = jsc.statusStore()
        for sp in self.spans:
            jobs = tracker.getJobIdsForGroup(f"span-{sp['id']}")
            tasks = shuffle = spill = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else []):
                    st = tracker.getStageInfo(sid)
                    if st is None or st.numCompletedTasks == 0:
                        continue  # skipped / reused stage: no work ran
                    tasks += st.numCompletedTasks
                    sd = store.lastStageAttempt(sid)
                    shuffle += sd.shuffleWriteBytes()
                    spill += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            sp.update(jobs=len(jobs), tasks=tasks, shuffle_write_bytes=shuffle, spill_bytes=spill)
        self.bookkeeping_s += time.perf_counter() - t0

    def children(self, sp: Span) -> List[Span]:
        return [c for c in self.spans if c["parent"] == sp["id"]]

    def subtree(self, sp: Span, key: str) -> float:
        return sp.get(key, 0) + sum(self.subtree(c, key) for c in self.children(sp))

    def self_time(self, sp: Span) -> float:
        return self_time(sp["start"], sp["end"], [(c["start"], c["end"]) for c in self.children(sp)])

    def write(self, path: str, extra: Dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1, default=str)
