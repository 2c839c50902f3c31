"""Spans recorded from outside the program, at the calls into its layers.

A ``Tracer`` replaces a layer entry point (a module attribute or an
instance method) with a wrapper that opens a span, labels the Spark jobs
the call starts with ``setJobGroup``, materializes a lazy DataFrame result
inside the span (``cache`` + ``count``, so the span holds the work it
caused rather than leaving it to the next action), and closes the span.
Spans stay in memory with their parent and are written out at the end.
Spark's side of each span is read afterwards from the driver's status
store, so nothing in the program changes.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import DataFrame


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._cached: list[DataFrame] = []
        self._rows: dict[int, int] = {}
        self._undo: list[tuple[object, str, object, bool]] = []

    # -- spans -------------------------------------------------------------
    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "group": f"perfbench-{len(self.spans)}",
            "counts": {},
            **attrs,
        }
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp["group"], name)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def materialize(self, df: DataFrame) -> DataFrame:
        """Compute every column of ``df`` now and keep it for the caller."""
        df = df.cache()
        self._rows[id(df)] = df.count()
        self._cached.append(df)
        return df

    def rows(self, df: DataFrame) -> int | None:
        return self._rows.get(id(df))

    def release(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached.clear()
        self._rows.clear()

    # -- wrapping ----------------------------------------------------------
    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Trace ``owner.attr``. ``after(span, args, result)`` may record
        counts; it runs inside the span, after materialization."""
        orig = getattr(owner, attr)
        had_own = attr in vars(owner)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name) as sp:
                out = orig(*args, **kwargs)
                if isinstance(out, DataFrame):
                    out = tracer.materialize(out)
                    sp["counts"]["rows"] = tracer.rows(out)
                if after is not None:
                    after(sp, args, out)
            return out

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, orig, had_own))

    def unwrap_all(self) -> None:
        for owner, attr, orig, had_own in reversed(self._undo):
            if had_own:
                setattr(owner, attr, orig)
            else:
                delattr(owner, attr)
        self._undo.clear()

    # -- Spark's side of each span ------------------------------------------
    def harvest(self, spans: list[dict]) -> None:
        """Attach jobs, stages, tasks and stage metrics to each span, read
        from the status store once the listener bus has drained."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(10_000)
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for sp in spans:
            agg = defaultdict(float)
            for job_id in tracker.getJobIdsForGroup(sp["group"]):
                agg["jobs"] += 1
                job = store.job(job_id)
                ids = job.stageIds()
                for i in range(ids.size()):
                    st = store.lastStageAttempt(ids.apply(i))
                    if st.status().toString() == "SKIPPED":
                        continue
                    agg["stages"] += 1
                    agg["tasks"] += st.numTasks()
                    agg["executor_run_s"] += st.executorRunTime() / 1e3
                    agg["executor_cpu_s"] += st.executorCpuTime() / 1e9
                    agg["gc_s"] += st.jvmGcTime() / 1e3
                    agg["shuffle_read_bytes"] += st.shuffleReadBytes()
                    agg["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    agg["spill_bytes"] += (
                        st.memoryBytesSpilled() + st.diskBytesSpilled()
                    )
                    agg["peak_exec_mem_bytes"] = max(
                        agg["peak_exec_mem_bytes"], st.peakExecutionMemory()
                    )
            sp["spark"] = dict(agg)

    # -- reports -----------------------------------------------------------
    def children(self, sp: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sp["id"]]

    def descendants(self, sp: dict) -> list[dict]:
        out, todo = [], [sp["id"]]
        while todo:
            pid = todo.pop()
            kids = [s for s in self.spans if s["parent"] == pid]
            out.extend(kids)
            todo.extend(k["id"] for k in kids)
        return out

    def self_time(self, sp: dict) -> float:
        dur = sp["end"] - sp["start"]
        return dur - sum(c["end"] - c["start"] for c in self.children(sp))

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp, default=str) + "\n")
