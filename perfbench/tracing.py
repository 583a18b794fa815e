"""Spans and Spark stage counters for the traced run.

A span is recorded around each call into a layer (session start, data
generation, query build, Catalyst planning, execution, a micro-batch,
compaction, a read). Spans live in memory and are written as JSON
lines when the run ends. Stage counters come from Spark's own status
store: every traced phase runs under the job group "<op id>:<phase>",
and the stages of that group's jobs are summed once the listener bus
has drained. The untraced run uses `NullTracer`, which neither sets
job groups nor touches the status store.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

STAGE_FIELDS = (
    "stages", "tasks", "run_s", "cpu_s", "input_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "gc_s",
)


class NullTracer:
    """Tracing off: every hook is a no-op."""

    enabled = False

    @contextmanager
    def span(self, name: str, op: str = "", group: str | None = None):
        yield {}


class Tracer:
    """Tracing on: spans plus per-job-group stage counters."""

    enabled = True

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._seen_stages: set[int] = set()

    @contextmanager
    def span(self, name: str, op: str = "", group: str | None = None):
        """Record a span; with `group`, its Spark jobs run under that
        job group and the span gets their stage counters and job count."""
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(sid)
        if group:
            self.sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group:
                self.sc._jsc.clearJobGroup()
                rec.update(self.group_stats(group))

    def group_stats(self, group: str) -> dict:
        """Jobs launched under `group` and the summed counters of their
        stages (each stage counted once per run)."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        job_ids = list(tracker.getJobIdsForGroup(group))
        stage_ids: set[int] = set()
        for j in job_ids:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(int(s) for s in info.stageIds)
        out = dict.fromkeys(STAGE_FIELDS, 0)
        out["jobs"] = len(job_ids)
        store = jsc.statusStore()
        gw = self.sc._gateway
        no_status = gw.jvm.java.util.ArrayList()
        no_quantiles = gw.new_array(gw.jvm.double, 0)
        for sid in sorted(stage_ids - self._seen_stages):
            self._seen_stages.add(sid)
            try:
                attempts = store.stageData(sid, False, no_status, False,
                                           no_quantiles)
            except Py4JJavaError:  # evicted from the status store
                continue
            it = attempts.iterator()
            while it.hasNext():
                st = it.next()
                if st.numCompleteTasks() == 0:
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["run_s"] += st.executorRunTime() / 1e3
                out["cpu_s"] += st.executorCpuTime() / 1e9
                out["input_bytes"] += st.inputBytes()
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += (
                    st.memoryBytesSpilled() + st.diskBytesSpilled()
                )
                out["gc_s"] += st.jvmGcTime() / 1e3
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")

