"""Span recorder for traced runs, with Spark job attribution.

Every span gets its own job group, so the jobs Spark runs while the span is
open are found afterwards through ``statusTracker().getJobIdsForGroup`` and
their stages through the status store's ``lastStageAttempt`` (both work with
``spark.ui.enabled=false``). Spans stay in memory; ``dump`` writes them once
at the end of the run.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._pending: list[dict] = []
        self._next_id = 0

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(span["group"], span["name"])

    @contextmanager
    def span(self, name: str, op: int):
        """Time the block and attribute the Spark jobs it runs to ``name``.
        Jobs go to the innermost open span."""
        sid = self._next_id
        self._next_id += 1
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "op": op,
               "parent": parent["id"] if parent else None,
               "group": f"perfbench-span-{sid}"}
        self._set_group(rec)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["dur"] = rec["end"] - rec["start"]
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(rec)
            self._pending.append(rec)

    def attribute(self) -> None:
        """Resolve job, task, shuffle and spill counts of the spans closed
        since the last call. Call it outside timed regions, after each op,
        while the status store still retains the jobs."""
        if not self._pending:
            return
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        store = self._jsc.statusStore()
        for rec in self._pending:
            stats = {"jobs": 0, "tasks": 0, "failed_tasks": 0,
                     "shuffle_bytes": 0, "spill_bytes": 0,
                     "output_bytes": 0, "output_records": 0}
            for jid in tracker.getJobIdsForGroup(rec["group"]):
                stats["jobs"] += 1
                info = tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else []):
                    sd = store.lastStageAttempt(sid)
                    if sd.status().toString() == "SKIPPED":
                        continue
                    stats["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                    stats["failed_tasks"] += sd.numFailedTasks()
                    stats["shuffle_bytes"] += sd.shuffleWriteBytes()
                    stats["spill_bytes"] += (sd.memoryBytesSpilled()
                                             + sd.diskBytesSpilled())
                    stats["output_bytes"] += sd.outputBytes()
                    stats["output_records"] += sd.outputRecords()
            rec.update(stats)
        self._pending.clear()

    def by_op(self) -> dict[int, dict[str, dict]]:
        """{op: {span name: span}} over closed spans (the last span of a
        name wins within one op)."""
        out: dict[int, dict[str, dict]] = {}
        for rec in self.spans:
            out.setdefault(rec["op"], {})[rec["name"]] = rec
        return out

    def median(self, name: str, field: str) -> float:
        """Median over ops of one span field, 0 when the span never ran."""
        vals = [s[name][field] for s in self.by_op().values() if name in s]
        return statistics.median(vals) if vals else 0

    def first(self, name: str, field: str) -> float:
        """One span field of the first op that ran ``name``, 0 when the span
        never ran. Exact counts use it: the number of ops in a run depends
        on timing, the first op does not."""
        ops = self.by_op()
        for op in sorted(ops, key=lambda o: (o < 0, o)):
            if name in ops[op]:
                return ops[op][name][field]
        return 0

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec) + "\n")
