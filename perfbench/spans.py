"""Spans around layer calls, and executor metrics read from Spark's
event log.

A span records name, id, parent id, start and end (epoch seconds) and
any counts the caller attaches.  Spans of one run share ``run_id``.
Entering a span tags the Spark jobs it starts with
``setJobGroup("<run_id>:<span id>", name)``, so stages in the event log
can be attributed to the span.  Spans stay in memory until
:meth:`Tracer.dump`.

With tracing off, :meth:`Tracer.span` records nothing and tags nothing.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import time

#: event-log accumulables summed per stage, with the scale to the
#: reported unit (cpu ns -> s, gc ms -> s, bytes -> MiB)
_ACCUMULABLES = {
    "internal.metrics.executorCpuTime": ("cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_mb", 2**-20),
    "internal.metrics.input.bytesRead": ("input_mb", 2**-20),
    "internal.metrics.memoryBytesSpilled": ("spill_mb", 2**-20),
    "internal.metrics.diskBytesSpilled": ("spill_mb", 2**-20),
}
STAGE_FIELDS = ("cpu_s", "gc_s", "shuffle_write_mb", "input_mb", "spill_mb",
                "tasks")


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool) -> None:
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, **counts):
        """Record one span; the yielded dict takes counts the caller
        measures inside it."""
        if not self.enabled:
            yield {}
            return
        sc = self.spark.sparkContext
        rec = {
            "run_id": self.run_id,
            "id": len(self.spans),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            "group": f"{self.run_id}:{len(self.spans)}",
            **counts,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        sc.setJobGroup(rec["group"], name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(self._stack[-1]["group"], self._stack[-1]["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def attribute(self, stages: list[dict]) -> None:
        """Sum each span's stage metrics into ``span["spark"]``.  A stage
        belongs to the span whose job group started it; a stage with no
        group (a job submitted from a thread the query started) belongs
        to the innermost span open when it was submitted.  A parent's
        sums include its children's."""
        by_group = {s["group"]: s for s in self.spans}
        for s in self.spans:
            s["spark"] = dict.fromkeys(STAGE_FIELDS, 0.0)
        for st in stages:
            owner = by_group.get(st["group"])
            if owner is None:
                owner = _innermost(self.spans, st["submit"])
            while owner is not None:
                for k in STAGE_FIELDS:
                    owner["spark"][k] += st[k]
                owner = (self.spans[owner["parent"]]
                         if owner["parent"] is not None else None)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _innermost(spans: list[dict], t: float) -> dict | None:
    best = None
    for s in spans:
        if s["start"] <= t <= s.get("end", float("inf")):
            if best is None or s["start"] >= best["start"]:
                best = s
    return best


def read_stages(eventlog_dir: str) -> list[dict]:
    """Completed stages from the (uncompressed) event logs under
    ``eventlog_dir``: submission time (epoch s), job group and the
    :data:`STAGE_FIELDS` sums."""
    group_of: dict[int, str | None] = {}
    stages: list[dict] = []
    for path in sorted(glob.glob(os.path.join(eventlog_dir, "**", "*"),
                                 recursive=True)):
        if os.path.isdir(path):
            continue
        with open(path) as f:
            for line in f:
                if '"SparkListenerJobStart"' in line[:60]:
                    ev = json.loads(line)
                    grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        group_of.setdefault(sid, grp)
                elif '"SparkListenerStageCompleted"' in line[:60]:
                    info = json.loads(line)["Stage Info"]
                    rec = dict.fromkeys(STAGE_FIELDS, 0.0)
                    rec["tasks"] = float(info.get("Number of Tasks", 0))
                    for acc in info.get("Accumulables", []):
                        field = _ACCUMULABLES.get(acc.get("Name"))
                        if field:
                            rec[field[0]] += float(acc["Value"]) * field[1]
                    rec["stage"] = info["Stage ID"]
                    rec["submit"] = info.get("Submission Time", 0) / 1000.0
                    rec["group"] = group_of.get(info["Stage ID"])
                    stages.append(rec)
    return stages


def cpu_in(stages: list[dict], start: float, end: float) -> float:
    """Executor CPU seconds of the stages submitted in [start, end]."""
    return sum(s["cpu_s"] for s in stages if start <= s["submit"] <= end)
