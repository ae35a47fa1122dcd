"""In-memory spans around calls into the engine's layers.

A span records its name, start, end, parent and run id.  When a Spark
session is attached, each span also tags the jobs it triggers with a
job group of its own id; ``attach_stage_metrics`` later reads those
jobs' stages from Spark's status store (through the JVM gateway) and
adds executor run, CPU and GC time, task counts, input records, shuffle
writes and spill.  Spans are kept in memory and written out once, when
the run ends.
"""
from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from pathlib import Path

STAGE_FIELDS = ("stages", "tasks", "run_s", "cpu_s", "gc_s", "input_records",
                "shuffle_write_mb", "shuffle_write_records", "spill_mb")


@contextmanager
def no_span(name: str):
    """Stand-in for ``Tracer.span`` in untraced passes."""
    yield {}


class Tracer:
    def __init__(self, run_id: str, spark=None):
        self.run_id = run_id
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": f"{self.run_id}.{next(self._ids)}", "name": name,
               "parent": parent["id"] if parent else None,
               "run": self.run_id}
        self._stack.append(rec)
        self._set_group(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(rec)

    def _set_group(self, rec: dict | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if rec is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(rec["id"], rec["name"])

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps(self.spans, indent=1, default=str))


def self_times(spans: list[dict]) -> dict[str, float]:
    """span id -> duration minus the part of it covered by the union of
    its direct children's intervals (clipped to the span)."""
    kids: dict[str, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(kids.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def subtree(spans: list[dict], root_id: str) -> list[dict]:
    """The span ``root_id`` and all spans below it."""
    kids: dict[str, list[dict]] = {}
    for s in spans:
        kids.setdefault(s.get("parent"), []).append(s)
    out, todo = [], [s for s in spans if s["id"] == root_id]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], ()))
    return out


def _scala_seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.size())]


def attach_stage_metrics(spark, spans: list[dict]) -> None:
    """Add the STAGE_FIELDS of the jobs each span tagged with its group
    (its own jobs, not its children's) to the span records."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(10_000)
    store = jsc.statusStore()
    by_group: dict[str, list[int]] = {}
    for job in _scala_seq(store.jobsList(None)):
        group = job.jobGroup()
        if group.isDefined():
            by_group.setdefault(group.get(), []).extend(_scala_seq(job.stageIds()))
    wanted = {s["id"] for s in spans}
    stage_ids = {sid for g, ids in by_group.items() if g in wanted for sid in ids}
    stages: dict[int, dict] = {}
    no_quantiles = spark.sparkContext._gateway.new_array(
        spark.sparkContext._jvm.double, 0)
    for st in _scala_seq(store.stageList(None, False, False, no_quantiles, None)):
        sid = st.stageId()
        if sid not in stage_ids or st.status().toString() != "COMPLETE":
            continue
        stages[sid] = {
            "tasks": st.numCompleteTasks(),
            "run_s": st.executorRunTime() / 1e3,
            "cpu_s": st.executorCpuTime() / 1e9,
            "gc_s": st.jvmGcTime() / 1e3,
            "input_records": st.inputRecords(),
            "shuffle_write_mb": st.shuffleWriteBytes() / 2**20,
            "shuffle_write_records": st.shuffleWriteRecords(),
            "spill_mb": (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20,
        }
    for s in spans:
        mine = [stages[i] for i in set(by_group.get(s["id"], ())) if i in stages]
        s["stages"] = len(mine)
        for f in STAGE_FIELDS[1:]:
            s[f] = sum(m[f] for m in mine)
