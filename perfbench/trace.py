"""Spans and counts for the traced run.

A span wraps one call from the benchmark into a layer of the engine: its
name, start, end and parent are kept in memory and written out when the run
ends.  Each span also runs under its own Spark job group, so the status
tracker attributes every Spark job (and its stages and tasks) to the
innermost span that launched it.  No span goes inside the package.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from pathlib import Path

PYTHON_NODES = ("MapInPandas", "ArrowEvalPython")


def python_passes(df) -> int:
    """Python crossings (``MapInPandas`` / ``ArrowEvalPython`` nodes) in
    the physical plan Spark would execute for ``df``, counting the plans
    of cached relations it scans."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(plan.count(node) for node in PYTHON_NODES)


def inspect_plan(tr, df, prefix: str) -> None:
    """Plan ``df`` in span ``<prefix>.plan``; count its Python crossings
    as ``<prefix>.python_passes`` and the planning time as
    ``<prefix>.plan_s``."""
    with tr.span(f"{prefix}.plan") as rec:
        passes = python_passes(df)
    tr.count(f"{prefix}.python_passes", passes)
    tr.count(f"{prefix}.plan_s", rec["end"] - rec["start"])


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._t0 = time.perf_counter()
        self._stack: list[int] = []
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}

    def _group(self, sid: int) -> str:
        return f"perfbench-span-{sid}"

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent,
               "start": time.perf_counter() - self._t0}
        self.spans.append(rec)
        self._stack.append(sid)
        self._sc.setJobGroup(self._group(sid), name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            if parent is None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self._sc.setJobGroup(self._group(parent),
                                     self.spans[parent]["name"])

    def count(self, name: str, value: float) -> None:
        self.counts[name] = value

    def _spark_counts(self, sid: int) -> tuple[int, int, int]:
        tracker = self._sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(self._group(sid))
        stages = tasks = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            for stage_id in info.stageIds:
                stages += 1
                stage = tracker.getStageInfo(stage_id)
                tasks += stage.numTasks if stage is not None else 0
        return len(jobs), stages, tasks

    def finish(self) -> list[dict]:
        """Fill in self time and Spark job/stage/task counts per span."""
        for rec in self.spans:
            rec["dur"] = rec["end"] - rec["start"]
            rec["jobs"], rec["stages"], rec["tasks"] = self._spark_counts(rec["id"])
        for rec in self.spans:
            kids = [c["dur"] for c in self.spans if c["parent"] == rec["id"]]
            rec["self"] = rec["dur"] - sum(kids)
            rec["coverage"] = sum(kids) / rec["dur"] if kids and rec["dur"] else None
        return self.spans

    def subtree(self, sid: int) -> list[dict]:
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(self.spans[cur])
            todo.extend(c["id"] for c in self.spans if c["parent"] == cur)
        return out

    def write(self, path: Path, extra: dict) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "counts": self.counts, **extra},
                      fh, indent=1)
