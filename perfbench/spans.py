"""Span recorder that observes the program from outside.

A span is opened by the benchmark around a call into one of the
program's public functions. Each span gets its own Spark job group, so
every Spark job the call triggers (including the ones a "lazy" call runs
early, such as a checkpoint or a driver-side collect) is attributed to
it. After a pass, the recorder reads the jobs' stage metrics (tasks,
shuffle, spill, GC) and the SQL executions' final plans from Spark's
status store, which is populated with the UI disabled.

Spans are kept in memory and summarised when the run ends. With
``enabled=False`` every method is a no-op, so the untraced run executes
the same benchmark code with no job groups and no status-store reads.
"""

from __future__ import annotations

import contextlib
import re
import time
import uuid
from collections import defaultdict

PLAN_NODES = {
    "plan.exchanges": re.compile(r"\b\w*Exchange\b"),
    "plan.sort_aggregates": re.compile(r"\bSortAggregate\b"),
    "plan.bnlj": re.compile(r"\bBroadcastNestedLoopJoin\b"),
    "plan.python_nodes": re.compile(
        r"\b(?:ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|"
        r"FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|AggregateInPandas|"
        r"WindowInPandas|PythonMapInArrow)\w*"
    ),
}
_DURATION = re.compile(r"([\d.,]+) (ms|s|m|h|min)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


def _opt(v):
    """Unwrap a Scala Option returned through py4j (None when empty)."""
    return v.get() if v.isDefined() else None


def _duration_s(text: str | None) -> float:
    """First duration in a SQL metric string ('7 ms', 'total (...)\\n119 ms (...)')."""
    if not text:
        return 0.0
    m = _DURATION.search(text)
    return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)] if m else 0.0


def final_plan_tree(desc: str) -> str:
    """The executed tree of a formatted plan: the AQE final plan when
    present, else the tree printed before the node details."""
    tree = desc.split("\n\n", 1)[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    return tree


class Tracer:
    """Spans with name, start, end, parent and pass number."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self.pass_no: int | None = None
        self._stack: list[int] = []
        self._token = uuid.uuid4().hex[:8]
        self._job_floor = -1
        self._exec_floor = -1
        # the span a stage's upcoming write belongs to (set by the stage body)
        self.pending_exec: str | None = None

    def _group(self, sid: int) -> str:
        return f"perfbench-{self._token}-{sid}"

    def _set_group(self, sid: int | None) -> None:
        sc = self.spark.sparkContext
        if sid is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(self._group(sid), self._group(sid))

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "pass": self.pass_no,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    # -- per-pass collection -------------------------------------------------
    def begin_pass(self, n: int) -> None:
        """Mark the jobs and SQL executions that already exist, so the
        pass's own are exactly the ones created after this call."""
        self.pass_no = n
        if not self.enabled:
            return
        self._job_floor = max(self._job_ids(), default=-1)
        self._exec_floor = max(self._exec_ids(), default=-1)

    def _store(self):
        return self.spark.sparkContext._jsc.sc().statusStore()

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _job_ids(self) -> list[int]:
        jl = self._store().jobsList(None)
        return [jl.apply(i).jobId() for i in range(jl.size())]

    def _exec_ids(self) -> list[int]:
        el = self._sql_store().executionsList()
        return [el.apply(i).executionId() for i in range(el.size())]

    def end_pass(self) -> dict:
        """Attribute the pass's jobs and executions to its spans."""
        if not self.enabled:
            return {}
        store = self._store()
        by_group = {self._group(s["id"]): s for s in self.spans if s["pass"] == self.pass_no}
        span_metrics: dict[int, dict] = defaultdict(lambda: defaultdict(float))
        totals: dict[str, float] = defaultdict(float)
        jl = store.jobsList(None)
        jobs = [jl.apply(i) for i in range(jl.size())]
        jobs = [j for j in jobs if j.jobId() > self._job_floor]
        attributed = 0
        # a stage that later jobs reuse is listed in each of them: count it once
        seen_stages: set[int] = set()
        for j in jobs:
            group = _opt(j.jobGroup())
            span = by_group.get(group)
            if span is not None:
                attributed += 1
            m = span_metrics[span["id"]] if span is not None else defaultdict(float)
            m["jobs"] += 1
            totals["spark.jobs"] += 1
            sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
            if sub is not None and done is not None:
                m["job_s"] += (done.getTime() - sub.getTime()) / 1000.0
            ids = j.stageIds()
            for k in range(ids.size()):
                sid = ids.apply(k)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                st = store.lastStageAttempt(sid)
                if st.status().toString() != "COMPLETE":
                    continue
                vals = {
                    "stages": 1,
                    "tasks": st.numCompleteTasks(),
                    "shuffle_bytes": st.shuffleWriteBytes(),
                    "spill_bytes": st.memoryBytesSpilled() + st.diskBytesSpilled(),
                    "gc_s": st.jvmGcTime() / 1000.0,
                    "input_bytes": st.inputBytes(),
                }
                for key, v in vals.items():
                    m[key] += v
                    totals[f"spark.{key}"] += v
        sq = self._sql_store()
        el = sq.executionsList()
        for i in range(el.size()):
            e = el.apply(i)
            if e.executionId() <= self._exec_floor:
                continue
            span = by_group.get(e.description())
            if span is None:
                continue
            m = span_metrics[span["id"]]
            tree = final_plan_tree(e.physicalPlanDescription())
            for key, pat in PLAN_NODES.items():
                m[key] += len(pat.findall(tree))
            if "InsertIntoHadoopFsRelationCommand" in tree:
                m.update(self._write_metrics(sq, e.executionId(), m))
        for span in by_group.values():
            span["metrics"] = dict(span_metrics.get(span["id"], {}))
        stats = dict(totals)
        stats["trace.jobs_attributed_ratio"] = attributed / len(jobs) if jobs else 1.0
        return stats

    @staticmethod
    def _write_metrics(sq, exec_id: int, m) -> dict:
        """Commit time of a file write, from its write command's SQL metrics."""
        values = sq.executionMetrics(exec_id)
        nodes = sq.planGraph(exec_id).allNodes()
        commit = m.get("write_commit_s", 0.0)
        for k in range(nodes.size()):
            node = nodes.apply(k)
            if "InsertIntoHadoopFsRelationCommand" not in node.name():
                continue
            mets = node.metrics()
            for q in range(mets.size()):
                met = mets.apply(q)
                if met.name() in ("task commit time", "job commit time"):
                    commit += _duration_s(_opt(values.get(met.accumulatorId())))
        return {"write_commit_s": commit}

    # -- summaries -------------------------------------------------------------
    def self_times(self, pass_no: int) -> dict[str, float]:
        """Per span name: summed duration minus the time its children cover."""
        spans = [s for s in self.spans if s["pass"] == pass_no and s["end"] is not None]
        child = defaultdict(float)
        for s in spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = defaultdict(float)
        for s in spans:
            out[s["name"]] += (s["end"] - s["start"]) - child[s["id"]]
        return dict(out)

    def span_sums(self, pass_no: int) -> dict[str, dict[str, float]]:
        """Per span name: summed Spark metrics of its own jobs."""
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            if s["pass"] != pass_no:
                continue
            for k, v in s.get("metrics", {}).items():
                out[s["name"]][k] += v
        return {k: dict(v) for k, v in out.items()}
