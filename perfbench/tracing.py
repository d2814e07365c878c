"""Benchmark spans, and their attribution to Spark's own event log.

Every operation the benchmark issues runs inside a span.  In a traced
run each span also becomes the Spark job group of the jobs it submits
(``SparkContext.setJobGroup``), so after ``spark.stop()`` the event log
can be split by span: jobs, stages and tasks by the job group, and the
SQL metrics of Python-evaluating plan nodes by the SQL execution those
jobs belong to.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

VERBS = ("run", "scan", "fetch", "append", "delete", "compact")
# child spans of a run() op, around the public pipeline calls it makes
RUN_PHASES = ("learn_params", "learn_fsst", "stage_input")

# SQL metrics shared by every Python-evaluating plan node (MapInArrow,
# MapInPandas, ArrowEvalPython, ...).  A node carrying the first one is
# counted as one Python eval.
PY_SENT = "data sent to Python workers"
PY_METRICS = {
    "time to run Python workers": "python_run_s",
    "time to start Python workers": "python_start_s",
    PY_SENT: "to_python_bytes",
    "data returned from Python workers": "from_python_bytes",
}
# Bytes of the files each parquet scan opened (a driver-side SQL
# metric).  The task-level "Input Metrics" undercount parquet reads here:
# vectored reads run on helper threads the per-thread counters miss.
FILES_READ = "size of files read"
# SQL metric type -> factor to seconds (times) or 1 (sizes, counts)
METRIC_SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1, "sum": 1}

# Job and span timestamps are compared at the event log's resolution,
# 1 ms per timestamp, with room for the scheduler stamping a job's end
# just after it released the action waiting on it.
CLOCK_TOLERANCE_S = 0.01

IDLE_GROUP = "perfbench-idle"


@dataclass
class Span:
    id: str
    name: str
    verb: str | None  # set on the top span of one operation
    parent: str | None
    op: str  # id of the operation span this span belongs to
    start: float  # epoch seconds, the clock Spark stamps events with
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Spans kept in memory.  ``sc`` is the SparkContext in a traced run
    and None otherwise: only a traced run tags jobs with span ids."""

    sc: object = None
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, verb: str | None = None):
        parent = self._stack[-1] if self._stack else None
        sid = f"pb-{len(self.spans)}"
        op = sid if verb is not None or parent is None else parent.op
        sp = Span(sid, name, verb, parent.id if parent else None, op,
                  time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sid)
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = sp.start + (time.perf_counter() - t0)
            self._stack.pop()
            self._set_group(self._stack[-1].id if self._stack
                            else IDLE_GROUP)

    def _set_group(self, group: str) -> None:
        if self.sc is not None:
            self.sc.setJobGroup(group, group)

    def ops(self, verb: str) -> list[Span]:
        return [s for s in self.spans if s.verb == verb]


# -- event log ----------------------------------------------------------------

def read_event_log(log_dir: str) -> list[dict]:
    """Every event under ``log_dir``: rolled logs
    (``eventlog_v2_*/events_<n>_*``, read in roll order) or single-file
    logs, plain or zstd-compressed."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "**", "*"),
                                  recursive=True)
             if os.path.isfile(p)
             and not os.path.basename(p).startswith((".", "appstatus"))]

    def roll_index(p: str):
        parts = os.path.basename(p).split("_")
        idx = int(parts[1]) if parts[0] == "events" and len(parts) > 1 \
            and parts[1].isdigit() else 0
        return os.path.dirname(p), idx, p

    events = []
    for p in sorted(paths, key=roll_index):
        if p.endswith(".zstd"):
            import pyarrow as pa
            with pa.CompressedInputStream(pa.OSFile(p), "zstd") as s:
                text = s.read().decode()
        else:
            with open(p) as f:
                text = f.read()
        events.extend(json.loads(line) for line in text.splitlines()
                      if line.strip())
    return events


def _plan_nodes(plan: dict):
    yield plan
    for c in plan.get("children", ()):
        yield from _plan_nodes(c)


def _interval_union(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class EventIndex:
    """The parts of an event log the attribution needs, indexed."""

    def __init__(self, events):
        self.jobs: dict[int, dict] = {}
        self.stage_group: dict[int, str | None] = {}
        self.stage_submit: dict[tuple[int, int], float] = {}
        self.tasks: dict[int, list[dict]] = {}
        self.plans: dict[int, list[dict]] = {}
        self.accum: dict[int, float] = {}
        for e in events:
            kind = e.get("Event", "")
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                ex = props.get("spark.sql.execution.id")
                self.jobs[e["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "exec": int(ex) if ex is not None else None,
                    "start": e["Submission Time"] / 1000.0,
                    "end": None}
            elif kind == "SparkListenerJobEnd":
                if e["Job ID"] in self.jobs:
                    self.jobs[e["Job ID"]]["end"] = \
                        e["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                info = e["Stage Info"]
                sid = info["Stage ID"]
                self.stage_group[sid] = (e.get("Properties") or {}).get(
                    "spark.jobGroup.id")
                self.stage_submit[(sid, info.get("Stage Attempt ID", 0))] = \
                    info["Submission Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                self.tasks.setdefault(e["Stage ID"], []).append(e)
                for acc in e["Task Info"].get("Accumulables", ()):
                    try:
                        upd = float(acc.get("Update", 0))
                    except (TypeError, ValueError):
                        continue
                    self.accum[acc["ID"]] = self.accum.get(acc["ID"], 0.0) \
                        + upd
            elif kind.endswith(("SparkListenerSQLExecutionStart",
                                "SparkListenerSQLAdaptiveExecutionUpdate")):
                self.plans.setdefault(int(e["executionId"]), []).append(
                    e["sparkPlanInfo"])
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for aid, val in e.get("accumUpdates", ()):
                    self.accum[aid] = self.accum.get(aid, 0.0) + float(val)

    def op_metrics(self, groups: set[str], start: float, end: float) -> dict:
        """Layer metrics of one operation: the jobs tagged with any of
        ``groups`` (the operation's span ids), inside its span
        ``[start, end]``."""
        jobs = [j for j in self.jobs.values()
                if j["group"] in groups and j["end"] is not None]
        ivs = [(j["start"], j["end"]) for j in jobs]
        job_wall = _interval_union(ivs)
        inside = _interval_union(
            (max(s, start), min(e, end)) for s, e in ivs
            if min(e, end) > max(s, start))
        out = {"spark.jobs": len(jobs), "spark.job_wall_s": job_wall,
               "pipeline.driver_s": (end - start) - inside,
               "clock_excess_s": job_wall - inside}

        stages = [s for s, g in self.stage_group.items() if g in groups]
        tasks = [t for s in stages for t in self.tasks.get(s, ())]
        wait = run = cpu = gc = 0.0
        written = shuffled = failed = 0
        for t in tasks:
            info, m = t["Task Info"], t.get("Task Metrics") or {}
            sub = self.stage_submit.get(
                (t["Stage ID"], t.get("Stage Attempt ID", 0)))
            if sub is not None:
                wait += max(0.0, info["Launch Time"] / 1000.0 - sub)
            run += m.get("Executor Run Time", 0) / 1e3
            cpu += m.get("Executor CPU Time", 0) / 1e9
            gc += m.get("JVM GC Time", 0) / 1e3
            written += (m.get("Output Metrics") or {}).get(
                "Bytes Written", 0)
            shuffled += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            if (t.get("Task End Reason") or {}).get("Reason") != "Success":
                failed += 1
        out.update({"spark.stages": len(stages), "spark.tasks": len(tasks),
                    "spark.task_wait_s": wait, "spark.executor_run_s": run,
                    "spark.executor_cpu_s": cpu, "spark.gc_s": gc,
                    "spark.failed_tasks": failed,
                    "io.bytes_written": written, "io.shuffle_bytes": shuffled})

        udf = {k: 0.0 for k in PY_METRICS.values()}
        evals = read = 0
        for ex in {j["exec"] for j in jobs if j["exec"] is not None}:
            versions = self.plans.get(ex, ())
            # the final (adaptive) plan is the one that ran; earlier
            # versions still own accumulators some tasks reported into
            if versions:
                evals += sum(
                    1 for n in _plan_nodes(versions[-1])
                    if any(m["name"] == PY_SENT for m in n.get("metrics", ())))
            seen = set()
            for plan in versions:
                for n in _plan_nodes(plan):
                    for m in n.get("metrics", ()):
                        aid = m["accumulatorId"]
                        if aid in seen:
                            continue
                        seen.add(aid)
                        if m["name"] == FILES_READ:
                            read += self.accum.get(aid, 0)
                        elif m["name"] in PY_METRICS:
                            udf[PY_METRICS[m["name"]]] += \
                                self.accum.get(aid, 0.0) \
                                * METRIC_SCALE.get(m.get("metricType"), 1)
        out["io.bytes_read"] = read
        out["udf.python_evals"] = evals
        out.update({f"udf.{k}": v for k, v in udf.items()})
        return out


def attribute(events, spans: list[Span]) -> tuple[dict, list[str], float]:
    """Per-layer metrics by verb (medians over the verb's operations), a
    list of attribution problems (a verb with no operation, or an
    operation whose ``driver_s + job_wall_s`` exceeds its span wall by
    more than the clock tolerance), and the largest such excess seen."""
    idx = EventIndex(events)
    members: dict[str, set[str]] = {}
    for s in spans:
        members.setdefault(s.op, set()).add(s.id)
    children: dict[str, dict[str, float]] = {}
    for s in spans:
        if s.verb is None and s.op != s.id:
            children.setdefault(s.op, {})[s.name] = s.dur

    metrics: dict[str, float] = {}
    problems: list[str] = []
    worst = 0.0
    for verb in VERBS:
        ops = [s for s in spans if s.verb == verb]
        if not ops:
            problems.append(f"{verb}: no operation traced")
            continue
        per_op = []
        for op in ops:
            m = idx.op_metrics(members[op.id], op.start, op.end)
            excess = m.pop("clock_excess_s")
            worst = max(worst, excess)
            if excess > CLOCK_TOLERANCE_S:
                problems.append(
                    f"{op.id} ({verb}): driver_s + job_wall_s exceeds the "
                    f"span wall {op.dur:.4f} s by more than "
                    f"{CLOCK_TOLERANCE_S} s")
            m["pipeline.wall_s"] = op.dur
            if verb == "run":
                phases = children.get(op.id, {})
                for ph in RUN_PHASES:
                    m[f"pipeline.{ph}_s"] = phases.get(ph, 0.0)
                m["pipeline.waves_s"] = op.dur - sum(
                    phases.get(ph, 0.0) for ph in RUN_PHASES)
            per_op.append(m)
        for key in per_op[0]:
            layer, _, name = key.partition(".")
            metrics[f"{layer}.{verb}.{name}"] = statistics.median(
                m[key] for m in per_op)
    return metrics, problems, worst
