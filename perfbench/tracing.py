"""Span recorder and Spark event-log reader.

Spans are recorded by the benchmark around each call into a package layer
and around each materialization (name ``<layer>.<what>``, start, end,
parent, run id), kept in memory and written out when the run ends.  Every
span also sets its own Spark job group, so the event-log jobs, stages and
SQL-node metrics attach to the innermost span that caused them.

A span's self time splits into parts, each from a measured quantity:

* ``session.driver`` - self time with no stage of the span's job group
  running (planning, scheduling, driver-side Python, eager builders);
* ``<span layer>.jvm`` - task-thread CPU time (``executorCpuTime``),
  charged to the layer of the span that ran the job;
* ``<layer>.python`` - task time off the JVM CPU while Python workers ran
  ("time to run Python workers" per plan node), charged to the layer whose
  kernel each UDF runs.  Pipelined UDF nodes overlap, so the off-CPU time
  is shared among them in proportion to their metric;
* ``<span layer>.wait`` - the rest of the off-CPU task time (shuffle
  fetch, disk, Python time beyond the metric);
* ``session.idle`` - slot time no task used (``k`` x stage union minus
  task time).

Task-time parts are slot time; dividing by ``k`` turns them into wall
time.  The parts add up to the self time by construction: ``driver`` is
the self time minus the stage union and ``idle`` is the slot time minus
the task time.  Only two clamps can break the sum, and both mean the event
log disagrees with the span's clock: stages that run longer than the span
(``driver`` would be negative) and task time beyond ``k`` x the stage union
(``idle`` would be negative).  :func:`span_parts` returns the seconds the
clamps dropped.

So the sum is no test of the attribution.  :func:`closes` tests what the
sum cannot hide: ``wait`` and ``idle`` are remainders, not measurements,
and a job's parts count as adding up when those remainders plus the
clamped seconds stay within 10% of its wall.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

PYTHON_TIME = "time to run Python workers"
ARROW_SENT = "data sent to Python workers"
ARROW_RETURNED = "data returned from Python workers"
OUTPUT_ROWS = "number of output rows"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float | None = None
    group: str = ""

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def wall(self) -> float:
        return (self.end or self.start) - self.start


class Tracer:
    """In-memory span recorder; ``enabled=False`` records nothing and
    leaves the job group alone."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        # epoch clock, so spans line up with the event log's timestamps
        s = Span(len(self.spans), name, parent.id if parent else None, self.run_id, time.time())
        s.group = f"perfbench-{self.run_id}-{s.id}"
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(s.group, name)
        try:
            yield
        finally:
            s.end = time.time()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def subtree(self, span: Span) -> list[Span]:
        out = [span]
        for c in self.children(span):
            out.extend(self.subtree(c))
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def union_length(intervals) -> float:
    """Total length covered by (start, end) intervals."""
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


def self_time(span: Span, children: list[Span]) -> float:
    """Span wall minus the part of it its child spans cover."""
    inside = [(max(c.start, span.start), min(c.end, span.end)) for c in children]
    return span.wall - union_length([iv for iv in inside if iv[1] > iv[0]])


@dataclass
class PlanNode:
    name: str
    desc: str
    metrics: dict  # metric name -> accumulator id
    children: list = field(default_factory=list)


@dataclass
class GroupStats:
    """Everything the event log says about one job group."""

    stage_intervals: list = field(default_factory=list)  # seconds since epoch
    n_jobs: int = 0
    n_stages: int = 0
    n_tasks: int = 0
    failed_tasks: int = 0
    task_ms: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    task_skew: float = 0.0  # max / median task duration in the longest stage
    accums: dict = field(default_factory=dict)  # accumulator id -> summed value


class EventLog:
    """Reader for one uncompressed, non-rolling Spark event log."""

    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.nodes: dict[int, tuple[PlanNode, str]] = {}  # accum id -> (node, metric)
        self.plans: list[PlanNode] = []
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    @classmethod
    def find(cls, log_dir: str) -> "EventLog":
        files = [os.path.join(log_dir, f) for f in os.listdir(log_dir) if not f.startswith(".")]
        files = [f for f in files if os.path.isfile(f) and not f.endswith(".inprogress")]
        if len(files) != 1:
            raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
        return cls(files[0])

    def _plan(self, info: dict) -> PlanNode:
        node = PlanNode(
            info["nodeName"],
            info.get("simpleString", ""),
            {m["name"]: m["accumulatorId"] for m in info.get("metrics", [])},
        )
        for m in info.get("metrics", []):
            self.nodes[m["accumulatorId"]] = (node, m["name"])
        node.children = [self._plan(c) for c in info.get("children", [])]
        return node

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs[e["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"),
                "stages": e["Stage IDs"],
                "start": e["Submission Time"] / 1e3,
            }
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(e["Job ID"])
            if job is not None:
                job["end"] = e["Completion Time"] / 1e3
                job["result"] = e["Job Result"]["Result"]
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = self.stages.setdefault(info["Stage ID"], {"tasks": []})
            st["submit"] = info.get("Submission Time", 0) / 1e3
            st["complete"] = info.get("Completion Time", 0) / 1e3
            st["accums"] = {a["ID"]: a.get("Value") for a in info.get("Accumulables", [])}
        elif kind == "SparkListenerTaskEnd":
            st = self.stages.setdefault(e["Stage ID"], {"tasks": []})
            ti, tm = e["Task Info"], e.get("Task Metrics") or {}
            st["tasks"].append({
                "dur": ti["Finish Time"] - ti["Launch Time"],
                "failed": bool(ti.get("Failed")) or e["Task End Reason"]["Reason"] != "Success",
                "run_ms": tm.get("Executor Run Time", 0) + tm.get("Executor Deserialize Time", 0),
                "cpu_ns": tm.get("Executor CPU Time", 0) + tm.get("Executor Deserialize CPU Time", 0),
                "gc_ms": tm.get("JVM GC Time", 0),
                "sw": (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                "sr": sum((tm.get("Shuffle Read Metrics") or {}).get(k, 0)
                          for k in ("Remote Bytes Read", "Local Bytes Read")),
                "spill": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
            })
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            self.plans.append(self._plan(e["sparkPlanInfo"]))

    def group_stats(self, groups: set[str]) -> GroupStats:
        g = GroupStats()
        longest = None
        for job in self.jobs.values():
            if job["group"] not in groups:
                continue
            g.n_jobs += 1
            for sid in job["stages"]:
                st = self.stages.get(sid)
                if not st or "complete" not in st or not st["tasks"]:
                    continue  # skipped (already computed) stage
                g.n_stages += 1
                g.stage_intervals.append((st["submit"], st["complete"]))
                tasks = st["tasks"]
                g.n_tasks += len(tasks)
                g.failed_tasks += sum(t["failed"] for t in tasks)
                g.task_ms += sum(t["run_ms"] for t in tasks)
                g.cpu_s += sum(t["cpu_ns"] for t in tasks) / 1e9
                g.gc_s += sum(t["gc_ms"] for t in tasks) / 1e3
                g.shuffle_write_bytes += sum(t["sw"] for t in tasks)
                g.shuffle_read_bytes += sum(t["sr"] for t in tasks)
                g.spill_bytes += sum(t["spill"] for t in tasks)
                for aid, v in st["accums"].items():
                    if aid in self.nodes:
                        g.accums[aid] = g.accums.get(aid, 0) + _num(v)
                if longest is None or st["complete"] - st["submit"] > longest[0]:
                    longest = (st["complete"] - st["submit"], [t["dur"] for t in tasks])
        if longest and len(longest[1]) > 1:
            g.task_skew = max(longest[1]) / max(1.0, statistics.median(longest[1]))
        return g

    def node_metric(self, g: GroupStats, metric: str, match=lambda node: True) -> float:
        """Sum of ``metric`` over the plan nodes ``match`` accepts."""
        return sum(
            v for aid, v in g.accums.items()
            if self.nodes[aid][1] == metric and match(self.nodes[aid][0])
        )

    def python_ms_by_udf(self, g: GroupStats) -> dict[str, float]:
        """Python worker time per plan node, keyed by the node's description."""
        out: dict[str, float] = {}
        for aid, v in g.accums.items():
            node, metric = self.nodes[aid]
            if metric == PYTHON_TIME:
                out[node.desc] = out.get(node.desc, 0.0) + v
        return out

    def input_rows(self, g: GroupStats, match) -> float:
        """Rows entering the nodes ``match`` accepts: the output rows of the
        nearest descendant that counts them."""
        total = 0.0
        seen = set()
        for plan in self.plans:
            for node in _walk(plan):
                if not match(node):
                    continue
                child = _first_counting(node.children)
                if child is None:
                    continue
                aid = child.metrics[OUTPUT_ROWS]
                if aid in g.accums and aid not in seen:
                    seen.add(aid)
                    total += g.accums[aid]
        return total

    def unattributed_stage_s(self, groups: set[str], windows: list[tuple]) -> float:
        """Stage time that starts inside one of ``windows`` (the traced jobs)
        but belongs to no span's job group."""
        out = []
        for job in self.jobs.values():
            if job["group"] in groups:
                continue
            for sid in job["stages"]:
                st = self.stages.get(sid)
                if st and "complete" in st and st["tasks"] and any(
                    a <= st["submit"] <= b for a, b in windows
                ):
                    out.append((st["submit"], st["complete"]))
        return union_length(out)


def _num(v) -> float:
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def _walk(node: PlanNode):
    yield node
    for c in node.children:
        yield from _walk(c)


def _first_counting(nodes: list[PlanNode]) -> PlanNode | None:
    for n in nodes:
        if OUTPUT_ROWS in n.metrics:
            return n
        found = _first_counting(n.children)
        if found is not None:
            return found
    return None


def span_parts(span: Span, wall: float, g: GroupStats, log: EventLog, k: int,
               udf_layers: dict[str, str]) -> tuple[dict[str, float], float]:
    """Split ``wall`` (the span's self time) into the parts described in the
    module docstring, in seconds.  Returns (parts, seconds the clamps
    dropped)."""
    stage_s = union_length(g.stage_intervals)
    parts = {"session.driver": max(0.0, wall - stage_s)}
    clamped = max(0.0, stage_s - wall)
    if stage_s <= 0:
        return parts, clamped
    slot_ms = k * stage_s * 1e3
    jvm_ms = min(g.task_ms, g.cpu_s * 1e3)
    off_cpu_ms = g.task_ms - jvm_ms
    python = log.python_ms_by_udf(g)
    py_total = sum(python.values())
    py_ms = min(off_cpu_ms, py_total)
    add = {f"{span.layer}.jvm": jvm_ms, f"{span.layer}.wait": off_cpu_ms - py_ms,
           "session.idle": max(0.0, slot_ms - g.task_ms)}
    clamped += max(0.0, g.task_ms - slot_ms) / (k * 1e3)
    for desc, ms in python.items():
        key = f"{udf_layer(desc, udf_layers)}.python"
        add[key] = add.get(key, 0.0) + py_ms * ms / py_total
    for key, ms in add.items():
        parts[key] = parts.get(key, 0.0) + ms / (k * 1e3)
    return parts, clamped


def udf_layer(desc: str, udf_layers: dict[str, str]) -> str:
    """Layer whose kernel a Python plan node runs, from the UDF names in
    its description; ``functions`` when no name matches."""
    for name, layer in udf_layers.items():
        if f"{name}(" in desc:
            return layer
    return "functions"


def residual_s(parts: dict[str, float]) -> float:
    """Seconds in the parts that are remainders: slot time no task used and
    off-CPU task time the Python-worker metric does not explain."""
    return sum(v for name, v in parts.items() if name == "session.idle" or name.endswith(".wait"))


def closes(parts: dict[str, float], clamped: float, wall: float, tol: float = 0.10) -> bool:
    """True when the measured parts (driver, JVM CPU, Python workers)
    account for ``wall`` within ``tol``: the remainders plus the seconds
    the clamps dropped are at most ``tol`` of it."""
    return wall <= 0 or residual_s(parts) + clamped <= tol * wall
