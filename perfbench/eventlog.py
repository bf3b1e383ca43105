"""Per-call layer metrics read from Spark's own uncompressed event log.

The benchmark tags every Spark job a layer call starts with the call's
name as its job description. Each stage carries the submitting job's
properties, so every task can be attributed to a call; per-task
executor metrics and SQL-metric accumulator updates are then summed per
call. Python worker and Arrow transfer figures are sums over tasks (a
MapInArrow's Python time overlaps its scan and codegen time inside the
same task), so they are reported beside total task time, never as a
split of wall time.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from dataclasses import dataclass, field

# SQL metric names as Spark 4 writes them (PythonSQLMetrics, Exchange)
PY_RUN = "time to run Python workers"
PY_START = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
TO_PY = "data sent to Python workers"
FROM_PY = "data returned from Python workers"
OUT_ROWS = "number of output rows"

STREAMING_BATCH = "streaming.batch"


@dataclass
class CallStats:
    """Everything the log says about one call's tasks."""

    task_ms: dict[int, list[float]] = field(default_factory=dict)  # stage -> run times
    attempts: int = 0
    failed: int = 0
    shuffle_write_b: int = 0
    spill_b: int = 0
    acc: dict[str, float] = field(default_factory=dict)  # SQL metric name -> sum
    acc_by_id: dict[int, float] = field(default_factory=dict)

    @property
    def task_s(self) -> float:
        return sum(sum(v) for v in self.task_ms.values()) / 1000

    @property
    def task_skew(self) -> float:
        """max / median task time of the call's heaviest stage (the
        stage whose tasks sum to the most time): the slowest partition
        sets a stage's time."""
        if not self.task_ms:
            return 0.0
        times = max(self.task_ms.values(), key=sum)
        med = statistics.median(times)
        return max(times) / med if med > 0 else 0.0


@dataclass
class PlanNode:
    name: str
    desc: str
    metrics: dict[str, int]  # metric name -> accumulator id
    children: list["PlanNode"]

    @classmethod
    def from_info(cls, info: dict) -> "PlanNode":
        return cls(
            info["nodeName"],
            info.get("simpleString", ""),
            {m["name"]: m["accumulatorId"] for m in info.get("metrics", [])},
            [cls.from_info(c) for c in info.get("children", [])],
        )

    def walk(self):
        yield self
        for c in self.children:
            yield from c.walk()


@dataclass
class EventLog:
    calls: dict[str, CallStats]
    plans: list[PlanNode]  # final (post-AQE) plan of every SQL execution

    def call(self, name: str) -> CallStats:
        return self.calls.get(name, CallStats())

    def output_rows_of(self, name: str, node_name: str) -> float:
        """Rows the call's ``node_name`` plan nodes emitted."""
        stats = self.call(name)
        accs = {
            n.metrics[OUT_ROWS]
            for plan in self.plans
            for n in plan.walk()
            if n.name == node_name and OUT_ROWS in n.metrics
        }
        return sum(stats.acc_by_id.get(a, 0.0) for a in accs)

    def input_rows_of(self, name: str, kernel_cols: tuple[str, ...]) -> float:
        """Rows fed into the call's MapInArrow kernels whose output
        names one of ``kernel_cols``: the output-row count of the
        nearest descendant that meters one. A verify kernel's input is
        its candidate-pair relation."""
        stats = self.call(name)
        total = 0.0
        for plan in self.plans:
            for node in plan.walk():
                if node.name != "MapInArrow" or not _outputs_any(node.desc, kernel_cols):
                    continue
                acc = _first_rows_below(node)
                if acc is not None:
                    total += stats.acc_by_id.get(acc, 0.0)
        return total


def _outputs_any(desc: str, cols: tuple[str, ...]) -> bool:
    # simpleString: "MapInArrow fn(inputs...), [out_a#1, out_b#2], ..."
    out = desc.split("), [", 1)[-1]
    return any(f"{c}#" in out for c in cols)


def _first_rows_below(node: PlanNode) -> int | None:
    todo = list(node.children)
    while todo:
        n = todo.pop(0)
        if OUT_ROWS in n.metrics:
            return n.metrics[OUT_ROWS]
        todo.extend(n.children)
    return None


def call_of(props: dict, calls: set[str]) -> str | None:
    """The call a stage belongs to, from its job's local properties."""
    desc = props.get("spark.job.description")
    if desc in calls:
        return desc
    if "sql.streaming.queryId" in props:
        return STREAMING_BATCH
    return None


def _num(v) -> float:
    return float(v) if v not in (None, "") else 0.0


def parse(log_dir: str, calls: set[str]) -> EventLog:
    """Read every event file under ``log_dir`` (Spark 4's rolling v2
    layout ``eventlog_v2_<app>/events_<n>_<app>``), in roll order."""
    files = sorted(
        glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
        key=lambda p: (os.path.dirname(p), int(os.path.basename(p).split("_")[1])),
    )
    stage_call: dict[int, str | None] = {}
    out: dict[str, CallStats] = {}
    plans: dict[int, dict] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerStageSubmitted":
                    sid = ev["Stage Info"]["Stage ID"]
                    stage_call[sid] = call_of(ev.get("Properties") or {}, calls)
                elif kind == "SparkListenerTaskEnd":
                    name = stage_call.get(ev["Stage ID"])
                    if name is not None:
                        _add_task(out.setdefault(name, CallStats()), ev)
                elif kind.endswith(
                    ("SparkListenerSQLExecutionStart", "SparkListenerSQLAdaptiveExecutionUpdate")
                ):
                    plans[ev["executionId"]] = ev["sparkPlanInfo"]
    return EventLog(out, [PlanNode.from_info(p) for p in plans.values()])


def _add_task(st: CallStats, ev: dict) -> None:
    info = ev["Task Info"]
    st.attempts += 1
    if info.get("Failed") or info.get("Killed"):
        st.failed += 1
    m = ev.get("Task Metrics") or {}
    st.task_ms.setdefault(ev["Stage ID"], []).append(_num(m.get("Executor Run Time")))
    st.spill_b += int(_num(m.get("Disk Bytes Spilled")))
    st.shuffle_write_b += int(
        _num((m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written"))
    )
    for a in info.get("Accumulables", []):
        name = a.get("Name", "")
        if name.startswith("internal.") or "Update" not in a:
            continue
        try:
            v = float(a["Update"])
        except (TypeError, ValueError):
            continue  # non-numeric accumulators (e.g. collection-valued)
        st.acc[name] = st.acc.get(name, 0.0) + v
        st.acc_by_id[a["ID"]] = st.acc_by_id.get(a["ID"], 0.0) + v
