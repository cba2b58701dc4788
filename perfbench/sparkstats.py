"""Spark's own SQL-node and stage metrics, read from the status stores.

Both stores work with ``spark.ui.enabled=false``:

- SQL plan graphs and their metric values come from
  ``sharedState().statusStore()`` (``planGraph`` / ``executionMetrics``).
  Values arrive formatted for display ("1.6 s", "517.0 KiB", or a
  "total (min, med, max ...)" pair of lines); ``parse_metric`` turns them
  back into seconds, bytes or counts. Display rounding bounds their
  precision: timings above one second carry two significant digits.
- Stage totals come from the core status store's ``stageList``.

``plan_guard`` checks a DataFrame's physical plan before it is timed.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

_SCALE = {
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_DIST = re.compile(r"^(?P<total>.+?) \((?P<min>[^,]+), (?P<med>[^,]+), (?P<max>.+?) \(stage")


def _value(text: str) -> float:
    parts = text.strip().split()
    number = float(parts[0].replace(",", ""))
    return number * _SCALE[parts[1]] if len(parts) > 1 else number


@dataclass(frozen=True)
class Metric:
    """One SQL metric in base units; med/max are per task, or the total
    when Spark reports no distribution."""

    total: float
    med: float
    max: float


def parse_metric(text: str) -> Metric:
    line = text.strip().split("\n")[-1]
    m = _DIST.match(line)
    if m is None:
        v = _value(line)
        return Metric(v, v, v)
    return Metric(_value(m["total"]), _value(m["med"]), _value(m["max"]))


class PlanGuardError(RuntimeError):
    """The plan about to be timed lacks the operators that do the work."""


def plan_node_names(plan: str) -> list[str]:
    """Operator names of a physical plan tree string, one per node."""
    names = []
    for line in plan.splitlines():
        body = line.lstrip(" :+-|")
        body = re.sub(r"^\*\(\d+\) ", "", body)
        if body and not body.startswith("=="):
            names.append(body.split(" ", 1)[0].split("(", 1)[0])
    return names


def plan_guard(df, expect: dict[str, int]) -> None:
    """Raise PlanGuardError unless ``df``'s physical plan holds at least
    ``n`` nodes whose name matches each regex in ``expect``.

    A ``count()`` or a narrow projection lets Catalyst prune the Python
    stages of the extraction DAG, so a timed plan that lost them is
    measuring an empty query."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    names = plan_node_names(plan)
    for pattern, n in expect.items():
        got = sum(1 for name in names if re.fullmatch(pattern, name))
        if got < n:
            raise PlanGuardError(
                f"timed plan has {got} node(s) matching {pattern!r}, needs {n}:\n{plan}"
            )


@dataclass
class Node:
    id: int
    name: str
    desc: str
    metrics: dict[str, Metric]
    children: list[int] = field(default_factory=list)
    parents: list[int] = field(default_factory=list)


# metric names worth a py4j round trip; the rest are never read
_WANTED = {
    "number of output rows", "records read", "shuffle bytes written",
    "local bytes read", "remote bytes read", "data size",
    "time to run Python workers", "time to initialize Python workers",
    "data sent to Python workers", "data returned from Python workers",
    "time in aggregation build",
}


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def sql_store(spark):
    return spark._jsparkSession.sharedState().statusStore()


def execution_ids(spark) -> list[int]:
    return [e.executionId() for e in _seq(sql_store(spark).executionsList())]


def plan_graph(spark, execution_id: int) -> dict[int, Node]:
    """The executed (final adaptive) plan of one SQL execution."""
    store = sql_store(spark)
    graph = store.planGraph(execution_id)
    values = store.executionMetrics(execution_id)
    nodes: dict[int, Node] = {}
    for jn in _seq(graph.allNodes()):
        metrics = {}
        for jm in _seq(jn.metrics()):
            name = jm.name()
            if name not in _WANTED:
                continue
            v = values.get(jm.accumulatorId())
            if v.isDefined():
                metrics[name] = parse_metric(v.get())
        nodes[jn.id()] = Node(jn.id(), jn.name().strip(), jn.desc(), metrics)
    for e in _seq(graph.edges()):
        child, parent = e.fromId(), e.toId()
        if child in nodes and parent in nodes:
            nodes[parent].children.append(child)
            nodes[child].parents.append(parent)
    return nodes


def descendants(nodes: dict[int, Node], start: int) -> list[int]:
    out, todo = [], list(nodes[start].children)
    while todo:
        i = todo.pop()
        out.append(i)
        todo.extend(nodes[i].children)
    return out


def stage_totals(spark, stage_ids: set[int]) -> dict[str, float]:
    """Sums over the given stages (all attempts) from the core status
    store: tasks, failed tasks, executor run/CPU/GC time, shuffle fetch
    wait and spill."""
    sc = spark.sparkContext
    jvm = sc._jvm
    stages = sc._jsc.sc().statusStore().stageList(
        jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    )
    out = dict.fromkeys(
        ("tasks", "failed_tasks", "executor_run_s", "executor_cpu_s", "gc_s",
         "shuffle_fetch_wait_s", "spill_bytes"),
        0.0,
    )
    for s in _seq(stages):
        if s.stageId() not in stage_ids:
            continue
        out["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
        out["failed_tasks"] += s.numFailedTasks()
        out["executor_run_s"] += s.executorRunTime() / 1e3
        out["executor_cpu_s"] += s.executorCpuTime() / 1e9
        out["gc_s"] += s.jvmGcTime() / 1e3
        out["shuffle_fetch_wait_s"] += s.shuffleFetchWaitTime() / 1e3
        out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
    return out


def group_jobs(spark, group: str) -> tuple[list[int], set[int]]:
    """(job ids, stage ids) of one job group."""
    tracker = spark.sparkContext.statusTracker()
    jobs = list(tracker.getJobIdsForGroup(group))
    stages: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    return jobs, stages
