"""Per-layer metrics of a traced run.

Spark's event log (``spark.eventLog.enabled``, uncompressed, so stdlib
``json`` reads it) is parsed into a tree: SQL execution -> stage ->
operator. Jobs and stages carry the benchmark's ``perfbench.phase`` and
``perfbench.step`` job properties, so every task is charged to a phase
(setup, cold, finish, warm, check) and to the timed call that started
it. Operator metrics come from matching the accumulator IDs that
``sparkPlanInfo`` lists for each plan node with the accumulable updates
that tasks and the driver report. Plan shapes of the optimized logical
plan (Project nodes, expression depth) are read through py4j while the
session is still alive.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict

# The per-layer metrics every traced run prints, with their units. A
# layer that a workload does not exercise reports 0.
PER_LAYER = {
    "core.pipeline.fit_s": "s",
    "core.pipeline.transform_call_s": "s",
    "core.pipeline.jobs_in_transform": "count",
    "core.pipeline.project_nodes": "count",
    "core.pipeline.max_expr_depth": "count",
    "operators.windows.window_nodes": "count",
    "operators.windows.sort_nodes": "count",
    "operators.windows.exec_cpu_s": "s",
    "operators.windows.task_skew": "ratio",
    "operators.joins.exchange_nodes": "count",
    "operators.joins.shuffle_write_bytes": "B",
    "operators.indexers.fit_s": "s",
    "operators.indexers.labels_to_driver": "count",
    "operators.indexers.transform_call_s": "s",
    "operators.scalers.fit_s": "s",
    "sources.io.write_s": "s",
    "sources.io.bookkeeping_s": "s",
    "sources.io.bytes_written": "B",
    "sources.io.files_written": "count",
    "sources.io.resume_redo_ratio": "ratio",
    "sources.io.resume_s": "s",
    "sources.io.stored_bytes_per_row": "B",
    "data.dedup.minhash_s": "s",
    "data.dedup.candidate_pairs": "count",
    "data.dedup.verified_pairs": "count",
    "data.dedup.verify_yield": "ratio",
    "data.similarity.fit_centroids_s": "s",
    "data.similarity.ivf_s": "s",
    "data.similarity.python_bytes": "B",
    "data.similarity.recall_at_10": "ratio",
    "plan.exchange_nodes": "count",
    **{f"spark.{phase}.{name}": unit for phase in ("cold", "warm") for name, unit in (
        ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("gc_s", "s"),
        ("shuffle_write_bytes", "B"), ("shuffle_fetch_wait_s", "s"),
        ("spill_bytes", "B"), ("peak_exec_mem_bytes", "B"), ("tasks", "count"),
        ("stages", "count"), ("jvm_peak_rss_mb", "MB"))},
    "trace.overhead_share": "ratio",
}

_SQL = "org.apache.spark.sql.execution.ui."
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")
# a cached relation's plan belongs to set-up, not to the job reading it
_OPAQUE = ("InMemoryTableScan", "InMemoryRelation")


# -- event log -------------------------------------------------------------------


class EventLog:
    """The parts of one application's event log the metrics need."""

    def __init__(self, events):
        self.stage_props: dict[int, dict] = {}
        self.stage_scopes: dict[int, set] = {}
        self.completed: set[tuple[int, int]] = set()
        self.tasks: dict[int, list[dict]] = defaultdict(list)
        self.jobs: list[dict] = []
        self.plans: dict[int, list[dict]] = defaultdict(list)
        self.exec_props: dict[int, dict] = {}
        self.accums: dict[int, float] = defaultdict(float)  # per SQL metric id
        for e in events:
            self._add(e)

    @classmethod
    def read_dir(cls, log_dir: str) -> "EventLog":
        """Read every event file of the single application under ``log_dir``
        (a plain file, or a rolling ``eventlog_v2_*`` directory)."""
        paths = []
        for root, _, names in os.walk(log_dir):
            for n in names:
                if not n.startswith(".") and not n.startswith("appstatus"):
                    paths.append(os.path.join(root, n))

        def order(p):
            base = os.path.basename(p)
            part = base.split("_")[1] if base.startswith("events_") else "0"
            return int(part) if part.isdigit() else 0

        def events():
            for p in sorted(paths, key=order):
                with open(p) as f:
                    for line in f:
                        yield json.loads(line)
        return cls(events())

    def _add(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            self.jobs.append(props)
            ex = props.get("spark.sql.execution.id")
            if ex is not None:
                self.exec_props.setdefault(int(ex), props)
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            sid = info["Stage ID"]
            self.stage_props[sid] = e.get("Properties") or {}
            self.stage_scopes[sid] = computed_scopes(info.get("RDD Info", []))
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if "Failure Reason" not in info:
                self.completed.add((info["Stage ID"], info["Stage Attempt ID"]))
        elif kind == "SparkListenerTaskEnd":
            m = e.get("Task Metrics") or {}
            sid = e["Stage ID"]
            self.tasks[sid].append({
                "run_ms": m.get("Executor Run Time", 0),
                "cpu_ns": m.get("Executor CPU Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "peak_mem": m.get("Peak Execution Memory", 0),
                "spill": m.get("Disk Bytes Spilled", 0),
                "fetch_wait_ms": (m.get("Shuffle Read Metrics") or {}).get("Fetch Wait Time", 0),
                "shuffle_write": (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0),
            })
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Metadata") == "sql" and "Update" in acc:
                    self.accums[acc["ID"]] += float(acc["Update"])
        elif kind in (_SQL + "SparkListenerSQLExecutionStart",
                      _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            self.plans[e["executionId"]].append(e["sparkPlanInfo"])
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            for acc_id, value in e["accumUpdates"]:
                self.accums[acc_id] += float(value)

    # -- selections ----------------------------------------------------------

    def stages_in(self, phase: str) -> list[int]:
        return sorted(s for s, p in self.stage_props.items()
                      if p.get("perfbench.phase") == phase
                      and any(c[0] == s for c in self.completed))

    def executions_in(self, phase: str) -> list[int]:
        return sorted(x for x, p in self.exec_props.items()
                      if p.get("perfbench.phase") == phase)

    def jobs_in(self, phase: str, step_prefix: str) -> int:
        return sum(1 for p in self.jobs if p.get("perfbench.phase") == phase
                   and (p.get("perfbench.step") or "").startswith(step_prefix))

    def phase_totals(self, phase: str) -> dict:
        stages = self.stages_in(phase)
        tasks = [t for s in stages for t in self.tasks[s]]
        return {
            "executor_run_s": sum(t["run_ms"] for t in tasks) / 1e3,
            "executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
            "gc_s": sum(t["gc_ms"] for t in tasks) / 1e3,
            "shuffle_write_bytes": sum(t["shuffle_write"] for t in tasks),
            "shuffle_fetch_wait_s": sum(t["fetch_wait_ms"] for t in tasks) / 1e3,
            "spill_bytes": sum(t["spill"] for t in tasks),
            "peak_exec_mem_bytes": max((t["peak_mem"] for t in tasks), default=0),
            "tasks": len(tasks),
            "stages": len(stages),
        }

    def window_stages(self, phase: str) -> list[int]:
        return [s for s in self.stages_in(phase) if "Window" in self.stage_scopes[s]]


def computed_scopes(rdds: list[dict]) -> set:
    """Operator scopes of the RDDs a stage computes: walk from the
    stage's last RDD to its parents, but not past a persisted RDD, whose
    lineage runs only when the cache is filled."""
    by_id = {r["RDD ID"]: r for r in rdds}
    scopes, stack, seen = set(), [max(by_id)] if by_id else [], set()
    while stack:
        rdd = by_id.get(stack.pop())
        if rdd is None or rdd["RDD ID"] in seen:
            continue
        seen.add(rdd["RDD ID"])
        if rdd.get("Scope"):
            scopes.add(json.loads(rdd["Scope"])["name"])
        level = rdd.get("Storage Level") or {}
        if not (level.get("Use Memory") or level.get("Use Disk")):
            stack.extend(rdd.get("Parent IDs", []))
    return scopes


# -- plan trees ------------------------------------------------------------------


def walk(node: dict):
    yield node
    if node["nodeName"] in _OPAQUE:
        return
    for child in node.get("children", []):
        yield from walk(child)


def count_nodes(plan: dict, name: str) -> int:
    return sum(1 for n in walk(plan) if n["nodeName"] == name)


def asof_subtrees(plan: dict) -> list[dict]:
    """For each Union, its nearest Window ancestor: the union-strategy
    as-of join's fill window, with everything beneath it."""
    found: dict[int, dict] = {}

    def visit(node, window):
        if node["nodeName"] == "Union" and window is not None:
            found[id(window)] = window
        if node["nodeName"] in _OPAQUE:
            return
        inner = node if node["nodeName"] == "Window" else window
        for child in node.get("children", []):
            visit(child, inner)

    visit(plan, None)
    return list(found.values())


def metric_ids(nodes, metric_names) -> list[int]:
    return [m["accumulatorId"] for n in nodes for m in n.get("metrics", [])
            if m["name"] in metric_names]


# -- plan shapes through py4j ------------------------------------------------------


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def _expr_depth(expr) -> int:
    """Depth of an expression tree, from the indentation of its treeString."""
    depth = 0
    for line in expr.treeString().splitlines():
        stripped = line.lstrip(" :+-|")
        depth = max(depth, (len(line) - len(stripped)) // 3 + 1)
    return depth


def plan_shapes(df) -> dict:
    """Project nodes and the deepest expression of the optimized plan."""
    projects = depth = 0
    stack = [df._jdf.queryExecution().optimizedPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName() in _OPAQUE:
            continue
        projects += node.nodeName() == "Project"
        for e in _seq(node.expressions()):
            depth = max(depth, _expr_depth(e))
        stack.extend(_seq(node.children()))
    return {"project_nodes": projects, "max_expr_depth": depth}


# -- assembly --------------------------------------------------------------------


def per_layer(r: dict, log: EventLog, shapes: dict, extra: dict) -> dict:
    """Every ``PER_LAYER`` metric except the trace overhead, as (value, unit)."""
    steps = r["steps"].seconds
    job = r["job"]
    rounds = max(1, len(r["warm_s"]))
    m: dict[str, float] = defaultdict(float)

    m["core.pipeline.fit_s"] = steps.get("fit", 0.0)
    m["core.pipeline.transform_call_s"] = steps.get("transform", 0.0)
    m["core.pipeline.jobs_in_transform"] = log.jobs_in("cold", "transform")
    m["core.pipeline.project_nodes"] = shapes["project_nodes"]
    m["core.pipeline.max_expr_depth"] = shapes["max_expr_depth"]

    warm_execs = log.executions_in("warm")
    # an execution's first plan is AQE's initial physical plan
    plans = [log.plans[x][0] for x in warm_execs if log.plans.get(x)]
    all_plans = [p for x in warm_execs for p in log.plans.get(x, [])]
    m["operators.windows.window_nodes"] = sum(count_nodes(p, "Window") for p in plans) / rounds
    m["operators.windows.sort_nodes"] = sum(count_nodes(p, "Sort") for p in plans) / rounds
    m["plan.exchange_nodes"] = sum(count_nodes(p, "Exchange") for p in plans) / rounds
    wstages = log.window_stages("warm")
    m["operators.windows.exec_cpu_s"] = sum(
        t["cpu_ns"] for s in wstages for t in log.tasks[s]) / 1e9 / rounds
    skews = []
    for s in wstages:
        times = [t["run_ms"] for t in log.tasks[s]]
        if times and statistics.median(times) > 0:
            skews.append(max(times) / statistics.median(times))
    m["operators.windows.task_skew"] = max(skews, default=0.0)

    asof = [n for p in plans for n in asof_subtrees(p)]
    m["operators.joins.exchange_nodes"] = sum(count_nodes(n, "Exchange") for n in asof) / rounds
    # AQE re-plans reuse the exchange's metric ids: count each id once
    asof_all = [n for p in all_plans for n in asof_subtrees(p)]
    ids = set(metric_ids([x for n in asof_all for x in walk(n) if x["nodeName"] == "Exchange"],
                         ("shuffle bytes written",)))
    m["operators.joins.shuffle_write_bytes"] = sum(log.accums.get(i, 0.0) for i in ids) / rounds

    m["operators.indexers.fit_s"] = steps.get("indexers.fit", 0.0)
    m["operators.indexers.transform_call_s"] = steps.get("indexers.transform", 0.0)
    m["operators.scalers.fit_s"] = steps.get("scalers.fit", 0.0)
    m["operators.indexers.labels_to_driver"] = job.state.get("labels", 0)

    if "runs" in job.state:
        first, resume = job.state["runs"]
        written = first["wall_sec"] + resume["wall_sec"]
        rows = first["rows"] + resume["rows"]
        size, files = job.state["stored"]
        left = job.state["n_buckets"] - first["buckets_written"]
        m["sources.io.write_s"] = written
        m["sources.io.bookkeeping_s"] = steps["write"] + steps["resume"] - written
        m["sources.io.bytes_written"] = size
        m["sources.io.files_written"] = files
        m["sources.io.resume_redo_ratio"] = resume["buckets_written"] / left if left else 0.0
        m["sources.io.resume_s"] = steps["resume"]
        m["sources.io.stored_bytes_per_row"] = size / rows if rows else 0.0

    if "minhash" in steps:
        m["data.dedup.minhash_s"] = steps["minhash"]
        m["data.dedup.candidate_pairs"] = extra.get("candidate_pairs", 0)
        m["data.dedup.verified_pairs"] = job.state.get("verified", 0)
        if m["data.dedup.candidate_pairs"]:
            m["data.dedup.verify_yield"] = (m["data.dedup.verified_pairs"]
                                            / m["data.dedup.candidate_pairs"])
        m["data.similarity.fit_centroids_s"] = steps.get("similarity.fit_centroids", 0.0)
        m["data.similarity.ivf_s"] = steps.get("ivf", 0.0)
        m["data.similarity.recall_at_10"] = job.state.get("recall", 0.0)
    py_ids = set(metric_ids([x for p in all_plans for x in walk(p)], _PY_BYTES))
    m["data.similarity.python_bytes"] = sum(log.accums.get(i, 0.0) for i in py_ids) / rounds

    for phase, div in (("cold", 1), ("warm", rounds)):
        for name, value in log.phase_totals(phase).items():
            m[f"spark.{phase}.{name}"] = value / div
        m[f"spark.{phase}.jvm_peak_rss_mb"] = r.get(f"jvm_{phase}_mb", 0.0)

    return {k: (m[k], u) for k, u in PER_LAYER.items() if k != "trace.overhead_share"}
