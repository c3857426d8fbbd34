"""Spark's own metrics for one job group, read from the in-process stores.

Two sources, both populated with ``spark.ui.enabled=false``:

* the SQL status store (``sharedState().statusStore()``): every SQL
  execution's plan graph with the formatted per-operator metric strings,
  e.g. ``17.9 s (49 ms, 443 ms, 4.4 s (stage 47.0: task 362))``;
* the application status store (``SparkContext.statusStore()``): jobs with
  their job group, and per-stage task totals (run time, CPU, GC, spill,
  shuffle fetch wait).

Work is attributed to a caller by the job group set around the call
(``SparkContext.setJobGroup``): a SQL execution belongs to a group when one
of its jobs does.  ``parse_metric`` and ``layer_totals`` are pure, so the
parser and the node-to-layer map are unit-tested on canned strings.
"""

from __future__ import annotations

import dataclasses
import json
import re

_SECONDS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_BYTES = {
    "B": 1,
    "KiB": 1024,
    "MiB": 1024**2,
    "GiB": 1024**3,
    "TiB": 1024**4,
    "PiB": 1024**5,
    "EiB": 1024**6,
}
_VAL = r"(-?[\d,]+(?:\.\d+)?)(?:\s*(ns|ms|s|m|h|B|KiB|MiB|GiB|TiB|PiB|EiB))?"
_METRIC_RE = re.compile(
    rf"^{_VAL}(?:\s*\(\s*{_VAL},\s*{_VAL},\s*{_VAL}\s*"
    r"\((?:stage\s+(\d+)(?:\.\d+)?:\s*task\s+(\d+)|driver)\)\s*\))?$"
)

MIB = 1024.0**2


@dataclasses.dataclass(frozen=True)
class MetricValue:
    """One operator metric in base units: seconds, bytes or a count.

    ``min``/``med``/``max`` are the per-task distribution when Spark
    reports one; ``stage`` is the stage of the task that hit the max."""

    total: float
    unit: str
    min: float | None = None
    med: float | None = None
    max: float | None = None
    stage: int | None = None


def _scale(number: str, unit: str | None) -> tuple[float, str]:
    x = float(number.replace(",", ""))
    if unit in _SECONDS:
        return x * _SECONDS[unit], "s"
    if unit in _BYTES:
        return x * _BYTES[unit], "B"
    return x, "count"


def parse_metric(text: str) -> MetricValue | None:
    """Parse one formatted SQL metric value; None when it is not numeric.

    Accepts the plain form (``5,000``, ``29 ms``, ``18.3 MiB``) and the
    per-task form, with or without the ``total (min, med, max ...)``
    header line Spark puts in front of it."""
    body = text.strip().rsplit("\n", 1)[-1].strip()
    m = _METRIC_RE.match(body)
    if m is None:
        return None
    total, unit = _scale(m.group(1), m.group(2))
    if m.group(3) is None:
        return MetricValue(total, unit)
    lo = _scale(m.group(3), m.group(4))[0]
    med = _scale(m.group(5), m.group(6))[0]
    hi = _scale(m.group(7), m.group(8))[0]
    stage = int(m.group(9)) if m.group(9) is not None else None
    return MetricValue(total, unit, lo, med, hi, stage)


@dataclasses.dataclass
class Node:
    """A plan-graph node with its parsed metrics.

    ``parent`` is the id of the node its output feeds (None at the root);
    ``members`` are the ids of the nodes a WholeStageCodegen cluster runs."""

    id: int
    name: str
    desc: str
    metrics: dict[str, MetricValue]
    parent: int | None = None
    members: tuple[int, ...] = ()


# operator name -> layer, for the nodes that anchor a layer.  A node that
# anchors nothing belongs to the nearest anchor it feeds into.
_ANCHORS = (
    ("MapInArrow", "extract"),
    ("MapInPandas", "salted"),
    ("FlatMapGroupsInPandas", "salted"),
    ("Execute InsertIntoHadoopFsRelationCommand", "checkpoint"),
)
PYTHON_NODES = ("MapInArrow", "MapInPandas", "FlatMapGroupsInPandas",
                "ArrowEvalPython", "BatchEvalPython")


def _anchor_layer(name: str) -> str | None:
    for prefix, layer in _ANCHORS:
        if name.startswith(prefix):
            return layer
    return None


def node_layer(nodes: dict[int, Node], node: Node, input_path: str) -> str:
    """Layer of one node.

    * ``Scan parquet`` of the job's input is the ``tables`` layer;
    * an anchor node (MapInArrow, MapInPandas, FlatMapGroupsInPandas, the
      write command) is its own layer;
    * any other node (Exchange, BroadcastExchange, InMemoryTableScan,
      Sort, other scans, ...) belongs to the first anchor found walking
      toward the root, i.e. the consumer its output serves; ``other`` when
      there is none."""
    if node.name.startswith("Scan parquet") and input_path in node.desc:
        return "tables"
    cur: Node | None = node
    while cur is not None:
        layer = _anchor_layer(cur.name)
        if layer is not None:
            return layer
        cur = nodes.get(cur.parent) if cur.parent is not None else None
    return "other"


def _add(acc: dict[str, float], key: str, value: float) -> None:
    acc[key] = acc.get(key, 0.0) + value


def _mx(acc: dict[str, float], key: str, value: float | None) -> None:
    if value is not None:
        acc[key] = max(acc.get(key, 0.0), value)


def _drained_or_fed(nodes: dict[int, Node], cluster: Node) -> set[str]:
    """Layers of the anchor nodes a codegen cluster feeds or drains."""
    members = set(cluster.members)
    out = set()
    for n in nodes.values():
        if n.id in members and n.parent in nodes:
            out.add(_anchor_layer(nodes[n.parent].name))
        elif n.parent in members:
            out.add(_anchor_layer(n.name))
    return out - {None}


def layer_totals(executions: list[dict[int, Node]], input_path: str) -> dict:
    """Fold the nodes of several executions into per-layer counters.

    WholeStageCodegen time is credited to the layers whose anchor node the
    cluster feeds or drains (a stage can run several Python nodes, e.g. the
    union of the main and salted extraction paths)."""
    out: dict[str, float] = {}
    for nodes in executions:
        for n in nodes.values():
            m = n.metrics
            layer = node_layer(nodes, n, input_path)
            if n.name.startswith(PYTHON_NODES):
                for key, name in (
                    ("python.boot_s", "time to start Python workers"),
                    ("python.init_s", "time to initialize Python workers"),
                ):
                    if name in m:
                        _add(out, key, m[name].total)
            if n.name == "MapInArrow":
                run = m.get("time to run Python workers")
                if run is not None:
                    _add(out, "extract.py_run_s", run.total)
                    _mx(out, "extract.task_max_s", run.max)
                    if run.max and run.med:
                        _mx(out, "extract.task_skew", run.max / run.med)
                for key, name in (
                    ("extract.arrow_in_mb", "data sent to Python workers"),
                    ("extract.arrow_out_mb", "data returned from Python workers"),
                ):
                    if name in m:
                        _add(out, key, m[name].total / MIB)
            elif n.name.startswith(("MapInPandas", "FlatMapGroupsInPandas")):
                run = m.get("time to run Python workers")
                if run is not None:
                    _add(out, "salted.py_run_s", run.total)
                    _mx(out, "salted.task_max_s", run.max)
                rows = m.get("number of output rows")
                if rows is not None:
                    key = ("salted.chunks" if n.name.startswith("MapInPandas")
                           else "salted.docs")
                    _mx(out, key, rows.total)
            elif n.name.startswith("InMemoryTableScan") and layer == "salted":
                rows = m.get("number of output rows")
                if rows is not None:
                    _add(out, "salted.cached_rows", rows.total)
            elif n.name.startswith("Execute InsertIntoHadoopFsRelationCommand"):
                if "written output" in m:
                    _add(out, "checkpoint.write_mb",
                          m["written output"].total / MIB)
                if "number of written files" in m:
                    _add(out, "checkpoint.files",
                          m["number of written files"].total)
            elif n.name.startswith("Scan parquet") and layer == "tables":
                for key, name, scale in (
                    ("tables.read_mb", "size of files read", 1 / MIB),
                    ("tables.rows", "number of output rows", 1.0),
                ):
                    if name in m:
                        _add(out, key, m[name].total * scale)
            elif n.name.startswith("Exchange"):
                written = m.get("shuffle bytes written")
                if written is not None:
                    _add(out, f"{layer}.shuffle_mb", written.total / MIB)
                    _add(out, "all.shuffle_mb", written.total / MIB)
            elif n.name.startswith("BroadcastExchange"):
                size = m.get("data size")
                if size is not None:
                    _add(out, "all.broadcast_mb", size.total / MIB)
            elif n.name.startswith("WholeStageCodegen"):
                dur = m.get("duration")
                if dur is not None and "extract" in _drained_or_fed(nodes, n):
                    _add(out, "extract.codegen_s", dur.total)
    return out


@dataclasses.dataclass
class Execution:
    id: int
    end_ms: int | None  # completion time, epoch milliseconds
    nodes: dict[int, Node]


class StatusStores:
    """Reader over a live session's status stores.

    Each store object is serialized to JSON inside the JVM (Jackson with
    the Scala module, both on Spark's classpath), so a plan of hundreds of
    nodes costs a few gateway calls instead of one per field."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        jvm = spark._jvm
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala,
                               "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._empty = self._sc._gateway.new_array(jvm.double, 0)
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = self._sc._jsc.sc().statusStore()

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs(self, groups: set[str]) -> list[dict]:
        """JobData of every job whose job group is in ``groups``."""
        return [j for j in self._json(self._app.jobsList(None))
                if j.get("jobGroup") in groups]

    def executions(self, groups: set[str]) -> list[Execution]:
        """SQL executions that ran at least one job of ``groups``."""
        job_ids = {j["jobId"] for j in self.jobs(groups)}
        out = []
        for e in self._conv.asJava(self._sql.executionsList()):
            if not {int(k) for k in self._json(e.jobs())} & job_ids:
                continue
            eid = int(e.executionId())
            values = self._json(self._sql.executionMetrics(eid))
            graph = self._sql.planGraph(eid)
            nodes: dict[int, Node] = {}
            for n in self._json(graph.allNodes()):
                metrics = {}
                for m in n["metrics"]:
                    raw = values.get(str(m["accumulatorId"]))
                    parsed = parse_metric(raw) if raw else None
                    if parsed is not None:
                        metrics[m["name"]] = parsed
                nodes[n["id"]] = Node(
                    n["id"], n["name"], n["desc"], metrics,
                    members=tuple(c["id"] for c in n.get("nodes", ())))
            for edge in self._json(graph.edges()):
                child = nodes.get(edge["fromId"])
                if child is not None:
                    child.parent = edge["toId"]
            end = e.completionTime()
            out.append(Execution(
                eid, int(end.get().getTime()) if end.isDefined() else None, nodes))
        return out

    def stage_totals(self, groups: set[str]) -> dict[str, float]:
        """Task totals over the stages of the jobs in ``groups``."""
        jobs = self.jobs(groups)
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        tot = dict.fromkeys(
            ("spark.tasks", "spark.cpu_s", "spark.gc_s",
             "spark.spill_mb", "spark.fetch_wait_s"), 0.0)
        tot["spark.jobs"] = float(len(jobs))
        stages = self._json(
            self._app.stageList(None, False, False, self._empty, None))
        for s in stages:
            if s["stageId"] not in stage_ids:
                continue
            tot["spark.tasks"] += s["numCompleteTasks"]
            tot["spark.cpu_s"] += s["executorCpuTime"] / 1e9
            tot["spark.gc_s"] += s["jvmGcTime"] / 1e3
            tot["spark.spill_mb"] += (
                s["memoryBytesSpilled"] + s["diskBytesSpilled"]) / MIB
            tot["spark.fetch_wait_s"] += s["shuffleFetchWaitTime"] / 1e3
        return tot

    def persisted_rdds(self) -> int:
        return len(self._sc._jsc.getPersistentRDDs())
