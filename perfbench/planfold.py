"""Spark's own SQLMetrics, read from the outside.

A py4j ``QueryExecutionListener`` keeps a reference to the
``QueryExecution`` of every SQL action — including the collects, counts
and writes the package runs internally — and, once a layer call has
returned and the listener bus has drained, each executed plan is copied
into a small Python tree (``Node``) with its metric values. AQE plans
are descended through ``AdaptiveSparkPlanExec`` and their query stages;
a cached relation's plan is folded once, where it is first scanned.

Jobs, stages and failed tasks per layer call come from the job group
the tracer sets around the call and ``statusTracker()``.
"""

from __future__ import annotations

from dataclasses import dataclass, field

# metricType -> factor to the unit the fold reports (bytes, rows, s)
_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


@dataclass
class Node:
    name: str
    desc: str
    metrics: dict = field(default_factory=dict)
    children: list = field(default_factory=list)

    def walk(self):
        """This node and every node under it, pre-order."""
        yield self
        for c in self.children:
            yield from c.walk()


class PlanCapture:
    """Collects the QueryExecution of every action run in the session
    while open."""

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.pending = []
        self._seen = set()
        ensure_callback_server_started(spark.sparkContext._gateway)

    # QueryExecutionListener
    def onSuccess(self, func_name, qe, duration_ns):
        self.pending.append((qe, func_name, duration_ns * 1e-9))

    def onFailure(self, func_name, qe, exception):
        self.pending.append((qe, func_name, 0.0))

    def open(self) -> None:
        lm = self.spark._jsparkSession.listenerManager()
        lm.register(self)
        # py4j makes a new Java proxy per call, so keep the registered one
        # to unregister it
        registered = lm.listListeners()
        self._proxy = registered[len(registered) - 1]

    def close(self) -> None:
        self.drain()
        self.spark._jsparkSession.listenerManager().unregister(self._proxy)

    def drain(self) -> list:
        """(QueryExecution, action name, seconds) of every action
        finished since the last drain, once the listener bus is empty."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        out, self.pending = self.pending, []
        return out

    def fold(self, qe):
        """The executed plan of one action as a Node tree (None when
        every node was already folded, e.g. a second scan of a cache)."""
        return self._fold(qe.executedPlan())

    def _fold(self, p):
        jvm = self.spark.sparkContext._jvm
        key = jvm.System.identityHashCode(p)
        if key in self._seen:
            return None
        self._seen.add(key)
        name = p.nodeName()
        if name.startswith("AdaptiveSparkPlan"):
            return self._fold(p.executedPlan())
        if name.endswith("QueryStage") or name.startswith("TableCacheQueryStage"):
            return self._fold(p.plan())
        if name.startswith("ReusedExchange"):
            return None
        node = Node(name, p.simpleString(8))
        it = p.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            m = kv._2()
            node.metrics[kv._1()] = m.value() * _SCALE.get(m.metricType(), 1)
        if name == "CommandResult":
            kids = [p.commandPhysicalPlan()]
        elif name == "InMemoryTableScan":
            kids = [p.relation().cachedPlan()]
        else:
            ch = p.children()
            kids = [ch.apply(i) for i in range(ch.size())]
        for k in kids:
            t = self._fold(k)
            if t is not None:
                node.children.append(t)
        return node


def job_stats(spark, group: str) -> dict:
    """Jobs, stages and failed tasks Spark ran under one job group."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages, failed, widest = 0, 0, 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            si = st.getStageInfo(s)
            if si is not None:
                stages += 1
                failed += si.numFailedTasks
                widest = max(widest, si.numTasks)
    return {"jobs": len(jobs), "stages": stages, "failed_tasks": failed,
            "max_stage_tasks": widest}


# ---------------------------------------------------------------------------
# folding plans into the named layers
# ---------------------------------------------------------------------------

STITCH_KEYS = ("band", "tile_row", "tile_col")


def _is_stitch(n: Node) -> bool:
    """The stitch kernel: the grouped Arrow map whose UDF is ``stitch``."""
    return n.name == "FlatMapGroupsInArrow" and "stitch(" in n.desc


def _is_tile_exchange(n: Node) -> bool:
    return (n.name == "Exchange" and "hashpartitioning(band" in n.desc
            and all(k in n.desc for k in STITCH_KEYS))


def _stage_below(n: Node) -> list:
    """Nodes under ``n`` in its own stage: the walk stops at Exchanges
    (which are returned, their subtrees are not)."""
    out, todo = [], list(n.children)
    while todo:
        c = todo.pop()
        out.append(c)
        if c.name != "Exchange":
            todo.extend(c.children)
    return out


def _rows_in(n: Node) -> float:
    """Rows fed to ``n``: read from the Exchange below it, or else
    produced by the first node below it that counts its output."""
    todo = list(n.children)
    while todo:
        c = todo.pop(0)
        if "recordsRead" in c.metrics:
            return c.metrics["recordsRead"]
        if c.metrics.get("numOutputRows"):
            return c.metrics["numOutputRows"]
        todo.extend(c.children)
    return 0.0


def stitch_sites(trees: list) -> list:
    """One (stitch, exchanges anywhere below it, nodes of its own stage)
    tuple per stitch FlatMapGroupsInArrow in the plans."""
    return [(n, [x for x in n.walk() if x.name == "Exchange"], _stage_below(n))
            for t in trees for n in t.walk() if _is_stitch(n)]


def _sum(nodes, metric) -> float:
    return float(sum(n.metrics.get(metric, 0) for n in nodes))


def fold_stitch(trees: list) -> dict:
    """operators.stitch and the (band, tile) shuffle from the plans of
    one layer call."""
    sites = stitch_sites(trees)
    stitches = [s[0] for s in sites]
    tile_ex = [x for s in sites for x in s[2] if _is_tile_exchange(x)]
    sorts = [x for s in sites for x in s[2] if x.name == "Sort"]
    scans = [x for s in sites for x in s[2] if x.name.startswith("Scan")]
    return {
        "stitch.operators": len(stitches),
        "stitch.exchanges_below": sum(len(s[1]) for s in sites),
        "stitch.python_busy_s": _sum(stitches, "pythonTotalTime"),
        "stitch.bytes_to_python": _sum(stitches, "pythonDataSent"),
        "stitch.bytes_from_python": _sum(stitches, "pythonDataReceived"),
        "stitch.rows_in": float(sum(_rows_in(n) for n in stitches)),
        "stitch.sort_peak_bytes": max([n.metrics.get("peakMemory", 0) for n in sorts] or [0]),
        "stitch.scan_bytes": _sum(scans, "filesSize"),
        "shuffle.exchanges": len(tile_ex),
        "shuffle.bytes_written": _sum(tile_ex, "shuffleBytesWritten"),
        "shuffle.data_bytes": _sum(tile_ex, "dataSize"),
        "shuffle.records": _sum(tile_ex, "shuffleRecordsWritten"),
        "shuffle.write_busy_s": _sum(tile_ex, "shuffleWriteTime"),
        "shuffle.fetch_wait_s": _sum(tile_ex, "fetchWaitTime"),
        "shuffle.spill_bytes": _sum(sorts, "spillSize"),
    }


def sum_metric(trees: list, node_name: str, metric: str) -> float:
    return float(sum(n.metrics.get(metric, 0) for t in trees for n in t.walk()
                     if n.name == node_name))
