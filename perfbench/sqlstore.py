"""Spark's own SQL metrics, read from outside the program.

Every finished SQL execution leaves its plan graph and metric values in
the session's status store (``sharedState().statusStore()``), also with
``spark.ui.enabled=false``. This module lists the executions that ran in
a time slice and folds their node metrics into the flagship layers.
Values arrive as Spark's display strings (``"12.1 s (3.0 s, 3.0 s, 3.0 s
(stage 3.0: task 5))"``) and are parsed back into ms, bytes and counts;
they carry the display precision (three significant digits).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000,
}
_TASK_REF = re.compile(r"\((?:stage [\d.]+: task \d+|driver)\)")
_NUMBER = re.compile(r"(-?[\d,]*\.?\d+)\s*(B|KiB|MiB|GiB|TiB|ms|s|m|h)?\b")


@dataclass(frozen=True)
class Value:
    """A metric as total plus the per-task (min, med, max) when Spark
    reports them; a plain value has min = med = max = total."""

    total: float
    min: float
    med: float
    max: float


def parse_value(text: str) -> Value:
    text = _TASK_REF.sub("", text.split("\n")[-1])
    nums = [
        float(n.replace(",", "")) * _UNITS.get(u or "", 1)
        for n, u in _NUMBER.findall(text)
    ]
    if not nums:
        return Value(0.0, 0.0, 0.0, 0.0)
    if len(nums) >= 4:
        return Value(*nums[:4])
    if len(nums) == 3:  # averages: "(min, med, max)" without a total
        return Value(nums[1], *nums)
    return Value(nums[0], nums[0], nums[0], nums[0])


@dataclass
class Node:
    name: str
    desc: str
    metrics: dict[str, Value]
    children: list["Node"] = field(default_factory=list)

    def get(self, metric: str) -> Value:
        return self.metrics.get(metric, Value(0.0, 0.0, 0.0, 0.0))


@dataclass
class Execution:
    id: int
    root_id: int  # the execution this one ran inside, or its own id
    start_ms: int
    end_ms: int
    plan: str
    nodes: list[Node]  # top level; whole-stage-codegen clusters hold children

    @property
    def wall_ms(self) -> int:
        return self.end_ms - self.start_ms

    def all_nodes(self):
        for n in self.nodes:
            yield n
            yield from n.children


class StatusStore:
    def __init__(self, spark):
        self._store = spark._jsparkSession.sharedState().statusStore()

    def count(self) -> int:
        return int(self._store.executionsCount())

    def since(self, offset: int) -> list[Execution]:
        """Finished executions at list positions ``offset`` and later."""
        seq = self._store.executionsList(offset, self.count() - offset)
        out = []
        for i in range(seq.size()):
            e = seq.apply(i)
            done = e.completionTime()
            if not done.isDefined():
                continue
            out.append(self._execution(e, int(done.get().getTime())))
        return out

    def _execution(self, e, end_ms: int) -> Execution:
        eid = e.executionId()
        values = self._store.executionMetrics(eid)
        graph = self._store.planGraph(eid)
        top = graph.nodes()
        return Execution(
            id=int(eid),
            root_id=int(e.rootExecutionId()),
            start_ms=int(e.submissionTime()),
            end_ms=end_ms,
            plan=str(e.physicalPlanDescription()),
            nodes=[self._node(top.apply(i), values) for i in range(top.size())],
        )

    def _node(self, n, values) -> Node:
        metrics = {}
        ms = n.metrics()
        for i in range(ms.size()):
            m = ms.apply(i)
            v = values.get(m.accumulatorId())
            if v.isDefined():
                metrics[str(m.name())] = parse_value(str(v.get()))
        children = []
        if n.getClass().getSimpleName() == "SparkPlanGraphCluster":
            kids = n.nodes()
            children = [self._node(kids.apply(i), values) for i in range(kids.size())]
        return Node(str(n.name()), str(n.desc()), metrics, children)


def _is_salted_exchange(node: Node) -> bool:
    return node.name == "Exchange" and "conv_id" in node.desc


def _is_regex_stage(node: Node) -> bool:
    return node.name.startswith("WholeStageCodegen") and any(
        "regexp_extract" in c.desc or "RLIKE" in c.desc for c in node.children
    )


def flagship_layers(execs: list[Execution]) -> dict[str, float]:
    """Fold node metrics of the flagship plans into layer metrics (sums
    over executions; ratios and peaks take the largest)."""
    out: dict[str, float] = {}

    def add(key: str, v: float) -> None:
        out[key] = out.get(key, 0.0) + v

    def peak(key: str, v: float) -> None:
        out[key] = max(out.get(key, 0.0), v)

    for ex in execs:
        for n in ex.all_nodes():
            if n.name.startswith("Scan parquet"):
                add("scan.time_ms", n.get("scan time").total)
                add("scan.bytes_read", n.get("size of files read").total)
            elif n.name == "ArrowEvalPython":
                add("parser.python_run_ms", n.get("time to run Python workers").total)
                add("parser.python_start_ms", n.get("time to start Python workers").total)
                add("parser.python_init_ms", n.get("time to initialize Python workers").total)
                add("parser.bytes_to_python", n.get("data sent to Python workers").total)
                add("parser.bytes_from_python", n.get("data returned from Python workers").total)
            elif _is_regex_stage(n):
                add("parser.codegen_ms.jvm", n.get("duration").total)
            elif n.name == "BroadcastExchange":
                add("enrich.broadcast_collect_ms", n.get("time to collect").total)
                add("enrich.broadcast_build_ms", n.get("time to build").total)
                add("enrich.broadcast_bytes", n.get("data size").total)
            elif _is_salted_exchange(n):
                add("skew.shuffle_bytes", n.get("shuffle bytes written").total)
                add("skew.shuffle_write_ms", n.get("shuffle write time").total)
                add("skew.fetch_wait_ms", n.get("fetch wait time").total)
                read = n.get("local bytes read")
                if read.med > 0:
                    peak("skew.partition_max_over_median", read.max / read.med)
            elif n.name == "Exchange":
                add("aggregate.shuffle_bytes", n.get("shuffle bytes written").total)
            elif n.name == "HashAggregate":
                add("aggregate.build_ms", n.get("time in aggregation build").total)
                peak("aggregate.peak_mem_bytes", n.get("peak memory").max)
                add("aggregate.spill_bytes", n.get("spill size").total)
                peak("aggregate.probes_per_key", n.get("avg hash probes per key").med)
            elif n.name.startswith("Execute InsertIntoHadoopFsRelationCommand"):
                add("sink.write_ms", ex.wall_ms)
                add("sink.job_commit_ms", n.get("job commit time").total)
                add("sink.task_commit_ms", n.get("task commit time").total)
                add("sink.bytes_written", n.get("written output").total)
                add("sink.files_written", n.get("number of written files").total)
    return out


def shuffle_bytes(execs: list[Execution]) -> float:
    return sum(
        n.get("shuffle bytes written").total
        for ex in execs
        for n in ex.all_nodes()
        if n.name == "Exchange"
    )
