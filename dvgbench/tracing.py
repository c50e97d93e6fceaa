"""Spans around public calls, and per-layer readings from Spark's status stores.

A :class:`Spans` object times each call the benchmark makes. In a traced
run it also tags the call with ``setJobDescription("dvg-bench:<workload>:
<layer>:<iteration>")``, so every Spark job, stage and SQL execution the
call launches carries the layer's name. :func:`read_store` then reads, once,
after the run:

- the SQL status store (``sharedState().statusStore()``): executions with
  their plan graphs and operator metrics;
- the core status store (``statusStore().stageList`` / ``jobsList``): stage
  and job records.

Both work with the UI off. Records are serialized JVM-side with Jackson (one
py4j call per list instead of one per field).
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import NamedTuple

TAG = "dvg-bench"

_UNITS = {
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}


def metric_value(text: str | None) -> float:
    """Total of a formatted SQL metric, in bytes, seconds or a plain count.

    Spark formats a metric either as one value (``"2,516"``, ``"16.0 MiB"``,
    ``"6 ms"``) or as ``"total (min, med, max ...)\\n<total> (<min>, ...)"``.
    """
    if not text:
        return 0.0
    line = text.strip().splitlines()[-1]
    parts = line.split(" (")[0].split()
    value = float(parts[0].replace(",", ""))
    return value * _UNITS.get(parts[1], 1.0) if len(parts) > 1 else value


@dataclass
class Span:
    it: int
    layer: str
    t0: float  # epoch seconds, the clock Spark's status records use
    t1: float

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0


class Spans:
    """Times the benchmark's calls; tags them for Spark when ``traced``."""

    def __init__(self, sc, workload: str, traced: bool) -> None:
        self.sc = sc
        self.workload = workload
        self.traced = traced
        self.spans: list[Span] = []

    def tag(self, layer: str, it: int) -> str:
        return f"{TAG}:{self.workload}:{layer}:{it}"

    @contextmanager
    def __call__(self, layer: str, it: int):
        if self.traced:
            self.sc.setJobDescription(self.tag(layer, it))
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            if self.traced:
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(Span(it, layer, t0, t1))

    def of(self, it: int) -> dict[str, Span]:
        return {s.layer: s for s in self.spans if s.it == it}


class Node(NamedTuple):
    """One operator of an executed plan. ``key`` is its first accumulator id:
    a cached subplan reappears in later executions' graphs under the same
    accumulators, and must be counted once."""

    name: str
    desc: str
    metrics: dict  # metric name -> formatted value
    key: int | None

    def value(self, metric: str) -> float:
        return metric_value(self.metrics.get(metric))


@dataclass
class Execution:
    """One SQL execution: its wall interval, jobs, plan text and nodes."""

    eid: int
    layer: str
    it: int
    t0: float
    t1: float
    jobs: list[int]
    plan: str
    nodes: list[Node] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.t1 - self.t0


@dataclass
class Store:
    stages: list[dict]  # COMPLETE / FAILED stage records, tagged ones only
    jobs: list[dict]
    executions: list[Execution]

    def select(self, it: int, layers) -> "Store":
        """The records of iteration ``it`` whose layer is in ``layers``."""

        def keep(desc) -> bool:
            tag = _parse(desc)
            return tag is not None and tag[1] in layers and tag[2] == it

        return Store(
            [s for s in self.stages if keep(s.get("description"))],
            [j for j in self.jobs if keep(j.get("description"))],
            [e for e in self.executions if e.it == it and e.layer in layers],
        )

    def nodes(self, name: str, where=lambda desc: True) -> list[Node]:
        """Distinct operators named ``name`` whose description passes ``where``."""
        seen, out = set(), []
        for e in self.executions:
            for n in e.nodes:
                if n.name == name and where(n.desc) and (n.key is None or n.key not in seen):
                    seen.add(n.key)
                    out.append(n)
        return out

    def total(self, metric: str, name: str, where=lambda desc: True) -> float:
        return sum(n.value(metric) for n in self.nodes(name, where))


def _parse(desc: str | None):
    """``dvg-bench:<workload>:<layer>:<it>`` -> (workload, layer, it)."""
    parts = (desc or "").split(":")
    if len(parts) != 4 or parts[0] != TAG or not parts[3].isdigit():
        return None
    return parts[1], parts[2], int(parts[3])


def read_store(spark) -> Store:
    """Read every tagged stage, job and SQL execution recorded so far."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jvm = spark._jvm
    # status records are written by an asynchronous listener: drain it first
    jsc.listenerBus().waitUntilEmpty(60000)
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(getattr(getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"), "MODULE$"))

    def load(obj):
        return json.loads(mapper.writeValueAsString(obj))

    core = jsc.statusStore()
    stages = load(core.stageList(None, False, False, sc._gateway.new_array(jvm.double, 0), None))
    stages = [
        s for s in stages
        if _parse(s.get("description")) and s["status"] in ("COMPLETE", "FAILED")
    ]
    jobs = [j for j in load(core.jobsList(None)) if _parse(j.get("description"))]
    sql = spark._jsparkSession.sharedState().statusStore()
    executions = []
    for e in load(sql.executionsList()):
        tag = _parse(e.get("description"))
        if tag is None or e.get("completionTime") is None:
            continue
        eid = e["executionId"]
        values = load(sql.executionMetrics(eid))
        nodes = [
            Node(
                n["name"],
                n["desc"],
                {m["name"]: values.get(str(m["accumulatorId"])) for m in n["metrics"]},
                min((m["accumulatorId"] for m in n["metrics"]), default=None),
            )
            for n in load(sql.planGraph(eid).allNodes())
        ]
        executions.append(
            Execution(
                eid, tag[1], tag[2],
                e["submissionTime"] / 1000.0, e["completionTime"] / 1000.0,
                [int(j) for j in e["jobs"]], e["physicalPlanDescription"], nodes,
            )
        )
    return Store(stages, jobs, executions)
