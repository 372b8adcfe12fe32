"""Tracing from outside the package.

Spans are recorded around calls into each layer's public functions.
Every Spark job started inside a span carries the span's job tag, so
after the run the span's jobs, stages and SQL executions can be read
back from Spark's own status store through its REST API. Plan-shape
counts come from the optimized and executed plans. Nothing inside the
package changes.
"""

from __future__ import annotations

import json
import re
import statistics
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field

# physical nodes that run Python code row by row or batch by batch
PYTHON_NODES = (
    "BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow",
    "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
    "WindowInPandas", "FlatMapGroupsInPandasWithState", "BatchEvalPythonUDTF",
    "ArrowEvalPythonUDTF", "PythonMapInArrow",
)
EXCHANGE_NODES = ("Exchange", "ShuffleExchange", "BroadcastExchange", "ReusedExchange")
BROADCAST_JOINS = ("BroadcastHashJoin", "BroadcastNestedLoopJoin")
# SQL-metric node names of a file scan and of an in-memory table scan
SCAN_NODES = ("Scan parquet", "Scan ExistingRDD")
REGEX_CALL = re.compile(r"(?i)\b(rlike|regexp_extract|regexp_replace)\(")
NODE_LINE = re.compile(r"^[\s:|+\-]*(?:\(\d+\)\s*)?([A-Za-z]\w*)")


@dataclass
class Span:
    name: str
    tag: str
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    spark: object
    spans: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        """Time a block; jobs it starts carry the span's tag (nested
        spans add their own tag, so an outer span sees inner jobs)."""
        sc = self.spark.sparkContext
        s = Span(name, f"pb-{len(self.spans)}-{re.sub(r'[^A-Za-z0-9]', '-', name)}",
                 time.perf_counter())
        self.spans.append(s)
        sc.addJobTag(s.tag)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            sc.removeJobTag(s.tag)

    def last(self, name: str) -> Span:
        return next(s for s in reversed(self.spans) if s.name == name)

    def median(self, name: str) -> float:
        return statistics.median(s.seconds for s in self.spans if s.name == name)

    # --- Spark status store -------------------------------------------------
    def _rest(self, path: str):
        sc = self.spark.sparkContext
        url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=30) as r:
            return json.loads(r.read())

    def settle(self) -> None:
        """Wait until Spark's listener bus has delivered every event, so
        the status store holds the finished jobs' metrics."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def jobs(self, *, tag: str | None = None, group: str | None = None) -> list[dict]:
        self.settle()
        return [
            j for j in self._rest("jobs")
            if (tag is None or tag in j.get("jobTags", []))
            and (group is None or j.get("jobGroup") == group)
        ]

    def stage_totals(self, jobs: list[dict]) -> dict[str, float]:
        """Sums of stage metrics over the stages the jobs ran (skipped
        stages report zeros)."""
        wanted = {sid for j in jobs for sid in j["stageIds"]}
        keys = ("outputBytes", "shuffleWriteBytes", "memoryBytesSpilled", "diskBytesSpilled")
        tot = dict.fromkeys(keys, 0.0)
        for st in self._rest("stages"):
            if st["stageId"] in wanted and st.get("status") != "SKIPPED":
                for k in keys:
                    tot[k] += float(st.get(k, 0))
        tot["tasks"] = float(sum(j.get("numCompletedTasks", 0) for j in jobs))
        tot["jobs"] = float(len(jobs))
        return tot

    def executions(self, jobs: list[dict]) -> list[dict]:
        ids = {j["jobId"] for j in jobs}
        out = []
        offset = 0
        while True:
            page = self._rest(f"sql?details=true&planDescription=false&offset={offset}&length=500")
            out += [e for e in page if ids & set(e.get("successJobIds", []) + e.get("failedJobIds", []))]
            if len(page) < 500:
                return out
            offset += 500


SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def plain_number(value: str) -> float:
    return float(value.replace(",", "").split()[0])


def size_bytes(value: str) -> float:
    """Bytes of a size shown as e.g. ``5.4 MiB`` (two significant digits)."""
    num, unit = value.replace(",", "").split()[:2]
    return float(num) * SIZE_UNITS[unit]


def sql_metric(executions: list[dict], node_prefix: str | tuple[str, ...], metric: str,
               parse=plain_number) -> float:
    """Sum of a SQL metric over every node whose name starts with
    ``node_prefix`` (one prefix or a tuple of them; e.g. Scan rows,
    written files); ``parse=size_bytes`` for size metrics."""
    total = 0.0
    for e in executions:
        for node in e.get("nodes", []):
            if node["nodeName"].startswith(node_prefix):
                for m in node.get("metrics", []):
                    if m["name"] == metric:
                        total += parse(m["value"])
    return total


def plan_nodes(plan: str) -> list[str]:
    """Operator names in a plan tree string, one per line."""
    names = []
    for line in plan.splitlines():
        m = NODE_LINE.match(line)
        if m:
            names.append(m.group(1))
    return names


def executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def count_nodes(plans: list[str], names: tuple[str, ...]) -> int:
    return sum(n in names for p in plans for n in plan_nodes(p))


def regex_calls(plan: str) -> int:
    return len(REGEX_CALL.findall(plan))


def timed_noops(frames: list, reps: int = 3) -> list[float]:
    """Fastest of ``reps`` noop-sink materialisations of each frame
    (every projection computed, nothing written), taken round-robin so
    drift on the host affects every frame alike."""
    best = [float("inf")] * len(frames)
    for _ in range(reps):
        for i, df in enumerate(frames):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            best[i] = min(best[i], time.perf_counter() - t0)
    return best
