"""Per-layer attribution from outside the program.

The benchmark wraps every call into a layer's public function (``plan``)
and the action it issues on the result (``exec``) in a span. In a traced
run each span also tags the Spark jobs it launches with
``setJobGroup(<layer>, "<layer>|<op>|<phase>")``; after the measured
loop the layer's jobs, stages and SQL executions are read back from
Spark's REST API (``SPARK_GRAFT_UI=1`` turns the UI on) and summed per
layer. Untraced runs keep only the wall-clock timing the client needs.
"""

from __future__ import annotations

import itertools
import json
import re
import threading
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager

# Layers named after the repo modules whose public functions the
# workloads call. Every traced run reports every layer (zeros where a
# workload does not run it).
LAYERS = (
    "operators.classic",
    "plans.pipeline",
    "operators.relational",
    "dedup.dedup",
    "dedup.cc",
    "dedup.incremental",
    "index.discodb",
    "similarity.pq",
    "similarity.index_store",
)
GENERIC = (
    "calls",
    "plan_ms",
    "exec_ms",
    "spark_jobs",
    "tasks",
    "task_busy_s",
    "wait_s",
    "gc_s",
    "shuffle_write_mb",
    "spill_mb",
    "failed_tasks",
)
# layer-specific metrics, beside LAYERS x GENERIC
EXTRAS = (
    "session.get_spark_s",
    "session.load_tables_ms",
    "operators.classic.python_busy_s",
    "operators.classic.python_sent_mb",
    "operators.classic.combine_ratio",
    "plans.pipeline.python_busy_s",
    "plans.pipeline.python_sent_mb",
    "plans.pipeline.condense_ratio",
    "operators.relational.input_mb",
    "operators.relational.broadcast_mb",
    "dedup.dedup.candidate_pairs",
    "dedup.dedup.candidate_precision",
    "dedup.incremental.build_s",
    "index.discodb.build_s",
    "index.discodb.bytes_per_input_byte",
    "index.discodb.rows_examined_per_result",
    "similarity.index_store.build_s",
    "similarity.index_store.delta_files",
    # the traced run's own end-to-end figures: their difference from an
    # untraced run of the same seed is the tracing overhead
    "client.ops_per_s",
    "client.op_cpu_ms",
    "client.op_gmean_ms",
    "client.op_p50_ms",
    "client.op_tail_ms",
    "client.rows_per_s",
    "client.read_p50_ms",
    "client.write_p50_ms",
    "client.warmup_s",
)
PER_LAYER = tuple(f"{layer}.{key}" for layer in LAYERS for key in GENERIC) + EXTRAS
MB = float(1 << 20)


def unit_of(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    key = name.rsplit(".", 1)[1]
    for suffix, unit in (("_per_s", "1/s"), ("_ms", "ms"), ("_s", "s"), ("_mb", "MiB")):
        if key.endswith(suffix):
            return unit
    return "ratio" if key.endswith(("ratio", "precision", "_byte", "_result")) else "count"


class Tracer:
    """Spans in memory; Spark job groups only when ``traced``.

    ``tag`` prefixes the job group outside the measured loop (set-up and
    warm-up), so per-layer counters cover the measured operations only.
    """

    def __init__(self, sc, traced: bool):
        self.sc = sc
        self.traced = traced
        self.spans: list[dict] = []
        self.tag = "setup/"
        self._local = threading.local()  # set-up runs some work in threads
        self._ids = itertools.count()

    @property
    def op(self) -> str:
        return getattr(self._local, "op", "-")

    @op.setter
    def op(self, value: str) -> None:
        self._local.op = value

    @contextmanager
    def span(self, layer: str, phase: str):
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "id": next(self._ids),
            "name": f"{layer}.{phase}",
            "layer": self.tag + layer,
            "phase": phase,
            "op": self.op,
            "parent": stack[-1] if stack else None,
        }
        if self.traced:
            self.sc.setJobGroup(self.tag + layer, f"{self.tag}{layer}|{self.op}|{phase}")
        stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            self.spans.append(rec)
            if self.traced:
                self.sc.setJobGroup("client", "client")

    def plan(self, layer: str):
        return self.span(layer, "plan")

    def exec(self, layer: str):
        return self.span(layer, "exec")

    def span_totals(self) -> dict[str, dict[str, float]]:
        """calls / plan_ms / exec_ms per layer for the measured loop."""
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            if s["layer"].startswith("setup/"):
                continue
            ms = (s["end"] - s["start"]) * 1000.0
            out[s["layer"]][f"{s['phase']}_ms"] += ms
            if s["phase"] == "plan":
                out[s["layer"]]["calls"] += 1
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


# -- REST -------------------------------------------------------------------
_NUM = re.compile(r"([-\d,.]+)\s*([A-Za-z]*)")
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def metric_value(text: str) -> float:
    """A SQL UI metric string -> seconds, bytes or a count.

    Per-task metrics read ``total (min, med, max ...)\\n<total> (...)``;
    the total is the first number after the header."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _NUM.match(text.strip())
    if not m:
        return 0.0
    value, unit = float(m.group(1).replace(",", "")), m.group(2)
    return value * _TIME.get(unit, _SIZE.get(unit, 1))


def _iso_s(ts: str | None) -> float | None:
    if not ts:
        return None
    t = time.strptime(ts[:19], "%Y-%m-%dT%H:%M:%S")
    return time.mktime(t) + float("0" + ts[19:23])


class SparkRest:
    def __init__(self, sc):
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def settled_jobs(self, timeout: float = 30.0) -> list[dict]:
        """Jobs once the listener bus has caught up (no job running and the
        count stable across two reads)."""
        deadline = time.monotonic() + timeout
        prev = -1
        while True:
            jobs = self.get("/jobs")
            busy = any(j["status"] == "RUNNING" for j in jobs)
            if (not busy and len(jobs) == prev) or time.monotonic() > deadline:
                return jobs
            prev = len(jobs)
            time.sleep(0.3)


def layer_counters(sc) -> dict[str, dict[str, float]]:
    """Spark's own job/stage/SQL counters summed per job group."""
    rest = SparkRest(sc)
    jobs = rest.settled_jobs()
    stages = {(s["stageId"], s["attemptId"]): s for s in rest.get("/stages")}
    by_stage: dict[int, list[dict]] = defaultdict(list)
    for s in stages.values():
        by_stage[s["stageId"]].append(s)
    out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for j in jobs:
        c = out[j.get("jobGroup") or "client"]
        c["spark_jobs"] += 1
        for sid in j["stageIds"]:
            for s in by_stage.get(sid, ()):
                if s["status"] not in ("COMPLETE", "FAILED"):
                    continue
                c["tasks"] += s["numTasks"]
                c["failed_tasks"] += s["numFailedTasks"]
                c["task_busy_s"] += s["executorRunTime"] / 1000.0
                c["gc_s"] += s["jvmGcTime"] / 1000.0
                c["shuffle_write_mb"] += s["shuffleWriteBytes"] / MB
                c["spill_mb"] += s["diskBytesSpilled"] / MB
                c["input_mb"] += s["inputBytes"] / MB
                sub, first = _iso_s(s.get("submissionTime")), _iso_s(s.get("firstTaskLaunchedTime"))
                wait = (first - sub) if sub is not None and first is not None else 0.0
                c["wait_s"] += max(wait, 0.0) + s["shuffleFetchWaitTime"] / 1000.0
    for e in rest.get("/sql?details=true&planDescription=false&offset=0&length=1000000"):
        layer, _, rest_desc = (e.get("description") or "").partition("|")
        op = rest_desc.partition("|")[0].partition("#")[0]
        c = out[layer or "client"]
        nodes = sorted(e.get("nodes", []), key=lambda n: -n["nodeId"])  # leaf first
        python_rows = []
        for n in nodes:
            metrics = {m["name"]: m["value"] for m in n.get("metrics", [])}
            if "time to run Python workers" in metrics:
                c["python_busy_s"] += metric_value(metrics["time to run Python workers"])
                c["python_sent_mb"] += metric_value(metrics.get("data sent to Python workers", "0")) / MB
                python_rows.append(metric_value(metrics.get("number of output rows", "0")))
            if n["nodeName"] == "BroadcastExchange":
                c["broadcast_mb"] += metric_value(metrics.get("data size", "0")) / MB
            if n["nodeName"].startswith("Scan"):
                c["rows_scanned"] += metric_value(metrics.get("number of output rows", "0"))
        # the leaf-most Python stage of a job is its map; the next one up
        # is the pipeline's condense stage
        if python_rows:
            c[f"{op}.map_rows"] += python_rows[0]
            if len(python_rows) > 1:
                c[f"{op}.stage2_rows"] += python_rows[1]
    return out
