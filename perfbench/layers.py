"""Spans and per-layer accounting for the traced run.

Everything here observes the program from outside: spans are opened by the
benchmark around its own calls into the library, and Spark's work is read
back from the application status store (jobs, stages), the SQL status store
(executed plans and their metrics) and the Python UDF profiler.  Jobs and
SQL executions are tied to a traced pass by id watermark, so counts stay
exact however many jobs the status store retains, and to a query and its
build or exec phase by submission time against the spans.
"""

from __future__ import annotations

import json
import re

PYTHON_NODE = re.compile(r"EvalPython|InPandas|InArrow")
EXCHANGE_NODES = {"Exchange", "BroadcastExchange"}
MB = 1e6


class Tracer:
    """In-memory span list, written as JSONL when the run ends."""

    def __init__(self, run_id: str, workload: str):
        self.run_id = run_id
        self.workload = workload
        self.spans: list[dict] = []

    def add(self, name: str, start: float, end: float, parent: int | None,
            query: str | None = None, phase: str | None = None,
            **attrs) -> int:
        span = {"id": len(self.spans), "run_id": self.run_id,
                "workload": self.workload, "name": name, "query": query,
                "phase": phase, "start": start, "end": end, "parent": parent}
        span.update(attrs)
        self.spans.append(span)
        return span["id"]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def union_s(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class StatusReader:
    """Reads jobs, stages and SQL executions newer than a watermark."""

    def __init__(self, spark):
        self.spark = spark
        jvm = spark._jvm
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala,
                            "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_mod, "MODULE$"))
        self._no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
        self._empty = jvm.java.util.ArrayList()

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self._sc.listenerBus().waitUntilEmpty(60_000)

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def watermark(self) -> tuple[int, int]:
        self.drain()
        jobs = self._json(self._store.jobsList(None))
        execs = self._sql.executionsList()
        last_exec = execs.apply(execs.size() - 1).executionId() if execs.size() else -1
        return max((j["jobId"] for j in jobs), default=-1), last_exec

    def since(self, mark: tuple[int, int]) -> dict:
        """Jobs, stages and plan summaries newer than ``mark``."""
        self.drain()
        job_mark, exec_mark = mark
        jobs = [j for j in self._json(self._store.jobsList(None))
                if j["jobId"] > job_mark]
        stage_ids = {s for j in jobs for s in j["stageIds"]}
        stages = [s for s in self._json(self._store.stageList(
                      None, False, False, self._no_quantiles, self._empty))
                  if s["stageId"] in stage_ids and s.get("submissionTime")
                  and s["status"] in ("COMPLETE", "FAILED")]
        execs = self._sql.executionsList()
        plans = []
        for i in range(execs.size() - 1, -1, -1):
            e = execs.apply(i)
            if e.executionId() <= exec_mark:
                break
            plans.append(self._plan(e))
        return {"jobs": jobs, "stages": stages, "plans": plans}

    def _plan(self, e) -> dict:
        eid = e.executionId()
        values = self._sql.executionMetrics(eid)
        nodes = self._sql.planGraph(eid).allNodes()
        names, py_rows = [], 0
        for i in range(nodes.size()):
            node = nodes.apply(i)
            name = node.name()
            names.append(name)
            if PYTHON_NODE.search(name):
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    acc = m.accumulatorId()
                    if m.name() == "number of output rows" and values.contains(acc):
                        py_rows += int(values.apply(acc).replace(",", ""))
        return {"execution_id": eid, "submitted": e.submissionTime() / 1000.0,
                "nodes": names, "python_rows": py_rows}


def query_layers(info: dict, t0: float, t1: float, t2: float) -> dict:
    """Per-layer figures of one query whose builder ran over ``[t0, t1]``
    and whose action ran over ``[t1, t2]`` (epoch seconds); ``info`` is a
    ``StatusReader.since`` result covering at least that window."""
    def phase(ts_ms):
        return "build" if ts_ms / 1000.0 < t1 else "exec"

    def mine(ts_ms):
        return ts_ms is not None and t0 <= ts_ms / 1000.0 <= t2

    ivals = {"build": [], "exec": []}
    for j in info["jobs"]:
        if not mine(j.get("submissionTime")):
            continue
        end = (j.get("completionTime") or t2 * 1000) / 1000.0
        ivals[phase(j["submissionTime"])].append(
            (j["submissionTime"] / 1000.0, end))
    stages = [s for s in info["stages"] if mine(s["submissionTime"])]
    exec_stages = [s for s in stages if phase(s["submissionTime"]) == "exec"]
    plans = [p for p in info["plans"] if mine(p["submitted"] * 1000)]
    build_s, exec_s = t1 - t0, t2 - t1
    build_job_s = union_s(ivals["build"], t0, t1)
    exec_task_s = sum(s["executorRunTime"] for s in exec_stages) / 1000.0
    nodes = [n for p in plans for n in p["nodes"]]
    return {
        "build.s": build_s,
        "build.jobs": len(ivals["build"]),
        "build.job_s": build_job_s,
        "build.driver_s": build_s - build_job_s,
        "exec.s": exec_s,
        "exec.jobs": len(ivals["exec"]),
        "exec.stages": len(exec_stages),
        "exec.tasks": sum(s["numCompleteTasks"] for s in exec_stages),
        "exec.gap_s": exec_s - union_s(ivals["exec"], t1, t2),
        "engine.task_run_s": sum(s["executorRunTime"] for s in stages) / 1000.0,
        "engine.task_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "engine.gc_s": sum(s["jvmGcTime"] for s in stages) / 1000.0,
        "engine.failed_tasks": sum(s["numFailedTasks"] for s in stages),
        "engine.exec_task_run_s": exec_task_s,
        "engine.serial_stage_s": sum(
            (s["completionTime"] - s["submissionTime"]) / 1000.0
            for s in stages if s["numTasks"] == 1 and s.get("completionTime")),
        "shuffle.write_mb": sum(s["shuffleWriteBytes"] for s in stages) / MB,
        "shuffle.read_mb": sum(s["shuffleReadBytes"] for s in stages) / MB,
        "shuffle.spill_mb": sum(s["diskBytesSpilled"] for s in stages) / MB,
        "scan.input_mb": sum(s["inputBytes"] for s in stages) / MB,
        "plan.parquet_scans": sum(n.startswith("Scan parquet") for n in nodes),
        "plan.pinned_scans": sum(n.startswith("Scan ExistingRDD") for n in nodes),
        "plan.exchanges": sum(n in EXCHANGE_NODES for n in nodes),
        "python.nodes": sum(bool(PYTHON_NODE.search(n)) for n in nodes),
        "python.rows": sum(p["python_rows"] for p in plans),
    }


def udf_profile_s(spark) -> float:
    """Total in-UDF time the Python perf profiler collected so far."""
    stats = spark._profiler_collector._perf_profile_results
    return sum(s.total_tt for s in stats.values())
