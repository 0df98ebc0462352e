#!/usr/bin/env python3
"""Benchmark of the Cascading engine on its registry queries.

Usage (from the repository root):

    python3 perfbench/run.py --workload pipe_flow --seed 1 --seconds 16 --trace 0

One run is one fresh process: it generates the workload's inputs from the
seed (pyarrow only), computes every query's DuckDB oracle result, starts a
``local[nproc]`` session with ``get_spark``, runs one warm-up pass whose
outputs are checked against the oracles, then runs timed passes back to back
(a closed loop with one client): ``--seconds`` over the workload's nominal
pass time, and at least two.  A pass is
one builder call plus one action for every query of the workload, exactly as
``__spark_entry__.queries()`` defines them.  The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``).  ``--smoke`` shrinks every input to sf0.001 size for a quick
self-test.  BENCHMARK.json documents the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
import uuid
from dataclasses import dataclass, replace

ROOT = os.getcwd()


@dataclass(frozen=True)
class Workload:
    queries: tuple[str, ...]
    tables: tuple[str, ...]     # one parquet file each
    sink: bool                  # write results through Hfs parquet sinks
    pass_s: float               # nominal warm pass time; sets the pass count
    tpch_sf: float = 0.0
    n_docs: int = 0


WORKLOADS = {
    "pipe_flow": Workload(
        queries=("wordcount", "groupby_agg", "tpch_q21", "bufferjoin",
                 "buffer_span"),
        tables=("nation", "customer", "supplier", "orders", "lineitem",
                "documents"), sink=True, pass_s=5.0,
        tpch_sf=0.01, n_docs=2000),
    "curate": Workload(
        queries=("curation_flagship",),
        tables=("documents",), sink=False, pass_s=8.0, n_docs=2000),
}

SMOKE = {"tpch_sf": 0.001, "n_docs": 500}

# A run times a fixed number of passes: --seconds over the workload's
# nominal pass time, at least MIN_PASSES.  Passes speed up for several
# passes while the JIT compiles, so a pass count that followed the clock
# would make a slow run's median come from earlier, slower passes.
MIN_PASSES = 2


def pass_count(wl: Workload, seconds: float) -> int:
    return max(MIN_PASSES, round(seconds / wl.pass_s))


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="sf0.001-sized inputs, for the benchmark's own tests")
    return p.parse_args(argv)


def hwm_mb(pid: int | str) -> float:
    """High-water resident set size of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def prepare_env(run_dir: str) -> None:
    """Keep every file Spark writes inside the run directory, let Python
    workers import the checkout, and keep enough status-store history for
    the traced run's accounting."""
    local = os.path.join(run_dir, "spark-local")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.retainedJobs=20000 "
        "--conf spark.ui.retainedStages=20000 "
        "--conf spark.sql.ui.retainedExecutions=20000 "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")


class Runner:
    """Runs the workload's queries against one session and counts outcomes."""

    def __init__(self, spark, wl: Workload, data_dir: str, sink_dir: str,
                 expected: dict):
        import __spark_entry__ as entry
        registry = entry.queries()
        self.builders = {q: registry[q] for q in wl.queries}
        self.spark = spark
        self.wl = wl
        self.data_dir = data_dir
        self.sink_dir = sink_dir
        self.expected = expected
        self.dtypes = {}
        self.attempted = 0
        self.failed = 0
        self.checked = 0

    def _fail(self, query: str, what: str) -> None:
        self.failed += 1
        print(f"FAIL {query}: {what}", file=sys.stderr)

    def run_query(self, q: str, check: bool):
        """Builder call plus action for one query.  Returns the epoch times
        (start, built, done, checked), or None when the query raised.  With
        ``check`` the output is compared with the oracle after ``done``."""
        from cascading_flink_spark.taps import Hfs, ParquetScheme, SinkMode
        self.attempted += 1
        rows = None
        try:
            t0 = time.time()
            df = self.builders[q](self.spark, self.data_dir)
            t1 = time.time()
            if self.wl.sink:
                Hfs(ParquetScheme(), self.sink_path(q), SinkMode.REPLACE).write(df)
            elif check:
                rows = [r.asDict() for r in df.collect()]
            else:
                df.write.format("noop").mode("overwrite").save()
            t2 = time.time()
        except Exception as e:  # a failing query is counted, never fatal
            self._fail(q, f"{type(e).__name__}: {str(e)[:300]}")
            traceback.print_exc(file=sys.stderr)
            return None
        self.dtypes[q] = df.dtypes
        if check:
            self.check(q, rows)
        return t0, t1, t2, time.time()

    def sink_path(self, q: str) -> str:
        return os.path.join(self.sink_dir, q)

    def check(self, q: str, rows=None) -> None:
        from perfbench.check import compare, read_sink
        if rows is None:
            rows = read_sink(self.sink_path(q))
        self.checked += 1
        problems = compare(self.expected[q], self.dtypes[q], rows)
        if problems:
            self._fail(q, "; ".join(problems))

    def check_sinks(self) -> None:
        """Read back and check every sink the last pass wrote."""
        for q in self.builders:
            if q in self.dtypes:
                self.check(q)


def timed_pass(runner: Runner) -> float:
    t0 = time.time()
    for q in runner.wl.queries:
        runner.run_query(q, check=False)
    return time.time() - t0


def traced_pass(runner: Runner, reader, tracer, nproc: int, index: int):
    """One pass with per-layer accounting.  Returns (wall_s, layer sums)."""
    from cascading_flink_spark import flow as flow_mod
    from perfbench.layers import query_layers, udf_profile_s

    spark = runner.spark
    connect_s = {}
    original = flow_mod.FlowConnector.connect
    current = [None]

    def timed_connect(self, flow_def):
        t = time.perf_counter()
        try:
            return original(self, flow_def)
        finally:
            q = current[0]
            connect_s[q] = connect_s.get(q, 0.0) + time.perf_counter() - t

    spark.profile.clear()
    mark = reader.watermark()
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    flow_mod.FlowConnector.connect = timed_connect
    try:
        p0 = time.time()
        spans = []
        for q in runner.wl.queries:
            current[0] = q
            spans.append((q, runner.run_query(q, check=False)))
        p1 = time.time()
    finally:
        flow_mod.FlowConnector.connect = original
        spark.conf.unset("spark.sql.pyspark.udf.profiler")
    info = reader.since(mark)
    udf_s = udf_profile_s(spark)

    pass_id = tracer.add("pass", p0, p1, None, phase="pass", index=index)
    totals: dict[str, float] = {}
    for q, t in spans:
        if t is None:
            continue
        t0, t1, t2, _ = t
        layers = query_layers(info, t0, t1, t2)
        layers["planner.connect_s"] = connect_s.get(q, 0.0)
        if runner.wl.sink:
            layers["taps.write_s"] = t2 - t1
            layers["taps.write_mb"] = dir_bytes(runner.sink_path(q)) / 1e6
        else:
            layers["taps.write_s"] = layers["taps.write_mb"] = 0.0
        qid = tracer.add("query", t0, t2, pass_id, query=q, phase="query",
                         **layers)
        tracer.add("build", t0, t1, qid, query=q, phase="build")
        tracer.add("exec", t1, t2, qid, query=q, phase="exec")
        for k, v in layers.items():
            totals[k] = totals.get(k, 0.0) + v
    totals["python.udf_s"] = udf_s
    exec_s = totals.get("exec.s", 0.0)
    totals["engine.core_util"] = (totals.pop("engine.exec_task_run_s", 0.0)
                                  / (exec_s * nproc) if exec_s else 0.0)
    return p1 - p0, totals


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def scan_partitions(spark, data_dir: str, tables) -> dict[str, int]:
    return {t: spark.read.parquet(os.path.join(data_dir, f"{t}.parquet"))
            .rdd.getNumPartitions() for t in tables}


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def main(argv=None) -> int:
    args = parse_args(argv)
    for needed in ("BENCHMARK.json", "__spark_entry__.py", "cascading_flink_spark",
                   os.path.join("tools", "check_correctness.py")):
        if not os.path.exists(os.path.join(ROOT, needed)):
            print(f"error: {needed} not found; run from the repository root",
                  file=sys.stderr)
            return 2
    sys.path.insert(0, ROOT)
    wl = WORKLOADS[args.workload]
    if args.smoke:
        wl = replace(wl, **{k: v for k, v in SMOKE.items()
                            if getattr(wl, k)})
    nproc = len(os.sched_getaffinity(0))
    run_id = uuid.uuid4().hex[:12]
    base = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(base, f"{args.workload}-{args.seed}-{run_id}")
    data_dir = os.path.join(run_dir, "data")
    sink_dir = os.path.join(run_dir, "sink")
    os.makedirs(run_dir)
    try:
        return _run(args, wl, nproc, run_id, base, run_dir, data_dir, sink_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, wl, nproc, run_id, base, run_dir, data_dir, sink_dir) -> int:
    from perfbench import datagen
    from perfbench.check import oracle_results
    from perfbench.layers import StatusReader, Tracer

    phases = {}
    t_phase = time.time()
    manifest = datagen.generate(
        data_dir, args.seed, list(wl.tables), tpch_sf=wl.tpch_sf,
        n_docs=wl.n_docs)
    input_rows = sum(m["rows"] for m in manifest.values())
    phases["datagen_s"] = time.time() - t_phase
    t_phase = time.time()
    expected = oracle_results(data_dir, list(wl.tables), list(wl.queries))
    phases["oracle_s"] = time.time() - t_phase
    prepare_env(run_dir)

    from cascading_flink_spark.session import get_spark
    t0 = time.time()
    spark = get_spark("perfbench", cpus=nproc)
    start_s = time.time() - t0
    tracer = Tracer(run_id, args.workload)
    tracer.add("session", t0, t0 + start_s, None, phase="setup")
    try:
        runner = Runner(spark, wl, data_dir, sink_dir, expected)
        warmup_s = 0.0
        for q in wl.queries:
            t = runner.run_query(q, check=True)
            if t is None:
                continue
            warmup_s += t[2] - t[0]
            qid = tracer.add("warmup", t[0], t[3], None, query=q,
                             phase="warmup")
            for phase, a, b in zip(("build", "exec", "check"), t, t[1:]):
                tracer.add(phase, a, b, qid, query=q, phase=phase)
        reader = StatusReader(spark) if args.trace else None
        # A traced run first makes one traced pass, in the position the
        # untraced run's first timed pass has, then alternates with
        # untraced passes.
        walls, traced_walls, layer_runs = [], [], []
        n_passes = pass_count(wl, args.seconds)
        while len(walls) + len(traced_walls) < n_passes:
            if args.trace and len(traced_walls) <= len(walls):
                wall, totals = traced_pass(runner, reader, tracer, nproc,
                                           len(walls) + len(traced_walls))
                traced_walls.append(wall)
                layer_runs.append(totals)
            else:
                walls.append(timed_pass(runner))
        t_phase = time.time()
        if wl.sink:
            runner.check_sinks()
        phases["sink_check_s"] = time.time() - t_phase
        parts = scan_partitions(spark, data_dir, wl.tables)
        for t, n in parts.items():
            manifest[t]["partitions"] = n
        rss = hwm_mb(spark.sparkContext._gateway.proc.pid) + hwm_mb("self")
    finally:
        t_phase = time.time()
        stop_session(spark)
        phases["stop_s"] = time.time() - t_phase
    phases.update(start_s=start_s, warmup_s=warmup_s)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "nproc": nproc, "manifest": manifest, "phases": phases,
                      "passes": walls, "traced_passes": traced_walls}),
          file=sys.stderr)
    if parts["documents"] != 1:
        # both workloads exist to run _fan_out's under-split branch
        raise SystemExit(f"documents scan has {parts['documents']} "
                         "partitions; expected 1")

    wall_s = statistics.median(walls)
    if args.trace:
        metrics = {k: statistics.median(r[k] for r in layer_runs)
                   for k in layer_runs[0]}
        metrics["session.start_s"] = start_s
        metrics["session.warmup_s"] = warmup_s
        metrics["scan.docs_partitions"] = parts["documents"]
        metrics["engine.peak_rss_mb"] = rss
        metrics["trace.overhead"] = statistics.median(traced_walls) / wall_s
        os.makedirs(os.path.join(base, "spans"), exist_ok=True)
        tracer.write(os.path.join(base, "spans",
                                  f"{args.workload}-{args.seed}-{run_id}.jsonl"))
    else:
        metrics = {"wall_s": wall_s, "rows_per_s": input_rows / wall_s,
                   "setup_s": start_s + warmup_s}
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if args.trace else "end_to_end"]
    out = {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
           for m in declared}
    expected_checks = len(wl.queries) * (2 if wl.sink else 1)
    correct = runner.failed == 0 and runner.checked == expected_checks
    print(json.dumps({"correct": correct, "attempted": runner.attempted,
                      "failed": runner.failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
