"""Tests of the benchmark itself: ``python3 -m pytest perfbench -q`` from
the repository root.  The two smoke runs start Spark on sf0.001-sized
inputs and take about a minute each."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import datagen  # noqa: E402
from perfbench.layers import union_s  # noqa: E402


def _declared(kind):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def test_union_s_merges_and_clips():
    ivals = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (9.0, 12.0)]
    assert union_s(ivals, 0.5, 10.0) == pytest.approx(2.5 + 1.0 + 1.0)
    assert union_s([], 0.0, 1.0) == 0.0


def test_datagen_same_seed_same_files(tmp_path):
    kw = dict(tpch_sf=0.001, n_docs=200)
    tables = ["orders", "lineitem", "events", "documents"]
    a = datagen.generate(str(tmp_path / "a"), 7, tables, **kw)
    b = datagen.generate(str(tmp_path / "b"), 7, tables, **kw)
    c = datagen.generate(str(tmp_path / "c"), 8, tables, **kw)
    assert a == b
    for t in tables:
        name = f"{t}.parquet"
        assert (tmp_path / "a" / name).read_bytes() == \
            (tmp_path / "b" / name).read_bytes()
        assert (tmp_path / "a" / name).read_bytes() != \
            (tmp_path / "c" / name).read_bytes()


def _run(cwd, *args):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd,
        capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("workload,trace", [("pipe_flow", 0), ("curate", 1)])
def test_smoke_run_checks_outputs_and_prints_metrics(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", str(trace), "--smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"] is True and out["failed"] == 0
    assert out["attempted"] >= 3
    kind = "per_layer" if trace else "end_to_end"
    assert {k: v["unit"] for k, v in out["metrics"].items()} == _declared(kind)
    m = {k: v["value"] for k, v in out["metrics"].items()}
    if trace:
        assert m["build.s"] >= 0.8 * (m["build.s"] + m["exec.s"])
        assert m["taps.write_s"] == 0.0
        assert m["scan.docs_partitions"] == 1
        assert m["build.jobs"] > 0 and m["plan.pinned_scans"] > 0
    else:
        assert all(v > 0 for v in m.values())


def test_fails_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = _run(tmp_path, "--workload", "curate", "--seed", "1",
             "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert p.stdout.strip() == ""
