"""Smoke test of the benchmark at tiny sizes.

    python3 -m pytest perfbench/test_smoke.py -q

Runs every workload for one second, untraced and traced, and checks that
each metric ``BENCHMARK.json`` names prints with its unit; checks that a
corrupted final table fails the oracle gate; and checks that the
benchmark fails, without a result, where the engine is missing.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, capture_output=True,
        text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_every_metric_prints_with_its_unit(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "1", "--seconds", "1",
             "--trace", str(trace))
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True
    assert out["failed"] == 0 and out["attempted"] >= 1
    declared = BENCH["per_layer" if trace else "end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)) and math.isfinite(got["value"]), m["name"]


def test_corrupted_final_table_fails_the_gate():
    sys.path[:0] = [ROOT, HERE]
    import run
    import workloads

    work = os.path.join(HERE, "_work", "smoke-corrupt")
    shutil.rmtree(work, ignore_errors=True)
    spark = run.start_session(None, work + "-tmp")
    try:
        wl = workloads.CdcBacklog(seed=1, seconds=1)
        wl.setup(spark, work)
        wl.measure()
        assert wl.gate()["ok"]
        row = wl.table.read().limit(1).collect()[0]
        bad = spark.createDataFrame(
            [(row["repo"], row["path"], row["commit"], row["lang"], "corrupted", "0" * 64,
              1 << 40, "U")],
            "repo string, path string, commit string, lang string, content string, "
            "content_sha string, lsn long, op string",
        )
        wl.table.merge(bad)
        gate = wl.gate()
        assert not gate["ok"]
        assert gate["missing"] == 1 and gate["extra"] == 1
    finally:
        spark.stop()
        run.shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(work + "-tmp", ignore_errors=True)


def test_fails_without_the_engine():
    bare = os.path.join(HERE, "_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("_work", "_out", "__pycache__"))
        p = _run(bare, "--workload", BENCH["workloads"][0]["name"], "--seed", "1",
                 "--seconds", "1", "--trace", "0")
        assert p.returncode != 0
        assert '"metrics"' not in p.stdout
    finally:
        shutil.rmtree(bare, ignore_errors=True)
