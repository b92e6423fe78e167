"""The benchmark's own tests: the same code path at a tiny scale.

    python -m pytest perfbench -q

Each smoke run starts its own Spark session (about a minute each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

from perfbench.probes import cpu_s  # noqa: E402

# stands in for the JVM: on "go" it burns CPU in a thread that then exits
# and in a child process that it reaps, then says "done"
BURN = "import time\ne = time.thread_time() + 0.3\nwhile time.thread_time() < e: pass\n"
CHILD = f"""
import subprocess, sys, threading
sys.stdin.readline()
t = threading.Thread(target=exec, args=({BURN!r},))
t.start(); t.join()
subprocess.run([sys.executable, "-c", {BURN!r}], check=True)
print("done", flush=True)
sys.stdin.read()
"""


def run(args, cwd=ROOT):
    return subprocess.run([sys.executable, str(Path(cwd) / "perfbench" / "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=600)


def test_cpu_s_keeps_exited_threads_and_reaped_children():
    child = subprocess.Popen([sys.executable, "-c", CHILD], stdin=subprocess.PIPE,
                             stdout=subprocess.PIPE, text=True)
    try:
        before, own_before = cpu_s(child.pid), sum(os.times()[:2])
        child.stdin.write("go\n")
        child.stdin.flush()
        assert child.stdout.readline().strip() == "done"
        exec(BURN)
        delta, own = cpu_s(child.pid) - before, sum(os.times()[:2]) - own_before
    finally:
        child.stdin.close()
        child.wait(timeout=30)
    # the thread's and the reaped child's 0.3 s each, less tick rounding
    assert delta >= own + 0.5
    assert own >= 0.25


@pytest.mark.parametrize("workload,trace", [("batch", "1"), ("plant_monitor", "1"),
                                            ("plant_monitor", "0")])
def test_smoke_run_reports_every_metric(workload, trace):
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    p = run(["--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", trace, "--smoke"])
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, p.stdout
    assert result["attempted"] >= 1
    declared = bench["per_layer" if trace == "1" else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)


def test_fails_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = run(["--workload", "plant_monitor", "--seed", "1", "--seconds", "1",
             "--trace", "0"], cwd=tmp_path)
    assert p.returncode != 0
    assert p.stdout.strip() == ""
