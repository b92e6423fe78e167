"""Tracing overhead: the traced run's operation medians minus the untraced run's.

    python3 perfbench/overhead.py --workload plant_monitor --seed 1 --seconds 5

Runs ``run.py`` twice on the same seed, once per ``--trace`` value, and
prints both runs' CPU-seconds and wall-time medians and their differences.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"


def medians(workload: str, seed: int, seconds: float, trace: int) -> tuple[float, float]:
    """(CPU seconds, wall ms) per operation, medians of one run."""
    out = subprocess.run(
        [sys.executable, str(RUN), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        check=True, capture_output=True, text=True).stdout.strip().splitlines()
    metrics = json.loads(out[-1])["metrics"]
    if trace:
        return metrics["trace.op_cpu_s"]["value"], metrics["trace.op_p50_ms"]["value"]
    return metrics["op_cpu_s"]["value"], json.loads(out[-2])["named"]["op_p50_ms"]


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=5)
    args = p.parse_args()
    cpu, wall = medians(args.workload, args.seed, args.seconds, 0)
    t_cpu, t_wall = medians(args.workload, args.seed, args.seconds, 1)
    print(json.dumps({"workload": args.workload, "op_cpu_s": cpu, "traced_op_cpu_s": t_cpu,
                      "cpu_overhead_s": t_cpu - cpu, "op_p50_ms": wall,
                      "traced_op_p50_ms": t_wall, "wall_overhead_ms": t_wall - wall}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
