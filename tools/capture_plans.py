"""Dump .explain("formatted") for named queries to plans/<round>/<q>_<tag>.txt.

Usage: python tools/capture_plans.py <round>/<tag> [sf_dir] q1 q2 ...
       (e.g. r14/before, r14/after; sf_dir defaults to the sf0.1 test corpus)

Construction-eager queries (dedup_clusters chain) run their CC loop at
plan-build time; the captured plan is the final consumer plan either way.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, ".")

import __spark_entry__ as entry_mod  # noqa: E402
from timeseries_data_analysis_spark.session import get_spark  # noqa: E402


def main() -> None:
    round_, _, tag = sys.argv[1].rpartition("/")
    if not round_ or not tag:
        sys.exit(f"capture_plans: want <round>/<tag> (e.g. r14/after), "
                 f"got {sys.argv[1]!r}")
    out_dir = os.path.join("plans", round_)
    if len(sys.argv) > 2 and os.path.isdir(sys.argv[2]):
        sf_dir, names = sys.argv[2], sys.argv[3:]
    else:
        sf_dir, names = "/root/testdata/sf0.1", sys.argv[2:]
    spark = get_spark("capture-plans")
    qs = entry_mod.queries()
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        df = qs[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        out = f"{out_dir}/{name}_{tag}.txt"
        with open(out, "w") as f:
            f.write(plan)
        print(f"wrote {out} ({len(plan.splitlines())} lines)")


if __name__ == "__main__":
    main()
