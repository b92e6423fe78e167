"""``tools/query_profile.py`` run in-process on the shared test session.

By the time this runs, the session has finished far more SQL executions
than the status store retains (``spark.sql.ui.retainedExecutions``,
1000), so its execution count no longer grows: these checks hold only
because the tool selects executions by id.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from tools import query_profile as profile_tool  # noqa: E402


def test_profile_attributes_executions_to_spans(spark, sf_dir, tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    assert profile_tool.main(["r0/t", "-n", "2", sf_dir,
                              "dedup_clusters", "pricing_summary"]) == 0
    for name in ("dedup_clusters", "pricing_summary"):
        prof = json.loads((tmp_path / "profiles" / "r0" / f"{name}_t.json").read_text())
        assert prof["query"] == name
        trials = prof["trials"]
        assert [t["cold"] for t in trials] == [True, False]
        assert set(prof["cold"]) == set(prof["warm"]) == {"build_s", "write_s", "total_s"}
        ids = [e["id"] for t in trials for e in t["executions"]]
        assert ids == sorted(set(ids))
        for t in trials:
            assert set(t["catalyst_ms"]) == {"analysis", "optimization", "planning"}
            assert set(t["host"]) == {"host.steal_pct", "host.loadavg_1m"}
            assert t["spark"]["spark.sql_executions"] == len(t["executions"])
            spans = [e["span"] for e in t["executions"]]
            assert spans.count("write") == 1
            if name == "dedup_clusters":
                # the pair build and the connected-components rounds run
                # their checkpoint jobs at construction
                assert spans.count("build") >= 1
            for e in t["executions"]:
                assert "exchanges" in e["operator_counts"]
        last = trials[-1]["executions"]
        assert all(e["plan"].strip() for e in last)
        assert any(op["metrics"] for e in last for op in e["operators"])
        write = next(e for e in last if e["span"] == "write")
        assert sum(write["operator_counts"].values()) > 0
        assert all("plan" not in e for e in trials[0]["executions"])


def test_profile_rejects_unknown_query_before_spark(tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    with pytest.raises(SystemExit) as exc:
        profile_tool.main(["r0/t", "pricing_summary", "no_such_query"])
    assert exc.value.code != 0
    assert not (tmp_path / "profiles").exists()


def test_tools_dir_shadows_no_stdlib_import():
    """A script under tools/ runs with tools/ first on sys.path, so no
    file there may shadow the standard library that pyspark imports:
    a ``tools/profile.py`` broke ``import cProfile``, and with it
    ``python tools/check_oracles.py``."""
    tools = os.path.join(ROOT, "tools")
    proc = subprocess.run(
        [sys.executable, "-c",
         f"import sys; sys.path.insert(0, {tools!r}); import cProfile"],
        capture_output=True, text=True, timeout=120)
    assert proc.returncode == 0, proc.stderr
