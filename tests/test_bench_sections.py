"""``bench.py``'s tranche table: every timed name is a registered query,
timed once (a name in two sections would overwrite its trial log)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
import bench  # noqa: E402


def test_sections_name_registered_queries_once():
    assert bench.SECTIONS[0] == ("query", bench.HEADLINE)
    names = [n for _, section in bench.SECTIONS for n in section]
    assert sorted(set(names) - set(entry_mod.queries())) == []
    assert len(names) == len(set(names))
    secs = [sec for sec, _ in bench.SECTIONS]
    assert len(secs) == len(set(secs))
