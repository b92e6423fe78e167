"""The one connected-components oracle fragment (`_cc_sql`) against the
reachability-closure form it replaced. DuckDB only, no Spark session.

(a) On hand-built graphs the fragment, the closure form and a union-find
    agree on every vertex's component (min vertex id).
(b) The eight CC oracles rendered with the closure form substituted for
    the fragment give the same rows and value hash at sf0.001.
"""

from __future__ import annotations

import os
import random
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from test_properties import _union_find_components  # noqa: E402
from tools.check_oracles import TABLES, norm, value_hash  # noqa: E402

CC_ORACLES = [
    "collapse_near_dups", "emb_neardup_clusters", "verified_clusters",
    "dedup_clusters", "dedup_clusters_star", "corpus_curation",
    "dedup_token_savings", "cluster_size_powerlaw",
]


def _closure_cc_sql(edges: str) -> str:
    """Reference: every label reachable from a vertex (a UNION recursive
    CTE, O(V²) rows per component), then min per vertex. Same
    interface as `_cc_sql`: CTEs ending in ``cc(v, component)``."""
    return f"""cc_sym AS (
            SELECT id_l AS a, id_r AS b FROM {edges}
            UNION ALL
            SELECT id_r AS a, id_l AS b FROM {edges}
        ), cc_r AS (
            SELECT DISTINCT a AS v, a AS l FROM cc_sym
            UNION
            SELECT s.b AS v, r.l FROM cc_r r JOIN cc_sym s ON r.v = s.a
        ), cc AS (
            SELECT v, min(l) AS component FROM cc_r GROUP BY v
        )"""


def _load_edges(con, edges) -> None:
    con.execute("CREATE OR REPLACE TABLE e (id_l BIGINT, id_r BIGINT)")
    con.executemany("INSERT INTO e VALUES (?, ?)", edges)


def _components(con, builder, edges) -> dict[int, int]:
    _load_edges(con, edges)
    rows = con.execute(
        f"WITH RECURSIVE {builder('e')} SELECT v, component FROM cc").fetchall()
    return dict(rows)


def _union_find_min(edges) -> dict[int, int]:
    roots = _union_find_components(edges)
    lo: dict[int, int] = {}
    for v, root in roots.items():
        lo[root] = min(lo.get(root, v), v)
    return {v: lo[root] for v, root in roots.items()}


def _random_graph(seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    n = rng.randint(5, 60)
    return [(a, b) for a, b in ((rng.randrange(n), rng.randrange(n))
                                for _ in range(rng.randint(1, 2 * n)))
            if a != b]


def _cliques() -> list[tuple[int, int]]:
    out = []
    for base, size in ((100, 5), (10, 4), (50, 2), (200, 7)):
        ids = range(base, base + size)
        out += [(a, b) for a in ids for b in ids if a < b]
    return out


GRAPHS = {
    **{f"random{s}": _random_graph(s) for s in range(8)},
    # min id at the far end: the label walks 60 hops, one per iteration
    "path61": [(i + 1, i) for i in range(60)],
    "cliques": _cliques(),
    "bigint": [(2**31 + 7, 2**40), (2**40, 2**33 + 1), (2**62, 2**31),
               (2**31 + 5, 3)],
}


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    c.execute("SET threads TO 2")
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(GRAPHS))
def test_fragment_matches_closure_and_union_find(con, name):
    edges = GRAPHS[name]
    got = _components(con, entry_mod._cc_sql, edges)
    assert got == _components(con, _closure_cc_sql, edges)
    assert got == _union_find_min(edges)


def test_fragment_stops_after_first_unchanged_iteration(con):
    """On the 61-vertex path the min label needs 60 steps; the 61st
    changes nothing and is the last one run."""
    _load_edges(con, GRAPHS["path61"])
    steps = con.execute(
        f"WITH RECURSIVE {entry_mod._cc_sql('e')} "
        "SELECT it, count(*), max(ch) FROM cc_lp GROUP BY 1 ORDER BY 1"
    ).fetchall()
    assert len(steps) == 62
    assert steps[-2] == (60, 61, 1) and steps[-1] == (61, 61, 0)


@pytest.fixture(scope="module")
def sf_con(sf_dir):
    c = duckdb.connect()
    c.execute("SET threads TO 2")
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield c
    c.close()


@pytest.fixture(scope="module")
def closure_oracles():
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(entry_mod, "_cc_sql", _closure_cc_sql)
        return entry_mod.oracle_sql()


@pytest.mark.parametrize("q", CC_ORACLES)
def test_cc_oracle_matches_closure_form(sf_con, closure_oracles, q):
    fragment_sql = entry_mod.oracle_sql()[q]
    assert closure_oracles[q] != fragment_sql, "oracle does not use _cc_sql"
    got = norm(sf_con.execute(fragment_sql).fetchdf())
    ref = norm(sf_con.execute(closure_oracles[q]).fetchdf())
    assert len(got) == len(ref) > 0
    assert value_hash(got) == value_hash(ref)
