"""The min-label-contraction oracle CTE (queries._min_label_components_cte)
must compute EXACT connected components — it replaced the O(ΣC²)
recursive-CTE transitive closure (ADVICE r07), so its correctness now
gates every components-family oracle. Ground truth: union-find.

No Spark involved: the CTE is pure DuckDB, so these tests are fast and
adversarial (paths with descending ids are the worst case for min-label
propagation — labels must travel the full diameter)."""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from datalake_imagenes_georreferenciadas_spark.plans.q02_geo import (
    _min_label_components_cte,
)


def _duck_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Run the contraction CTE over an explicit symmetric edge list."""
    con = duckdb.connect()
    con.sql("CREATE TABLE e (src BIGINT, dst BIGINT)")
    if edges:
        con.executemany("INSERT INTO e VALUES (?, ?)", edges)
    sql = (
        "WITH edges AS MATERIALIZED ("
        "  SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),\n"
        + _min_label_components_cte()
        + "\nSELECT id, component FROM comp"
    )
    return dict(con.sql(sql).fetchall())


def _true_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    return {x: find(x) for x in parent}


def test_descending_path_worst_case():
    """A 300-node path whose min id sits at one END: plain min-label
    propagation needs 299 rounds; path compression must close it in
    the CTE's 12. (This is exactly the adversarial case for which the
    pointer-jumping step exists.)"""
    n = 300
    edges = [(i, i + 1) for i in range(1, n)]  # component min = 1
    got = _duck_components(edges)
    assert got == {i: 1 for i in range(1, n + 1)}


def test_two_components_and_singleton_absence():
    edges = [(5, 9), (9, 7), (20, 21)]
    got = _duck_components(edges)
    assert got == {5: 5, 9: 5, 7: 5, 20: 20, 21: 20}
    assert 99 not in got  # isolated nodes never enter the label loop


def test_empty_edge_list():
    assert _duck_components([]) == {}


def test_nonconvergence_raises_not_silently_wrong():
    """ADVICE r08: the round bound must be ENFORCED. A 10,000-node
    descending path cannot converge in the CTE's 12 rounds; the
    companion ``nonconv`` check must raise DuckDB's error() instead of
    emitting unconverged labels that would surface only as an
    engine-vs-oracle mismatch."""
    con = duckdb.connect()
    con.sql("CREATE TABLE e (src BIGINT, dst BIGINT)")
    con.sql("INSERT INTO e SELECT i, i + 1 FROM range(1, 10000) t(i)")
    sql = (
        "WITH edges AS MATERIALIZED ("
        "  SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),\n"
        + _min_label_components_cte()
        + "\nSELECT id, component FROM comp"
    )
    with pytest.raises(duckdb.Error, match="not converged"):
        con.sql(sql).fetchall()


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=120),
            st.integers(min_value=1, max_value=120),
        ),
        max_size=150,
    )
)
def test_matches_union_find_on_random_graphs(edges):
    edges = [(a, b) for a, b in edges if a != b]
    assert _duck_components(edges) == _true_components(edges)
