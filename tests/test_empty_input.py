"""Empty-input robustness (r15 hardening).

At cluster scale a partition- or filter-pruned read legitimately yields
zero rows; an operator that crashes on empty input is a production
incident, not an edge case. ``tools/make_sf.py empty`` builds
schema-identical zero-row tables and ``tools/verify_oracle.py
--allowlist empty`` runs the FULL registry against them (first full
pass: r15, 321 organic + 9 fixed). This suite pins the contract cheaply:

- the ``empty`` axis writes every table with the exact sf0.001 schema
  (so the sweep tests what production pruning produces), and
- the nine queries that crashed in the first r15 sweep (KMeans fit on an
  empty sample, schema inference over a zero-file partitioned write,
  ANSI divide-by-zero in scalar epilogues, driver-side [-k] indexing and
  int(None) range bounds) execute on empty input.

The full-registry sweep stays a tool (minutes, not suite material); this
file guards exactly the surfaces that were observed to break.
"""

from __future__ import annotations

import pyarrow.parquet as pq
import pytest

from datalake_imagenes_georreferenciadas_spark.tables import DEFAULT_SF_DIR

# The nine queries the first full empty-input sweep (r15) crashed on,
# each now carrying an explicit empty-input posture. Keep in sync with
# the fix sites in plans/queries.py.
FIXED_IN_R15 = [
    "j_dynamic_partition_pruning",
    "s23_analyze_stats",
    "corpus_dedup_report",
    "s26_dynamic_overwrite",
    "catalog_snapshot_expire",
    "ab_test_zscore",
    "s16_partitioned_publish",
    "ann_ivf_kmeans",
    "s9_jdbc_roundtrip",
]


def test_fixture_is_zero_rows_with_source_schema(axis_sf):
    from datalake_imagenes_georreferenciadas_spark.tables import TABLE_NAMES

    for name in TABLE_NAMES:
        src = pq.read_schema(f"{DEFAULT_SF_DIR}/{name}.parquet")
        out = pq.read_table(f"{axis_sf('empty')}/{name}.parquet")
        assert out.num_rows == 0, name
        assert out.schema.equals(src), name


@pytest.mark.parametrize("name", FIXED_IN_R15)
def test_query_executes_on_empty_input(spark, axis_sf, name):
    from __spark_entry__ import queries

    out = queries()[name](spark, axis_sf("empty"))
    out.collect()  # executing, not asserting rows: empty in != empty out


def test_tdigest_quantiles_over_empty_input_are_one_row_each(spark, axis_sf):
    """Over zero rows the t-digest queries return what the global
    aggregate they mirror returns: one row per requested quantile, with
    n_total 0 and a NULL exact quantile."""
    from __spark_entry__ import queries

    from datalake_imagenes_georreferenciadas_spark.plans.q07_north_star import _TDIGEST_QS

    for name in ("a19_tdigest_quantile", "streaming_tdigest"):
        rows = queries()[name](spark, axis_sf("empty")).collect()
        assert [tuple(r) for r in rows] == [(q, 0, None, True) for q in _TDIGEST_QS], name
