"""Row-order invariance (r15 hardening, third axis).

At cluster scale rows arrive in whatever order the splits serve them; an
operator whose result depends on file order (an unordered first()/
limit(), collect_list consumed without sort_array, a tie broken by
position) is nondeterministic at 100 TB even when a single-file local
run looks stable. ``tools/make_sf.py shuffle`` builds a value-identical,
row-order-shuffled copy of a testdata dir; the full-registry
differential (tools/verify_oracle.py against it) passed 330/330 at
sf0.001 AND sf0.01 in r15. This suite pins the property cheaply on the
registry's most tie-break-sensitive shapes: each query must produce the
SAME value set on the shuffled copy as on the original.
"""

from __future__ import annotations

import pytest

from datalake_imagenes_georreferenciadas_spark.tables import DEFAULT_SF_DIR

# Shapes where an order-dependence bug would most plausibly hide:
# per-group top-k / rank ties, first-seen dedup, argmin/min_by,
# sort+limit, collect_list-derived output, nearest-neighbor ties.
ORDER_SENSITIVE = [
    "w1_topk_per_group",
    "a3_first_seen_dedup",
    "s1_sort_limit",
    "a6_string_agg",
    "f17_cosine_topk",
    "dedup_exact",
]


def _value_set(df):
    cols = sorted(df.columns)
    return sorted(tuple(repr(r[c]) for c in cols) for r in df.collect())


@pytest.mark.parametrize("name", ORDER_SENSITIVE)
def test_result_is_row_order_invariant(spark, axis_sf, name):
    from __spark_entry__ import queries

    fn = queries()[name]
    assert _value_set(fn(spark, axis_sf("shuffle"))) == _value_set(fn(spark, DEFAULT_SF_DIR))
