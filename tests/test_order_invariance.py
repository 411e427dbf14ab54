"""Row-order invariance (r15 hardening, third axis).

At cluster scale rows arrive in whatever order the splits serve them; an
operator whose result depends on file order (an unordered first()/
limit(), collect_list consumed without sort_array, a tie broken by
position) is nondeterministic at 100 TB even when a single-file local
run looks stable. tools/make_shuffled_sf.py builds a value-identical,
row-order-shuffled copy of a testdata dir; the full-registry
differential (tools/verify_oracle.py against it) passed 330/330 at
sf0.001 AND sf0.01 in r15. This suite pins the property cheaply on the
registry's most tie-break-sensitive shapes: each query must produce the
SAME value set on the shuffled copy as on the original.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from datalake_imagenes_georreferenciadas_spark.tables import TABLE_NAMES

SRC = "/root/testdata/sf0.001"

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


@pytest.fixture(scope="module")
def shuffled_sf(tmp_path_factory):
    import os
    import zlib

    import numpy as np
    import pyarrow.parquet as pq

    d = str(tmp_path_factory.mktemp("shuffled_sf"))
    for t in TABLE_NAMES:
        tbl = pq.read_table(os.path.join(SRC, f"{t}.parquet"))
        rng = np.random.default_rng(zlib.crc32(f"test_shuffle:{t}".encode()))
        pq.write_table(
            tbl.take(rng.permutation(tbl.num_rows)),
            os.path.join(d, f"{t}.parquet"),
        )
    return d


def _value_set(df):
    cols = sorted(df.columns)
    return sorted(tuple(repr(r[c]) for c in cols) for r in df.collect())


@pytest.mark.parametrize("name", ORDER_SENSITIVE)
def test_result_is_row_order_invariant(spark, shuffled_sf, name):
    from __spark_entry__ import queries

    fn = queries()[name]
    assert _value_set(fn(spark, shuffled_sf)) == _value_set(fn(spark, SRC))
