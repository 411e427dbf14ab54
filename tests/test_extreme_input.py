"""Extreme-text/timestamp robustness (r15 hardening, fourth axis).

``tools/make_sf.py extreme`` injects the dirty values a 100 TB corpus serves
daily — empty strings, multibyte unicode (char-count != byte-count),
10k-char repetitive payloads, and 1901/2199 outlier timestamps. The r15
differential run found two classes:

CRASHES (fixed, pinned here): strict JSON parse failing the scan on a
malformed payload (f14_variant_extract → try_parse_json), partition-BY
values becoming multi-KB directory names that abort the writer (s16/s26
→ path-safety length filter, the bad-records posture), and Derby
truncation aborts on over-width strings (s9 → filter to the declared
VARCHAR width).

UNBOUNDED BLOW-UPS (guarded, pinned here): one corrupt outlier
timestamp inflates a per-key sequence grid to 10^8 rows — a cluster OOM
at scale, a multi-minute hang locally. resample_interpolate and
ts_missing_days now carry an in-plan raise_error span guard that fails
fast with the offending key instead of materializing it
(sql_recursive_cte's month walk is equivalently bounded by Spark's own
RECURSION_LEVEL_LIMIT — already a clean error, by design).
"""

from __future__ import annotations

import pytest

from datalake_imagenes_georreferenciadas_spark.tables import DEFAULT_SF_DIR

FIXED_IN_R15 = [
    "f14_variant_extract",
    "f14_json_extract",
    "s16_partitioned_publish",
    "s26_dynamic_overwrite",
    "s9_jdbc_roundtrip",
]

# queries whose designed response to a corrupt outlier span is a clean
# raise_error (not a silent multi-hundred-million-row materialization)
GUARDED_FAIL_FAST = {
    "ts_resample_interp": "max_steps_per_key",
    "ts_missing_days": "corrupt outlier date",
}


@pytest.mark.parametrize("name", FIXED_IN_R15)
def test_query_executes_on_extreme_input(spark, axis_sf, name):
    from __spark_entry__ import queries

    queries()[name](spark, axis_sf("extreme")).collect()


@pytest.mark.parametrize("name", sorted(GUARDED_FAIL_FAST))
def test_span_guard_fails_fast_with_diagnosable_error(spark, axis_sf, name):
    from __spark_entry__ import queries

    with pytest.raises(Exception) as e:
        queries()[name](spark, axis_sf("extreme")).collect()
    assert GUARDED_FAIL_FAST[name] in str(e.value)


@pytest.mark.parametrize("name", sorted(GUARDED_FAIL_FAST))
def test_guarded_queries_still_pass_on_clean_input(spark, name):
    from __spark_entry__ import queries

    out = queries()[name](spark, DEFAULT_SF_DIR).collect()
    assert len(out) > 0


# r17 extreme-determinism contracts (COVERAGE.md): the three converted
# conventions must VALUE-MATCH their oracles on extreme input — a
# reappearance in the extreme allowlist means a contract regressed.
R17_EXTREME_CONTRACTS = [
    "f_date_arith",        # DATE-projection month arithmetic
    "text_edit_distance",  # printable-ASCII-projection levenshtein
    "s24_blob_chunking",   # byte-boundary chunking via hex transport
    "s11_csv_roundtrip",   # lossless CSV dialect (quoteAll + \N null sentinel)
    "s25_xml_roundtrip",   # XML whitespace preservation on read
]


@pytest.mark.parametrize("name", R17_EXTREME_CONTRACTS)
def test_r17_contract_value_matches_oracle_on_extreme_input(
    spark, axis_sf, name
):
    from __spark_entry__ import oracle_sql, queries
    from tools.verify_oracle import duck_rows, duck_views, spark_rows

    extreme_sf = axis_sf("extreme")
    con = duck_views(extreme_sf)
    _, srows = spark_rows(queries()[name](spark, extreme_sf))
    _, drows = duck_rows(con.sql(oracle_sql()[name]))
    assert srows == drows


def test_binary_scan_skips_zero_byte_files(spark, tmp_path):
    """The ``extreme`` axis sets some document texts to ``''``, so their
    blobs are zero bytes. Spark's ``binaryFile`` scan skips zero-length
    files while the oracles' SQL keeps those rows: the measured cause of
    the multimodal_meta, pipeline_geo_ingest and s22_orphan_files entries
    in tools/fuzz_allowlist.json["extreme"]. If Spark starts reading empty
    files, this fails and those waivers go stale with it."""
    from datalake_imagenes_georreferenciadas_spark.sources.binary import read_binary_dir

    (tmp_path / "empty.bin").write_bytes(b"")
    (tmp_path / "abc.bin").write_bytes(b"abc")
    rows = read_binary_dir(spark, str(tmp_path)).select("path", "length").collect()
    assert [(r.path.rsplit("/", 1)[-1], r.length) for r in rows] == [("abc.bin", 3)]
