"""Driver-canonicalization contract tests.

The external driver canonicalizes every query result through pandas
(sort_values + per-cell hashing). Two repo-wide invariants follow:

1. Every registered query's OUTPUT schema must be atomic at the top
   level — array/map/struct cells raise ``TypeError: unhashable type``
   inside the driver's canon (this red-rowed ``a6_collect_sorted`` in
   round 5). Serialize nested values (concat_ws / to_json) instead.
   tools/verify_oracle.py checks this for every query it runs
   (tests/test_plan_audit.py).
2. The bench stdout JSON line must fit the driver's 2,000-byte
   stdout-tail capture — an oversized line is truncated at the head and
   becomes unparseable (rounds 2, 3 and 5 all lost their official bench
   number this way).
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF = "/root/testdata/sf0.001"


def test_bench_stdout_line_fits_driver_capture(monkeypatch):
    """Worst-case-width warm times for every benched query (a full run
    times them all) must still produce a stdout line under the driver's
    2,000-byte tail capture."""
    import bench

    monkeypatch.setenv("SPARK_GRAFT_BENCH_FULL", "1")
    warm = {n: 12345.678 for n in bench.timed_names()}
    line = bench.build_stdout_line(warm, 0.1)
    assert len(line.encode()) < 1900, len(line.encode())
    parsed = json.loads(line)
    assert set(parsed) == {"metric", "value", "unit", "queries", "sf"}
    # the full headline set must fit without the shrink fallback kicking in
    assert set(parsed["queries"]) == set(bench.BENCH_QUERIES)
    assert parsed["value"] == round(sum(parsed["queries"].values()), 3)


def test_benched_names_are_registered():
    """Every benched name must exist in the registry (a rename that
    orphans a bench entry should fail here, not at driver time), and a
    default run times each headline name once."""
    import bench
    from datalake_imagenes_georreferenciadas_spark.plans.queries import QUERIES

    missing = [n for n in bench.BENCH_QUERIES if n not in dict(QUERIES)]
    assert not missing, missing
    assert len(set(bench.BENCH_QUERIES)) == len(bench.BENCH_QUERIES) == 48


def test_bench_headline_runs_before_full_extension(monkeypatch):
    """r09 VERDICT task 4: the stdout headline sum must be measured in a
    fresh session, i.e. the 48 headline queries run BEFORE any other
    query (the loop order is ``bench.timed_names()``) and
    SPARK_GRAFT_BENCH_FULL must only APPEND to the default run order —
    never reorder or prepend — so deep-session state (e.g. the
    documented a5_approx_distinct position-~230 anomaly) can't leak into
    the round-over-round comparable."""
    import bench
    from datalake_imagenes_georreferenciadas_spark.plans.queries import QUERIES

    monkeypatch.delenv("SPARK_GRAFT_BENCH_FULL", raising=False)
    default_order = bench.timed_names()
    assert default_order == bench.BENCH_QUERIES
    monkeypatch.setenv("SPARK_GRAFT_BENCH_FULL", "1")
    full_order = bench.timed_names()
    # FULL mode appends, keeping the default run order as its prefix
    assert full_order[: len(default_order)] == default_order
    # and times everything once, the rest in registration order
    assert sorted(full_order) == sorted(QUERIES)
    rest = full_order[len(default_order):]
    assert rest == [n for n in QUERIES if n in set(rest)]


def test_warm_spread_suspect_thresholds():
    """r15 noise-adaptive warm passes: the retry must fire only on the
    contention-suspect signature — spread over max(50 ms, 25% of min) —
    so quiet runs keep the exact 2-pass cost and queries_warm stays
    comparable across rounds."""
    import bench

    # tight passes, any scale: no retry
    assert not bench.warm_spread_suspect([0.200, 0.210])
    assert not bench.warm_spread_suspect([2.00, 2.04])
    # sub-second query with a fat absolute spread: retry (the r13–r15
    # false-drifter class — ±50 ms noise on a 0.2 s query reads 1.3×)
    assert bench.warm_spread_suspect([0.200, 0.260])
    # big query: 25%-of-min governs, not the 50 ms floor
    assert bench.warm_spread_suspect([2.00, 2.60])
    assert not bench.warm_spread_suspect([2.00, 2.40])
    # boundary: exactly at the threshold is NOT suspect (strict >)
    assert not bench.warm_spread_suspect([0.100, 0.150])


def test_all_oracles_emit_driver_safe_types():
    """Bind every registered oracle SQL in DuckDB and reject any output
    column whose DuckDB type the driver's pandas/Arrow fetch widens to
    float64 (HUGEINT from sum(INTEGER/BIGINT), unsigned ints, DECIMAL)
    — Spark emits int64 for the same value, so the value-hash mismatches
    even when every cell is equal. This red-rowed ``a6_collect_sorted``
    in round 5 and was latent in ``w12_reset_running_sum`` until round
    8; CAST(... AS BIGINT) / AS DOUBLE in the oracle SQL fixes it.
    Binding (not executing) resolves types, so the scan is cheap."""
    from datalake_imagenes_georreferenciadas_spark.plans.queries import ORACLES
    from tools.verify_oracle import duck_views

    con = duck_views(SF)
    bad: list[str] = []
    for name, sql in ORACLES.items():
        rel = con.sql(sql)  # binds and type-resolves; lazy, no execution
        for c, t in zip(rel.columns, (str(t) for t in rel.types)):
            base = t.split("(")[0]
            if base in {"HUGEINT", "UHUGEINT", "UINTEGER", "UBIGINT"} or (
                base == "DECIMAL"
            ):
                bad.append(f"{name}.{c}: {t}")
    assert not bad, (
        "oracle columns the driver's pandas fetch would widen "
        "(CAST in the SQL): " + "; ".join(bad)
    )
