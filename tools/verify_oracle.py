"""Local mini-driver: run every queries() entry against its oracle_sql()
twin in DuckDB at a given sf and report row-count / schema / value-set
mismatches — a faster feedback loop than waiting for the driver round.

Usage: python tools/verify_oracle.py [--json OUT.json] [--allowlist AXIS]
                                     [sf_dir] [query ...]

--json OUT.json   write per-query {status, kind} machine-readable results
--allowlist AXIS  after the run, diff the failing-name set against
                  tools/fuzz_allowlist.json[AXIS]; exit 0 iff they are
                  EQUAL (the fuzz-residue contract: a new divergence OR
                  a silently-healed allowlist entry both fail loudly)
"""

from __future__ import annotations

import math
import os
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import duckdb

from datalake_imagenes_georreferenciadas_spark.session import get_spark
from __spark_entry__ import oracle_sql, queries


def norm_cell(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    if hasattr(v, "isoformat"):
        return v.isoformat()[:26]
    return repr(v)


def row_key(row):
    return tuple(norm_cell(v) for v in row)


def load_allowlist(axis: str) -> dict[str, str]:
    """Per-axis divergence allowlist: tools/fuzz_allowlist.json maps
    axis -> {query_name: mechanism tag}. A fuzz run with --allowlist
    AXIS passes iff its failing-name set EQUALS the allowlist for that
    axis — future rounds diff the set instead of re-diagnosing it.

    A mechanism tag may start with a ``[kind]`` marker (e.g.
    ``[spark_error] DESIGNED fail-fast: ...``) pinning the EXPECTED
    failure kind; see expected_kinds()."""
    import json

    path = os.path.join(os.path.dirname(__file__), "fuzz_allowlist.json")
    with open(path) as fh:
        data = json.load(fh)
    if axis not in data:
        raise SystemExit(f"--allowlist {axis!r}: no such axis in {path} "
                         f"(have {sorted(data)})")
    return data[axis]


def expected_kinds(allow: dict[str, str]) -> dict[str, set[str]]:
    """Failure kinds each allowlisted entry is WAIVED for. A leading
    ``[kind]`` marker in the mechanism tag pins that exact kind (the
    designed fail-fast guards are [spark_error]); entries without a
    marker waive only data divergences (value/rows/schema) — an
    allowlisted convention that regresses into an engine CRASH must
    fail the gate, not hide behind its old waiver."""
    out: dict[str, set[str]] = {}
    for name, mech in allow.items():
        if mech.startswith("["):
            out[name] = {mech[1 : mech.index("]")]}
        else:
            out[name] = {"value", "rows", "schema"}
    return out


def main() -> int:
    import json

    argv = sys.argv[1:]
    json_out = allow_axis = None
    while argv and argv[0].startswith("--"):
        flag = argv.pop(0)
        if flag in ("--json", "--allowlist"):
            if not argv:
                raise SystemExit(f"usage: {flag} needs an operand")
            if flag == "--json":
                json_out = argv.pop(0)
            else:
                allow_axis = argv.pop(0)
        else:
            raise SystemExit(f"unknown flag {flag}")
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])
    results: dict[str, dict] = {}
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = queries(), oracle_sql()
    unknown = only - set(qs)
    if unknown:
        print(f"unknown queries on argv: {' '.join(sorted(unknown))}", file=sys.stderr)
        return 2
    n_pass = n_fail = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            cols = sorted(sdf.columns)
            srows = sorted(row_key(tuple(r[c] for c in cols)) for r in sdf.collect())
        except Exception:
            print(f"FAIL {name}: SPARK ERROR")
            traceback.print_exc(limit=8)
            results[name] = {"status": "fail", "kind": "spark_error"}
            n_fail += 1
            continue
        if name not in oracles:
            print(f"pass {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)")
            results[name] = {"status": "pass", "kind": "rows_only", "rows": len(srows)}
            n_pass += 1
            continue
        try:
            res = con.sql(oracles[name])
            dcols_raw = res.columns
            # The driver fetches the DuckDB side via Arrow/pandas, which
            # widens non-int64 integer types (HUGEINT from sum(INTEGER),
            # unsigned ints, ...) to float64 — hash-mismatching against
            # Spark's int64 even when values are equal. Flag those here so
            # the local fetchall() (which hides the widening) can't lie.
            widened = [
                f"{c}:{t}"
                for c, t in zip(dcols_raw, (str(t) for t in res.types))
                if t.split("(")[0]
                in {"HUGEINT", "UHUGEINT", "UINTEGER", "UBIGINT"}
                or t.startswith("DECIMAL")
            ]
            if widened:
                print(f"WARN {name}: oracle emits non-int64/decimal {widened} "
                      "— driver pandas fetch will widen; CAST in the SQL")
            dsort = sorted(range(len(dcols_raw)), key=lambda i: dcols_raw[i])
            dcols = sorted(dcols_raw)
            drows = sorted(row_key(tuple(row[i] for i in dsort)) for row in res.fetchall())
        except Exception:
            print(f"FAIL {name}: DUCKDB ERROR")
            traceback.print_exc(limit=8)
            results[name] = {"status": "fail", "kind": "duckdb_error"}
            n_fail += 1
            continue
        kind = None
        if cols != dcols:
            print(f"FAIL {name}: schema spark={cols} duck={dcols}")
            kind = "schema"
        elif len(srows) != len(drows):
            print(f"FAIL {name}: rows spark={len(srows)} duck={len(drows)}")
            kind = "rows"
        elif srows != drows:
            diffs = [i for i, (a, b) in enumerate(zip(srows, drows)) if a != b]
            print(f"FAIL {name}: {len(diffs)} differing rows; first: ")
            i = diffs[0]
            print(f"  spark: {srows[i]}")
            print(f"  duck : {drows[i]}")
            kind = "value"
        if kind is None:
            print(f"pass {name} ({len(srows)} rows, {time.time()-t0:.1f}s)")
            results[name] = {"status": "pass", "kind": "match", "rows": len(srows)}
            n_pass += 1
        else:
            results[name] = {"status": "fail", "kind": kind}
            n_fail += 1
    print(f"\n{n_pass} pass, {n_fail} fail")
    if json_out:
        with open(json_out, "w") as fh:
            json.dump(results, fh, indent=1, sort_keys=True)
        print(f"wrote {json_out}")
    if allow_axis is not None:
        allow = load_allowlist(allow_axis)
        failed = {n for n, r in results.items() if r["status"] == "fail"}
        checked = set(results)
        expected = set(allow) & checked if only else set(allow)
        unexpected_fail = sorted(failed - expected)
        unexpected_pass = sorted(expected - failed)
        if unexpected_fail:
            print(f"NOT in {allow_axis} allowlist but failed: {' '.join(unexpected_fail)}")
        if unexpected_pass:
            print(f"in {allow_axis} allowlist but PASSED (prune it): {' '.join(unexpected_pass)}")
        kinds = expected_kinds(allow)
        kind_regressions = sorted(
            n for n in (failed & expected)
            if results[n]["kind"] not in kinds[n]
        )
        if kind_regressions:
            for n in kind_regressions:
                print(
                    f"allowlisted {n} failed with kind "
                    f"{results[n]['kind']!r}, waiver covers "
                    f"{sorted(kinds[n])} — NEW bug behind an old waiver"
                )
        if unexpected_fail or unexpected_pass or kind_regressions:
            return 2
        print(f"divergence set == {allow_axis} allowlist ({len(expected & failed)} names) — OK")
        return 0
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
