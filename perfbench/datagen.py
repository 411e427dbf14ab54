"""Deterministic inputs for the benchmark.

``write_lake`` writes the ten lake tables (``tables.TABLE_NAMES``) with the
schemas and value conventions the query registry expects: a TPC-H-ish
star schema (``NATION_7``, ``BUILDING``, ``Brand#N`` ...), an ``events``
stream over January 2024, word-salad ``documents`` of which 5% are a
near-duplicate of an earlier document (the earlier text plus ``" dup"``),
and 64-dim unit ``embeddings``.  Row counts follow the scale factor ``sf``
(``sf=0.1`` gives 600k lineitem rows).  The same ``(sf, seed)`` always
writes the same rows.

``landing_batch`` makes one batch of GPS fixes for the catalog ingest
workload: about 1% null fixes, the rest spread over and around the five
fixture parcels so that every classifier branch (contains, nearest,
unclassifiable) is taken.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EMBED_DIM = 64

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _pick(rng: np.random.Generator, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def lake_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """The ten lake tables at scale ``sf``, as Arrow tables."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
            "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
        }
    )
    part_names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": _pick(rng, part_names, n_part),
            "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
            "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
            "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_ord), 2)),
            "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2405, n_ord) * _DAY_US),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n_line), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
            "l_linestatus": _pick(rng, ("F", "O"), n_line),
            "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2499, n_line) * _DAY_US),
        }
    )
    # strictly increasing timestamps over 30 days (the watermark fixtures)
    gaps = rng.exponential(1.0, n_ev) + 1e-6
    ts_us = _EPOCH_2024 + (np.cumsum(gaps) / gaps.sum() * 30 * _DAY_US * 0.9999).astype(np.int64)
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": _ts(ts_us),
            "user_id": pa.array(rng.integers(0, max(n_cust // 10, 10), n_ev, dtype=np.int64)),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    lengths = rng.integers(10, 101, n_doc)
    near_dup = rng.random(n_doc) < 0.05
    for i in range(n_doc):
        if near_dup[i] and i > 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), lengths[i])]))
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
            "text": texts,
            "lang": _pick(rng, LANGS, n_doc, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )
    vecs = rng.standard_normal((n_emb, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb, dtype=np.int32)),
        }
    )
    return out


def write_lake(dest: str, sf: float, seed: int) -> dict[str, int]:
    """Write every lake table as ``dest/<name>.parquet`` (one file, one row
    group, like the source data the registry was tuned on); returns the row
    count per table."""
    os.makedirs(dest, exist_ok=True)
    counts = {}
    for name, tbl in lake_tables(sf, seed).items():
        pq.write_table(tbl, os.path.join(dest, f"{name}.parquet"), row_group_size=1 << 30)
        counts[name] = tbl.num_rows
    return counts


#: landing-batch schema; ``ruta_resultado`` is unique across batches
LANDING_SCHEMA = "img_id long, lon double, lat double, ruta_resultado string"


def landing_batch(rng: np.random.Generator, first_id: int, n: int) -> pa.Table:
    """``n`` GPS fixes with ids ``first_id ..``: about 1% null, the rest
    uniform over the box around the fixture parcels (x in [-2, 16],
    y in [-2, 12])."""
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    lon = rng.uniform(-2.0, 16.0, n)
    lat = rng.uniform(-2.0, 12.0, n)
    null = rng.random(n) < 0.01
    return pa.table(
        {
            "img_id": ids,
            "lon": pa.array(lon, mask=null),
            "lat": pa.array(lat, mask=null),
            "ruta_resultado": [f"lake/BR/{i % 97:02d}/{i}.jpg" for i in ids],
        }
    )
