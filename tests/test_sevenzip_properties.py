"""Property-based coverage for the pure-stdlib 7z codec and the t-digest
sketch — both are byte-level / numeric algorithms where randomized inputs
catch edge cases example tests miss (empty members, name unicode, odd
batch splits, pathological distributions)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from datalake_imagenes_georreferenciadas_spark.operators import tdigest as TD
from datalake_imagenes_georreferenciadas_spark.sources.sevenzip import read_7z, write_7z

# member names: non-empty, no NUL (the name table is NUL-delimited
# UTF-16LE) and unique per archive
_NAMES = st.text(
    alphabet=st.characters(
        blacklist_categories=("Cs",), blacklist_characters="\x00"
    ),
    min_size=1,
    max_size=20,
)
_MEMBERS = st.lists(
    st.tuples(_NAMES, st.binary(max_size=2000)),
    max_size=8,
    unique_by=lambda m: m[0],
)


@given(members=_MEMBERS, codec=st.sampled_from(["copy", "lzma1", "lzma2", "bzip2", "deflate"]))
@settings(max_examples=60, deadline=None)
def test_7z_roundtrip_random_members(members, codec):
    assert read_7z(write_7z(members, codec=codec)) == members


@given(
    values=st.lists(
        st.floats(
            min_value=-1e9, max_value=1e9, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=4000,
    ),
    q=st.floats(min_value=0.01, max_value=0.99),
    n_shards=st.integers(min_value=1, max_value=5),
)
@settings(max_examples=60, deadline=None)
def test_tdigest_rank_bound_random_distributions(values, q, n_shards):
    """Sharded digest + merge must keep the estimate's midrank within
    the (slackened) published bound for ANY input distribution and any
    shard split — the invariant the external tolerance boolean relies
    on."""
    v = np.asarray(values, dtype="float64")
    ms, ws = [], []
    for part in np.array_split(v, n_shards):
        if part.size == 0:
            continue
        part = np.sort(part)
        m, w = TD.merge_centroids(part, np.ones(part.size))
        ms.append(m)
        ws.append(w)
    cm, cw = np.concatenate(ms), np.concatenate(ws)
    order = np.argsort(cm, kind="stable")
    m2, w2 = TD.merge_centroids(cm[order], cw[order])
    assert w2.sum() == np.float64(v.size)
    est = TD.digest_quantile(m2, w2, q)
    sv = np.sort(v)
    # tie-aware rank criterion: the estimate covers the rank interval
    # [count(<est), count(<=est)]/n; correctness = q within tolerance of
    # that interval (a heavy tie legitimately spans a wide rank range —
    # plain midrank would fail on e.g. an all-equal input). The a19
    # external check uses midrank because events.value has only
    # hairline ties; this is the general-distribution form.
    lo = np.sum(sv < est) / sv.size
    hi = np.sum(sv <= est) / sv.size
    err = max(0.0, lo - q, q - hi)
    # generous slack: tiny inputs quantize rank to 1/n
    assert err <= max(0.02, 1.0 / v.size)
