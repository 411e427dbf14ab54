"""dedup_corpus_chunks invariants on a corpus with PLANTED boilerplate.

The oracle run proves cross-engine equality on the synthetic tables;
this test proves the SEMANTICS on a corpus where we know the answer:
a passage repeated across documents must vanish from every document,
unique text must survive byte-identical, and the reassembly must
preserve original chunk order.
"""

from __future__ import annotations

import hashlib
import os
import tempfile

import pytest

from datalake_imagenes_georreferenciadas_spark.plans.q09_north_star import dedup_corpus_chunks


BOILER = "one two three four"  # exactly one 4-token chunk wide


def _write_docs(spark, rows):
    d = os.path.join(tempfile.mkdtemp(), "sfx")
    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "documents.parquet"))
    return d


def test_planted_boilerplate_removed_everywhere(spark):
    # docs 1 and 2 share the boilerplate chunk at different positions;
    # doc 3 is entirely unique; doc 4 is boilerplate ONLY
    rows = [
        (1, BOILER + " alpha beta gamma delta"),
        (2, "epsilon zeta eta theta " + BOILER),
        (3, "iota kappa lam mu nu xi omicron pi"),
        (4, BOILER),
    ]
    sf = _write_docs(spark, rows)
    got = {r["doc_id"]: r for r in dedup_corpus_chunks(spark, sf).collect()}

    assert got[1]["n_chunks"] == 2 and got[1]["n_kept"] == 1
    assert got[2]["n_chunks"] == 2 and got[2]["n_kept"] == 1
    assert got[3]["n_chunks"] == 2 and got[3]["n_kept"] == 2
    assert got[4]["n_chunks"] == 1 and got[4]["n_kept"] == 0

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    # unique text survives byte-identical (reassembled in order)
    assert got[3]["clean_md5"] == md5("iota kappa lam mu nu xi omicron pi")
    # the non-boilerplate remainder survives, boilerplate is gone
    assert got[1]["clean_md5"] == md5("alpha beta gamma delta")
    assert got[2]["clean_md5"] == md5("epsilon zeta eta theta")
    # fully-boilerplate doc cleans to the empty string
    assert got[4]["clean_md5"] == md5("")


def test_order_preserved_across_multiple_kept_chunks(spark):
    # two kept chunks straddling a removed one: reassembly must keep
    # original order, not hash/agg order
    rows = [
        (1, "a1 a2 a3 a4 " + BOILER + " z1 z2 z3 z4"),
        (2, BOILER + " unrelated words here now"),
    ]
    sf = _write_docs(spark, rows)
    got = {r["doc_id"]: r for r in dedup_corpus_chunks(spark, sf).collect()}
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert got[1]["n_chunks"] == 3 and got[1]["n_kept"] == 2
    assert got[1]["clean_md5"] == md5("a1 a2 a3 a4 z1 z2 z3 z4")
