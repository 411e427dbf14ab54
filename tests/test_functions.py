"""functions.{vectors,strings,text} + operators.{topk,similarity} units."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from datalake_imagenes_georreferenciadas_spark.functions.strings import (
    composite_key,
    parse_model_filename,
    path_parts,
)
from datalake_imagenes_georreferenciadas_spark.functions.text import (
    lang_guess,
    quality_score,
    token_count,
)
from datalake_imagenes_georreferenciadas_spark.functions.vectors import cosine, dot, euclidean2
from datalake_imagenes_georreferenciadas_spark.operators.similarity import (
    brute_force_topk,
    hyperplane_signature,
    lsh_ann_topk,
)
from datalake_imagenes_georreferenciadas_spark.operators.topk import (
    argmin_per_group,
    topk_per_group,
)


# ---- vectors ------------------------------------------------------------


def test_dot_cosine_euclidean(spark):
    df = spark.createDataFrame(
        [([1.0, 2.0, 3.0], [4.0, 5.0, 6.0])], "a array<double>, b array<double>"
    )
    r = df.select(
        dot(F.col("a"), F.col("b")).alias("d"),
        cosine(F.col("a"), F.col("b")).alias("c"),
        euclidean2(F.col("a"), F.col("b")).alias("e"),
    ).collect()[0]
    assert r["d"] == 32.0
    assert math.isclose(r["c"], 32.0 / (math.sqrt(14) * math.sqrt(77)), rel_tol=1e-12)
    assert r["e"] == 27.0


def test_cosine_self_is_one(spark):
    df = spark.createDataFrame([([0.5, -1.5, 2.0],)], "a array<double>")
    c = df.select(cosine(F.col("a"), F.col("a")).alias("c")).collect()[0]["c"]
    assert math.isclose(c, 1.0, rel_tol=1e-12)


# ---- strings ------------------------------------------------------------


def test_composite_key(spark):
    df = spark.createDataFrame([(7, "SEC", "A")], "codigo int, seccion string, apl string")
    k = df.select(composite_key("codigo", "seccion", "apl").alias("k")).collect()[0]["k"]
    assert k == "7_SEC_A"


def test_parse_model_filename_suffix_strip(spark):
    df = spark.createDataFrame(
        [("C1_S2_PINO_A3_grilla.tif",), ("C9_S8_EUCA_B1.jpg",)], ["name"]
    )
    rows = df.select(parse_model_filename(F.col("name")).alias("p")).collect()
    assert rows[0]["p"].asDict() == {"codigo": "C1", "seccion": "S2", "especie": "PINO", "apl": "A3"}
    assert rows[1]["p"].asDict() == {"codigo": "C9", "seccion": "S8", "especie": "EUCA", "apl": "B1"}


def test_path_parts(spark):
    df = spark.createDataFrame([("lake/BR/C3/img.jpg",)], ["p"])
    r = df.select(path_parts(F.col("p")).alias("pp")).collect()[0]["pp"]
    assert (r["filename"], r["parent"], r["root"]) == ("img.jpg", "C3", "lake")


# ---- text ---------------------------------------------------------------


def test_token_count_and_quality_bounds(spark):
    df = spark.createDataFrame([("the cat sat on the mat",), ("",)], ["t"])
    rows = df.select(
        token_count(F.col("t")).alias("n"), quality_score(F.col("t")).alias("q")
    ).collect()
    assert rows[0]["n"] == 6
    assert rows[1]["n"] == 0
    assert all(0.0 <= r["q"] <= 1.0 for r in rows)


def test_lang_guess(spark):
    df = spark.createDataFrame(
        [
            ("the house of the rising sun is old",),
            ("el perro de la casa que ladra",),
            ("der hund und die katze das haus",),
            ("xyz qwerty",),
        ],
        ["t"],
    )
    got = [r["g"] for r in df.select(lang_guess(F.col("t")).alias("g")).collect()]
    assert got == ["en", "es", "de", "unknown"]


# ---- topk / argmin ------------------------------------------------------


def test_topk_per_group(spark):
    df = spark.createDataFrame(
        [("g", 1, 10.0), ("g", 2, 30.0), ("g", 3, 20.0), ("h", 4, 5.0)],
        "grp string, id int, v double",
    )
    out = topk_per_group(df, ["grp"], [F.col("v").desc(), F.col("id")], 2).collect()
    got = {(r["grp"], r["id"], r["rn"]) for r in out}
    assert got == {("g", 2, 1), ("g", 3, 2), ("h", 4, 1)}


def test_argmin_deterministic_ties(spark):
    df = spark.createDataFrame(
        [("g", "b", 1.0), ("g", "a", 1.0)], "grp string, name string, score double"
    )
    out = argmin_per_group(df, ["grp"], F.col("score"), ["name"]).collect()
    assert out[0]["name"] == "a"  # tie broken by payload order


# ---- similarity ---------------------------------------------------------


def _emb(spark, n=20, dim=8):
    """``n`` random ``dim``-dimensional vectors zero-padded to the 64
    dims of every vector table: a plane's components depend only on
    (plane, i), so padding changes no signature and no cosine."""
    import random

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)] + [0.0] * (64 - dim)) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_brute_force_topk_self_first(spark):
    data = _emb(spark)
    q = data.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    top = brute_force_topk(data, q, k=3).orderBy("rank").collect()
    assert top[0]["vec_id"] == 0 and top[0]["cos"] == 1.0  # self is rank 1
    assert [r["rank"] for r in top] == [1, 2, 3]
    assert top[0]["cos"] >= top[1]["cos"] >= top[2]["cos"]


def test_lsh_ann_recall_contains_self(spark):
    data = _emb(spark)
    q = data.filter(F.col("vec_id").isin(0, 5)).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    top = lsh_ann_topk(data, q).collect()
    by_q = {}
    for r in top:
        by_q.setdefault(r["q_id"], []).append(r["vec_id"])
    # every query's own vector shares its bucket → present at rank 1
    assert 0 in by_q[0] and 5 in by_q[5]


def test_hyperplane_signature_deterministic(spark):
    data = _emb(spark, n=5, dim=8)
    a = [r["b"] for r in data.select(hyperplane_signature("embedding", 4).alias("b")).collect()]
    b = [r["b"] for r in data.select(hyperplane_signature("embedding", 4).alias("b")).collect()]
    assert a == b
    assert all(0 <= v < 16 for v in a)


def test_hyperplane_signature_rejects_non_identifier_names():
    for bad in ("1embedding", "emb-1", "emb`)", "a..b", ""):
        with pytest.raises(ValueError):
            hyperplane_signature(bad, 4)
