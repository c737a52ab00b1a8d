"""Bit-exactness pins for the r14 Arrow vector-math kernels.

The r14 optimization replaced the interpreted higher-order fold
expressions (`_fold_dot` / `_dot` / `_norm` / `_candidates` /
`_pq_candidates`) in the ANN/IVF/PQ plans with numpy kernels behind
mapInArrow (functions/arrowvec.py). The replacement is only legal because
the kernels reproduce the folds' left-to-right IEEE accumulation order
element for element — these tests pin that equivalence on REAL corpus
data against the original expression forms, which stay in the tree
precisely so this A/B cannot rot.
"""

from __future__ import annotations

import struct

import pytest
from pyspark.sql import functions as F

from real_time_fraud_detection_system_using_big_data_analytics_spark.functions import (
    arrowvec as av,
)
from real_time_fraud_detection_system_using_big_data_analytics_spark.operators import (
    clustering as cl,
)
from real_time_fraud_detection_system_using_big_data_analytics_spark.operators.similarity import (
    _dot,
    _norm,
)
from real_time_fraud_detection_system_using_big_data_analytics_spark.sources.tables import (
    fan_out,
    load_tables,
)

SF = "/root/testdata/sf0.001"


def _bits(x: float) -> bytes:
    return struct.pack("<d", float(x))


@pytest.fixture(scope="module")
def vecs(spark):
    v = cl._prepare_vecs(spark, SF)
    yield v
    v.unpersist()


@pytest.fixture(scope="module")
def cents(spark, vecs):
    return cl.fit_centroids(vecs)


def test_assign_cells_bitwise_equals_candidates_expression(spark, vecs, cents):
    expr = vecs.withColumn("best", F.array_min(cl._candidates(cents))).select(
        "vec_id", "best.d", "best.cid"
    )
    kern = av.assign_cells(vecs, cents, vec_col="e", keep=("vec_id",)).select(
        "vec_id", "best.d", "best.cid"
    )
    old = {int(r[0]): (_bits(r[1]), int(r[2])) for r in expr.collect()}
    new = {int(r[0]): (_bits(r[1]), int(r[2])) for r in kern.collect()}
    assert old == new


def test_top_cells_bitwise_equals_sorted_candidates(spark, vecs, cents):
    expr = vecs.withColumn(
        "pc",
        F.transform(
            F.slice(F.array_sort(cl._candidates(cents)), 1, 2), lambda s: s["cid"]
        ),
    ).select("vec_id", "pc")
    kern = av.assign_top_cells(vecs, cents, 2, vec_col="e", keep=("vec_id",)).select(
        "vec_id", "probe_cells"
    )
    old = {int(r[0]): tuple(r[1]) for r in expr.collect()}
    new = {int(r[0]): tuple(r[1]) for r in kern.collect()}
    assert old == new
    # and the driver-side twin used for probe lists agrees too
    rows = vecs.select("vec_id", "e").orderBy("vec_id").collect()
    drv = av.probe_cells_driver([list(r["e"]) for r in rows], cents, 2)
    assert {int(r["vec_id"]): tuple(pc) for r, pc in zip(rows, drv)} == old


def test_top_cells_n_above_centroid_count_returns_every_cell(spark, vecs, cents):
    """n > K probes every cell, nearest first, as the expression's slice
    does, instead of failing on the fixed-size list length."""
    k = len(cents)
    expr = vecs.withColumn(
        "pc",
        F.transform(
            F.slice(F.array_sort(cl._candidates(cents)), 1, k + 3), lambda s: s["cid"]
        ),
    ).select("vec_id", "pc")
    kern = av.assign_top_cells(vecs, cents, k + 3, vec_col="e", keep=("vec_id",)).select(
        "vec_id", "probe_cells"
    )
    old = {int(r[0]): tuple(r[1]) for r in expr.collect()}
    new = {int(r[0]): tuple(r[1]) for r in kern.collect()}
    assert new == old
    assert {len(pc) for pc in new.values()} == {k}


def test_bounded_scorer_bitwise_equals_fold_cosine(spark):
    e = load_tables(spark, SF, names=("embeddings",))["embeddings"]
    corpus = fan_out(e).select("vec_id", "embedding", _norm("embedding").alias("e_norm"))
    queries = e.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        _norm("embedding").alias("q_norm"),
    )
    cos = _dot("q_emb", "embedding") / (F.col("q_norm") * F.col("e_norm"))
    old_rows = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", cos.alias("s"))
        .collect()
    )
    q_ids, q_vecs = av.collect_query_vectors(
        e.filter(F.col("vec_id") % 100 == 0), "vec_id", "embedding"
    )
    new_rows = av.score_bounded_queries(
        fan_out(e).select("vec_id", "embedding"), q_ids, q_vecs, None,
        vec_col="embedding", out_col="s",
    ).collect()
    old = {(int(r[0]), int(r[1])): _bits(r[2]) for r in old_rows}
    new = {(int(r[0]), int(r[1])): _bits(r[2]) for r in new_rows}
    assert old == new


def test_bounded_scorer_topk_cut_is_superset_safe(spark):
    """The per-batch top-k cut must leave the post-window rows identical
    to the uncut form."""
    from pyspark.sql import Window

    e = load_tables(spark, SF, names=("embeddings",))["embeddings"]
    q_ids, q_vecs = av.collect_query_vectors(
        e.filter(F.col("vec_id") % 100 == 0), "vec_id", "embedding"
    )
    w = Window.partitionBy("q_id").orderBy(F.col("s").desc(), F.col("vec_id"))

    def top5(k):
        return {
            (int(r[0]), int(r[1]), int(r[3])): _bits(r[2])
            for r in av.score_bounded_queries(
                fan_out(e).select("vec_id", "embedding"), q_ids, q_vecs, k,
                vec_col="embedding", out_col="s",
            )
            .withColumn("rn", F.row_number().over(w))
            .filter("rn <= 5")
            .collect()
        }

    assert top5(5) == top5(None)


def test_pq_encode_bitwise_equals_pq_candidates(spark, vecs):
    books = cl.fit_pq_codebooks(vecs)
    cids = F.array(
        *[
            F.array_min(cl._pq_candidates(books[m], cl._pq_sub(F.col("e"), m)))["cid"]
            for m in range(cl.PQ_M)
        ]
    )
    old = {
        int(r[0]): tuple(r[1])
        for r in vecs.select("vec_id", cids.alias("codes")).collect()
    }
    new = {
        int(r[0]): tuple(r[1])
        for r in av.pq_encode(vecs, books, keep=("vec_id",)).select(
            "vec_id", "codes"
        ).collect()
    }
    assert old == new
