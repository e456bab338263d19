"""Distributed PCA: exact-integer moments, dual projection paths,
planted-structure recovery, and the hostile edges of the vector column.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from yatsm_spark.kernel.pca_core import (
    QSCALE,
    loadings_from_moments,
    moments_from_quantized,
    quantize,
)
from yatsm_spark.operators.pca import pca_loadings, pca_project


def _df_from_matrix(spark, V):
    rows = [(i, [float(x) for x in row]) for i, row in enumerate(V)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_moments_exact_vs_bruteforce_python():
    rng = np.random.RandomState(5)
    V = rng.randn(300, 6)
    Q = quantize(V)
    n, S, tri = moments_from_quantized(Q)
    assert n == 300
    assert S == [int(sum(int(q) for q in Q[:, d])) for d in range(6)]
    t = 0
    for i in range(6):
        for j in range(i, 6):
            want = sum(int(Q[r, i]) * int(Q[r, j]) for r in range(300))
            assert tri[t] == want
            t += 1


def test_spark_moments_equal_kernel_and_are_partition_invariant(spark):
    rng = np.random.RandomState(9)
    V = rng.randn(500, 5)
    df = _df_from_matrix(spark, V)
    from yatsm_spark.operators.pca import pca_moments

    got = pca_moments(df)
    want = moments_from_quantized(quantize(
        np.stack([np.asarray(r, dtype=np.float64) for r in
                  [row for row in V]])))
    # float32 storage: quantize what Spark actually reads back
    back = np.stack([np.asarray(r.embedding, dtype=np.float64)
                     for r in df.orderBy("vec_id").collect()])
    want = moments_from_quantized(quantize(back))
    assert got == want
    assert pca_moments(df.repartition(17)) == want


def test_recovers_planted_direction(spark):
    rng = np.random.RandomState(2)
    u = rng.randn(8)
    u /= np.linalg.norm(u)
    V = (rng.randn(2000, 1) * 5.0) @ u[None, :] + 0.05 * rng.randn(2000, 8)
    mean, comps, eig = pca_loadings(_df_from_matrix(spark, V), 2)
    assert abs(float(np.dot(comps[:, 0], u))) > 0.99
    assert eig[0] > 50 * eig[1]  # planted axis dominates


def test_literal_and_broadcast_paths_bit_equal(spark):
    rng = np.random.RandomState(4)
    df = _df_from_matrix(spark, rng.randn(400, 7))
    lit = pca_project(df, 3, method="literal").orderBy("vec_id").toPandas()
    bro = pca_project(df, 3, method="broadcast").orderBy("vec_id").toPandas()
    assert np.array_equal(lit.values, bro.values)
    # loadings reuse (train once, project many) is also identical
    ld = pca_loadings(df, 3)
    reused = pca_project(df, 3, method="literal", loadings=ld) \
        .orderBy("vec_id").toPandas()
    assert np.array_equal(lit.values, reused.values)


def test_projection_centers_scores(spark):
    # column sums of centered scores are ~0 up to the quantized-mean
    # grid error (0.5/2^20 per component, times n rows)
    rng = np.random.RandomState(6)
    df = _df_from_matrix(spark, rng.randn(300, 4))
    pdf = pca_project(df, 2).toPandas()
    tol = 300 * 4 * 0.5 / QSCALE
    assert abs(pdf["pc_0"].sum()) < tol
    assert abs(pdf["pc_1"].sum()) < tol


def test_hostile_edges(spark):
    from yatsm_spark.operators.pca import pca_moments

    # single row -> refuse
    one = _df_from_matrix(spark, np.ones((1, 3)))
    with pytest.raises(ValueError, match=">= 2 rows"):
        pca_moments(one)
    # k out of range
    df = _df_from_matrix(spark, np.random.RandomState(0).randn(10, 3))
    with pytest.raises(ValueError, match="k must be"):
        pca_loadings(df, 9)
    # constant column: zero variance handled (eigh on PSD matrix)
    const = np.random.RandomState(1).randn(50, 3)
    const[:, 1] = 2.5
    mean, comps, eig = pca_loadings(_df_from_matrix(spark, const), 3)
    assert min(eig) >= -1e-12
    # null / length-mismatched vectors are dropped, not crashed
    mixed = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, None), (2, [1.0, 2.0, 3.0]), (3, [0.5, 1.5])],
        "vec_id long, embedding array<float>")
    n, S, tri = pca_moments(mixed)
    assert n == 2  # only the two 2-d vectors survive
