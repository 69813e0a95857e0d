"""PCA dimensionality reduction (quantization.train_pca /
pca_project). Registry-external: the projection is re-derived in
DuckDB from the frozen literal map (round(,6) both engines, the
q_ivf_knn convention); orthonormality and recall properties pin the
fit."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

from fuserank_spark.pipeline_ext.quantization import pca_project, train_pca

DIM, DOUT = 64, 16


@pytest.fixture(scope="module")
def fitted(spark):
    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select("vec_id", "embedding")
    mean, comps = train_pca(e, dim=DIM, dim_out=DOUT)
    return e, mean, comps


def test_pca_components_orthonormal(fitted):
    _, _, comps = fitted
    gram = comps @ comps.T
    assert np.allclose(gram, np.eye(DOUT), atol=1e-9)
    # sign canon: each component's largest-|coeff| entry is positive
    mx = comps[np.arange(DOUT), np.abs(comps).argmax(axis=1)]
    assert (mx > 0).all()


def test_pca_projection_matches_duckdb_twin(spark, duck, fitted):
    e, mean, comps = fitted
    offs = comps @ mean
    outs = []
    for j in range(DOUT):
        lits = ", ".join(f"{c!r}" for c in comps[j])
        dot = (
            f"(list_sum(list_transform(range(1, {DIM + 1}),"
            f" i -> CAST(embedding[i] AS DOUBLE) * ([{lits}])[i])) - {offs[j]!r})"
        )
        # the portable floor-formula, same three ops as the engine side
        outs.append(f"floor({dot} * 1e6 + 0.5) / 1e6")
    exp = {
        r[0]: list(r[1:])
        for r in duck.execute(
            f"SELECT vec_id, {', '.join(outs)} FROM embeddings"
        ).fetchall()
    }
    got = {
        r["vec_id"]: r["pca_vec"]
        for r in pca_project(e, mean, comps, score_round=6)
        .select("vec_id", "pca_vec")
        .collect()
    }
    assert got == exp


def test_pca_recall_vs_prefix_truncation(spark, fitted):
    """Measured property: top-10 cosine recall of PCA-16 vs the exact
    dim-64 oracle, compared against raw 16-dim prefix truncation on
    the same corpus — PCA spends the scan width on variance."""
    e, mean, comps = fitted
    rows = e.orderBy("vec_id").collect()
    x = np.array([r["embedding"] for r in rows], dtype="float64")

    def topk_cos(mat, q, k=10):
        nm = np.linalg.norm(mat, axis=1) * np.linalg.norm(q)
        nm[nm == 0] = 1
        return set(np.argsort(-(mat @ q) / nm)[:k])

    proj = (x - mean) @ comps.T
    pref = x[:, :DOUT]
    r_pca, r_pref = [], []
    for qi in range(8):
        exact = topk_cos(x, x[qi])
        r_pca.append(len(topk_cos(proj, proj[qi]) & exact) / 10)
        r_pref.append(len(topk_cos(pref, pref[qi]) & exact) / 10)
    m_pca, m_pref = float(np.mean(r_pca)), float(np.mean(r_pref))
    print(f"pca16 recall@10={m_pca:.3f} prefix16={m_pref:.3f}")
    assert m_pca > 0.2
    # the variance argument in practice: PCA should not lose to the
    # raw prefix by more than noise on this corpus
    assert m_pca >= m_pref - 0.1


def test_pca_validation(spark):
    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select("vec_id", "embedding")
    with pytest.raises(ValueError, match="dim_out"):
        train_pca(e, dim=DIM, dim_out=0)
    with pytest.raises(ValueError, match="dim_out"):
        train_pca(e, dim=DIM, dim_out=DIM + 1)


def test_pca_null_and_ragged_rows_both_paths(spark, fitted):
    import pandas as pd

    _, mean, comps = fitted
    rows = [(0, [0.5] * DIM), (1, None), (2, [1.0] * 3)]
    sdf = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"])
    ).select("vec_id", F.col("embedding").cast("array<float>").alias("embedding"))
    a = {
        r["vec_id"]: r["pca_vec"]
        for r in pca_project(sdf, mean, comps, score_round=9).collect()
    }
    assert a[1] == [None] * DOUT and a[2] == [None] * DOUT
    assert all(v is not None for v in a[0])
