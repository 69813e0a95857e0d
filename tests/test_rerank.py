"""W1-W8 re-ranking parity: the Spark window pipeline vs a pandas
twin implementing the reference semantics (`src/encode.py:191-267`),
plus the §5.5 property tests."""

from __future__ import annotations

import sys

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from fuserank_spark import schema as S
from fuserank_spark.encode import ColumnStats, CorpusStats
from fuserank_spark.rerank import rerank


def _pd_ranknorm(col: pd.Series, ascending: bool, n: int) -> pd.Series:
    return 2 * (col.rank(ascending=ascending) - 1) / (n - 1) - 1


def _stats(**cols) -> CorpusStats:
    return CorpusStats(columns=cols, n_rows=0)


@pytest.fixture()
def result_pdf():
    return pd.DataFrame(
        {
            "row_id": range(8),
            "relevance": [0.5, 0.4, 0.35, 0.3, 0.28, 0.2, 0.1, 0.05],
            "price": [10.0, 25.0, 25.0, None, 40.0, 55.0, 25.0, 5.0],
            "city": ["rome", "oslo", None, "rome", "bern", "kiev", "oslo", "rome"],
            "vip": ["y", "n", None, "y", "n", "y", "n", "y"],
        }
    )


def test_sparse_rerank_matches_pandas(spark, result_pdf):
    aux = {"city": ((["rome"], False), 2.0)}
    sdf = spark.createDataFrame(result_pdf)
    got = (
        rerank(sdf, aux, {"city": S.SPARSE}, _stats(city=ColumnStats(S.SPARSE)))
        .orderBy("row_id")
        .toPandas()
    )
    # pandas twin (src/encode.py:255-264): selected→" ", null→"'", rank desc
    col = result_pdf["city"].replace(["rome"], " ").fillna("'")
    expect = result_pdf["relevance"] + 2.0 * _pd_ranknorm(col, False, len(result_pdf))
    assert np.allclose(got["relevance"].to_numpy(), expect.to_numpy())


def test_binary_rerank_matches_pandas(spark, result_pdf):
    aux = {"vip": ("y", 1.5)}
    sdf = spark.createDataFrame(result_pdf)
    got = (
        rerank(sdf, aux, {"vip": S.BINARY}, _stats(vip=ColumnStats(S.BINARY, values=["n", "y"])))
        .orderBy("row_id")
        .toPandas()
    )
    col = result_pdf["vip"].replace("y", " ").fillna("'")
    expect = result_pdf["relevance"] + 1.5 * _pd_ranknorm(col, False, len(result_pdf))
    assert np.allclose(got["relevance"].to_numpy(), expect.to_numpy())


# a category value holding a quote and a backslash must reach the
# re-rank expression unchanged
ODD = "o'k\\"


def test_sparse_rerank_quoted_value_matches_pandas(spark, result_pdf):
    pdf = result_pdf.assign(city=result_pdf["city"].replace("rome", ODD))
    aux = {"city": (([ODD], False), 2.0)}
    got = (
        rerank(spark.createDataFrame(pdf), aux, {"city": S.SPARSE}, _stats(city=ColumnStats(S.SPARSE)))
        .orderBy("row_id")
        .toPandas()
    )
    col = pdf["city"].replace([ODD], " ").fillna("'")
    expect = pdf["relevance"] + 2.0 * _pd_ranknorm(col, False, len(pdf))
    assert np.allclose(got["relevance"].to_numpy(), expect.to_numpy())
    assert got["relevance"][0] > got["relevance"][1]  # the match ranks first


def test_binary_rerank_quoted_value_matches_pandas(spark, result_pdf):
    pdf = result_pdf.assign(vip=result_pdf["vip"].replace("y", ODD))
    aux = {"vip": (ODD, 1.5)}
    stats = _stats(vip=ColumnStats(S.BINARY, values=["n", ODD]))
    got = (
        rerank(spark.createDataFrame(pdf), aux, {"vip": S.BINARY}, stats)
        .orderBy("row_id")
        .toPandas()
    )
    col = pdf["vip"].replace(ODD, " ").fillna("'")
    expect = pdf["relevance"] + 1.5 * _pd_ranknorm(col, False, len(pdf))
    assert np.allclose(got["relevance"].to_numpy(), expect.to_numpy())
    assert got["relevance"][0] > got["relevance"][1]


def test_centroid_rerank_matches_pandas(spark, result_pdf):
    aux = {"price": ((25.0, False), 1.0)}
    stats = _stats(price=ColumnStats(S.DENSE, min=5.0, max=55.0))
    sdf = spark.createDataFrame(result_pdf)
    got = rerank(sdf, aux, {"price": S.DENSE}, stats).orderBy("row_id").toPandas()
    col = (25.0 - result_pdf["price"]).abs().fillna(sys.float_info.max)
    expect = result_pdf["relevance"] + _pd_ranknorm(col, False, len(result_pdf))
    assert np.allclose(got["relevance"].to_numpy(), expect.to_numpy())


def test_interval_rerank_matches_pandas(spark, result_pdf):
    aux = {"price": ((20.0, 41.0, False), 1.0)}
    stats = _stats(price=ColumnStats(S.DENSE, min=5.0, max=55.0))
    sdf = spark.createDataFrame(result_pdf)
    got = rerank(sdf, aux, {"price": S.DENSE}, stats).orderBy("row_id").toPandas()
    col = result_pdf["price"].apply(
        lambda x: sys.float_info.min if (x is not None and not pd.isna(x) and 20.0 <= x <= 41.0) else x
    ).fillna(sys.float_info.max)
    expect = result_pdf["relevance"] + _pd_ranknorm(col, False, len(result_pdf))
    assert np.allclose(got["relevance"].to_numpy(), expect.to_numpy())


def test_highest_rerank_nulls_sink(spark, result_pdf):
    """W2 + pandas NaN-rank parity: 'highest' extreme keeps nulls as
    NULL relevance (they sort last, as in pandas)."""
    aux = {"price": ((55.0,), 1.0)}
    stats = _stats(price=ColumnStats(S.DENSE, min=5.0, max=55.0))
    sdf = spark.createDataFrame(result_pdf)
    got = rerank(sdf, aux, {"price": S.DENSE}, stats).orderBy("row_id").toPandas()
    col = result_pdf["price"].rank(ascending=True)
    expect = result_pdf["relevance"] + (2 * (col - 1) / (len(result_pdf) - 1) - 1)
    mask = result_pdf["price"].isna()
    assert got["relevance"][mask].isna().all()
    assert np.allclose(
        got["relevance"][~mask].to_numpy(), expect[~mask].to_numpy()
    )


def test_rank_bounds_and_null_placement(spark, result_pdf):
    """§5.5 properties: rank outputs ∈ [−1,1]; nulls rank strictly
    between matching and mismatching rows (src/encode.py:193-194)."""
    aux = {"city": ((["rome"], False), 1.0)}
    sdf = spark.createDataFrame(result_pdf.assign(relevance=0.0))
    got = (
        rerank(sdf, aux, {"city": S.SPARSE}, _stats(city=ColumnStats(S.SPARSE)))
        .orderBy("row_id")
        .toPandas()
    )
    deltas = got["relevance"]
    assert deltas.between(-1, 1).all()
    match = deltas[result_pdf["city"] == "rome"].min()
    null_d = deltas[result_pdf["city"].isna()].iloc[0]
    mismatch = deltas[(result_pdf["city"].notna()) & (result_pdf["city"] != "rome")].max()
    assert match > null_d > mismatch


def test_weight_monotonicity(spark, result_pdf):
    """§5.5: raising a modality weight never demotes a perfectly
    matching row relative to a mismatching one."""
    stats = _stats(city=ColumnStats(S.SPARSE))
    sdf = spark.createDataFrame(result_pdf)

    def rel_gap(weight):
        out = (
            rerank(sdf, {"city": ((["rome"], False), weight)}, {"city": S.SPARSE}, stats)
            .orderBy("row_id")
            .toPandas()["relevance"]
        )
        return out[0] - out[5]  # row 0 matches, row 5 doesn't

    assert rel_gap(5.0) > rel_gap(1.0) > rel_gap(0.0)


def test_geo_rerank_matches_numpy(spark):
    """W5 parity: window farthest-point + expression scale-and-shift
    vs the reference formulas in numpy (src/encode.py:232-246)."""
    from fuserank_spark import fourier

    pts = [(77.2, 28.6), (72.8, 19.0), (88.4, 22.6), None, (13.4, 52.5)]
    pdf = pd.DataFrame(
        {
            "row_id": range(5),
            "relevance": [0.0] * 5,
        }
    )
    sdf = spark.createDataFrame(pdf).withColumn(
        "loc",
        F.element_at(
            F.array(
                *[
                    F.struct(F.lit(p[0] if p else None).cast("double").alias("lon"),
                             F.lit(p[1] if p else None).cast("double").alias("lat"))
                    if p
                    else F.lit(None).cast("struct<lon: double, lat: double>")
                    for p in pts
                ]
            ),
            F.col("row_id").cast("int") + 1,
        ),
    )
    q = (77.0, 28.0)
    aux = {"loc": ((q[0], q[1], False), 1.0)}
    got = (
        rerank(sdf, aux, {"loc": S.GEO}, _stats(loc=ColumnStats(S.GEO)))
        .orderBy("row_id")
        .toPandas()["relevance"]
        .to_numpy()
    )

    # numpy twin of the reference math
    arr = np.array([[np.nan, np.nan] if p is None else p for p in pts])
    d = fourier.haversine_km(arr, q)
    far = pts[int(np.nanargmax(d))]
    qvec = fourier.geo_encoding(q, far)
    carts = np.array([fourier.geo_to_cartesian(p) for p in pts])
    scores = np.concatenate([carts, np.ones((5, 1))], axis=1) @ qvec
    ranks = pd.Series(scores).rank(ascending=True)
    expect = (2 * (ranks - 1) / 4 - 1).to_numpy()
    assert np.allclose(got, expect), (got, expect)


def test_geo_rerank_negated_prefers_far(spark):
    """Negation flips ONLY the rank direction (src/encode.py:234):
    'away from this point' must boost the farthest rows."""
    pts = [(77.2, 28.6), (13.4, 52.5), (151.2, -33.9)]  # Delhi, Berlin, Sydney
    rows = [(i, 0.0, p[0], p[1]) for i, p in enumerate(pts)]
    sdf = spark.createDataFrame(rows, "row_id long, relevance double, lon double, lat double")
    sdf = sdf.withColumn("loc", F.struct(F.col("lon"), F.col("lat"))).drop("lon", "lat")
    q = (77.0, 28.0)  # ~Delhi
    got = (
        rerank(
            sdf,
            {"loc": ((q[0], q[1], True), 1.0)},
            {"loc": S.GEO},
            _stats(loc=ColumnStats(S.GEO)),
        )
        .orderBy("row_id")
        .toPandas()["relevance"]
        .to_numpy()
    )
    # Sydney (farthest) must get the max boost, Delhi (nearest) the min
    assert got[2] == max(got) and got[0] == min(got), got


def test_batch_rerank_partitions_by_query(spark, result_pdf):
    """Windows partition by query_id: two copies of the result set
    re-rank independently and identically."""
    both = pd.concat(
        [result_pdf.assign(query_id=1), result_pdf.assign(query_id=2)], ignore_index=True
    )
    aux = {"city": ((["rome"], False), 2.0)}
    sdf = spark.createDataFrame(both)
    got = (
        rerank(sdf, aux, {"city": S.SPARSE}, _stats(city=ColumnStats(S.SPARSE)),
               query_id_col="query_id")
        .orderBy("query_id", "row_id")
        .toPandas()
    )
    q1 = got[got["query_id"] == 1]["relevance"].to_numpy()
    q2 = got[got["query_id"] == 2]["relevance"].to_numpy()
    assert np.allclose(q1, q2)
