"""Arrow vector kernels (fuserank_spark/kernels.py): the one NULL/ragged
contract every Arrow scan shares, the half-away rounding, and the
partition top-k's fold across many small batches."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from fuserank_spark.kernels import lloyd, round_half_away

from .conftest import SF_SMOKE

DIM = 4

# one row per broken-vector shape; every kernel must raise on each
BAD_VECTORS = {
    "null_row": None,
    "null_element": [1.0, None, 0.0, 0.0],
    "wrong_width": [1.0, 0.0, 0.0],
}


def _topk(df):
    from fuserank_spark.search import topk

    # every row lands in the one probed cell: the full Arrow scan
    scan = (np.zeros((1, DIM)), [0], "ip", 6)
    return topk(df, np.eye(DIM)[0], k=2, vector_col="emb", assign_filter=scan)


def _topk_batch(df):
    from fuserank_spark.search import topk_batch

    queries = df.sparkSession.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0])], "query_id bigint, qvec array<double>"
    )
    return topk_batch(df, queries, k=2, vector_col="emb")


def _ivf_assign_arrow(df):
    from fuserank_spark.pipeline_ext.simsearch import ivf_assign_arrow

    return ivf_assign_arrow(df, np.eye(DIM), vec_col="emb")


KERNELS = {
    "topk": _topk,
    "topk_batch": _topk_batch,
    "ivf_assign_arrow": _ivf_assign_arrow,
}


@pytest.mark.parametrize("case", sorted(BAD_VECTORS))
@pytest.mark.parametrize("kernel", sorted(KERNELS))
def test_arrow_kernels_reject_bad_vectors(spark, kernel, case):
    """A NULL row, a NULL element or a wrong-width row raises a
    ValueError naming the column, on every Arrow kernel — never a
    silent NaN score, cell 0 or code 0."""
    df = spark.createDataFrame(
        [(0, [0.0, 1.0, 0.0, 0.0]), (1, BAD_VECTORS[case])],
        "row_id bigint, emb array<double>",
    ).coalesce(1)
    with pytest.raises(Exception, match=r"ValueError: .*'emb'"):
        KERNELS[kernel](df).collect()


# the expression route reads no fixed width, so a long row is checked too
TOPK_BAD_VECTORS = {**BAD_VECTORS, "long_width": [1.0, 0.0, 0.0, 0.0, 0.0]}


@pytest.mark.parametrize("case", sorted(TOPK_BAD_VECTORS))
def test_topk_default_route_rejects_bad_vectors(spark, case):
    """The default single-query route scores in the JVM, where zip_with
    pads a short side with NULL: a bad row must still raise naming the
    column, not score NULL and drop out of the ranking."""
    from fuserank_spark.search import topk

    df = spark.createDataFrame(
        [(0, [0.0, 1.0, 0.0, 0.0]), (1, TOPK_BAD_VECTORS[case])], "row_id bigint, emb array<double>"
    ).coalesce(1)
    with pytest.raises(Exception, match=r"topk: column 'emb'"):
        topk(df, np.eye(DIM)[0], k=2, vector_col="emb").collect()


def test_round_half_away_matches_scalar_formula():
    """The array form is bit-identical to the scalar half-away
    formula, including negative midpoints, and works on scalars."""
    rng = np.random.default_rng(7)
    x = np.concatenate(
        [rng.normal(size=500), [0.5, -0.5, 1.5, -2.5, 0.0, -0.0, 1e-7, -3.0000005]]
    )
    for digits in (0, 6, 9):
        p = 10.0**digits
        want = [math.copysign(math.floor(abs(v) * p + 0.5), v) / p for v in x.tolist()]
        got = round_half_away(x, digits)
        assert got.tobytes() == np.asarray(want).tobytes()
        assert [round_half_away(v, digits) for v in x.tolist()] == want
    assert round_half_away(-0.5, 0) == -1.0 and round_half_away(0.5, 0) == 1.0


@pytest.mark.parametrize("iters", [1, 5])
@pytest.mark.parametrize("seed", range(8))
def test_lloyd_reseeds_empty_clusters_to_the_farthest_row(seed, iters):
    """Ten copies of one point plus one outlier, k=2. Most inits draw
    two copies: every row then joins cell 0 and cell 1 is empty. The
    repair re-seeds it to the row farthest from its own centroid, the
    outlier, so whatever the init the centroids stay distinct and one
    of them is the outlier. Keeping the previous centroid instead ends
    the first iteration on the all-rows mean and a copy."""
    x = np.vstack([np.tile([1.0, 2.0], (10, 1)), [[9.0, -4.0]]])
    cents = {tuple(c) for c in lloyd(x, 2, iters, np.random.default_rng(seed))}
    assert len(cents) == 2
    assert (9.0, -4.0) in cents


def test_partition_topk_folds_small_batches(spark):
    """With 7-row Arrow batches each partition folds ~36 batch cuts
    into its running top-k; topk (score_round=6) and topk_batch must
    still equal the expression path (per-query JVM topk rows)."""
    from fuserank_spark.search import topk, topk_batch

    emb = (
        spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
        .select(F.col("vec_id").alias("row_id"), F.col("embedding").alias("vector"))
        .coalesce(2)
    )
    qrows = emb.filter(F.col("row_id") < 3).orderBy("row_id").collect()
    queries = spark.createDataFrame(
        [(int(r["row_id"]), [float(x) for x in r["vector"]]) for r in qrows],
        "query_id bigint, qvec array<double>",
    )
    scan = (np.zeros((1, len(qrows[0]["vector"]))), [0], "ip", 6)  # full Arrow scan
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    want = []
    try:
        for r in qrows:
            qv = np.asarray(r["vector"], dtype="float64")
            got = topk(emb, qv, k=10, score_round=6, assign_filter=scan).collect()
            rows = topk(emb, qv, k=10, score_round=6).collect()
            assert [x["row_id"] for x in got] == [x["row_id"] for x in rows]
            want += [
                {"query_id": int(r["row_id"]), "row_id": x["row_id"], "relevance": x["relevance"]}
                for x in rows
            ]
        rank = ["query_id", F.desc("relevance"), "row_id"]
        got = topk_batch(emb, queries, k=10).orderBy(*rank).collect()
    finally:
        spark.conf.set(key, old)
    want.sort(key=lambda x: (x["query_id"], -x["relevance"], x["row_id"]))
    assert [(x["query_id"], x["row_id"]) for x in got] == [
        (x["query_id"], x["row_id"]) for x in want
    ]
    assert all(abs(a["relevance"] - b["relevance"]) < 1e-9 for a, b in zip(got, want))


def test_sql_twins_break_ties_as_the_kernels():
    """The oracle builders' tie-breaks on a hand-built table: a row
    equidistant from two centroids after round(, 6) gets the lowest
    cell, as kernels.assign_cells gives it; a tied probe cosine keeps
    the lowest cell, as kernels.probe_cells does; tied candidates
    rank by key ascending."""
    import duckdb

    from fuserank_spark.ext_queries import _sql_assign, _sql_probe, _sql_rank
    from fuserank_spark.kernels import assign_cells, probe_cells

    # rows 0-1 are the centroids; row 2 is nearer cell 1 by 4e-8 before
    # rounding, row 3 is exactly equidistant
    vecs = [[1.0, 0.0], [-1.0, 0.0], [-1e-8, 1.0], [0.0, 1.0]]
    M, C = np.asarray(vecs), np.asarray(vecs[:2])
    assert assign_cells(M, C, "l2", None)[2] == 1
    want = assign_cells(M, C, "l2", 6).tolist()
    assert want == [0, 1, 0, 0]

    con = duckdb.connect()
    con.execute("CREATE TABLE t (vec_id BIGINT, v DOUBLE[])")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(vecs)))
    ctes = f"""WITH e AS (SELECT * FROM t), {_sql_assign("v", 2, 2)}, q AS (
      SELECT vec_id AS query_id, v AS qe, sqrt(list_sum(list_transform(v, x -> x * x))) AS qn
      FROM e WHERE vec_id = 3
    ), {_sql_probe(2, 1)}"""
    cells = con.execute(f"{ctes} SELECT cid FROM cells ORDER BY vec_id").fetchall()
    assert [c for (c,) in cells] == want
    probed = con.execute(f"{ctes} SELECT cid FROM probed").fetchall()
    assert [c for (c,) in probed] == probe_cells(C, M[3], 1) == [0]

    ranked = con.execute(
        "WITH s AS (SELECT query_id, vec_id, CAST(cosine AS DOUBLE) AS cosine FROM (VALUES "
        "(0, 5, 0.9), (0, 3, 0.9), (0, 4, 0.5), (1, 2, 0.1), (1, 1, 0.1), (1, 7, 0.05)"
        f") v(query_id, vec_id, cosine)) {_sql_rank('s', 'cosine', 2)}"
    ).fetchall()
    assert ranked == [(0, 3, 1, 0.9), (0, 5, 2, 0.9), (1, 1, 1, 0.1), (1, 2, 2, 0.1)]
