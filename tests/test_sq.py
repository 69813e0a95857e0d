"""Scalar quantization (SQ8) — quantization.sq_train / sq_encode /
sq_adc_topk / ivf_sq_knn.

Not in the frozen 67-entry driver registry (adding entries would push
verified rows out of the driver's first-50 window), so the oracle
evidence lives HERE: a full DuckDB re-derivation of the per-dim
min/max fit, the floor(x+0.5) codes, and the bias + weighted-code ADC
top-k, compared row-for-row (the q_pq_knn pattern, test-resident)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fuserank_spark.pipeline_ext.quantization import (
    ivf_sq_knn,
    sq_adc_topk,
    sq_encode,
    sq_train,
)
from fuserank_spark.pipeline_ext.simsearch import brute_force_knn, ivf_assign

from .conftest import SF_SMOKE

DIM = 64
K = 10
N_Q = 4


@pytest.fixture(scope="module")
def emb(spark):
    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    e.cache().count()
    return e


@pytest.fixture(scope="module")
def params(emb):
    return sq_train(emb, dim=DIM)


@pytest.fixture(scope="module")
def queries(emb):
    rows = emb.filter(F.col("vec_id") < N_Q).orderBy("vec_id").collect()
    return [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in rows]


_GS = f"range(1, {DIM + 1})"

# Mirrors sq_train + sq_encode + sq_adc_topk exactly: min/max are
# order-independent (bit-identical across engines), scale is the same
# single (mx-mn)/255.0 op, codes use the same floor((x-mn)/sc + 0.5)
# IEEE sequence, and the score is the same bias + sum(code*(q*sc))
# decomposition with the same sequential fold and round(…, 6) before
# the (score desc, id asc) ranking.
_ORACLE = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), stats AS (
  SELECT i, min(v[i]) AS mn, (max(v[i]) - min(v[i])) / 255.0 AS sc
  FROM e, (SELECT unnest(generate_series(1, {DIM})) AS i) dims
  GROUP BY i
), params AS (
  SELECT list(mn ORDER BY i) AS mns, list(sc ORDER BY i) AS scs FROM stats
), codes AS (
  SELECT vec_id,
         list_transform({_GS}, i ->
           CASE WHEN scs[i] = 0 THEN 0
                ELSE CAST(least(255, greatest(0,
                       floor((v[i] - mns[i]) / scs[i] + 0.5))) AS INT)
           END) AS code
  FROM e, params
), q AS (
  SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < {N_Q}
), scored AS (
  SELECT q.query_id, c.vec_id,
         round(
           list_sum(list_transform({_GS}, i -> qv[i] * mns[i]))
           + list_sum(list_transform({_GS},
               i -> CAST(code[i] AS DOUBLE) * (qv[i] * scs[i]))),
           6) AS adc
  FROM codes c CROSS JOIN q CROSS JOIN params
)
SELECT query_id, vec_id,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY adc DESC, vec_id ASC) AS rnk,
       adc
FROM scored
QUALIFY rnk <= {K}
ORDER BY query_id, rnk
"""


def test_sq_serve_matches_duckdb_rederivation(emb, params, queries, duck):
    """train → encode → ADC top-k re-derived end-to-end in DuckDB;
    (query_id, vec_id, rnk, adc) must match row-for-row."""
    mins, scales = params
    codes = sq_encode(emb, mins, scales)
    got = [
        (r["query_id"], r["vec_id"], r["rnk"], r["adc"])
        for r in sq_adc_topk(codes, mins, scales, queries, k=K)
        .orderBy("query_id", "rnk")
        .collect()
    ]
    want = [tuple(r) for r in duck.execute(_ORACLE).fetchall()]
    assert [g[:3] for g in got] == [w[:3] for w in want]
    for g, w in zip(got, want):
        assert g[3] == pytest.approx(w[3], abs=1e-6)


def test_sq_refine_full_coverage_is_exact(emb, params, queries):
    """With refine covering the whole corpus, the refined SQ path
    must equal brute-force exact cosine (the pq refine contract)."""
    mins, scales = params
    n = emb.count()
    codes = sq_encode(emb, mins, scales)
    refined = sq_adc_topk(
        codes, mins, scales, queries, k=K,
        refine_with=emb, refine_factor=(n // K) + 1,
    )
    qdf = emb.sparkSession.createDataFrame(
        [(qid, qv) for qid, qv in queries], "query_id bigint, qvec array<double>"
    )
    exact = brute_force_knn(emb, qdf, k=K)
    got = [tuple(r) for r in refined.orderBy("query_id", "rnk").collect()]
    want = [tuple(r) for r in exact.orderBy("query_id", "rnk").collect()]
    assert got == want


def test_ivf_sq_full_probe_equals_flat(emb, params, queries):
    """nprobe == n_centroids scans every cell, so IVF-SQ must return
    exactly the unpartitioned sq_adc_topk result."""
    import numpy as np

    mins, scales = params
    cent_rows = emb.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()
    centroids = np.array(
        [[float(x) for x in r["embedding"]] for r in cent_rows]
    )
    codes = sq_encode(ivf_assign(emb, centroids), mins, scales)
    got = (
        ivf_sq_knn(codes, centroids, mins, scales, queries, k=K, nprobe=4)
        .orderBy("query_id", "rnk")
        .collect()
    )
    want = (
        sq_adc_topk(codes.drop("centroid_id"), mins, scales, queries, k=K)
        .orderBy("query_id", "rnk")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_ivf_sq_single_probe_is_cell_members(emb, params, queries):
    """nprobe=1 results all live in the query's own nearest cell."""
    import numpy as np

    mins, scales = params
    cent_rows = emb.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()
    centroids = np.array(
        [[float(x) for x in r["embedding"]] for r in cent_rows]
    )
    assigned = ivf_assign(emb, centroids)
    codes = sq_encode(assigned, mins, scales)
    out = ivf_sq_knn(
        codes, centroids, mins, scales, queries[:1], k=K, nprobe=1
    )
    cells = {
        r["vec_id"]: r["centroid_id"]
        for r in assigned.select("vec_id", "centroid_id").collect()
    }
    got_cells = {cells[r["vec_id"]] for r in out.collect()}
    assert len(got_cells) == 1


@pytest.mark.parametrize("ivf", [False, True], ids=["flat", "ivf"])
def test_sq_adc_auto_chunks(emb, params, queries, ivf):
    """An over-cap query batch must union to the one-shot result, for
    the flat serve and the IVF serve (full probe)."""
    import numpy as np

    mins, scales = params
    if ivf:
        cent_rows = emb.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()
        centroids = np.array([[float(x) for x in r["embedding"]] for r in cent_rows])
        codes = sq_encode(ivf_assign(emb, centroids), mins, scales)

        def serve(**kw):
            return ivf_sq_knn(codes, centroids, mins, scales, queries, k=K, nprobe=4, **kw)
    else:
        codes = sq_encode(emb, mins, scales)

        def serve(**kw):
            return sq_adc_topk(codes, mins, scales, queries, k=K, **kw)

    one = serve()
    chunked = serve(max_query_batch=1)
    got = [tuple(r) for r in chunked.orderBy("query_id", "rnk").collect()]
    want = [tuple(r) for r in one.orderBy("query_id", "rnk").collect()]
    assert got == want


def test_sq_codes_bounded_and_constant_dim(spark):
    """Codes land in [0, 255]; a constant dimension (scale 0) encodes
    as 0 and dequantizes back to the constant, keeping ADC exact on
    that dimension."""
    df = spark.createDataFrame(
        [(0, [0.0, 5.0]), (1, [1.0, 5.0]), (2, [0.25, 5.0])],
        "vec_id bigint, embedding array<double>",
    )
    mins, scales = sq_train(df, dim=2)
    assert scales[1] == 0.0
    codes = sq_encode(df, mins, scales)
    rows = {r["vec_id"]: r["sq_code"] for r in codes.collect()}
    assert all(0 <= c <= 255 for code in rows.values() for c in code)
    assert [rows[i][1] for i in range(3)] == [0, 0, 0]
    # ADC with q = [0, 1] must score every row exactly 5.0
    out = sq_adc_topk(codes, mins, scales, [(0, [0.0, 1.0])], k=3)
    assert [r["adc"] for r in out.collect()] == [5.0, 5.0, 5.0]


def test_sq_encode_rejects_bad_vectors(spark, params):
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    mins, scales = params
    df = spark.createDataFrame(
        [(0, [1.0, 2.0])], "vec_id bigint, embedding array<double>"
    )
    with pytest.raises((Py4JJavaError, SparkRuntimeException)):
        sq_encode(df, mins, scales).collect()
