"""Binary quantization (1-bit sign codes, packed Hamming serve) —
quantization.bq_train / bq_encode / bq_hamming_topk / ivf_bq_knn.

Not in the frozen 67-entry driver registry (adding entries would push
verified rows out of the driver's first-50 window), so the oracle
evidence lives HERE (CLAUDE.md registry-external doctrine): thresholds
are FROZEN from bq_train's rounded means (frozen-codebook precedent —
avg is fold-order-dependent, the rounded values ARE the quantizer) and
the encode → pack → xor/popcount → top-k pipeline is re-derived in
DuckDB and compared row-for-row. The unrefined score is INTEGER-valued
(dim - 2*hamming), so this is the one serve path in the family whose
oracle needs no float-rounding discipline at all."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fuserank_spark.pipeline_ext.quantization import (
    BQ_WORD_BITS,
    bq_encode,
    bq_hamming_topk,
    bq_n_words,
    bq_query_words,
    bq_train,
    ivf_bq_knn,
)
from fuserank_spark.pipeline_ext.simsearch import brute_force_knn, ivf_assign

from .conftest import SF_SMOKE

DIM = 64
K = 10
N_Q = 4
N_WORDS = bq_n_words(DIM)


@pytest.fixture(scope="module")
def emb(spark):
    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    e.cache().count()
    return e


@pytest.fixture(scope="module")
def thresholds(emb):
    return bq_train(emb, dim=DIM)


@pytest.fixture(scope="module")
def queries(emb):
    rows = emb.filter(F.col("vec_id") < N_Q).orderBy("vec_id").collect()
    return [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in rows]


def _oracle_sql(thresholds: list[float]) -> str:
    # repr() is shortest-round-trip: DuckDB parses each literal to the
    # identical double, so the frozen thresholds are bit-equal both
    # sides and the > comparison cannot diverge.
    thr = "[" + ", ".join(repr(t) for t in thresholds) + "]"
    return f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), thr AS (
  SELECT CAST({thr} AS DOUBLE[]) AS t
), codes AS (
  SELECT vec_id,
         list_transform(range(0, {N_WORDS}), w ->
           list_sum(list_transform(range(0, {BQ_WORD_BITS}), j ->
             CASE WHEN {BQ_WORD_BITS}*w + j + 1 <= {DIM}
                       AND v[{BQ_WORD_BITS}*w + j + 1]
                           > t[{BQ_WORD_BITS}*w + j + 1]
                  THEN CAST(1 AS BIGINT) << j ELSE CAST(0 AS BIGINT)
             END))) AS code
  FROM e, thr
), q AS (
  SELECT vec_id AS query_id, code AS qcode FROM codes
  WHERE vec_id < {N_Q}
), scored AS (
  SELECT q.query_id, c.vec_id,
         CAST({DIM} - 2 * list_sum(list_transform(range(0, {N_WORDS}), w ->
           CAST(bit_count(xor(c.code[w + 1], q.qcode[w + 1])) AS BIGINT)))
         AS DOUBLE) AS adc
  FROM codes c CROSS JOIN q
)
SELECT query_id, vec_id,
       row_number() OVER (PARTITION BY query_id
                          ORDER BY adc DESC, vec_id ASC) AS rnk,
       adc
FROM scored
QUALIFY rnk <= {K}
ORDER BY query_id, rnk
"""


def test_bq_serve_matches_duckdb_rederivation(emb, thresholds, queries, duck):
    """encode → pack → popcount top-k re-derived end-to-end in DuckDB
    from the frozen thresholds; (query_id, vec_id, rnk, adc) must
    match row-for-row, adc EXACTLY (integer-valued)."""
    codes = bq_encode(emb, thresholds)
    got = [
        (r["query_id"], r["vec_id"], r["rnk"], r["adc"])
        for r in bq_hamming_topk(codes, thresholds, queries, k=K)
        .orderBy("query_id", "rnk")
        .collect()
    ]
    want = [tuple(r) for r in duck.execute(_oracle_sql(thresholds)).fetchall()]
    assert got == want


def test_bq_encode_matches_python_packing(emb, thresholds):
    """Spark's HOF packing equals the driver-side bq_query_words twin
    on every corpus row (the encode used for queries IS the encode
    used for the corpus)."""
    rows = (
        bq_encode(emb, thresholds, keep_vec=True)
        .filter(F.col("vec_id") < 50)
        .collect()
    )
    assert rows
    for r in rows:
        assert [int(w) for w in r["bq_code"]] == bq_query_words(
            thresholds, r["embedding"]
        )
        assert all(0 <= int(w) < (1 << BQ_WORD_BITS) for w in r["bq_code"])


def test_bq_refine_full_coverage_is_exact(emb, thresholds, queries):
    """With refine covering the whole corpus, the refined BQ path must
    equal brute-force exact cosine (the family refine contract)."""
    n = emb.count()
    codes = bq_encode(emb, thresholds)
    refined = bq_hamming_topk(
        codes, thresholds, queries, k=K,
        refine_with=emb, refine_factor=(n // K) + 1,
    )
    qdf = emb.sparkSession.createDataFrame(
        [(qid, qv) for qid, qv in queries], "query_id bigint, qvec array<double>"
    )
    exact = brute_force_knn(emb, qdf, k=K)
    got = [tuple(r) for r in refined.orderBy("query_id", "rnk").collect()]
    want = [tuple(r) for r in exact.orderBy("query_id", "rnk").collect()]
    assert got == want


def test_ivf_bq_full_probe_equals_flat(emb, thresholds, queries):
    import numpy as np

    cent_rows = emb.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()
    centroids = np.array([[float(x) for x in r["embedding"]] for r in cent_rows])
    codes = bq_encode(ivf_assign(emb, centroids), thresholds)
    got = (
        ivf_bq_knn(codes, centroids, thresholds, queries, k=K, nprobe=4)
        .orderBy("query_id", "rnk")
        .collect()
    )
    want = (
        bq_hamming_topk(
            codes.drop("centroid_id"), thresholds, queries, k=K
        )
        .orderBy("query_id", "rnk")
        .collect()
    )
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


@pytest.mark.parametrize("ivf", [False, True], ids=["flat", "ivf"])
def test_bq_auto_chunks(emb, thresholds, queries, ivf):
    """An over-cap query batch must union to the one-shot result, for
    the flat serve and the IVF serve (full probe)."""
    import numpy as np

    if ivf:
        cent_rows = emb.filter(F.col("vec_id") < 4).orderBy("vec_id").collect()
        centroids = np.array([[float(x) for x in r["embedding"]] for r in cent_rows])
        codes = bq_encode(ivf_assign(emb, centroids), thresholds)

        def serve(**kw):
            return ivf_bq_knn(codes, centroids, thresholds, queries, k=K, nprobe=4, **kw)
    else:
        codes = bq_encode(emb, thresholds)

        def serve(**kw):
            return bq_hamming_topk(codes, thresholds, queries, k=K, **kw)

    one = serve()
    chunked = serve(max_query_batch=1)
    got = [tuple(r) for r in chunked.orderBy("query_id", "rnk").collect()]
    want = [tuple(r) for r in one.orderBy("query_id", "rnk").collect()]
    assert got == want


def test_bq_null_element_is_zero_bit(spark):
    """A NULL vector element encodes as a 0 bit (documented), and a
    ragged tail dimension (dim not divisible by 32) packs into the
    last word without phantom high bits."""
    dim = 33  # one full word + 1-bit tail word
    thr = [0.0] * dim
    v_all = [1.0] * dim
    v_null = [1.0] * dim
    v_null[0] = None
    df = spark.createDataFrame(
        [(0, v_all), (1, v_null)], "vec_id bigint, embedding array<double>"
    )
    rows = {r["vec_id"]: [int(w) for w in r["bq_code"]] for r in bq_encode(df, thr).collect()}
    assert rows[0] == [(1 << 32) - 1, 1]
    assert rows[1] == [(1 << 32) - 2, 1]


def test_bq_encode_rejects_bad_vectors(spark, thresholds):
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    df = spark.createDataFrame(
        [(0, [1.0, 2.0])], "vec_id bigint, embedding array<double>"
    )
    with pytest.raises((Py4JJavaError, SparkRuntimeException)):
        bq_encode(df, thresholds).collect()


def test_quantization_recall_report_family(emb, queries):
    """One shared oracle, all three families: refined recall can never
    be below raw (the raw top-k is a subset of the refine candidate
    set, and refine keeps the exact-best k of the candidates), and a
    refine that covers the whole corpus is exact (recall 1.0)."""
    from fuserank_spark.pipeline_ext.quantization import (
        quantization_recall_report,
    )

    n = emb.count()
    rep = quantization_recall_report(
        emb, queries[:2], dim=DIM, k=K, refine_factor=(n // K) + 1
    )
    for fam in ("pq", "sq8", "bq"):
        raw, ref = rep[f"{fam}_raw"], rep[f"{fam}_refined"]
        assert 0.0 <= raw <= 1.0
        assert ref == 1.0
        assert ref >= raw
