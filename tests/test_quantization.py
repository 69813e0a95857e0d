"""Product quantization (pipeline_ext/quantization.py): encode-path
guards, training determinism, ADC serve properties, and the
refine-path exactness guarantee."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from fuserank_spark.pipeline_ext import quantization as Q
from fuserank_spark.pipeline_ext.simsearch import brute_force_knn

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    df.cache().count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def forgy_books(emb):
    rows = emb.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()
    return Q.forgy_codebooks([r["embedding"] for r in rows], dim=64, m=8, k=16)


def test_subspace_slices_guard():
    assert Q.subspace_slices(64, 8) == [(i * 8, (i + 1) * 8) for i in range(8)]
    with pytest.raises(ValueError, match="not divisible"):
        Q.subspace_slices(64, 7)


def test_forgy_needs_enough_rows():
    with pytest.raises(ValueError, match="seed rows"):
        Q.forgy_codebooks([[0.0] * 64] * 3, dim=64, m=8, k=16)


def test_train_pq_deterministic_and_shaped(emb):
    b1 = Q.train_pq(emb, dim=64, m=8, k=16, sample_n=256, iters=5, seed=7)
    b2 = Q.train_pq(emb, dim=64, m=8, k=16, sample_n=256, iters=5, seed=7)
    assert b1.shape == (8, 16, 8)
    assert np.array_equal(b1, b2)


def test_train_pq_portable_properties(emb):
    """Portable Lloyd: deterministic, 9-decimal-quantized centroids,
    and a LOWER total quantization error than its own Forgy init
    (Lloyd iterations must not hurt the objective)."""
    kw = dict(dim=64, m=8, k=16, sample_n=256, iters=2)
    b1 = Q.train_pq(emb, portable=True, **kw)
    b2 = Q.train_pq(emb, portable=True, **kw)
    assert b1.shape == (8, 16, 8)
    assert np.array_equal(b1, b2)
    # every updated coordinate sits exactly on the 1e-9 grid
    assert np.allclose(b1 * 1e9, np.round(b1 * 1e9), atol=1e-5)
    sample = np.array(
        [
            r["v"]
            for r in emb.orderBy("vec_id")
            .limit(256)
            .select(F.col("embedding").cast("array<double>").alias("v"))
            .collect()
        ]
    )
    forgy = Q.forgy_codebooks([list(v) for v in sample[:16]], dim=64, m=8, k=16)

    def sq_err(books):
        tot = 0.0
        for j in range(8):
            sub = sample[:, j * 8 : (j + 1) * 8]
            d2 = ((sub[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
            tot += d2.min(axis=1).sum()
        return tot

    assert sq_err(b1) <= sq_err(forgy)


def test_round9_half_up_formula():
    """_round9 is the explicit floor(x*1e9+0.5)/1e9 — half-up, NOT
    Python banker's round (the SQL twin evaluates the same ops)."""
    assert Q._round9(-1.25e-9) == -1e-9
    assert Q._round9(0.123456789123) == 0.123456789
    assert Q._round9(-0.1234567894) == -0.123456789


def test_adc_lut_rejects_wrong_dim(forgy_books):
    with pytest.raises(ValueError, match="dim"):
        Q.adc_lut(forgy_books, [0.0] * 63)


@pytest.mark.parametrize(
    "serve",
    ["pq_adc_topk", "ivf_pq_knn", "sq_adc_topk", "ivf_sq_knn", "bq_hamming_topk", "ivf_bq_knn"],
)
def test_adc_topk_batch_guards(emb, forgy_books, serve):
    """Every public quantized serve rejects an empty or duplicate-id
    batch and a k, refine_factor, max_query_batch or nprobe below 1 —
    unchecked, k=0, refine_factor=0 and nprobe=0 serve 0 rows silently."""
    mins, scales, thr = [0.0] * 64, [1.0] * 64, [0.0] * 64
    cents = np.eye(4, 64)
    cell = (F.col("vec_id") % 4).cast("int").alias("centroid_id")
    pq = Q.pq_encode(emb, forgy_books).select("*", cell)
    sq = Q.sq_encode(emb, mins, scales).select("*", cell)
    bq = Q.bq_encode(emb, thr).select("*", cell)
    run = {
        "pq_adc_topk": lambda qs, **kw: Q.pq_adc_topk(pq, forgy_books, qs, **kw),
        "ivf_pq_knn": lambda qs, **kw: Q.ivf_pq_knn(pq, cents, forgy_books, qs, **kw),
        "sq_adc_topk": lambda qs, **kw: Q.sq_adc_topk(sq, mins, scales, qs, **kw),
        "ivf_sq_knn": lambda qs, **kw: Q.ivf_sq_knn(sq, cents, mins, scales, qs, **kw),
        "bq_hamming_topk": lambda qs, **kw: Q.bq_hamming_topk(bq, thr, qs, **kw),
        "ivf_bq_knn": lambda qs, **kw: Q.ivf_bq_knn(bq, cents, thr, qs, **kw),
    }[serve]
    with pytest.raises(ValueError, match="empty"):
        run([])
    qv = [0.0] * 64
    with pytest.raises(ValueError, match="duplicate"):
        run([(1, qv), (1, qv)])
    bad = [{"k": 0}, {"refine_factor": 0, "refine_with": emb}, {"max_query_batch": 0}]
    if serve.startswith("ivf"):
        bad.append({"nprobe": 0})
    for kw in bad:
        name = next(iter(kw))
        with pytest.raises(ValueError, match=f"{name} must be >= 1, got 0"):
            run([(1, qv)], **kw)


def test_adc_topk_auto_chunks(emb, forgy_books):
    """An over-cap ADC query batch auto-chunks (bounded LUT broadcast
    per chunk) and the chunked union equals the one-shot result."""
    codes = Q.pq_encode(emb, forgy_books)
    qrows = emb.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    queries = [(int(r["vec_id"]), r["embedding"]) for r in qrows]
    one_shot = Q.pq_adc_topk(codes, forgy_books, queries, k=3).collect()
    chunked = Q.pq_adc_topk(
        codes, forgy_books, queries, k=3, max_query_batch=3
    ).collect()
    assert sorted(map(tuple, chunked)) == sorted(map(tuple, one_shot))


def test_ivf_pq_knn_auto_chunks(emb, forgy_books):
    codes = Q.pq_encode(emb, forgy_books).withColumn(
        "centroid_id", (F.col("vec_id") % 4).cast("int")
    )
    qrows = emb.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    queries = [(int(r["vec_id"]), r["embedding"]) for r in qrows]
    cents = np.asarray([r["embedding"] for r in qrows[:4]], dtype="float64")
    one_shot = Q.ivf_pq_knn(codes, cents, forgy_books, queries, k=3, nprobe=2).collect()
    chunked = Q.ivf_pq_knn(
        codes, cents, forgy_books, queries, k=3, nprobe=2, max_query_batch=3
    ).collect()
    assert sorted(map(tuple, chunked)) == sorted(map(tuple, one_shot))


def test_self_query_ranks_first_on_seed_vector(emb, forgy_books):
    """A seed vector quantizes to itself with zero subspace error, so
    its ADC self-score is exactly ||v||^2 — it must rank first for
    its own query on the (near-unit-norm) corpus."""
    codes = Q.pq_encode(emb, forgy_books)
    qrow = emb.filter(F.col("vec_id") == 0).collect()[0]
    out = Q.pq_adc_topk(codes, forgy_books, [(0, qrow["embedding"])], k=5).collect()
    assert out[0]["vec_id"] == 0 and out[0]["rnk"] == 1


def test_refine_with_full_coverage_equals_exact(emb, forgy_books):
    """With refine_factor spanning the whole corpus, the refine path
    re-scores every ADC candidate with exact cosine — the result must
    EQUAL brute-force exact top-k (same ids, same ranks, same
    rounded scores). This pins the refine join + rerank wiring."""
    n = emb.count()
    qrows = emb.filter(F.col("vec_id") < 2).collect()
    queries = [(r["vec_id"], r["embedding"]) for r in qrows]
    codes = Q.pq_encode(emb, forgy_books)
    k = 5
    refined = Q.pq_adc_topk(
        codes,
        forgy_books,
        queries,
        k=k,
        refine_with=emb,
        refine_factor=(n // k) + 1,
    )
    spark = emb.sparkSession
    qdf = spark.createDataFrame(
        [(qid, [float(v) for v in qv]) for qid, qv in queries],
        "query_id bigint, qvec array<double>",
    )
    exact = brute_force_knn(emb, qdf, k=k)
    got = sorted(
        (r["query_id"], r["rnk"], r["vec_id"], r["cosine"]) for r in refined.collect()
    )
    want = sorted(
        (r["query_id"], r["rnk"], r["vec_id"], r["cosine"]) for r in exact.collect()
    )
    assert got == want


def test_trained_books_beat_forgy_recall(emb, forgy_books):
    """Lloyd-trained codebooks should recover exact neighbors at
    least as well as raw Forgy seeds on the refined path (equal is
    possible on easy corpora — both can saturate)."""
    qrows = emb.filter(F.col("vec_id") < 4).collect()
    queries = [(r["vec_id"], r["embedding"]) for r in qrows]
    trained = Q.train_pq(emb, dim=64, m=8, k=16, sample_n=500, iters=8, seed=42)
    r_forgy = Q.pq_recall_at_k(emb, forgy_books, queries, k=10, refine_factor=4)
    r_train = Q.pq_recall_at_k(emb, trained, queries, k=10, refine_factor=4)
    assert r_train >= r_forgy - 0.05
    assert r_train >= 0.5


def test_pq_plan_no_cartesian_and_broadcast(emb, forgy_books):
    """ADC scoring must never CartesianProduct corpus x queries: it
    broadcasts the bounded LUT table."""
    codes = Q.pq_encode(emb, forgy_books)
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    out_e = Q.pq_adc_topk(codes, forgy_books, [(0, qv)], k=5)
    plan_e = out_e._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan_e
    assert "Broadcast" in plan_e


def test_ivf_pq_full_probe_equals_pure_adc(emb, forgy_books):
    """nprobe == n_centroids must reproduce unpartitioned ADC top-k
    exactly — pins the probe-table join + cell filter wiring."""
    from fuserank_spark.pipeline_ext.simsearch import ivf_assign

    rows = emb.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    cents = np.array([r["embedding"] for r in rows], dtype="float64")
    assigned = ivf_assign(emb, cents)
    codes = Q.pq_encode(assigned, forgy_books, keep_vec=False)
    queries = [(r["vec_id"], r["embedding"]) for r in rows[:2]]
    full = Q.ivf_pq_knn(codes, cents, forgy_books, queries, k=5, nprobe=8)
    pure = Q.pq_adc_topk(codes.drop("centroid_id"), forgy_books, queries, k=5)
    a = sorted((r["query_id"], r["rnk"], r["vec_id"], r["adc"]) for r in full.collect())
    b = sorted((r["query_id"], r["rnk"], r["vec_id"], r["adc"]) for r in pure.collect())
    assert a == b


def test_ivf_pq_narrow_probe_subsets_cells(emb, forgy_books):
    """With nprobe=1 every hit must come from the single probed cell
    of its query."""
    from fuserank_spark.pipeline_ext.simsearch import ivf_assign

    rows = emb.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    cents = np.array([r["embedding"] for r in rows], dtype="float64")
    assigned = ivf_assign(emb, cents)
    codes = Q.pq_encode(assigned, forgy_books, keep_vec=False)
    queries = [(r["vec_id"], r["embedding"]) for r in rows[:2]]
    out = Q.ivf_pq_knn(codes, cents, forgy_books, queries, k=5, nprobe=1)
    cells = {r["vec_id"]: r["centroid_id"] for r in codes.select("vec_id", "centroid_id").collect()}
    cn = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    for r in out.collect():
        q = np.asarray(dict(queries)[r["query_id"]], dtype="float64")
        probe = int(np.argsort(-(cn @ (q / np.linalg.norm(q))), kind="stable")[0])
        assert cells[r["vec_id"]] == probe


def test_pq_encode_raises_on_bad_vector_length(spark, forgy_books):
    """Short/NULL vectors must raise (raise_error guard), not encode
    silently-null codes."""
    bad = spark.createDataFrame(
        [(1, [0.0] * 63)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="vector length"):
        Q.pq_encode(bad, forgy_books).collect()
    nulls = spark.createDataFrame(
        [(1, None)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="vector length"):
        Q.pq_encode(nulls, forgy_books).collect()
