"""MMR diversified rerank — simsearch.mmr_rerank.

Registry-external (frozen 67-entry window), and the greedy selection
is not SQL-expressible without a k-deep recursive CTE over a changing
state vector — so the differential evidence is a SEQUENTIAL-FOLD pure
Python re-implementation (the dedup_spans randomized-differential
precedent) plus the degenerate/diversity properties."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fuserank_spark.kernels import round_half_away
from fuserank_spark.pipeline_ext.simsearch import brute_force_knn, mmr_rerank

from .conftest import SF_SMOKE

K = 8
N_Q = 3
TOPN = 40


@pytest.fixture(scope="module")
def emb(spark):
    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    e.cache().count()
    yield e
    e.unpersist()


@pytest.fixture(scope="module")
def candidates(emb):
    """First-stage top-N with vectors joined back (the documented
    input contract: serve output + refine-style id join)."""
    rows = emb.filter(F.col("vec_id") < N_Q).orderBy("vec_id").collect()
    qdf = emb.sparkSession.createDataFrame(
        [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in rows],
        "query_id bigint, qvec array<double>",
    )
    first = brute_force_knn(emb, qdf, k=TOPN)
    c = first.join(emb, "vec_id").select(
        "query_id", "vec_id", "cosine", "embedding"
    )
    c.cache().count()
    yield c
    c.unpersist()


def _mmr_reference(rows, k, lam):
    """Sequential-fold greedy MMR: same rounding discipline, no numpy."""

    def dot(a, b):
        s = 0.0
        for x, y in zip(a, b):
            s += x * y
        return s

    def norm(a):
        return max(dot(a, a) ** 0.5, 1e-12)

    cands = []
    for key, score, vec in rows:
        n = norm(vec)
        cands.append(
            (int(key), round_half_away(float(score)), [x / n for x in vec])
        )
    picked, out = [], []
    max_sim = {key: float("-inf") for key, _, _ in cands}
    avail = {key for key, _, _ in cands}
    for step in range(min(k, len(cands))):
        best = None
        for key, rel, vec in cands:
            if key not in avail:
                continue
            obj = lam * rel if step == 0 else lam * rel - (1 - lam) * max_sim[key]
            obj = round_half_away(obj)
            cand = (-obj, key)
            if best is None or cand < best[0]:
                best = (cand, key, obj, vec)
        _, bkey, bobj, bvec = best
        avail.discard(bkey)
        out.append((bkey, len(out) + 1, bobj))
        for key, _, vec in cands:
            s = round_half_away(dot(vec, bvec))
            if s > max_sim[key]:
                max_sim[key] = s
    return out


def test_mmr_matches_python_reference(candidates):
    got = {
        qid: [
            (r["vec_id"], r["rnk"], r["mmr"])
            for r in rows
        ]
        for qid, rows in (
            (q, sorted(
                mmr_rerank(candidates, k=K, lam=0.5)
                .filter(F.col("query_id") == q)
                .collect(),
                key=lambda r: r["rnk"],
            ))
            for q in range(N_Q)
        )
    }
    by_q = {}
    for r in candidates.collect():
        by_q.setdefault(int(r["query_id"]), []).append(
            (r["vec_id"], r["cosine"], [float(x) for x in r["embedding"]])
        )
    for q in range(N_Q):
        want = _mmr_reference(by_q[q], K, 0.5)
        assert [(g[0], g[1]) for g in got[q]] == [(w[0], w[1]) for w in want]
        for g, w in zip(got[q], want):
            assert g[2] == pytest.approx(w[2], abs=1e-6)


def test_mmr_lam1_is_relevance_order(candidates):
    """lam=1 must reproduce the first-stage (score desc, key asc)
    order exactly — MMR with no diversity term is a no-op rerank."""
    out = (
        mmr_rerank(candidates, k=K, lam=1.0)
        .orderBy("query_id", "rnk")
        .collect()
    )
    # re-derive expected order from the candidate frame itself
    by_q = {}
    for r in candidates.collect():
        by_q.setdefault(int(r["query_id"]), []).append(
            (round_half_away(float(r["cosine"])), int(r["vec_id"]))
        )
    for q, rows in by_q.items():
        rows.sort(key=lambda t: (-t[0], t[1]))
    got_ids = {}
    for r in out:
        got_ids.setdefault(int(r["query_id"]), []).append(int(r["vec_id"]))
    for q in by_q:
        assert got_ids[q] == [v for _, v in by_q[q][:K]]


def test_mmr_penalizes_duplicates(spark):
    """Two identical top-scoring vectors: plain order returns both
    first; MMR at lam=0.5 must separate them (the duplicate's
    marginal value collapses by the full (1-lam) penalty)."""
    v_dup = [1.0, 0.0]
    v_other = [0.6, 0.8]
    rows = [
        (0, 1, 0.99, v_dup),
        (0, 2, 0.98, v_dup),
        (0, 3, 0.90, v_other),
    ]
    df = spark.createDataFrame(
        rows, "query_id bigint, vec_id bigint, cosine double, embedding array<double>"
    )
    out = [
        int(r["vec_id"])
        for r in mmr_rerank(df, k=3, lam=0.5).orderBy("rnk").collect()
    ]
    assert out == [1, 3, 2]


def test_mmr_k_exceeding_candidates_returns_all(spark):
    df = spark.createDataFrame(
        [(0, 1, 0.9, [1.0, 0.0]), (0, 2, 0.8, [0.0, 1.0])],
        "query_id bigint, vec_id bigint, cosine double, embedding array<double>",
    )
    assert mmr_rerank(df, k=10, lam=0.7).count() == 2


def test_mmr_over_cap_raises(spark):
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import PythonException

    df = spark.createDataFrame(
        [(0, i, 0.5, [1.0, 0.0]) for i in range(5)],
        "query_id bigint, vec_id bigint, cosine double, embedding array<double>",
    )
    with pytest.raises((Py4JJavaError, PythonException)):
        mmr_rerank(df, k=3, lam=0.5, max_candidates=3).collect()


def test_mmr_invalid_args(spark):
    df = spark.createDataFrame(
        [(0, 1, 0.5, [1.0])],
        "query_id bigint, vec_id bigint, cosine double, embedding array<double>",
    )
    with pytest.raises(ValueError):
        mmr_rerank(df, lam=1.5)
    with pytest.raises(ValueError):
        mmr_rerank(df, k=0)
