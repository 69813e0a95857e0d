"""SemDeDup-style semantic deduplication (dedup.semantic_dedup):
cluster-bucketed cosine dedup with the one-pass greedy keep rule
(Abbas et al. 2023, arXiv:2303.09540).

Not in the frozen 67-entry driver registry (adding entries would push
verified rows out of the driver's first-50 window), so the oracle
evidence lives HERE: a full DuckDB re-derivation of assignment →
within-cell pairs → greedy survivors, compared id-for-id."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from fuserank_spark.pipeline_ext.dedup import semantic_dedup
from fuserank_spark.pipeline_ext.simsearch import ivf_assign

from .conftest import SF_SMOKE

N_CENT = 4
DIM = 64
THR = 0.3  # sf0.001 within-cell cosine tops out ~0.47; 0.3 drops ~1% of pairs


@pytest.fixture(scope="module")
def emb(spark):
    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select("vec_id", "embedding")
    e.cache().count()
    yield e
    e.unpersist()


@pytest.fixture(scope="module")
def centroids(emb):
    rows = emb.filter(F.col("vec_id") < N_CENT).orderBy("vec_id").collect()
    return np.array([[float(x) for x in r["embedding"]] for r in rows])


def _survivor_ids(df) -> set:
    return {r["vec_id"] for r in df.select("vec_id").collect()}


_ORACLE = f"""
WITH e AS (
  SELECT vec_id, embedding,
         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*x))) AS nrm
  FROM embeddings
), cent AS (
  SELECT CAST(vec_id AS INT) AS cid,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec,
         list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*x)) AS csq
  FROM embeddings WHERE vec_id < {N_CENT}
), assigned AS (
  SELECT e.vec_id, e.embedding, e.nrm, c.cid,
         row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round(c.csq - 2*list_sum(list_transform(range(1,{DIM + 1}),
                 i -> CAST(e.embedding[i] AS DOUBLE)*c.cvec[i])), 6) ASC,
               c.cid ASC) AS arn
  FROM e CROSS JOIN cent c
), cells AS (
  SELECT vec_id, embedding, nrm, cid FROM assigned WHERE arn = 1
), pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         list_sum(list_transform(range(1,{DIM + 1}),
             i -> CAST(a.embedding[i] AS DOUBLE)*CAST(b.embedding[i] AS DOUBLE)))
           / (a.nrm * b.nrm) AS cosine
  FROM cells a JOIN cells b ON a.cid = b.cid AND a.vec_id < b.vec_id
)
SELECT vec_id FROM e
WHERE vec_id NOT IN (SELECT id_b FROM pairs WHERE round(cosine, 6) >= {THR})
ORDER BY vec_id
"""


def test_semantic_dedup_matches_duckdb_rederivation(emb, centroids, duck):
    """The whole op — frozen-centroid assignment (rounded-score
    argmin, lowest-cid ties), within-cell cosine pairs, greedy
    lower-id-neighbor drop — re-derived in DuckDB; survivor id sets
    must match exactly."""
    got = _survivor_ids(semantic_dedup(emb, centroids, threshold=THR))
    want = {r[0] for r in duck.execute(_ORACLE).fetchall()}
    assert got == want
    assert len(got) < emb.count()  # the threshold actually fired


def test_semantic_dedup_survivor_properties(emb, centroids):
    """Greedy keep-rule guarantees: every cell's min id survives, and
    no two same-cell survivors are within threshold of each other."""
    out = semantic_dedup(emb, centroids, threshold=THR)
    cells = ivf_assign(emb, centroids, out_col="cell", score_round=6)
    info = {
        r["vec_id"]: (r["cell"], np.array(r["embedding"], dtype="float64"))
        for r in cells.collect()
    }
    survivors = _survivor_ids(out)
    by_cell: dict[int, list[int]] = {}
    for vid, (cell, _) in info.items():
        by_cell.setdefault(cell, []).append(vid)
    for cell, members in by_cell.items():
        assert min(members) in survivors
        alive = sorted(v for v in members if v in survivors)
        for i, a in enumerate(alive):
            va = info[a][1]
            for b in alive[i + 1 :]:
                vb = info[b][1]
                cos = float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb)))
                assert round(cos, 6) < THR, (a, b, cos)


def test_semantic_dedup_star_degrade_keeps_superset(emb, centroids):
    """Oversized-cell star degrade only compares against the cell
    minimum, so it can only drop FEWER rows — survivors must be a
    superset of the full pairwise run (and the min still survives)."""
    full = _survivor_ids(semantic_dedup(emb, centroids, threshold=THR))
    star = _survivor_ids(
        semantic_dedup(emb, centroids, threshold=THR, max_bucket_size=2)
    )
    assert star >= full


def test_semantic_dedup_identity_above_max_cosine(emb, centroids):
    out = semantic_dedup(emb, centroids, threshold=1.0001)
    assert out.count() == emb.count()


def test_semantic_dedup_plan_has_no_quadratic_ops(emb, centroids):
    plan = (
        semantic_dedup(emb, centroids, threshold=THR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semantic_dedup_null_vectors_pass_through(spark, centroids):
    """Docs without an embedding always survive — excluded from
    assignment and pairs (no kernel NULL guard trip), kept by the
    anti-join."""
    rows = [
        (0, [1.0] + [0.0] * 63),
        (1, [1.0] + [0.0] * 63),  # near-dup of 0 → dropped
        (2, None),
        (3, None),
    ]
    d = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assert _survivor_ids(semantic_dedup(d, centroids, threshold=0.9)) == {0, 2, 3}


def test_semantic_dedup_rejects_wrong_width_vector(spark):
    """A vector of another width than the centroids cannot be
    assigned a cell: it must raise naming the column, not land in
    cell 0 and survive."""
    rows = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0]), (2, [0.0, 0.0, 1.0, 0.0])]
    d = spark.createDataFrame(rows, "vec_id long, embedding array<double>").coalesce(1)
    with pytest.raises(Exception, match=r"ValueError: .*'embedding'"):
        semantic_dedup(d, np.eye(4), threshold=0.9).collect()
