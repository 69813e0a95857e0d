"""ANN scale paths: IVF (k-means cells + nprobe) and LSH, measured
against the exact brute-force baseline."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fuserank_spark.metrics import recall
from fuserank_spark.pipeline_ext.simsearch import (
    brute_force_knn,
    ivf_build,
    ivf_knn,
    lsh_knn,
)

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def emb(spark):
    df = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").persist()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def queries(spark, emb):
    return emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )


@pytest.fixture(scope="module")
def exact(emb, queries):
    out = brute_force_knn(emb, queries, k=10)
    return {
        qid: [r["vec_id"] for r in out.filter(F.col("query_id") == qid).orderBy("rnk").collect()]
        for qid in range(5)
    }


def test_ivf_recall_vs_exact(emb, queries, exact):
    assigned, centroids = ivf_build(emb, dim=64, n_centroids=8)
    got = ivf_knn(assigned, centroids, queries, k=10, nprobe=4)
    recalls = []
    for qid in range(5):
        ids = [r["vec_id"] for r in got.filter(F.col("query_id") == qid).orderBy("rnk").collect()]
        recalls.append(recall(exact[qid], ids))
    assert sum(recalls) / len(recalls) >= 0.6, recalls
    # self-match always survives probing (query cell is always probed)
    for qid in range(5):
        ids = [r["vec_id"] for r in got.filter(F.col("query_id") == qid).orderBy("rnk").collect()]
        assert ids[0] == qid


def test_ivf_knn_accepts_bigint_query_ids(emb, queries):
    """Query ids past the int range (vec_id is bigint) serve unchanged:
    the same neighbours as the small ids, under a bigint query_id."""
    import numpy as np

    assigned = emb.withColumn("centroid_id", (F.col("vec_id") % 4).cast("int"))
    cents = np.random.RandomState(3).normal(size=(4, 64))
    off = 3 * 10**9
    big = queries.withColumn("query_id", F.col("query_id") + F.lit(off))
    want = {
        (r["query_id"] + off, r["vec_id"], r["rnk"])
        for r in ivf_knn(assigned, cents, queries, k=5, nprobe=2).collect()
    }
    got = ivf_knn(assigned, cents, big, k=5, nprobe=2)
    assert dict(got.dtypes)["query_id"] == "bigint"
    assert {(r["query_id"], r["vec_id"], r["rnk"]) for r in got.collect()} == want
    assert len(want) == 25


def test_ivf_nprobe_monotone(emb, queries, exact):
    """More probes → recall can only improve (cells are a partition)."""
    assigned, centroids = ivf_build(emb, dim=64, n_centroids=8)

    def mean_recall(nprobe):
        got = ivf_knn(assigned, centroids, queries, k=10, nprobe=nprobe)
        rs = []
        for qid in range(5):
            ids = [
                r["vec_id"]
                for r in got.filter(F.col("query_id") == qid).orderBy("rnk").collect()
            ]
            rs.append(recall(exact[qid], ids))
        return sum(rs) / len(rs)

    assert mean_recall(8) >= mean_recall(2) - 1e-9
    assert mean_recall(8) >= 0.99  # all cells probed == exact


def test_ivf_build_assigned_matches_ivf_assign(emb):
    """ivf_build's ``assigned`` frame (the Arrow kernel) must agree
    row-for-row with ivf_assign (expression-only argmin, the serve
    path under the q_ivf_knn oracle) on the returned centroids — one
    nearest-centroid-by-Euclidean semantics for the trained and the
    frozen-quantizer paths."""
    from fuserank_spark.pipeline_ext.simsearch import ivf_assign

    assigned, centroids = ivf_build(emb, dim=64, n_centroids=5, max_iter=5)
    got = {r["vec_id"]: r["centroid_id"] for r in assigned.select("vec_id", "centroid_id").collect()}
    ex = {
        r["vec_id"]: r["centroid_id"]
        for r in ivf_assign(emb, centroids).select("vec_id", "centroid_id").collect()
    }
    assert len(got) == emb.count()
    assert got == ex


def test_ivf_build_ignores_partitioning_and_row_order(emb):
    """The hash-ordered sample is a function of content only: a raw
    scan, one partition, eight partitions and reversed row order train
    the same centroids and assign every row to the same cell."""
    import numpy as np

    variants = [emb, emb.repartition(1), emb.repartition(8), emb.orderBy(F.col("vec_id").desc())]
    built = [ivf_build(df, dim=64, n_centroids=8, sample_rows=300, max_iter=5) for df in variants]
    ref_cells = {r["vec_id"]: r["centroid_id"] for r in built[0][0].collect()}
    for assigned, cents in built[1:]:
        assert np.array_equal(cents, built[0][1])
        assert {r["vec_id"]: r["centroid_id"] for r in assigned.collect()} == ref_cells


def test_ivf_build_rejects_small_sample_and_null_vectors(spark, emb):
    with pytest.raises(ValueError, match=r"5 rows < n_centroids=8"):
        ivf_build(emb, dim=64, n_centroids=8, sample_rows=5)
    with pytest.raises(ValueError, match=r"3 rows < n_centroids=8"):
        ivf_build(emb.filter(F.col("vec_id") < 3), dim=64, n_centroids=8)
    bad = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, None), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="NULL vector"):
        ivf_build(bad, dim=2, n_centroids=2)


def test_ivf_build_trains_in_one_job(spark):
    """Training on a plain parquet scan is ONE Spark job (the
    hash-ordered limit read into the driver); the returned assignment
    stays lazy."""
    sc = spark.sparkContext
    scan = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    tracker = sc.statusTracker()
    sc.setJobGroup("ivf-build-train", "ivf_build training")
    try:
        ivf_build(scan, dim=64, n_centroids=8, max_iter=8)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert len(tracker.getJobIdsForGroup("ivf-build-train")) == 1


def test_ivf_assign_arrow_matches_expression(emb):
    """The Arrow matmul twin must assign every row to the same cell
    as the expression path — both metrics, with and without the
    rounded tie-break domain."""
    import numpy as np

    from fuserank_spark.pipeline_ext.simsearch import ivf_assign, ivf_assign_arrow

    rows = emb.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    cents = np.array([[float(x) for x in r["embedding"]] for r in rows])
    for metric in ("l2", "ip"):
        for rnd in (6, None):
            ex = {
                r["vec_id"]: r["centroid_id"]
                for r in ivf_assign(
                    emb, cents, metric=metric, score_round=rnd
                ).select("vec_id", "centroid_id").collect()
            }
            ar = {
                r["vec_id"]: r["centroid_id"]
                for r in ivf_assign_arrow(
                    emb, cents, metric=metric, score_round=rnd
                ).select("vec_id", "centroid_id").collect()
            }
            assert ex == ar, (metric, rnd)


def test_ivf_assign_arrow_keeps_struct_payload_with_any_field_name(spark):
    """The output schema is built as a StructType, not re-parsed DDL:
    a struct payload whose field name needs quoting (``content-type``)
    rides through the Arrow kernel as the expression path carries it."""
    import numpy as np

    from pyspark.sql import types as T

    from fuserank_spark.pipeline_ext.simsearch import ivf_assign, ivf_assign_arrow

    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
        T.StructField("meta", T.StructType([T.StructField("content-type", T.StringType())])),
    ])
    d = spark.createDataFrame(
        [(0, [1.0, 0.0], ("text/html",)), (1, [0.0, 1.0], ("text/plain",))], schema
    )
    got = ivf_assign_arrow(d, np.eye(2))
    assert got.schema["meta"] == schema["meta"]
    assert sorted(got.collect()) == sorted(ivf_assign(d, np.eye(2)).collect())


def test_ivf_assign_arrow_rejects_bad_vectors(spark):
    import numpy as np

    from fuserank_spark.pipeline_ext.simsearch import ivf_assign_arrow

    cents = np.eye(3)
    bad_null = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, None)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="NULL vector"):
        ivf_assign_arrow(bad_null, cents).collect()
    # a NULL element inside a vector must not be assigned cell 0
    bad_elem = spark.createDataFrame(
        [(0, [1.0, None, 0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="NULL vector"):
        ivf_assign_arrow(bad_elem, cents).collect()
    bad_len = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="vector length"):
        ivf_assign_arrow(bad_len, cents).collect()
