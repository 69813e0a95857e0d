"""The session build cache (session.session_cached / persisted):
per-key scratch directories and eviction recovery for the cached
bench paths (IVF index, PQ codes)."""

from __future__ import annotations

import contextlib
import io
import os

from pyspark.sql import functions as F

from .conftest import SF_SMOKE

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_ivf_index_same_suffix_dirs_do_not_collide(spark, tmp_path):
    """Two sf dirs with the same scale suffix get separate index
    builds: building B must not overwrite the files A's cached index
    frame lists, and no index file lands in the repo tree."""
    from fuserank_spark.ext_queries import ivf_trained_knn

    other = tmp_path / "sf0.001"
    other.mkdir()
    spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").withColumn(
        "embedding", F.reverse("embedding")
    ).write.parquet(str(other / "embeddings.parquet"))

    first = ivf_trained_knn(spark, SF_SMOKE).collect()
    ivf_trained_knn(spark, str(other)).collect()
    again = ivf_trained_knn(spark, SF_SMOKE)
    assert again.collect() == first
    assert not [f for f in again.inputFiles() if REPO in f]


def test_pq_cached_topk_self_heals_plan_keyed_eviction(spark):
    """An unpersist() on a plan twin of the cached PQ code table drops
    its blocks (the CacheManager keys by analyzed plan); the next
    pq_cached_topk must re-persist and serve from memory again, not
    re-encode the corpus per serve."""
    from fuserank_spark import ext_queries as X
    from fuserank_spark.pipeline_ext import quantization as Q

    X.pq_cached_topk(spark, SF_SMOKE).collect()

    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    seed = e.filter(F.col("vec_id") < X._PQ_K).orderBy("vec_id").collect()
    books = Q.forgy_codebooks(
        [r["embedding"] for r in seed], dim=64, m=X._PQ_M, k=X._PQ_K
    )
    twin = Q.pq_encode(X._fan_out(e, SF_SMOKE, "embeddings"), books)
    assert twin.storageLevel.useMemory, "twin must resolve to the cached codes"
    twin.unpersist()
    assert not twin.storageLevel.useMemory

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        X.pq_cached_topk(spark, SF_SMOKE).explain(mode="formatted")
    assert "InMemoryTableScan" in buf.getvalue()
