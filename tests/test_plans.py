"""Physical-plan posture tests (SURVEY §4, build-brief scale rules):
filters push to the parquet scan, projections prune columns, small
dims broadcast, top-k compiles to TakeOrderedAndProject, expression
paths stay in whole-stage codegen. These are the properties that
decide 100 TB behavior; correctness tests alone would not catch a
regression here."""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod

from tests.conftest import SF_SMOKE

QS = entry_mod.queries()


def plan_str(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_filter_pushdown_and_pruning(spark):
    p = plan_str(QS["q_filter"](spark, SF_SMOKE))
    assert "PushedFilters" in p
    assert "l_quantity" in p.split("PushedFilters")[1].split("]")[0]
    assert "l_returnflag" in p.split("PushedFilters")[1].split("]")[0]
    # ReadSchema prunes to the 3 selected columns
    read_schema = p.split("ReadSchema")[1].splitlines()[0]
    assert "l_extendedprice" not in read_schema
    assert "l_shipdate" not in read_schema


def test_join_broadcasts_small_dim(spark):
    p = plan_str(QS["q_join"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in p


def test_topk_is_take_ordered(spark):
    p = plan_str(QS["q_topk"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in p
    # a global Sort+Limit would be a full-shuffle regression
    assert "GlobalLimit" not in p


def test_column_pruning_documents(spark):
    p = plan_str(QS["q_tokencount"](spark, SF_SMOKE))
    read_schema = p.split("ReadSchema")[1].splitlines()[0]
    assert "text" in read_schema
    assert "lang" not in read_schema and "source" not in read_schema


def test_dense_encode_expr_is_jvm_side(spark):
    """The Column-expression dense block stays JVM-side (higher-order
    functions don't enter whole-stage codegen, but there must be no
    Python eval boundary) and the harmonic sequence constant-folds."""
    from fuserank_spark.encode import dense_product_expr

    df = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        dense_product_expr(F.col("n_chars"), 0.0, 600.0, 4).alias("v")
    )
    p = plan_str(df)
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "Batched: true" in p  # columnar parquet scan
    assert "sequence(" not in p  # constant-folded to a literal array


def test_fused_search_single_pass(spark):
    """Fused single-query top-k: one scan, no join, no global sort, no
    Python stage — TakeOrderedAndProject on the scored scan."""
    from fuserank_spark.flagship import build_corpus, flagship_compiled
    from fuserank_spark.search import topk

    corpus = build_corpus(spark, SF_SMOKE)
    cq = flagship_compiled(corpus)
    p = plan_str(topk(corpus.encoded, cq.vector, k=10))
    assert "TakeOrderedAndProject" in p
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p
    assert "MapInArrow" not in p


def test_topk_query_is_one_literal(spark):
    """The query vector reaches the optimized plan as ONE folded array
    literal, with no ``CreateArray`` left over one literal per element.
    The analyzed plan still holds the unfolded SQL text of the literal
    until ConstantFolding runs, so the optimized plan is the one read."""
    import re

    import numpy as np

    from fuserank_spark.search import topk

    df = spark.createDataFrame([(1, [1.0, 2.0, 3.0])], "row_id bigint, vector array<double>")
    out = topk(df, np.array([0.25, 0.5, 0.75]), k=1)
    optimized = out._jdf.queryExecution().optimizedPlan().toString()
    assert len(re.findall(r"\[0\.25,0\.5,0\.75\]", optimized)) == 1, optimized
    assert "array(" not in optimized and "split(" not in optimized, optimized
    assert out.collect()[0]["relevance"] == 3.5


def test_fused_search_arrow_scan(spark):
    """Fused top-k under an in-scan IVF assign: the corpus flows
    through ONE Arrow scan (numpy matmul + partial top-k); only k-row
    hits are joined back — the corpus itself is never sorted or
    shuffled. One cell holding every row makes it a full scan."""
    import numpy as np

    from fuserank_spark.flagship import build_corpus, flagship_compiled
    from fuserank_spark.search import topk

    corpus = build_corpus(spark, SF_SMOKE)
    cq = flagship_compiled(corpus)
    scan = (np.zeros((1, len(cq.vector))), [0], "ip", 6)
    p = plan_str(topk(corpus.encoded, cq.vector, k=10, assign_filter=scan))
    assert "MapInArrow" in p
    assert "Exchange rangepartitioning" not in p  # no corpus-wide sort


def test_topk_batch_no_corpus_shuffle(spark):
    """Batched top-k: the Arrow scan reads the corpus with no exchange
    below it (the queries ride in the scan's closure), its survivors
    shuffle ONCE, hashed on query_id, for the merge window, and no
    join follows: each survivor carries its corpus row."""
    from fuserank_spark.search import topk_batch

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select(
        F.col("vec_id").alias("row_id"), F.col("embedding").alias("vector")
    )
    qdf = spark.createDataFrame(
        [(0, [0.1] * 64), (1, [0.2] * 64)], "query_id int, qvec array<double>"
    )
    tree = [ln.strip(" +-:") for ln in plan_str(topk_batch(emb, qdf, k=5), "simple").splitlines()]
    ops = [ln for ln in tree if ln and not ln.startswith("==")]
    assert "Join" not in "\n".join(ops)
    exchanges = [i for i, ln in enumerate(ops) if ln.startswith("Exchange")]
    assert len(exchanges) == 1 and ops[exchanges[0]].startswith("Exchange hashpartitioning(query_id#")
    scan = next(i for i, ln in enumerate(ops) if ln.startswith("MapInArrow"))
    assert exchanges[0] == scan - 1
    below = ops[scan + 1 :]
    assert below[-1].startswith("FileScan parquet")
    assert all(ln.startswith("Project") for ln in below[:-1]), below


def test_neardup_lsh_plan_has_no_join(spark):
    """The bucketed near-dup (the unbounded default) must contain NO
    join of any kind — candidates come from within-bucket pair
    generation, so the quadratic θ-join and the self-join
    re-evaluation trap are both structurally impossible. The r6
    two-regime split (collect-list pair-gen for small buckets,
    row-wise star edges against the window minimum for oversized
    ones) must not double the scan: at runtime AQE reuses the single
    bucket exchange for both branches."""
    from fuserank_spark.pipeline_ext.dedup import embedding_neardup_pairs

    df = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    out = embedding_neardup_pairs(df, method="lsh", dim=64)
    p = plan_str(out)
    assert "CartesianProduct" not in p
    assert "NestedLoopJoin" not in p
    assert "Join" not in p  # no join operator at all
    # only two distinct shuffles exist: (table_idx, bucket) and the
    # pair-distinct (id_a, id_b); the branch split adds no third key
    import re

    keys = set(re.findall(r"Exchange hashpartitioning\((\w+)#", p))
    assert keys <= {"table_idx", "id_a"}, keys
    out.collect()
    phys = out._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in phys


def test_ivf_probe_prunes_partitions(spark):
    """The IVF index table is written partitionBy(centroid_id); the
    probe's static isin filter must become a partition filter — the
    scan reads only the nprobe probed cells, never the full table."""
    from fuserank_spark.ext_queries import ivf_trained_knn

    p = plan_str(ivf_trained_knn(spark, SF_SMOKE))
    assert "PartitionFilters" in p
    pf = p.split("PartitionFilters")[1].split("]")[0]
    assert "centroid_id" in pf and " IN " in pf


def test_ivf_serve_assignment_is_shuffle_free(spark):
    """The oracle-checked serve path's cell assignment (ivf_assign)
    is a pure projection over literal centroids: the only exchange in
    q_ivf_knn's plan is the final per-query rerank window."""
    from fuserank_spark.ext_queries import q_ivf_knn

    p = plan_str(q_ivf_knn(spark, SF_SMOKE))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_split_and_pii_are_shuffle_free_projections(spark):
    """Split assignment and PII scrub are pure projections: no
    exchange, no Python eval boundary — scale cost is the scan."""
    from fuserank_spark.pipeline_ext.curation import assign_split, pii_scrub

    df = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    for out in (assign_split(df), pii_scrub(df)):
        p = plan_str(out)
        assert "Exchange" not in p
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_quota_sample_single_group_shuffle(spark):
    """Quota sampling shuffles once, keyed on the group column."""
    from fuserank_spark.pipeline_ext.curation import quota_sample

    df = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    p = plan_str(quota_sample(df, group_col="source", n_per_group=5), "simple")
    assert p.count("Exchange hashpartitioning") == 1
    assert "source" in p.split("Exchange hashpartitioning")[1].split(")")[0]
    # Spark inserts WindowGroupLimit: each map task pre-trims to the
    # quota BEFORE the shuffle, so the exchange moves ≤ n·groups rows
    assert "WindowGroupLimit" in p


def test_decontam_broadcasts_test_side(spark):
    """Decontamination: the big (train) side must reach the semi-join
    without shuffling — the test-gram set arrives via broadcast; the
    only hash exchange is the final distinct on surviving keys."""
    from fuserank_spark.pipeline_ext.curation import contaminated_keys

    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    test = d.filter(F.col("doc_id") % 17 == 0)
    train = d.filter(F.col("doc_id") % 17 != 0)
    p = plan_str(contaminated_keys(train, test), "simple")
    assert "BroadcastHashJoin" in p and "LeftSemi" in p
    # exactly one hash exchange in the SERVE plan — the final
    # surviving-key distinct. The test-side gram distinct runs once at
    # localCheckpoint time (r12: the auto-sizing count and the
    # broadcast were two actions re-deriving the same grams) and
    # arrives here as a materialized scan feeding the broadcast; the
    # exploded train side reaches the join unshuffled.
    assert p.count("Exchange hashpartitioning") == 1
    assert "Scan ExistingRDD" in p  # the checkpointed test-gram set


def test_repetition_stats_no_quadratic_ops(spark):
    """Repetition stats must stay hash-keyed: no nested-loop or
    cartesian anywhere, no Python eval, and the per-token path is
    explode→agg (bounded exchanges), not a per-row quadratic HOF."""
    from fuserank_spark.pipeline_ext.curation import repetition_stats

    df = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    p = plan_str(repetition_stats(df))
    assert "CartesianProduct" not in p and "NestedLoopJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert p.count("Exchange hashpartitioning") <= 4


def test_knn_merges_are_two_phase(spark):
    """VERDICT r2 #1: brute_force_knn / lsh_knn / ivf_knn must never
    funnel ALL of one query's candidates through a single window task.
    The two-phase merge shows as two Window operators — the first
    partitioned by (query, key-bucket), the second by query over the
    k·buckets survivors."""
    from fuserank_spark.pipeline_ext.simsearch import brute_force_knn, lsh_knn

    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    for out in (brute_force_knn(e, q, k=5), lsh_knn(e, q, dim=64, k=5)):
        p = plan_str(out)
        assert p.count("Window") >= 2, "expected local + global window phases"
        # phase-1 partitioning key includes the bucket hash, not bare query_id
        assert "pmod" in p and "xxhash64" in p


def test_pack_split_never_single_partition_window(spark):
    """The offset cumsum must run per hash-bucket — an empty
    partitionBy window would plan Exchange SinglePartition and put
    the whole corpus on one task."""
    from fuserank_spark.pipeline_ext.packing import pack_split
    from fuserank_spark.pipeline_ext.textstats import token_count

    d = token_count(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ).select("doc_id", "n_tokens")
    plan = (
        pack_split(d, budget=512)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SinglePartition" not in plan
    assert "Join" not in plan  # prefix offsets fold in as a literal map


def test_mixture_and_gopher_shuffle_free(spark):
    from fuserank_spark.pipeline_ext.curation import mixture_sample
    from fuserank_spark.pipeline_ext.textstats import gopher_features

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for df in (
        mixture_sample(d, {"src0": 2.5}, default_rate=0.5),
        gopher_features(d),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan and "Join" not in plan


def test_ivf_pq_isin_prunes_cells(spark):
    """The probed-cell restriction must appear as a static In filter
    (partition-prunable under an ivf_persist layout), not as a join."""
    import numpy as np

    from fuserank_spark.pipeline_ext import quantization as Q
    from fuserank_spark.pipeline_ext.simsearch import ivf_assign

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = e.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()
    cents = np.array([r["embedding"] for r in rows[:8]], dtype="float64")
    books = Q.forgy_codebooks([r["embedding"] for r in rows], dim=64, m=8, k=16)
    codes = Q.pq_encode(ivf_assign(e, cents), books)
    out = Q.ivf_pq_knn(codes, cents, books, [(0, rows[0]["embedding"])], k=5, nprobe=2)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "centroid_id IN" in plan or "centroid_id#" in plan and " IN (" in plan
    assert "CartesianProduct" not in plan


def test_fused_ivf_assignment_narrow_and_isin_prunes(spark):
    """q_fused_ivf posture: IP cell assignment is a narrow map over
    literal centroids (no Python eval, no cartesian), and the probed
    cells appear as a static In filter — partition-prunable over an
    ivf_persist'ed fused corpus."""
    from fuserank_spark.flagship import build_corpus, fused_ivf_parts
    from fuserank_spark.search import topk

    corpus = build_corpus(spark, SF_SMOKE)
    assigned, cq, probed = fused_ivf_parts(corpus, 3)
    hits = topk(
        assigned, cq.vector, k=10,
        predicate=F.col("centroid_id").isin(probed),
    )
    plan = hits._jdf.queryExecution().optimizedPlan().toString()
    assert "centroid_id" in plan and " IN (" in plan.replace("IN (", " IN (")
    assert "CartesianProduct" not in plan
    phys = plan_str(hits)
    # expression path: exact top-k compiles to TakeOrderedAndProject
    assert "TakeOrderedAndProject" in phys
    assert "CartesianProduct" not in phys


def test_pq_trained_serve_posture(spark):
    """q_pq_trained serve plan: ADC scoring is pure expressions over
    a broadcast LUT — no Python eval, no cartesian against the corpus
    (the only cross join is vs the tiny broadcast LUT frame)."""
    from fuserank_spark.ext_queries import q_pq_trained

    p = plan_str(q_pq_trained(spark, SF_SMOKE))
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p


def test_extract_html_and_phash_codes_shuffle_free(spark):
    """HTML extraction and the dHash code computation are narrow
    projections: they must distribute with the scan — zero Exchange,
    zero Python eval."""
    from fuserank_spark.pipeline_ext.multimodal import attach_payload, phash
    from fuserank_spark.pipeline_ext.web import extract_html_text

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", F.col("text").alias("html")
    )
    p1 = plan_str(extract_html_text(docs))
    p2 = plan_str(phash(attach_payload(docs, text_col="html")))
    for p in (p1, p2):
        assert "Exchange" not in p
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_heavy_hitters_posture(spark):
    """heavy_hitters pass shape: the sketch is mapInPandas directly on
    the scan (no Exchange BEFORE it — the whole point is that the raw
    stream never shuffles), and the recount joins the candidate set by
    broadcast, never cartesian."""
    import pandas as pd

    from fuserank_spark.pipeline_ext.curation import heavy_hitters

    sdf = spark.createDataFrame(
        pd.DataFrame({"rid": range(2000), "item": [f"i{j % 7}" for j in range(2000)]})
    ).repartition(8, "rid")
    out = heavy_hitters(sdf, "item", min_count=200, budget=64)
    p = plan_str(out)
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p
    assert "CartesianProduct" not in p
    # pass 1 doesn't show here — it already ran at localCheckpoint
    # time (the summaries appear as a checkpointed Scan ExistingRDD);
    # its shape is pinned by construction: mapInPandas is applied
    # straight to the projected scan, so nothing CAN exchange before
    # it. The recount aggregates map-side (partial_count) after the
    # broadcast probe — the only full-width exchange in the whole op
    # carries candidate-matching rows only.
    assert "ExistingRDD" in p


def test_corpus_build_repartition_guard(spark, tmp_path):
    """VERDICT r11 wrong #3: build_corpus's size-derived repartition
    fires ONLY when the source is under-split. A pre-split source (the
    cluster shape — many parquet files) must show no round-robin
    Exchange in the encoded plan; a single-file source at the same row
    count must still get the split (the local-mode fix the repartition
    exists for). Never coalesces down either way."""
    from fuserank_spark.flagship import build_corpus

    n = 4000  # parts = min(defaultParallelism, 4000 // 1250) = 3
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("guard doc text number "), F.col("id")).alias("text"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("de").alias("lang"),
        F.concat(F.lit("s"), F.col("id") % 5).alias("source"),
        (F.col("id") % 300 + 20).alias("n_chars"),
    )
    pre = str(tmp_path / "presplit")
    docs.repartition(8).write.parquet(pre + "/documents.parquet")
    p = plan_str(build_corpus(spark, pre).encoded)
    assert "RoundRobinPartitioning" not in p

    single = str(tmp_path / "single")
    docs.coalesce(1).write.parquet(single + "/documents.parquet")
    p1 = plan_str(build_corpus(spark, single).encoded)
    assert "RoundRobinPartitioning" in p1


def test_rerank_one_window_spec_per_modality(spark):
    """Each rank-normalized modality sorts once: its average-ties rank
    is (rank() + ordered count(1)) / 2 over ONE ordered window spec,
    and the partition size n is one more spec that every modality
    shares. Two modalities → three Window operators."""
    from fuserank_spark import schema as S
    from fuserank_spark.encode import ColumnStats, CorpusStats
    from fuserank_spark.rerank import rerank

    sdf = spark.createDataFrame(
        [(0, 0.5, 10.0, "rome"), (1, 0.4, 25.0, "oslo"), (2, 0.3, 25.0, None)],
        "row_id bigint, relevance double, price double, city string",
    )
    stats = CorpusStats(
        columns={"price": ColumnStats(S.DENSE, min=5.0, max=55.0), "city": ColumnStats(S.SPARSE)},
        n_rows=0,
    )
    aux = {"price": ((55.0,), 1.0), "city": ((["rome"], False), 2.0)}
    for query_id_col, df in ((None, sdf), ("query_id", sdf.withColumn("query_id", F.lit(7)))):
        out = rerank(df, aux, {"price": S.DENSE, "city": S.SPARSE}, stats, query_id_col=query_id_col)
        assert out._jdf.queryExecution().executedPlan().toString().count("Window [") == 3
