"""The Arrow top-k scan's survivors carry their corpus rows
(search._arrow_partial_topk, kernels.partition_topk): ``topk_batch``
is scan → one exchange on query_id → merge window, and
``topk(assign_filter=)`` orders and limits the scan's survivors, with
no join back to the corpus in either. These tests pin the payload's
alignment with its key, the output schema both callers had when they
joined back, the job count, and the driver-side query-frame checks."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fuserank_spark.kernels import assign_cells
from fuserank_spark.search import topk, topk_batch
from fuserank_spark.session import local_frame

DIM = 4
N = 60


def _corpus(spark, key="row_id"):
    """N rows with a NULL-bearing double, a nested struct and a string
    array beside the vector, so a misaligned payload cannot match."""
    rng = np.random.default_rng(11)
    rows = [
        (
            i if key == "row_id" else f"d{i:03d}",
            f"name-{i}",
            [float(x) for x in rng.normal(size=DIM)],
            None if i % 7 == 0 else i * 0.25,
            (i % 5, f"s{i % 3}"),
            [f"t{j}" for j in range(i % 4)],
        )
        for i in range(N)
    ]
    key_type = "bigint" if key == "row_id" else "string"
    return spark.createDataFrame(
        rows,
        f"{key} {key_type}, name string, vector array<double>, price double, "
        "meta struct<a:int,b:string>, tags array<string>",
    )


def _queries(spark, q=4):
    rng = np.random.default_rng(5)
    return local_frame(
        spark,
        [(i, [float(x) for x in rng.normal(size=DIM)]) for i in range(q)],
        "query_id bigint, qvec array<double>",
    )


@pytest.fixture()
def tiny_batches(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")  # each task folds many 3-row batches
    yield
    spark.conf.set(key, old)


def _by_key(df, key):
    return {r[key]: r.asDict(recursive=True) for r in df.collect()}


def test_batch_survivors_carry_their_rows(spark, tiny_batches):
    """Every topk_batch survivor's payload equals the corpus row of its
    key, and the hits equal a numpy recompute of each query's top-k."""
    corpus = _corpus(spark).repartition(3)
    queries = _queries(spark)
    rows = _by_key(_corpus(spark), "row_id")
    got = topk_batch(corpus, queries, k=5).collect()
    assert len(got) == 4 * 5
    mat = np.asarray([rows[i]["vector"] for i in range(N)])
    for q in queries.collect():
        scores = mat @ np.asarray(q["qvec"])
        want = np.lexsort((np.arange(N), -scores))[:5].tolist()
        hits = sorted((r for r in got if r["query_id"] == q["query_id"]), key=lambda r: (-r["relevance"], r["row_id"]))
        assert [r["row_id"] for r in hits] == want
    for r in got:
        have = r.asDict(recursive=True)
        want = {c: v for c, v in rows[r["row_id"]].items() if c != "vector"}
        assert {c: have[c] for c in want} == want


def test_assign_filter_survivors_carry_their_rows(spark, tiny_batches):
    """Under assign_filter the scan drops non-probed rows mid-batch;
    the survivors' payload, vector included, still equals the corpus
    row of each key, and the hits are the probed cell's top-k."""
    corpus = _corpus(spark).repartition(3)
    rows = _by_key(_corpus(spark), "row_id")
    mat = np.asarray([rows[i]["vector"] for i in range(N)])
    cents = np.asarray([[1.0, 0.0, 0.0, 0.0], [-1.0, 0.0, 0.0, 0.0]])
    qv = np.asarray([0.3, -0.2, 0.9, 0.1])
    cells = assign_cells(mat, cents, "l2", 6)
    assert 0 < (cells == 1).sum() < N  # the probe drops rows inside batches
    got = topk(corpus, qv, k=6, assign_filter=(cents, [1], "l2", 6)).collect()
    probed = np.flatnonzero(cells == 1)
    want = probed[np.lexsort((probed, -(mat[probed] @ qv)))[:6]].tolist()
    assert [r["row_id"] for r in got] == want
    for r in got:
        have = r.asDict(recursive=True)
        assert {c: have[c] for c in rows[r["row_id"]]} == rows[r["row_id"]]


def _names_types(df):
    return [(f.name, f.dataType) for f in df.schema.fields]


@pytest.mark.parametrize("parts", [1, 7])
def test_batch_output_schema_keeps_the_join_back_order(spark, parts):
    """topk_batch's output is key, query_id, score, then the corpus
    columns minus the vector — the order the join-back gave — for a
    non-row_id key, whatever the corpus partitioning."""
    corpus = _corpus(spark, key="doc_id").repartition(parts)
    out = topk_batch(corpus, _queries(spark), k=3, key_col="doc_id")
    fields = {f.name: f.dataType for f in corpus.schema.fields}
    assert _names_types(out) == [
        ("doc_id", T.StringType()),
        ("query_id", T.LongType()),
        ("relevance", T.DoubleType()),
        *((c, fields[c]) for c in ("name", "price", "meta", "tags")),
    ]
    rows = sorted(tuple(r) for r in out.select("query_id", "doc_id", "relevance").collect())
    ref = topk_batch(_corpus(spark, key="doc_id").coalesce(1), _queries(spark), k=3, key_col="doc_id")
    assert rows == sorted(tuple(r) for r in ref.select("query_id", "doc_id", "relevance").collect())


@pytest.mark.parametrize("parts", [1, 7])
def test_assign_filter_output_schema_keeps_the_join_back_order(spark, parts):
    """topk(assign_filter=) keeps row_id first, then the frame's other
    columns with the vector, then the score."""
    corpus = _corpus(spark).withColumn("doc_id", F.concat(F.lit("d"), F.col("row_id").cast("string")))
    out = topk(corpus.repartition(parts), np.ones(DIM), k=3, assign_filter=(np.zeros((1, DIM)), [0], "ip", 6))
    fields = {f.name: f.dataType for f in corpus.schema.fields}
    assert _names_types(out) == [
        ("row_id", T.LongType()),
        *((c, fields[c]) for c in corpus.columns if c != "row_id"),
        ("relevance", T.DoubleType()),
    ]
    assert len(out.collect()) == 3


def test_batch_runs_two_jobs(spark):
    """Written to a noop sink, a query batch is two jobs: the scan with
    its shuffle write, then the merge."""
    corpus = _corpus(spark).repartition(3).persist()
    try:
        corpus.count()
        out = topk_batch(corpus, _queries(spark), k=5)
        sc = spark.sparkContext
        group = "topk_batch_two_jobs"
        sc.setJobGroup(group, group)
        try:
            out.write.format("noop").mode("overwrite").save()
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == 2
    finally:
        corpus.unpersist()


def test_empty_query_frame_returns_the_output_schema(spark):
    corpus = _corpus(spark)
    queries = spark.createDataFrame([], "query_id bigint, qvec array<double>")
    out = topk_batch(corpus, queries, k=3)
    assert out.collect() == []
    assert out.columns == ["row_id", "query_id", "relevance", "name", "price", "meta", "tags"]
    assert _names_types(out) == _names_types(topk_batch(corpus, _queries(spark), k=3))


@pytest.mark.parametrize(
    "qvecs, match",
    [
        ([None, [1.0] * DIM], "NULL query vector in column 'qvec'"),
        ([[1.0, None, 0.0, 0.0]], "NULL query vector in column 'qvec'"),
        ([[1.0] * DIM, [1.0] * (DIM + 1)], r"column 'qvec' have widths \[4, 5\]"),
    ],
)
def test_bad_query_frame_raises_on_the_driver(spark, qvecs, match):
    """A NULL row, a NULL element or ragged widths in the query column
    raise on the driver before the scan is built, naming the query
    column."""
    queries = local_frame(spark, list(enumerate(qvecs)), "query_id bigint, qvec array<double>")
    with pytest.raises(ValueError, match=match):
        topk_batch(_corpus(spark), queries, k=3)


def test_query_width_mismatch_names_the_query_column(spark):
    """Queries of another width than every corpus vector are blamed on
    the query column, not on the corpus's vectors."""
    queries = local_frame(spark, [(0, [1.0] * (DIM - 1))], "query_id bigint, qvec array<double>")
    with pytest.raises(Exception, match=r"ValueError: query column 'qvec' is 3-dim, but every vector of column 'vector'"):
        topk_batch(_corpus(spark), queries, k=3).collect()


@pytest.mark.parametrize("name", ["query_id", "relevance"])
def test_corpus_column_named_like_an_output_column_raises(spark, name):
    corpus = _corpus(spark).withColumn(name, F.lit(1))
    with pytest.raises(ValueError, match=f"already has a column named '{name}'"):
        topk_batch(corpus, _queries(spark), k=3)


@pytest.mark.parametrize("caller", ["topk_batch", "topk"])
def test_column_arrow_cannot_carry_raises_naming_it(spark, caller):
    corpus = _corpus(spark).withColumn("span", F.expr("make_interval(0, 0, 0, 1, 0, 0, 0)"))
    with pytest.raises(ValueError, match="column 'span' .* cannot ride through the Arrow top-k scan"):
        if caller == "topk_batch":
            topk_batch(corpus, _queries(spark), k=3)
        else:
            topk(corpus, np.ones(DIM), k=3, assign_filter=(np.zeros((1, DIM)), [0], "ip", 6))
