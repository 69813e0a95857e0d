"""Engine boundary conditions: no-text corpora, k > n, empty aux,
single-row re-rank, unseen vocab values, lowest-extreme re-rank."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from fuserank_spark import schema as S
from fuserank_spark.encode import (
    ColumnStats,
    CorpusStats,
    compute_stats,
    encode_products,
)
from fuserank_spark.query import compile_query
from fuserank_spark.rerank import rerank
from fuserank_spark.search import topk


@pytest.fixture()
def tiny(spark):
    return spark.createDataFrame(
        [(0, "a", 1.0), (1, "b", 2.0), (2, "a", 3.0)], "row_id long, cat string, x double"
    )


AUX = {"cat": S.SPARSE, "x": S.DENSE}


def test_encode_without_text(spark, tiny):
    stats = compute_stats(tiny, AUX)
    encoded, layout = encode_products(tiny, AUX, stats, num_harmonics=4, text_emb_col=None)
    dim = encoded.select(F.size("vector").alias("d")).first()["d"]
    assert dim == layout.dim == 2 + (2 * 4 + 5)  # vocab(2) + dense block
    cq = compile_query(
        "", {"cat": ((["a"], False), 1.0), "x": (None, 1.0)}, AUX, stats, layout,
        num_harmonics=4,
    )
    assert len(cq.vector) == dim
    hits = topk(encoded, cq.vector, k=10).collect()  # k > n
    assert len(hits) == 3
    assert {r["row_id"] for r in hits[:2]} == {0, 2}  # 'a' rows outrank 'b'


def test_pure_text_query_all_none_aux(spark, tiny):
    stats = compute_stats(tiny, AUX)
    encoded, layout = encode_products(tiny, AUX, stats, num_harmonics=4, text_emb_col=None)
    cq = compile_query(
        "whatever", {"cat": (None, 1.0), "x": (None, 1.0)}, AUX, stats, layout,
        num_harmonics=4,
    )
    assert cq.predicate is None and cq.predicate_sql is None
    # all aux segments zero → every row scores the constant shift dims
    scores = topk(encoded, cq.vector, k=3).select("relevance").collect()
    assert len({round(r["relevance"], 9) for r in scores}) == 1


def test_sparse_query_unseen_value(spark, tiny):
    stats = compute_stats(tiny, AUX)
    _, layout = encode_products(tiny, AUX, stats, num_harmonics=4, text_emb_col=None)
    cq = compile_query(
        "", {"cat": ((["zzz"], False), 1.0), "x": (None, 1.0)}, AUX, stats, layout,
        num_harmonics=4,
    )
    # unseen selection → −1 on every vocab position (nothing matches)
    assert list(cq.vector[:2]) == [-1.0, -1.0]


def test_single_row_rerank_no_division_by_zero(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"row_id": [0], "relevance": [0.5], "cat": ["a"]})
    )
    out = rerank(
        df,
        {"cat": ((["a"], False), 2.0)},
        {"cat": S.SPARSE},
        CorpusStats(columns={"cat": ColumnStats(S.SPARSE)}),
    ).collect()
    assert np.isfinite(out[0]["relevance"])


def test_lowest_extreme_rerank(spark):
    """W2 'lowest' branch: query value == column min → descending
    rank (smallest value gets +1)."""
    pdf = pd.DataFrame({"row_id": range(4), "relevance": [0.0] * 4, "x": [5.0, 1.0, 9.0, 3.0]})
    out = (
        rerank(
            spark.createDataFrame(pdf),
            {"x": ((1.0,), 1.0)},
            {"x": S.DENSE},
            CorpusStats(columns={"x": ColumnStats(S.DENSE, min=1.0, max=9.0)}),
        )
        .orderBy("row_id")
        .toPandas()["relevance"]
        .to_numpy()
    )
    ranks = pd.Series([5.0, 1.0, 9.0, 3.0]).rank(ascending=False)
    expect = (2 * (ranks - 1) / 3 - 1).to_numpy()
    assert np.allclose(out, expect)
    assert out[1] == 1.0  # smallest x gets the max boost


def test_binary_stats_requires_two_values(spark):
    df = spark.createDataFrame([(1, "x")], "row_id long, b string")
    with pytest.raises(ValueError, match="distinct values"):
        compute_stats(df, {"b": S.BINARY})


def test_keepbest_block_key_short_docs(spark):
    """ADVICE r2 (medium): element_at(toks, 2) throws
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT under Spark 4.x ANSI mode for
    docs with <2 tokens. q_dedup_keepbest must use try_element_at so
    empty/one-token docs yield the same NULL-tolerant block key as
    the DuckDB oracle's toks[2] -> NULL (skipped by concat_ws)."""
    from fuserank_spark.pipeline_ext import curation as CU
    from fuserank_spark.pipeline_ext import textstats as TX

    df = spark.createDataFrame(
        [(0, ""), (1, "one"), (2, "two tokens here"), (3, "two tokens again")],
        "doc_id long, text string",
    )
    d = TX.quality_features(df)
    toks = TX.tokens_expr(F.col("text"))
    d = d.withColumn(
        "block_key",
        F.concat_ws(
            " ", F.try_element_at(toks, F.lit(1)), F.try_element_at(toks, F.lit(2))
        ),
    )
    out = (
        CU.keep_best(d, block_col="block_key", score_col="quality_score")
        .orderBy("block_key")
        .collect()
    )
    keys = [r["block_key"] for r in out]
    assert "" in keys  # empty doc -> empty block key, no crash
    assert "one" in keys  # one-token doc -> single-token key
    assert "two tokens" in keys
    two = [r for r in out if r["block_key"] == "two tokens"][0]
    assert two["n_members"] == 2


def test_salted_join_empty_small_side(spark):
    from fuserank_spark.partitioning import salted_join
    from pyspark.sql import functions as F

    big = spark.range(0, 20).select((F.col("id") % 3).alias("k"), "id")
    small = spark.createDataFrame([], "k long, tag string")
    assert salted_join(big, small, "k").count() == 0
    left = salted_join(big, small, "k", how="left")
    assert left.count() == 20
    assert left.filter(F.col("tag").isNotNull()).count() == 0


def test_frame_sample_null_payload_and_duration_edge(spark):
    """NULL text -> empty payload -> md5 of b'' still yields a
    deterministic duration; duration exactly divisible by every_ms
    must include the boundary frame."""
    from pyspark.sql import functions as F

    from fuserank_spark.pipeline_ext import multimodal as M

    d = spark.createDataFrame([(1, None)], "doc_id long, text string")
    d = M.attach_payload(d.fillna({"text": ""}))
    d = M.extract_media_metadata(d, media_type="video")
    dur = d.select(F.col("media_meta.duration_ms")).first()[0]
    frames = M.frame_sample(d, every_ms=max(1, dur), max_frames=4)
    # duration divisible by every_ms: frames at 0 and every_ms
    assert frames.count() == (2 if dur > 0 else 0)


def test_transform_expr_null_passthrough(spark):
    from pyspark.sql import functions as F

    from fuserank_spark.transforms import FittedTransform

    df = spark.createDataFrame([(1, None), (2, 4.0)], "id long, x double")
    out = df.select(
        "id",
        FittedTransform("sqrt").expr(F.col("x")).alias("s"),
        FittedTransform("yeojohnson", lmbda=0.5).expr(F.col("x")).alias("y"),
    ).collect()
    by_id = {r["id"]: (r["s"], r["y"]) for r in out}
    assert by_id[1] == (None, None)
    assert by_id[2][0] == 2.0


def _arrow_scan(dim: int) -> tuple:
    """An assign_filter that puts every row in cell 0 and probes it:
    topk then runs its full Arrow scan (the heap these tests pin)."""
    import numpy as np

    return (np.zeros((1, dim)), [0], "ip", 6)


def test_arrow_topk_heap_rounds_before_rank(spark):
    """ADVICE r7: the Arrow scan's per-partition heap must pre-select
    on the ROUNDED score. Two rows in ONE partition, scores differing
    by an ulp-scale 1e-12 but round@9-equal, the raw-higher score on
    the LARGER row_id, k=1: the heap cut is the k boundary. Without
    rounding in the heap the raw-higher (larger id) row is the sole
    survivor; with round-before-rank inside the heap the tie falls to
    row_id and the smaller id wins — matching the expression path."""
    from fuserank_spark.search import topk

    dim = 128
    scan = _arrow_scan(dim)
    q = [1.0] + [0.0] * (dim - 1)
    a = [0.5] + [0.0] * (dim - 1)
    b = [0.5 + 1e-12] + [0.0] * (dim - 1)
    df = spark.createDataFrame(
        [(1, a), (2, b)], "row_id bigint, vector array<double>"
    ).coalesce(1)
    import numpy as np

    qv = np.asarray(q)
    got_arrow = topk(df, qv, k=1, score_round=9, assign_filter=scan).collect()
    got_expr = topk(df, qv, k=1, score_round=9).collect()
    assert [r["row_id"] for r in got_arrow] == [1]
    assert [r["row_id"] for r in got_expr] == [1]
    # and WITHOUT rounding both paths agree on the raw winner
    assert [r["row_id"] for r in topk(df, qv, k=1, assign_filter=scan).collect()] == [2]
    assert [r["row_id"] for r in topk(df, qv, k=1).collect()] == [2]


def test_arrow_topk_heap_negative_midpoint_sign_aware(spark):
    """ADVICE r8 #1: the heap's round key must be half-up AWAY FROM
    ZERO (matching the final F.round / decimal HALF_UP), not toward
    +inf. Scores −1.0 and −0.5 with score_round=0: F.round sends BOTH
    to −1.0 (−0.5 rounds away from zero), so the tie falls to row_id
    and row 1 wins. The old floor(x·s+0.5) key sent −0.5 to 0.0, so
    the k=1 heap cut kept row 2 — disagreeing with the final order."""
    import numpy as np

    from fuserank_spark.search import topk

    dim = 128
    scan = _arrow_scan(dim)
    q = [1.0] + [0.0] * (dim - 1)
    a = [-1.0] + [0.0] * (dim - 1)
    b = [-0.5] + [0.0] * (dim - 1)
    df = spark.createDataFrame(
        [(1, a), (2, b)], "row_id bigint, vector array<double>"
    ).coalesce(1)
    qv = np.asarray(q)
    got_arrow = topk(df, qv, k=1, score_round=0, assign_filter=scan).collect()
    got_expr = topk(df, qv, k=1, score_round=0).collect()
    assert [r["row_id"] for r in got_arrow] == [1]
    assert [r["row_id"] for r in got_expr] == [1]
    # unrounded, the raw-higher score (−0.5, row 2) wins on both paths
    assert [r["row_id"] for r in topk(df, qv, k=1, assign_filter=scan).collect()] == [2]
    assert [r["row_id"] for r in topk(df, qv, k=1).collect()] == [2]


def test_topk_non_row_id_tiebreak(spark):
    """tiebreak_col orders tied scores by that column, not by row_id:
    three rows tie, and their doc_id order is the reverse of their
    row_id order."""
    import numpy as np

    from fuserank_spark.search import topk

    df = spark.createDataFrame(
        [(1, 30, [1.0, 0.0]), (2, 20, [1.0, 0.0]), (3, 10, [1.0, 0.0]), (4, 40, [2.0, 0.0])],
        "row_id bigint, doc_id bigint, vector array<double>",
    ).repartition(3)
    got = topk(df, np.array([1.0, 0.0]), k=3, tiebreak_col="doc_id").collect()
    assert [(r["doc_id"], r["relevance"]) for r in got] == [(40, 2.0), (10, 1.0), (20, 1.0)]
    assert [r["row_id"] for r in topk(df, np.array([1.0, 0.0]), k=3).collect()] == [4, 1, 2]


@pytest.mark.parametrize(
    "rows, schema, match",
    [
        ([(1, 2)], "a:int, b:int", "colon-form"),
        ([(1,)], "a int, b int", "width 1 != schema"),
        ([(1, 2), (3, 4, 5)], "a int, b int", "row 1 width 3"),
        ([(1, 2), (3,)], "a int, b int", "row 1 width 1"),
    ],
    ids=["colon_schema", "bad_first_row", "later_long_row", "later_short_row"],
)
def test_local_frame_rejects_malformed_input(spark, rows, schema, match):
    """local_frame's contracts: space-separated DDL only, and EVERY
    row carries one value per field — a later long row would be cut
    short by the pandas path, a later short one would raise an opaque
    IndexError."""
    from fuserank_spark.session import local_frame

    with pytest.raises(ValueError, match=match):
        local_frame(spark, rows, schema)


def test_scan_meta_raises_on_a_truncated_part(tmp_path):
    """A part file whose footer cannot be read fails the footer sizing
    loudly, naming the file; it does not silently skip the fan-out. A
    path that is not local parquet still returns None."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from fuserank_spark.ext_queries import _scan_meta

    table = tmp_path / "docs.parquet"
    table.mkdir()
    for i in range(2):
        pq.write_table(pa.table({"x": list(range(10))}), table / f"part-{i}.parquet")
    assert _scan_meta(str(tmp_path), "docs") == (20, 2)
    bad = table / "part-1.parquet"
    data = bad.read_bytes()
    bad.write_bytes(data[: len(data) // 2])
    with pytest.raises(ValueError, match="part-1.parquet"):
        _scan_meta(str(tmp_path), "docs")
    assert _scan_meta(str(tmp_path), "missing") is None
    assert _scan_meta("s3://bucket/" + os.path.basename(str(tmp_path)), "docs") is None
