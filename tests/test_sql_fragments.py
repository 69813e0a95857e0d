"""The per-query serve expressions are SQL text built by
``search.sql_lit`` / ``lit_vector`` and parsed by one ``F.expr``: the
literal helper must type and carry every value exactly as ``F.lit``
does, and building ``topk`` or ``text_topk_then_rerank`` must cost the
same handful of JVM calls at any vector width."""

from __future__ import annotations

import sys
import types

import numpy as np
import pytest
from pyspark.sql import functions as F

from fuserank_spark import schema as S
from fuserank_spark.encode import ColumnStats, CorpusStats
from fuserank_spark.search import lit_vector, sql_lit, text_topk_then_rerank, topk

LITERALS = [
    # strings: quotes, escapes, LIKE wildcards, a newline, non-ASCII, empty
    "'", "\\", "\\'", "%", "_", "\n", "naïve €ü 日本", "",
    # ints on both sides of the int/bigint edges, and a bigint
    2**31 - 1, -(2**31), 2**31, -(2**31) - 1, 2**62,
    True,
    -0.0, 1e-300, sys.float_info.max, sys.float_info.min,
    float("nan"), float("inf"), float("-inf"),
    None,
]


def test_sql_lit_matches_f_lit(spark):
    cols = []
    for i, v in enumerate(LITERALS):
        cols += [F.expr(sql_lit(v)).alias(f"e{i}"), F.lit(v).alias(f"l{i}")]
    df = spark.range(1).select(*cols)
    row = df.first()
    for i, v in enumerate(LITERALS):
        got, want = df.schema[f"e{i}"].dataType, df.schema[f"l{i}"].dataType
        assert got == want, (v, got, want)
        # repr tells -0.0 from 0.0 and compares NaN equal to itself
        assert repr(row[f"e{i}"]) == repr(row[f"l{i}"]) == repr(v), v


def test_lit_vector_is_bit_exact(spark):
    rng = np.random.default_rng(7)
    v = np.concatenate([
        rng.normal(size=300), rng.normal(size=50) * 1e-300, rng.normal(size=50) * 1e300,
        [5e-324, sys.float_info.min, sys.float_info.max, -0.0, 0.1, 1 / 3,
         float("nan"), float("inf"), float("-inf")],
    ])
    got = np.asarray(spark.range(1).select(F.expr(lit_vector(v)).alias("v")).first()["v"])
    assert np.array_equal(got.view("int64"), v.view("int64"))


@pytest.fixture()
def serve_frames(spark):
    """A 20-row corpus with a ``dim``-wide vector, per dim."""
    rng = np.random.default_rng(3)

    def frame(dim):
        rows = [
            (i, rng.normal(size=dim).tolist(), ["en", "de", None][i % 3], 10 * i)
            for i in range(20)
        ]
        return spark.createDataFrame(
            rows, "row_id bigint, vector array<double>, lang string, n_chars bigint"
        )

    return frame


def test_serve_construct_calls_do_not_grow_with_width(spark, jvm_calls, serve_frames):
    aux_schema = {"lang": S.SPARSE, "n_chars": S.DENSE}
    stats = CorpusStats(
        columns={"lang": ColumnStats(S.SPARSE), "n_chars": ColumnStats(S.DENSE, min=0.0, max=190.0)},
        n_rows=20,
    )
    aux = {"lang": ((["en"], False), 2.0), "n_chars": ((40.0, 120.0, False), 1.0)}
    calls = {}
    for dim in (64, 512):
        df = serve_frames(dim)
        cq = types.SimpleNamespace(vector=np.linspace(-1.0, 1.0, dim), aux_data=aux)
        ops = {
            "topk": lambda: topk(df, cq.vector, k=5),
            "rerank": lambda: text_topk_then_rerank(df, cq, aux_schema, stats, text_dim=dim // 2, k=5),
        }
        for name, op in ops.items():
            assert len(op().collect()) == 5  # warm, and the plan runs
            with jvm_calls() as c:
                op()
            calls[name, dim] = c.n
    for name in ("topk", "rerank"):
        assert calls[name, 64] == calls[name, 512], calls
        assert calls[name, 512] <= 100, calls
