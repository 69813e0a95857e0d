"""Top-k vector search T1-T2 (reference: FAISS IndexFlatIP,
`src/app.py:78,171-172`) as declarative Spark plans.

Single query: score = dot(vector, broadcast literal) → orderBy desc →
limit k. Catalyst compiles this to TakeOrderedAndProject: a
per-partition bounded heap + driver merge of k·P rows — no global
sort, no shuffle of the corpus. That IS the distributed analog of a
brute-force IP scan and is the exact-search baseline at any scale.

Batch of queries: the Arrow scan keeps a per-(query, corpus-partition)
local top-k, then one global top-k window merges the k·P survivors —
so the shuffle moves O(k·P·Q) rows, not O(N·Q) (SURVEY T1 batch note).
The survivors are hashed on the query id into min(Q,
defaultParallelism) partitions for that merge: two jobs per batch.

The Arrow scan (``_arrow_partial_topk``: one numpy matmul plus a
partition-local top-k per Arrow batch) serves only query batches and
the single-query in-scan IVF assign; a lone query pays less for the
JVM heap than for the scan's Python stage. Each survivor leaves the
scan with its own corpus row, so neither caller joins its hits back
to the corpus.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .kernels import assign_cells, partition_topk, read_matrix


# ------------------------------------------------------------ SQL fragments
# A per-query serve expression is SQL text parsed by ONE ``F.expr``: every
# ``F.*`` call is several Py4J round trips (pyspark's call-site capture),
# so a Column-built dot or re-rank costs more to construct than to run,
# and its cost grows with the vector width. The builders below take SQL
# operands and return SQL text; a Python value enters only through
# ``sql_lit`` and a column name only through ``sql_ident``.


def sql_lit(x) -> str:
    """``x`` as SQL literal text of the type ``F.lit(x)`` gives it:
    DOUBLE for floats (non-finite ones as a CAST of their name), INT or
    BIGINT by range for ints, BOOLEAN, NULL, and STRING as a cast of
    its UTF-8 bytes — no quoting rule or parser setting can change a
    user's string."""
    if x is None:
        return "NULL"
    if isinstance(x, (bool, np.bool_)):
        return "true" if x else "false"
    if isinstance(x, (int, np.integer)):
        x = int(x)
        if -(2**31) <= x < 2**31:
            return str(x)
        if -(2**63) <= x < 2**63:
            return f"{x}L"
        raise ValueError(f"sql_lit: {x} is outside the bigint range")
    if isinstance(x, (float, np.floating)):
        x = float(x)
        if math.isfinite(x):
            return f"{x!r}D"
        return f"CAST('{'NaN' if x != x else ('Infinity' if x > 0 else '-Infinity')}' AS DOUBLE)"
    if isinstance(x, str):
        return f"CAST(X'{x.encode('utf-8').hex()}' AS STRING)"
    raise TypeError(f"sql_lit: unsupported literal type {type(x).__name__}")


def sql_ident(*parts: str) -> str:
    """A column reference, each (qualifier or field) part backtick-quoted."""
    return ".".join("`" + p.replace("`", "``") + "`" for p in parts)


def lit_vector(vec: np.ndarray) -> str:
    """A float vector as SQL text for one ``array<double>``: its
    shortest round-trip decimals as ONE string literal, split and cast
    (bit-exact, NaN and ±Infinity included — tests/test_sql_fragments.py).
    ConstantFolding turns it into one array literal in the optimized
    plan. An ``array(...)`` of d double literals folds to the same
    literal, but Catalyst analyses its d children: ~40 ms against
    ~10 ms for the cast at the fused query's 213 dims."""
    vals = np.asarray(vec, dtype="float64").ravel().tolist()
    if not vals:
        return "CAST(array() AS ARRAY<DOUBLE>)"
    text = ",".join(
        repr(v) if math.isfinite(v) else ("NaN" if v != v else ("Infinity" if v > 0 else "-Infinity"))
        for v in vals
    )
    return f"CAST(split({sql_lit(text)}, ',') AS ARRAY<DOUBLE>)"


def dot_expr(a: str, b: str) -> str:
    """A9/T1: SQL text for the JVM-side dot product of two array
    operands, in DOUBLE and folded left to right (no UDF). A NULL
    element, or operands of different widths (zip_with pads the short
    side with NULL), make it NULL."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " 0.0D, (acc, v) -> acc + v)"
    )


def l2_norm_expr(a: str) -> str:
    """A9 (src/encode.py:130): SQL text for the L2 norm of an array operand."""
    return (
        f"sqrt(aggregate(transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
        " 0.0D, (acc, v) -> acc + v))"
    )


def cosine_expr(a: str, b: str) -> str:
    """SQL text for the cosine of two array operands."""
    return f"({dot_expr(a, b)} / ({l2_norm_expr(a)} * {l2_norm_expr(b)}))"


def _jvm_topk(
    df: DataFrame, vec: str, vector_col: str, query_vector, k: int, score_col: str,
    order: list[Column],
) -> DataFrame:
    """Top-``k`` of ``df`` by the dot of the array operand ``vec``
    against the query as one literal, all in one SQL fragment. A NULL
    row, a NULL element or a wrong width scores NULL, so it raises
    instead — naming ``vector_col``, as the Arrow scan does."""
    bad = (
        f"topk: column {vector_col!r} has a NULL row, a NULL element "
        f"or a width other than {len(query_vector)}"
    )
    score = f"coalesce({dot_expr(vec, lit_vector(query_vector))}, raise_error({sql_lit(bad)}))"
    return df.withColumn(score_col, F.expr(score)).orderBy(*order).limit(k)


def _score_order(score_col: str, tb: str | None, score_round: int | None) -> list[Column]:
    """Score descending (rounded at ``score_round``), then ``tb`` ascending."""
    score = sql_ident(score_col)
    if score_round is not None:
        score = f"round({score}, {int(score_round)})"
    order = [F.expr(score).desc()]
    if tb is not None:
        order.append(F.col(tb))
    return order


def topk(
    df: DataFrame,
    query_vector: np.ndarray,
    k: int = 10,
    vector_col: str = "vector",
    score_col: str = "relevance",
    predicate: Column | None = None,
    tiebreak_col: str | None = None,
    score_round: int | None = None,
    assign_filter: tuple | None = None,
) -> DataFrame:
    """T1 single-query exact top-k (replaces
    faiss.IndexFlatIP.search, src/app.py:78). Optional hard predicate
    = the exact/oracle arm (pre-filter, pushed to the scan).

    Scores in the JVM: the expression dot against one literal query
    vector, then orderBy + limit, which Catalyst plans as ONE
    TakeOrderedAndProject job (per-partition bounded heap + final
    merge) with no Python stage. It measured faster than an Arrow scan
    plus join-back at every size from 5k to 500k fused rows (PARITY.md
    T1). Output: the frame's columns followed by ``score_col`` (with
    ``assign_filter``, row_id comes first). A NULL row, a NULL element
    or a vector of another width than the query raises on both routes,
    naming ``vector_col``.

    Ties break deterministically on ``tiebreak_col`` (default row_id
    when present) so results are stable across partition scan orders.

    ``score_round`` rounds the score at the final ordering (the
    round-before-rank doctrine: scores that are equal in real
    arithmetic but differ by fold-order ulps must tie before the
    key tie-break, or the k boundary is a coin flip — the geo
    mirror-point case, tests/test_eval_harness.py).

    ``assign_filter=(centroids, probed_cells, metric, assign_round)``
    (r12): IVF cell assignment + probe pruning fused INTO an Arrow
    scan — per batch one (n×d)·(d×C) matmul assigns every row to its
    cell (argmin of the rounded distance/negated-IP, first-index =
    lowest-cid tie-break, exactly simsearch.ivf_assign's struct-min)
    and non-probed rows are dropped before scoring. This replaces the
    former assigned-frame serve shape, where the per-centroid HOF
    aggregates (interpreted, C·d literal-array ops per row) were
    evaluated TWICE per query and the C×d literal matrix bloated
    every plan. The scan's per-partition heap pre-selects on the
    rounded score too (ADVICE r7/r8), and its fold across batches
    needs a UNIQUE row_id tie-break (the engine's row_id contract,
    §1.4), so it raises otherwise. Each survivor carries its whole
    row, vector included, out of the scan; the k best are ordered and
    limited directly (one TakeOrderedAndProject job, no join-back)."""
    if predicate is not None:
        df = df.filter(predicate)
    tb = tiebreak_col or ("row_id" if "row_id" in df.columns else None)
    order = _score_order(score_col, tb, score_round)
    if assign_filter is None:
        return _jvm_topk(df, sql_ident(vector_col), vector_col, query_vector, k, score_col, order)
    if tb != "row_id":
        raise ValueError(
            "assign_filter runs the Arrow scan, whose per-partition top-k "
            "folds on a unique row_id tie-break; assign via "
            "simsearch.ivf_assign + a predicate instead"
        )
    payload = [c for c in df.columns if c != tb]
    hits = _arrow_partial_topk(
        df, np.asarray([query_vector], dtype="float64"), [0], k, vector_col, tb, score_col,
        query_col="query_id", payload=payload, dim_source="the query vector",
        score_round=score_round, assign_filter=assign_filter,
    )
    return hits.orderBy(*order).limit(k).select(*map(sql_ident, [tb, *payload, score_col]))


def _arrow_partial_topk(
    df: DataFrame,
    qmat: np.ndarray,
    qids: list,
    k: int,
    vector_col: str,
    key_col: str,
    score_col: str,
    *,
    query_col: str,
    payload: list[str],
    dim_source: str,
    score_round: int | None = None,
    assign_filter: tuple | None = None,
) -> DataFrame:
    """Per-partition numpy scoring on the kernels scaffold: each task
    reads its Arrow batch's vector column as one flat float64 buffer
    (kernels.read_matrix), multiplies it against ALL queries at once —
    one (Q, n) matmul — and kernels.partition_topk emits only its local
    top-k per query, so k·P·Q rows leave the scan. Each is
    ``(key_col, query_col, score_col, *payload)``: the survivor's own
    ``payload`` columns of ``df`` ride with it (Arrow ``take``), so no
    caller joins hits back to the corpus. A payload column Arrow cannot
    carry, or one named ``query_col`` or ``score_col``, raises
    ``ValueError`` naming it. ``dim_source`` names the queries in the
    error a corpus of another width raises (kernels.read_matrix).

    ``score_round`` makes the partition-local cut SELECT on the
    rounded score (round-before-rank inside the heap, ADVICE r7):
    ulp-tied rows tie and fall to the key tie-break before the k cut,
    matching the caller's final `F.round` ordering. Emitted scores
    stay raw — the caller rounds at the final orderBy.

    ``assign_filter=(centroids, probed, metric, assign_round)`` (r12):
    before scoring, assign each row to its IVF cell with one batch
    matmul (kernels.assign_cells, simsearch.ivf_assign's exact score)
    and keep only rows landing in ``probed``. ``assign_round`` uses
    kernels.round_half_away, which equals the expression path's
    ``F.round`` except on exact decimal half-boundaries; the
    assignment parity is pinned on the real corpus by
    tests/test_fused_search.py::test_fused_ivf_arrow_assign_matches_expression."""
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_type

    fields = {f.name: f for f in df.schema.fields}
    for name in (query_col, score_col):
        if name == key_col or name in payload:
            raise ValueError(f"the corpus already has a column named {name!r}, which the top-k emits")
    for name in (key_col, *payload):
        try:
            to_arrow_type(fields[name].dataType)
        except TypeError as e:  # pyspark's UNSUPPORTED_DATA_TYPE_FOR_ARROW_CONVERSION
            raise ValueError(
                f"column {name!r} ({fields[name].dataType.simpleString()}) cannot ride "
                "through the Arrow top-k scan; drop or cast it first"
            ) from e
    out_schema = T.StructType(
        [
            fields[key_col],
            T.StructField(query_col, T.LongType()),
            T.StructField(score_col, T.DoubleType()),
            *(fields[c] for c in payload),
        ]
    )
    qm = np.ascontiguousarray(qmat, dtype="float64")
    dim = int(qm.shape[1])
    if assign_filter is not None:
        af_cents, af_probed, af_metric, af_round = assign_filter
        if af_metric not in ("l2", "ip"):
            raise ValueError(f"assign_filter metric must be 'l2' or 'ip', got {af_metric!r}")
        af_cents = np.ascontiguousarray(af_cents, dtype="float64")
        if af_cents.shape[1] != dim:
            raise ValueError(
                f"assign_filter centroids are {af_cents.shape[1]}-dim, "
                f"queries are {dim}-dim"
            )
        af_probed = np.asarray(sorted({int(c) for c in af_probed}), dtype="int64")

    def _score(rb):
        M = read_matrix(rb, vector_col, dim, dim_source)
        if assign_filter is not None:
            # keep only probed rows BEFORE scoring (the IVF prune)
            rows = np.flatnonzero(np.isin(assign_cells(M, af_cents, af_metric, af_round), af_probed))
            if not rows.size:
                return None
            if rows.size < rb.num_rows:
                return rows, qm @ M[rows].T
        # (Q, n): each query's score row is contiguous for the cut
        return None, qm @ M.T

    scanned = dict.fromkeys([key_col, vector_col, *payload])
    return df.select(*map(sql_ident, scanned)).mapInArrow(
        lambda batches: partition_topk(
            batches, _score, qids, k, key_col, query_col, score_col, payload, score_round
        ),
        schema=out_schema,
    )


def text_topk_then_rerank(
    encoded: DataFrame,
    compiled_query,
    aux_encoding_schema: dict[str, str],
    stats,
    text_dim: int,
    k: int = 10,
    transformation_schema=None,
    vector_col: str = "vector",
) -> DataFrame:
    """The reference's "Re-ranking" method (src/app.py:73-89 with
    method="Re-ranking"): retrieve top-k by TEXT similarity only,
    then re-rank the k-row result by the aux modalities (W1-W8) and
    sort. The retrieval pass reads only the text slice of the fused
    vector; the re-rank is a k-row window computation.

    The retrieval is ``topk``'s plan with the text slice scored inside
    the same SQL fragment: one TakeOrderedAndProject job."""
    from .rerank import rerank

    tb = "row_id" if "row_id" in encoded.columns else None
    result = _jvm_topk(
        encoded, f"slice({sql_ident(vector_col)}, 1, {int(text_dim)})", vector_col,
        compiled_query.vector[:text_dim], k, "relevance", _score_order("relevance", tb, None),
    )
    result = rerank(
        result,
        compiled_query.aux_data,
        aux_encoding_schema,
        stats,
        transformation_schema=transformation_schema,
    )
    final_order = [F.desc_nulls_last("relevance")]
    if tb is not None:
        final_order.append(F.col(tb))
    return result.orderBy(*final_order)


def topk_batch(
    products: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vector_col: str = "vector",
    query_vec_col: str = "qvec",
    query_id_col: str = "query_id",
    score_col: str = "relevance",
    key_col: str = "row_id",
) -> DataFrame:
    """T1 batch variant: exact top-``k`` of every query in ``queries``.

    One Arrow scan: per corpus partition, one numpy (Q×d)·(d×n) matmul
    scores every query in a single pass and kernels.partition_topk
    keeps each query's local top-k, each survivor carrying its corpus
    row. Only those k·P·Q survivor rows shuffle, hashed on
    ``query_id_col`` into ``min(Q, defaultParallelism)`` partitions,
    for the global merge window (score DESC, ``key_col`` ascending):
    two jobs, and the shuffle volume is independent of corpus size.
    Output: ``key_col``, ``query_id_col``, ``score_col``, then the
    corpus columns other than ``vector_col`` — there is no join-back.

    The queries are checked on the driver: an empty frame returns an
    empty result; a NULL or ragged ``query_vec_col`` raises
    ``ValueError``, as does a corpus column named ``query_id_col`` or
    ``score_col``. A query width other than the corpus's raises in
    the scan, naming ``query_vec_col``.
    """
    qrows = queries.select(query_id_col, query_vec_col).collect()
    vecs = [r[query_vec_col] for r in qrows]
    if any(v is None or None in v for v in vecs):
        raise ValueError(f"topk_batch: NULL query vector in column {query_vec_col!r} (row or element)")
    widths = sorted({len(v) for v in vecs})
    if len(widths) > 1:
        raise ValueError(f"topk_batch: query vectors in column {query_vec_col!r} have widths {widths}")
    qids = [r[query_id_col] for r in qrows]
    qmat = np.asarray(vecs, dtype="float64").reshape(len(vecs), widths[0] if widths else 0)
    survivors = _arrow_partial_topk(
        products, qmat, qids, k, vector_col, key_col, score_col,
        query_col=query_id_col,
        payload=[c for c in products.columns if c not in (key_col, vector_col)],
        dim_source=f"query column {query_vec_col!r}",
    )
    if not qids:
        return survivors.limit(0)  # planned as an empty relation: no job
    merge = (
        f"row_number() OVER (PARTITION BY {sql_ident(query_id_col)} "
        f"ORDER BY {sql_ident(score_col)} DESC, {sql_ident(key_col)})"
    )
    width = min(len(qids), products.sparkSession.sparkContext.defaultParallelism)
    return (
        survivors.repartition(width, sql_ident(query_id_col))
        .withColumn("__r", F.expr(merge))
        .filter(f"__r <= {int(k)}")
        .drop("__r")
    )


def score_breakdown(
    df: DataFrame,
    layout,
    qvec: np.ndarray,
    vec_col: str = "vector",
    k: int = 10,
    round_to: int = 6,
    key_col: str = "row_id",
) -> DataFrame:
    """Per-modality score explanation for a fused query: the top-``k``
    rows with one ``score_<segment>`` column per VectorLayout segment
    (the segment's slice-dot contribution) plus the total ``score`` —
    "why did this row rank?" for debugging weights, encodings and
    soft-filter behavior. The total is computed as the SUM OF THE
    CONTRIBUTIONS (self-consistent by construction; equal to the
    single-fold dot up to float fold order — everything is
    round(``round_to``)-ed, the cross-engine tie discipline).
    Ordering ties break on ``key_col`` ascending, the topk doctrine —
    rounding CREATES exact ties, and an untied sort is
    nondeterministic across partitionings (review catch).

    Pure expressions: each contribution is a slice + zip_with + fold
    over the query segment as literals — narrow, one
    TakeOrderedAndProject; cost is one extra pass over the vector per
    segment, a debug-path trade."""
    q = np.asarray(qvec, dtype="float64")
    if len(q) != layout.dim:
        raise ValueError(f"query dim {len(q)} != layout dim {layout.dim}")
    cols: dict[str, Column] = {}
    off = 0
    for name, dim in layout.segments:
        seg = f"slice({sql_ident(vec_col)}, {off + 1}, {dim})"
        cols[f"score_{name}"] = F.expr(
            f"round({dot_expr(seg, lit_vector(q[off : off + dim]))}, {int(round_to)})"
        )
        off += dim
    out = df.withColumns(cols)
    total = None
    for c in cols:
        total = F.col(c) if total is None else total + F.col(c)
    out = out.withColumn("score", F.round(total, round_to))
    return (
        out.orderBy(F.col("score").desc(), F.col(key_col).asc())
        .limit(k)
        .drop(vec_col)
    )
