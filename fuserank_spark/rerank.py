"""Windowed re-ranking W1-W8 (reference ``encode_result``,
`src/encode.py:191-267`): relevance += rank-normalized modality
score · weight, over the top-k result set.

Semantics preserved exactly (SURVEY §2.5):
  * pandas average-ties rank emulated as
    rank() + (tie_count − 1)/2 over a window (gotcha #1);
  * normalization 2·(r−1)/(n−1) − 1 divides by the FULL result size
    n (pandas len(result)), not the non-null count;
  * nulls rank between matches and mismatches for binary/sparse
    (src/encode.py:193-194) via explicit 3-level keys replacing the
    reference's char-sentinel hack — but mismatches keep their
    raw-value ordering (the reference ranks un-replaced values).
    DELIBERATE DEVIATION (SURVEY gotcha #2b): under the reference's
    sentinels a mismatch value starting with one of ``!"#$%&`` (below
    ``"'"``) would interleave between match and null; the 3-level key
    always ranks null above every mismatch. Identical on any data
    whose values start with letters/digits;
  * dense lowest/highest keeps pandas' NaN-rank→NaN behavior: null
    rows contribute a NULL delta, sinking them in the final sort.

At scale the window partition key is the query id of a *batch* of
queries — every window below partitions by it.
"""

from __future__ import annotations

import sys

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import fourier
from . import schema as S
from .encode import CorpusStats
from .search import sql_ident, sql_lit
from .transforms import FittedTransform

_FLOAT_MAX = sys.float_info.max
_FLOAT_MIN = sys.float_info.min


def _rank_norm(keys: list[str], ascending: bool, part: str, null_is_nan: bool = False) -> str:
    """W1: average-ties rank of the composite key, normalized to
    [−1,1]. With ``null_is_nan``, rows whose first key is NULL get a
    NULL result and are excluded from ranks (pandas na_option='keep'),
    but still count in n (len(result))."""
    direction = "ASC" if ascending else "DESC"
    order = ", ".join(f"{k} {direction} NULLS LAST" for k in keys)
    # rank() is the first peer's position and the ordered count (the
    # default RANGE frame takes in every peer) the last one's: one
    # window spec, whose mean is the average-ties rank
    ordered = f"OVER (PARTITION BY {part} ORDER BY {order})"
    avg_rank = f"((rank() {ordered} + count(1) {ordered}) / 2.0D)"
    n = f"count(1) OVER (PARTITION BY {part})"
    norm = f"CASE WHEN {n} > 1 THEN ({avg_rank} - 1.0D) * 2.0D / ({n} - 1.0D) - 1.0D ELSE 0.0D END"
    if null_is_nan:
        return f"(CASE WHEN {keys[0]} IS NULL THEN CAST(NULL AS DOUBLE) ELSE {norm} END)"
    return f"({norm})"


def _dense_delta(col: str, value, cs, transform: FittedTransform | None, part: str) -> str | None:
    """W2-W4 (src/encode.py:209-231)."""
    if len(value) < 3:
        v = value[0] if len(value) >= 1 else None
        negated = bool(value[1]) if len(value) == 2 else False
        if v is None:
            return None
        tr = transform or FittedTransform("identity")
        tv = float(np.asarray(tr.apply_np(float(v))))
        if tv == cs.max:  # highest requested → ascending rank (W2)
            return _rank_norm([col], True, part, null_is_nan=True)
        if tv == cs.min:  # lowest requested → descending rank
            return _rank_norm([col], False, part, null_is_nan=True)
        # centroid (W3): |v − col|, nulls → +max, rank desc (asc=negated)
        key = f"coalesce(abs({sql_lit(tv)} - CAST({col} AS DOUBLE)), {sql_lit(_FLOAT_MAX)})"
        return _rank_norm([key], negated, part)
    lo, hi, negated = value
    # interval (W4): inside → float_min sentinel, nulls → float_max.
    # Bounds arrive raw; the result column carries transformed values
    # (src/encode.py:207 comment), so transform the bounds the same
    # way the query compiler does — swapping when a decreasing
    # transform flips them
    tr = transform or FittedTransform("identity")
    tlo = float(np.asarray(tr.apply_np(float(lo))))
    thi = float(np.asarray(tr.apply_np(float(hi))))
    if tlo > thi:
        tlo, thi = thi, tlo
    x = f"CAST({col} AS DOUBLE)"
    key = (
        f"(CASE WHEN ({x} >= {sql_lit(tlo)}) AND ({x} <= {sql_lit(thi)}) THEN {sql_lit(_FLOAT_MIN)}"
        f" ELSE coalesce({x}, {sql_lit(_FLOAT_MAX)}) END)"
    )
    return _rank_norm([key], bool(negated), part)


def _geo_delta(col: str, value, part: str) -> str:
    """W5 (src/encode.py:232-246): score products against the
    scale-and-shifted query point, farthest point computed WITHIN the
    result set (window max of (distance, point)), then rank."""
    lon, lat, negated = value
    qcart = [sql_lit(float(q)) for q in fourier.geo_to_cartesian((lon, lat))]
    qlon, qlat = (sql_lit(float(r)) for r in np.radians([lon, lat]))

    def cartesian(p_lon: str, p_lat: str) -> list[str]:
        return [
            f"(cos({p_lat}) * cos({p_lon}))",
            f"(cos({p_lat}) * sin({p_lon}))",
            f"sin({p_lat})",
        ]

    def dot_q(cart: list[str]) -> str:
        return "(" + " + ".join(f"{q} * {c}" for q, c in zip(qcart, cart)) + ")"

    plon, plat = f"radians({col}.`lon`)", f"radians({col}.`lat`)"
    hav = (
        f"power(sin(({plat} - {qlat}) / 2), 2)"
        f" + cos({qlat}) * cos({plat}) * power(sin(({plon} - {qlon}) / 2), 2)"
    )
    dist = f"asin(sqrt({hav})) * {sql_lit(2 * 6371.0)}"  # the earth's diameter, km
    far = (
        f"(max(struct({dist} AS d, {col}.`lon` AS lon, {col}.`lat` AS lat))"
        f" OVER (PARTITION BY {part}))"
    )
    # scale_and_shift (src/encode.py:347-354) with the per-window farthest
    dot_min = dot_q(cartesian(f"radians({far}.lon)", f"radians({far}.lat)"))
    scale = f"(2.0D / (1.0D - {dot_min}))"
    # product score = scale·(q·p) + (1 − scale·|q|²); |q|=1 on the unit sphere
    score = (
        f"(CASE WHEN {col} IS NULL THEN 1.0D - {scale}"
        f" ELSE {scale} * {dot_q(cartesian(plon, plat))} + (1.0D - {scale}) END)"
    )
    # negation ONLY flips the rank direction (src/encode.py:234); the
    # score itself is never negated in the re-rank path
    return _rank_norm([score], not negated, part)


def _binary_delta(col: str, value, part: str) -> str:
    """W6 (src/encode.py:247-254): match > null > mismatch via a
    3-level key mirroring the reference's sentinel ordering (match =
    smallest " ", null = next "'", mismatch = raw value); rank
    descending maps smallest → +1."""
    level = f"(CASE WHEN {col} = {sql_lit(value)} THEN 0 WHEN {col} IS NULL THEN 1 ELSE 2 END)"
    return _rank_norm([level, col], False, part)


def _sparse_delta(col: str, value, part: str) -> str:
    """W7 (src/encode.py:255-264): selected > null > others, guarded
    by "any selected value present in the result set"."""
    selection, negated = value
    sel = list(selection)
    selected = f"{col} IN ({', '.join(sql_lit(v) for v in sel)})" if sel else "false"
    level = f"(CASE WHEN {selected} THEN 0 WHEN {col} IS NULL THEN 1 ELSE 2 END)"
    # all selected values collapse to one sentinel (" ") in the
    # reference → they tie; only mismatches rank by raw value
    raw = f"(CASE WHEN {level} = 2 THEN {col} END)"
    delta = _rank_norm([level, raw], bool(negated), part)
    guard = f"max(CASE WHEN {selected} THEN 1 ELSE 0 END) OVER (PARTITION BY {part})"
    return f"(CASE WHEN {guard} = 1 THEN {delta} ELSE 0.0D END)"


def rerank(
    result: DataFrame,
    aux_data: dict[str, tuple],
    aux_encoding_schema: dict[str, str],
    stats: CorpusStats,
    transformation_schema: dict[str, FittedTransform] | None = None,
    relevance_col: str = "relevance",
    query_id_col: str | None = None,
) -> DataFrame:
    """W8 (src/encode.py:267): relevance += Σ modality rank · weight.

    ``result`` must carry ``relevance`` plus the (transformed) aux
    columns; pass ``query_id_col`` when re-ranking a batch of queries
    in one plan.

    The whole total is ONE SQL fragment in one ``withColumn``: its
    construction costs a few JVM calls whatever the modality count.
    """
    if relevance_col not in result.columns:
        raise ValueError(f"result must contain the {relevance_col!r} column")
    transformation_schema = transformation_schema or {}
    part = sql_ident(query_id_col) if query_id_col else "1"

    total = sql_ident(relevance_col)
    for column, (value, weight) in aux_data.items():
        if value in (None, []) or column not in aux_encoding_schema:
            continue
        kind = aux_encoding_schema[column]
        col = sql_ident(column)
        if kind == S.DENSE:
            delta = _dense_delta(col, value, stats.columns[column],
                                 transformation_schema.get(column), part)
        elif kind == S.GEO:
            delta = _geo_delta(col, value, part)
        elif kind == S.BINARY:
            delta = _binary_delta(col, value, part)
        elif kind == S.SPARSE:
            delta = _sparse_delta(col, value, part)
        else:
            continue
        if delta is not None:
            total = f"{total} + {delta} * {sql_lit(float(weight))}"
    return result.withColumn(relevance_col, F.expr(total))
