"""Product-side modality encodings (SURVEY §2.8-§2.9: C1, C3, G2-G3,
N1-N4, N8) as Column-expression builders over DataFrames.

This is the data-plane half of the FuseRank engine: every row of the
corpus becomes one dense vector ``[text ‖ modality blocks]``
(reference `src/encode.py:47-105`), but as a *distributed column of
array<double>* — never a driver-side matrix (§1.4).

Two execution strategies for the Fourier-heavy dense block:
  * pure Column expressions (higher-order functions over
    ``sequence(1,K)`` — stays in whole-stage codegen), default for
    small K;
  * an Arrow-batched pandas UDF running the shared numpy math
    (fourier.dense_product_block) — wins for large K where 2·K trig
    calls per row per column dominate (SURVEY N2 note).
"""

from __future__ import annotations

import math
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from . import fourier
from . import schema as S
from .search import lit_vector


# --------------------------------------------------------------------- stats
@dataclass
class ColumnStats:
    kind: str
    min: float | None = None
    max: float | None = None
    vocab: list | None = None  # sparse: sorted distinct values (src/encode.py:136)
    values: list | None = None  # binary: sorted 2 values (canonicalized — gotcha #2)
    geo_sample: list | None = None  # [(lon,lat)] deterministic candidates for farthest-point


@dataclass
class CorpusStats:
    columns: dict[str, ColumnStats] = field(default_factory=dict)
    n_rows: int = 0


def compute_stats(
    df: DataFrame,
    aux_encoding_schema: dict[str, str],
    geo_sample_size: int = 512,
    max_vocab: int | None = 65536,
) -> CorpusStats:
    """One aggregate pass over the corpus for all modality stats
    (replaces the reference's per-call pandas min/max/unique —
    `src/encode.py:356-361,71-73,136`). Runs once per index build and
    is served from the result thereafter (SURVEY §4, stance #5).

    ``max_vocab`` guards categorical (SPARSE/BINARY) columns: the
    vocab IS a one-hot segment of the fused vector, so a
    high-cardinality column (a misdeclared id/free-text column) would
    both blow up the vector layout and build an unbounded collect_set
    buffer. The check is a SEPARATE approx_count_distinct pre-pass —
    a narrow column-pruned scan that runs BEFORE any collect_set
    exists, so the failure is a ValueError naming the column, never
    an executor/driver OOM inside the collect. (One extra cheap scan
    per index build; set ``max_vocab=None`` to skip it when the
    schema is known-good.)"""
    cat_cols = [
        c for c, kind in aux_encoding_schema.items() if kind in (S.SPARSE, S.BINARY)
    ]
    if max_vocab is not None and cat_cols:
        acds = df.agg(
            *[F.approx_count_distinct(F.col(c)).alias(c) for c in cat_cols]
        ).collect()[0]
        for c in cat_cols:
            if acds[c] > max_vocab:
                raise ValueError(
                    f"categorical column {c!r} has ~{acds[c]} distinct "
                    f"values (> max_vocab={max_vocab}); a one-hot segment "
                    "that wide is almost certainly a misdeclared id or "
                    "free-text column — fix the aux schema, or raise "
                    "max_vocab explicitly"
                )

    aggs: list[Column] = [F.count(F.lit(1)).alias("__n")]
    for c, kind in aux_encoding_schema.items():
        if kind == S.DENSE:
            aggs.append(F.min(F.col(c).cast("double")).alias(f"__min_{c}"))
            aggs.append(F.max(F.col(c).cast("double")).alias(f"__max_{c}"))
        elif kind in (S.SPARSE, S.BINARY):
            aggs.append(F.collect_set(F.col(c)).alias(f"__set_{c}"))
    row = df.agg(*aggs).collect()[0].asDict()

    stats = CorpusStats(n_rows=row["__n"])
    for c, kind in aux_encoding_schema.items():
        cs = ColumnStats(kind=kind)
        if kind == S.DENSE:
            cs.min, cs.max = row[f"__min_{c}"], row[f"__max_{c}"]
        elif kind == S.SPARSE:
            cs.vocab = sorted(row[f"__set_{c}"])  # pd.get_dummies sorts (src/encode.py:136)
        elif kind == S.BINARY:
            vals = sorted(row[f"__set_{c}"])
            if len(vals) != 2:
                raise ValueError(f"binary column {c!r} has {len(vals)} distinct values")
            cs.values = vals
        elif kind == S.GEO:
            # deterministic farthest-point candidates: corpus sample ordered
            # by a stable hash — replaces the reference's per-query full
            # corpus argmax scan (src/encode.py:155-157) with an O(1) lookup
            pts = (
                df.select(F.col(c).alias("p"))
                .filter(F.col("p").isNotNull())
                .orderBy(F.xxhash64(F.col("p.lon"), F.col("p.lat")))
                .limit(geo_sample_size)
                .collect()
            )
            cs.geo_sample = [(r["p"]["lon"], r["p"]["lat"]) for r in pts]
        stats.columns[c] = cs
    return stats


# ------------------------------------------------------------------ helpers
def null_indicator(col: Column) -> Column:
    """N8 (src/encode.py:363-369): −1 if missing else 0."""
    return F.when(col.isNull() | F.isnan(col.cast("double")), -1.0).otherwise(0.0)


def _null_ind_any(col: Column) -> Column:
    # isnan is only defined for numeric; struct/string nulls use isNull
    return F.when(col.isNull(), -1.0).otherwise(0.0)


def sparse_onehot(col: Column, vocab: list) -> Column:
    """C1 (src/encode.py:71): one-hot over the sorted vocab; missing
    row → all zeros (pd.get_dummies drops NaN)."""
    return F.array(
        *[F.when(col == F.lit(v), 1.0).otherwise(0.0) for v in vocab]
    )


def binary_pm1(col: Column, values: list) -> Column:
    """C3 (src/encode.py:72-75): two-valued column → {−1,+1}, missing
    → 0. Canonicalized to sorted order (deviation from the
    reference's nondeterministic first-seen order — SURVEY gotcha #2)."""
    lo, hi = values
    return F.array(
        F.when(col == F.lit(hi), 1.0).when(col == F.lit(lo), -1.0).otherwise(0.0)
    )


def geo_cartesian(col: Column) -> Column:
    """G2 (src/encode.py:390-400): struct<lon,lat> degrees → 3-dim
    unit-sphere Cartesian; missing → zeros."""
    lon = F.radians(col.getField("lon"))
    lat = F.radians(col.getField("lat"))
    return F.when(col.isNull(), F.array(F.lit(0.0), F.lit(0.0), F.lit(0.0))).otherwise(
        F.array(F.cos(lat) * F.cos(lon), F.cos(lat) * F.sin(lon), F.sin(lat))
    )


def geo_product_block(col: Column) -> Column:
    """G3 (src/encode.py:76-84): [cartesian(3) | shift 1 | null-ind] = 5 dims."""
    return F.concat(
        geo_cartesian(col), F.array(F.lit(1.0)), F.array(_null_ind_any(col))
    )


def scale_expr(col: Column, mn: float, mx: float, range_epsilon: float = 0.0) -> Column:
    """N1 (src/encode.py:356-361) with the N4 range shrink."""
    scaled = 2.0 * ((col.cast("double") - F.lit(float(mn))) / F.lit(float(mx - mn))) - 1.0
    if range_epsilon:
        scaled = F.lit(1.0 - range_epsilon) * scaled
    return scaled


def fourier_expr(x: Column, num_harmonics: int, freq: float = math.pi) -> Column:
    """N2+N3 (src/encode.py:402-427,441-448) as higher-order-function
    expressions: interleaved [sin(k·f·x)·σ_k, cos(k·f·x)·σ_k] for
    k=1..K; null/NaN x → zero vector. Runtime loop over
    ``sequence(1,K)`` — constant-size expression tree, stays inside
    whole-stage codegen."""
    sig = fourier.sigma(np.arange(1, num_harmonics + 1), num_harmonics, freq)
    sig_arr = F.expr(lit_vector(sig))
    xd = x.cast("double")
    pairs = F.transform(
        F.sequence(F.lit(1), F.lit(num_harmonics)),
        lambda k: F.array(
            F.sin(k.cast("double") * F.lit(freq) * xd) * F.element_at(sig_arr, k),
            F.cos(k.cast("double") * F.lit(freq) * xd) * F.element_at(sig_arr, k),
        ),
    )
    flat = F.flatten(pairs)
    safe = F.transform(
        flat, lambda v: F.when(v.isNull() | F.isnan(v), 0.0).otherwise(v)
    )
    # whole-vector null (x is NULL → sequence transform still yields values
    # through trig(null)=null → zeroed above); guard the outer null anyway
    zeros = F.array_repeat(F.lit(0.0), 2 * num_harmonics)
    return F.coalesce(safe, zeros)


def dense_product_expr(
    col: Column, mn: float, mx: float, num_harmonics: int, range_epsilon: float = 0.01
) -> Column:
    """N4 (src/encode.py:85-100): [half-circle(2) | 1 | full(2K) | 1 |
    null-ind] = 2K+5 dims, pure Column expressions."""
    scaled = scale_expr(col, mn, mx, range_epsilon)
    return F.concat(
        fourier_expr(scaled, 1, math.pi / 2),
        F.array(F.lit(1.0)),
        fourier_expr(scaled, num_harmonics, math.pi),
        F.array(F.lit(1.0)),
        F.array(null_indicator(col)),
    )


def dense_product_udf(mn: float, mx: float, num_harmonics: int, range_epsilon: float = 0.01):
    """Arrow-batched fast path for the N4 block: one numpy
    outer-product per batch instead of 2K codegen'd trig calls per
    row (SURVEY N2 note)."""

    @pandas_udf(T.ArrayType(T.DoubleType()))
    def _enc(s: pd.Series) -> pd.Series:
        vals = s.to_numpy(dtype="float64", na_value=np.nan)
        block = fourier.dense_product_block(vals, mn, mx, num_harmonics, range_epsilon)
        return pd.Series(list(block))

    return _enc


# ------------------------------------------------------------------- layout
@dataclass
class VectorLayout:
    """Ordered (segment, dim) map of the fused vector — the rebuild's
    explicit replacement for the reference's implicit concatenation
    order (src/encode.py:103). The query compiler (query.py) emits
    segments in exactly this order."""

    segments: list[tuple[str, int]] = field(default_factory=list)

    @property
    def dim(self) -> int:
        return sum(d for _, d in self.segments)

    def offset(self, name: str) -> int:
        off = 0
        for n, d in self.segments:
            if n == name:
                return off
            off += d
        raise KeyError(name)


def segment_dim(kind: str, cs: ColumnStats, num_harmonics: int) -> int:
    if kind == S.SPARSE:
        return len(cs.vocab)
    if kind == S.BINARY:
        return 1
    if kind == S.GEO:
        return 5
    if kind == S.DENSE:
        return 2 * num_harmonics + 5
    raise ValueError(kind)


def encode_products(
    df: DataFrame,
    aux_encoding_schema: dict[str, str],
    stats: CorpusStats,
    num_harmonics: int = 200,
    range_epsilon: float = 0.01,
    text_emb_col: str | None = "text_emb",
    out_col: str = "vector",
    dense_udf_threshold: int = 32,
) -> tuple[DataFrame, VectorLayout]:
    """The index-build stage (src/encode.py:47-105): attach one
    array<double> ``vector`` column = [text ‖ modality blocks], in
    aux-schema order. Returns (df, layout).

    All blocks are Column expressions except large-K dense blocks,
    which switch to the Arrow pandas-UDF path.
    """
    layout = VectorLayout()
    seg_cols: list[Column] = []
    if text_emb_col is not None:
        seg_cols.append(F.transform(F.col(text_emb_col), lambda v: v.cast("double")))
        # text dim is data-defined; callers must fix it via
        # record_text_dim before compiling queries (compile_query
        # rejects a layout with unknown text dim)
        layout.segments.append(("__text__", -1))

    for c, kind in aux_encoding_schema.items():
        cs = stats.columns[c]
        if kind == S.SPARSE:
            seg = sparse_onehot(F.col(c), cs.vocab)
        elif kind == S.BINARY:
            seg = binary_pm1(F.col(c), cs.values)
        elif kind == S.GEO:
            seg = geo_product_block(F.col(c))
        elif kind == S.DENSE:
            if num_harmonics >= dense_udf_threshold:
                seg = dense_product_udf(cs.min, cs.max, num_harmonics, range_epsilon)(
                    F.col(c).cast("double")
                )
            else:
                seg = dense_product_expr(F.col(c), cs.min, cs.max, num_harmonics, range_epsilon)
        else:
            continue
        seg_cols.append(seg)
        layout.segments.append((c, segment_dim(kind, cs, num_harmonics)))

    out = df.withColumn(out_col, F.concat(*seg_cols))
    return out, layout


def exact_farthest_point(
    df: DataFrame, geo_col: str, point: tuple[float, float]
) -> tuple[float, float] | None:
    """A6 exact mode (src/encode.py:155-157): argmax haversine over
    the corpus via max_by — one aggregate job. The default query path
    serves farthest-point lookups from the precomputed stats sample
    (stance #5); use this when exactness matters more than latency."""
    lon, lat = point
    plon = F.radians(F.col(geo_col).getField("lon"))
    plat = F.radians(F.col(geo_col).getField("lat"))
    qlon, qlat = math.radians(lon), math.radians(lat)
    hav = (
        F.pow(F.sin((plat - F.lit(qlat)) / 2), 2)
        + math.cos(qlat) * F.cos(plat) * F.pow(F.sin((plon - F.lit(qlon)) / 2), 2)
    )
    dist = 2 * 6371.0 * F.asin(F.sqrt(hav))
    row = (
        df.filter(F.col(geo_col).isNotNull())
        .agg(F.max_by(F.col(geo_col), dist).alias("p"))
        .collect()[0]
    )
    if row["p"] is None:
        return None
    return (row["p"]["lon"], row["p"]["lat"])


def record_text_dim(layout: VectorLayout, dim: int) -> VectorLayout:
    layout.segments = [("__text__", dim) if n == "__text__" else (n, d) for n, d in layout.segments]
    return layout


# ----------------------------------------------- encoder persistence
def save_encoder_meta(
    path: str,
    stats: CorpusStats,
    layout: VectorLayout,
    *,
    num_harmonics: int,
    extra: dict | None = None,
) -> None:
    """Persist the FROZEN encoder — CorpusStats + VectorLayout +
    the encode knobs — as JSON next to a persisted index
    (simsearch.ivf_persist / index_export shards). This is what lets
    a NEW session (or the streaming maintenance loop,
    incremental_ivf_index) encode queries and fresh batches
    bit-identically to the stored vectors: floats round-trip exactly
    through Python's JSON (repr-based), vocab order is preserved
    verbatim, and the layout pins segment order. Without this, a
    restart would re-fit stats and silently shift every encoding."""
    import json
    import os as _os

    doc = {
        "num_harmonics": int(num_harmonics),
        "n_rows": int(stats.n_rows),
        "layout": [[n, int(d)] for n, d in layout.segments],
        "columns": {
            c: {
                "kind": cs.kind,
                "min": cs.min,
                "max": cs.max,
                "vocab": cs.vocab,
                "values": cs.values,
                "geo_sample": (
                    [[float(a), float(b)] for a, b in cs.geo_sample]
                    if cs.geo_sample is not None
                    else None
                ),
            }
            for c, cs in stats.columns.items()
        },
        "extra": extra or {},
    }
    _os.makedirs(_os.path.dirname(_os.path.abspath(path)), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(doc, f)
    _os.replace(tmp, path)  # atomic: a reader never sees a half-written meta


def load_encoder_meta(path: str) -> tuple[CorpusStats, VectorLayout, dict]:
    """Inverse of :func:`save_encoder_meta` →
    (stats, layout, {"num_harmonics": ..., **extra})."""
    import json

    with open(path) as f:
        doc = json.load(f)
    stats = CorpusStats(n_rows=int(doc["n_rows"]))
    for c, d in doc["columns"].items():
        stats.columns[c] = ColumnStats(
            kind=d["kind"],
            min=d["min"],
            max=d["max"],
            vocab=d["vocab"],
            values=d["values"],
            geo_sample=(
                [(a, b) for a, b in d["geo_sample"]]
                if d["geo_sample"] is not None
                else None
            ),
        )
    layout = VectorLayout(segments=[(n, int(dd)) for n, dd in doc["layout"]])
    knobs = {"num_harmonics": int(doc["num_harmonics"]), **doc.get("extra", {})}
    return stats, layout, knobs
