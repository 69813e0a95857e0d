"""Table profiling: per-column statistics in long format — the
data-quality snapshot every ingestion pipeline runs before and after
a transformation (count / nulls / distinct / min / max / mean /
quantiles).

Scale posture: ONE aggregation pass computes the non-distinct
aggregates simultaneously (Catalyst fuses them into a single
partial+final agg — no per-column scans), then a driver-side unpivot
of the 1-row result into (column, metric, value) rows. ``exact=True``
uses exact count-distinct and exact interpolated percentiles (what
the DuckDB differential twin states); the EXACT distinct counts run
as a SEPARATE second agg — multiple count(distinct) in one agg makes
Catalyst Expand the input N+1×, and the exact-percentile buffers
would ride every expanded copy (measured 3× slower combined than
split). At 100 TB switch ``exact=False`` for HLL++
``approx_count_distinct`` and t-digest ``approx_percentile`` — those
rejoin the single pass (no Expand) with bounded memory."""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..session import local_frame
from pyspark.sql import functions as F

__all__ = ["profile"]

_QUANTILES = (0.25, 0.5, 0.75)


def profile(df: DataFrame, cols: list[str], *, exact: bool = True) -> DataFrame:
    """Profile numeric columns → long DataFrame
    (column, n, n_null, n_distinct, min, max, mean, p25, p50, p75).
    Values are doubles rounded to 6 (cross-engine hash stability);
    counts stay exact bigints."""
    if not cols:
        raise ValueError("profile needs at least one column")
    dtypes = dict(df.dtypes)
    missing = [c for c in cols if c not in dtypes]
    if missing:
        raise ValueError(f"columns not in frame: {missing}")
    numeric = ("tinyint", "smallint", "int", "bigint", "float", "double")
    bad = [
        c
        for c in cols
        if not (dtypes[c] in numeric or dtypes[c].startswith("decimal"))
    ]
    if bad:
        raise ValueError(
            "profile() aggregates (mean/percentile/min-max-as-double) need "
            f"numeric columns; non-numeric: {[(c, dtypes[c]) for c in bad]}"
        )
    aggs = []
    for c in cols:
        col = F.col(c)
        aggs += [
            F.count(col).alias(f"{c}__n"),
            F.sum(col.isNull().cast("long")).alias(f"{c}__null"),
            F.min(col).cast("double").alias(f"{c}__min"),
            F.max(col).cast("double").alias(f"{c}__max"),
            F.avg(col).alias(f"{c}__mean"),
            (
                F.percentile(col, F.array(*[F.lit(q) for q in _QUANTILES]))
                if exact
                else F.percentile_approx(
                    col, F.array(*[F.lit(q) for q in _QUANTILES])
                )
            ).alias(f"{c}__q"),
        ]
        if not exact:
            aggs.append(F.approx_count_distinct(col).alias(f"{c}__dist"))
    if exact:
        # the exact-distinct agg stays a SEPARATE job (its Expand
        # would make the percentile buffers ride every copy — module
        # docstring), but the two jobs are INDEPENDENT: submit both
        # from a 2-thread pool so the short distinct job back-fills
        # while the percentile merge runs (guide §2.6; r13 measured
        # the percentile agg 2.4 s and the distinct agg 0.8 s strictly
        # sequential before — the overlap hides the smaller one)
        from concurrent.futures import ThreadPoolExecutor

        from pyspark import inheritable_thread_target

        dist_aggs = [F.countDistinct(F.col(c)).alias(f"{c}__dist") for c in cols]
        with ThreadPoolExecutor(max_workers=2) as pool:
            # both jobs keep the caller's job group, description and tags
            inherit = inheritable_thread_target(df.sparkSession)
            fmain = pool.submit(inherit(lambda: df.agg(*aggs).collect()[0]))
            fdist = pool.submit(inherit(lambda: df.agg(*dist_aggs).collect()[0]))
            row = {**fmain.result().asDict(), **fdist.result().asDict()}
    else:
        row = df.agg(*aggs).collect()[0]
    spark = df.sparkSession
    out = []
    for c in cols:
        q = row[f"{c}__q"] or [None] * len(_QUANTILES)
        out.append(
            (
                c,
                int(row[f"{c}__n"]),
                int(row[f"{c}__null"] or 0),
                int(row[f"{c}__dist"]),
                row[f"{c}__min"],
                row[f"{c}__max"],
                row[f"{c}__mean"],
                *[float(v) if v is not None else None for v in q],
            )
        )
    res = local_frame(
        spark, out,
        "column string, n bigint, n_null bigint, n_distinct bigint, "
        "min double, max double, mean double, p25 double, p50 double, p75 double",
    )
    rounded = [
        F.round(F.col(c), 6).alias(c)
        for c in ("min", "max", "mean", "p25", "p50", "p75")
    ]
    return res.select("column", "n", "n_null", "n_distinct", *rounded)


def dataset_card(
    docs: DataFrame,
    *,
    key_col: str = "doc_id",
    text_col: str = "text",
    exact: bool = False,
    top_langs: int = 5,
) -> dict:
    """One-call corpus summary — the go/no-go "dataset card" numbers a
    training run is signed off on: document/token volume, length
    distribution, null fraction, exact-duplicate fraction, mean
    heuristic quality, and the language mix. Returns a plain dict
    (bounded driver-side result, the dedup_report convention).

    Cost shape: ONE narrow projection (tokens / quality / langid /
    content hash are all expressions) feeding ONE fused aggregate,
    plus one bounded groupBy(pred_lang) for the mix — two jobs total.
    ``exact=False`` (the 100 TB default) uses HLL++ for the distinct
    content-hash count (duplicate fraction ±~2%); ``exact=True``
    switches to exact count-distinct, which Catalyst runs as an
    Expand — fine at audit scale, measured 3× at corpus scale (see
    :func:`profile`)."""
    from .curation import content_hash_expr
    from .textstats import lang_scores, quality_features, tokens_expr

    base = (
        quality_features(lang_scores(docs, text_col=text_col), text_col=text_col)
        .withColumns(
            {
                "__nt": F.size(tokens_expr(F.col(text_col))).cast("bigint"),
                # the SAME identity curate_corpus dedups on — the
                # report must predict the dedup the pipeline performs
                "__ch": content_hash_expr(F.col(text_col)),
            }
        )
        # consumed by TWO actions (fused agg + lang groupBy): CLAUDE.md
        # r6-3 — a lazy frame re-runs the caller's whole upstream
        # (possibly an entire curation chain) once per job
        .localCheckpoint(eager=True)
    )
    distinct_agg = (
        F.count_distinct(F.col("__ch")) if exact
        else F.approx_count_distinct(F.col("__ch"))
    )
    row = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.col("__ch")).alias("n_content"),
        F.sum(F.when(F.col(text_col).isNull(), 1).otherwise(0)).alias("n_null"),
        F.sum("__nt").alias("total_tokens"),
        F.round(F.avg("__nt"), 2).alias("mean_tokens"),
        F.expr("percentile_approx(__nt, 0.5)").alias("median_tokens"),
        F.max("__nt").alias("max_tokens"),
        F.round(F.avg("quality_score"), 6).alias("mean_quality"),
        distinct_agg.alias("n_distinct_content"),
    ).collect()[0]
    n = row["n_docs"] or 0
    langs = (
        base.groupBy("pred_lang")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("pred_lang"))
        .limit(top_langs)
        .collect()
    )
    return {
        "n_docs": n,
        "null_text_frac": round((row["n_null"] or 0) / n, 6) if n else 0.0,
        "total_tokens": int(row["total_tokens"] or 0),
        "mean_tokens": row["mean_tokens"],
        "median_tokens": row["median_tokens"],
        "max_tokens": row["max_tokens"],
        "mean_quality": row["mean_quality"],
        # over documents that HAVE content — md5(NULL) is NULL and a
        # null text is already reported by null_text_frac, not a dup
        "duplicate_frac": (
            round(
                1.0 - min(row["n_distinct_content"], row["n_content"]) / row["n_content"], 6
            )
            if row["n_content"]
            else 0.0
        ),
        "distinct_exact": bool(exact),
        "lang_mix": {r["pred_lang"]: r["c"] for r in langs},
    }
