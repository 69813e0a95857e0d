"""``registry``: one pass over registry entries of ``__spark_entry__.queries()``.

The inputs are the ten sf-testdata-shaped tables (``gen.sf_tables``, sized
like sf0.001) written from the seed. Each entry is timed in two parts:
construct (the ``fn(spark, sf_dir)`` call, which includes any eager jobs
the entry runs while building its frame) and execute (``collect()``:
``bench.py`` writes to the noop sink instead, but the rows are needed
for the output check and executing every frame twice would not fit a
run; at sf0.001 sizes the results are small). Like ``bench.py``'s pass, each entry runs once, so
every figure includes the entry's first-call planning and code
generation. A pass over all 67 entries takes about two minutes on 4
cores, more than one run may spend, so the pass covers ``SLICE``: one
entry for each implementing module, except the two whose public calls
the other workload parts drive directly. ``ENTRY_MODULE`` names the
module behind every one of the 67 entries and fails loudly when the
registry changes.

After the pass, each entry that has ``oracle_sql()`` must have collected
the DuckDB oracle's row count, columns and value hash
(``tools/check_correctness.value_hash``).
"""

from __future__ import annotations

import gc
import statistics
import time

from . import gen
from .harness import median

ENTRY_MODULE = {
    **dict.fromkeys(
        (
            "q_scan q_filter q_proj_str q_nullfill q_join q_agg_stats q_onehot q_scale "
            "q_ranknorm q_topk q_haversine q_dot q_setops q_rollup q_json q_anti q_semi "
            "q_window_events q_cube q_pivot"
        ).split(),
        "relational",
    ),
    **dict.fromkeys(["q_bloom", "q_salted_join"], "partitioning"),
    "q_transform": "transforms",
    **dict.fromkeys(
        "q_dedup_exact q_minhash q_lsh_pairs q_simhash q_ngram_jaccard q_neardup_cos q_neardup_lsh".split(),
        "dedup",
    ),
    **dict.fromkeys(["q_knn", "q_lsh_knn", "q_ivf_knn"], "simsearch"),
    **dict.fromkeys("q_tokencount q_quality q_langid q_fingerprint q_gopher".split(), "textstats"),
    **dict.fromkeys(["q_rerank", "q_rerank_batch", "q_rerank_geo"], "rerank"),
    "q_fused_text": "search",
    **dict.fromkeys(["q_restaurants_fused", "q_fused_topk", "q_fused_ivf"], "flagship"),
    **dict.fromkeys(["q_media_pipeline", "q_media_frames"], "multimodal"),
    **dict.fromkeys(
        "q_split q_quota_sample q_decontam q_pii_scrub q_repetition q_curate q_mixture q_dedup_keepbest".split(),
        "curation",
    ),
    **dict.fromkeys(["q_bm25", "q_hybrid_rrf"], "retrieval"),
    **dict.fromkeys(["q_sessionize", "q_asof", "q_interval_join"], "timeseries"),
    **dict.fromkeys(["q_pq_knn", "q_pq_trained", "q_ivfpq_knn"], "quantization"),
    **dict.fromkeys(["q_pack", "q_pack_greedy", "q_assembly"], "packing"),
    "q_profile": "profile",
}
N_ENTRIES = 67
MODULES = sorted(set(ENTRY_MODULE.values()))

# the cheapest entry of each module in a warm sf0.001 pass, except the
# construct-heavy q_pq_knn for quantization
SLICE = (
    "q_scan", "q_salted_join", "q_transform", "q_minhash", "q_knn", "q_tokencount",
    "q_rerank", "q_media_frames", "q_split", "q_bm25", "q_sessionize", "q_pq_knn",
    "q_pack", "q_profile",
)
# modules left out of SLICE, and the workload part that times their public calls
NOT_SLICED = {
    "search": "fused_serve: topk, text_topk_then_rerank, topk_batch",
    "flagship": "ingest_serve: build_fused_ivf_index, fused_ivf_serve_persisted",
}


def check_registry(names) -> None:
    """Fail loudly when the registry is not the frozen entry set."""
    names = set(names)
    missing, extra = set(ENTRY_MODULE) - names, names - set(ENTRY_MODULE)
    if len(ENTRY_MODULE) != N_ENTRIES or missing or extra:
        raise RuntimeError(
            f"registry differs from the frozen {N_ENTRIES} entries: "
            f"missing={sorted(missing)} unexpected={sorted(extra)}; update ENTRY_MODULE"
        )
    if {ENTRY_MODULE[n] for n in SLICE} != set(MODULES) - set(NOT_SLICED):
        raise RuntimeError("SLICE must hold one entry of every module not in NOT_SLICED")


def run(ctx) -> dict:
    import __spark_entry__ as entry_mod

    spark, rec = ctx.spark, ctx.rec
    queries = entry_mod.queries()
    check_registry(queries)
    oracles = entry_mod.oracle_sql()
    # the directory name carries the scale: entries parse "sf<scale>" from it
    sf_dir = ctx.run.sub("sf0.001")

    t0 = time.perf_counter()
    with rec.span("setup.generate"):
        gen.sf_tables(sf_dir, ctx.seed)
    setup_s = ctx.session_s + (time.perf_counter() - t0)

    # the timed pass: each slice entry once, in slice order, with the
    # garbage collector paused as in fused_serve
    samples, collected = {}, {}
    attempted = failed = 0
    gc.collect()
    gc.disable()
    try:
        for name in SLICE:
            module = ENTRY_MODULE[name]
            attempted += 1
            try:
                e0 = time.perf_counter()
                with rec.span(f"registry.{module}.construct", entry=name):
                    df = queries[name](spark, sf_dir)
                e1 = time.perf_counter()
                with rec.span(f"registry.{module}.execute", entry=name):
                    rows = [tuple(r) for r in df.collect()]
                e2 = time.perf_counter()
            except Exception as e:  # noqa: BLE001 — a failing entry must not hide the rest
                ctx.log(f"{name} failed: {type(e).__name__}: {e}")
                failed += 1
                continue
            samples[name] = {"construct": e1 - e0, "execute": e2 - e1}
            collected[name] = (df.columns, rows)
    finally:
        gc.enable()

    with rec.span("check"):
        mismatched = _oracle_mismatches(ctx, sf_dir, {n: oracles[n] for n in collected if n in oracles}, collected)
    failed += len(mismatched)

    # per-entry seconds, summed per module and over the slice
    layers = {}
    for phase in ("construct", "execute"):
        for name, sample in samples.items():
            key = f"registry.{ENTRY_MODULE[name]}.{phase}_s"
            layers[key] = layers.get(key, 0.0) + sample[phase]
        layers[f"registry.{phase}_s"] = sum(sample[phase] for sample in samples.values())
    registry_s = layers["registry.construct_s"] + layers["registry.execute_s"]
    entry_s = [sample["construct"] + sample["execute"] for sample in samples.values()]
    # the geometric mean, as suites of unlike programs are summarized: the
    # median of 14 entries jumps between the two entries nearest it
    entry_geomean = statistics.geometric_mean(entry_s) if entry_s else 0.0
    n_oracle = sum(1 for n in SLICE if n in oracles)
    return {
        "attempted": attempted,
        "failed": failed,
        "setup_s": setup_s,
        "named": {
            "registry_s": (registry_s, "s"),
            "entry_p50_s": (median(entry_s), "s"),
            "entry_geomean_s": (entry_geomean, "s"),
            "entries": (len(SLICE), "count"),
            "oracle_checked": (n_oracle, "count"),
        },
        "e2e": {
            "primary_s": entry_geomean,
            "secondary_s": registry_s,
            "throughput_per_s": len(SLICE) / registry_s if registry_s else 0.0,
            "quality": (n_oracle - len(mismatched)) / max(n_oracle, 1),
        },
        "layers": layers,
    }


def _oracle_mismatches(ctx, sf_dir: str, sqls: dict, collected: dict) -> list[str]:
    """Entries whose collected rows differ from their DuckDB oracle in
    row count, column names or value hash."""
    import os

    import duckdb

    from tools.check_correctness import TABLES, canon, value_hash

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, t)}.parquet')")
        bad = []
        for name, sql in sqls.items():
            cols, rows = collected[name]
            res = con.execute(sql)
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
            ok = len(rows) == len(drows) and sorted(cols) == sorted(dcols)
            if ok and value_hash(rows, cols) != value_hash(drows, dcols):
                first = next(
                    (a, b)
                    for a, b in zip(
                        sorted("|".join(canon(x) for x in r) for r in rows),
                        sorted("|".join(canon(x) for x in r) for r in drows),
                    )
                    if a != b
                )
                ctx.log(f"{name}: value hash differs from the oracle; first diff {first}")
                ok = False
            if not ok:
                bad.append(name)
        return bad
    finally:
        con.close()
