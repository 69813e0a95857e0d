"""Corpus-scale fused-IVF recall probe (VERDICT r6 #2, extended r8).

Round 6 attributed the fused-IVF fast point's 0.70 recall@10 (nprobe
3/8 on the 5k-row sf0.1 corpus) to the tiny near-isotropic corpus, not
the method. That claim is testable: build a ≥100k-row fused corpus,
train k-means cells, sweep nprobe, and report recall@10 vs SCAN
FRACTION. Round 7 ran it twice (100k/64, 500k/256) and the quantizer
rankings REVERSED — but both corpus size AND cell count varied, and
both runs used the near-isotropic hash-BOW stub. Round 8 closes both
confounds (VERDICT r7 asks #1 and #2):

* ``--embedder proxy`` embeds the corpus with
  ``ProxyTransformerEmbedder`` — real-transformer-shaped (anisotropic,
  correlated) vectors from a pinned-weight numpy forward pass — so the
  quantizer doctrine is measured on realistic embedding geometry, not
  stub geometry.
* a comma-separated cell list (e.g. ``64,256,1024,4096``) sweeps cell
  COUNT over ONE shared corpus, one shared exact baseline — the
  de-confounded cell-count axis. In sweep mode nprobe per cell count is
  derived from FIXED target scan fractions so points are comparable
  across cell counts.

Every (quantizer, nprobe) row also reports the OBSERVED scan fraction
(sum of probed-cell sizes / n) — nominal nprobe/n_cells misstates the
work when cells are unbalanced.

Usage: python tools/fused_ivf_scale_probe.py [factor] [cells] [sf_dir]
           [--embedder stub|proxy] [--queries N] [--harmonics K]
           [--corpus-cache DIR] [--quantizers head,trained,spherical]
           [--nprobes N1,N2,...]
       factor: corpus = documents × factor rows (default 20 → ~100k)
       cells:  one count ("64") or a comma list ("64,256,1024,4096")
       --corpus-cache: reuse the embedded+encoded corpus across runs
           (encoded.parquet + encoder meta under DIR; built on first
           use — a 500k proxy embed is ~30 min, the probes are not).
           The cache carries its build knobs (embedder/factor/
           harmonics) and a load REFUSES when they differ from the
           CLI args — a proxy-built cache served to a --embedder=stub
           run would silently mismatch every query vector (ADVICE r9).
       --quantizers: subset of head,trained,spherical (default all
           three) — k-means training dominates the wall at high cell
           counts, so a curve re-measure that only needs
           trained/spherical should not pay for head
       --nprobes: pin the probed nprobe list exactly (overrides the
           derived ladder) — e.g. just the 5 curve fractions
Prints one JSON line per (centroids, n_cells, nprobe) with mean
recall@10 over the seeded queries, plus per-quantizer cell-balance
summary lines.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

# fixed target scan fractions for sweep mode (VERDICT r7 ask #2)
SWEEP_FRACS = (0.03125, 0.09375, 0.25)


def main():
    argv = [a for a in sys.argv[1:] if not a.startswith("--")]
    opts = {a.split("=")[0]: (a.split("=", 1)[1] if "=" in a else True)
            for a in sys.argv[1:] if a.startswith("--")}
    factor = int(argv[0]) if len(argv) > 0 else 20
    cells_list = [int(c) for c in str(argv[1] if len(argv) > 1 else "64").split(",")]
    sf_dir = argv[2] if len(argv) > 2 else "/root/testdata/sf0.1"
    embedder_kind = str(opts.get("--embedder", "stub"))
    n_queries = int(opts.get("--queries", 8))
    num_harmonics = int(opts.get("--harmonics", 64))
    quantizers = tuple(str(opts.get("--quantizers", "head,trained,spherical")).split(","))
    bad_q = set(quantizers) - {"head", "trained", "spherical"}
    if bad_q:
        raise SystemExit(f"--quantizers must be from head,trained,spherical: {bad_q}")
    pinned_nprobes = (
        tuple(int(p) for p in str(opts["--nprobes"]).split(","))
        if "--nprobes" in opts else None
    )

    cache_dir = opts.get("--corpus-cache")

    from fuserank_spark.session import get_spark
    from fuserank_spark import schema as S
    from fuserank_spark.embed import (
        DeterministicStubEmbedder,
        ProxyTransformerEmbedder,
        embed_corpus,
    )
    from fuserank_spark.encode import (
        compute_stats,
        encode_products,
        load_encoder_meta,
        record_text_dim,
        save_encoder_meta,
    )
    from fuserank_spark.flagship import probe_cells
    from fuserank_spark.pipeline_ext.simsearch import ivf_assign_arrow, ivf_build
    from fuserank_spark.query import compile_query
    from fuserank_spark.search import topk

    spark = get_spark("fused-ivf-scale-probe")
    spark.sparkContext.setLogLevel("ERROR")

    aux = {"lang": S.SPARSE, "n_chars": S.DENSE}
    if embedder_kind == "proxy":
        emb_dim = 384
        query_embedder = ProxyTransformerEmbedder()
    elif embedder_kind == "stub":
        emb_dim = 64
        query_embedder = DeterministicStubEmbedder(emb_dim)
    else:
        raise SystemExit(f"--embedder must be stub|proxy, got {embedder_kind}")

    cache_meta = os.path.join(cache_dir, "meta.json") if cache_dir else None
    cache_parq = os.path.join(cache_dir, "encoded.parquet") if cache_dir else None
    if cache_meta and os.path.exists(cache_meta):
        t0 = time.time()
        stats, layout, _knobs = load_encoder_meta(cache_meta)
        # the cache is only valid for the knobs it was built with —
        # query vectors are compiled from the CLI's embedder/harmonics,
        # so a mismatch silently probes the wrong layout (ADVICE r9)
        for knob, want in (
            ("embedder", embedder_kind),
            ("factor", factor),
            ("num_harmonics", num_harmonics),
        ):
            got = _knobs.get(knob)
            if got != want:
                raise SystemExit(
                    f"corpus cache at {cache_dir} was built with {knob}={got!r} "
                    f"but this run asks {knob}={want!r} — pass matching args "
                    "or point --corpus-cache at a fresh dir"
                )
        enc = spark.read.parquet(cache_parq).persist()
        n = enc.count()
        print(
            f"fused corpus: {n} rows, dim {layout.dim}, embedder={embedder_kind}, "
            f"LOADED from {cache_dir} in {time.time() - t0:.1f}s",
            file=sys.stderr,
        )
    else:
        # replicated corpus with per-replica text perturbation:
        # embeddings vary per replica (both embedders see the rep
        # token), aux spreads — the scale_smoke construction
        docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
        big = (
            docs.crossJoin(spark.range(factor).select(F.col("id").alias("rep")))
            .select(
                (F.col("doc_id") * factor + F.col("rep")).alias("row_id"),
                F.concat(F.col("text"), F.lit(" rep"), F.col("rep")).alias("text"),
                "lang",
                (F.col("n_chars") + F.col("rep") % 37).alias("n_chars"),
            )
            .repartition(64, "row_id")
        )
        if embedder_kind == "proxy":
            # blas_threads=1: 32-way task parallelism, no nested pools
            factory = lambda: ProxyTransformerEmbedder(blas_threads=1)  # noqa: E731
        else:
            factory = lambda: DeterministicStubEmbedder(emb_dim)  # noqa: E731
        t0 = time.time()
        embedded = embed_corpus(big, {"text": 1.0}, dim=emb_dim, embedder_factory=factory)
        stats = compute_stats(embedded, aux)
        encoded, layout = encode_products(embedded, aux, stats, num_harmonics=num_harmonics)
        record_text_dim(layout, emb_dim)
        if cache_dir:
            encoded.select("row_id", "vector").write.mode("overwrite").parquet(cache_parq)
            save_encoder_meta(
                cache_meta, stats, layout,
                num_harmonics=num_harmonics,
                extra={"emb_dim": emb_dim, "embedder": embedder_kind, "factor": factor},
            )
            enc = spark.read.parquet(cache_parq).persist()
        else:
            enc = encoded.select("row_id", "vector").persist()
        n = enc.count()
        print(
            f"fused corpus: {n} rows, dim {layout.dim}, embedder={embedder_kind}, "
            f"built in {time.time() - t0:.1f}s"
            + (f", cached to {cache_dir}" if cache_dir else ""),
            file=sys.stderr,
        )

    # seeded fused queries (bench's qvec construction)
    qvecs = []
    for i in range(n_queries):
        cq = compile_query(
            f"scale probe query {i} spark filter",
            {
                "lang": (([["en", "de"], ["fr"], ["es", "zh"]][i % 3], False), 2.0),
                "n_chars": ((100.0 + 20 * i, 300.0 + 20 * i, False), 1.5),
            },
            aux, stats, layout,
            text_embedder=query_embedder, num_harmonics=num_harmonics,
        )
        qvecs.append(np.asarray(cq.vector, dtype="float64"))

    exact = [
        {r["row_id"] for r in topk(enc, qv, k=10).select("row_id").collect()}
        for qv in qvecs
    ]

    sweep_mode = len(cells_list) > 1
    for n_cells in cells_list:
        built: list[tuple[str, np.ndarray]] = []
        if "head" in quantizers:
            head_cents = np.array(
                [
                    r["vector"]
                    for r in enc.orderBy("row_id").limit(n_cells).select("vector").collect()
                ],
                dtype="float64",
            )
            built.append(("head", head_cents))
        if "trained" in quantizers:
            t0 = time.time()
            _a, trained_cents = ivf_build(
                enc, dim=layout.dim, n_centroids=n_cells, vec_col="vector",
                sample_rows=50_000, max_iter=10,
            )
            train_sec = round(time.time() - t0, 1)
            print(f"k-means {n_cells} cells trained in {train_sec}s", file=sys.stderr)
            built.append(("trained", trained_cents))

        if "spherical" in quantizers:
            # spherical k-means: train on L2-normalized vectors, renormalize
            # the centroids — the IP-aligned trainer (plain k-means optimizes
            # L2 cell geometry, which need not match inner-product retrieval
            # over fused vectors whose norms vary by modality coverage)
            norm = F.sqrt(F.aggregate(F.transform("vector", lambda x: x * x),
                                      F.lit(0.0), lambda a, v: a + v))
            enc_unit = enc.withColumn("__n", F.greatest(norm, F.lit(1e-12))).select(
                "row_id", F.transform("vector", lambda x: x / F.col("__n")).alias("vector")
            )
            t0 = time.time()
            _a, sph = ivf_build(
                enc_unit, dim=layout.dim, n_centroids=n_cells, vec_col="vector",
                sample_rows=50_000, max_iter=10,
            )
            sph = sph / np.maximum(np.linalg.norm(sph, axis=1, keepdims=True), 1e-12)
            print(
                f"spherical k-means {n_cells} cells trained in "
                f"{round(time.time() - t0, 1)}s",
                file=sys.stderr,
            )
            built.append(("spherical", sph))

        if pinned_nprobes is not None:
            nprobes = tuple(sorted({p for p in pinned_nprobes if 1 <= p <= n_cells}))
        elif sweep_mode:
            # fixed target fractions (comparable across cell counts)
            # plus a few tiny fixed probes for the graceful-degradation
            # signal at minimal scan fractions
            nprobes = tuple(sorted(
                {max(1, round(f * n_cells)) for f in SWEEP_FRACS} | {1, 2, 4}
            ))
        else:
            # fixed small probes + the target-fraction points (so high
            # cell counts still measure the serve-relevant 3–25% scan
            # band instead of jumping from 32 probes to a full scan)
            nprobes = tuple(sorted(
                {p for p in (1, 2, 4, 8, 16, 24, 32, n_cells) if p <= n_cells}
                | {max(1, round(f * n_cells)) for f in SWEEP_FRACS}
            ))

        for cents_name, cents in built:
            # arrow assignment (parity-pinned twin of the expression
            # path): the expression form compiles n_cells·dim literals
            # into the plan — unusable at 1024+ cells
            assigned = ivf_assign_arrow(
                enc, cents, vec_col="vector", metric="ip", score_round=6
            ).persist()
            sizes = {
                r["centroid_id"]: r["c"]
                for r in assigned.groupBy("centroid_id")
                .agg(F.count(F.lit(1)).alias("c")).collect()
            }
            for nprobe in nprobes:
                recalls, obs_fracs = [], []
                for qi, qv in enumerate(qvecs):
                    probed = probe_cells(cents, qv, nprobe)
                    got = {
                        r["row_id"]
                        for r in topk(
                            assigned, qv, k=10,
                            predicate=F.col("centroid_id").isin(probed),
                        ).select("row_id").collect()
                    }
                    recalls.append(len(exact[qi] & got) / 10.0)
                    obs_fracs.append(sum(sizes.get(c, 0) for c in probed) / n)
                row = {
                    "centroids": cents_name,
                    "embedder": embedder_kind,
                    "n_rows": n,
                    "n_cells": n_cells,
                    "nprobe": nprobe,
                    "scan_frac": round(nprobe / n_cells, 4),
                    "observed_scan_frac": round(sum(obs_fracs) / len(obs_fracs), 4),
                    "mean_recall_at_10": round(sum(recalls) / len(recalls), 4),
                    "min_recall": round(min(recalls), 2),
                }
                print(json.dumps(row))
            print(json.dumps({
                "summary": f"cell balance ({cents_name})",
                "n_cells": n_cells,
                "n_cells_used": len(sizes),
                "max_cell_frac": round(max(sizes.values()) / n, 4),
            }))
            assigned.unpersist()


if __name__ == "__main__":
    main()
