"""``ingest_serve``: writes beside reads, over an index served from parquet
files rather than the program's cache.

Setup builds the fused IVF index cold (``build_fused_ivf_index``, a
spherical quantizer) over a seeded base corpus and warms each operation
type once. The timed loop is a closed loop with one client, no think
time, issuing until ``--seconds`` have passed the next of:

- one seeded arrival batch of ``BATCH_ROWS`` documents, ingested by one
  ``incremental_ivf_index`` availableNow trigger;
- ``SERVES_PER_BATCH`` seeded ``fused_ivf_serve_persisted`` queries over
  the served set (the sink, or the latest snapshot ∪ its delta);
- every ``COMPACT_EVERY`` batches (the warm-up's included),
  ``compact_ivf_index`` of the sink into a new snapshot, which later
  serves read with the sink as delta.

After the loop, every timed serve must equal a numpy recompute over the
sink rows it could see, the snapshot ∪ delta serve must equal a serve
over the full sink, and the sink must hold every ingested row.
``ivf_recall_at_10`` is the pruned serve against a full-nprobe serve on
the base index, recomputed in numpy over ``N_RECALL`` queries (the
first also served by Spark to prove the numpy twin).
"""

from __future__ import annotations

import os
import time

import numpy as np

from . import checks, gen
from .harness import median, percentile

N_BASE = 400
BATCH_ROWS = 250
N_CELLS = 8
NPROBE = 3
K = 10
SERVES_PER_BATCH = 2
COMPACT_EVERY = 2
N_RECALL = 64


def _bucket_source(col):
    """``build_corpus`` buckets ``source`` into 16 hashed values before
    encoding; arrivals get the same so the frozen vocabulary applies."""
    from pyspark.sql import functions as F

    from fuserank_spark.pipeline_ext.hashing import portable_hash32

    return F.concat(F.lit("srcb"), F.pmod(portable_hash32(col), F.lit(16)))


def _files(path: str, min_batch: int = -1) -> tuple[int, int]:
    """(part files, bytes) under ``path``; for a sink, only the batch
    directories with ``batch_id > min_batch``."""
    n = size = 0
    for d, _sub, files in os.walk(path):
        part = os.path.relpath(d, path).split(os.sep)[0]
        if part.startswith("batch_id=") and int(part.split("=")[1]) <= min_batch:
            continue
        for f in files:
            if f.startswith("part-"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


def run(ctx) -> dict:
    from pyspark.sql import functions as F

    from fuserank_spark.embed import DeterministicStubEmbedder
    from fuserank_spark.encode import load_encoder_meta
    from fuserank_spark.flagship import (
        AUX_SCHEMA,
        EMB_DIM,
        NUM_HARMONICS,
        build_fused_ivf_index,
        fused_ivf_serve_persisted,
    )
    from fuserank_spark.query import compile_query
    from fuserank_spark.streaming.incremental import (
        compact_ivf_index,
        incremental_ivf_index,
        read_document_stream,
    )

    spark, rec, seed = ctx.spark, ctx.rec, ctx.seed

    # set-up: generate the base corpus and build the index cold
    t0 = time.perf_counter()
    base = gen.corpus(ctx.run.sub("base"), seed, N_BASE)
    index, meta = ctx.run.sub("index"), ctx.run.sub("meta.json")
    t1 = time.perf_counter()
    with rec.span("flagship.build_index"):
        n_cells = build_fused_ivf_index(spark, base, index, meta, n_cells=N_CELLS, quantizer="spherical")
    build_s = time.perf_counter() - t1

    stats, layout, knobs = load_encoder_meta(meta)
    cents = np.asarray(knobs["centroids"], dtype="float64")
    embedder = DeterministicStubEmbedder(EMB_DIM)

    def compile_one(q):
        return compile_query(
            q["text"], q["aux"], AUX_SCHEMA, stats, layout, text_embedder=embedder, num_harmonics=NUM_HARMONICS
        )

    src, sink, ck = ctx.run.sub("arrivals"), ctx.run.sub("sink"), ctx.run.sub("checkpoint")
    os.makedirs(src, exist_ok=True)
    stream = (
        read_document_stream(spark, src, max_files=1)
        .withColumn("row_id", F.col("doc_id"))
        .withColumn("source", _bucket_source(F.col("source")))
    )
    state = {"batches": 0, "doc_bytes": 0, "written": 0, "snapshot": None, "watermark": -1}

    def arrive() -> None:
        b = state["batches"]
        state["doc_bytes"] += gen.arrival(
            os.path.join(src, f"batch-{b:05d}.parquet"), seed, b, BATCH_ROWS, N_BASE + b * BATCH_ROWS
        )

    def ingest() -> None:
        b = state["batches"]
        with rec.span("streaming.microbatch") as attrs:
            q = incremental_ivf_index(
                stream, sink, ck, stats=stats, aux_schema=AUX_SCHEMA, centroids=cents,
                num_harmonics=NUM_HARMONICS, emb_dim=EMB_DIM,
            )
            attrs["job_group"] = str(q.runId)  # the stream thread's own job group
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        state["batches"] = b + 1

    def compact() -> None:
        out = ctx.run.sub(f"snapshot{state['batches']}")
        with rec.span("streaming.compact"):
            # the availableNow stream has stopped, so the newest batch is
            # complete and may be folded too
            report = compact_ivf_index(spark, sink, out, include_latest_batch=True)
        state["snapshot"], state["watermark"] = out, int(report["max_batch_id"])
        state["written"] += _files(out)[1]

    queries = gen.queries(seed)
    served = []  # (query, batches visible, part files per cell, result) per timed serve

    def serve(q, timed: bool) -> list[tuple[int, float]]:
        snap = state["snapshot"]
        with rec.span("flagship.ivf_serve.construct"):
            df = fused_ivf_serve_persisted(
                spark, snap or sink, meta, aux_data=q["aux"], text=q["text"], k=K, nprobe=NPROBE,
                delta_sink=sink if snap else None,
            )
        with rec.span("flagship.ivf_serve.execute"):
            rows = df.select("row_id", "relevance").collect()
        got = [(int(r), round(float(s), checks.SCORE_DIGITS)) for r, s in rows]
        if timed:
            files = _files(sink, state["watermark"])[0] + (_files(snap)[0] if snap else 0)
            served.append((q, state["batches"], files / n_cells, got))
        return got

    # warm-up: one batch, one compaction, one serve over the snapshot
    with rec.span("setup.warm"):
        arrive()
        ingest()
        compact()
        serve(next(queries), timed=False)
    setup_s = ctx.session_s + (time.perf_counter() - t0)
    warm_batches = state["batches"]

    lat = {"serve": [], "microbatch": [], "compact": []}
    attempted = failed = 0

    def op(kind, fn, *args):
        nonlocal attempted, failed
        attempted += 1
        t = time.perf_counter()
        try:
            out = fn(*args)
        except Exception as e:  # noqa: BLE001 — a failed op counts, the loop goes on
            ctx.log(f"{kind} failed: {type(e).__name__}: {e}")
            failed += 1
            return None
        lat[kind].append(time.perf_counter() - t)
        return out

    def ops():
        while True:
            yield "microbatch", ingest, ()
            for _ in range(SERVES_PER_BATCH):
                yield "serve", serve, (next(queries), True)
            if state["batches"] % COMPACT_EVERY == 0:
                yield "compact", compact, ()

    deadline = time.perf_counter() + ctx.seconds
    for kind, fn, args in ops():
        if time.perf_counter() >= deadline:
            break
        if kind == "microbatch":
            arrive()
        op(kind, fn, *args)

    with rec.span("check"):
        bad, recalls = _check(ctx, spark, sink, index, meta, state, served, serve, compile_one, cents, queries)
    attempted += 1  # the check pass itself
    failed += bad

    streamed = (state["batches"] - warm_batches) * BATCH_ROWS
    ingest_wall = sum(lat["microbatch"]) + sum(lat["compact"])
    ingest_rows_per_s = streamed / ingest_wall if ingest_wall else 0.0
    recall_10 = float(np.mean(recalls))
    serve_s = lat["serve"]
    written = state["written"] + _files(sink)[1]
    return {
        "attempted": attempted,
        "failed": failed,
        "setup_s": setup_s,
        "named": {
            "build_rows_per_s": (N_BASE / build_s, "1/s"),
            "ingest_rows_per_s": (ingest_rows_per_s, "1/s"),
            "ivf_serve_p50_s": (median(serve_s), "s"),
            "ivf_serve_p90_s": (percentile(serve_s, 90), "s"),
            "ivf_recall_at_10": (recall_10, "fraction"),
            "samples.serve": (len(serve_s), "count"),
            "samples.microbatch": (len(lat["microbatch"]), "count"),
            "samples.compact": (len(lat["compact"]), "count"),
        },
        "e2e": {
            "primary_s": median(serve_s),
            "secondary_s": median(lat["microbatch"]),
            "throughput_per_s": ingest_rows_per_s,
            "quality": recall_10,
        },
        "layers": {
            "index.write_amp": written / max(state["doc_bytes"], 1),
            "index.files_per_probe": float(np.mean([s[2] for s in served])) if served else 0.0,
        },
    }


def _check(ctx, spark, sink, index, meta, state, served, serve, compile_one, cents, queries):
    """Count failed checks and compute per-query recall of the pruned
    serve on the base index."""
    from pyspark.sql import functions as F

    from fuserank_spark.flagship import probe_cells

    failed = 0
    rows = spark.read.parquet(sink).select("row_id", "batch_id", "centroid_id", "vector").collect()
    ingested = state["batches"] * BATCH_ROWS
    if len(rows) != ingested or len({r[0] for r in rows}) != ingested:
        ctx.log(f"sink holds {len(rows)} rows, {ingested} ingested")
        failed += 1
    ids = np.asarray([r[0] for r in rows])
    batch = np.asarray([r[1] for r in rows])
    cell = np.asarray([r[2] for r in rows])
    mat = np.asarray([r[3] for r in rows], dtype="float64")

    for q, visible, _files, got in served:
        cq = compile_one(q)
        probed = np.isin(cell, probe_cells(cents, cq.vector, NPROBE)) & (batch < visible)
        if not checks.same_topk(got, checks.ranked(ids[probed], mat[probed] @ cq.vector, K)):
            ctx.log(f"serve differs from the recompute over its visible rows: {q['text']!r}")
            failed += 1

    # snapshot ∪ delta equals a serve over the full sink
    q = next(queries)
    state_snap = state["snapshot"]
    via_delta = serve(q, timed=False)
    state["snapshot"] = None
    via_sink = serve(q, timed=False)
    state["snapshot"] = state_snap
    if via_delta != via_sink:
        ctx.log("snapshot ∪ delta serve differs from the full-sink serve")
        failed += 1

    # recall of the pruned serve on the base index, in numpy; the first
    # query also served by Spark to prove the numpy twin
    from fuserank_spark.flagship import fused_ivf_serve_persisted

    base = spark.read.parquet(index).select("row_id", "centroid_id", "vector").collect()
    if len(base) != N_BASE:
        ctx.log(f"base index holds {len(base)} rows, {N_BASE} built")
        failed += 1
    bids = np.asarray([r[0] for r in base])
    bcell = np.asarray([r[1] for r in base])
    bmat = np.asarray([r[2] for r in base], dtype="float64")
    recalls = []
    for j in range(N_RECALL):
        q = next(queries)
        cq = compile_one(q)
        scores = bmat @ cq.vector
        full = checks.ranked(bids, scores, K)
        m = np.isin(bcell, probe_cells(cents, cq.vector, NPROBE))
        pruned = checks.ranked(bids[m], scores[m], K)
        if j == 0:
            got = [
                (int(r[0]), round(float(r[1]), checks.SCORE_DIGITS))
                for r in fused_ivf_serve_persisted(
                    spark, index, meta, aux_data=q["aux"], text=q["text"], k=K, nprobe=NPROBE
                ).select("row_id", F.col("relevance")).collect()
            ]
            if not checks.same_topk(got, pruned):
                ctx.log("base-index serve differs from its numpy twin")
                failed += 1
        recalls.append(checks.recall([r for r, _ in pruned], [r for r, _ in full]))
    return failed, recalls

