"""``fused_serve``: reads over a corpus held in the program's own cache.

Setup writes a seeded ``documents.parquet`` of ``N_DOCS`` rows, shaped
like the sf0.1 table, and builds it with ``flagship.build_corpus``
(persisted). The timed loop is a closed
loop with one client, no think time, over three operation types in a
seeded order (each cycle of ``CYCLE`` shuffled):

- fused: ``compile_query`` → ``topk`` → collect;
- rerank: ``compile_query`` → ``text_topk_then_rerank`` → collect;
- batch: Q=64 precompiled queries → ``topk_batch`` → noop sink.

Set-up is the session start, the corpus build, compiling the ``POOL``
batches of queries the batch operation takes in turn, and
``WARM_ROUNDS`` warm cycles. Latencies fall for about thirty calls of
an operation type before they level off, and a run whose timed calls
still sit on that slope reports a median that moves with how many
calls the host let it make; the warm cycles take re-rank, the slowest
to settle, most of the way. The garbage collector is paused during the
timed loop, as ``timeit`` does, so its pauses land in no sample.

After the loop, one check batch holds the vectors of the timed fused
queries and of every pooled batch query. Its results must match a numpy
recompute and, for the timed queries, the single-query results. The
pooled queries give ``fused_recall_at_10``: fused top-10 against the
exact-filter arm ``topk(..., predicate=cq.predicate)``.
"""

from __future__ import annotations

import gc
import time

import numpy as np

from . import checks, gen
from .harness import median, percentile

N_DOCS = 5000
K = 10
BATCH_Q = 64
POOL = 2
# rerank twice a cycle: it is the cheapest operation and its latency
# spreads most from call to call
CYCLE = ("fused", "rerank", "batch", "rerank")
WARM_ROUNDS = 9


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _qframe(spark, cqs):
    """Compiled queries as an Arrow-backed local frame (the serve shape)."""
    import pandas as pd

    return spark.createDataFrame(
        pd.DataFrame({"query_id": list(range(len(cqs))), "qvec": [[float(x) for x in c.vector] for c in cqs]}),
        schema="query_id long, qvec array<double>",
    )


def run(ctx) -> dict:
    from fuserank_spark.embed import DeterministicStubEmbedder
    from fuserank_spark.flagship import AUX_SCHEMA, EMB_DIM, NUM_HARMONICS, build_corpus
    from fuserank_spark.query import compile_query
    from fuserank_spark.search import text_topk_then_rerank, topk, topk_batch

    spark, rec, seed = ctx.spark, ctx.rec, ctx.seed
    embedder = DeterministicStubEmbedder(EMB_DIM)
    sf_dir = ctx.run.sub("corpus")
    stream = gen.queries(seed)
    rng = np.random.default_rng([seed, 5])

    def compile_one(q):
        with rec.span("query.compile"):
            return compile_query(
                q["text"], q["aux"], AUX_SCHEMA, corpus.stats, corpus.layout,
                text_embedder=embedder, num_harmonics=NUM_HARMONICS,
            )

    def op_fused():
        cq = compile_one(next(stream))
        with rec.span("search.topk.construct"):
            df = topk(corpus.encoded, cq.vector, k=K)
        with rec.span("search.topk.execute"):
            rows = df.select("row_id", "relevance").collect()
        return cq, [(int(r), round(float(s), checks.SCORE_DIGITS)) for r, s in rows]

    def op_rerank():
        cq = compile_one(next(stream))
        with rec.span("search.rerank.construct"):
            df = text_topk_then_rerank(corpus.encoded, cq, AUX_SCHEMA, corpus.stats, text_dim=EMB_DIM, k=K)
        with rec.span("search.rerank.execute"):
            rows = df.select("row_id").collect()
        return cq, [int(r[0]) for r in rows]

    def op_batch(cqs):
        with rec.span("search.topk_batch.construct"):
            df = topk_batch(corpus.encoded, _qframe(spark, cqs), k=K)
        with rec.span("search.topk_batch.execute"):
            _noop(df)

    def compile_batch():
        return [compile_one(next(stream)) for _ in range(BATCH_Q)]

    batches = 0

    def op_next_batch():
        nonlocal batches
        op_batch(pool[batches % POOL])
        batches += 1

    ops = {"fused": lambda: fused_out.append(op_fused()), "rerank": lambda: rerank_out.append(op_rerank()),
           "batch": op_next_batch}
    fused_out, rerank_out = [], []

    # set-up: generate, build and persist the corpus, compile the POOL
    # batches of queries the batch operation takes in turn, then warm
    # with whole cycles (module docstring)
    t0 = time.perf_counter()
    with rec.span("setup.build"):
        gen.corpus(sf_dir, seed, N_DOCS)
        corpus = build_corpus(spark, sf_dir)
        corpus.encoded = corpus.encoded.persist()
        corpus.encoded.count()
    build_s = time.perf_counter() - t0
    pool = [compile_batch() for _ in range(POOL)]
    with rec.span("setup.warm"):
        for _ in range(WARM_ROUNDS):
            for kind in CYCLE:
                ops[kind]()
    setup_s = ctx.session_s + (time.perf_counter() - t0)
    del fused_out[:], rerank_out[:]

    # timed closed loop
    lat = {k: [] for k in CYCLE}
    attempted = failed = 0
    order: list[str] = []
    gc.collect()
    gc.disable()
    try:
        deadline = time.perf_counter() + ctx.seconds
        while time.perf_counter() < deadline:
            if not order:
                order = list(rng.permutation(CYCLE))
            kind = order.pop()
            attempted += 1
            t0 = time.perf_counter()
            try:
                ops[kind]()
            except Exception as e:  # noqa: BLE001 — a failed op counts, the loop goes on
                ctx.log(f"{kind} failed: {type(e).__name__}: {e}")
                failed += 1
                continue
            lat[kind].append(time.perf_counter() - t0)
    finally:
        gc.enable()

    with rec.span("check"):
        bad, recalls = _check(ctx, corpus, fused_out, rerank_out, [cq for b in pool for cq in b])
    attempted += 1  # the check pass itself
    failed += bad
    recall_10 = float(np.mean(recalls))

    fused, rerank, batch = lat["fused"], lat["rerank"], lat["batch"]
    batch_qps = BATCH_Q * len(batch) / sum(batch) if batch else 0.0
    return {
        "attempted": attempted,
        "failed": failed,
        "setup_s": setup_s,
        "named": {
            "fused_p50_s": (median(fused), "s"),
            "fused_p90_s": (percentile(fused, 90), "s"),
            "rerank_p50_s": (median(rerank), "s"),
            "batch_qps": (batch_qps, "1/s"),
            "build_rows_per_s": (N_DOCS / build_s, "1/s"),
            "fused_recall_at_10": (recall_10, "fraction"),
            "samples.fused": (len(fused), "count"),
            "samples.rerank": (len(rerank), "count"),
            "samples.batch": (len(batch), "count"),
            "samples.recall": (len(recalls), "count"),
        },
        "e2e": {
            "primary_s": median(fused),
            "secondary_s": median(rerank),
            "throughput_per_s": batch_qps,
            "quality": recall_10,
        },
        "layers": {},
    }


def _hard_mask(aux: dict, lang: np.ndarray, n_chars: np.ndarray) -> np.ndarray:
    """numpy twin of ``CompiledQuery.predicate`` for the generated query
    shape: a language set and an ``n_chars`` interval."""
    (langs, _neg), _w = aux["lang"]
    (lo, hi, _neg), _w = aux["n_chars"]
    return np.isin(lang, list(langs)) & (n_chars >= lo) & (n_chars <= hi)


def _check(ctx, corpus, fused_out, rerank_out, recall_cqs) -> tuple[int, list[float]]:
    """Count failed timed operations and compute per-query recall.

    One Spark pass collects every row's vector and filter columns; one
    check batch scores the timed fused vectors and the recall vectors
    through ``topk_batch``. The exact-filter arm is recomputed in numpy,
    proven once against ``topk(..., predicate=cq.predicate)``."""
    from fuserank_spark.flagship import EMB_DIM
    from fuserank_spark.search import topk, topk_batch

    rows = corpus.encoded.select("row_id", "vector", "lang", "n_chars").collect()
    ids = np.asarray([r[0] for r in rows])
    mat = np.asarray([r[1] for r in rows], dtype="float64")
    lang = np.asarray([r[2] for r in rows])
    n_chars = np.asarray([r[3] for r in rows], dtype="float64")
    pos = {int(r): i for i, r in enumerate(ids)}
    failed = 0

    def expected(cq):
        return checks.ranked(ids, mat @ cq.vector, K)

    for cq, got in fused_out:
        if not checks.same_topk(got, expected(cq)):
            ctx.log(f"fused result differs from the recompute: {cq.query_text!r}")
            failed += 1
    for cq, got in rerank_out:
        text = mat[:, :EMB_DIM] @ cq.vector[:EMB_DIM]
        got_ranked = checks.ranked(np.asarray(got), text[[pos[r] for r in got]], K)
        if not checks.same_topk(got_ranked, checks.ranked(ids, text, K)):
            ctx.log(f"rerank result set differs from the text top-k: {cq.query_text!r}")
            failed += 1

    sample = [cq for cq, _ in fused_out] + recall_cqs
    per_q: dict[int, list] = {}
    batch = topk_batch(corpus.encoded, _qframe(corpus.encoded.sparkSession, sample), k=K)
    for r in batch.select("query_id", "row_id", "relevance").collect():
        per_q.setdefault(int(r[0]), []).append((int(r[1]), round(float(r[2]), checks.SCORE_DIGITS)))
    got = [sorted(per_q.get(i, []), key=lambda t: (-t[1], t[0])) for i in range(len(sample))]
    for i, (cq, single) in enumerate(fused_out):
        if not (checks.same_topk(got[i], expected(cq)) and checks.same_topk(got[i], single)):
            ctx.log(f"batch and single results disagree: {cq.query_text!r}")
            failed += 1

    recalls = []
    for j, cq in enumerate(recall_cqs):
        fused = got[len(fused_out) + j]
        if not checks.same_topk(fused, expected(cq)):
            ctx.log(f"check batch differs from the recompute: {cq.query_text!r}")
            failed += 1
        m = _hard_mask(cq.aux_data, lang, n_chars)
        exact = [r for r, _ in checks.ranked(ids[m], mat[m] @ cq.vector, K)]
        if j == 0:
            arm = topk(corpus.encoded, cq.vector, k=K, predicate=cq.predicate).select("row_id").collect()
            if sorted(int(r[0]) for r in arm) != sorted(exact):
                ctx.log("exact-filter arm differs from its numpy twin")
                failed += 1
        rc = checks.recall([r for r, _ in fused], exact)
        if rc is not None:
            recalls.append(rc)
    return failed, recalls
