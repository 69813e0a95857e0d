"""Scale smoke: explode the documents corpus N× (default → ~500k
rows) and run the heavy paths end-to-end — encode, single + batched
fused top-k, minhash/LSH dedup, exact dedup. Prints one JSON line of
wall times. Evidence for the SCALING.md claims at 100× the test SF.

Usage: python tools/scale_smoke.py [factor] [sf_dir]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def main():
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 100
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"

    os.environ.setdefault("FUSERANK_DRIVER_MEM", "24g")

    from fuserank_spark.session import get_spark
    from fuserank_spark import schema as S
    from fuserank_spark.embed import DeterministicStubEmbedder, embed_corpus
    from fuserank_spark.encode import compute_stats, encode_products, record_text_dim
    from fuserank_spark.pipeline_ext.dedup import (
        exact_dup_groups,
        lsh_candidate_pairs,
        minhash_signature,
    )
    from fuserank_spark.query import compile_query
    from fuserank_spark.search import topk, topk_batch

    spark = get_spark("scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    t = {}

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    big = (
        docs.crossJoin(spark.range(factor).select(F.col("id").alias("rep")))
        .select(
            (F.col("doc_id") * factor + F.col("rep")).alias("row_id"),
            # perturb text per replica so dedup isn't trivially degenerate
            F.concat(F.col("text"), F.lit(" rep"), F.col("rep")).alias("text"),
            "lang",
            (F.col("n_chars") + F.col("rep") % 37).alias("n_chars"),
        )
        .repartition(64, "row_id")
        .persist()
    )
    n = big.count()
    print(f"corpus: {n} rows", file=sys.stderr)

    aux = {"lang": S.SPARSE, "n_chars": S.DENSE}
    t0 = time.time()
    embedded = embed_corpus(big, {"text": 1.0}, dim=64)
    stats = compute_stats(embedded, aux)
    encoded, layout = encode_products(embedded, aux, stats, num_harmonics=64)
    record_text_dim(layout, 64)
    enc = encoded.select("row_id", "lang", "n_chars", "vector").persist()
    enc.write.format("noop").mode("overwrite").save()
    t["encode_500k"] = round(time.time() - t0, 2)
    t["encode_rows_per_sec"] = round(n / t["encode_500k"], 0)

    cq = compile_query(
        "spark join filter vector search",
        {"lang": ((["en", "de"], False), 2.0), "n_chars": ((120.0, 360.0, False), 1.5)},
        aux, stats, layout,
        text_embedder=DeterministicStubEmbedder(64), num_harmonics=64,
    )
    t0 = time.time()
    topk(enc, cq.vector, k=10).collect()
    t["topk_single"] = round(time.time() - t0, 2)

    qdf = spark.createDataFrame(
        [(i, [float(x) for x in cq.vector]) for i in range(32)],
        "query_id int, qvec array<double>",
    )
    t0 = time.time()
    topk_batch(enc, qdf, k=10).write.format("noop").mode("overwrite").save()
    t["topk_batch32"] = round(time.time() - t0, 2)
    t["topk_qps"] = round(32 / t["topk_batch32"], 2)

    t0 = time.time()
    exact_dup_groups(big, key_col="row_id").write.format("noop").mode("overwrite").save()
    t["exact_dedup"] = round(time.time() - t0, 2)

    t0 = time.time()
    sigs = minhash_signature(big.select("row_id", "text"), out_prefix="mh")
    pairs = lsh_candidate_pairs(sigs, key_col="row_id")
    n_pairs = pairs.count()
    t["minhash_lsh_pairs"] = round(time.time() - t0, 2)
    t["n_candidate_pairs"] = n_pairs

    # bucketed embedding near-dup at volume: replicate each base vector
    # `factor`× with per-replica jitter → mass near-dup clusters, which
    # exercises BOTH the bucket pair-gen and the star-edge guard. The
    # unbounded (no max_id) call proves the default path is the LSH one.
    from fuserank_spark.pipeline_ext.dedup import embedding_neardup_pairs
    from fuserank_spark.pipeline_ext.simsearch import ivf_build, ivf_knn, ivf_load, ivf_persist

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    bigv = (
        emb.crossJoin(spark.range(factor).select(F.col("id").alias("rep")))
        .select(
            (F.col("vec_id") * factor + F.col("rep")).alias("vec_id"),
            F.transform(
                "embedding", lambda x: x + (F.col("rep") % 7).cast("float") * 1e-4
            ).alias("embedding"),
        )
        .repartition(64, "vec_id")
        .persist()
    )
    nv = bigv.count()
    t0 = time.time()
    nd = embedding_neardup_pairs(bigv, threshold=0.95, method="lsh", dim=64)
    t["neardup_lsh_pairs"] = round(time.time() - t0 + 0, 2)
    n_nd = nd.count()
    t["neardup_lsh_pairs"] = round(time.time() - t0, 2)
    t["n_neardup_pairs"] = n_nd

    # IVF at volume: sampled training, partitioned index write, pruned probe
    t0 = time.time()
    assigned, cents = ivf_build(bigv, dim=64, n_centroids=32, sample_rows=10_000, max_iter=8)
    idx_path = tempfile.mkdtemp(prefix="ivf_smoke_")
    ivf_persist(assigned, idx_path)
    t["ivf_build_persist"] = round(time.time() - t0, 2)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    t0 = time.time()
    ivf_knn(ivf_load(spark, idx_path), cents, queries, k=10, nprobe=4).write.format(
        "noop"
    ).mode("overwrite").save()
    t["ivf_serve8"] = round(time.time() - t0, 2)
    shutil.rmtree(idx_path, ignore_errors=True)
    t["n_vectors"] = nv

    # semantic dedup at volume: reuse the trained coarse centroids as
    # the frozen cluster map; the jittered replica clusters put every
    # cell far above max_bucket_size, so this exercises the star-edge
    # degrade (linear in members) rather than within-cell all-pairs
    from fuserank_spark.pipeline_ext.dedup import semantic_dedup

    t0 = time.time()
    n_sem = semantic_dedup(
        bigv, cents, threshold=0.98, assign_round=None
    ).count()
    t["semantic_dedup"] = round(time.time() - t0, 2)
    t["n_semantic_survivors"] = n_sem

    # curation ops at volume: the window quota (WindowGroupLimit
    # pre-trim), the decontamination broadcast semi-join (train side
    # explodes ~n·tokens gram rows without shuffling), and the
    # distributed repetition stats (explode → two hash aggs)
    from fuserank_spark.pipeline_ext.curation import (
        contaminated_keys,
        quota_sample,
        repetition_stats,
    )

    t0 = time.time()
    quota_sample(big, group_col="lang", key_col="row_id", n_per_group=100).write.format(
        "noop"
    ).mode("overwrite").save()
    t["quota_sample"] = round(time.time() - t0, 2)

    # boilerplate mining + coverage at volume: the 100× replication
    # makes every base gram frequent, so the mined set is large and
    # the coverage join runs against a heavy broadcast side
    from fuserank_spark.pipeline_ext.curation import (
        boilerplate_fraction,
        frequent_ngrams,
    )

    t0 = time.time()
    bfreq = frequent_ngrams(big, n=8, min_doc_count=50).persist()
    n_freq = bfreq.count()  # one mining pass; count doubles as the broadcast hint
    boilerplate_fraction(
        big, bfreq, key_col="row_id", n=8, frequent_count=n_freq
    ).write.format("noop").mode("overwrite").save()
    bfreq.unpersist()
    t["boilerplate"] = round(time.time() - t0, 2)
    t["n_frequent_grams"] = n_freq

    # line-level dedup at volume: re-chunk each doc into ~6-token lines
    # (the corpus has none), so the 100× replication makes every base
    # line a mass duplicate — ~8M exploded lines through the hash
    # groupBy + winner join + per-doc rebuild
    from fuserank_spark.pipeline_ext.dedup import dedup_lines

    lined = big.select(
        "row_id",
        F.regexp_replace("text", r"((?:\w+ ){5}\w+) ", "$1\n").alias("text"),
    )
    t0 = time.time()
    dedup_lines(lined, key_col="row_id").select("row_id", "n_lines", "n_kept").write.format(
        "noop"
    ).mode("overwrite").save()
    t["dedup_lines"] = round(time.time() - t0, 2)

    # n-gram LM perplexity at volume: train bigram counts over the full
    # replicated corpus (model stays tiny — the vocab is synthetic), then
    # score all 500k docs through the broadcast-model join
    from fuserank_spark.pipeline_ext.lm import (
        dsir_sample,
        dsir_train,
        dsir_weights,
        ngram_lm_perplexity,
        ngram_lm_train,
    )

    t0 = time.time()
    lm = ngram_lm_train(big, n=2)
    n_model = lm.ngrams.count()
    t["lm_train"] = round(time.time() - t0, 2)
    t["n_lm_ngrams"] = n_model
    t0 = time.time()
    ngram_lm_perplexity(
        big, lm, key_col="row_id", model_rows=n_model
    ).select("row_id", "perplexity").write.format("noop").mode("overwrite").save()
    t["lm_perplexity"] = round(time.time() - t0, 2)

    # DSIR at volume: 1%-slice target distribution vs the full raw
    # corpus, 10k hashed buckets, weights for all 500k docs + a
    # deterministic Gumbel top-10k draw
    t0 = time.time()
    dmodel = dsir_train(
        big.filter(F.col("row_id") % 100 == 0), big, ns=(1, 2), n_buckets=10_000
    )
    t["dsir_train"] = round(time.time() - t0, 2)
    t0 = time.time()
    w = dsir_weights(big, dmodel, key_col="row_id")
    dsir_sample(w, 10_000, key_col="row_id").select("row_id").write.format(
        "noop"
    ).mode("overwrite").save()
    t["dsir_weights_sample"] = round(time.time() - t0, 2)

    test_slice = docs.filter(F.col("doc_id") % 17 == 0).select("doc_id", "text")
    t0 = time.time()
    n_contam = contaminated_keys(
        big.select(F.col("row_id").alias("doc_id"), "text"), test_slice
    ).count()
    t["decontam"] = round(time.time() - t0, 2)
    t["n_contaminated"] = n_contam

    t0 = time.time()
    repetition_stats(big, key_col="row_id").write.format("noop").mode(
        "overwrite"
    ).save()
    t["repetition_stats"] = round(time.time() - t0, 2)

    # PQ at volume: expression encode of the replicated vectors, then
    # ADC top-k over the 32×-compressed codes
    from fuserank_spark.pipeline_ext.quantization import (
        forgy_codebooks,
        pq_adc_topk,
        pq_encode,
    )

    seed_rows = emb.filter(F.col("vec_id") < 16).orderBy("vec_id").collect()
    books = forgy_codebooks([r["embedding"] for r in seed_rows], dim=64, m=8, k=16)
    t0 = time.time()
    codes = pq_encode(bigv, books, vec_col="embedding").persist()
    codes.write.format("noop").mode("overwrite").save()
    t["pq_encode"] = round(time.time() - t0, 2)
    t0 = time.time()
    pq_adc_topk(
        codes, books, [(r["vec_id"], r["embedding"]) for r in seed_rows[:8]], k=10
    ).write.format("noop").mode("overwrite").save()
    t["pq_adc_topk8"] = round(time.time() - t0, 2)
    codes.unpersist()

    # sequence packing at volume: the bucketed two-phase cumsum must
    # hold its shape (no global-window task) on the replicated corpus
    from fuserank_spark.pipeline_ext.packing import pack_split
    from fuserank_spark.pipeline_ext.textstats import token_count

    toks = token_count(big, text_col="text").select("row_id", "n_tokens")
    t0 = time.time()
    pack_split(toks, budget=2048, key_col="row_id").write.format("noop").mode(
        "overwrite"
    ).save()
    t["pack_split"] = round(time.time() - t0, 2)

    # time-series ops at volume (r5, VERDICT r4 #7): replicate events
    # 10× (1M rows at sf0.1) with per-replica user-id shift so the
    # session/as-of windows see `factor`× the keys, not hotter keys
    from fuserank_spark.pipeline_ext import timeseries as TS
    from fuserank_spark.session import load_tables

    evf = max(2, factor // 10)
    ev = load_tables(spark, sf_dir, "events")["events"]
    bige = (
        ev.crossJoin(spark.range(evf).select(F.col("id").alias("rep")))
        .select(
            (F.col("event_id") * evf + F.col("rep")).alias("event_id"),
            "ts",
            (F.col("user_id") * evf + F.col("rep")).alias("user_id"),
            "event_type",
            "value",
        )
        .repartition(64, "user_id")
        .persist()
    )
    ne = bige.count()
    t["n_events"] = ne

    t0 = time.time()
    TS.sessionize(bige).write.format("noop").mode("overwrite").save()
    t["sessionize"] = round(time.time() - t0, 2)

    clicks = bige.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    marks = bige.filter(F.col("event_type") == "error").select("user_id", "ts", "value")
    t0 = time.time()
    TS.asof_join(
        clicks, marks, key_col="user_id", ts_col="ts", right_cols=["value"]
    ).write.format("noop").mode("overwrite").save()
    t["asof_join"] = round(time.time() - t0, 2)

    intervals = bige.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("interval_id"),
        "user_id",
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("end"),
    )
    t0 = time.time()
    TS.interval_join(
        clicks, intervals, key_col="user_id", bucket_minutes=30.0
    ).write.format("noop").mode("overwrite").save()
    t["interval_join"] = round(time.time() - t0, 2)
    bige.unpersist()

    # mixture sampling at volume: down+oversampled sources, zero shuffle
    from fuserank_spark.pipeline_ext.curation import mixture_sample

    mix_src = big.withColumn("src", F.concat(F.lit("s"), F.col("row_id") % 4))
    t0 = time.time()
    mixture_sample(
        mix_src,
        {"s0": 0.25, "s1": 1.0, "s2": 1.5, "s3": 2.0},
        source_col="src",
        key_col="row_id",
    ).write.format("noop").mode("overwrite").save()
    t["mixture_sample"] = round(time.time() - t0, 2)

    # fused-IVF serve at volume (r5): IP cell assignment over the 500k
    # fused vectors + pruned exact top-k on 3 of 8 cells — the shape
    # that turns into partition pruning over an ivf_persist'ed corpus
    from fuserank_spark.flagship import probe_cells
    from fuserank_spark.pipeline_ext.simsearch import ivf_assign

    cent_rows = enc.orderBy("row_id").limit(8).select("vector").collect()
    import numpy as np

    fcents = np.array([r["vector"] for r in cent_rows], dtype="float64")
    t0 = time.time()
    fassigned = ivf_assign(enc, fcents, vec_col="vector", metric="ip", score_round=6)
    topk(
        fassigned, cq.vector, k=10,
        predicate=F.col("centroid_id").isin(probe_cells(fcents, cq.vector, 3)),
    ).collect()
    t["fused_ivf_topk"] = round(time.time() - t0, 2)

    # round-5 layers at volume (VERDICT r5 next-round #6) -----------------

    # salted skew-join: 30% of the corpus on ONE key — the shape AQE
    # alone can't fix when the dim side is broadcast-disabled
    from fuserank_spark.partitioning import salted_join

    hot = big.select(
        F.when(F.col("row_id") % 10 < 3, F.lit(0))
        .otherwise(F.col("row_id") % 1000)
        .alias("k"),
        "row_id",
        "n_chars",
    )
    dim = spark.range(1000).select(
        F.col("id").alias("k"), F.concat(F.lit("g"), F.col("id") % 7).alias("grp")
    )
    t0 = time.time()
    salted_join(hot, dim, "k", salt_buckets=16).groupBy("grp").agg(
        F.count(F.lit(1)).alias("n")
    ).write.format("noop").mode("overwrite").save()
    t["salted_join_hotkey"] = round(time.time() - t0, 2)

    # assembly chain: curate → mixture → pack composed end-to-end
    from fuserank_spark.pipeline_ext.curation import curate_corpus
    from fuserank_spark.pipeline_ext.curation import mixture_sample as _mix

    asm_in = big.select(
        F.col("row_id").alias("doc_id"),
        F.concat(F.lit("s"), F.col("row_id") % 4).alias("source"),
        "text",
    )
    t0 = time.time()
    curated = curate_corpus(asm_in)
    train = curated.filter(F.col("split") == "train")
    mixed = _mix(train, {"s0": 0.25, "s1": 1.0, "s2": 1.5, "s3": 2.0})
    items = mixed.select(
        (F.col("doc_id") * 8 + F.col("copy_idx")).alias("item_id"), "n_tokens"
    )
    pack_split(items, budget=2048, key_col="item_id").write.format("noop").mode(
        "overwrite"
    ).save()
    t["assembly_chain"] = round(time.time() - t0, 2)

    # media frame-sampling: payload attach → stub video decode →
    # expression-only frame explode (≤16 frames/doc) at corpus scale
    from fuserank_spark.pipeline_ext import multimodal as M

    t0 = time.time()
    med = M.attach_payload(big.select("row_id", "text"))
    med = M.extract_media_metadata(med, media_type="video")
    M.frame_sample(med, every_ms=7000, max_frames=16).select(
        "row_id", "frame_ts_ms"
    ).write.format("noop").mode("overwrite").save()
    t["media_frames"] = round(time.time() - t0, 2)

    # fused-IVF cold-start serve: persist the assigned fused corpus
    # partitioned by cell + frozen encoder meta, then serve from FILES
    # ONLY — the partition-pruned steady-state query path
    from fuserank_spark.encode import save_encoder_meta
    from fuserank_spark.flagship import fused_ivf_serve_persisted

    cache_dir = tempfile.mkdtemp(prefix="fused_ivf_smoke_")
    fidx_path = os.path.join(cache_dir, "fused_ivf_smoke")
    fmeta_path = os.path.join(cache_dir, "fused_ivf_smoke_meta.json")
    t0 = time.time()
    ivf_persist(fassigned, fidx_path)
    save_encoder_meta(
        fmeta_path, stats, layout, num_harmonics=64,
        extra={"emb_dim": 64, "centroids": [[float(x) for x in c] for c in fcents]},
    )
    t["fused_ivf_persist"] = round(time.time() - t0, 2)
    t0 = time.time()
    fused_ivf_serve_persisted(
        spark, fidx_path, fmeta_path, k=10, nprobe=3,
        aux_data={
            "lang": ((["en", "de"], False), 2.0),
            "n_chars": ((120.0, 360.0, False), 1.5),
        },
    ).collect()
    t["fused_ivf_serve_persisted"] = round(time.time() - t0, 2)
    shutil.rmtree(cache_dir, ignore_errors=True)

    # round-6 third-session ops at volume ---------------------------------

    # exact-substring span dedup: every interior 8-gram of each base doc
    # repeats `factor`× (the rep suffix only perturbs the tail), so the
    # loser side is massive — worst-case pressure on the token-granular
    # gram groupBy, the dup-winner join and the per-doc coverage window
    from fuserank_spark.pipeline_ext.dedup import dedup_spans

    t0 = time.time()
    dedup_spans(big.select(F.col("row_id").alias("doc_id"), "text")).select(
        "doc_id", "n_tokens", "n_kept"
    ).write.format("noop").mode("overwrite").save()
    t["dedup_spans"] = round(time.time() - t0, 2)

    # overlap-fraction decontamination: per-doc degree instead of the
    # any-collision semi-join — adds the contamination-bounded hit agg
    from fuserank_spark.pipeline_ext.curation import contamination_fraction

    t0 = time.time()
    contamination_fraction(
        big.select(F.col("row_id").alias("doc_id"), "text"), test_slice
    ).write.format("noop").mode("overwrite").save()
    t["contamination_fraction"] = round(time.time() - t0, 2)

    # corpus-overlap sketch: two one-pass global-min aggregates, no join
    from fuserank_spark.pipeline_ext.dedup import corpus_overlap

    t0 = time.time()
    ov = corpus_overlap(
        big.filter(F.col("row_id") % 2 == 0),
        big.filter(F.col("row_id") % 2 == 1),
        num_perms=32,
    )
    t["corpus_overlap"] = round(time.time() - t0, 2)
    t["corpus_overlap_jaccard"] = ov["jaccard_est"]

    # BPE: distributed word-frequency training input + driver merge
    # loop, then Arrow-batched application over all 500k docs (the
    # subword packing-budget path — Python, memoized per batch)
    from fuserank_spark.pipeline_ext.bpe import bpe_token_count, bpe_train_from_corpus

    t0 = time.time()
    merges = bpe_train_from_corpus(docs, num_merges=200, max_words=20_000)
    t["bpe_train"] = round(time.time() - t0, 2)
    t0 = time.time()
    bpe_token_count(
        big.select(F.col("row_id").alias("doc_id"), "text"), merges
    ).write.format("noop").mode("overwrite").save()
    t["bpe_apply"] = round(time.time() - t0, 2)

    # learned quality classifier: tiny train set (the fit cost scales
    # with labeled data, not the corpus), then narrow scoring + the
    # deterministic Pareto gate over all 500k docs
    from fuserank_spark.pipeline_ext.classifier import (
        pareto_quality_filter,
        quality_scores,
        train_quality_classifier,
    )

    neg = docs.limit(200).select("doc_id", F.reverse(F.col("text")).alias("text"))
    t0 = time.time()
    qmodel = train_quality_classifier(docs.limit(200), neg, n_features=1 << 16)
    t["clf_train"] = round(time.time() - t0, 2)
    t0 = time.time()
    pareto_quality_filter(
        quality_scores(big.select(F.col("row_id").alias("doc_id"), "text"), qmodel),
        key_col="doc_id",
    ).select("doc_id").write.format("noop").mode("overwrite").save()
    t["clf_score_filter"] = round(time.time() - t0, 2)

    # incremental LSH dedup steady state: band-store from the 500k
    # corpus, then a 5k batch (half store-dups, half fresh) — the
    # grow-the-corpus ingest cost, one shuffle-free store scan
    from fuserank_spark.pipeline_ext.dedup import (
        build_lsh_store,
        incremental_lsh_dedup,
    )

    # a fresh temp dir per run: two runs on one host never share a store
    lsh_store = tempfile.mkdtemp(prefix="lsh_store_smoke_")
    t0 = time.time()
    build_lsh_store(
        big.select(F.col("row_id").alias("doc_id"), "text"), lsh_store
    )
    t["lsh_store_build"] = round(time.time() - t0, 2)
    # id spacing must match the rep range or factor=1 collides ids
    evr = max(2, factor)
    ibatch = (
        docs.limit(25)
        .crossJoin(spark.range(evr).select(F.col("id").alias("rep")))
        .select(
            (F.col("doc_id") * evr + F.col("rep") + 10_000_000).alias("doc_id"),
            F.when(
                F.col("rep") % 2 == 0,
                F.concat(F.col("text"), F.lit(" rep"), F.col("rep")),
            ).otherwise(
                F.concat(F.lit("fresh smoke "), F.col("text"), F.lit(" v"), F.col("rep"))
            ).alias("text"),
        )
    )
    t0 = time.time()
    n_surv = incremental_lsh_dedup(
        ibatch, lsh_store, ingest_id="smoke", threshold=0.9
    ).count()
    t["incremental_lsh_batch"] = round(time.time() - t0, 2)
    t["n_incremental_survivors"] = n_surv
    shutil.rmtree(lsh_store, ignore_errors=True)

    # round-6 fourth-session ops at volume --------------------------------

    # binary quantization: train thresholds (one agg), encode 500k
    # vectors to packed 32-bit words, Hamming top-k serve for 8 queries
    from fuserank_spark.pipeline_ext.quantization import (
        bq_encode,
        bq_hamming_topk,
        bq_train,
    )

    t0 = time.time()
    thr = bq_train(bigv, dim=64)
    bq_codes = bq_encode(bigv, thr, keep_vec=False).persist()
    bq_codes.count()
    t["bq_train_encode"] = round(time.time() - t0, 2)
    qrows = emb.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    qbatch = [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in qrows]
    t0 = time.time()
    bq_hamming_topk(bq_codes, thr, qbatch, k=10).write.format("noop").mode(
        "overwrite"
    ).save()
    t["bq_hamming_serve8"] = round(time.time() - t0, 2)
    t0 = time.time()
    bq_hamming_topk(
        bq_codes, thr, qbatch, k=10, refine_with=bigv, refine_factor=8
    ).write.format("noop").mode("overwrite").save()
    t["bq_refined_serve8"] = round(time.time() - t0, 2)
    bq_codes.unpersist()

    # MMR diversification over a first-stage top-200: the candidate
    # gather join is broadcast (8 queries x 200 ids), the greedy loop
    # runs per-query in one applyInPandas pass
    from fuserank_spark.pipeline_ext.simsearch import brute_force_knn, mmr_rerank

    qdf = spark.createDataFrame(
        [(qid, qv) for qid, qv in qbatch], "query_id bigint, qvec array<double>"
    )
    t0 = time.time()
    first = brute_force_knn(bigv, qdf, k=200)
    cands = first.join(bigv, "vec_id").select(
        "query_id", "vec_id", "cosine", "embedding"
    )
    mmr_rerank(cands, k=20, lam=0.5).write.format("noop").mode("overwrite").save()
    t["mmr_rerank_top200"] = round(time.time() - t0, 2)

    # corpus diff at volume: 500k-row side A vs a mutated B (0.1%
    # edits, 0.1% drops, 500 adds) — shuffle carries (key, hash) only
    from fuserank_spark.partitioning import corpus_diff

    side_a = big.select("row_id", "text", "n_chars")
    side_b = (
        side_a.filter(F.col("row_id") % 1000 != 7)
        .withColumn(
            "text",
            F.when(
                F.col("row_id") % 1000 == 3, F.concat(F.col("text"), F.lit(" !"))
            ).otherwise(F.col("text")),
        )
        .unionByName(
            spark.range(500).select(
                (F.col("id") + 900_000_000).alias("row_id"),
                F.lit("added doc").alias("text"),
                F.lit(5).cast("bigint").alias("n_chars"),
            )
        )
    )
    t0 = time.time()
    n_diff = corpus_diff(side_a, side_b, key_cols=["row_id"]).count()
    t["corpus_diff"] = round(time.time() - t0, 2)
    t["n_diff_rows"] = n_diff

    # script profiling over 500k docs: pure regex expressions, narrow
    from fuserank_spark.pipeline_ext.textstats import script_profile

    t0 = time.time()
    script_profile(big.select(F.col("row_id").alias("doc_id"), "text")).write.format(
        "noop"
    ).mode("overwrite").save()
    t["script_profile"] = round(time.time() - t0, 2)

    # unicode normalization over 500k docs: Arrow-batched pandas UDF
    from fuserank_spark.pipeline_ext.curation import normalize_text

    t0 = time.time()
    normalize_text(
        big.select("row_id", "text"), lowercase=True, strip_accents=True
    ).write.format("noop").mode("overwrite").save()
    t["normalize_text"] = round(time.time() - t0, 2)

    # dimension-truncation prefilter over the vector corpus
    from fuserank_spark.pipeline_ext.simsearch import truncated_prefilter_topk

    t0 = time.time()
    truncated_prefilter_topk(
        bigv, qdf, prefix_dim=16, k=10, refine_factor=4
    ).write.format("noop").mode("overwrite").save()
    t["truncated_prefilter8"] = round(time.time() - t0, 2)

    # HTML extraction over 500k synthetic-markup docs: regex chain, narrow
    from fuserank_spark.pipeline_ext.web import extract_html_text

    t0 = time.time()
    html = big.select(
        "row_id",
        F.concat(
            F.lit("<html><body><h1>t</h1><p>"), F.col("text"),
            F.lit("</p><script>var x=1;</script><!-- c --></body></html>"),
        ).alias("html"),
    )
    extract_html_text(html).write.format("noop").mode("overwrite").save()
    t["extract_html_text"] = round(time.time() - t0, 2)

    # perceptual-hash media dedup over 500k payloads: expression dHash
    # + banded-Hamming pair core (replica texts are unique, so this
    # prices the hash+banding machinery, not pair fan-out)
    from fuserank_spark.pipeline_ext.multimodal import attach_payload, phash_hamming_pairs

    t0 = time.time()
    n_ppairs = phash_hamming_pairs(
        attach_payload(big.select(F.col("row_id").alias("doc_id"), "text"))
    ).count()
    t["phash_pairs"] = round(time.time() - t0, 2)
    t["n_phash_pairs"] = n_ppairs

    # cluster-balanced sample over the 500k vector corpus
    from fuserank_spark.pipeline_ext.curation import cluster_balanced_sample

    cb_cents = np.array(
        [r["embedding"] for r in bigv.orderBy("vec_id").limit(8).collect()],
        dtype="float64",
    )
    t0 = time.time()
    cluster_balanced_sample(
        bigv, cb_cents, key_col="vec_id", n_per_cluster=1000,
        prefilter_frac=0.2,
    ).write.format("noop").mode("overwrite").save()
    t["cluster_balanced_sample"] = round(time.time() - t0, 2)

    # frequent-ngram mining at 500k: exact groupBy vs the MG
    # sketch+recount path (identical output, summary-only shuffle)
    from fuserank_spark.pipeline_ext.curation import frequent_ngrams

    # min_doc_count must be HEAVY for the sketch guarantee
    # (budget > N_grams/min_count); 2000/500k docs is the realistic
    # boilerplate regime
    t0 = time.time()
    n_freq_exact = frequent_ngrams(
        big.select(F.col("row_id").alias("doc_id"), "text"), n=3, min_doc_count=2000
    ).count()
    t["frequent_ngrams_exact"] = round(time.time() - t0, 2)
    t0 = time.time()
    n_freq_sketch = frequent_ngrams(
        big.select(F.col("row_id").alias("doc_id"), "text"),
        n=3, min_doc_count=2000, budget=1 << 15,
    ).count()
    t["frequent_ngrams_sketch"] = round(time.time() - t0, 2)
    assert n_freq_exact == n_freq_sketch, (n_freq_exact, n_freq_sketch)
    t["n_frequent_ngrams"] = n_freq_exact

    # winnowing fingerprints + clustering-capped overlap pairs (the
    # 100x-replicated corpus is a pathological mass-dup shape: the
    # TRUE pair set is quadratic in the duplication factor, so the
    # smoke prices the star-degraded clustering configuration)
    from fuserank_spark.pipeline_ext.dedup import winnow_fingerprints, winnow_overlap_pairs

    t0 = time.time()
    t["n_winnow_fps"] = winnow_fingerprints(
        big.select(F.col("row_id").alias("doc_id"), "text")
    ).count()
    t["winnow_fps"] = round(time.time() - t0, 2)
    t0 = time.time()
    t["n_winnow_pairs"] = winnow_overlap_pairs(
        big.select(F.col("row_id").alias("doc_id"), "text"),
        min_shared=8, max_bucket_size=48,
    ).count()
    t["winnow_pairs_star48"] = round(time.time() - t0, 2)

    # PCA projection over the 500k vector corpus (frozen 16-dim map)
    from fuserank_spark.pipeline_ext.quantization import pca_project, train_pca

    pca_mean, pca_comps = train_pca(bigv, dim=64, dim_out=16)
    t0 = time.time()
    pca_project(bigv, pca_mean, pca_comps).write.format("noop").mode("overwrite").save()
    t["pca_project16"] = round(time.time() - t0, 2)

    # compression-ratio quality signal over 500k docs (Arrow UDF)
    from fuserank_spark.pipeline_ext.textstats import compression_ratio

    t0 = time.time()
    compression_ratio(big.select("row_id", "text")).write.format("noop").mode(
        "overwrite"
    ).save()
    t["compression_ratio"] = round(time.time() - t0, 2)

    t["n_rows"] = n
    print(json.dumps(t))


if __name__ == "__main__":
    main()
