"""Structured Streaming path: incremental embed via foreachBatch and
watermarked windowed arrival stats (SURVEY §2.11)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from fuserank_spark.streaming.incremental import (
    arrival_stats_stream,
    incremental_encode,
    read_document_stream,
)

from tests.conftest import SF_SMOKE


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="fuserank_stream_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_incremental_encode_available_now(spark, tmpdir):
    src = f"{tmpdir}/src"
    sink = f"{tmpdir}/sink"
    ck = f"{tmpdir}/ck"
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    docs.limit(120).repartition(3).write.parquet(src)

    stream = read_document_stream(spark, src, max_files=2)
    q = incremental_encode(stream, sink, ck, emb_dim=16)
    q.awaitTermination(120)

    out = spark.read.parquet(sink)
    assert out.count() == 120
    assert "text_emb" in out.columns and "batch_id" in out.columns
    assert out.select(F.size("text_emb").alias("d")).distinct().collect()[0]["d"] == 16
    # idempotent append semantics: re-running with same checkpoint adds nothing
    q2 = incremental_encode(read_document_stream(spark, src), sink, ck, emb_dim=16)
    q2.awaitTermination(60)
    assert spark.read.parquet(sink).count() == 120


def test_compact_encoded_sink(spark, tmpdir):
    """VERDICT r6 missing #4: the PLAIN incremental_encode sink gets
    the same maintenance story as the IVF sink — serve-identical,
    file count strictly reduced, idempotent (mirror of
    test_compact_ivf_index for the non-IVF shape)."""
    from fuserank_spark.streaming.incremental import compact_encoded_sink

    src, sink, ck = f"{tmpdir}/src", f"{tmpdir}/sink", f"{tmpdir}/ck"
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(120)
    docs.repartition(3).write.parquet(src)
    q = incremental_encode(read_document_stream(spark, src, max_files=1), sink, ck, emb_dim=16)
    q.awaitTermination(120)

    snap = f"{tmpdir}/snap"
    report = compact_encoded_sink(
        spark, sink, snap, key_col="doc_id", include_latest_batch=True
    )
    assert report["files_after"] < report["files_before"]
    assert report["n_files"] == 1  # 120 rows, default 500k target
    # serve-identical: every folded row survives byte-for-byte
    before = {
        r["doc_id"]: r["text_emb"]
        for r in spark.read.parquet(sink).select("doc_id", "text_emb").collect()
    }
    after = {
        r["doc_id"]: r["text_emb"]
        for r in spark.read.parquet(snap).select("doc_id", "text_emb").collect()
    }
    assert before == after
    # idempotent: a re-run overwrites with identical content
    report2 = compact_encoded_sink(
        spark, sink, snap, key_col="doc_id", include_latest_batch=True
    )
    assert report2["rows"] == report["rows"]
    assert report2["files_after"] == report["files_after"]
    after2 = {
        r["doc_id"]: r["text_emb"]
        for r in spark.read.parquet(snap).select("doc_id", "text_emb").collect()
    }
    assert after2 == after


def test_compact_encoded_sink_live_delta(spark, tmpdir):
    """Live-stream posture for the plain encode sink: compact with the
    default watermark (newest batch excluded), append MORE batches via
    the same checkpoint, then read_compacted(snapshot, delta_sink)
    must equal the full un-compacted sink row set."""
    from fuserank_spark.streaming.incremental import (
        compact_encoded_sink,
        read_compacted,
    )

    src, sink, ck = f"{tmpdir}/src", f"{tmpdir}/sink", f"{tmpdir}/ck"
    all_docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").limit(120)
    first = all_docs.filter(F.col("doc_id") < 80)
    second = all_docs.filter(F.col("doc_id") >= 80)
    first.repartition(3).write.parquet(src)
    q = incremental_encode(read_document_stream(spark, src, max_files=1), sink, ck, emb_dim=16)
    q.awaitTermination(120)

    snap = f"{tmpdir}/snap"
    report = compact_encoded_sink(spark, sink, snap, key_col="doc_id")
    assert report["max_batch_id"] is not None  # newest batch excluded

    second.repartition(2).write.mode("append").parquet(src)
    q2 = incremental_encode(read_document_stream(spark, src, max_files=1), sink, ck, emb_dim=16)
    q2.awaitTermination(120)

    served = read_compacted(spark, snap, delta_sink=sink)
    full = spark.read.parquet(sink)
    assert served.count() == full.count() == 120
    assert sorted(r["doc_id"] for r in served.select("doc_id").collect()) == sorted(
        r["doc_id"] for r in full.select("doc_id").collect()
    )


def test_sliding_and_session_windows(spark):
    from fuserank_spark.streaming.incremental import (
        session_arrival_stats,
        sliding_arrival_stats,
    )

    docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .withColumn("ts", F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id") * 30))
    )
    n = docs.count()
    slid = sliding_arrival_stats(docs, window_len="10 minutes", slide="5 minutes")
    # every event lands in exactly window/slide = 2 windows
    assert sum(r["n_docs"] for r in slid.collect()) == 2 * n

    # doc_ids of one source are 20 apart → per-source spacing is 10min;
    # a 15min gap keeps each source in one continuous session
    sess = session_arrival_stats(docs, gap="15 minutes").collect()
    per_source = {}
    for r in sess:
        per_source.setdefault(r["source"], 0)
        per_source[r["source"]] += 1
    assert all(v == 1 for v in per_source.values())
    assert sum(r["n_docs"] for r in sess) == n


def test_arrival_stats_batch_equivalence(spark):
    """The windowed-agg plan gives identical results in batch mode —
    the Structured Streaming guarantee the design leans on."""
    docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .withColumn("ts", F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id") * 30))
    )
    out = arrival_stats_stream(docs).orderBy("window_start", "source")
    rows = out.collect()
    assert len(rows) > 0
    total = sum(r["n_docs"] for r in rows)
    assert total == docs.count()


def test_mixture_and_gopher_are_stream_safe(spark, tmpdir):
    """mixture_sample and gopher_features are stateless projections —
    they must run unmodified on a stream and emit exactly the batch
    result (the stream-batch equivalence Structured Streaming
    promises for stateless ops)."""
    from fuserank_spark.pipeline_ext.curation import mixture_sample
    from fuserank_spark.pipeline_ext.textstats import gopher_features
    from fuserank_spark.streaming.incremental import read_document_stream

    src = f"{tmpdir}/src"
    sink = f"{tmpdir}/sink"
    ck = f"{tmpdir}/ck"
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    docs.limit(200).repartition(2).write.parquet(src)
    batch_docs = spark.read.parquet(src)

    def transform(df):
        return gopher_features(
            mixture_sample(df, {"src0": 2.0, "src1": 0.5}, default_rate=1.0)
        ).select("doc_id", "source", "copy_idx", "n_tokens", "gopher_pass")

    stream = transform(read_document_stream(spark, src, max_files=1))
    q = (
        stream.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        (r["doc_id"], r["copy_idx"], r["n_tokens"], r["gopher_pass"])
        for r in spark.read.parquet(sink).collect()
    )
    want = sorted(
        (r["doc_id"], r["copy_idx"], r["n_tokens"], r["gopher_pass"])
        for r in transform(batch_docs).collect()
    )
    assert got == want and len(got) > 0


def test_incremental_ivf_index_parity_and_pruning(spark, tmpdir):
    """Streaming index maintenance: per-batch embed+encode against a
    FROZEN encoder + IVF cell append must produce element-identical
    vectors to one batch encode, and the sink must be readable with
    centroid_id partition pruning across batches."""
    import numpy as np

    from fuserank_spark import schema as S
    from fuserank_spark.embed import embed_corpus
    from fuserank_spark.encode import compute_stats, encode_products
    from fuserank_spark.pipeline_ext.simsearch import ivf_assign
    from fuserank_spark.streaming.incremental import incremental_ivf_index

    src = f"{tmpdir}/src"
    sink = f"{tmpdir}/sink"
    ck = f"{tmpdir}/ck"
    docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .limit(120)
        .withColumn("row_id", F.col("doc_id"))
        .select("row_id", "doc_id", "text", "lang", "n_chars")
    )
    docs.repartition(3).write.parquet(src)

    aux = {"lang": S.SPARSE, "n_chars": S.DENSE}
    # freeze encoder + quantizer from the seed corpus (batch path)
    seed_emb = embed_corpus(docs, {"text": 1.0}, dim=16)
    stats = compute_stats(seed_emb, aux)
    enc, _ = encode_products(seed_emb, aux, stats, num_harmonics=8)
    cents = np.array(
        [
            r["vector"]
            for r in enc.orderBy("row_id").limit(4).select("vector").collect()
        ],
        dtype="float64",
    )

    from pyspark.sql import types as T

    stream_schema = T.StructType(
        [
            T.StructField("row_id", T.LongType()),
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    stream = (
        spark.readStream.schema(stream_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = incremental_ivf_index(
        stream, sink, ck,
        stats=stats, aux_schema=aux, centroids=cents,
        num_harmonics=8, emb_dim=16,
    )
    q.awaitTermination(120)

    out = spark.read.parquet(sink)
    assert out.count() == 120
    assert {"centroid_id", "vector", "row_id"} <= set(out.columns)
    # parity: streamed vectors == batch vectors, element-identical, and
    # the stream's Arrow cells == the expression ivf_assign cells the
    # index build writes with (ip metric, score_round=6)
    batch_assigned = ivf_assign(
        enc, cents, vec_col="vector", metric="ip", score_round=6
    )
    got = {
        r["row_id"]: (r["centroid_id"], tuple(r["vector"]))
        for r in out.select("row_id", "centroid_id", "vector").collect()
    }
    want = {
        r["row_id"]: (r["centroid_id"], tuple(r["vector"]))
        for r in batch_assigned.select("row_id", "centroid_id", "vector").collect()
    }
    assert got == want
    # pruning: a single-cell read returns exactly that cell's rows
    some_cell = next(iter({c for c, _ in got.values()}))
    pruned = out.filter(F.col("centroid_id") == some_cell)
    assert pruned.count() == sum(1 for c, _ in got.values() if c == some_cell)
    # idempotent replay: same checkpoint adds nothing
    q2 = incremental_ivf_index(
        spark.readStream.schema(stream_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        sink, ck,
        stats=stats, aux_schema=aux, centroids=cents,
        num_harmonics=8, emb_dim=16,
    )
    q2.awaitTermination(60)
    assert spark.read.parquet(sink).count() == 120


def test_encoder_drift_report(spark):
    """Dense out-of-range and sparse out-of-vocab fractions against
    frozen stats; in-distribution batch reports zero drift."""
    from fuserank_spark import schema as S
    from fuserank_spark.encode import compute_stats
    from fuserank_spark.streaming.incremental import encoder_drift

    seed = spark.createDataFrame(
        [(i, "en" if i % 2 else "de", float(10 + i)) for i in range(20)],
        "doc_id long, lang string, n_chars double",
    )
    aux = {"lang": S.SPARSE, "n_chars": S.DENSE}
    frozen = compute_stats(seed, aux)

    same = {r["column"]: r for r in encoder_drift(seed, frozen, aux)}
    assert same["lang"]["drift_frac"] == 0.0
    assert same["n_chars"]["drift_frac"] == 0.0

    drifted = spark.createDataFrame(
        [(1, "fr", 500.0), (2, "en", 15.0), (3, None, None), (4, "de", -3.0)],
        "doc_id long, lang string, n_chars double",
    )
    rep = {r["column"]: r for r in encoder_drift(drifted, frozen, aux)}
    assert rep["lang"]["n"] == 3 and rep["lang"]["drift_frac"] == pytest.approx(1 / 3)
    assert rep["n_chars"]["n"] == 3 and rep["n_chars"]["drift_frac"] == pytest.approx(2 / 3)


def test_fused_ivf_serve_from_persisted_files(spark, tmpdir):
    """Cold-start serve: stream-maintained index + saved encoder meta
    are enough to serve a fused query in a fresh context; full probe
    equals exact top-k over the read-back index."""
    import numpy as np

    from fuserank_spark import schema as S
    from fuserank_spark.embed import embed_corpus
    from fuserank_spark.encode import (
        compute_stats,
        encode_products,
        record_text_dim,
        save_encoder_meta,
    )
    from fuserank_spark.flagship import fused_ivf_serve_persisted
    from fuserank_spark.search import topk
    from fuserank_spark.streaming.incremental import incremental_ivf_index
    from pyspark.sql import types as T

    src, sink, ck = f"{tmpdir}/src", f"{tmpdir}/sink", f"{tmpdir}/ck"
    docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .limit(100)
        .withColumn("row_id", F.col("doc_id"))
        .select("row_id", "doc_id", "text", "lang", "source", "n_chars")
    )
    docs.repartition(2).write.parquet(src)

    aux = {"lang": S.SPARSE, "source": S.SPARSE, "n_chars": S.DENSE}
    seed_emb = embed_corpus(docs, {"text": 1.0}, dim=16)
    stats = compute_stats(seed_emb, aux)
    enc, layout = encode_products(seed_emb, aux, stats, num_harmonics=8)
    record_text_dim(layout, 16)
    cents = np.array(
        [r["vector"] for r in enc.orderBy("row_id").limit(4).select("vector").collect()],
        dtype="float64",
    )
    meta = f"{tmpdir}/meta.json"
    save_encoder_meta(
        meta, stats, layout, num_harmonics=8,
        extra={"emb_dim": 16, "centroids": [[float(x) for x in c] for c in cents]},
    )

    schema = T.StructType(
        [
            T.StructField("row_id", T.LongType()),
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    q = incremental_ivf_index(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
        sink, ck, stats=stats, aux_schema=aux, centroids=cents,
        num_harmonics=8, emb_dim=16,
    )
    q.awaitTermination(120)

    hits = fused_ivf_serve_persisted(
        spark, sink, meta, k=5, nprobe=4,
        aux_data={"lang": ((["en"], False), 2.0), "source": (None, 1.0),
                  "n_chars": ((100.0, 300.0, False), 1.5)},
    ).collect()
    assert len(hits) == 5
    # full probe == exact over the read-back index (same query vector)
    from fuserank_spark.embed import DeterministicStubEmbedder
    from fuserank_spark.query import compile_query
    from fuserank_spark.flagship import AUX_SCHEMA

    cq = compile_query(
        "spark join filter vector search",
        {"lang": ((["en"], False), 2.0), "source": (None, 1.0),
         "n_chars": ((100.0, 300.0, False), 1.5)},
        AUX_SCHEMA, stats, layout,
        text_embedder=DeterministicStubEmbedder(16), num_harmonics=8,
    )
    exact = [r["row_id"] for r in topk(spark.read.parquet(sink), cq.vector, k=5).collect()]
    assert [r["row_id"] for r in hits] == exact


def test_compact_ivf_index(spark, tmpdir):
    """Compaction rewrites the micro-batch file accretion into ≤
    files_per_cell part files per centroid dir, serve-identical and
    idempotent (VERDICT r5 next-round #3)."""
    import numpy as np

    from fuserank_spark import schema as S
    from fuserank_spark.embed import embed_corpus
    from fuserank_spark.encode import (
        compute_stats,
        encode_products,
        record_text_dim,
        save_encoder_meta,
    )
    from fuserank_spark.flagship import fused_ivf_serve_persisted
    from fuserank_spark.streaming.incremental import compact_ivf_index, incremental_ivf_index
    from pyspark.sql import types as T

    src, sink, ck = f"{tmpdir}/src", f"{tmpdir}/sink", f"{tmpdir}/ck"
    docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .limit(90)
        .withColumn("row_id", F.col("doc_id"))
        .select("row_id", "doc_id", "text", "lang", "source", "n_chars")
    )
    docs.repartition(3).write.parquet(src)

    aux = {"lang": S.SPARSE, "source": S.SPARSE, "n_chars": S.DENSE}
    seed_emb = embed_corpus(docs, {"text": 1.0}, dim=16)
    stats = compute_stats(seed_emb, aux)
    enc, layout = encode_products(seed_emb, aux, stats, num_harmonics=8)
    record_text_dim(layout, 16)
    cents = np.array(
        [r["vector"] for r in enc.orderBy("row_id").limit(4).select("vector").collect()],
        dtype="float64",
    )
    meta = f"{tmpdir}/meta.json"
    save_encoder_meta(
        meta, stats, layout, num_harmonics=8,
        extra={"emb_dim": 16, "centroids": [[float(x) for x in c] for c in cents]},
    )
    schema = T.StructType(
        [
            T.StructField("row_id", T.LongType()),
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    q = incremental_ivf_index(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
        sink, ck, stats=stats, aux_schema=aux, centroids=cents,
        num_harmonics=8, emb_dim=16,
    )
    q.awaitTermination(120)

    aux_data = {"lang": ((["en"], False), 2.0), "source": (None, 1.0),
                "n_chars": ((100.0, 300.0, False), 1.5)}
    before = [
        (r["row_id"], r["relevance"])
        for r in fused_ivf_serve_persisted(
            spark, sink, meta, k=5, nprobe=4, aux_data=aux_data
        ).select("row_id", F.round("relevance", 6).alias("relevance")).collect()
    ]

    compacted = f"{tmpdir}/compacted"
    # the stream is finished (availableNow terminated) → fold everything
    report = compact_ivf_index(spark, sink, compacted, include_latest_batch=True)
    # micro-batch accretion collapsed: bounded per-cell file count
    assert report["rows"] == 90
    assert report["files_per_cell"] == 1
    assert report["files_after"] <= report["n_cells"] * report["files_per_cell"]
    assert report["files_after"] < report["files_before"]
    # row set untouched, batch_id provenance dropped
    out = spark.read.parquet(compacted)
    assert "batch_id" not in out.columns
    assert sorted(r["row_id"] for r in out.select("row_id").collect()) == sorted(
        r["row_id"] for r in spark.read.parquet(sink).select("row_id").collect()
    )
    # serve-identical from the compacted snapshot
    after = [
        (r["row_id"], r["relevance"])
        for r in fused_ivf_serve_persisted(
            spark, compacted, meta, k=5, nprobe=4, aux_data=aux_data
        ).select("row_id", F.round("relevance", 6).alias("relevance")).collect()
    ]
    assert after == before
    # idempotent: re-run overwrites with identical content
    report2 = compact_ivf_index(spark, sink, compacted, include_latest_batch=True)
    assert report2["files_after"] == report["files_after"]
    again = [
        (r["row_id"], r["relevance"])
        for r in fused_ivf_serve_persisted(
            spark, compacted, meta, k=5, nprobe=4, aux_data=aux_data
        ).select("row_id", F.round("relevance", 6).alias("relevance")).collect()
    ]
    assert again == before


def test_compact_with_live_delta(spark, tmpdir):
    """Compaction under a LIVE stream: compact the first batches into
    a snapshot, let the checkpointed stream append MORE batches to the
    original sink, then serve over snapshot ∪ post-watermark delta —
    results must equal serving over the full un-compacted sink."""
    import numpy as np

    from fuserank_spark import schema as S
    from fuserank_spark.embed import embed_corpus
    from fuserank_spark.encode import (
        compute_stats,
        encode_products,
        record_text_dim,
        save_encoder_meta,
    )
    from fuserank_spark.flagship import fused_ivf_serve_persisted
    from fuserank_spark.streaming.incremental import (
        compact_ivf_index,
        incremental_ivf_index,
        read_ivf_index,
    )
    from pyspark.sql import types as T

    src, sink, ck = f"{tmpdir}/src", f"{tmpdir}/sink", f"{tmpdir}/ck"
    all_docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .limit(120)
        .withColumn("row_id", F.col("doc_id"))
        .select("row_id", "doc_id", "text", "lang", "source", "n_chars")
    )
    first, second = (
        all_docs.filter(F.col("row_id") < 80),
        all_docs.filter(F.col("row_id") >= 80),
    )
    first.repartition(2).write.parquet(src)

    aux = {"lang": S.SPARSE, "source": S.SPARSE, "n_chars": S.DENSE}
    # freeze the encoder on the FULL corpus so late batches need no re-fit
    seed_emb = embed_corpus(all_docs, {"text": 1.0}, dim=16)
    stats = compute_stats(seed_emb, aux)
    enc, layout = encode_products(seed_emb, aux, stats, num_harmonics=8)
    record_text_dim(layout, 16)
    cents = np.array(
        [r["vector"] for r in enc.orderBy("row_id").limit(4).select("vector").collect()],
        dtype="float64",
    )
    meta = f"{tmpdir}/meta.json"
    save_encoder_meta(
        meta, stats, layout, num_harmonics=8,
        extra={"emb_dim": 16, "centroids": [[float(x) for x in c] for c in cents]},
    )
    schema = T.StructType(
        [
            T.StructField("row_id", T.LongType()),
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )

    def run_stream():
        q = incremental_ivf_index(
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src),
            sink, ck, stats=stats, aux_schema=aux, centroids=cents,
            num_harmonics=8, emb_dim=16,
        )
        q.awaitTermination(120)

    run_stream()  # first batches land in the sink
    snapshot = f"{tmpdir}/snapshot"
    report = compact_ivf_index(spark, sink, snapshot)
    assert report["max_batch_id"] is not None

    # the live stream appends more batches to the ORIGINAL sink
    second.repartition(1).write.mode("append").parquet(src)
    run_stream()

    combined = read_ivf_index(spark, snapshot, delta_sink=sink)
    full = spark.read.parquet(sink)
    assert combined.count() == full.count() == 120
    assert sorted(r["row_id"] for r in combined.select("row_id").collect()) == sorted(
        r["row_id"] for r in full.select("row_id").collect()
    )

    aux_data = {"lang": ((["en"], False), 2.0), "source": (None, 1.0),
                "n_chars": ((100.0, 300.0, False), 1.5)}
    served_delta = [
        (r["row_id"], r["relevance"])
        for r in fused_ivf_serve_persisted(
            spark, snapshot, meta, k=5, nprobe=4, aux_data=aux_data,
            delta_sink=sink,
        ).select("row_id", F.round("relevance", 6).alias("relevance")).collect()
    ]
    served_full = [
        (r["row_id"], r["relevance"])
        for r in fused_ivf_serve_persisted(
            spark, sink, meta, k=5, nprobe=4, aux_data=aux_data
        ).select("row_id", F.round("relevance", 6).alias("relevance")).collect()
    ]
    assert served_delta == served_full

    # the delta read prunes already-compacted batches at the PARTITION
    # level (batch_id is a partition column of the sink) — compacted
    # micro-batch files are never opened again
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        spark.read.parquet(sink).filter(
            F.col("batch_id") > int(report["max_batch_id"])
        ).explain(mode="formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    assert "batch_id" in plan.split("PartitionFilters")[1].split("]")[0]

    # no watermark → delta read must refuse rather than double-count
    bare = f"{tmpdir}/bare"
    spark.read.parquet(snapshot).write.parquet(bare)
    with pytest.raises(ValueError, match="watermark"):
        read_ivf_index(spark, bare, delta_sink=sink)


def test_compact_guards_and_rows_hint(spark, tmpdir):
    """Non-IVF input refuses; a rows hint skips the sizing count but
    produces the same layout."""
    from fuserank_spark.streaming.incremental import compact_ivf_index

    plain = f"{tmpdir}/plain"
    spark.range(10).write.parquet(plain)
    with pytest.raises(ValueError, match="centroid_id"):
        compact_ivf_index(spark, plain, f"{tmpdir}/out0")

    idx = f"{tmpdir}/idx"
    (
        spark.range(100)
        .select(
            F.col("id").alias("row_id"),
            (F.col("id") % 4).cast("int").alias("centroid_id"),
            F.lit(1.0).alias("x"),
        )
        .write.partitionBy("centroid_id")
        .parquet(idx)
    )
    r1 = compact_ivf_index(spark, idx, f"{tmpdir}/out1")
    r2 = compact_ivf_index(spark, idx, f"{tmpdir}/out2", rows=100)
    assert r1["files_per_cell"] == r2["files_per_cell"] == 1
    assert r1["rows"] == r2["rows"] == 100
    a = sorted(map(tuple, spark.read.parquet(f"{tmpdir}/out1").collect()))
    b = sorted(map(tuple, spark.read.parquet(f"{tmpdir}/out2").collect()))
    assert a == b


def test_encoder_drift_all_null_frozen_column(spark):
    """Frozen stats fit on an all-NULL dense column: real values in a
    new batch count as fully drifted instead of crashing."""
    from fuserank_spark import schema as S
    from fuserank_spark.encode import compute_stats
    from fuserank_spark.streaming.incremental import encoder_drift

    seed = spark.createDataFrame(
        [(1, None), (2, None)], "doc_id long, x double"
    )
    aux = {"x": S.DENSE}
    frozen = compute_stats(seed, aux)
    batch = spark.createDataFrame([(3, 5.0), (4, None)], "doc_id long, x double")
    rep = {r["column"]: r for r in encoder_drift(batch, frozen, aux)}
    assert rep["x"]["n"] == 1 and rep["x"]["drift_frac"] == 1.0


def test_persisted_serve_nonflagship_schema(spark, tmpdir):
    """The cold-start serve derives the aux schema FROM THE META —
    an index frozen with a 2-column encoder (no 'source') must serve
    without touching the flagship schema constant."""
    import numpy as np

    from fuserank_spark import schema as S
    from fuserank_spark.embed import embed_corpus
    from fuserank_spark.encode import (
        compute_stats,
        encode_products,
        record_text_dim,
        save_encoder_meta,
    )
    from fuserank_spark.flagship import fused_ivf_serve_persisted
    from fuserank_spark.pipeline_ext.simsearch import ivf_assign

    docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .limit(80)
        .withColumn("row_id", F.col("doc_id"))
        .select("row_id", "text", "lang", "n_chars")
    )
    aux = {"lang": S.SPARSE, "n_chars": S.DENSE}
    emb = embed_corpus(docs, {"text": 1.0}, dim=16)
    stats = compute_stats(emb, aux)
    enc, layout = encode_products(emb, aux, stats, num_harmonics=8)
    record_text_dim(layout, 16)
    cents = np.array(
        [r["vector"] for r in enc.orderBy("row_id").limit(4).select("vector").collect()],
        dtype="float64",
    )
    assigned = ivf_assign(enc, cents, vec_col="vector", metric="ip", score_round=6)
    idx = f"{tmpdir}/idx"
    assigned.drop("text", "text_emb").write.partitionBy("centroid_id").parquet(idx)
    meta = f"{tmpdir}/meta.json"
    save_encoder_meta(
        meta, stats, layout, num_harmonics=8,
        extra={"emb_dim": 16, "centroids": [[float(x) for x in c] for c in cents]},
    )
    hits = fused_ivf_serve_persisted(spark, idx, meta, k=5, nprobe=4).collect()
    assert len(hits) == 5
    # default aux_data = no filters: ranking is pure text relevance
    assert all(r["relevance"] is not None for r in hits)


def test_footer_sizing_matches_aggregation_sizing(spark, tmpdir):
    """r13: compaction sizing now comes from directory names + parquet
    footers (zero data scans — the rewrite is the only scan left).
    Pin that the metadata-derived (watermark, rows, n_cells) equals
    what the replaced aggregation jobs computed, including the
    exclude-newest-batch watermark rule and the null-partition and
    single-batch edges."""
    from fuserank_spark.streaming.incremental import (
        _sink_footer_stats,
        _sizing_from_footers,
    )

    sink = f"{tmpdir}/sink"
    docs = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .limit(60)
        .select("doc_id", "text")
    )
    # three "micro-batches" in the sink layout the streaming writers
    # produce: batch_id= dirs, centroid_id= subdirs (one null cell)
    for b in range(3):
        (
            docs.filter(F.col("doc_id") % 3 == b)
            .withColumn(
                "centroid_id",
                F.when(F.col("doc_id") % 7 == 0, F.lit(None)).otherwise(
                    (F.col("doc_id") % 4).cast("int")
                ),
            )
            .write.mode("overwrite")
            .partitionBy("centroid_id")
            .parquet(f"{sink}/batch_id={b}")
        )

    def check_sizing():
        df = spark.read.parquet(sink)
        for include_latest in (True, False):
            sized = _sizing_from_footers(_sink_footer_stats(sink), include_latest)
            assert sized is not None
            watermark, rows, n_cells = sized
            want_wm = 2 if include_latest else 1
            folded = df.filter(F.col("batch_id") <= want_wm)
            agg = folded.agg(
                F.countDistinct("centroid_id").alias("c"),
                F.count(F.lit(1)).alias("n"),
            ).collect()[0]
            assert watermark == want_wm
            assert rows == int(agg["n"])
            assert n_cells == int(agg["c"])

    check_sizing()

    # a newest batch of zero-row files moves neither the watermark nor
    # the sizing: the aggregation path takes max(batch_id) over rows
    import pyarrow as pa
    import pyarrow.parquet as pq

    def write_empty_batch(root, b):
        os.makedirs(f"{root}/batch_id={b}/centroid_id=1")
        empty = pa.table(
            {"doc_id": pa.array([], pa.int64()), "text": pa.array([], pa.string())}
        )
        pq.write_table(empty, f"{root}/batch_id={b}/centroid_id=1/part-00000.parquet")

    write_empty_batch(sink, 3)
    check_sizing()

    # single-batch sink: same nothing-safely-compactable error as the
    # aggregation path
    solo = f"{tmpdir}/solo"
    docs.withColumn("centroid_id", (F.col("doc_id") % 2).cast("int")).write.partitionBy(
        "centroid_id"
    ).parquet(f"{solo}/batch_id=0")
    with pytest.raises(ValueError, match="in-flight"):
        _sizing_from_footers(_sink_footer_stats(solo), False)
    wm0, rows0, cells0 = _sizing_from_footers(_sink_footer_stats(solo), True)
    assert (wm0, rows0, cells0) == (0, 60, 2)
    # ... and a zero-row batch after it keeps that one-batch error
    write_empty_batch(solo, 1)
    with pytest.raises(ValueError, match="in-flight"):
        _sizing_from_footers(_sink_footer_stats(solo), False)

    # non-partitioned sink (no provenance): watermark None, plain count
    flat = f"{tmpdir}/flat"
    docs.write.parquet(flat)
    wmf, rowsf, cellsf = _sizing_from_footers(_sink_footer_stats(flat), False)
    assert (wmf, rowsf, cellsf) == (None, 60, None)

    # non-local URI refuses (callers fall back to the scan path)
    assert _sink_footer_stats("s3://bucket/sink") is None
