"""Incremental corpus pipeline on Structured Streaming.

Design (SURVEY §2.11): the corpus grows by appended parquet files (or
a Kafka feed in production — same plan after ``readStream``). Each
micro-batch runs the SAME batch stages (embed_corpus → encode) via
``foreachBatch``, appending to the encoded-corpus table; windowed
aggregations with watermarks track arrival stats; the fused search
always reads the latest encoded snapshot.

At scale: foreachBatch keeps stage outputs as idempotent parquet
appends partitioned by batch window — replays are safe, state is
bounded by the watermark, and the encode stage parallelism equals
the micro-batch's partitioning (no extra shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def read_document_stream(
    spark: SparkSession, path: str, schema: T.StructType = DOCS_SCHEMA, max_files: int = 4
) -> DataFrame:
    """File-source stream over a document directory; bounded files
    per trigger keeps micro-batches executor-memory-sized."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )


def incremental_encode(
    stream: DataFrame,
    sink_path: str,
    checkpoint_path: str,
    text_encoding_schema: dict[str, float] | None = None,
    emb_dim: int = 64,
    available_now: bool = True,
):
    """foreachBatch: run the batch embed stage per micro-batch and
    append to the encoded-corpus parquet (S2/S3 cache posture —
    idempotent stage output keyed by batch id). Small-files
    maintenance: :func:`compact_encoded_sink` periodically, serving
    through :func:`read_compacted` meanwhile."""
    from ..embed import embed_corpus

    schema = text_encoding_schema or {"text": 1.0}

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        out = embed_corpus(batch_df, schema, dim=emb_dim)
        # foreachBatch is at-least-once: a crash between write and
        # checkpoint commit replays the batch. Writing each batch to
        # its own partition directory with overwrite makes the replay
        # idempotent (the re-run replaces, never duplicates).
        out.write.mode("overwrite").parquet(f"{sink_path}/batch_id={batch_id}")

    writer = stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint_path
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def incremental_ivf_index(
    stream: DataFrame,
    sink_path: str,
    checkpoint_path: str,
    *,
    stats,
    aux_schema: dict,
    centroids,
    num_harmonics: int = 64,
    emb_dim: int = 64,
    text_encoding_schema: dict[str, float] | None = None,
    metric: str = "ip",
    available_now: bool = True,
):
    """Streaming INDEX MAINTENANCE (r5): each micro-batch runs the
    full batch pipeline — embed → encode_products against a FROZEN
    CorpusStats/quantizer — then IVF-assigns the fused vectors and
    appends parquet partitioned by ``centroid_id``. A fused-IVF query
    (flagship.fused_ivf_parts posture) over the sink then partition-
    prunes to its probed cells across ALL batches, so the serve cost
    stays nprobe/n_cells of the corpus as the corpus grows.

    Frozen-encoder semantics: stats (min/max, vocab) and centroids
    come from a seed corpus and do NOT update per batch — the only
    posture that keeps historical vectors comparable to new ones.
    Out-of-vocab categoricals one-hot to zeros; out-of-range dense
    values extrapolate beyond ±(1−ε). Re-fit stats + re-encode when
    drift accumulates (a batch rebuild, not a streaming concern).

    Idempotency: same per-batch overwrite pattern as
    :func:`incremental_encode` — a replayed batch replaces its own
    ``batch_id=`` directory (each with its centroid_id= partition
    subdirs), never duplicates.

    Cells come from the Arrow assignment (simsearch.ivf_assign_arrow,
    score_round=6): on 250-row micro-batches over 8 cells it ran each
    batch faster than the expression ivf_assign in every one of 10
    alternating pairs (CHANGES.md). It lands every row in the cell
    flagship.build_fused_ivf_index's expression assignment gives it
    (parity-pinned in tests/test_streaming.py; the decimal
    half-boundary caveat in ivf_assign_arrow's docstring applies)."""
    from ..embed import embed_corpus
    from ..encode import encode_products
    from ..pipeline_ext.simsearch import ivf_assign_arrow

    tschema = text_encoding_schema or {"text": 1.0}

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        emb = embed_corpus(batch_df, tschema, dim=emb_dim)
        enc, _layout = encode_products(
            emb, aux_schema, stats, num_harmonics=num_harmonics
        )
        # mapInArrow blocks column pruning: drop the text and its
        # embedding before the scan, not after it
        assigned = ivf_assign_arrow(
            enc.drop(*tschema.keys(), "text_emb"),
            centroids, vec_col="vector", metric=metric, score_round=6,
        )
        assigned.write.mode("overwrite").partitionBy("centroid_id").parquet(
            f"{sink_path}/batch_id={batch_id}"
        )

    writer = stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint_path
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_ivf_index(
    spark: SparkSession,
    index_path: str,
    out_path: str,
    *,
    target_rows_per_file: int = 500_000,
    rows: int | None = None,
    key_col: str = "row_id",
    include_latest_batch: bool = False,
) -> dict:
    """Maintenance compaction for a stream-maintained IVF index
    (VERDICT r5 next-round #3): :func:`incremental_ivf_index` appends
    one parquet file set per micro-batch per centroid partition —
    with small trigger intervals that accretes unboundedly many small
    files, and at 100 TB the per-file open/footer cost starts to
    dominate the probe scan. This job rewrites the accumulated index
    into ``out_path`` partitioned by ``centroid_id`` only, with at
    most ``ceil(rows / n_cells / target_rows_per_file)`` files per
    cell (the layout_corpus sizing rule applied per partition).

    Mechanics: each row gets a deterministic file slot
    ``pmod(key, files_per_cell)``; one hash repartition on
    (centroid_id, slot) co-locates every (cell, slot) group on a
    single task, so each cell directory receives ≤ files_per_cell
    part files (task collisions can only merge slots, never split
    them). The micro-batch provenance column (``batch_id``) is
    dropped — post-compaction the snapshot is the unit of
    maintenance.

    Serve-identical and idempotent: the folded row set is untouched,
    so ``fused_ivf_serve_persisted`` over snapshot (+ delta) returns
    exactly the pre-compaction results (pinned by
    tests/test_streaming.py::test_compact_ivf_index /
    test_compact_with_live_delta); re-running overwrites ``out_path``
    with identical content. Publish by atomically swapping the serve
    pointer (or directory rename) to ``out_path`` — never compact in
    place over a path a live stream is appending to. Pass ``rows``
    (count of the FOLDED batches, e.g. from streaming-progress
    numInputRows totals) to skip the sizing count job.

    Live-stream safety: foreachBatch commits a micro-batch's parquet
    files non-atomically, and the batch that can be mid-commit (or
    mid-replay after a crash) is always the one with the HIGHEST id —
    batches run sequentially, and an at-least-once replay re-runs
    that same highest id. By default the newest batch is therefore
    EXCLUDED from the snapshot (watermark = max_batch_id − 1) so a
    partially-visible batch can never be half-folded with the
    watermark set past it; the delta read serves it from the sink
    instead. Pass ``include_latest_batch=True`` only when the stream
    is known stopped/quiesced (folds everything)."""
    df = spark.read.parquet(index_path)
    if "centroid_id" not in df.columns:
        raise ValueError(f"{index_path} is not an IVF index (no centroid_id)")
    # sizing from the file index + parquet footers (guide §6): the
    # watermark, the row count and the cell census are all metadata —
    # r12 ran TWO full data scans (max(batch_id) + the sizing agg)
    # before the rewrite scan; footer sizing leaves the rewrite as the
    # only scan. Falls back to the original aggregation jobs whenever
    # the listing cannot prove the layout (non-local URI, batch_id /
    # centroid_id as data columns rather than partition directories).
    footer = _sizing_from_footers(
        _sink_footer_stats(index_path), include_latest_batch
    )
    use_footer = (
        footer is not None
        and footer[2] is not None  # centroid census proven from dirs
        and (footer[0] is not None) == ("batch_id" in df.columns)
    )
    if use_footer:
        watermark, f_rows, n_cells = footer
        if watermark is not None:
            df = df.filter(F.col("batch_id") <= watermark).drop("batch_id")
        if rows is None:
            rows = f_rows
    else:
        df, watermark = _fold_batches(df, index_path, include_latest_batch)
        # one sizing scan over the folded subset: n_cells + row count
        sizing = df.agg(
            F.countDistinct("centroid_id").alias("c"),
            F.count(F.lit(1)).alias("n"),
        ).collect()[0]
        n_cells = int(sizing["c"])
        if rows is None:
            rows = int(sizing["n"])
    if n_cells == 0:
        raise ValueError(f"{index_path} is empty")
    files_per_cell = max(1, -(-int(rows) // (n_cells * target_rows_per_file)))
    # pmod alone (no abs): abs(hash) overflows on Integer.MIN_VALUE under
    # ANSI mode — a 1-in-2^32-per-row crash that WILL fire at 100 TB
    slot = F.pmod(F.hash(F.col(key_col)), F.lit(files_per_cell))
    (
        df.withColumn("__slot", slot)
        .repartition(n_cells * files_per_cell, "centroid_id", "__slot")
        .drop("__slot")
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(out_path)
    )
    report = {
        "rows": int(rows),
        "n_cells": n_cells,
        "files_per_cell": files_per_cell,
        "max_batch_id": watermark,
        "files_before": _count_part_files(index_path),
        "files_after": _count_part_files(out_path),
    }
    _write_compaction_marker(spark, out_path, report)
    return report


def _sink_footer_stats(path: str) -> list[tuple[dict, int]] | None:
    """Per-file (partition_values, num_rows) for a LOCAL parquet sink,
    read from directory names + parquet FOOTERS — zero data scans
    (guide §6: the sizing facts a compaction needs are already in the
    file index). Returns None (callers fall back to aggregation jobs)
    for non-local URIs, a missing directory, or an unreadable footer —
    footer sizing is an optimization, never a correctness dependency.

    Partition values come from ``key=value`` directory segments
    (``__HIVE_DEFAULT_PARTITION__`` → None, matching how the reader
    surfaces a null partition value)."""
    import os as _os

    if "://" in path and not path.startswith("file://"):
        return None
    root = path[len("file://"):] if path.startswith("file://") else path
    if not _os.path.isdir(root):
        return None
    try:
        import pyarrow.parquet as _pq
    except ImportError:  # pragma: no cover — pyarrow ships with pyspark
        return None
    out: list[tuple[dict, int]] = []
    for dirpath, _subdirs, files in _os.walk(root):
        parts: dict = {}
        rel = _os.path.relpath(dirpath, root)
        if rel != ".":
            for seg in rel.split(_os.sep):
                if "=" in seg:
                    k, v = seg.split("=", 1)
                    parts[k] = None if v == "__HIVE_DEFAULT_PARTITION__" else v
        for f in files:
            if f.startswith((".", "_")) or not (
                f.startswith("part-") or f.endswith(".parquet")
            ):
                continue
            try:
                nr = _pq.read_metadata(_os.path.join(dirpath, f)).num_rows
            except Exception:
                return None
            out.append((parts, int(nr)))
    return out


def _sizing_from_footers(
    stats: list[tuple[dict, int]] | None, include_latest_batch: bool
):
    """Derive (watermark, rows, n_cells) from footer stats, or None
    when the listing cannot prove the sink's layout (no files, mixed
    provenance). ``n_cells`` counts centroid_id partitions with at
    least one folded row and a non-null id — identical semantics to
    ``countDistinct(centroid_id)`` over the folded frame. ``n_cells``
    is None when the sink carries no centroid partitions. Raises the
    same nothing-safely-compactable error as :func:`_fold_batches` so
    callers behave identically on a one-batch sink."""
    if not stats:
        return None
    has_batch = [("batch_id" in p) for p, _ in stats]
    if any(has_batch) and not all(has_batch):
        return None  # mixed provenance — let the frame-based path decide
    watermark = None
    if all(has_batch):
        try:
            batch_ids = [int(p["batch_id"]) for p, _ in stats]
        except (TypeError, ValueError):
            return None
        # the newest batch holding DATA rows, as _fold_batches'
        # max(batch_id) over the folded frame: zero-row files add none
        filled = [b for b, (_, nr) in zip(batch_ids, stats) if nr > 0]
        if not filled:
            return None  # no rows at all — the frame path raises "empty"
        max_b = max(filled)
        watermark = max_b if include_latest_batch else max_b - 1
        if watermark < 0:
            raise ValueError(
                "only one (possibly in-flight) micro-batch present — nothing "
                "safely compactable; pass include_latest_batch=True if the "
                "stream is stopped"
            )
        stats = [
            (p, nr) for (p, nr), b in zip(stats, batch_ids) if b <= watermark
        ]
    rows = sum(nr for _, nr in stats)
    n_cells = None
    if stats and all("centroid_id" in p for p, _ in stats):
        by_cell: dict = {}
        for p, nr in stats:
            if p["centroid_id"] is not None:
                by_cell[p["centroid_id"]] = by_cell.get(p["centroid_id"], 0) + nr
        n_cells = sum(1 for v in by_cell.values() if v > 0)
    return watermark, rows, n_cells


def _fold_batches(df: DataFrame, path: str, include_latest_batch: bool):
    """Shared compaction watermark rule: fold every micro-batch except
    (by default) the HIGHEST batch_id — the only one that can be
    mid-commit or mid-replay under a live at-least-once stream (see
    :func:`compact_ivf_index`'s live-stream-safety note). Returns the
    folded frame (batch_id dropped) and the watermark, or (df, None)
    when the sink carries no batch provenance."""
    if "batch_id" not in df.columns:
        return df, None
    max_b = df.agg(F.max("batch_id")).collect()[0][0]
    if max_b is None:
        raise ValueError(f"{path} is empty")
    watermark = int(max_b) if include_latest_batch else int(max_b) - 1
    if watermark < 0:
        raise ValueError(
            "only one (possibly in-flight) micro-batch present — nothing "
            "safely compactable; pass include_latest_batch=True if the "
            "stream is stopped"
        )
    return df.filter(F.col("batch_id") <= watermark).drop("batch_id"), watermark


def compact_encoded_sink(
    spark: SparkSession,
    sink_path: str,
    out_path: str,
    *,
    target_rows_per_file: int = 500_000,
    rows: int | None = None,
    key_col: str = "row_id",
    include_latest_batch: bool = False,
) -> dict:
    """Compaction for the PLAIN :func:`incremental_encode` sink
    (VERDICT r6 missing #4): its per-micro-batch parquet appends
    accrete the same small-files shape as the IVF sink, just without
    centroid partitions. Same watermark/marker pattern as
    :func:`compact_ivf_index` — fold every batch except the possibly
    in-flight highest id, rewrite into ≤ ceil(rows /
    target_rows_per_file) part files via deterministic
    ``pmod(hash(key), n_files)`` slots, leave a ``_compaction.json``
    watermark so :func:`read_compacted` can union the post-watermark
    delta under a live stream. Serve-identical (row set untouched) and
    idempotent (re-run overwrites with identical content)."""
    df = spark.read.parquet(sink_path)
    # footer sizing first (see compact_ivf_index) — the count and the
    # watermark are metadata; the rewrite below is then the only scan
    footer = _sizing_from_footers(
        _sink_footer_stats(sink_path), include_latest_batch
    )
    if footer is not None and (footer[0] is not None) == (
        "batch_id" in df.columns
    ):
        watermark, f_rows, _cells = footer
        if watermark is not None:
            df = df.filter(F.col("batch_id") <= watermark).drop("batch_id")
        if rows is None:
            rows = f_rows
    else:
        df, watermark = _fold_batches(df, sink_path, include_latest_batch)
        if rows is None:
            rows = df.count()
    if rows == 0:
        raise ValueError(f"{sink_path} is empty")
    n_files = max(1, -(-int(rows) // target_rows_per_file))
    # pmod alone (no abs): abs(hash) overflows on Integer.MIN_VALUE
    # under ANSI mode (CLAUDE.md hashing corollary)
    slot = F.pmod(F.hash(F.col(key_col)), F.lit(n_files))
    (
        df.withColumn("__slot", slot)
        .repartition(n_files, "__slot")
        .drop("__slot")
        .write.mode("overwrite")
        .parquet(out_path)
    )
    report = {
        "rows": int(rows),
        "n_files": n_files,
        "max_batch_id": watermark,
        "files_before": _count_part_files(sink_path),
        "files_after": _count_part_files(out_path),
    }
    _write_compaction_marker(spark, out_path, report)
    return report


_COMPACTION_MARKER = "_compaction.json"


def _write_compaction_marker(spark: SparkSession, out_path: str, report: dict) -> None:
    """Persist the compaction watermark inside the snapshot directory
    (underscore-prefixed ⇒ invisible to parquet readers) via the
    Hadoop FS API, so it lands on whatever store holds the index."""
    import json

    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(f"{out_path}/{_COMPACTION_MARKER}")
    fs = path.getFileSystem(hconf)
    out = fs.create(path, True)
    out.write(bytearray(json.dumps(report).encode()))
    out.close()


def read_compaction_marker(spark: SparkSession, compacted_path: str) -> dict | None:
    """Read the `_compaction.json` watermark a compaction run left in
    the snapshot directory; None when absent."""
    import json

    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(f"{compacted_path}/{_COMPACTION_MARKER}")
    fs = path.getFileSystem(hconf)
    if not fs.exists(path):
        return None
    stream = fs.open(path)
    try:
        data = bytes(
            jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        )
    finally:
        stream.close()
    return json.loads(data.decode())


def read_compacted(
    spark: SparkSession, compacted_path: str, delta_sink: str | None = None
) -> DataFrame:
    """The serve-side read for a compacted sink under a LIVE stream:
    the compacted snapshot plus only the micro-batches the stream
    appended AFTER the compaction watermark (``batch_id >
    max_batch_id`` — a partition filter on the sink, so already-
    compacted batches are never re-read). This is how compaction and
    a running stream coexist without a stop-the-world swap: compact
    sink→snapshot, point serves at ``read_compacted(snapshot,
    delta_sink=sink)``, and the next compaction run folds the delta
    in. Works for both the IVF sink (:func:`compact_ivf_index`) and
    the plain encode sink (:func:`compact_encoded_sink`) — the
    mechanics are batch-provenance-only. Row set == the full sink
    (pinned by tests/test_streaming.py::test_compact_with_live_delta
    and test_compact_encoded_sink_live_delta)."""
    df = spark.read.parquet(compacted_path)
    if delta_sink is None:
        return df
    marker = read_compaction_marker(spark, compacted_path)
    if marker is None or marker.get("max_batch_id") is None:
        raise ValueError(
            f"{compacted_path} has no compaction watermark — cannot bound the delta"
        )
    delta = (
        spark.read.parquet(delta_sink)
        .filter(F.col("batch_id") > int(marker["max_batch_id"]))
        .drop("batch_id")
    )
    return df.unionByName(delta)


# the IVF-named alias predates the generalization; kept for callers
read_ivf_index = read_compacted


def _count_part_files(path: str) -> int | None:
    """Part-file census for local paths (the test/report surface);
    returns None for non-local URIs (count via your store's listing)."""
    import os

    if "://" in path and not path.startswith("file://"):
        return None
    root = path[len("file://"):] if path.startswith("file://") else path
    n = 0
    for _dir, _subdirs, files in os.walk(root):
        n += sum(1 for f in files if f.startswith("part-"))
    return n


def encoder_drift(
    batch: DataFrame, frozen, aux_schema: dict
) -> list[dict]:
    """Measure how far a new batch has drifted from the FROZEN
    encoder stats that :func:`incremental_ivf_index` encodes against
    — the signal that decides when a batch re-fit + re-encode is due.

    ONE aggregation pass (compute_stats posture) produces, per aux
    column: dense → fraction of non-null values outside the frozen
    [min, max] (these extrapolate beyond ±(1−ε) in the Fourier
    block); sparse/binary → fraction of non-null values outside the
    frozen vocab (these one-hot to all-zeros). Returns
    [{column, kind, n, drift_frac}] — tiny, driver-side.

    Policy belongs to the caller (e.g. re-fit when any drift_frac
    exceeds 1-5%); the measurement is deliberately separate from the
    maintenance loop so it can run per batch OR over the accumulated
    sink."""
    from .. import schema as S

    aggs = []
    for c, kind in aux_schema.items():
        cs = frozen.columns[c]
        col = F.col(c)
        aggs.append(F.count(col).alias(f"{c}__n"))
        if kind == S.DENSE:
            if cs.min is None or cs.max is None:
                # frozen stats fit on an all-NULL column: every real
                # value is outside the (undefined) range
                out = F.lit(True)
            else:
                out = (col.cast("double") < F.lit(float(cs.min))) | (
                    col.cast("double") > F.lit(float(cs.max))
                )
        elif kind == S.SPARSE:
            out = F.lit(True) if not cs.vocab else ~col.isin(cs.vocab)
        elif kind == S.BINARY:
            out = F.lit(True) if not cs.values else ~col.isin(cs.values)
        else:  # geo and friends carry no frozen range/vocab to drift from
            out = F.lit(False)
        aggs.append(
            F.sum(F.when(col.isNotNull() & out, 1).otherwise(0)).alias(f"{c}__out")
        )
    row = batch.agg(*aggs).collect()[0]
    report = []
    for c, kind in aux_schema.items():
        n = int(row[f"{c}__n"] or 0)
        out = int(row[f"{c}__out"] or 0)
        report.append(
            {
                "column": c,
                "kind": kind,
                "n": n,
                "drift_frac": (out / n) if n else 0.0,
            }
        )
    return report


def with_ingest_time(stream: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Attach processing-time arrival timestamps — the document
    stream carries no event time, so arrival stats window on ingest
    time (composition: arrival_stats_stream(with_ingest_time(s)))."""
    return stream.withColumn(ts_col, F.current_timestamp())


def sliding_arrival_stats(
    stream: DataFrame,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    window_len: str = "10 minutes",
    slide: str = "5 minutes",
):
    """Sliding-window variant: overlapping windows (each event counts
    in window_len/slide windows); same watermark state bound."""
    if ts_col not in stream.columns:
        stream = with_ingest_time(stream, ts_col)
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_len, slide).alias("w"), F.col("source"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(F.col("w.start").alias("window_start"), "source", "n_docs")
    )


def session_arrival_stats(
    stream: DataFrame,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    gap: str = "5 minutes",
):
    """Session-window variant: per-source activity sessions closed
    after ``gap`` of silence — the bursty-ingest monitoring shape."""
    if ts_col not in stream.columns:
        stream = with_ingest_time(stream, ts_col)
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.session_window(F.col(ts_col), gap).alias("w"), F.col("source"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "source",
            "n_docs",
        )
    )


def arrival_stats_stream(
    stream: DataFrame,
    ts_col: str = "ts",
    watermark: str = "10 minutes",
    window_len: str = "5 minutes",
):
    """Watermarked tumbling-window arrival stats (the streaming twin
    of q_window_events): late data beyond the watermark is dropped,
    state is bounded. Streams without an event-time column go through
    with_ingest_time first."""
    if ts_col not in stream.columns:
        stream = with_ingest_time(stream, ts_col)
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_len).alias("w"), F.col("source"))
        .agg(F.count(F.lit(1)).alias("n_docs"), F.avg("n_chars").alias("avg_chars"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("source"),
            "n_docs",
            F.round("avg_chars", 4).alias("avg_chars"),
        )
    )
