"""The minimum end-to-end slice (SURVEY §7 step 2): fused multimodal
search over the driver's ``documents`` testdata.

Pipeline: scan → stub-embed text → encode modalities (sparse lang,
sparse source, dense n_chars) → compile a query (text + IN filter +
numeric interval) → dot-score → top-k → exact-SQL twin for recall.

Every stage is the library; this file is glue.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import schema as S
from .embed import DeterministicStubEmbedder
from .encode import CorpusStats, VectorLayout, compute_stats
from .fused_encode import embed_encode_fused
from .kernels import probe_cells  # also imported from here by perfbench, tools, tests
from .query import CompiledQuery, compile_query
from .search import l2_norm_expr, sql_ident, topk
from .session import persisted, session_cached

EMB_DIM = 64
NUM_HARMONICS = 64  # enough for ≈0.9+ fused-vs-exact recall; reference default is 200

AUX_SCHEMA = {"lang": S.SPARSE, "source": S.SPARSE, "n_chars": S.DENSE}
TEXT_SCHEMA = {"text": 1.0}


@dataclass
class DocumentCorpus:
    encoded: DataFrame
    stats: CorpusStats
    layout: VectorLayout
    num_harmonics: int = NUM_HARMONICS


def build_corpus(
    spark: SparkSession, sf_dir: str, num_harmonics: int = NUM_HARMONICS
) -> DocumentCorpus:
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet")).withColumn(
        "row_id", F.col("doc_id")
    )
    # source has high-ish cardinality at larger SF; cap the sparse vocab
    # story by bucketing to 16 sources (still a real categorical filter).
    # Portable md5 bucketing, not xxhash64: the flagship is oracle-checked
    # (q_fused_topk) and the hashing invariant requires engine-neutral
    # hashes anywhere a DuckDB twin must reproduce the value.
    from .pipeline_ext.hashing import portable_hash32

    docs = docs.withColumn(
        "source",
        F.concat(F.lit("srcb"), F.pmod(portable_hash32(F.col("source")), F.lit(16))),
    )
    # documents.parquet at test SFs is ONE small file → one partition →
    # the whole embed+encode build and every later corpus scan runs on
    # a single core, a local-mode artifact (at cluster scale the source
    # arrives in many splits). Repartition to a SIZE-DERIVED count
    # (~1250 rows/partition, capped at default parallelism): a flat
    # 32-way split at 5k rows made every batch serve start 32 Python
    # tasks × 3 stages, each then paying its worker's per-task zip
    # re-read (0.1+ s before the UDF starts; session.py now skips it
    # for unchanged archives), and grew the top-k survivor shuffle 32×
    # (measured r11 A/B at sf0.1: topk_batch32 0.99 s at 32p vs 0.69 s
    # at 4p vs noisy 0.56–1.75 s at 1p). Outputs are bit-identical
    # under any split (per-row deterministic embed/encode, fold-stable
    # stats — measured delta 0.0 across every vector).
    n_docs = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).count()  # metadata-only count on the raw scan
    parts = max(
        1, min(spark.sparkContext.defaultParallelism, n_docs // 1250)
    )
    # guard (VERDICT r11 wrong #3): only shuffle when the source is
    # UNDER-split — a naturally well-split source (the cluster shape:
    # many parquet files) must not pay a full-corpus repartition just
    # to land on the derived count, and we never coalesce DOWN
    if parts > 1 and docs.rdd.getNumPartitions() < parts:
        docs = docs.repartition(parts)
    # stats read ONLY the aux columns, which exist on the raw docs —
    # computing them over the embedded frame made both of
    # compute_stats' agg actions execute the full stub-embed
    # mapInPandas stage (opaque to column pruning) just to throw the
    # vectors away: two extra Python passes over the corpus per build
    # (r12; guide §4 — an opaque function defeats pruning, so don't
    # put one under a column-pruned aggregate)
    stats = compute_stats(docs, AUX_SCHEMA)
    # ONE-pass fused embed+encode (r12): the composed embed_corpus →
    # encode_products pair crosses the Python/Arrow boundary twice per
    # batch (stub embed mapInPandas + large-K dense pandas UDF); the
    # fused path computes the whole [text ‖ modalities] vector in a
    # single numpy pass. Outputs are BIT-IDENTICAL on the flagship
    # corpus (measured: 0 differing rows of 5000 at sf0.1 and 500 at
    # sf0.01), so every oracle twin is untouched. The restaurants
    # build keeps the composed path — its multi-column weighted text
    # blend is NOT bit-identical under the fused fold (measured
    # 1096/8155 rows differ in last-ulp).
    encoded, layout = embed_encode_fused(
        docs, TEXT_SCHEMA, AUX_SCHEMA, stats,
        emb_dim=EMB_DIM, num_harmonics=num_harmonics,
    )
    return DocumentCorpus(
        encoded=encoded, stats=stats, layout=layout, num_harmonics=num_harmonics
    )


def flagship_compiled(corpus: DocumentCorpus, num_harmonics: int | None = None) -> CompiledQuery:
    # query K must equal the corpus's encode K or the vectors misalign
    num_harmonics = corpus.num_harmonics if num_harmonics is None else num_harmonics
    aux_data = {
        "lang": ((["en", "de"], False), 2.0),
        "source": (None, 1.0),
        "n_chars": ((120.0, 360.0, False), 1.5),
    }
    return compile_query(
        "spark join filter vector search",
        aux_data,
        AUX_SCHEMA,
        corpus.stats,
        corpus.layout,
        text_embedder=DeterministicStubEmbedder(EMB_DIM),
        num_harmonics=num_harmonics,
    )


def build_corpus_cached(spark: SparkSession, sf_dir: str) -> DocumentCorpus:
    """Session-scoped memo of :func:`build_corpus` (session_cached):
    the flagship, fused-IVF, and recall entries all consume the SAME
    encoded corpus, so within one session the embed+encode build runs
    once and ``persisted`` keeps the encoded frame cached. Semantics
    are identical to a fresh build — the encode is deterministic — so
    oracle entries stay self-contained."""
    key = ("corpus", os.path.abspath(sf_dir))
    corpus = session_cached(spark, key, lambda _: build_corpus(spark, sf_dir))
    persisted(corpus.encoded)
    return corpus


def flagship_query(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """Fused retrieval: one exact inner-product top-k performs
    retrieval + soft filtering in a single pass (the FuseRank idea,
    reference README.md:1, src/encode.py:11-22)."""
    corpus = build_corpus_cached(spark, sf_dir)
    cq = flagship_compiled(corpus)
    hits = topk(corpus.encoded, cq.vector, k=k)
    return hits.select("row_id", "lang", "source", "n_chars", F.round("relevance", 6).alias("relevance"))


FUSED_IVF_CELLS = 8
# Serving operating points (VERDICT r5 "what's wrong" #1). nprobe=3 of 8 is
# the FAST point: the pruned serve reads 3/8 of the index and lands at
# recall@10 ≈ 0.70 on the sf0.1 eval — a latency/recall trade the operator
# opts into, not a silent default quality. The TARGET point is the eval
# sweep's anchor (sweep_fused_ivf_nprobe in eval_harness): nprobe =
# FUSED_IVF_CELLS scans every cell, so pruning introduces no approximation
# and recall is 1.0 by construction. bench.py reports the headline
# `fused_ivf_recall_at_10` at the TARGET point and the fast point separately
# as `fused_ivf_recall_at_10_fast`, each labelled with its nprobe.
FUSED_IVF_NPROBE_FAST = 3
FUSED_IVF_NPROBE_TARGET = FUSED_IVF_CELLS
# Corpus-scale doctrine (r7, tools/fused_ivf_scale_probe.py — TWO
# experiments, full tables in BASELINE.md r7): the 0.70 fast point IS
# corpus-bound. At 100k rows / 64 cells, trained k-means cells serve
# recall 1.00 at the same 0.375 scan fraction (head cells 0.85); at
# 500k rows / 256 cells the ranking REVERSES — head cells reach 0.86
# at 9.4% scan while k-means cells trail badly below full scan.
# Consistent sub-pattern across both: real-vector (head) cells degrade
# gracefully at TINY scan fractions (they behave like max-inner-
# product anchors under the IP probe rule), L2-k-means cells win at
# moderate fractions on the smaller corpus. The quantizer choice is
# therefore CORPUS-MEASURED, not doctrinal — run the probe tool on
# the target corpus; the serve path (meta["centroids"]) is
# centroid-agnostic either way. Head cells additionally remain the
# SQL-derivable demo quantizer for the frozen oracle entry.


def _head_centroids(corpus: DocumentCorpus) -> "np.ndarray":
    """The frozen SQL-derivable coarse quantizer: fused vectors of
    the first FUSED_IVF_CELLS row_ids (shared by the in-session serve
    and the parts/sweep machinery so the centroid definition can
    never drift)."""
    import numpy as np

    cent_rows = (
        corpus.encoded.filter(F.col("row_id") < FUSED_IVF_CELLS)
        .orderBy("row_id")
        .select("vector")
        .collect()
    )
    if len(cent_rows) < FUSED_IVF_CELLS:
        raise ValueError(f"corpus has fewer than {FUSED_IVF_CELLS} rows")
    return np.array([r["vector"] for r in cent_rows], dtype="float64")


def fused_ivf_parts(corpus: DocumentCorpus, nprobe: int, *, compile_flagship: bool = True):
    """(assigned, compiled_query, probed_cells) for the fused-IVF
    serve path — split out so callers can persist ``assigned``
    partitioned by centroid_id (simsearch.ivf_persist) and reuse it
    across queries, which is the actual 100 TB posture: one
    assignment pass, then every query scans nprobe/n_cells of the
    corpus via partition pruning.

    Coarse quantizer: the fused vectors of the first FUSED_IVF_CELLS
    row_ids, FROZEN derivably (both engines reconstruct them from the
    data — the q_ivf_knn pattern). Cells are assigned by MAXIMUM
    INNER PRODUCT (metric='ip'), matching the fused relevance
    geometry, with the score rounded to 6 so a SQL twin's different
    sum fold order shares the tie-break domain. Probe selection is
    driver-side over the tiny centroid matrix: top-nprobe cells by
    rounded IP(query, centroid), ties to the lowest cell id."""
    from .pipeline_ext.simsearch import ivf_assign

    cents = _head_centroids(corpus)
    assigned = ivf_assign(
        corpus.encoded, cents, vec_col="vector", metric="ip", score_round=6
    )
    if not compile_flagship:
        # caller brings its own query batch (the multi-query sweep,
        # ADVICE r11): skip the flagship compile's stub embed + encode
        return assigned, None, None
    cq = flagship_compiled(corpus)
    return assigned, cq, probe_cells(cents, cq.vector, nprobe)


def fused_ivf_query(
    spark: SparkSession, sf_dir: str, k: int = 10, nprobe: int = FUSED_IVF_NPROBE_FAST
) -> DataFrame:
    """The reference's 'ANN index + fused query' serve shape
    (Milvus IVF_FLAT arm, /root/reference/src/eval/
    milvus_experiment.py:32) end-to-end on the FUSED space: encode →
    IP cell assignment → probe nprobe cells → exact IP top-k over
    only the probed cells. The cell filter is a static isin, so over
    an ivf_persist'ed table it prunes partitions; scoring and
    ranking reuse the exact topk machinery."""
    corpus = build_corpus_cached(spark, sf_dir)
    cents = _head_centroids(corpus)
    cq = flagship_compiled(corpus)
    probed = probe_cells(cents, cq.vector, nprobe)
    # r12: assignment + probe pruning run INSIDE the Arrow top-k scan
    # (search.topk assign_filter) — one batch matmul per partition —
    # instead of materializing an assigned frame whose per-centroid
    # interpreted HOF aggregates were evaluated twice per query (probe
    # arm + join-back arm) and whose 8×dim literal matrix bloated the
    # plan. Same cell semantics: rounded IP argmax, lowest-cid ties.
    hits = topk(
        corpus.encoded,
        cq.vector,
        k=k,
        assign_filter=(cents, probed, "ip", 6),
    )
    return hits.select(
        "row_id",
        "lang",
        "source",
        "n_chars",
        F.round("relevance", 6).alias("relevance"),
    )


def fused_ivf_serve_persisted(
    spark: SparkSession,
    index_path: str,
    meta_path: str,
    *,
    aux_data: dict | None = None,
    text: str = "spark join filter vector search",
    k: int = 10,
    nprobe: int = FUSED_IVF_NPROBE_FAST,
    target_recall: float | None = None,
    target_min_recall: float | None = None,
    recall_curve: tuple[tuple[float, ...], ...] | None = None,
    delta_sink: str | None = None,
) -> DataFrame:
    """Serve a fused query from FILES ONLY — no in-session corpus
    build: load the frozen encoder (encode.load_encoder_meta; the
    meta's ``extra["centroids"]`` carries the coarse quantizer),
    compile the fused query against the persisted stats/layout,
    pick nprobe cells driver-side, and run the exact pruned top-k
    over the partitioned index parquet. This is the cold-start /
    new-session serve path for an index maintained by
    streaming.incremental_ivf_index + ivf_persist: the centroid_id
    filter prunes partitions, so the query reads nprobe/n_cells of
    the stored bytes.

    ``target_recall``: pick nprobe from a MEASURED recall curve
    (:func:`nprobe_for_target_recall`) over the meta's cell count
    instead of passing a raw ``nprobe`` — the operationalized r8/r9
    recall tables. Only valid for trained/spherical indexes (the
    default curve is measured there; head quantizers collapse at auto
    cell counts, BASELINE.md r8, so this path refuses them — pass an
    explicit ``nprobe`` to opt in deliberately). The DEFAULT curve is
    additionally valid only in the auto cell-count regime (cells ≈
    4·√n — recall does not transfer across regimes at fixed scan
    fraction, VERDICT r9 #1), so it refuses indexes whose cell count
    is more than 2× off ``resolve_auto_cells`` for the meta's recorded
    corpus size. ``recall_curve`` overrides the default curve with
    your own corpus-measured points (``curve_from_sweep``) and skips
    the regime check — a measured curve carries its own regime.

    ``target_min_recall`` (r11, VERDICT r10 #3): same lookup but
    against the curve's per-query MIN column — a floor guarantee for
    SLA-style serving (the mean-vs-min gap is large: 0.94 mean vs 0.4
    min at the default curve's 9.4% point). Same quantizer and regime
    guards apply; combinable with ``target_recall``.

    ``delta_sink``: when ``index_path`` is a COMPACTED snapshot
    (streaming.compact_ivf_index) and the maintenance stream is still
    appending to its original sink, pass that sink here — the serve
    reads snapshot ∪ (sink batches after the compaction watermark),
    so compaction never requires stopping the stream
    (streaming.read_ivf_index)."""
    import numpy as np

    from .encode import load_encoder_meta

    stats, layout, knobs = load_encoder_meta(meta_path)
    if "centroids" not in knobs:
        raise ValueError("meta has no 'centroids' — save_encoder_meta(extra=...)")
    cents = np.asarray(knobs["centroids"], dtype="float64")
    emb_dim = int(knobs.get("emb_dim", EMB_DIM))
    # aux schema comes FROM THE META (layout order ∩ stats kinds),
    # not from the flagship constant — an index frozen with other
    # aux columns must serve with its own schema
    aux_schema = {
        name: stats.columns[name].kind
        for name, _d in layout.segments
        if name != "__text__"
    }
    cq = compile_query(
        text,
        aux_data or {c: (None, 1.0) for c in aux_schema},
        aux_schema,
        stats,
        layout,
        text_embedder=DeterministicStubEmbedder(emb_dim),
        num_harmonics=int(knobs["num_harmonics"]),
    )
    from .streaming.incremental import read_ivf_index

    if target_recall is not None or target_min_recall is not None:
        q_kind = str(knobs.get("quantizer", "head"))
        if q_kind == "head":
            raise ValueError(
                "target_recall is measured for trained/spherical quantizers; "
                "this index was frozen with quantizer='head' (no curve — head "
                "collapses at auto cell counts, BASELINE.md r8). Pass an "
                "explicit nprobe instead."
            )
        if recall_curve is None:
            # the DEFAULT curve was measured in the auto-cell regime
            # (cells = 4·√n on the 500k proxy corpus) and does NOT
            # transfer across cell-count regimes — at the same 9.4%
            # scan, trained recall measured 0.69 at 1024 cells vs 0.90
            # at 2828 (BASELINE.md r8/r9 tables; VERDICT r9 #1). Refuse
            # unless this index's cell count is within 2× of what auto
            # sizing would pick for its recorded corpus size.
            # index_rows is the explicit build-time record (r10);
            # stats.n_rows (compute_stats' count, persisted in every
            # meta since r1) is the fallback for pre-r10 indexes
            n_rows_meta = knobs.get("index_rows", stats.n_rows)
            if not n_rows_meta:
                raise ValueError(
                    "this index meta records no corpus row count, so the "
                    "default recall curve's cell-count regime cannot be "
                    "verified — re-freeze with build_fused_ivf_index, or pass "
                    "a corpus-measured recall_curve (curve_from_sweep over "
                    "eval_harness.fused_ivf_nprobe_sweep), or an explicit "
                    "nprobe."
                )
            expected = resolve_auto_cells(int(n_rows_meta), q_kind)
            if not (expected / 2 <= len(cents) <= expected * 2):
                raise ValueError(
                    f"default recall curve refused: index has {len(cents)} "
                    f"cells for {int(n_rows_meta)} rows, but the curve was "
                    f"measured in the auto regime (~{expected} cells here; "
                    "tolerance 2x). Recall does not transfer across cell-"
                    "count regimes at fixed scan fraction (BASELINE.md "
                    "r8/r9: 0.69@1024 vs 0.90@2828 cells at 9.4% scan) — "
                    "measure your own curve via curve_from_sweep and pass "
                    "recall_curve=, or pass an explicit nprobe."
                )
        nprobe = nprobe_for_target_recall(
            target_recall, len(cents), curve=recall_curve,
            target_min_recall=target_min_recall,
        )
    df = read_ivf_index(spark, index_path, delta_sink=delta_sink)
    return topk(
        df,
        cq.vector,
        k=k,
        predicate=F.col("centroid_id").isin(probe_cells(cents, cq.vector, nprobe)),
    )


# Measured nprobe→recall serve curve for the doctrine configuration —
# trained/spherical k-means at the auto cell count (4·√n = 2828) on
# the 500k ProxyTransformerEmbedder corpus (realistic anisotropic
# geometry), 32 seeded fused queries (r10 re-measure; the r9 curve
# rested on 8), MEAN recall@10 per nominal scan fraction
# (tools/fused_ivf_scale_probe.py 100 2828 --embedder=proxy
# --corpus-cache --queries=32, BASELINE.md r10 table with the full
# per-point min/mean distribution). Each point is the MIN of the
# trained and spherical means at that fraction (conservative; the two
# track within 0.05 everywhere). The recall here is a MEAN guarantee,
# not a per-query floor — measured per-query MINs are 0.4 at the
# 0.0937 point and 0.9 at 0.25 (spherical): a caller needing a floor
# must read the BASELINE.md min column, not this table. Scan FRACTION
# is the axis, but it does NOT transfer across cell-count regimes —
# the r8/r9 tables measured trained recall 0.69 at 1024 cells vs 0.90
# at 2828 at the SAME 9.4% scan (cell count is itself a recall knob).
# The curve is valid only for indexes in the auto regime (cells ≈
# 4·√n), which is what fused_ivf_serve_persisted's default-curve
# guard enforces. The (1.0, 1.0, 1.0) full-scan anchor is implicit in
# :func:`nprobe_for_target_recall` — pruning is the only
# approximation, so a full scan is exact by construction (and with 32
# queries the quarter-scan point is now honestly 0.9969, not the
# 8-query 1.00 — target_recall=1.0 resolves to a full scan). Head
# cells at the same 2828 cells collapse to 0.74 at quarter scan (the
# serve path refuses them).
#
# r11: points are (scan_fraction, mean_recall, MIN_recall) triples —
# the third column is the worst single query's recall@10 at that
# fraction, min across the two quantizers (BASELINE.md r10 table), so
# ``target_min_recall`` can serve an SLA-style per-query floor instead
# of sending the caller to read the table by hand (VERDICT r10 #3).
# The mean-vs-min gap is LARGE at mid fractions (0.94 mean / 0.4 min
# at 9.4% scan): a floor-bound caller pays a much deeper scan.
TRAINED_AUTO_RECALL_CURVE: tuple[tuple[float, float, float], ...] = (
    (0.0028, 0.1375, 0.0),
    (0.0113, 0.4125, 0.0),
    (0.0311, 0.7063, 0.2),
    (0.0937, 0.9437, 0.4),
    (0.25, 0.9969, 0.9),
)


def nprobe_for_target_recall(
    target_recall: float | None,
    n_cells: int,
    *,
    curve: tuple[tuple[float, ...], ...] | None = None,
    target_min_recall: float | None = None,
) -> int:
    """Pick ``nprobe`` by table lookup from a MEASURED recall curve
    instead of a raw guess (VERDICT r8 ask #6): the smallest measured
    scan fraction whose recall@10 meets ``target_recall``, converted
    to ``nprobe = max(1, ceil(frac · n_cells))``. Targets above every
    measured point resolve to the implicit ``(1.0, 1.0, 1.0)``
    full-scan anchor (recall at ``nprobe = n_cells`` is 1.0 by
    construction — scoring is exact, pruning is the only
    approximation).

    ``curve`` is a sequence of points ascending in scan fraction:
    ``(scan_fraction, mean_recall)`` pairs or ``(scan_fraction,
    mean_recall, min_recall)`` triples (``curve_from_sweep`` emits the
    triple form when its sweep carries a ``recall_min`` column);
    default is :data:`TRAINED_AUTO_RECALL_CURVE` — measured for
    trained/spherical quantizers at the auto cell count on the 500k
    proxy-geometry corpus (32 queries, r10).

    ``target_recall`` guarantees EXPECTED recall (the per-point mean
    over the query set). ``target_min_recall`` (r11, VERDICT r10 #3)
    guarantees a PER-QUERY floor instead: the lookup consumes the min
    column, so an SLA-style caller no longer reads the BASELINE.md
    table by hand. The gap is large — on the default curve a 0.9
    target costs a 9.4% scan as a mean but a 25% scan as a floor.
    Passing both resolves the smallest fraction satisfying BOTH. A
    min-mode lookup against a pairs-only curve raises (a mean curve
    cannot promise a floor).

    A recall curve is a CORPUS-MEASURED artifact (the r7/r8 lesson:
    quantizer rankings reversed between geometries): for a different
    corpus, measure with ``tools/fused_ivf_scale_probe.py``
    (``--corpus-cache`` makes re-probes cheap) and pass the points
    here. No curve exists for head quantizers at auto cell counts —
    they collapse there on both measured geometries (BASELINE.md r8),
    which is why the serve path refuses that combination."""
    import math

    if target_recall is None and target_min_recall is None:
        raise ValueError("pass target_recall and/or target_min_recall")
    for label, t in (("target_recall", target_recall),
                     ("target_min_recall", target_min_recall)):
        if t is not None and not (0.0 < t <= 1.0):
            raise ValueError(f"{label} must be in (0, 1], got {t}")
    if n_cells < 1:
        raise ValueError(f"n_cells must be >= 1, got {n_cells}")
    pts = [tuple(p) for p in (curve if curve is not None else TRAINED_AUTO_RECALL_CURVE)]
    if any(len(p) not in (2, 3) for p in pts):
        raise ValueError(f"curve points must be (frac, mean[, min]): {pts}")
    if any(not (0.0 < p[0] <= 1.0 and all(0.0 <= r <= 1.0 for r in p[1:])) for p in pts):
        raise ValueError(f"curve points must be (frac in (0,1], recall in [0,1]): {pts}")
    if [p[0] for p in pts] != sorted(p[0] for p in pts):
        raise ValueError("curve must be ascending in scan fraction")
    if target_min_recall is not None and any(len(p) < 3 for p in pts):
        raise ValueError(
            "target_min_recall needs a curve with a min column — this curve "
            "has (frac, mean) pairs only. Re-measure with per-query mins "
            "(curve_from_sweep over a sweep carrying recall_min) or use "
            "target_recall (mean guarantee)."
        )
    for p in pts:
        if target_recall is not None and p[1] < target_recall:
            continue
        if target_min_recall is not None and p[2] < target_min_recall:
            continue
        return max(1, min(n_cells, math.ceil(p[0] * n_cells)))
    return n_cells


def curve_from_sweep(sweep: "DataFrame", n_cells: int) -> tuple[tuple[float, ...], ...]:
    """Convert an ``eval_harness.fused_ivf_nprobe_sweep`` result
    (``nprobe int, recall double``) into the ``(scan_fraction,
    recall)`` points :func:`nprobe_for_target_recall` consumes —
    the one-line bridge from "measure the curve on YOUR corpus" to
    "serve with target_recall". When the sweep carries a
    ``recall_min`` column (a multi-query sweep's per-point worst
    query), the output points are ``(frac, mean, min)`` triples and
    the curve also supports ``target_min_recall`` (r11). The sweep
    frame is tiny (one row per probed nprobe); collect is bounded."""
    has_min = "recall_min" in sweep.columns
    if has_min:
        rows = sorted(
            (int(r["nprobe"]), float(r["recall"]), float(r["recall_min"]))
            for r in sweep.collect()
        )
        if not rows:
            raise ValueError("empty sweep — probe at least one nprobe")
        return tuple(
            (min(1.0, np_ / n_cells), rec, rmin) for np_, rec, rmin in rows
        )
    rows = sorted(
        (int(r["nprobe"]), float(r["recall"])) for r in sweep.collect()
    )
    if not rows:
        raise ValueError("empty sweep — probe at least one nprobe")
    return tuple((min(1.0, np_ / n_cells), rec) for np_, rec in rows)


def resolve_auto_cells(n_rows: int, quantizer: str) -> int:
    """``n_cells="auto"`` sizing: 4·√n clamped to [64, 65536] — the r8
    de-confounded cell sweep (one 500k corpus, cells 64→4096 at fixed
    scan fractions) measured cell COUNT as the recall knob for trained
    quantizers (trained@9.4% scan: 0.25/0.18/0.63/0.96 across the
    sweep), landing at the FAISS 4√n…16√n rule of thumb (BASELINE.md
    r8 table).

    GUARDS the measured-bad configuration (VERDICT r8 ask #3): head
    cells collapse at ≥1024 cells on BOTH probed geometries (stub 500k
    sweep and proxy tables), and auto sizing reaches 1024 cells at any
    corpus ≥65k rows — so auto+head at that scale raises instead of
    silently building what the doctrine forbids. Pick
    quantizer="spherical"/"kmeans", or pin an explicit small n_cells
    to opt into head deliberately."""
    import math

    cells = max(64, min(65_536, 4 * int(math.sqrt(max(int(n_rows), 0)))))
    if quantizer == "head" and cells >= 1024:
        raise ValueError(
            f"n_cells='auto' resolved {cells} cells with quantizer='head': "
            "head quantizers collapse at >=1024 cells on both measured "
            "geometries (BASELINE.md r8); use quantizer='spherical'/'kmeans' "
            "or an explicit n_cells < 1024"
        )
    return cells


def build_fused_ivf_index(
    spark: SparkSession,
    sf_dir: str,
    index_path: str,
    meta_path: str,
    *,
    n_cells: int | str = FUSED_IVF_CELLS,
    quantizer: str = "kmeans",
    sample_rows: int = 50_000,
    max_iter: int = 10,
) -> int:
    """One-call build of the persisted fused-IVF index
    :func:`fused_ivf_serve_persisted` serves from: encode the corpus,
    pick the coarse quantizer, IVF-assign, write the index parquet
    partitioned by ``centroid_id``, and freeze the encoder meta (with
    the centroids) next to it. Returns the number of cells written.

    ``quantizer`` picks the coarse quantizer: ``"kmeans"`` (default;
    bounded-sample Lloyd: simsearch.ivf_build's kernels.lloyd over at
    most ``sample_rows`` hash-ordered rows), ``"spherical"`` (k-means
    on L2-normalized vectors, centroids renormalized — the IP-aligned
    trainer), or ``"head"`` (first-``n_cells`` corpus rows, also the
    SQL-derivable demo quantizer the frozen oracle entry q_fused_ivf
    re-derives). WHICH wins
    is corpus-dependent — measured in tools/fused_ivf_scale_probe.py
    across THREE geometries (BASELINE.md r7 + r8 tables): on stub
    hash-BOW vectors the rankings reversed between 100k/64 and
    500k/256 (the r7 result); on PROXY-TRANSFORMER (anisotropic,
    correlated) geometry — the realistic one — trained and spherical
    clearly beat head at serve-relevant scan fractions (100k/64:
    0.875/0.80 vs 0.46 at 0.25 scan; 100k/256: 0.875 vs 0.675),
    spherical never worse than plain k-means, while head's only
    surviving edge is graceful degradation at tiny scan fractions at
    high cell counts. Run the probe on the target corpus before
    freezing an index. Training cost is O(sample_rows), not
    O(corpus).

    ``n_cells="auto"`` sizes the cell count as 4·√n (clamped to
    [64, 65536]) — the r8 de-confounded cell sweep measured cell
    COUNT as the dominant recall knob at fixed scan fraction for
    trained quantizers, and head cells collapse above 256 cells, so
    auto implies a trained/spherical quantizer at scale (BASELINE.md
    r8 cell-sweep table)."""
    import numpy as np

    from .encode import save_encoder_meta
    from .pipeline_ext.simsearch import ivf_assign, ivf_build, ivf_persist

    corpus = build_corpus_cached(spark, sf_dir)
    if quantizer not in ("kmeans", "spherical", "head"):
        raise ValueError(f"quantizer must be kmeans|spherical|head, got {quantizer!r}")
    # counted once; recorded in the meta so the serve path can verify
    # a default-curve target_recall lookup is in the measured regime
    # (VERDICT r9 #1)
    n = corpus.encoded.count()
    if n_cells == "auto":
        n_cells = resolve_auto_cells(n, quantizer)
    n_cells = int(n_cells)
    if quantizer in ("kmeans", "spherical"):
        train_src = corpus.encoded
        if quantizer == "spherical":
            norm = F.expr(l2_norm_expr(sql_ident("vector")))
            # greatest(norm, 1e-12): a zero-norm fused vector would
            # otherwise yield NaN/Inf training rows that poison the
            # k-means centroids (the centroid renormalization below
            # already guards; the training input must too — ADVICE r8)
            train_src = corpus.encoded.withColumn(
                "__n", F.greatest(norm, F.lit(1e-12))
            ).select(
                "row_id",
                F.transform("vector", lambda x: x / F.col("__n")).alias("vector"),
            )
        _, cents = ivf_build(
            train_src, dim=corpus.layout.dim, n_centroids=n_cells,
            vec_col="vector", sample_rows=sample_rows, max_iter=max_iter,
        )
        if quantizer == "spherical":
            cents = cents / np.maximum(
                np.linalg.norm(cents, axis=1, keepdims=True), 1e-12
            )
    else:
        # orderBy/limit, NOT filter(row_id < n_cells): sparse row_ids
        # would silently under-fill the filter form (ADVICE r7); this
        # matches tools/fused_ivf_scale_probe.py's head-cell definition.
        rows = (
            corpus.encoded.orderBy("row_id").limit(n_cells)
            .select("vector").collect()
        )
        if len(rows) < n_cells:
            raise ValueError(f"corpus has fewer than {n_cells} rows")
        cents = np.array([r["vector"] for r in rows], dtype="float64")
    assigned = ivf_assign(
        corpus.encoded, cents, vec_col="vector", metric="ip", score_round=6
    )
    ivf_persist(assigned, index_path)
    save_encoder_meta(
        meta_path, corpus.stats, corpus.layout,
        num_harmonics=NUM_HARMONICS,
        extra={
            "emb_dim": EMB_DIM,
            "centroids": [[float(x) for x in c] for c in np.asarray(cents)],
            "quantizer": quantizer,
            "index_rows": int(n),
        },
    )
    return len(cents)


def fused_ivf_recall_at_k(
    spark: SparkSession,
    sf_dir: str,
    k: int = 10,
    nprobe: int = FUSED_IVF_NPROBE_FAST,
) -> float:
    """Recall@k of the fused-IVF serve path vs the exact fused scan —
    the eval loop for choosing nprobe (reference's fused-vs-oracle
    recall methodology, src/eval/evaluate.py:156-202). nprobe =
    FUSED_IVF_CELLS ⇒ recall 1.0 by construction (pruning is the
    only approximation; scoring is exact).

    Thin single-point wrapper over
    ``eval_harness.fused_ivf_nprobe_sweep`` so the recall definition
    lives in exactly ONE place (the sweep shares one corpus build,
    one assignment, and one exact baseline across points; the session
    corpus cache makes repeated calls cheap)."""
    from .eval_harness import fused_ivf_nprobe_sweep

    row = fused_ivf_nprobe_sweep(spark, sf_dir, nprobes=(int(nprobe),), k=k).collect()
    return float(row[0]["recall"])
