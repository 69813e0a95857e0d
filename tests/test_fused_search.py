"""§5.4 fused-vs-exact recall harness + search-path unit tests: the
reference's differential-oracle pattern (`src/eval/evaluate.py:156-202`)
with exact Spark SQL replacing Milvus as oracle."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from fuserank_spark import schema as S
from fuserank_spark.embed import DeterministicStubEmbedder
from fuserank_spark.flagship import (
    AUX_SCHEMA,
    EMB_DIM,
    NUM_HARMONICS,
    build_corpus,
    flagship_query,
)
from fuserank_spark.metrics import recall
from fuserank_spark.query import compile_query
from fuserank_spark.search import dot_expr, lit_vector, sql_ident, topk, topk_batch

from tests.conftest import SF_SMOKE


@pytest.fixture(scope="module")
def corpus(spark):
    c = build_corpus(spark, SF_SMOKE)
    c.encoded = c.encoded.persist()
    c.encoded.count()
    yield c
    c.encoded.unpersist()


def _compiled(corpus, aux_data, text="spark join filter vector search"):
    return compile_query(
        text,
        aux_data,
        AUX_SCHEMA,
        corpus.stats,
        corpus.layout,
        text_embedder=DeterministicStubEmbedder(EMB_DIM),
        num_harmonics=NUM_HARMONICS,
    )


def test_vector_dim_matches_layout(corpus):
    row = corpus.encoded.select(F.size("vector").alias("d")).first()
    cq = _compiled(corpus, {"lang": (None, 1.0), "source": (None, 1.0), "n_chars": (None, 1.0)})
    assert row["d"] == corpus.layout.dim == len(cq.vector)


def test_fused_recall_vs_exact_oracle(corpus):
    """Fused soft-filter top-k must substantially recover the hard
    exact-filtered text-ranking top-k (reference regime)."""
    aux = {
        "lang": ((["en", "de"], False), 4.0),
        "source": (None, 1.0),
        "n_chars": ((120.0, 360.0, False), 4.0),
    }
    cq = _compiled(corpus, aux)
    k = 10
    fused = [r["row_id"] for r in topk(corpus.encoded, cq.vector, k=k).select("row_id").collect()]

    # oracle: hard predicate + text-similarity ranking (exact arm)
    text_vec = cq.vector[: EMB_DIM]
    text_score = F.expr(dot_expr(f"slice({sql_ident('vector')}, 1, {EMB_DIM})", lit_vector(text_vec)))
    oracle_df = (
        corpus.encoded.filter(cq.predicate)
        .withColumn("ts", text_score)
        .orderBy(F.desc("ts"), "row_id")
        .limit(k)
    )
    oracle = [r["row_id"] for r in oracle_df.select("row_id").collect()]

    rec = recall(oracle, fused)
    assert rec >= 0.5, f"fused recall {rec} too low (fused={fused}, oracle={oracle})"
    # every fused hit must satisfy the hard filter at high weight
    sat = corpus.encoded.filter(F.col("row_id").isin(fused)).filter(cq.predicate).count()
    assert sat >= int(0.8 * k)


def test_batch_rerank_mode(corpus):
    """Batch form of the Re-ranking method: text-retrieve per query
    via topk_batch on the text slice, re-rank all result sets in ONE
    plan partitioned by query_id."""
    from fuserank_spark.rerank import rerank

    auxes = [
        {"lang": ((["en"], False), 5.0), "source": (None, 1.0), "n_chars": (None, 1.0)},
        {"lang": ((["zh"], False), 5.0), "source": (None, 1.0), "n_chars": (None, 1.0)},
    ]
    cqs = [_compiled(corpus, a, text=t) for a, t in zip(auxes, ["fast join", "slow scan"])]
    spark = corpus.encoded.sparkSession
    qdf = spark.createDataFrame(
        [(i, [float(x) for x in cq.vector[:EMB_DIM]]) for i, cq in enumerate(cqs)],
        "query_id int, qvec array<double>",
    )
    text_sliced = corpus.encoded.withColumn("tvec", F.slice("vector", 1, EMB_DIM))
    results = topk_batch(text_sliced, qdf, k=15, vector_col="tvec")
    # both queries share the same filter column set → one rerank plan
    shared_aux = {"lang": ((["en", "zh"], False), 3.0)}
    out = rerank(
        results, shared_aux, {"lang": "sparse"}, corpus.stats, query_id_col="query_id"
    )
    rows = out.groupBy("query_id").count().collect()
    assert {r["query_id"]: r["count"] for r in rows} == {0: 15, 1: 15}


def test_topk_batch_matches_single(corpus):
    auxes = [
        {"lang": ((["en"], False), 2.0), "source": (None, 1.0), "n_chars": (None, 1.0)},
        {"lang": (None, 1.0), "source": (None, 1.0), "n_chars": ((100.0, 200.0, False), 2.0)},
    ]
    cqs = [_compiled(corpus, a, text=t) for a, t in zip(auxes, ["fast join", "slow scan"])]
    spark = corpus.encoded.sparkSession
    qdf = spark.createDataFrame(
        [(i, [float(x) for x in cq.vector]) for i, cq in enumerate(cqs)],
        "query_id int, qvec array<double>",
    )
    batch = topk_batch(corpus.encoded, qdf, k=5)
    got = {
        qid: [r["row_id"] for r in rows]
        for qid, rows in [
            (qid, batch.filter(F.col("query_id") == qid).orderBy(F.desc("relevance"), "row_id").collect())
            for qid in (0, 1)
        ]
    }
    for i, cq in enumerate(cqs):
        single = [
            r["row_id"]
            for r in topk(corpus.encoded, cq.vector, k=5)
            .orderBy(F.desc("relevance"), "row_id")
            .collect()
        ]
        assert got[i] == single, f"query {i}: batch {got[i]} != single {single}"


def test_weight_boost_promotes_filter(corpus):
    """Raising the modality weight makes fused results satisfy the
    filter more often (src/encode.py:118-119 semantics)."""
    def hits(w):
        aux = {"lang": ((["zh"], False), w), "source": (None, 1.0), "n_chars": (None, 1.0)}
        cq = _compiled(corpus, aux)
        ids = [r["row_id"] for r in topk(corpus.encoded, cq.vector, k=20).select("row_id").collect()]
        return corpus.encoded.filter(F.col("row_id").isin(ids) & (F.col("lang") == "zh")).count()

    assert hits(8.0) >= hits(0.5)


def test_text_topk_then_rerank(corpus):
    """"Re-ranking" method parity: text-only retrieval, aux re-rank.
    Rows matching the aux filters must outrank non-matching rows
    within the text-retrieved set."""
    from fuserank_spark.search import text_topk_then_rerank

    aux = {
        "lang": ((["en"], False), 5.0),
        "source": (None, 1.0),
        "n_chars": (None, 1.0),
    }
    cq = _compiled(corpus, aux)
    out = text_topk_then_rerank(
        corpus.encoded, cq, AUX_SCHEMA, corpus.stats, text_dim=EMB_DIM, k=20
    ).select("row_id", "lang", "relevance").collect()
    assert len(out) == 20
    langs = [r["lang"] for r in out]
    if "en" in langs and any(l != "en" for l in langs):
        # every 'en' row must rank above every non-'en' row at weight 5
        last_en = max(i for i, l in enumerate(langs) if l == "en")
        first_other = min(i for i, l in enumerate(langs) if l != "en")
        assert last_en < first_other or langs[:langs.count("en")] == ["en"] * langs.count("en")


def test_flagship_runs(spark):
    df = flagship_query(spark, SF_SMOKE)
    rows = df.collect()
    assert len(rows) == 10
    assert "relevance" in df.columns


def test_fused_ivf_full_probe_equals_exact(corpus):
    """nprobe == n_cells ⇒ no pruning ⇒ identical ranked ids to the
    exact fused scan (scoring is exact; pruning is the only
    approximation)."""
    from fuserank_spark.flagship import FUSED_IVF_CELLS, fused_ivf_parts

    assigned, cq, probed = fused_ivf_parts(corpus, FUSED_IVF_CELLS)
    assert sorted(probed) == list(range(FUSED_IVF_CELLS))
    exact = [r["row_id"] for r in topk(corpus.encoded, cq.vector, k=10).collect()]
    full = [
        r["row_id"]
        for r in topk(
            assigned, cq.vector, k=10,
            predicate=F.col("centroid_id").isin(probed),
        ).collect()
    ]
    assert full == exact


def test_fused_ivf_narrow_probe_subsets_and_recall(corpus):
    """nprobe < n_cells: every hit comes from a probed cell, probe
    sets nest as nprobe grows, and recall is monotone up to 1.0 at
    the full probe."""
    from fuserank_spark.flagship import FUSED_IVF_CELLS, fused_ivf_parts

    assigned, cq, probed3 = fused_ivf_parts(corpus, 3)
    assert len(probed3) == 3
    _, _, probed5 = fused_ivf_parts(corpus, 5)
    assert set(probed3) <= set(probed5)
    cells = {
        r["row_id"]: r["centroid_id"]
        for r in assigned.select("row_id", "centroid_id").collect()
    }
    assert set(cells.values()) <= set(range(FUSED_IVF_CELLS))
    hits = topk(
        assigned, cq.vector, k=10, predicate=F.col("centroid_id").isin(probed3)
    ).collect()
    assert all(cells[r["row_id"]] in probed3 for r in hits)
    exact = {r["row_id"] for r in topk(corpus.encoded, cq.vector, k=10).collect()}
    got = {r["row_id"] for r in hits}
    assert 0.0 <= len(exact & got) / 10 <= 1.0


def test_build_fused_ivf_index_trained_roundtrip(spark, tmp_path):
    """r7: the one-call trained-index build (the corpus-scale default
    measured in tools/fused_ivf_scale_probe.py). Builds with k-means
    cells, serves from FILES ONLY, and at nprobe == n_cells the
    pruned serve must return the exact fused top-k (pruning is the
    only approximation — trained or not)."""
    from fuserank_spark.flagship import (
        build_corpus_cached,
        build_fused_ivf_index,
        flagship_compiled,
        fused_ivf_serve_persisted,
    )
    from fuserank_spark.encode import load_encoder_meta

    idx = str(tmp_path / "fidx")
    meta = str(tmp_path / "fidx_meta.json")
    n_cells = build_fused_ivf_index(
        spark, SF_SMOKE, idx, meta, n_cells=4, quantizer="kmeans", max_iter=5
    )
    assert n_cells == 4
    _s, _l, knobs = load_encoder_meta(meta)
    assert knobs["quantizer"] == "kmeans"
    assert len(knobs["centroids"]) == 4

    corpus = build_corpus_cached(spark, SF_SMOKE)
    cq = flagship_compiled(corpus)
    exact = [r["row_id"] for r in topk(corpus.encoded, cq.vector, k=10).collect()]
    served = [
        r["row_id"]
        for r in fused_ivf_serve_persisted(
            spark, idx, meta, k=10, nprobe=4,
            aux_data={
                "lang": ((["en", "de"], False), 2.0),
                "source": (None, 1.0),
                "n_chars": ((120.0, 360.0, False), 1.5),
            },
        ).select("row_id").collect()
    ]
    assert served == exact


def test_build_corpus_cached_self_heals_plan_keyed_eviction(spark):
    """Spark's CacheManager keys cached blocks by ANALYZED PLAN: an
    unpersist() on a plan-identical frame built elsewhere silently
    drops the session corpus cache. build_corpus_cached must detect
    the eviction on the next call and re-persist (the bench's old
    corpus_encode block did exactly this eviction, turning every
    later eval-sweep scan into a full re-encode)."""
    from fuserank_spark.flagship import build_corpus, build_corpus_cached

    c1 = build_corpus_cached(spark, SF_SMOKE)
    sl = c1.encoded.storageLevel
    assert sl.useMemory or sl.useDisk

    # plan-twin eviction: fresh build of the same sf_dir, persist, unpersist
    twin = build_corpus(spark, SF_SMOKE).encoded.persist()
    twin.count()
    twin.unpersist()

    c2 = build_corpus_cached(spark, SF_SMOKE)
    sl2 = c2.encoded.storageLevel
    assert sl2.useMemory or sl2.useDisk, "cache must self-heal after eviction"
    assert c2.encoded.count() == c1.encoded.count()


def test_score_breakdown_decomposes_topk(corpus):
    """score_breakdown: per-segment contributions sum to the total
    (exact by construction), the top-k id set matches topk() on the
    same query vector, and every layout segment gets a column."""
    from fuserank_spark.search import score_breakdown

    cq = _compiled(
        corpus,
        {"lang": ((["en", "de"], False), 2.0), "n_chars": ((120.0, 360.0, False), 1.5)},
    )
    bd = score_breakdown(corpus.encoded, corpus.layout, cq.vector, k=10).collect()
    seg_cols = [f"score_{name}" for name, _ in corpus.layout.segments]
    assert all(c in bd[0].asDict() for c in seg_cols)
    for r in bd:
        assert abs(sum(r[c] for c in seg_cols) - r["score"]) < 1e-5
    # breakdown ranks the ROUNDED sum, topk the raw dot — at a k
    # boundary with sub-1e-6 gaps the two orderings may legitimately
    # pick different rows, so compare with slack instead of equality
    top_ids_slack = {
        r["row_id"] for r in topk(corpus.encoded, cq.vector, k=13).collect()
    }
    assert {r["row_id"] for r in bd} <= top_ids_slack
    # single-modality query: only that segment (plus text) contributes
    # materially — the lang contribution dominates aux segments
    cq2 = _compiled(corpus, {"lang": ((["en"], False), 5.0)}, text="spark")
    bd2 = score_breakdown(corpus.encoded, corpus.layout, cq2.vector, k=5).collect()
    assert all(abs(r["score_n_chars"]) < 1e-9 for r in bd2)  # unqueried segment


def test_build_fused_ivf_index_spherical_roundtrip(spark, tmp_path):
    """r8: the spherical quantizer option (k-means on L2-normalized
    vectors, renormalized centroids — the IP-aligned trainer that won
    the proxy-geometry probe). Same files-only serve contract: at
    nprobe == n_cells the pruned serve returns the exact fused top-k;
    centroids land unit-norm in the frozen meta."""
    import numpy as np

    from fuserank_spark.flagship import (
        build_corpus_cached,
        build_fused_ivf_index,
        flagship_compiled,
        fused_ivf_serve_persisted,
    )
    from fuserank_spark.encode import load_encoder_meta

    idx = str(tmp_path / "sidx")
    meta = str(tmp_path / "sidx_meta.json")
    n_cells = build_fused_ivf_index(
        spark, SF_SMOKE, idx, meta, n_cells=4, quantizer="spherical", max_iter=5
    )
    assert n_cells == 4
    _s, _l, knobs = load_encoder_meta(meta)
    assert knobs["quantizer"] == "spherical"
    cents = np.asarray(knobs["centroids"])
    assert np.allclose(np.linalg.norm(cents, axis=1), 1.0, atol=1e-9)

    corpus = build_corpus_cached(spark, SF_SMOKE)
    cq = flagship_compiled(corpus)
    exact = [r["row_id"] for r in topk(corpus.encoded, cq.vector, k=10).collect()]
    served = [
        r["row_id"]
        for r in fused_ivf_serve_persisted(
            spark, idx, meta, k=10, nprobe=4,
            aux_data={
                "lang": ((["en", "de"], False), 2.0),
                "source": (None, 1.0),
                "n_chars": ((120.0, 360.0, False), 1.5),
            },
        ).select("row_id").collect()
    ]
    assert served == exact


def test_build_fused_ivf_index_rejects_unknown_quantizer(spark, tmp_path):
    from fuserank_spark.flagship import build_fused_ivf_index

    with pytest.raises(ValueError, match="quantizer"):
        build_fused_ivf_index(
            spark, SF_SMOKE, str(tmp_path / "x"), str(tmp_path / "x.json"),
            quantizer="magic",
        )


def test_build_fused_ivf_index_auto_cells(spark, tmp_path):
    """n_cells='auto' → 4·sqrt(n) clamped to [64, 65536] (the r8
    cell-sweep doctrine)."""
    import math

    from fuserank_spark.encode import load_encoder_meta
    from fuserank_spark.flagship import build_corpus_cached, build_fused_ivf_index

    n = build_corpus_cached(spark, SF_SMOKE).encoded.count()
    want = max(64, min(65_536, 4 * int(math.sqrt(n))))
    idx = str(tmp_path / "aidx")
    meta = str(tmp_path / "aidx_meta.json")
    n_cells = build_fused_ivf_index(
        spark, SF_SMOKE, idx, meta, n_cells="auto", max_iter=2
    )
    assert n_cells == want
    _s, _l, knobs = load_encoder_meta(meta)
    assert len(knobs["centroids"]) == want


def test_resolve_auto_cells_guards_head_collapse():
    """VERDICT r8 ask #3: n_cells='auto' with quantizer='head' must
    refuse the measured-bad configuration (head collapses at ≥1024
    cells on both r8 geometries; auto reaches 1024 at ≥65k rows)."""
    import pytest as _pytest

    from fuserank_spark.flagship import resolve_auto_cells

    # 4·√n clamped to [64, 65536]
    assert resolve_auto_cells(100, "spherical") == 64
    assert resolve_auto_cells(500_000, "kmeans") == 2828
    assert resolve_auto_cells(10**9, "spherical") == 65_536
    # head fine below the collapse point…
    assert resolve_auto_cells(10_000, "head") == 400
    # …and refused at/above it
    with _pytest.raises(ValueError, match="head"):
        resolve_auto_cells(65_536, "head")
    with _pytest.raises(ValueError, match="head"):
        resolve_auto_cells(500_000, "head")


def test_nprobe_for_target_recall_table_lookup():
    """r9 (VERDICT r8 ask #6): nprobe from a measured (scan_frac,
    recall) curve — smallest measured fraction meeting the target,
    ceil'd onto the cell count; targets above every measured point
    fall through to the implicit (1.0, 1.0) full-scan anchor."""
    import pytest as _pytest

    from fuserank_spark.flagship import nprobe_for_target_recall

    curve = ((0.031, 0.54), (0.094, 0.93), (0.25, 1.0))
    assert nprobe_for_target_recall(0.5, 2828, curve=curve) == 88   # ceil(.031*2828)
    assert nprobe_for_target_recall(0.9, 2828, curve=curve) == 266  # ceil(.094*2828)
    assert nprobe_for_target_recall(1.0, 2828, curve=curve) == 707  # ceil(.25*2828)
    # a curve that never reaches the target → full scan
    low = ((0.1, 0.3), (0.5, 0.8))
    assert nprobe_for_target_recall(0.95, 64, curve=low) == 64
    # floor at 1 probe, cap at n_cells
    assert nprobe_for_target_recall(0.5, 8, curve=curve) == 1
    assert nprobe_for_target_recall(0.9, 4, curve=((0.9, 0.99),)) == 4
    # default curve is importable and well-formed
    assert nprobe_for_target_recall(0.9, 2828) >= 1
    with _pytest.raises(ValueError, match="target_recall"):
        nprobe_for_target_recall(0.0, 64)
    with _pytest.raises(ValueError, match="target_recall"):
        nprobe_for_target_recall(1.1, 64)
    with _pytest.raises(ValueError, match="n_cells"):
        nprobe_for_target_recall(0.9, 0)
    with _pytest.raises(ValueError, match="ascending"):
        nprobe_for_target_recall(0.9, 64, curve=((0.25, 0.9), (0.1, 0.5)))
    with _pytest.raises(ValueError, match="curve points"):
        nprobe_for_target_recall(0.9, 64, curve=((0.0, 0.5),))


def test_nprobe_target_min_recall_floor_mode():
    """r11 (VERDICT r10 #3): target_min_recall consumes the curve's
    per-query MIN column — a floor guarantee. At the same numeric
    target the floor mode must resolve a STRICTLY larger nprobe than
    the mean mode wherever mean > min (the whole point: 0.94 mean vs
    0.4 min at the default curve's 9.4% point)."""
    import pytest as _pytest

    from fuserank_spark.flagship import (
        TRAINED_AUTO_RECALL_CURVE,
        nprobe_for_target_recall,
    )

    curve = ((0.031, 0.70, 0.2), (0.094, 0.94, 0.4), (0.25, 0.997, 0.9))
    # mean mode 0.9 → 9.4% scan; floor mode 0.9 → 25% scan
    mean_np = nprobe_for_target_recall(0.9, 2828, curve=curve)
    floor_np = nprobe_for_target_recall(
        None, 2828, curve=curve, target_min_recall=0.9
    )
    assert mean_np == 266 and floor_np == 707
    assert floor_np > mean_np
    # floor above every measured min → implicit full-scan anchor
    assert nprobe_for_target_recall(
        None, 2828, curve=curve, target_min_recall=0.95
    ) == 2828
    # both targets: smallest fraction satisfying BOTH
    assert nprobe_for_target_recall(
        0.5, 2828, curve=curve, target_min_recall=0.9
    ) == 707
    # the frozen default constant carries the min column (r10 measured
    # data) and behaves the same way
    assert all(len(p) == 3 for p in TRAINED_AUTO_RECALL_CURVE)
    d_mean = nprobe_for_target_recall(0.9, 2828)
    d_floor = nprobe_for_target_recall(None, 2828, target_min_recall=0.9)
    assert d_floor > d_mean
    # pairs-only curve refuses floor mode (a mean curve can't promise one)
    with _pytest.raises(ValueError, match="min column"):
        nprobe_for_target_recall(
            None, 64, curve=((0.25, 0.9),), target_min_recall=0.5
        )
    # no target at all
    with _pytest.raises(ValueError, match="target_recall and/or"):
        nprobe_for_target_recall(None, 64)
    with _pytest.raises(ValueError, match="target_min_recall"):
        nprobe_for_target_recall(None, 64, target_min_recall=1.2)


def test_sweep_min_column_bridges_to_floor_mode(spark):
    """Multi-query fused_ivf_nprobe_sweep emits recall_min;
    curve_from_sweep passes it through as (frac, mean, min) triples
    that target_min_recall can consume end-to-end."""
    from fuserank_spark.eval_harness import fused_ivf_nprobe_sweep
    from fuserank_spark.flagship import (
        FUSED_IVF_CELLS,
        curve_from_sweep,
        nprobe_for_target_recall,
    )

    sweep = fused_ivf_nprobe_sweep(
        spark, SF_SMOKE, nprobes=(2, FUSED_IVF_CELLS), n_queries=3
    )
    assert set(sweep.columns) == {"nprobe", "recall", "recall_min"}
    rows = {r["nprobe"]: r for r in sweep.collect()}
    # min is a lower bound on the mean everywhere, and the full-scan
    # anchor is exact for every query by construction
    for r in rows.values():
        assert r["recall_min"] <= r["recall"] + 1e-12
    assert rows[FUSED_IVF_CELLS]["recall"] == 1.0
    assert rows[FUSED_IVF_CELLS]["recall_min"] == 1.0
    curve = curve_from_sweep(sweep, FUSED_IVF_CELLS)
    assert all(len(p) == 3 for p in curve)
    assert nprobe_for_target_recall(
        None, FUSED_IVF_CELLS, curve=curve, target_min_recall=1.0
    ) == FUSED_IVF_CELLS


def test_serve_persisted_target_recall(spark, tmp_path):
    """target_recall on the files-only serve path: a curve point at
    full scan fraction resolves to nprobe == n_cells, so the served
    top-k equals the exact fused top-k; head-quantizer indexes are
    refused (no measured curve — they collapse at auto cell counts)."""
    from fuserank_spark.flagship import (
        build_corpus_cached,
        build_fused_ivf_index,
        flagship_compiled,
        fused_ivf_serve_persisted,
    )

    idx = str(tmp_path / "tridx")
    meta = str(tmp_path / "tridx_meta.json")
    n_cells = build_fused_ivf_index(
        spark, SF_SMOKE, idx, meta, n_cells=4, quantizer="spherical", max_iter=5
    )
    assert n_cells == 4
    aux = {
        "lang": ((["en", "de"], False), 2.0),
        "source": (None, 1.0),
        "n_chars": ((120.0, 360.0, False), 1.5),
    }
    corpus = build_corpus_cached(spark, SF_SMOKE)
    cq = flagship_compiled(corpus)
    exact = [r["row_id"] for r in topk(corpus.encoded, cq.vector, k=10).collect()]
    served = [
        r["row_id"]
        for r in fused_ivf_serve_persisted(
            spark, idx, meta, k=10, aux_data=aux,
            target_recall=1.0, recall_curve=((1.0, 1.0),),
        ).select("row_id").collect()
    ]
    assert served == exact

    # r11: target_min_recall plumbs through the same path — a triple
    # curve whose min column only reaches the target at full scan
    # serves exactly, and floor mode on the head index is refused too
    served_floor = [
        r["row_id"]
        for r in fused_ivf_serve_persisted(
            spark, idx, meta, k=10, aux_data=aux,
            target_min_recall=1.0,
            recall_curve=((0.5, 1.0, 0.5), (1.0, 1.0, 1.0)),
        ).select("row_id").collect()
    ]
    assert served_floor == exact

    hidx = str(tmp_path / "hidx")
    hmeta = str(tmp_path / "hidx_meta.json")
    build_fused_ivf_index(spark, SF_SMOKE, hidx, hmeta, n_cells=4, quantizer="head")
    with pytest.raises(ValueError, match="head"):
        fused_ivf_serve_persisted(
            spark, hidx, hmeta, k=10, aux_data=aux, target_recall=0.9
        )
    with pytest.raises(ValueError, match="head"):
        fused_ivf_serve_persisted(
            spark, hidx, hmeta, k=10, aux_data=aux, target_min_recall=0.9
        )


def test_serve_persisted_default_curve_regime_guard(spark, tmp_path):
    """r10 (VERDICT r9 #1): the DEFAULT recall curve was measured in
    the auto cell-count regime (cells = 4·√n) and recall does not
    transfer across regimes at fixed scan fraction (0.69@1024 vs
    0.90@2828 cells at 9.4% scan, BASELINE.md r8/r9) — so a
    default-curve target_recall lookup refuses an index whose cell
    count is >2× off the auto sizing for its recorded corpus size,
    while (a) an in-regime index serves, and (b) an explicit
    corpus-measured recall_curve skips the check (it carries its own
    regime)."""
    import json

    from fuserank_spark.flagship import (
        build_fused_ivf_index,
        fused_ivf_serve_persisted,
        resolve_auto_cells,
    )

    aux = {"lang": ((["en", "de"], False), 2.0)}
    idx = str(tmp_path / "small_idx")
    meta = str(tmp_path / "small_meta.json")
    build_fused_ivf_index(
        spark, SF_SMOKE, idx, meta, n_cells=4, quantizer="spherical", max_iter=3
    )
    # the build records the corpus row count in the meta (VERDICT r9
    # missing #3) — the field the serve-time guard reads
    doc = json.load(open(meta))
    assert doc["extra"]["index_rows"] == doc["n_rows"] > 0
    # 4 cells vs resolve_auto_cells(500) = 88: out of regime → refuse
    assert not (
        resolve_auto_cells(doc["n_rows"], "spherical") / 2
        <= 4
        <= resolve_auto_cells(doc["n_rows"], "spherical") * 2
    )
    with pytest.raises(ValueError, match="default recall curve refused"):
        fused_ivf_serve_persisted(
            spark, idx, meta, k=5, aux_data=aux, target_recall=0.9
        )
    # an explicit measured curve on the same index skips the guard
    got = fused_ivf_serve_persisted(
        spark, idx, meta, k=5, aux_data=aux,
        target_recall=0.9, recall_curve=((1.0, 1.0),),
    ).collect()
    assert len(got) == 5

    # an index at the auto cell count (within 2×) serves on the
    # default curve
    idx2 = str(tmp_path / "auto_idx")
    meta2 = str(tmp_path / "auto_meta.json")
    n_cells = build_fused_ivf_index(
        spark, SF_SMOKE, idx2, meta2, n_cells="auto", quantizer="spherical",
        max_iter=3,
    )
    assert n_cells == resolve_auto_cells(json.load(open(meta2))["n_rows"], "spherical")
    got = fused_ivf_serve_persisted(
        spark, idx2, meta2, k=5, aux_data=aux, target_recall=0.9
    ).collect()
    assert len(got) == 5


def test_curve_from_sweep_bridges_to_target_recall(spark):
    """Measured sweep → curve points → nprobe lookup, end to end on
    the sf0.001 corpus: the full-probe point (nprobe == n_cells) has
    recall 1.0 by construction, so target_recall=1.0 resolves to a
    full scan through the measured curve."""
    from fuserank_spark.eval_harness import fused_ivf_nprobe_sweep
    from fuserank_spark.flagship import (
        FUSED_IVF_CELLS,
        curve_from_sweep,
        nprobe_for_target_recall,
    )

    sweep = fused_ivf_nprobe_sweep(
        spark, SF_SMOKE, nprobes=(1, FUSED_IVF_CELLS), k=10
    )
    curve = curve_from_sweep(sweep, FUSED_IVF_CELLS)
    assert curve[-1] == (1.0, 1.0)
    assert nprobe_for_target_recall(1.0, FUSED_IVF_CELLS, curve=curve) == FUSED_IVF_CELLS
    with pytest.raises(ValueError, match="empty sweep"):
        curve_from_sweep(sweep.limit(0), FUSED_IVF_CELLS)


def test_fused_ivf_arrow_assign_matches_expression(corpus):
    """r12: the serve path fuses cell assignment + probe pruning into
    the Arrow scan (search.topk assign_filter). The result must equal
    the old shape — simsearch.ivf_assign (expression argmin over
    rounded scores) + isin predicate + topk — row for row at every
    nprobe, on the REAL corpus (both metrics' tie/rounding domains
    exercised)."""
    from fuserank_spark.flagship import (
        FUSED_IVF_CELLS,
        _head_centroids,
        probe_cells,
    )
    from fuserank_spark.pipeline_ext.simsearch import ivf_assign

    cents = _head_centroids(corpus)
    cq = _compiled(corpus, {"lang": ((["en", "de"], False), 2.0),
                            "source": (None, 1.0),
                            "n_chars": ((120.0, 360.0, False), 1.5)})
    assigned = ivf_assign(
        corpus.encoded, cents, vec_col="vector", metric="ip", score_round=6
    )
    for nprobe in (1, 3, FUSED_IVF_CELLS):
        probed = probe_cells(cents, cq.vector, nprobe)
        old = topk(
            assigned, cq.vector, k=10,
            predicate=F.col("centroid_id").isin(probed),
        ).select("row_id", F.round("relevance", 6).alias("rel")).collect()
        new = topk(
            corpus.encoded, cq.vector, k=10,
            assign_filter=(cents, probed, "ip", 6),
        ).select("row_id", F.round("relevance", 6).alias("rel")).collect()
        assert [tuple(r) for r in new] == [tuple(r) for r in old], nprobe


def test_topk_assign_filter_l2_and_guards(corpus):
    """assign_filter 'l2' matches the expression assignment too, and
    a tie-break other than row_id refuses the option (the Arrow scan
    joins its hits back on row_id) instead of silently ignoring it."""
    import pytest as _pytest

    from fuserank_spark.flagship import _head_centroids
    from fuserank_spark.pipeline_ext.simsearch import ivf_assign

    cents = _head_centroids(corpus)
    cq = _compiled(corpus, {"lang": (None, 1.0), "source": (None, 1.0),
                            "n_chars": (None, 1.0)})
    assigned = ivf_assign(
        corpus.encoded, cents, vec_col="vector", metric="l2", score_round=6
    )
    probed = [0, 2, 5]
    old = topk(
        assigned, cq.vector, k=10,
        predicate=F.col("centroid_id").isin(probed),
    ).select("row_id").collect()
    new = topk(
        corpus.encoded, cq.vector, k=10,
        assign_filter=(cents, probed, "l2", 6),
    ).select("row_id").collect()
    assert [r["row_id"] for r in new] == [r["row_id"] for r in old]
    with _pytest.raises(ValueError, match="Arrow"):
        topk(
            corpus.encoded, cq.vector, k=10, tiebreak_col="doc_id",
            assign_filter=(cents, probed, "ip", 6),
        )
