"""Product quantization (PQ) for embedding columns: train per-subspace
codebooks, encode vectors to m small codes, and serve top-k via
asymmetric-distance (ADC) lookup-table scoring — the memory-bandwidth
scale path for vector search over a 100 TB corpus.

Reference parity: the reference serves ANN through faiss/Milvus
IVF_FLAT (/root/reference/src/eval/milvus_experiment.py:32,
src/eval/experiment.py FAISS index) — flat (uncompressed) cells. PQ
is the standard next step of the same published family (Jégou et al.,
"Product Quantization for Nearest Neighbor Search", TPAMI 2011; the
faiss IndexIVFPQ everyone runs in production): split each vector into
``m`` subvectors, vector-quantize each subspace with its own
``k``-centroid codebook, store only the m code ids.

Why this is THE 100 TB path:
* A 64-dim float32 vector is 256 B; its PQ code (m=8, k=16) is 8
  small ints — a 32× scan-size reduction BEFORE parquet encoding
  (dictionary + RLE shrink low-cardinality code columns further).
  The ADC scan over codes is memory-bandwidth-bound, so the speedup
  is proportional to the compression.
* ADC never reconstructs vectors: the query is cut into the same m
  subvectors, a per-query (m × k) lookup table of partial inner
  products is computed driver-side (tiny: m·k doubles), and each
  corpus row's score is ``Σ_j lut[j][code_j]`` — m array lookups +
  adds per row, pure JVM expressions inside whole-stage codegen.
* The optional REFINE step re-scores only the top ``k·refine_factor``
  ADC survivors with exact cosine via a broadcast semi-join on ids —
  the raw-vector table is touched for O(k) rows per query, never
  scanned.
* Composes with IVF (simsearch.ivf_*): partition-prune cells first,
  ADC-scan only probed cells — faiss IndexIVFPQ's exact layout,
  expressed as parquet partition pruning + codegen projection.

Determinism / oracle posture: encode + ADC serve are differentially
checked against DuckDB (q_pq_knn) with codebooks FROZEN as the
subvectors of the first ``k`` corpus rows (Forgy seeding — both
engines derive them; serve semantics don't depend on training).
All driver-side float reductions here use SEQUENTIAL Python sums,
bit-matching DuckDB's list_sum fold order — never np.sum, whose
pairwise summation can differ in the last ulp and flip a discrete
argmin code assignment. K-means *training* (Lloyd, bounded sample)
is not SQL-expressible and carries unit tests + bench entries
instead, exactly like IVF's split (ext_queries q_ivf_knn docstring).
"""

from __future__ import annotations

from functools import reduce

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..kernels import lloyd
from ..search import dot_expr, lit_vector, sql_ident, sql_lit
from .simsearch import _check_positive, _merge_topk, _probe_join, _refine_topk
from ..session import local_frame

MAX_QUERY_BATCH = 1024


def subspace_slices(dim: int, m: int) -> list[tuple[int, int]]:
    """[(start, end)) index ranges of the m equal subspaces."""
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m} subspaces")
    w = dim // m
    return [(j * w, (j + 1) * w) for j in range(m)]


def _seq_dot(a, b) -> float:
    """Sequential-order float64 dot — DuckDB list_sum fold order."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def _round9(x: float) -> float:
    """Portable half-up decimal rounding to 9 places: the EXPLICIT
    IEEE formula ``floor(x·1e9 + 0.5)/1e9`` rather than Python's
    banker's ``round`` or an engine's round() — a SQL twin evaluates
    the very same three IEEE ops on the same double and lands on the
    same bits. Used by portable Lloyd centroid updates, where the
    member-sum fold order is engine-dependent and must be quantized
    away before it feeds the next iteration's argmin."""
    import math as _m

    return _m.floor(x * 1e9 + 0.5) / 1e9


def forgy_codebooks(rows: list, dim: int, m: int, k: int) -> np.ndarray:
    """Codebooks frozen as the subvectors of the first ``k`` corpus
    vectors (Forgy seeding): codebooks[j][c] = rows[c][slice_j].
    Derivable in any engine from the data itself — no magic literals
    in the oracle twin."""
    if len(rows) < k:
        raise ValueError(f"need {k} seed rows, got {len(rows)}")
    slices = subspace_slices(dim, m)
    return np.array(
        [[[float(v) for v in rows[c][s:e]] for c in range(k)] for s, e in slices],
        dtype="float64",
    )


def train_pq(
    embeddings: DataFrame,
    *,
    dim: int,
    m: int = 8,
    k: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_n: int = 4096,
    iters: int = 10,
    seed: int = 42,
    portable: bool = False,
) -> np.ndarray:
    """Train per-subspace codebooks with Lloyd k-means on a BOUNDED
    deterministic sample (orderBy id, limit) — driver-side numpy over
    at most ``sample_n`` rows, like simsearch.ivf_build's bounded
    training. Returns (m, k, dim/m) float64 codebooks.

    Each subspace trains with :func:`kernels.lloyd` (farthest-point
    empty-cluster repair), all subspaces drawing their random init
    from ONE ``default_rng(seed)`` stream in subspace order.

    ``portable=True`` runs the CROSS-ENGINE-DETERMINISTIC Lloyd
    variant (same objective, three differences that make every
    centroid bit-reproducible in a SQL engine, enabling the
    q_pq_trained differential oracle):
    * Forgy init from the FIRST k sample rows (derivable in SQL; no
      RNG), like forgy_codebooks;
    * centroid updates quantized with :func:`_round9` — member-sum
      fold order is engine-dependent, so the mean is rounded to 9
      decimals before feeding the next argmin;
    * empty clusters KEEP their previous centroid (a LEFT JOIN +
      coalesce in SQL) instead of farthest-point reseeding.
    All distance sums fold sequentially (DuckDB list_sum order)."""
    rows = (
        embeddings.orderBy(id_col)
        .limit(sample_n)
        .select(F.col(vec_col).cast("array<double>").alias("v"))
        .collect()
    )
    if len(rows) < k:
        raise ValueError(f"sample has {len(rows)} rows < k={k} codes")
    if portable:
        return _train_pq_portable([r["v"] for r in rows], dim, m, k, iters)
    x = np.array([r["v"] for r in rows], dtype="float64")
    if x.shape[1] != dim:
        raise ValueError(f"vectors are {x.shape[1]}-dim, expected {dim}")
    rng = np.random.default_rng(seed)
    books = [lloyd(x[:, s:e], k, iters, rng) for s, e in subspace_slices(dim, m)]
    return np.array(books, dtype="float64")


def _train_pq_portable(
    sample: list, dim: int, m: int, k: int, iters: int
) -> np.ndarray:
    """Pure-Python sequential-arithmetic Lloyd (see train_pq
    ``portable=True``). Every float op here has an exact SQL twin:
    distances fold left-to-right over each w-dim subvector, member
    sums accumulate in sample order but are quantized by _round9
    before use, assignment ties break to the lowest code id."""
    if any(len(v) != dim for v in sample):
        raise ValueError(f"portable sample has vectors != {dim}-dim")
    slices = subspace_slices(dim, m)
    books = []
    for s, e in slices:
        w = e - s
        sub = [[float(v) for v in row[s:e]] for row in sample]
        cents = [list(sub[c]) for c in range(k)]
        for _ in range(iters):
            csqs = [_seq_dot(c, c) for c in cents]
            sums = [[0.0] * w for _ in range(k)]
            counts = [0] * k
            for row in sub:
                best, bestd = 0, None
                for c in range(k):
                    d = csqs[c] - 2.0 * _seq_dot(row, cents[c])
                    if bestd is None or d < bestd:
                        best, bestd = c, d
                for i in range(w):
                    sums[best][i] += row[i]
                counts[best] += 1
            for c in range(k):
                if counts[c]:
                    cents[c] = [
                        _round9(sums[c][i] / counts[c]) for i in range(w)
                    ]
                # else: keep previous centroid (SQL: LEFT JOIN + coalesce)
        books.append(cents)
    return np.array(books, dtype="float64")


def _sub_expr(vec_col: str, s: int, e: int) -> F.Column:
    """array<double> slice [s, e) of the (cast) vector column."""
    return F.slice(F.col(vec_col).cast("array<double>"), s + 1, e - s)


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    *,
    vec_col: str = "embedding",
    out_col: str = "pq_code",
    keep_vec: bool = False,
) -> DataFrame:
    """Assign each vector its m-code PQ word — EXPRESSION-ONLY, whole
    plan stays in codegen. Per subspace j the nearest code minimizes
    ``csq_c − 2·<x_j, c>`` (the ‖x_j‖² term is constant across codes
    and dropped); ties go to the lowest code id via struct-min, the
    same shape as simsearch.ivf_assign.

    csq literals are computed with SEQUENTIAL Python sums so they
    bit-match an engine that folds ``list_sum(x*x)`` left-to-right
    (see module docstring); the per-code dot product folds the same
    way via zip_with + aggregate. The codebook rides as a LITERAL
    nested array consumed by higher-order functions — a fully
    unrolled 2·m·k-term expression compiles ~7s of Janino codegen
    before the first row, the HOF loop form compiles instantly at
    identical results (bit-equality pinned by the q_pq_knn oracle).
    Output code array is array<int>.

    A short / long / NULL vector would otherwise slice to nulls and
    silently produce wrong codes — guarded with raise_error, the
    runtime mirror of train_pq's dim check."""
    m, k, _w = codebooks.shape
    dim = m * _w
    df = df.withColumn(
        vec_col,
        F.when(F.size(F.col(vec_col)) == dim, F.col(vec_col)).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"pq_encode: vector length != {dim} (got "),
                    F.coalesce(
                        F.size(F.col(vec_col)).cast("string"), F.lit("NULL")
                    ),
                    F.lit(")"),
                )
            )
        ),
    )
    slices = subspace_slices(m * _w, m)
    code_cols = []
    for j, (s, e) in enumerate(slices):
        # materialize the subvector once per subspace — Catalyst does
        # not CSE it across the distance expressions (CLAUDE.md trap)
        sub_name = f"__pq_sub{j}"
        df = df.withColumn(sub_name, _sub_expr(vec_col, s, e))
        cents = []
        csqs = []
        for c in range(k):
            cent = [float(v) for v in codebooks[j][c]]
            csq = 0.0
            for v in cent:
                csq += v * v
            cents.append(lit_vector(cent))
            csqs.append(sql_lit(csq))
        # argmin over the codewords cv of ||cv||² − 2·<sub, cv>, the
        # lowest code on ties (array_min compares the (d, c) structs)
        code_cols.append(F.expr(
            f"array_min(transform(array({', '.join(cents)}), (cv, i) -> struct("
            f"element_at(array({', '.join(csqs)}), i + 1) - 2.0D * {dot_expr(sql_ident(sub_name), 'cv')}"
            " AS d, CAST(i AS INT) AS c))).c"
        ))
    out = df.withColumn(out_col, F.array(*code_cols))
    drop = [f"__pq_sub{j}" for j in range(m)]
    if not keep_vec:
        drop.append(vec_col)
    return out.drop(*drop)


def adc_lut(codebooks: np.ndarray, qvec) -> list[list[float]]:
    """Per-query (m × k) table of partial inner products
    ``<q_j, c_{j,code}>`` — sequential-sum doubles (oracle fold
    order). Driver-side and tiny: m·k floats."""
    m, k, w = codebooks.shape
    q = [float(v) for v in qvec]
    if len(q) != m * w:
        raise ValueError(f"query is {len(q)}-dim, codebooks expect {m * w}")
    return [
        [_seq_dot(q[j * w : (j + 1) * w], codebooks[j][c]) for c in range(k)]
        for j in range(m)
    ]


def pq_adc_topk(
    codes: DataFrame,
    codebooks: np.ndarray,
    queries: list[tuple],
    *,
    k: int = 10,
    key_col: str = "vec_id",
    code_col: str = "pq_code",
    refine_with: DataFrame | None = None,
    refine_factor: int = 4,
    vec_col: str = "embedding",
    max_query_batch: int = MAX_QUERY_BATCH,
) -> DataFrame:
    """Batch ADC top-k over PQ codes: score every code row with m LUT
    lookups + adds, two-phase top-k merge (_merge_topk — no per-query
    hot key). ``queries`` is a driver-side batch of (query_id,
    vector); batches above ``max_query_batch`` are AUTO-CHUNKED so
    each LUT broadcast stays bounded, and the per-chunk results union
    (identical to one-shot: per-query top-k is independent).

    Output: (query_id, vec_id, rnk, adc). With ``refine_with`` (the
    raw-vector table) the top ``k·refine_factor`` ADC survivors are
    re-scored with exact cosine via a broadcast id join — output
    column becomes ``cosine`` and ranks follow the exact scores
    (faiss IVFPQ + refine layout)."""
    # rank on the ROUNDED score: Spark sums the m LUT terms in fixed
    # order while a SQL oracle's GROUP BY sum folds arbitrarily, so
    # near-tied raw doubles could flip ranks across engines; rounding
    # before ranking makes the tie-break domain identical.
    return _serve(
        codes, queries, lambda spark, qs: _lut_frame(spark, codebooks, qs),
        F.round(_adc_score_expr(code_col, codebooks.shape[0]), 6), probe=None,
        k=k, key_col=key_col, refine_with=refine_with, refine_factor=refine_factor,
        vec_col=vec_col, max_query_batch=max_query_batch,
    )


def _serve(
    codes: DataFrame,
    queries: list[tuple],
    query_frame,
    score: Column,
    *,
    probe: tuple | None,
    k: int,
    key_col: str,
    refine_with: DataFrame | None,
    refine_factor: int,
    vec_col: str,
    max_query_batch: int,
) -> DataFrame:
    """The one batch serve of the quantized family; a tier supplies
    only ``query_frame(spark, queries)`` — its per-query broadcast
    frame (query_id plus the tier's LUT / bias and weights / packed
    words) — and ``score``, the Column that scores one code row
    against one query row of that frame.

    ``probe=None`` crossJoins the broadcast query frame (the flat
    serve). ``probe=(centroids, nprobe, cell_col)`` first restricts
    ``codes`` to each query's nprobe nearest cells (simsearch
    _probe_join: static ``isin`` pruning, then the broadcast probe
    join) — the IVF serve. Scored rows merge two-phase on the
    ``adc`` score (_merge_topk — no per-query hot key); with
    ``refine_with`` the top ``k·refine_factor`` survivors re-score by
    exact cosine (simsearch._refine_topk). Batches above
    ``max_query_batch`` run cap-sized chunks whose results union: each
    broadcast stays bounded, and per-query top-k is independent across
    queries, so the union equals the one-shot result."""
    if not queries:
        raise ValueError("empty query batch")
    qids = [qid for qid, _ in queries]
    if len(set(qids)) != len(qids):
        raise ValueError("duplicate query_id in batch")
    _check_positive(k=k, refine_factor=refine_factor, max_query_batch=max_query_batch)
    if probe is not None:
        _check_positive(nprobe=probe[1])
    spark = codes.sparkSession
    parts = []
    for i in range(0, len(queries), max_query_batch):
        qs = queries[i : i + max_query_batch]
        qf = F.broadcast(query_frame(spark, qs))
        if probe is None:
            joined = codes.crossJoin(qf)
        else:
            centroids, nprobe, cell_col = probe
            joined = _probe_join(codes, centroids, qs, nprobe, cell_col).join(qf, "query_id")
        scored = joined.select("query_id", F.col(key_col), score.alias("adc"))
        if refine_with is None:
            part = _merge_topk(scored, k, "query_id", key_col, score_col="adc")
        else:
            cand = _merge_topk(scored, k * refine_factor, "query_id", key_col, score_col="adc")
            qvecs = local_frame(
                spark,
                [(int(qid), [float(v) for v in qv]) for qid, qv in qs],
                "query_id bigint, __qv array<double>",
            )
            part = _refine_topk(
                refine_with, cand, qvecs, k,
                vec_col=vec_col, key_col=key_col, query_key="query_id", query_vec="__qv",
            )
        parts.append(part)
    return reduce(DataFrame.unionByName, parts)


def _lut_frame(spark, codebooks: np.ndarray, queries: list[tuple]) -> DataFrame:
    return local_frame(spark, 
        [(int(qid), adc_lut(codebooks, qv)) for qid, qv in queries],
        "query_id bigint, __lut array<array<double>>",
    )


def _adc_score_expr(code_col: str, m: int):
    score = None
    for j in range(m):
        term = F.element_at(
            F.element_at("__lut", j + 1),
            F.element_at(F.col(code_col), j + 1) + F.lit(1),
        )
        score = term if score is None else score + term
    return score


def ivf_pq_knn(
    codes: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    queries: list[tuple],
    *,
    k: int = 10,
    nprobe: int = 3,
    key_col: str = "vec_id",
    code_col: str = "pq_code",
    cell_col: str = "centroid_id",
    refine_with: DataFrame | None = None,
    refine_factor: int = 4,
    vec_col: str = "embedding",
    max_query_batch: int = MAX_QUERY_BATCH,
) -> DataFrame:
    """IVF-PQ serve — the faiss IndexIVFPQ layout on Spark: ``codes``
    carries both the coarse cell (simsearch.ivf_assign; persist with
    ivf_persist so the cell filter prunes parquet partitions) and the
    PQ code word. Per query, the ``nprobe`` nearest cells by centroid
    cosine are chosen driver-side (tiny centroid matrix); a STATIC
    ``isin`` over the union of probed cells does the pruning, the
    broadcast (query, cell) probe table restricts scoring to each
    query's own cells, and ADC + two-phase merge (+ optional exact
    refine) finish exactly like :func:`pq_adc_topk`.

    With ``nprobe == n_centroids`` the result is identical to
    unpartitioned ADC (tested); smaller nprobe trades recall for
    scanning nprobe/n_cells of the codes. Batches above
    ``max_query_batch`` auto-chunk like :func:`pq_adc_topk`."""
    return _serve(
        codes, queries, lambda spark, qs: _lut_frame(spark, codebooks, qs),
        F.round(_adc_score_expr(code_col, codebooks.shape[0]), 6),
        probe=(centroids, nprobe, cell_col),
        k=k, key_col=key_col, refine_with=refine_with, refine_factor=refine_factor,
        vec_col=vec_col, max_query_batch=max_query_batch,
    )


def pq_recall_at_k(
    embeddings: DataFrame,
    codebooks: np.ndarray,
    queries: list[tuple],
    *,
    k: int = 10,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
    refine_factor: int = 4,
) -> float:
    """Recall@k of the refined ADC path vs exact cosine — the eval
    loop for choosing (m, k, refine_factor), mirroring the
    reference's fused-vs-oracle recall methodology
    (/root/reference/src/eval/evaluate.py:156-202)."""
    from .simsearch import brute_force_knn

    spark = embeddings.sparkSession
    codes = pq_encode(embeddings, codebooks, vec_col=vec_col)
    approx = pq_adc_topk(
        codes,
        codebooks,
        queries,
        k=k,
        key_col=key_col,
        refine_with=embeddings,
        refine_factor=refine_factor,
        vec_col=vec_col,
    )
    qdf = local_frame(spark, 
        [(qid, [float(v) for v in qv]) for qid, qv in queries],
        "query_id bigint, qvec array<double>",
    )
    exact = brute_force_knn(embeddings, qdf, k=k, vec_col=vec_col, key_col=key_col)
    hit = approx.join(
        exact.select("query_id", key_col), ["query_id", key_col], "left_semi"
    ).count()
    return hit / (len(queries) * k)


# ---------------------------------------------------------------------------
# Scalar quantization (SQ8): per-dimension uniform int8 codes
# ---------------------------------------------------------------------------

SQ_LEVELS = 255


def sq_train(
    embeddings: DataFrame,
    *,
    dim: int,
    vec_col: str = "embedding",
) -> tuple[list[float], list[float]]:
    """Fit per-dimension uniform quantizer params in ONE aggregate
    pass: returns ``(mins, scales)`` with ``scales[i] =
    (max_i - min_i) / 255`` — the faiss ``IndexScalarQuantizer``
    (QT_8bit) layout, the lighter sibling of PQ: 4x smaller than
    float32 at far lower distortion than PQ's m-code words, and the
    codes stay per-dimension so ADC is a plain weighted sum (no
    lookup tables).

    Reference parity: the reference serves flat float vectors via
    faiss/Milvus (/root/reference/src/eval/milvus_experiment.py:32);
    SQ8 is the standard first compression step of that same family.

    Scale posture: the fit is 2*dim min/max aggregates — map-side
    combine, no explode, no shuffle beyond the 1-row final combine;
    the output is 2*dim doubles on the driver. min/max are
    order-independent, so the params are bit-identical across
    engines (no fold-order quantization needed, unlike Lloyd means).

    NULL / short vectors contribute nothing to dims they lack
    (element_at past the end is NULL, which min/max skip); encode is
    where length is enforced (:func:`sq_encode`)."""
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    aggs = []
    for i in range(dim):
        e = F.element_at(F.col(vec_col), i + 1).cast("double")
        aggs.append(F.min(e).alias(f"__mn{i}"))
        aggs.append(F.max(e).alias(f"__mx{i}"))
    row = embeddings.agg(*aggs).collect()[0]
    mins: list[float] = []
    scales: list[float] = []
    for i in range(dim):
        mn, mx = row[f"__mn{i}"], row[f"__mx{i}"]
        if mn is None or mx is None:
            raise ValueError(f"sq_train: dimension {i} has no non-null values")
        mn, mx = float(mn), float(mx)
        mins.append(mn)
        scales.append((mx - mn) / float(SQ_LEVELS))
    return mins, scales


def sq_encode(
    df: DataFrame,
    mins: list[float],
    scales: list[float],
    *,
    vec_col: str = "embedding",
    out_col: str = "sq_code",
    keep_vec: bool = False,
) -> DataFrame:
    """Quantize each vector to ``array<int>`` codes in [0, 255]:
    ``code_i = clamp(floor((x_i - min_i)/scale_i + 0.5), 0, 255)``
    (constant dimensions — scale 0 — encode as 0 and dequantize back
    to the constant). EXPRESSION-ONLY: params ride as literal arrays
    consumed by a transform-over-sequence HOF, the whole plan stays
    in codegen, and the explicit IEEE ``floor(x + 0.5)`` form is the
    portable-rounding discipline (CLAUDE.md) — a SQL twin evaluates
    the same three ops on the same doubles and lands on the same
    codes. Short / long / NULL vectors raise (pq_encode precedent:
    silent null-slicing would mis-encode)."""
    dim = len(mins)
    if len(scales) != dim:
        raise ValueError(f"mins ({dim}) and scales ({len(scales)}) differ")
    df = df.withColumn(
        vec_col,
        F.when(F.size(F.col(vec_col)) == dim, F.col(vec_col)).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"sq_encode: vector length != {dim} (got "),
                    F.coalesce(
                        F.size(F.col(vec_col)).cast("string"), F.lit("NULL")
                    ),
                    F.lit(")"),
                )
            )
        ),
    )
    mn_arr = F.expr(lit_vector(mins))
    sc_arr = F.expr(lit_vector(scales))

    def one(i):
        x = F.element_at(F.col(vec_col), i).cast("double")
        mn = F.element_at(mn_arr, i)
        sc = F.element_at(sc_arr, i)
        raw = F.floor((x - mn) / sc + F.lit(0.5))
        clamped = F.least(
            F.lit(SQ_LEVELS).cast("bigint"),
            F.greatest(F.lit(0).cast("bigint"), raw),
        )
        return F.when(sc == F.lit(0.0), F.lit(0)).otherwise(
            clamped.cast("int")
        )

    codes = F.transform(F.sequence(F.lit(1), F.lit(dim)), one)
    out = df.withColumn(out_col, codes)
    return out if keep_vec else out.drop(vec_col)


def sq_adc_topk(
    codes: DataFrame,
    mins: list[float],
    scales: list[float],
    queries: list[tuple],
    *,
    k: int = 10,
    key_col: str = "vec_id",
    code_col: str = "sq_code",
    refine_with: DataFrame | None = None,
    refine_factor: int = 4,
    vec_col: str = "embedding",
    max_query_batch: int = MAX_QUERY_BATCH,
) -> DataFrame:
    """Batch asymmetric-inner-product top-k over SQ8 codes. The
    dequantized score ``sum_i q_i*(min_i + code_i*scale_i)`` is
    decomposed driver-side into ``bias + sum_i w_i*code_i`` with
    ``bias = <q, mins>`` (sequential fold) and ``w_i = q_i*scale_i``,
    so the scan is one zip_with + aggregate over the code array per
    (row, query) — pure codegen, no lookup tables, no raw vectors.
    Broadcast (query_id, bias, w) rows; two-phase top-k merge;
    over-cap batches auto-chunk; optional exact-cosine refine — all
    exactly the :func:`pq_adc_topk` contract. Scores are rounded to
    6 before ranking (cross-engine tie-break domain)."""
    return _serve(
        codes, queries, lambda spark, qs: _sq_query_frame(spark, mins, scales, qs),
        F.round(_sq_score_expr(code_col), 6), probe=None,
        k=k, key_col=key_col, refine_with=refine_with, refine_factor=refine_factor,
        vec_col=vec_col, max_query_batch=max_query_batch,
    )


def _sq_query_frame(spark, mins, scales, queries: list[tuple]) -> DataFrame:
    dim = len(mins)
    rows = []
    for qid, qv in queries:
        q = [float(v) for v in qv]
        if len(q) != dim:
            raise ValueError(f"query is {len(q)}-dim, params expect {dim}")
        rows.append(
            (int(qid), _seq_dot(q, mins), [q[i] * scales[i] for i in range(dim)])
        )
    return local_frame(spark, 
        rows, "query_id bigint, __bias double, __w array<double>"
    )


def _sq_score_expr(code_col: str):
    return F.col("__bias") + F.aggregate(
        F.zip_with(
            F.col(code_col), F.col("__w"), lambda c, w: c.cast("double") * w
        ),
        F.lit(0.0).cast("double"),
        lambda a, x: a + x,
    )


def ivf_sq_knn(
    codes: DataFrame,
    centroids: np.ndarray,
    mins: list[float],
    scales: list[float],
    queries: list[tuple],
    *,
    k: int = 10,
    nprobe: int = 3,
    key_col: str = "vec_id",
    code_col: str = "sq_code",
    cell_col: str = "centroid_id",
    refine_with: DataFrame | None = None,
    refine_factor: int = 4,
    vec_col: str = "embedding",
    max_query_batch: int = MAX_QUERY_BATCH,
) -> DataFrame:
    """IVF-SQ serve — faiss ``IndexIVFScalarQuantizer`` on Spark:
    ``codes`` carries the coarse cell (simsearch.ivf_assign;
    persisted via ivf_persist the cell filter prunes parquet
    partitions) and the SQ8 code array. Probe selection, static isin
    pruning, broadcast probe join, ADC scoring and optional refine
    all mirror :func:`ivf_pq_knn`; with ``nprobe == n_centroids``
    the result is identical to unpartitioned :func:`sq_adc_topk`
    (tested)."""
    return _serve(
        codes, queries, lambda spark, qs: _sq_query_frame(spark, mins, scales, qs),
        F.round(_sq_score_expr(code_col), 6), probe=(centroids, nprobe, cell_col),
        k=k, key_col=key_col, refine_with=refine_with, refine_factor=refine_factor,
        vec_col=vec_col, max_query_batch=max_query_batch,
    )


# ---------------------------------------------------------------------------
# Binary quantization (BQ): 1-bit sign codes packed into 32-bit words,
# Hamming-distance serve. The most aggressive member of the quantization
# family built here (PQ: train_pq, SQ8: sq_train) — 32x smaller than
# float32, and the scan score is a pure integer popcount, the cheapest
# possible per-row work. Reference parity: the reference serves flat
# vectors via faiss/Milvus (/root/reference/src/eval/
# milvus_experiment.py:32); BQ is the binary-flat member of that same
# family (faiss IndexBinaryFlat / the "binary quantization" tier of
# production vector stores), standard public technique.
# ---------------------------------------------------------------------------

BQ_WORD_BITS = 32
"""Bits packed per code word. 32 (not 64) so every word is a POSITIVE
bigint built with shifts < 32 — a 1<<63 sign-bit word would error in a
DuckDB twin's left shift and wrap negative under Java semantics; 32-bit
words sidestep the portability edge entirely (CLAUDE.md hashing
corollary's spirit: never depend on engine overflow behavior)."""


def bq_train(
    embeddings: DataFrame,
    *,
    dim: int,
    vec_col: str = "embedding",
) -> list[float]:
    """Fit per-dimension sign thresholds for 1-bit quantization in ONE
    aggregate pass: the per-dim mean, rounded half-away to 9 decimals
    (:func:`_round9`). Mean-centering each dimension before taking the
    sign bit is the standard zero-cost recall upgrade over raw
    ``sign(x)`` for non-centered embeddings.

    The ROUNDED values are the quantizer (frozen-codebook doctrine,
    q_pq_knn precedent): ``avg`` is fold-order-dependent across
    engines, so the unrounded means could differ in the last ulp and
    flip a ``x > thr`` bit near the boundary; freezing to 9 decimals
    makes the thresholds exactly representable in a SQL twin and the
    encode comparison bit-identical.

    Scale posture: ``dim`` avg aggregates — map-side combine, 1-row
    result, no shuffle beyond the final combine."""
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    aggs = [
        F.avg(F.element_at(F.col(vec_col), i + 1).cast("double")).alias(
            f"__t{i}"
        )
        for i in range(dim)
    ]
    row = embeddings.agg(*aggs).collect()[0]
    out: list[float] = []
    for i in range(dim):
        v = row[f"__t{i}"]
        if v is None:
            raise ValueError(f"bq_train: dimension {i} has no non-null values")
        out.append(_round9(float(v)))
    return out


def bq_n_words(dim: int) -> int:
    return (dim + BQ_WORD_BITS - 1) // BQ_WORD_BITS


def bq_encode(
    df: DataFrame,
    thresholds: list[float],
    *,
    vec_col: str = "embedding",
    out_col: str = "bq_code",
    keep_vec: bool = False,
) -> DataFrame:
    """Pack each vector's sign bits (``x_i > thr_i``) into an
    ``array<bigint>`` of ``ceil(dim/32)`` 32-bit words, bit ``j`` of
    word ``w`` covering dimension ``32w + j`` (0-based, LSB-first).
    EXPRESSION-ONLY: thresholds and the 32 powers of two ride as
    literal arrays consumed by a transform-over-words /
    aggregate-over-bits HOF pair — the whole encode stays in codegen,
    no UDF. A NULL element contributes a 0 bit (documented: NULL is
    "not above threshold"); wrong-length / NULL vectors raise
    (sq_encode precedent — silent null-slicing would mis-encode)."""
    dim = len(thresholds)
    if dim < 1:
        raise ValueError("thresholds must be non-empty")
    n_words = bq_n_words(dim)
    df = df.withColumn(
        vec_col,
        F.when(F.size(F.col(vec_col)) == dim, F.col(vec_col)).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(f"bq_encode: vector length != {dim} (got "),
                    F.coalesce(
                        F.size(F.col(vec_col)).cast("string"), F.lit("NULL")
                    ),
                    F.lit(")"),
                )
            )
        ),
    )
    thr_arr = F.expr(lit_vector(thresholds))
    pw_arr = F.array(
        *[F.lit(1 << j).cast("bigint") for j in range(BQ_WORD_BITS)]
    )
    zero = F.lit(0).cast("bigint")

    def one_word(w):
        def step(acc, j):
            pos = w * F.lit(BQ_WORD_BITS) + j  # 1-based dim position
            set_bit = (pos <= F.lit(dim)) & (
                F.element_at(F.col(vec_col), pos) > F.element_at(thr_arr, pos)
            )
            return acc + F.when(set_bit, F.element_at(pw_arr, j)).otherwise(
                zero
            )

        return F.aggregate(
            F.sequence(F.lit(1), F.lit(BQ_WORD_BITS)), zero, step
        )

    words = F.transform(F.sequence(F.lit(0), F.lit(n_words - 1)), one_word)
    out = df.withColumn(out_col, words)
    return out if keep_vec else out.drop(vec_col)


def bq_query_words(thresholds: list[float], qv) -> list[int]:
    """Driver-side twin of :func:`bq_encode` for a single query vector
    — same comparison, same LSB-first packing."""
    dim = len(thresholds)
    q = [float(v) for v in qv]
    if len(q) != dim:
        raise ValueError(f"query is {len(q)}-dim, thresholds expect {dim}")
    words = []
    for w in range(bq_n_words(dim)):
        word = 0
        for j in range(BQ_WORD_BITS):
            idx = w * BQ_WORD_BITS + j
            if idx < dim and q[idx] > thresholds[idx]:
                word |= 1 << j
        words.append(word)
    return words


def _bq_query_frame(spark, thresholds: list[float], queries: list[tuple]) -> DataFrame:
    return local_frame(spark, 
        [(int(qid), bq_query_words(thresholds, qv)) for qid, qv in queries],
        "query_id bigint, __qw array<bigint>",
    )


def _bq_score_expr(code_col: str, dim: int):
    """±1-dot estimate from packed Hamming distance: if both vectors
    are sign patterns over ``dim`` dims, ``dot = dim - 2*hamming``.
    Integer-valued throughout — the no-refine serve needs NO float
    rounding for cross-engine parity (round(int, 6) is the identity
    both sides).

    UNROLLED over the (compile-time-known, tiny) word count rather
    than a zip_with/aggregate HOF — the _adc_score_expr lesson: the
    hot scan expression should be a flat codegen sum of
    ``bit_count(xor)`` terms, not a per-row lambda pipeline allocating
    intermediate arrays (n_words = ceil(dim/32) ≤ a handful, so the
    expression tree stays small)."""
    n_words = bq_n_words(dim)
    ham = None
    for w in range(1, n_words + 1):
        term = F.bit_count(
            F.element_at(F.col(code_col), w).bitwiseXOR(
                F.element_at(F.col("__qw"), w)
            )
        ).cast("bigint")
        ham = term if ham is None else ham + term
    return (F.lit(dim).cast("bigint") - F.lit(2).cast("bigint") * ham).cast(
        "double"
    )


def bq_hamming_topk(
    codes: DataFrame,
    thresholds: list[float],
    queries: list[tuple],
    *,
    k: int = 10,
    key_col: str = "vec_id",
    code_col: str = "bq_code",
    refine_with: DataFrame | None = None,
    refine_factor: int = 4,
    vec_col: str = "embedding",
    max_query_batch: int = MAX_QUERY_BATCH,
) -> DataFrame:
    """Batch top-k over packed sign codes by the Hamming-derived
    ±1-dot score ``dim - 2*popcount(xor)`` — per (row, query) the scan
    work is ``n_words`` xor+popcount+add integer ops in codegen, the
    cheapest serve in the quantization family. Broadcast
    (query_id, packed-query) rows; two-phase top-k merge; over-cap
    batches auto-chunk; optional exact-cosine refine — all exactly the
    :func:`pq_adc_topk` / :func:`sq_adc_topk` contract. Ties
    (score desc, key asc) are integer-exact, so a SQL twin needs no
    rounding discipline at all on the unrefined path."""
    return _serve(
        codes, queries, lambda spark, qs: _bq_query_frame(spark, thresholds, qs),
        _bq_score_expr(code_col, len(thresholds)), probe=None,
        k=k, key_col=key_col, refine_with=refine_with, refine_factor=refine_factor,
        vec_col=vec_col, max_query_batch=max_query_batch,
    )


def ivf_bq_knn(
    codes: DataFrame,
    centroids: np.ndarray,
    thresholds: list[float],
    queries: list[tuple],
    *,
    k: int = 10,
    nprobe: int = 3,
    key_col: str = "vec_id",
    code_col: str = "bq_code",
    cell_col: str = "centroid_id",
    refine_with: DataFrame | None = None,
    refine_factor: int = 4,
    vec_col: str = "embedding",
    max_query_batch: int = MAX_QUERY_BATCH,
) -> DataFrame:
    """IVF-BQ serve: coarse cells prune the scan (parquet partition
    pruning when persisted via ivf_persist), packed-Hamming scoring
    inside probed cells — the binary sibling of :func:`ivf_sq_knn` /
    :func:`ivf_pq_knn` (faiss ``IndexBinaryIVF``). With ``nprobe ==
    n_centroids`` identical to unpartitioned :func:`bq_hamming_topk`
    (tested)."""
    return _serve(
        codes, queries, lambda spark, qs: _bq_query_frame(spark, thresholds, qs),
        _bq_score_expr(code_col, len(thresholds)), probe=(centroids, nprobe, cell_col),
        k=k, key_col=key_col, refine_with=refine_with, refine_factor=refine_factor,
        vec_col=vec_col, max_query_batch=max_query_batch,
    )


def quantization_recall_report(
    embeddings: DataFrame,
    queries: list[tuple],
    *,
    dim: int,
    k: int = 10,
    refine_factor: int = 4,
    m: int = 8,
    pq_codebook_k: int = 16,
    key_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Recall@k of every member of the quantization family — PQ (ADC,
    trained Lloyd codebooks), SQ8 and BQ, each with and without the
    exact-cosine refine at the SAME ``refine_factor`` — against one
    shared exact brute-force oracle. The one-call answer to "which
    compression tier do I serve at": compression is fixed by the
    family (PQ m codes / SQ8 1 byte-per-dim / BQ 1 bit-per-dim), this
    reports the quality axis (the reference's fused-vs-oracle recall
    methodology, /root/reference/src/eval/evaluate.py:156-202, applied
    across tiers).

    The exact oracle and every encode run once per call; the corpus is
    scanned once per family serve — eval-class cost, bounded by the
    query batch like every serve path here."""
    from .simsearch import brute_force_knn

    spark = embeddings.sparkSession
    qdf = local_frame(spark, 
        [(qid, [float(v) for v in qv]) for qid, qv in queries],
        "query_id bigint, qvec array<double>",
    )
    exact = (
        brute_force_knn(embeddings, qdf, k=k, vec_col=vec_col, key_col=key_col)
        .select("query_id", key_col)
        .cache()
    )
    denom = len(queries) * k

    def _recall(approx: DataFrame) -> float:
        hit = approx.join(exact, ["query_id", key_col], "left_semi").count()
        return round(hit / denom, 4)

    report: dict = {"k": k, "refine_factor": refine_factor, "n_queries": len(queries)}

    books = train_pq(embeddings, dim=dim, m=m, k=pq_codebook_k, vec_col=vec_col)
    pq_codes = pq_encode(embeddings, books, vec_col=vec_col)
    report["pq_raw"] = _recall(
        pq_adc_topk(pq_codes, books, queries, k=k, key_col=key_col)
    )
    report["pq_refined"] = _recall(
        pq_adc_topk(
            pq_codes, books, queries, k=k, key_col=key_col,
            refine_with=embeddings, refine_factor=refine_factor, vec_col=vec_col,
        )
    )

    mins, scales = sq_train(embeddings, dim=dim, vec_col=vec_col)
    sq_codes = sq_encode(embeddings, mins, scales, vec_col=vec_col)
    report["sq8_raw"] = _recall(
        sq_adc_topk(sq_codes, mins, scales, queries, k=k, key_col=key_col)
    )
    report["sq8_refined"] = _recall(
        sq_adc_topk(
            sq_codes, mins, scales, queries, k=k, key_col=key_col,
            refine_with=embeddings, refine_factor=refine_factor, vec_col=vec_col,
        )
    )

    thr = bq_train(embeddings, dim=dim, vec_col=vec_col)
    bq_codes = bq_encode(embeddings, thr, vec_col=vec_col)
    report["bq_raw"] = _recall(
        bq_hamming_topk(bq_codes, thr, queries, k=k, key_col=key_col)
    )
    report["bq_refined"] = _recall(
        bq_hamming_topk(
            bq_codes, thr, queries, k=k, key_col=key_col,
            refine_with=embeddings, refine_factor=refine_factor, vec_col=vec_col,
        )
    )
    exact.unpersist()
    return report


# ------------------------------------------------------------------- PCA


def train_pca(
    embeddings: DataFrame,
    *,
    dim: int,
    dim_out: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_n: int = 16384,
    center: bool = True,
) -> tuple[np.ndarray, np.ndarray]:
    """Fit PCA on a BOUNDED deterministic sample (orderBy id, limit —
    the train_pq doctrine): driver-side numpy SVD over at most
    ``sample_n`` rows. Returns ``(mean[dim], components[dim_out,
    dim])``, the frozen linear map :func:`pca_project` compiles into
    the plan. The VALUE-compression counterpart to dimension
    TRUNCATION (simsearch.truncated_prefilter_topk): PCA spends the
    same scan-width budget on the directions that actually carry
    variance, so recall at equal dim_out can only match or beat the
    raw prefix — measure with quantization_recall_report-style A/Bs
    before choosing.

    Component SIGNS are canonicalized (largest-|coefficient| entry
    positive) — SVD signs are otherwise arbitrary and would make the
    frozen map irreproducible across refits of identical data."""
    if not 1 <= dim_out <= dim:
        raise ValueError(f"dim_out must be in 1..{dim}, got {dim_out}")
    rows = (
        embeddings.orderBy(id_col)
        .limit(sample_n)
        .select(F.col(vec_col).cast("array<double>").alias("v"))
        .collect()
    )
    if len(rows) < dim_out:
        raise ValueError(f"sample has {len(rows)} rows < dim_out={dim_out}")
    x = np.array([r["v"] for r in rows], dtype="float64")
    if x.shape[1] != dim:
        raise ValueError(f"vectors are {x.shape[1]}-dim, expected {dim}")
    mean = x.mean(axis=0) if center else np.zeros(dim)
    _, _, vt = np.linalg.svd(x - mean, full_matrices=False)
    comps = vt[:dim_out]
    # sign canon: the largest-|coeff| entry of each component positive
    flip = np.sign(comps[np.arange(dim_out), np.abs(comps).argmax(axis=1)])
    flip[flip == 0] = 1.0
    return mean, comps * flip[:, None]


def pca_project(
    df: DataFrame,
    mean: np.ndarray,
    components: np.ndarray,
    *,
    vec_col: str = "embedding",
    out_col: str = "pca_vec",
    score_round: int | None = None,
) -> DataFrame:
    """Apply a frozen PCA map as PURE expressions: output dim ``j`` is
    ``dot(vec, comp_j) − dot(mean, comp_j)`` — the mean term folds to
    a per-dim literal, so the projection is dim_out HOF dot products
    over a literal matrix compiled into the plan (the ivf_assign
    pattern): zero UDF, zero shuffle, SQL-expressible on both engines
    (tests/test_pca.py re-derives it in DuckDB). ``score_round``
    rounds each output coordinate — fix the tie-break/compare domain
    before feeding a differential twin (the ADC rationale). Output:
    ``array<double>`` ready for brute_force_knn / ivf_build /
    truncated serve over the reduced space."""
    comps = np.asarray(components, dtype="float64")
    mu = np.asarray(mean, dtype="float64")
    offs = comps @ mu  # per-output-dim scalar offsets
    tmp = "__pca_vd"
    out = df.withColumn(tmp, F.col(vec_col).cast("array<double>"))
    dims = []
    for j in range(comps.shape[0]):
        dot = F.expr(dot_expr(sql_ident(tmp), lit_vector(comps[j])))
        d = dot - F.lit(float(offs[j]))
        if score_round is not None:
            # the explicit portable formula (CLAUDE.md rounding
            # invariant), NOT F.round: engine round() is
            # half-away-from-zero and would diverge from a SQL twin
            # on negative midpoints
            s = 10.0**score_round
            d = F.floor(d * F.lit(s) + F.lit(0.5)) / F.lit(s)
        dims.append(d)
    return out.withColumn(out_col, F.array(*dims)).drop(tmp)
