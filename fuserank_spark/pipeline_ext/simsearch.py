"""Similarity search over embedding columns: exact brute-force
cosine top-k (the baseline every ANN variant is measured against) and
a random-hyperplane LSH bucketed variant (the scale path).

Exact path = crossJoin-score + the two-phase top-k of _merge_topk:
at 100 TB the broadcast side is the query batch and the corpus never
shuffles. LSH path prunes the scored pairs to matching
buckets first — the crossJoin disappears entirely.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..kernels import assign_cells, lloyd, probe_cells, read_matrix, round_half_away
from ..search import cosine_expr, dot_expr, lit_vector, sql_ident, sql_lit
from ..session import local_frame


def _check_positive(**args: int) -> None:
    for name, v in args.items():
        if v < 1:
            raise ValueError(f"{name} must be >= 1, got {v}")


def _merge_topk(
    scored: DataFrame,
    k: int,
    query_key: str,
    key_col: str,
    score_col: str = "cosine",
    local_buckets: int = 32,
) -> DataFrame:
    """Two-phase top-k merge, the package's one two-phase window
    (VERDICT r2 'What's wrong' #1): phase 1 ranks within (query,
    key-hash-bucket) so no single task ever holds ALL of one query's
    candidates — the shuffle key carries ``local_buckets``× the
    cardinality of a bare query_id partition; phase 2 merges the
    ≤ k·buckets survivors per query (tiny). Ties deterministic
    (score desc, key asc) in both phases, so the final top-k set is
    identical to a single global window — the DuckDB oracle twins
    stay valid over the scale-safe plan."""
    bucket = F.pmod(F.xxhash64(F.col(key_col)), F.lit(local_buckets))
    w_local = Window.partitionBy(F.col(query_key), bucket).orderBy(
        F.desc(score_col), F.col(key_col)
    )
    w_global = Window.partitionBy(query_key).orderBy(F.desc(score_col), F.col(key_col))
    return (
        scored.withColumn("__r", F.row_number().over(w_local))
        .filter(F.col("__r") <= k)
        .withColumn("rnk", F.row_number().over(w_global))
        .filter(F.col("rnk") <= k)
        .select(query_key, key_col, "rnk", F.round(score_col, 6).alias(score_col))
    )


def _refine_topk(
    corpus: DataFrame,
    cand: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    vec_col: str,
    key_col: str,
    query_key: str,
    query_vec: str,
) -> DataFrame:
    """Exact-cosine top-k over candidate ids, the refine stage of the
    quantized serves and :func:`truncated_prefilter_topk`: broadcast
    ``cand``'s (query, id) pairs onto ``corpus``, broadcast the query
    vectors, score cosine, two-phase merge. ``corpus`` is touched only
    for the candidate rows, never scanned for scoring."""
    rescored = (
        corpus.join(F.broadcast(cand.select(query_key, key_col)), key_col)
        .join(F.broadcast(queries), query_key)
        .select(
            query_key,
            F.col(key_col),
            F.expr(cosine_expr(sql_ident(vec_col), sql_ident(query_vec))).alias("cosine"),
        )
    )
    return _merge_topk(rescored, k, query_key, key_col)


def _probe_join(
    frame: DataFrame,
    centroids: np.ndarray,
    queries: list[tuple],
    nprobe: int,
    cell_col: str,
    query_key: str = "query_id",
    query_vec: str | None = None,
) -> DataFrame:
    """``frame`` joined to each (query_id, vector) query's ``nprobe``
    nearest cells by centroid cosine — kernels.probe_cells on
    unit-normalized centroids and query. The probed cell ids apply
    first as a STATIC ``isin``: when ``frame`` is an ivf_persist-ed
    index that is a partition filter, so unprobed cells are never
    read. Then the (query, cell) probe rows join by broadcast; with
    ``query_vec`` they also carry the query vector under that name."""
    cn = centroids / np.maximum(np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12)
    rows = []
    for qid, qv in queries:
        qf = [float(x) for x in qv]
        q = np.asarray(qf, dtype="float64")
        tail = (qf,) if query_vec else ()
        for c in probe_cells(cn, q / max(float(np.linalg.norm(q)), 1e-12), nprobe):
            rows.append((int(qid), c) + tail)
    schema = f"{query_key} bigint, {cell_col} int"
    if query_vec:
        schema += f", {query_vec} array<double>"
    probes = local_frame(frame.sparkSession, rows, schema)
    probed_cells = sorted({r[1] for r in rows})
    return frame.filter(F.col(cell_col).isin(probed_cells)).join(
        F.broadcast(probes), cell_col
    )


def brute_force_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    query_key: str = "query_id",
    query_vec: str = "qvec",
) -> DataFrame:
    """Exact cosine top-k per query: broadcast queries, score,
    two-phase merge. Output: (query_id, vec_id, rnk, cosine). The
    expression scoring keeps DuckDB-fold-order cosines for the oracle
    twins; the merge is two-phase, so there is no per-query hot key."""
    scored = corpus.crossJoin(F.broadcast(queries)).select(
        F.col(query_key),
        F.col(key_col),
        F.expr(cosine_expr(sql_ident(vec_col), sql_ident(query_vec))).alias("cosine"),
    )
    return _merge_topk(scored, k, query_key, key_col)


def hyperplanes(dim: int, n_planes: int = 8, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    h = rng.normal(size=(n_planes, dim))
    return h / np.linalg.norm(h, axis=1, keepdims=True)


def lsh_bucket_expr(vec_col: str, planes: np.ndarray):
    """Sign-of-projection bucket id: bit j = 1 iff v·h_j ≥ 0."""
    bits = [
        f"CASE WHEN {dot_expr(sql_ident(vec_col), lit_vector(plane))} >= 0 THEN {sql_lit(1 << j)} ELSE 0 END"
        for j, plane in enumerate(planes)
    ]
    return F.expr(" + ".join(bits))


def lsh_buckets(
    df: DataFrame,
    dim: int,
    n_planes: int = 6,
    n_tables: int = 2,
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Multi-table hyperplane bucketing: one output row per (input
    row, hash table), with ``table_idx`` + ``bucket`` columns added.

    Each table uses independent seeded hyperplanes; a pair at angle θ
    collides in at least one table with probability
    1 − (1 − (1 − θ/π)^n_planes)^n_tables — n_tables is the recall
    knob, n_planes the bucket-size knob. The explode is a narrow map
    (no shuffle); downstream grouping shuffles on (table_idx, bucket),
    which is uniform by construction. All n_tables · n_planes
    projections are computed in ONE projection over the vector —
    the corpus is scanned once."""
    tables = F.array(
        *[
            F.struct(
                F.lit(t).alias("table_idx"),
                lsh_bucket_expr(vec_col, hyperplanes(dim, n_planes, seed + t)).alias(
                    "bucket"
                ),
            )
            for t in range(n_tables)
        ]
    )
    return (
        df.withColumn("__tb", F.explode(tables))
        .select("*", "__tb.table_idx", "__tb.bucket")
        .drop("__tb")
    )


def ivf_build(
    corpus: DataFrame,
    dim: int,
    n_centroids: int = 16,
    vec_col: str = "embedding",
    sample_rows: int = 50_000,
    seed: int = 42,
    max_iter: int = 20,
):
    """IVF coarse quantizer: Lloyd k-means (kernels.lloyd) on a bounded
    sample, then every row assigned to its nearest centroid by the
    Arrow kernel (:func:`ivf_assign_arrow`). Returns (assigned_df,
    centroids ndarray); ``assigned_df`` is lazy.

    The sample is ONE Spark job: at most ``sample_rows`` vectors,
    ordered by ``xxhash64(seed, vector)`` then the vector itself — a
    total order on content, so the sample, and with it the centroids,
    do not depend on partitioning or row order (the hash never reaches
    an oracle-checked output). Training is driver-side numpy; driver
    memory is about ``sample_rows × (dim + n_centroids)`` doubles. A
    sample smaller than ``n_centroids`` raises; so does a NULL or
    wrong-width training vector (kernels.read_matrix).

    At 100 TB: training cost is O(sample_rows), assignment is a narrow
    map; the assigned table is written partitioned by `centroid_id` so
    a query reads only its probed partitions (partition pruning does
    the index lookup).
    """
    tbl = (
        corpus.select(F.col(vec_col).cast("array<double>").alias("v"))
        .orderBy(F.xxhash64(F.lit(seed), "v"), "v")
        .limit(sample_rows)
        .toArrow()
    )
    if tbl.num_rows < n_centroids:
        raise ValueError(
            f"IVF training sample has {tbl.num_rows} rows < n_centroids={n_centroids}"
        )
    x = read_matrix(tbl.combine_chunks().to_batches()[0], "v", dim)
    centroids = lloyd(x, n_centroids, max_iter, np.random.default_rng(seed))
    return ivf_assign_arrow(corpus, centroids, vec_col=vec_col), centroids


def ivf_assign(
    corpus: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "centroid_id",
    metric: str = "l2",
    score_round: int | None = None,
) -> DataFrame:
    """Expression-only nearest-centroid assignment: serve NEW rows
    into an existing IVF index.

    The (small) centroid matrix is compiled into the plan as
    literals; per row, argmin over centroids of the squared L2
    distance ``||c||^2 - 2<x,c>`` (the ``||x||^2`` term is constant
    across centroids and dropped), ties to the lowest centroid id via
    struct-min. Narrow map — no join, no shuffle, SQL-expressible on
    both engines (the q_ivf_knn DuckDB twin replicates this exact
    formula).

    ``metric="ip"`` assigns by MAXIMUM inner product instead — the
    right cell geometry when corpus vectors are fused relevance
    vectors scored by IP (q_fused_ivf). ``score_round`` rounds the
    assignment score first (both engines of a differential twin must
    share the tie-break domain when their sum fold orders differ —
    the q_pq_knn ADC rationale)."""
    if metric not in ("l2", "ip"):
        raise ValueError(f"metric must be 'l2' or 'ip', got {metric!r}")
    cents = np.asarray(centroids, dtype="float64")
    # materialize the cast once: Catalyst does not CSE the cast across
    # the n_centroids HOF aggregates below (CLAUDE.md trap)
    tmp = "__ivf_vd"
    out = corpus.withColumn(tmp, F.col(vec_col).cast("array<double>"))
    structs = []
    for cid, c in enumerate(cents):
        dot = F.expr(dot_expr(sql_ident(tmp), lit_vector(c)))
        if metric == "l2":
            csq = float(np.dot(c, c))
            score = F.lit(csq) - 2.0 * dot
        else:  # ip: argmax dot == argmin -dot
            score = -dot
        if score_round is not None:
            score = F.round(score, score_round)
        structs.append(F.struct(score.alias("d"), F.lit(cid).alias("c")))
    return out.withColumn(out_col, F.array_min(F.array(*structs))["c"]).drop(tmp)


def ivf_assign_arrow(
    corpus: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "centroid_id",
    metric: str = "l2",
    score_round: int | None = None,
) -> DataFrame:
    """Arrow-batched numpy twin of :func:`ivf_assign` on the kernels
    scaffold: the expression path is the oracle-parity form
    (interpreted HOF aggregates, ~n_centroids·dim ops per row outside
    codegen), this one is one flat-buffer read and one matmul per
    batch (kernels.assign_cells), with the cell column appended to
    the batch as-is. It assigns for :func:`ivf_build`,
    dedup.semantic_dedup (faster than the expression path there at
    200k, 500k and 1.5M rows with the same survivors, SCALING.md r6)
    and streaming.incremental_ivf_index (faster on 250-row
    micro-batches over 8 cells).
    mapInArrow blocks column pruning, so feed it only the columns the
    caller needs downstream.

    Same score (``||c||^2 − 2<x,c>`` or ``−<x,c>``), same
    lowest-centroid tie break (argmin takes the first minimum).
    ``score_round`` uses kernels.round_half_away — the repo's
    driver-side convention (probe selection uses the same one against
    SQL ``round()``). It equals the expression path's ``F.round``
    except when a score's SHORTEST DECIMAL REPRESENTATION lands
    exactly on a half-boundary (Spark rounds the decimal string, the
    formula rounds the binary double) — measure-zero for continuous
    scores. Rounding also collapses the last-ulp fold-order
    differences (sequential HOF fold vs blocked matmul), so rounded
    assignments agree in practice; unrounded ones can ulp-diverge near
    exact centroid ties. The parity test pins both metrics, rounded
    and raw, on the test corpora. NULL rows, NULL elements and
    wrong-length vectors raise (kernels.read_matrix — the expression
    path would propagate nulls; a batch matmul cannot)."""
    import pyarrow as pa
    from pyspark.sql import types as T

    if metric not in ("l2", "ip"):
        raise ValueError(f"metric must be 'l2' or 'ip', got {metric!r}")
    cents = np.asarray(centroids, dtype="float64")
    dim = cents.shape[1]
    schema_out = T.StructType(
        [*corpus.schema.fields, T.StructField(out_col, T.IntegerType())]
    )

    def assign(batches):
        for rb in batches:
            cells = assign_cells(read_matrix(rb, vec_col, dim), cents, metric, score_round)
            yield rb.append_column(out_col, pa.array(cells.astype("int32")))

    return corpus.mapInArrow(assign, schema_out)


def ivf_persist(assigned: DataFrame, path: str) -> None:
    """The IVF 'index build': write the assigned table partitioned by
    ``centroid_id``. A probe then reads ONLY its nprobe partition
    directories — static partition pruning IS the index lookup
    (asserted by tests/test_plans.py::test_ivf_probe_prunes_partitions).
    At 100 TB this is the one full pass; every search afterwards
    touches nprobe/n_centroids of the data."""
    assigned.write.mode("overwrite").partitionBy("centroid_id").parquet(path)


def ivf_load(spark, path: str) -> DataFrame:
    return spark.read.parquet(path)


def ivf_knn(
    assigned: DataFrame,
    centroids: np.ndarray,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    query_key: str = "query_id",
    query_vec: str = "qvec",
    max_query_batch: int = 4096,
) -> DataFrame:
    """IVF search: per query, probe the ``nprobe`` nearest centroids
    (driver-side math over the small centroid matrix), scan only
    those cells, exact cosine rerank.

    The probed cell ids are applied as a STATIC ``isin`` filter
    before the probe join — when ``assigned`` comes from
    :func:`ivf_load` (partitioned by centroid_id, see
    :func:`ivf_persist`), that filter becomes a partition filter and
    unprobed cells are never read.

    The query-compile step is DRIVER-SIDE by design (probe selection
    over the small centroid matrix), so driver memory holds at most
    ``max_query_batch`` (default 4096) query rows at a time: a larger
    ``queries`` frame is AUTO-CHUNKED — rows stream to the driver via
    ``toLocalIterator`` (never one unbounded collect), each chunk runs
    the full probe+scan+merge, and the per-chunk results union.
    Per-query top-k is independent across queries, so the union is
    exactly the one-shot result (pinned by
    tests/test_curation.py::test_ivf_knn_auto_chunks). For workloads
    where even chunked driver compile is wrong, use lsh_knn whose
    bucketing is computed distributed."""
    _check_positive(k=k, nprobe=nprobe, max_query_batch=max_query_batch)

    def batch(qrows: list) -> DataFrame:
        # one bounded chunk: probes for these rows, probed cells only,
        # exact rerank; the probe rows carry the query vector
        probed = _probe_join(
            assigned, centroids, [(r[query_key], r[query_vec]) for r in qrows],
            nprobe, "centroid_id", query_key, query_vec,
        )
        scored = probed.select(
            F.col(query_key),
            F.col(key_col),
            F.expr(cosine_expr(sql_ident(vec_col), sql_ident(query_vec))).alias("cosine"),
        )
        return _merge_topk(scored, k, query_key, key_col)

    chunks: list[DataFrame] = []
    buf: list = []
    for r in queries.toLocalIterator():
        buf.append(r)
        if len(buf) >= max_query_batch:
            chunks.append(batch(buf))
            buf = []
    if buf or not chunks:
        # empty frame → one empty-batch call keeps the output schema
        chunks.append(batch(buf))
    return reduce(DataFrame.unionByName, chunks)


def lsh_knn(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 10,
    n_planes: int = 6,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    query_key: str = "query_id",
    query_vec: str = "qvec",
    multiprobe: int = 1,
) -> DataFrame:
    """ANN: random-hyperplane buckets + exact rerank within bucket.
    ``multiprobe`` additionally probes buckets at Hamming distance 1
    (recall knob). The corpus is scored only where buckets match —
    the join is an equi-join on bucket id, shuffle keyed uniformly."""
    planes = hyperplanes(dim, n_planes)
    c = corpus.withColumn("bucket", lsh_bucket_expr(vec_col, planes))
    q = queries.withColumn("bucket", lsh_bucket_expr(query_vec, planes))
    if multiprobe:
        probe = F.explode(
            F.array(
                F.col("bucket"),
                *[F.col("bucket").bitwiseXOR(F.lit(1 << j)) for j in range(n_planes)],
            )
        )
        q = q.withColumn("bucket", probe)
    joined = c.join(F.broadcast(q), "bucket").select(
        F.col(query_key),
        F.col(key_col),
        F.expr(cosine_expr(sql_ident(vec_col), sql_ident(query_vec))).alias("cosine"),
    )
    # per-(query, vec) dedup across probes, then two-phase merge —
    # the dedup groupBy is keyed on (query, vec) (uniform); the merge
    # never concentrates one query's candidate set on a single task
    deduped = joined.groupBy(query_key, key_col).agg(F.max("cosine").alias("cosine"))
    return _merge_topk(deduped, k, query_key, key_col)


def mmr_rerank(
    candidates: DataFrame,
    *,
    k: int = 10,
    lam: float = 0.5,
    query_col: str = "query_id",
    key_col: str = "vec_id",
    score_col: str = "cosine",
    vec_col: str = "embedding",
    out_col: str = "mmr",
    max_candidates: int = 10_000,
) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k (Carbonell &
    Goldstein, SIGIR 1998): greedily pick, per query, the candidate
    maximizing ``lam*relevance - (1-lam)*max_cosine_to_already_picked``
    — the standard result-diversification pass over a first-stage
    retriever's top-N. ``lam=1`` degenerates to plain relevance order;
    lower ``lam`` trades relevance for diversity.

    Input: one row per (query, candidate) carrying the first-stage
    score and the candidate vector — i.e. a knn/serve output joined
    back to its vectors (refine_with-style broadcast id join). The
    greedy loop is inherently sequential IN k but independent ACROSS
    queries, so it runs as one Arrow-batched ``applyInPandas`` per
    query group (the data-plane doctrine: never a driver loop) —
    incremental max-similarity updates keep it O(k·n·dim) per query
    with no n×n matrix.

    Scale posture: per-group state is one query's candidate list,
    BOUNDED because first-stage retrieval already cut to top-N;
    ``max_candidates`` enforces the contract (raise, don't spill — the
    deduplicate/auto-bound doctrine). Shuffle is one Exchange keyed by
    query_id over an already-k·|Q|-sized frame.

    Determinism: relevance, pairwise cosines and the greedy objective
    are all rounded half-away to 6 decimals BEFORE every argmax
    (CLAUDE.md rounding invariant), ties break on lowest key — a
    sequential-fold re-implementation lands on the identical selection
    (tests/test_mmr.py python-reference differential).

    Contract: ``query_col``/``key_col`` must be integral (the output
    schema types them bigint — the vec_id convention everywhere in
    this module); map string keys to ids upstream.
    """
    import pandas as pd

    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")

    out_schema = (
        f"{query_col} bigint, {key_col} bigint, rnk int, {out_col} double"
    )

    def _one(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n > max_candidates:
            raise ValueError(
                f"mmr_rerank: {n} candidates for one query exceeds "
                f"max_candidates={max_candidates}; cut the first stage "
                f"to a bounded top-N before diversifying"
            )
        keys = pdf[key_col].to_numpy()
        rel = round_half_away(pdf[score_col].to_numpy(dtype="float64"))
        vecs = np.stack([np.asarray(v, dtype="float64") for v in pdf[vec_col]])
        norms = np.maximum(np.linalg.norm(vecs, axis=1), 1e-12)
        vn = vecs / norms[:, None]
        max_sim = np.full(n, -np.inf)
        picked: list[int] = []
        values: list[float] = []
        avail = np.ones(n, dtype=bool)
        for step in range(min(k, n)):
            if step == 0:
                obj = lam * rel
            else:
                obj = lam * rel - (1.0 - lam) * max_sim
            obj = round_half_away(obj)
            # argmax with lowest-key tie-break among available rows
            best = None
            for i in np.flatnonzero(avail):
                cand = (-obj[i], keys[i])
                if best is None or cand < best[0]:
                    best = (cand, i)
            _, bi = best
            picked.append(int(bi))
            values.append(float(obj[bi]))
            avail[bi] = False
            sims = vn @ vn[bi]
            sims = round_half_away(sims)
            max_sim = np.maximum(max_sim, sims)
        qid = int(pdf[query_col].iloc[0])
        return pd.DataFrame(
            {
                query_col: [qid] * len(picked),
                key_col: [int(keys[i]) for i in picked],
                "rnk": list(range(1, len(picked) + 1)),
                out_col: values,
            }
        )

    return (
        candidates.select(query_col, key_col, score_col, vec_col)
        .groupBy(query_col)
        .applyInPandas(_one, schema=out_schema)
    )


def truncated_prefilter_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    prefix_dim: int,
    k: int = 10,
    refine_factor: int = 4,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    query_key: str = "query_id",
    query_vec: str = "qvec",
) -> DataFrame:
    """Dimension-truncation ANN (the Matryoshka-representation serve
    pattern, Kusupati et al. 2022): coarse-score every row on only the
    FIRST ``prefix_dim`` dimensions — an O(prefix/dim) scan-cost cut
    orthogonal to value quantization (PQ/SQ/BQ compress bits per dim;
    this drops dims) — keep the top ``k*refine_factor`` survivors per
    query, then re-score ONLY those on the full vector via a broadcast
    id join and cut to k.

    Works best on embeddings trained front-loaded (MRL); on arbitrary
    embeddings it is still a valid prefilter, just with a worse
    coarse-recall curve — measure with
    :func:`~fuserank_spark.pipeline_ext.quantization.quantization_recall_report`'s
    oracle pattern before choosing ``prefix_dim``.

    Composition: both stages are :func:`brute_force_knn`-shaped
    (broadcast queries, two-phase merge); the refine touches the full
    vector column for O(k·refine_factor) rows per query, never a full
    scan — the pq/sq/bq refine contract. ``prefix_dim`` == full dim
    with refine on degenerates to exact (tested). Vectors shorter
    than ``prefix_dim`` are coarse-scored on what exists (slice
    truncates silently) — enforce uniform dims upstream if that
    matters."""
    _check_positive(prefix_dim=prefix_dim, refine_factor=refine_factor)
    coarse_corpus = corpus.select(
        key_col, F.slice(F.col(vec_col), 1, prefix_dim).alias(vec_col)
    )
    coarse_queries = queries.select(
        query_key, F.slice(F.col(query_vec), 1, prefix_dim).alias(query_vec)
    )
    cand = brute_force_knn(
        coarse_corpus, coarse_queries, k=k * refine_factor,
        vec_col=vec_col, key_col=key_col,
        query_key=query_key, query_vec=query_vec,
    )
    return _refine_topk(
        corpus, cand, queries, k,
        vec_col=vec_col, key_col=key_col, query_key=query_key, query_vec=query_vec,
    )
