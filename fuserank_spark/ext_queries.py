"""Oracle-checkable query entries for the pipeline-extension
operators (dedup / similarity / text analysis / multimodal). Each
Spark implementation calls the library operator; the oracle SQL
re-derives the same math in DuckDB (portable md5-based hashing makes
the two engines bit-compatible).

The ANN-family oracles (kNN, LSH, IVF, PQ, IVF-PQ, fused, hybrid) are
composed from the ``_sql_*`` builders below. An entry registered
without an oracle (q_restaurants_fused) gets the driver's weaker
rows-only check.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .pipeline_ext import dedup as D
from .pipeline_ext import multimodal as M
from .pipeline_ext import simsearch as SS
from .pipeline_ext import textstats as TX
from .pipeline_ext.hashing import MINHASH_PERMS, minhash_perm_sql, portable_hash32_sql
from .queries import register
from .session import persisted, session_cached

_H = portable_hash32_sql("{expr}")  # template form; .format(expr=...) fills the column

# ------------------------------------------------------ SQL-twin builders
# The ANN-family oracles are composed from these builders, each the
# DuckDB twin of one engine kernel. The CTE builders read fixed CTE
# names from their caller: ``e`` (vec_id + vector rows) and ``q``
# (query_id, qe, qn), which _sql_cosine writes itself.


def _sql_dot(a: str, b: str, dim) -> str:
    """Dot product of the list expressions ``a`` and ``b`` over their
    first ``dim`` elements (an int or a SQL length expression), in
    DOUBLE and folded left to right — the twin of search.dot_expr."""
    return (
        f"list_sum(list_transform(range(1, {dim} + 1),"
        f" i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


def _sql_assign(vec: str, dim: int, n_cent: int) -> str:
    """CTEs ``cent`` — the first ``n_cent`` rows of ``e`` frozen as
    centroids (cid, cvec, csq) — and ``cells`` — every row of ``e``
    plus its ``cid``: the l2 argmin of round(csq − 2⟨x,c⟩, 6), the
    lowest cid on ties. The twin of kernels.assign_cells and
    simsearch.ivf_assign(score_round=6)."""
    return f"""cent AS (
      SELECT CAST(vec_id AS INT) AS cid, {vec} AS cvec, {_sql_dot(vec, vec, dim)} AS csq
      FROM e WHERE vec_id < {n_cent}
    ), cells AS (
      SELECT e.*, c.cid FROM e CROSS JOIN cent c
      QUALIFY row_number() OVER (
        PARTITION BY e.vec_id
        ORDER BY round(c.csq - 2 * {_sql_dot("e." + vec, "c.cvec", dim)}, 6), c.cid) = 1
    )"""


def _sql_probe(dim: int, nprobe: int) -> str:
    """CTE ``probed``: every row of ``q`` once per probed cell ``cid`` —
    its ``nprobe`` centroids of ``cent`` with the highest cosine
    rounded to 6, the lowest cid on ties. The twin of
    kernels.probe_cells."""
    return f"""probed AS (
      SELECT q.*, c.cid FROM q CROSS JOIN cent c
      QUALIFY row_number() OVER (
        PARTITION BY q.query_id
        ORDER BY round({_sql_dot("q.qe", "c.cvec", dim)} / (sqrt(c.csq) * q.qn), 6) DESC,
                 c.cid) <= {nprobe}
    )"""


_PQ_M, _PQ_W, _PQ_K = 8, 8, 16  # 8 subspaces × 8 dims, 16 codes each


def _sql_pq(cb: str = "cb0", lloyd: str = "") -> str:
    """CTEs of PQ encode + ADC over ``e`` (vec_id, v DOUBLE[]):
    ``esub`` (the _PQ_M subvectors of every row), ``cb0`` (the Forgy
    codebooks: subvectors of the first _PQ_K rows), the caller's
    ``lloyd`` CTEs (training; ``cb`` names the codebook CTE to encode
    with), ``codes`` (:func:`_sql_codes` over ``cbq``), and
    ``scored`` (query_id, vec_id, adc) for the queries vec_id < 3.

    Distances fold in the same order as the Spark expressions, so the
    discrete code argmin is bit-identical. The per-(query, row) ADC
    is a GROUP BY sum over the m parts — order-free up to ulps — so it
    is rounded to 6 BEFORE any rank (the Spark side rounds identically
    in pq_adc_topk) to share one tie-break domain."""
    m, w = _PQ_M, _PQ_W
    return f"""esub AS (
      SELECT e.vec_id, t.j,
             list_transform(range(t.j*{w}+1, t.j*{w}+{w}+1), i -> e.v[i]) AS sv
      FROM e CROSS JOIN generate_series(0, {m - 1}) t(j)
    ), cb0 AS (
      SELECT CAST(vec_id AS INT) AS code, j, sv AS cvec FROM esub WHERE vec_id < {_PQ_K}
    ){lloyd}, {_sql_codes("esub", cb, "cbq", "codes", w)}, lut AS (
      SELECT s.vec_id AS query_id, s.j, b.code, {_sql_dot("s.sv", "b.cvec", w)} AS part
      FROM esub s JOIN cbq b ON s.j = b.j WHERE s.vec_id < 3
    ), scored AS (
      SELECT l.query_id, c.vec_id, round(sum(l.part), 6) AS adc
      FROM codes c JOIN lut l ON c.j = l.j AND c.code = l.code
      GROUP BY l.query_id, c.vec_id
    )"""


def _sql_cosine(qfilter: str, out: str, key: str = "vec_id") -> str:
    """CTEs ``q`` — the rows of ``embeddings`` matching ``qfilter`` as
    queries (query_id, qe, qn) — and ``out`` (query_id, ``key``,
    cosine): the exact cosine of every query against every row, the
    twin of simsearch.brute_force_knn's scoring."""
    norm = "sqrt(list_sum(list_transform({v}, x -> CAST(x AS DOUBLE) * x)))"
    return f"""q AS (
      SELECT vec_id AS query_id, embedding AS qe, {norm.format(v="embedding")} AS qn
      FROM embeddings WHERE {qfilter}
    ), {out} AS (
      SELECT q.query_id, e.vec_id AS {key},
             {_sql_dot("e.embedding", "q.qe", 64)} / ({norm.format(v="e.embedding")} * q.qn) AS cosine
      FROM embeddings e, q
    )"""


def _sql_codes(sub: str, book: str, bq: str, out: str, w: int, cols: str = "") -> str:
    """CTEs ``bq`` — codebook CTE ``book`` (code, j, cvec) with each
    code's ``csq`` — and ``out`` (vec_id, j, ``cols``, code): per
    subvector ``sv`` of ``sub`` the UNROUNDED l2 argmin code of its
    subspace, lowest code on ties — quantization.pq_encode's
    struct-min, and the assign step of the portable Lloyd."""
    return f"""{bq} AS (
      SELECT code, j, cvec, {_sql_dot("cvec", "cvec", w)} AS csq FROM {book}
    ), {out} AS (
      SELECT s.vec_id, s.j{cols}, b.code FROM {sub} s JOIN {bq} b ON s.j = b.j
      QUALIFY row_number() OVER (
        PARTITION BY s.vec_id, s.j
        ORDER BY b.csq - 2 * {_sql_dot("s.sv", "b.cvec", w)}, b.code) = 1
    )"""


def _sql_rank(src: str, score: str, k: int, key: str = "vec_id") -> str:
    """SELECT of each query's top ``k`` rows of ``src`` (query_id,
    ``key``, ``score``): row_number by ``score`` DESC with ``key``
    ascending on ties, the score rounded to 6 — the twin of
    simsearch._merge_topk's cutoff."""
    return f"""SELECT query_id, {key},
           row_number() OVER (PARTITION BY query_id ORDER BY {score} DESC, {key}) AS rnk,
           round({score}, 6) AS {score}
    FROM {src} QUALIFY rnk <= {k} ORDER BY query_id, rnk"""



def _dense_prefix(rows, n: int, id_col: str = "vec_id") -> None:
    """The collected-seed reuse trick (r12 q_ivf_knn, r13 q_ivfpq_knn)
    assumes ids are DENSE from 0, because the oracle twin states
    ``WHERE vec_id < n`` while the engine slices the first n collected
    rows. Fail loudly on a sparse-id fixture instead of silently
    diverging (ADVICE r12)."""
    got = [int(r[id_col]) for r in rows[:n]]
    if got != list(range(n)):
        raise ValueError(
            f"seed rows are not dense from 0 (first {n} ids = {got}); "
            f"the [:{n}] query-batch slice no longer equals the "
            f"oracle's {id_col} < {n}"
        )


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))


# default parquet split size (spark.sql.files.maxPartitionBytes) — used
# only to ESTIMATE how many scan tasks a table already yields
_SPLIT_BYTES = 128 * 1024 * 1024


def _scan_meta(sf_dir: str, table: str) -> tuple[int, int] | None:
    """(rows, estimated scan splits) for a parquet table, from file
    sizes + footers — zero Spark jobs. None when the path is not a
    local parquet file/dir (callers then skip the fan-out); a part
    file whose footer cannot be read raises, naming the file."""
    import pyarrow.parquet as pq

    p = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isdir(p):
        files = [
            os.path.join(dp, f)
            for dp, _dirs, fs in os.walk(p)
            for f in fs
            if not f.startswith((".", "_"))
        ]
    elif os.path.isfile(p):
        files = [p]
    else:
        return None
    rows = splits = 0
    for f in files:
        try:
            rows += pq.read_metadata(f).num_rows
        except Exception as e:
            raise ValueError(f"cannot read the parquet footer of {f}: {e}") from e
        splits += max(1, -(-os.path.getsize(f) // _SPLIT_BYTES))
    return rows, splits


def _fan_out(
    df: DataFrame, sf_dir: str, table: str, *, rows_per_partition: int = 128,
    branches: int = 1,
) -> DataFrame:
    """Scale-adaptive fan-out for expression-heavy per-row pipelines
    (guide §2/§6, r13): a small parquet table arrives as 1-2 scan
    splits, which serializes interpreted per-row work (md5 shingling,
    HOF argmins, regex pipelines) onto 1-2 tasks regardless of core
    count — measured 3.2-8.4x on the signature/encode stages at sf0.1.
    Repartition round-robin to min(defaultParallelism, rows/rpp)
    partitions, derived from the scan's OWN footer row count and the
    session's core count — never a constant (the r11 rule): at real
    scale the table already yields >= parallelism splits and this is a
    structural no-op; under the driver's lower-core bench the target
    follows defaultParallelism down. ``branches`` = number of scan
    branches feeding ``df`` (a union reads the file once per branch).

    Results are unchanged: round-robin repartition preserves the row
    SET exactly, every oracle-checked output is totally ordered, and
    double aggregates downstream are rounded before any comparison
    (the fold-order doctrine) — re-gated per entry regardless."""
    meta = _scan_meta(sf_dir, table)
    if meta is None:
        return df
    rows, splits = meta
    spark = df.sparkSession
    target = max(
        1,
        min(spark.sparkContext.defaultParallelism, int(rows) // rows_per_partition),
    )
    return df.repartition(target) if target > splits * branches else df


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))


def _docs_with_dups(docs: DataFrame) -> DataFrame:
    """Deterministic dup-bearing corpus: re-append every 10th doc
    under a shifted id (dedup operators need actual duplicates)."""
    return docs.select("doc_id", "text").union(
        docs.filter(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"), "text"
        )
    )


_DUPS_SQL = """
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
"""


# ------------------------------------------------------------ exact dedup
@register(
    "q_dedup_exact",
    f"""
    WITH d AS ({_DUPS_SQL})
    SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS content_hash,
           count(*) AS n_dups, min(doc_id) AS keep_id
    FROM d
    GROUP BY 1 HAVING count(*) > 1
    ORDER BY content_hash
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs_with_dups(_docs(spark, sf_dir))
    return D.exact_dup_groups(d).orderBy("content_hash")


# ------------------------------------------------------------- minhash sig
def _minhash_sig_sql(src: str) -> str:
    """SELECT of doc_id and the MinHash signature mh0..mh7 over the
    distinct 5-char shingles of ``src``'s text (the twin of
    dedup.minhash_signature)."""
    h = _H.format(expr="s")
    perms = ", ".join(
        f"list_min(list_transform(sh, s -> {minhash_perm_sql(h, a, b)})) AS mh{j}"
        for j, (a, b) in enumerate(MINHASH_PERMS)
    )
    return f"""SELECT doc_id, {perms}
      FROM (SELECT doc_id,
                   list_distinct(list_transform(generate_series(1, length(text) - 4),
                                                i -> substring(text, i, 5))) AS sh
            FROM {src})"""


def _minhash_oracle() -> str:
    return f"{_minhash_sig_sql('documents WHERE doc_id < 100')} ORDER BY doc_id"


@register("q_minhash", _minhash_oracle())
def q_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 100).select("doc_id", "text")
    return D.minhash_signature(d).drop("text").orderBy("doc_id")


# ------------------------------------------------------------- LSH pairs
def _lsh_pairs_oracle() -> str:
    bands = "\nUNION ALL\n".join(
        "SELECT doc_id, {b} AS band_idx, md5(concat({parts})) AS band_hash FROM sig".format(
            b=b,
            parts=", ',', ".join(f"CAST(mh{4*b+r} AS VARCHAR)" for r in range(4)),
        )
        for b in range(2)
    )
    eq_sum = " + ".join(f"CAST(a.mh{j} = b.mh{j} AS INT)" for j in range(8))
    return f"""
    WITH d AS ({_DUPS_SQL}),
    sig AS ({_minhash_sig_sql("d")}),
    banded AS ({bands}),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
    )
    SELECT p.id_a, p.id_b, ({eq_sum}) / 8.0 AS est_jaccard
    FROM pairs p
    JOIN sig a ON a.doc_id = p.id_a
    JOIN sig b ON b.doc_id = p.id_b
    ORDER BY id_a, id_b
    """


@register("q_lsh_pairs", _lsh_pairs_oracle())
def q_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan out the dup-bearing union before the md5-shingle signature
    # stage — it arrived as 2 scan splits and ran serial (r13: 3.9 →
    # ~1.1 s at sf0.1; the banding/pair core below is exchange-bound
    # and indifferent to the input layout)
    d = _fan_out(
        _docs_with_dups(_docs(spark, sf_dir)), sf_dir, "documents", branches=2
    )
    sigs = D.minhash_signature(d).drop("text")
    return D.lsh_candidate_pairs(sigs).orderBy("id_a", "id_b")


# --------------------------------------------------------------- simhash
_SIMHASH_ORACLE = f"""
    WITH t AS (
      SELECT doc_id,
             list_transform(regexp_split_to_array(trim(text), '\\s+'),
                            s -> {_H.format(expr="s")}) AS th
      FROM documents WHERE doc_id < 200
    )
    SELECT doc_id,
           CAST(list_sum(list_transform(range(0, 32), i ->
             CASE WHEN COALESCE(list_sum(list_transform(th,
                        h -> 2 * ((h >> i) % 2) - 1)), 0) >= 0
                  THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END))
                AS BIGINT) AS simhash
    FROM t ORDER BY doc_id
"""


@register("q_simhash", _SIMHASH_ORACLE)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 200).select("doc_id", "text")
    return D.simhash(d).drop("text").orderBy("doc_id")


# -------------------------------------------------------- n-gram jaccard
_JACCARD_ORACLE = """
    WITH t AS (
      SELECT doc_id,
             concat_ws(' ', tk[1], tk[2]) AS block_key,
             list_distinct(list_transform(generate_series(1, length(text) - 4),
                                          i -> substring(text, i, 5))) AS sh
      FROM (SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS tk
            FROM documents)
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CAST(len(list_filter(a.sh, x -> list_contains(b.sh, x))) AS DOUBLE)
                 / (len(a.sh) + len(b.sh) - len(list_filter(a.sh, x -> list_contains(b.sh, x)))),
                 6) AS jaccard
    FROM t a JOIN t b ON a.block_key = b.block_key AND a.doc_id < b.doc_id
    ORDER BY id_a, id_b
"""


@register("q_ngram_jaccard", _JACCARD_ORACLE)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan out before the shingle projection (serial on the 1-split
    # scan; the blocked pair core is exchange-bound) — r13
    d = _fan_out(
        _docs(spark, sf_dir).select("doc_id", "text"), sf_dir, "documents"
    )
    # the SQL twin states ALL within-block pairs, so this entry pins
    # an effectively-unbounded cap — the r6 star-edge degrade would
    # otherwise silently diverge from the oracle on any block over
    # the default 1024 (degrade semantics are unit-tested separately)
    out = D.ngram_jaccard_pairs(d, max_bucket_size=1 << 31)
    return out.select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard")).orderBy(
        "id_a", "id_b"
    )


# --------------------------------------------------- embedding near-dup
_NEARDUP_ORACLE = f"""
    WITH e AS (
      SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS nrm
      FROM embeddings WHERE vec_id < 300
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round({_sql_dot("a.embedding", "b.embedding", 64)} / (a.nrm * b.nrm), 6) AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE {_sql_dot("a.embedding", "b.embedding", 64)} / (a.nrm * b.nrm) >= 0.35
    ORDER BY id_a, id_b
"""


@register("q_neardup_cos", _NEARDUP_ORACLE)
def q_neardup_cos(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    out = D.embedding_neardup_pairs(e, threshold=0.35, max_id=300)
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine")).orderBy(
        "id_a", "id_b"
    )


# ------------------------------------- embedding near-dup, bucketed (scale path)
def _bucket_sql(dim: int, n_planes: int, seed: int, vec_expr: str = "embedding") -> str:
    """Sign-of-projection bucket id over seeded hyperplanes as DuckDB
    SQL — the literal-doubles twin of simsearch.lsh_bucket_expr
    (repr round-trips exactly; both engines fold left-to-right)."""
    from .pipeline_ext.simsearch import hyperplanes

    planes = hyperplanes(dim, n_planes, seed)
    bits = []
    for j in range(n_planes):
        lits = "([" + ",".join(repr(float(x)) for x in planes[j]) + "])"
        bits.append(f"CASE WHEN {_sql_dot(vec_expr, lits, dim)} >= 0 THEN {1 << j} ELSE 0 END")
    return " + ".join(bits)


def _neardup_lsh_oracle(dim: int = 64, n_planes: int = 6, n_tables: int = 2) -> str:
    """DuckDB oracle that replicates the hyperplane bucketing ITSELF —
    the seeded planes are embedded as literal doubles (repr round-trip
    is exact), the bucket ids, candidate set, and exact cosine check
    are all re-derived in SQL. This checks the bucketed ALGORITHM, not
    just a recall-lucky slice: both engines fold the same doubles in
    the same order, so bucket ids and cosines are bit-identical."""
    per_table = []
    for t in range(n_tables):
        per_table.append(
            f"SELECT vec_id, embedding, nrm, {t} AS table_idx,"
            f" {_bucket_sql(dim, n_planes, 42 + t)} AS bucket FROM e"
        )
    union = "\n      UNION ALL\n      ".join(per_table)
    dot = _sql_dot("ea.embedding", "eb.embedding", dim)
    return f"""
    WITH e AS (
      SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS nrm
      FROM embeddings WHERE vec_id < 300
    ), b AS (
      {union}
    ), cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b
      FROM b a JOIN b b2
        ON a.table_idx = b2.table_idx AND a.bucket = b2.bucket AND a.vec_id < b2.vec_id
    )
    SELECT c.id_a, c.id_b, round({dot} / (ea.nrm * eb.nrm), 6) AS cosine
    FROM cand c
    JOIN e ea ON ea.vec_id = c.id_a
    JOIN e eb ON eb.vec_id = c.id_b
    WHERE {dot} / (ea.nrm * eb.nrm) >= 0.2
    ORDER BY id_a, id_b
"""


@register("q_neardup_lsh", _neardup_lsh_oracle())
def q_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed near-dup (the 100 TB path) on the same 300-row slice
    the exact oracle uses; the DuckDB twin replicates the bucketing,
    so the candidate pruning itself is hash-checked."""
    e = _emb(spark, sf_dir)
    out = D.embedding_neardup_pairs(
        e, threshold=0.2, max_id=300, method="lsh", dim=64, n_planes=6, n_tables=2
    )
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine")).orderBy(
        "id_a", "id_b"
    )


# ----------------------------------------------------------- exact knn
_KNN_ORACLE = f"""
    WITH {_sql_cosine("vec_id < 3", "scored")}
    {_sql_rank("scored", "cosine", 10)}
"""


@register("q_knn", _KNN_ORACLE)
def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    queries = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return SS.brute_force_knn(e, queries, k=10).orderBy("query_id", "rnk")


# --------------------------------------------------------- token count
# empty/NULL text → zero tokens, matching textstats.tokens_expr
_TOKS_SQL = (
    "CASE WHEN text IS NULL OR trim(text) = '' THEN CAST([] AS VARCHAR[]) "
    "ELSE regexp_split_to_array(trim(text), '\\s+') END"
)


@register(
    "q_tokencount",
    f"""
    SELECT doc_id, CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens
    FROM documents ORDER BY doc_id
    """,
)
def q_tokencount(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.token_count(_docs(spark, sf_dir)).select("doc_id", "n_tokens").orderBy("doc_id")


# ------------------------------------------------------------- quality
def _quality_oracle() -> str:
    toks = _TOKS_SQL
    sw = ", ".join(f"'{w}'" for ws in TX.STOPWORDS.values() for w in ws)
    return f"""
    WITH t AS (
      SELECT doc_id, text,
             {toks} AS toks,
             length(text) AS n_chars,
             length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct,
             length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit
      FROM documents
    ), f AS (
      SELECT doc_id,
             len(toks) AS n_tokens,
             CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE)/n_chars ELSE 0 END AS punct_ratio,
             CASE WHEN n_chars > 0 THEN CAST(n_digit AS DOUBLE)/n_chars ELSE 0 END AS digit_ratio,
             CASE WHEN len(toks) > 0
                  THEN CAST(len(list_filter(toks, x -> lower(x) IN ({sw}))) AS DOUBLE)/len(toks)
                  ELSE 0 END AS stop_ratio,
             CASE WHEN len(toks) > 0
                  THEN CAST(n_chars - (len(toks) - 1) AS DOUBLE)/len(toks) ELSE 0 END AS avg_tok_len
      FROM t
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           round(punct_ratio, 6) AS punct_ratio,
           round(digit_ratio, 6) AS digit_ratio,
           round(stop_ratio, 6) AS stop_ratio,
           round(1.0 - least(1.0, punct_ratio * 4.0) * 0.25
                     - least(1.0, digit_ratio * 4.0) * 0.25
                     - (CASE WHEN avg_tok_len < 2.0 OR avg_tok_len > 12.0 THEN 0.25 ELSE 0.0 END)
                     - (CASE WHEN n_tokens < 5 THEN 0.25 ELSE 0.0 END), 6) AS quality_score
    FROM f ORDER BY doc_id
    """


@register("q_quality", _quality_oracle())
def q_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        TX.quality_features(_fan_out(_docs(spark, sf_dir), sf_dir, "documents"))
        .select("doc_id", "n_tokens", "punct_ratio", "digit_ratio", "stop_ratio", "quality_score")
        .orderBy("doc_id")
    )


# -------------------------------------------------------------- lang id
def _langid_oracle() -> str:
    score_cols = []
    for lang in TX.STOPWORDS:
        words = ", ".join(f"'{w}'" for w in TX.STOPWORDS[lang])
        score_cols.append(
            f"round(CASE WHEN len(toks) > 0 THEN "
            f"CAST(len(list_filter(toks, x -> lower(x) IN ({words}))) AS DOUBLE)/len(toks) "
            f"ELSE 0 END, 6) AS score_{lang}"
        )
    langs = sorted(TX.STOPWORDS)
    best = f"greatest({', '.join('score_' + la for la in langs)})"
    pred = "CASE " + " ".join(
        f"WHEN score_{la} = {best} THEN '{la}'" for la in langs
    ) + " END"
    toks = _TOKS_SQL
    return f"""
    WITH t AS (
      SELECT doc_id, {toks} AS toks FROM documents
    ), s AS (
      SELECT doc_id, {', '.join(score_cols)} FROM t
    )
    SELECT doc_id, {', '.join('score_' + la for la in langs)}, {pred} AS pred_lang
    FROM s ORDER BY doc_id
    """


@register("q_langid", _langid_oracle())
def q_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    langs = sorted(TX.STOPWORDS)
    return (
        TX.lang_scores(_fan_out(_docs(spark, sf_dir), sf_dir, "documents"))
        .select("doc_id", *[f"score_{la}" for la in langs], "pred_lang")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------- fingerprint
_FP_EXPR = _H.format(expr="regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')")


@register(
    "q_fingerprint",
    f"""
    SELECT doc_id, {_FP_EXPR} AS fp
    FROM documents ORDER BY doc_id
    """,
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return TX.fingerprint(_docs(spark, sf_dir)).select("doc_id", "fp").orderBy("doc_id")


# ---------------------------------------------------------------- rerank
_RERANK_ORACLE = """
    WITH r AS (
      SELECT doc_id, CAST(doc_id % 100 AS DOUBLE)/100 AS relevance, lang, n_chars
      FROM documents WHERE doc_id < 200
    ), k AS (
      SELECT *,
        CASE WHEN lang IN ('en','de') THEN 0 WHEN lang IS NULL THEN 1 ELSE 2 END AS lvl,
        CASE WHEN lang IN ('en','de') OR lang IS NULL THEN NULL ELSE lang END AS raw,
        CASE WHEN n_chars BETWEEN 150 AND 300 THEN 2.2250738585072014e-308
             ELSE CAST(n_chars AS DOUBLE) END AS dkey
      FROM r
    ), ranked AS (
      SELECT *,
        rank() OVER (ORDER BY lvl DESC, raw DESC NULLS LAST)
          + (count(*) OVER (PARTITION BY lvl, raw) - 1)/2.0 AS rk_s,
        rank() OVER (ORDER BY dkey DESC)
          + (count(*) OVER (PARTITION BY dkey) - 1)/2.0 AS rk_d,
        count(*) OVER () AS n
      FROM k
    )
    SELECT doc_id,
           round(relevance + 2.0*(2*(rk_s-1)/(n-1)-1) + 1.5*(2*(rk_d-1)/(n-1)-1), 6)
             AS relevance
    FROM ranked ORDER BY doc_id
"""


@register("q_rerank", _RERANK_ORACLE)
def q_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1-W8 under the oracle gate: the window re-ranking pipeline
    (sparse 3-level key + dense interval sentinel, average-tie rank
    normalization) over a deterministic result set."""
    from .encode import ColumnStats, CorpusStats
    from .rerank import rerank
    from . import schema as S2

    r = (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") < 200)
        .select(
            "doc_id",
            ((F.col("doc_id") % 100).cast("double") / 100).alias("relevance"),
            "lang",
            "n_chars",
        )
    )
    aux = {
        "lang": ((["en", "de"], False), 2.0),
        "n_chars": ((150.0, 300.0, False), 1.5),
    }
    stats = CorpusStats(
        columns={
            "lang": ColumnStats(S2.SPARSE),
            "n_chars": ColumnStats(S2.DENSE, min=0.0, max=600.0),
        }
    )
    out = rerank(r, aux, {"lang": S2.SPARSE, "n_chars": S2.DENSE}, stats)
    return out.select("doc_id", F.round("relevance", 6).alias("relevance")).orderBy("doc_id")


# ----------------------------------------------- batch rerank (W1-W8, batched)
_RERANK_BATCH_ORACLE = """
    WITH r AS (
      SELECT doc_id, doc_id % 3 AS query_id,
             CAST(doc_id % 100 AS DOUBLE)/100 AS relevance, lang, n_chars
      FROM documents WHERE doc_id < 300
    ), k AS (
      SELECT *,
        CASE WHEN lang IN ('en','de') THEN 0 WHEN lang IS NULL THEN 1 ELSE 2 END AS lvl,
        CASE WHEN lang IN ('en','de') OR lang IS NULL THEN NULL ELSE lang END AS raw,
        CASE WHEN n_chars BETWEEN 150 AND 300 THEN 2.2250738585072014e-308
             ELSE CAST(n_chars AS DOUBLE) END AS dkey
      FROM r
    ), ranked AS (
      SELECT *,
        rank() OVER (PARTITION BY query_id ORDER BY lvl DESC, raw DESC NULLS LAST)
          + (count(*) OVER (PARTITION BY query_id, lvl, raw) - 1)/2.0 AS rk_s,
        rank() OVER (PARTITION BY query_id ORDER BY dkey DESC)
          + (count(*) OVER (PARTITION BY query_id, dkey) - 1)/2.0 AS rk_d,
        count(*) OVER (PARTITION BY query_id) AS n,
        max(CASE WHEN lang IN ('en','de') THEN 1 ELSE 0 END)
          OVER (PARTITION BY query_id) AS g
      FROM k
    )
    SELECT query_id, doc_id,
           round(relevance
                 + CASE WHEN g = 1 THEN 2.0*(2*(rk_s-1)/(n-1)-1) ELSE 0.0 END
                 + 1.5*(2*(rk_d-1)/(n-1)-1), 6) AS relevance
    FROM ranked ORDER BY query_id, doc_id
"""


@register("q_rerank_batch", _RERANK_BATCH_ORACLE)
def q_rerank_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1-W8 in BATCH mode (query_id_col): every re-rank window
    partitions by the query id — the shape that serves a batch of
    queries in one plan at scale. Same modality math as q_rerank,
    now hash-checked per-partition."""
    from . import schema as S2
    from .encode import ColumnStats, CorpusStats
    from .rerank import rerank

    r = (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") < 300)
        .select(
            "doc_id",
            (F.col("doc_id") % 3).alias("query_id"),
            ((F.col("doc_id") % 100).cast("double") / 100).alias("relevance"),
            "lang",
            "n_chars",
        )
    )
    aux = {
        "lang": ((["en", "de"], False), 2.0),
        "n_chars": ((150.0, 300.0, False), 1.5),
    }
    stats = CorpusStats(
        columns={
            "lang": ColumnStats(S2.SPARSE),
            "n_chars": ColumnStats(S2.DENSE, min=0.0, max=600.0),
        }
    )
    out = rerank(
        r, aux, {"lang": S2.SPARSE, "n_chars": S2.DENSE}, stats, query_id_col="query_id"
    )
    return out.select(
        "query_id", "doc_id", F.round("relevance", 6).alias("relevance")
    ).orderBy("query_id", "doc_id")


# ------------------------------------------------- geo re-rank (W5), oracle
_RERANK_GEO_ORACLE = """
    WITH pts AS (
      SELECT s_suppkey,
             CAST(s_suppkey % 10 AS DOUBLE)/10 AS relevance,
             CAST((s_suppkey * 7) % 360 AS DOUBLE) - 180 + 0.25 AS lon,
             CAST((s_suppkey * 13) % 180 AS DOUBLE) - 90 + 0.25 AS lat
      FROM supplier
    ), q AS (
      SELECT cos(radians(42.0)) * cos(radians(12.5)) AS qx,
             cos(radians(42.0)) * sin(radians(12.5)) AS qy,
             sin(radians(42.0)) AS qz,
             radians(12.5) AS qlon, radians(42.0) AS qlat
    ), d AS (
      SELECT p.*,
             2 * 6371 * asin(sqrt(
                 pow(sin((radians(p.lat) - q.qlat)/2), 2)
                 + cos(q.qlat) * cos(radians(p.lat))
                   * pow(sin((radians(p.lon) - q.qlon)/2), 2)
             )) AS dist,
             cos(radians(p.lat)) * cos(radians(p.lon)) AS px,
             cos(radians(p.lat)) * sin(radians(p.lon)) AS py,
             sin(radians(p.lat)) AS pz
      FROM pts p, q
    ), far AS (
      SELECT px AS fx, py AS fy, pz AS fz
      FROM d ORDER BY dist DESC, lon DESC, lat DESC LIMIT 1
    ), sc AS (
      SELECT d.s_suppkey, d.relevance,
             (2.0 / (1.0 - (q.qx*f.fx + q.qy*f.fy + q.qz*f.fz)))
               * (q.qx*d.px + q.qy*d.py + q.qz*d.pz)
             + (1.0 - 2.0 / (1.0 - (q.qx*f.fx + q.qy*f.fy + q.qz*f.fz))) AS score
      FROM d, far f, q
    ), ranked AS (
      SELECT s_suppkey, relevance,
             rank() OVER (ORDER BY score ASC)
               + (count(*) OVER (PARTITION BY score) - 1)/2.0 AS rk,
             count(*) OVER () AS n
      FROM sc
    )
    SELECT s_suppkey,
           round(relevance
                 + 2.0 * (CASE WHEN n > 1 THEN 2.0*(rk-1)/(n-1)-1.0 ELSE 0.0 END),
                 6) AS relevance
    FROM ranked ORDER BY s_suppkey
"""


@register("q_rerank_geo", _RERANK_GEO_ORACLE)
def q_rerank_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 geo re-rank under the oracle gate (VERDICT r2 #3 — the last
    W-op without oracle heritage): synthetic lon/lat derived from
    supplier keys (q_haversine's pattern), then the REAL rerank()
    geo branch — haversine to the query point, farthest point via
    window max of (dist, lon, lat), scale-and-shift score, avg-tie
    rank normalization — re-derived end-to-end in SQL. The geo
    *hard-filter* form stays excluded (no oracle form, CLAUDE.md
    invariant); the re-rank path is filter-free and exact.
    Reference: src/encode.py:232-246."""
    from . import schema as S2
    from .encode import ColumnStats, CorpusStats
    from .rerank import rerank
    from .session import load_tables

    s = load_tables(spark, sf_dir, "supplier")["supplier"]
    r = s.select(
        "s_suppkey",
        ((F.col("s_suppkey") % 10).cast("double") / 10).alias("relevance"),
        F.struct(
            (((F.col("s_suppkey") * 7) % 360).cast("double") - 180 + 0.25).alias("lon"),
            (((F.col("s_suppkey") * 13) % 180).cast("double") - 90 + 0.25).alias("lat"),
        ).alias("geo"),
    )
    stats = CorpusStats(columns={"geo": ColumnStats(S2.GEO)})
    out = rerank(r, {"geo": ((12.5, 42.0, False), 2.0)}, {"geo": S2.GEO}, stats)
    return out.select("s_suppkey", F.round("relevance", 6).alias("relevance")).orderBy(
        "s_suppkey"
    )


# ----------------------------------------------- fused top-k, oracle-checked
_FUSED_TEXT_DIM = 16
_FUSED_TEXT_QUERY = "spark join filter"
_FUSED_LANG_SELECTION = ("en", "de")
_FUSED_LANG_WEIGHT = 2.0


def _fused_text_oracle() -> str:
    """DuckDB twin of the FUSED search path: the stub hashed-BOW text
    embedding (md5-of-token % dim, the exact _token_index math from
    embed.py), L2 normalization, the sorted-vocab one-hot lang
    segment, the ±1·weight query segment, layout concatenation, dot
    product, ORDER BY/LIMIT top-k — all re-derived in SQL. The query
    text's BOW vector is compiled here (driver-side, data-free) and
    embedded as literals, mirroring compile_query. Integer token
    counts make the L2 norms bit-identical across engines (sum of
    integer squares is order-independent)."""
    from .embed import DeterministicStubEmbedder

    qv = DeterministicStubEmbedder(_FUSED_TEXT_DIM).embed(_FUSED_TEXT_QUERY)
    q_lits = "[" + ",".join(repr(float(x)) for x in qv) + "]"
    sel = ", ".join(f"'{v}'" for v in _FUSED_LANG_SELECTION)
    d = _FUSED_TEXT_DIM
    w = _FUSED_LANG_WEIGHT
    dot = _sql_dot("vec", "qv", "len(vec)")
    return f"""
    WITH d AS (
      SELECT doc_id, coalesce(text, '') AS t, lang FROM documents WHERE doc_id < 300
    ), vocab AS (
      SELECT list_sort(list(DISTINCT lang)) AS vs FROM d WHERE lang IS NOT NULL
    ), tok AS (
      SELECT doc_id, lang,
             CASE WHEN trim(t) = '' THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(trim(lower(t)), '\\s+') END AS toks
      FROM d
    ), bow AS (
      SELECT doc_id, lang,
             list_transform(range(0, {d}), dd ->
               CAST(len(list_filter(toks, tk ->
                 CAST(concat('0x', substring(md5(tk), 1, 16)) AS UBIGINT) % {d} = dd))
                 AS DOUBLE)) AS c
      FROM tok
    ), nb AS (
      SELECT doc_id, lang, c,
             sqrt(list_sum(list_transform(c, x -> x * x))) AS nrm
      FROM bow
    ), vecs AS (
      SELECT doc_id,
             list_concat(
               list_transform(c, x -> CASE WHEN nrm = 0 THEN 0.0 ELSE x / nrm END),
               list_transform(vs, v -> CASE WHEN lang = v THEN 1.0 ELSE 0.0 END)
             ) AS vec
      FROM nb, vocab
    ), q AS (
      SELECT list_concat(
               {q_lits},
               list_transform(vs, v ->
                 CASE WHEN v IN ({sel}) THEN {w} ELSE -{w} END)
             ) AS qv
      FROM vocab
    )
    SELECT doc_id, round({dot}, 6) AS relevance
    FROM vecs, q
    ORDER BY {dot} DESC, doc_id
    LIMIT 20
"""


@register("q_fused_text", _fused_text_oracle())
def q_fused_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fused search path under the ORACLE GATE: real operators
    end-to-end — mapInPandas stub embed (X1-X2), compute_stats +
    sorted-vocab one-hot encode (A1/C1), driver-side query compile
    (C2/C5/X3), expression top-k (T1) — hash-checked against a DuckDB
    re-derivation of the whole pipeline (geo/dense stay out: geo has
    no oracle form, dense trig integrals are checked by unit
    parity)."""
    from . import schema as S2
    from .embed import DeterministicStubEmbedder, embed_corpus
    from .encode import compute_stats, encode_products, record_text_dim
    from .query import compile_query
    from .search import topk

    docs = (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") < 300)
        .select("doc_id", "text", "lang")
        .withColumn("row_id", F.col("doc_id"))
    )
    aux = {"lang": S2.SPARSE}
    # stats over the PRE-embed frame: computed over `embedded`, each
    # of compute_stats' two agg actions re-ran the stub-embed
    # mapInPandas stage per serve call (r12, same fix as
    # flagship.build_corpus)
    stats = compute_stats(docs, aux)
    embedded = embed_corpus(docs, {"text": 1.0}, dim=_FUSED_TEXT_DIM)
    encoded, layout = encode_products(embedded, aux, stats, num_harmonics=4)
    record_text_dim(layout, _FUSED_TEXT_DIM)
    cq = compile_query(
        _FUSED_TEXT_QUERY,
        {"lang": ((list(_FUSED_LANG_SELECTION), False), _FUSED_LANG_WEIGHT)},
        aux,
        stats,
        layout,
        text_embedder=DeterministicStubEmbedder(_FUSED_TEXT_DIM),
        num_harmonics=4,
    )
    out = topk(encoded, cq.vector, k=20)
    return out.select("doc_id", F.round("relevance", 6).alias("relevance")).orderBy(
        F.desc("relevance"), "doc_id"
    )


def _lsh_knn_oracle(dim: int = 64, n_planes: int = 6, k: int = 10) -> str:
    """DuckDB twin of the multiprobe LSH ANN: same seeded hyperplane
    buckets (literal doubles), Hamming-distance-1 probe expansion via
    xor, bucket equi-join, per-(query, vec) dedup, exact cosine
    rerank, row_number cutoff — the full ANN algorithm re-derived."""
    probe_list = ", ".join(["bucket"] + [f"xor(bucket, {1 << j})" for j in range(n_planes)])
    return f"""
    WITH e AS (
      SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS nrm,
             {_bucket_sql(dim, n_planes, 42)} AS bucket
      FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, embedding AS qe, nrm AS qn,
             unnest([{probe_list}]) AS bucket
      FROM e WHERE vec_id < 3
    ), scored AS (
      SELECT q.query_id, e.vec_id,
             max({_sql_dot("e.embedding", "q.qe", dim)} / (e.nrm * q.qn)) AS cosine
      FROM e JOIN q ON e.bucket = q.bucket
      GROUP BY q.query_id, e.vec_id
    )
    {_sql_rank("scored", "cosine", k)}
"""


@register("q_lsh_knn", _lsh_knn_oracle())
def q_lsh_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN path under the oracle gate: random-hyperplane LSH buckets,
    Hamming-1 multiprobe, exact in-bucket rerank — the DuckDB twin
    replicates the bucketing + probing, so the ANN candidate set
    itself is hash-checked."""
    e = _emb(spark, sf_dir)
    queries = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    return SS.lsh_knn(e, queries, dim=64, k=10).orderBy("query_id", "rnk")


def _ivf_index(spark: SparkSession, sf_dir: str):
    """Build-once IVF index per (session, sf_dir) via session_cached:
    train the coarse quantizer, write the assigned table partitioned by
    centroid_id (simsearch.ivf_persist) into the build's scratch dir,
    read it back so probes partition-prune. Later calls measure SERVE
    cost, not build (bench.py: q_ivf_build vs q_ivf_serve)."""

    def build(scratch):
        assigned, centroids = SS.ivf_build(_emb(spark, sf_dir), dim=64, n_centroids=8, max_iter=8)
        SS.ivf_persist(assigned, scratch)
        return SS.ivf_load(spark, scratch), centroids

    return session_cached(spark, ("ivf", os.path.abspath(sf_dir)), build)


def _ivf_serve_oracle(dim: int = 64, n_cent: int = 8, nprobe: int = 3, k: int = 10) -> str:
    """DuckDB twin of IVF serve: the coarse quantizer is FROZEN as
    the first ``n_cent`` corpus vectors (Forgy seeding — derivable in
    both engines, so no magic literals), then the full serve
    algorithm is re-derived: nearest-centroid cell assignment by
    ``||c||^2 - 2<x,c>`` argmin (ties → lowest cell id, exactly
    simsearch.ivf_assign's struct-min), top-``nprobe`` probe
    selection by centroid cosine, in-cell exact cosine rerank,
    row_number cutoff. K-means *training* stays out (not
    SQL-expressible) — it is unit-tested and benched separately."""
    return f"""
    WITH e AS (
      SELECT vec_id, embedding,
             sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))) AS nrm
      FROM embeddings
    ), {_sql_assign("embedding", dim, n_cent)}, q AS (
      SELECT vec_id AS query_id, embedding AS qe, nrm AS qn FROM e WHERE vec_id < 3
    ), {_sql_probe(dim, nprobe)}, scored AS (
      SELECT p.query_id, s.vec_id,
             {_sql_dot("s.embedding", "p.qe", dim)} / (s.nrm * p.qn) AS cosine
      FROM cells s JOIN probed p ON s.cid = p.cid
    )
    {_sql_rank("scored", "cosine", k)}
"""


@register("q_ivf_knn", _ivf_serve_oracle())
def q_ivf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN SERVE path under the oracle gate (closes the r2
    no_oracle row): coarse quantizer frozen as the first 8 corpus
    vectors (both engines derive it — serve semantics don't depend on
    how centroids were trained), expression-only cell assignment
    (simsearch.ivf_assign), driver-side nprobe probe selection,
    static-isin cell pruning + broadcast probe join + exact cosine
    rerank (simsearch.ivf_knn — the REAL serve machinery, not an
    oracle-only twin). The k-means-trained path keeps its own bench
    entries (q_ivf_build / q_ivf_serve via ivf_trained_knn) and unit
    tests (recall, nprobe monotonicity, partition pruning)."""
    e = _emb(spark, sf_dir)
    cent_rows = e.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    centroids = np.array([r["embedding"] for r in cent_rows], dtype="float64")
    # score_round=6: the oracle's argmin orders by round(dist, 6) —
    # the shared tie-break domain (engine csq is a numpy-pairwise
    # literal, the twin folds sequentially; rounding absorbs the ulp)
    assigned = SS.ivf_assign(e, centroids, score_round=6)
    # the query batch IS the first 3 centroid rows just collected —
    # re-deriving it as a distributed filter cost a second driver job
    # (ivf_knn drains queries via toLocalIterator) over the same scan
    # per serve call (r12); ship the already-held rows back as an
    # Arrow LocalRelation instead
    from .session import local_frame

    _dense_prefix(cent_rows, 3)
    queries = local_frame(
        spark,
        [(int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in cent_rows[:3]],
        "query_id bigint, qvec array<double>",
    )
    return SS.ivf_knn(assigned, centroids, queries, k=10, nprobe=3).orderBy(
        "query_id", "rnk"
    )


def ivf_trained_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k-means-trained IVF path (bench-only: training is not
    SQL-expressible, so it lives outside the oracle registry): build
    or reuse the cached partitioned index, probe, exact rerank.
    First call per session measures BUILD (train + partitioned
    write), subsequent calls measure steady-state SERVE."""
    e = _emb(spark, sf_dir)
    queries = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec")
    )
    assigned, centroids = _ivf_index(spark, sf_dir)
    return SS.ivf_knn(assigned, centroids, queries, k=10, nprobe=4).orderBy(
        "query_id", "rnk"
    )


_MEDIA_ORACLE = """
    WITH d AS (
      SELECT doc_id, coalesce(text, '') AS t FROM documents WHERE doc_id < 100
    ), m AS (
      SELECT doc_id, t, md5(t) AS h,
             CASE WHEN length(t) = 0 THEN [0]
                  ELSE list_transform(range(1, length(t) + 1),
                                      i -> unicode(substring(t, i, 1))) END AS bytes
      FROM d
    ), cnts AS (
      SELECT doc_id, t, h,
             list_transform(range(0, 16), dd ->
               CAST(len(list_filter(bytes, b -> b % 16 = dd)) AS DOUBLE)) AS c
      FROM m
    ), n AS (
      SELECT *, sqrt(list_sum(list_transform(c, x -> x * x))) AS nrm FROM cnts
    )
    SELECT doc_id,
           octet_length(encode(t)) AS n_bytes,
           64 + CAST(concat('0x', substring(h, 1, 2)) AS INT) % 192 AS width,
           64 + CAST(concat('0x', substring(h, 3, 2)) AS INT) % 192 AS height,
           round(list_sum(list_transform(c, x -> (x / nrm) * (x / nrm))), 6)
             AS feat_sq_norm
    FROM n ORDER BY doc_id
"""


@register("q_media_pipeline", _MEDIA_ORACLE)
def q_media_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing under the oracle gate: payload attach →
    metadata decode (deterministic md5 stub) → hashed byte-histogram
    features — all mapInPandas stages; the DuckDB twin re-derives the
    stub math (md5 bytes, histogram, L2 norm) from the text column
    (ASCII corpus ⇒ code points == utf-8 bytes)."""
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 100).select("doc_id", "text")
    d = M.attach_payload(d)
    d = M.extract_media_metadata(d)
    d = M.media_features(d)
    return d.select(
        "doc_id",
        F.col("media_meta.n_bytes").alias("n_bytes"),
        F.col("media_meta.width").alias("width"),
        F.col("media_meta.height").alias("height"),
        F.round(F.aggregate("media_feat", F.lit(0.0), lambda a, x: a + x * x), 6).alias(
            "feat_sq_norm"
        ),
    ).orderBy("doc_id")


def _restaurants_corpus(spark: SparkSession, csv: str):
    """Build-once restaurant corpus per (session, csv) via session_cached:
    load, embed, fit stats, encode; `persisted` keeps the encoded table
    cached. Splits one-time build cost from per-query serve cost
    (bench.py: q_restaurants_fused vs q_restaurants_serve)."""
    from .embed import embed_corpus
    from .encode import compute_stats, encode_products, record_text_dim
    from .loaders import load_restaurants

    def build(_):
        ds = load_restaurants(spark, csv, fit_transforms=False)
        # one small CSV → one partition → single-core embed+encode and
        # single-core cached serves: a local-mode artifact (r11, same
        # fix as build_corpus — size-derived split, ~1250 rows per
        # partition; outputs are per-row deterministic, so the
        # repartition only buys parallelism)
        parts = max(
            1,
            min(
                spark.sparkContext.defaultParallelism,
                ds.df.count() // 1250,
            ),
        )
        # same guard as flagship.build_corpus (VERDICT r11 wrong #3):
        # repartition only an UNDER-split source, never shuffle down
        src = (
            ds.df.repartition(parts)
            if parts > 1 and ds.df.rdd.getNumPartitions() < parts
            else ds.df
        )
        aux = ds.schema.aux_encoding_schema
        # stats over the PRE-embed frame (r12, same fix as
        # flagship.build_corpus): over `embedded`, compute_stats' two
        # agg actions each re-ran the full embed mapInPandas stage
        stats = compute_stats(src, aux)
        embedded = embed_corpus(src, ds.schema.text_encoding_schema, dim=32)
        encoded, layout = encode_products(embedded, aux, stats, num_harmonics=16)
        record_text_dim(layout, 32)
        return encoded, aux, stats, layout

    encoded, aux, stats, layout = session_cached(spark, ("restaurants", csv), build)
    return persisted(encoded), aux, stats, layout


@register("q_restaurants_fused", None)
def q_restaurants_fused(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's OWN dataset end-to-end (rows-only): load
    restaurants.csv through the parity loader, encode all five
    modality kinds, run a fused city+cost+delivery+geo query."""
    csv = "/root/reference/data/restaurants/restaurants.csv"
    if not os.path.exists(csv):
        # fall back to the synthetic flagship when the reference data
        # is absent (keeps the entry runnable in any environment)
        from .flagship import flagship_query

        return flagship_query(spark, sf_dir)
    from .embed import DeterministicStubEmbedder
    from .query import compile_query
    from .search import topk

    encoded, aux, stats, layout = _restaurants_corpus(spark, csv)
    aux_data = {c: (None, 1.0) for c in aux}
    aux_data["City"] = ((["New Delhi"], False), 4.0)
    aux_data["Average Cost for two"] = ((200.0, 800.0, False), 2.0)
    aux_data["Has Online delivery"] = ("Yes", 2.0)
    aux_data["Location"] = ((77.2, 28.6, False), 2.0)
    cq = compile_query(
        "north indian mughlai", aux_data, aux, stats, layout,
        text_embedder=DeterministicStubEmbedder(32), num_harmonics=16,
    )
    return topk(encoded, cq.vector, k=10).select(
        "row_id", "City", "Has Online delivery", F.round("relevance", 6).alias("relevance")
    )


def _flagship_parts() -> tuple:
    """(shared CTE block, bucketed-source expr, K, D) for the
    flagship fused oracle and the fused-IVF oracle — the CTE block
    derives everything through ``scored`` (per-doc fused relevance).

    DuckDB twin of the FLAGSHIP fused query — the whole engine in
    one SQL string: hashed-BOW text embed (64-d), sparse lang segment,
    the dense Fourier product block (half-circle + K=64 Lanczos-damped
    harmonics + bias + null-ind) against the interval-integral query
    segment (N4·N5), min/max stats derived in-SQL, portable-md5 source
    bucketing, dot-score, top-10.

    Exactness: every constant (π, σ_k, 1−ε, query BOW) is computed by
    the SAME numpy code the engine uses and emitted via repr (exact
    round-trip); every expression mirrors the engine's operation
    ORDER (e.g. integrate_pair's cos(a·π·k) associates (a·π)·k while
    fourier_series' ang associates (k·π)·x — both preserved), so the
    only FP divergence left is sub-ulp trig/summation noise, far
    below the round(6) output grain.

    The source one-hot segment is dotted against a ZERO query segment
    (aux weight None) and is therefore omitted from the dot; the lang
    one-hot · (±w) dot collapses to a CASE on lang (exactly one hot
    position). Parity quirk preserved: integrate_pair evaluates σ at
    a single k, which yields σ₁=1.0, while the corpus/probe Fourier
    σ₁=sinc(π/64) — two different sigma literal lists below."""
    import math

    import numpy as np

    from . import fourier
    from .embed import DeterministicStubEmbedder
    from .flagship import EMB_DIM, NUM_HARMONICS
    from .pipeline_ext.hashing import portable_hash32_sql

    K = NUM_HARMONICS
    D = EMB_DIM
    qv = DeterministicStubEmbedder(D).embed("spark join filter vector search")
    q_lits = "[" + ",".join(repr(float(x)) for x in qv) + "]"
    sig_fs = fourier.sigma(np.arange(1, K + 1), K, math.pi)
    sig_int = sig_fs.copy()
    sig_int[0] = 1.0  # integrate_pair's single-k sigma special case
    sfs = "[" + ",".join(repr(float(s)) for s in sig_fs) + "]"
    sint = "[" + ",".join(repr(float(s)) for s in sig_int) + "]"
    pi = repr(math.pi)
    hpi = repr(math.pi / 2)
    eps = repr(1.0 - 0.01)  # 1 − range_epsilon, as the engine computes it
    ieps = repr(0.01)  # interval_epsilon
    lo, hi = "120.0", "360.0"
    wl, wd = "2.0", "1.5"
    kd = "CAST(k AS DOUBLE)"
    src = f"('srcb' || CAST({portable_hash32_sql('source')} % 16 AS VARCHAR))"
    # fourier_series(p, K) inline: ang associates (k·π)·p
    fs = (
        f"flatten(list_transform(range(1, {K + 1}), k -> "
        f"[sin(({kd}*{pi})*{{p}})*({sfs})[k], cos(({kd}*{pi})*{{p}})*({sfs})[k]]))"
    )
    return f"""
    WITH d AS (
      SELECT doc_id, coalesce(text, '') AS t, lang, source, n_chars FROM documents
    ), st AS (
      SELECT min(CAST(n_chars AS DOUBLE)) AS mn, max(CAST(n_chars AS DOUBLE)) AS mx
      FROM d
    ), tok AS (
      SELECT doc_id,
             CASE WHEN trim(t) = '' THEN CAST([] AS VARCHAR[])
                  ELSE string_split_regex(trim(lower(t)), '\\s+') END AS toks
      FROM d
    ), bow AS (
      SELECT doc_id,
             list_transform(range(0, {D}), dd ->
               CAST(len(list_filter(toks, tk ->
                 CAST(concat('0x', substring(md5(tk), 1, 16)) AS UBIGINT) % {D} = dd))
                 AS DOUBLE)) AS c
      FROM tok
    ), txt AS (
      SELECT doc_id,
             list_transform(c, x -> CASE WHEN nrm = 0 THEN 0.0 ELSE x / nrm END) AS tv
      FROM (SELECT doc_id, c,
                   sqrt(list_sum(list_transform(c, x -> x * x))) AS nrm FROM bow)
    ), qiv AS (
      -- query dense interval: scaled+epsilon bounds, analytic integrals
      SELECT a, b,
        flatten(list_transform(range(1, {K + 1}), k ->
          [(((1.0/(b - a)) * ((cos((a*{pi})*{kd}) - cos((b*{pi})*{kd}))
              / (({pi}*{kd}) * (b - a)))) * ({sint})[k]),
           (((1.0/(b - a)) * ((sin((b*{pi})*{kd}) - sin((a*{pi})*{kd}))
              / (({pi}*{kd}) * (b - a)))) * ({sint})[k])])) AS ivec,
        (a + b)/2.0 AS p_in,
        CASE WHEN abs(a + 1.0) > abs(1.0 - b) THEN (a - 1.0)/2.0
             ELSE (b + 1.0)/2.0 END AS p_out
      FROM (SELECT {eps} * ((2.0*(({lo} - mn)/(mx - mn)) - 1.0) - {ieps}) AS a,
                   {eps} * ((2.0*(({hi} - mn)/(mx - mn)) - 1.0) + {ieps}) AS b
            FROM st)
    ), qseg AS (
      -- probe-normalized interval segment ‖ shift ‖ null-ind, ×weight
      SELECT list_transform(
               list_concat([0.0, 0.0, 0.0],
                 list_concat(list_transform(ivec, v -> v * scale),
                             [((-scale) * shift), 1.0])),
               v -> v * {wd}) AS qd
      FROM (SELECT ivec, 2.0/(dot_in - dot_out) AS scale,
                   (dot_in + dot_out)/2.0 AS shift
            FROM (SELECT ivec,
                    {_sql_dot(f"({fs.format(p='p_in')})", "ivec", 2 * K)} AS dot_in,
                    {_sql_dot(f"({fs.format(p='p_out')})", "ivec", 2 * K)} AS dot_out
                  FROM qiv))
    ), cvec AS (
      -- corpus dense product block per doc: [half(2)|1|full(2K)|1|null]
      SELECT doc_id,
        list_concat(
          [coalesce(sin((1.0*{hpi})*sx)*1.0, 0.0),
           coalesce(cos((1.0*{hpi})*sx)*1.0, 0.0), 1.0],
          list_concat(
            flatten(list_transform(range(1, {K + 1}), k ->
              [coalesce(sin(({kd}*{pi})*sx)*({sfs})[k], 0.0),
               coalesce(cos(({kd}*{pi})*sx)*({sfs})[k], 0.0)])),
            [1.0, CASE WHEN n_chars IS NULL THEN -1.0 ELSE 0.0 END])) AS cv
      FROM (SELECT doc_id, n_chars,
                   {eps} * (2.0*((CAST(n_chars AS DOUBLE) - mn)/(mx - mn)) - 1.0) AS sx
            FROM d, st)
    ), scored AS (
      SELECT d.doc_id, d.lang, d.source, d.n_chars,
             {_sql_dot("tv", f"({q_lits})", D)}
             + CASE WHEN d.lang IS NULL THEN 0.0
                    WHEN d.lang IN ('en', 'de') THEN {wl} ELSE -{wl} END
             + {_sql_dot("cv", "qd", 2 * K + 5)}
               AS rel
      FROM d
      JOIN txt ON txt.doc_id = d.doc_id
      JOIN cvec ON cvec.doc_id = d.doc_id
      CROSS JOIN qseg
    )""", src, K, D


def _flagship_oracle() -> str:
    ctes, src, _K, _D = _flagship_parts()
    return f"""{ctes}
    SELECT doc_id AS row_id, lang, {src} AS source, n_chars,
           round(rel, 6) AS relevance
    FROM scored
    ORDER BY rel DESC, row_id
    LIMIT 10
"""


@register("q_fused_topk", _flagship_oracle())
def q_fused_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship fused multimodal search (stub text embedder →
    modality encodings → single exact IP top-k), hash-checked
    against a full SQL re-derivation of the engine (see
    _flagship_oracle)."""
    from .flagship import flagship_query

    return flagship_query(spark, sf_dir)


_FUSED_IVF_NPROBE = 3


def _fused_ivf_oracle(k: int = 10) -> str:
    """DuckDB twin of the fused-IVF serve path (flagship.
    fused_ivf_query): on top of the shared flagship CTEs it
    re-derives (1) the frozen coarse quantizer — fused vectors of
    docs 0..7 — and each doc's cell by MAX rounded inner product,
    decomposed into the modality component sums (text BOW dot +
    lang one-hot match + bucketed-source one-hot match + dense
    product dot; one-hot blocks dot to a null-guarded equality CASE);
    (2) the probe set — top-nprobe cells by the centroid docs' own
    rounded fused relevance (IP(query, centroid) IS scored.rel at the
    centroid doc); (3) exact top-k restricted to probed cells.
    Assignment/probe scores are rounded to 6 on both engines so the
    different sum fold orders share one tie-break domain."""
    ctes, src, K, D = _flagship_parts()
    nc, npr = 8, _FUSED_IVF_NPROBE
    return f"""{ctes}, db AS (
      SELECT d.doc_id, {src} AS bsrc, d.lang, txt.tv, cvec.cv
      FROM d
      JOIN txt ON txt.doc_id = d.doc_id
      JOIN cvec ON cvec.doc_id = d.doc_id
    ), cent AS (
      SELECT doc_id AS cid, bsrc AS csrc, lang AS clang, tv AS ctv, cv AS ccv
      FROM db WHERE doc_id < {nc}
    ), ipm AS (
      SELECT db.doc_id, c.cid,
             round(
               {_sql_dot("db.tv", "c.ctv", D)}
               + CASE WHEN db.lang IS NOT NULL AND db.lang = c.clang
                      THEN 1.0 ELSE 0.0 END
               + CASE WHEN db.bsrc IS NOT NULL AND db.bsrc = c.csrc
                      THEN 1.0 ELSE 0.0 END
               + {_sql_dot("db.cv", "c.ccv", 2 * K + 5)}, 6) AS ip
      FROM db CROSS JOIN cent c
    ), cells AS (
      SELECT doc_id, cid FROM (
        SELECT doc_id, cid,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY ip DESC, cid ASC) AS rn
        FROM ipm
      ) WHERE rn = 1
    ), probes AS (
      SELECT doc_id AS cid FROM scored WHERE doc_id < {nc}
      ORDER BY round(rel, 6) DESC, doc_id ASC LIMIT {npr}
    )
    SELECT s.doc_id AS row_id, s.lang, {src} AS source,
           s.n_chars, round(s.rel, 6) AS relevance
    FROM scored s
    JOIN cells ce ON ce.doc_id = s.doc_id
    WHERE ce.cid IN (SELECT cid FROM probes)
    ORDER BY s.rel DESC, s.doc_id
    LIMIT {k}
"""


@register("q_fused_ivf", _fused_ivf_oracle())
def q_fused_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused search over the ANN serve path (VERDICT r4 next-round
    #6) — the reference's 'IVF index + fused query' shape (Milvus
    IVF_FLAT arm, /root/reference/src/eval/milvus_experiment.py:32)
    end-to-end: fused encode → IP cell assignment against a frozen
    8-cell quantizer → probe top-3 cells → exact IP top-k over only
    the probed cells (flagship.fused_ivf_query). The cell filter is
    a static isin — over an ivf_persist'ed corpus it prunes
    partitions, so each query reads nprobe/n_cells of a 100 TB
    corpus; recall vs the exact fused scan is tracked by
    flagship.fused_ivf_recall_at_k in the eval harness."""
    from .flagship import fused_ivf_query

    return fused_ivf_query(spark, sf_dir, k=10, nprobe=_FUSED_IVF_NPROBE)


# ======================================================================
# Corpus-curation operators (pipeline_ext/curation.py): deterministic
# splits, quota sampling, decontamination, PII scrub, repetition,
# keep-best dedup, end-to-end curation. Extends the reference's prep
# surface (src/prep.py) with LLM-corpus curation steps; every entry is
# oracle-checked.
# ======================================================================

_SPLIT_H = _H.format(expr="concat('split:', CAST(doc_id AS VARCHAR))")


@register(
    "q_split",
    f"""
    SELECT doc_id,
           CASE WHEN {_SPLIT_H} % 100 < 90 THEN 'train'
                WHEN {_SPLIT_H} % 100 < 95 THEN 'val'
                ELSE 'test' END AS split
    FROM documents ORDER BY doc_id
    """,
)
def q_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic salted-hash train/val/test assignment — pure
    projection, reproducible across engines and cluster sizes."""
    from .pipeline_ext import curation as CU

    return CU.assign_split(_docs(spark, sf_dir)).select("doc_id", "split").orderBy("doc_id")


_QUOTA_H = _H.format(expr="concat('quota:', CAST(doc_id AS VARCHAR))")


@register(
    "q_quota_sample",
    f"""
    SELECT source, doc_id FROM (
      SELECT source, doc_id,
             row_number() OVER (PARTITION BY source
                                ORDER BY {_QUOTA_H} ASC, doc_id ASC) AS rn
      FROM documents
    ) WHERE rn <= 10 ORDER BY source, doc_id
    """,
)
def q_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source deterministic quota sample (smallest salted hash
    wins) — the domain-balancing step of a corpus mix."""
    from .pipeline_ext import curation as CU

    return (
        CU.quota_sample(_docs(spark, sf_dir), group_col="source", n_per_group=10)
        .select("source", "doc_id")
        .orderBy("source", "doc_id")
    )


def _decontam_oracle(n: int = 8) -> str:
    gram = "concat_ws(' ', " + ", ".join(f"tk[i+{j}]" for j in range(n)) + ")"
    gh = _H.format(expr=gram)
    toks = _TOKS_SQL
    return f"""
    WITH tr AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 17 <> 0
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id, text FROM documents WHERE doc_id % 34 = 0
    ), te AS (
      SELECT text FROM documents WHERE doc_id % 17 = 0
    ), trg AS (
      SELECT doc_id, unnest(
        CASE WHEN len(tk) >= {n}
             THEN list_transform(generate_series(1, len(tk) - {n - 1}), i -> {gh})
             ELSE CAST([] AS BIGINT[]) END) AS g
      FROM (SELECT doc_id, {toks} AS tk FROM tr)
    ), teg AS (
      SELECT DISTINCT unnest(
        CASE WHEN len(tk) >= {n}
             THEN list_transform(generate_series(1, len(tk) - {n - 1}), i -> {gh})
             ELSE CAST([] AS BIGINT[]) END) AS g
      FROM (SELECT {toks} AS tk FROM te)
    )
    SELECT DISTINCT doc_id FROM trg WHERE g IN (SELECT g FROM teg)
    ORDER BY doc_id
    """


@register("q_decontam", _decontam_oracle())
def q_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Test-set decontamination: train docs sharing any token 8-gram
    with the held-out slice (doc_id % 17 == 0); planted contamination
    re-appends every 34th doc into train under a shifted id. Train
    side stays shuffle-free (test-gram set broadcast)."""
    from .pipeline_ext import curation as CU

    d = _docs(spark, sf_dir)
    test = d.filter(F.col("doc_id") % 17 == 0)
    train = _fan_out(
        d.filter(F.col("doc_id") % 17 != 0).select("doc_id", "text").union(
            d.filter(F.col("doc_id") % 34 == 0).select(
                (F.col("doc_id") + 2000000).alias("doc_id"), "text"
            )
        ),
        sf_dir, "documents", branches=2,
    )
    return CU.contaminated_keys(train, test).orderBy("doc_id")


_PII_T2 = """concat(text,
      CASE WHEN doc_id % 7 = 0
           THEN concat(' contact user', CAST(doc_id AS VARCHAR), '@example.com now')
           ELSE '' END,
      CASE WHEN doc_id % 11 = 0 THEN ' call 555-123-4567' ELSE '' END,
      CASE WHEN doc_id % 13 = 0 THEN ' from 10.0.0.1 here' ELSE '' END)"""

_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\b\d{3}[-.]\d{3}[-.]\d{4}\b"
_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


@register(
    "q_pii_scrub",
    f"""
    WITH d AS (SELECT doc_id, {_PII_T2} AS t2 FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(t2, '{_PII_EMAIL}')) AS BIGINT) AS n_email,
           CAST(len(regexp_extract_all(t2, '{_PII_PHONE}')) AS BIGINT) AS n_phone,
           CAST(len(regexp_extract_all(t2, '{_PII_IP}')) AS BIGINT) AS n_ip,
           regexp_replace(
             regexp_replace(
               regexp_replace(t2, '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_PHONE}', '<PHONE>', 'g'),
             '{_PII_IP}', '<IP>', 'g') AS scrubbed
    FROM d ORDER BY doc_id
    """,
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (emails/phones/IPv4) with per-kind match counts
    over deterministically planted PII; regex subset chosen where
    Java regex and RE2 agree."""
    from .pipeline_ext import curation as CU

    d = _fan_out(_docs(spark, sf_dir), sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com now"),
                ),
            ).otherwise(""),
            F.when(F.col("doc_id") % 11 == 0, F.lit(" call 555-123-4567")).otherwise(""),
            F.when(F.col("doc_id") % 13 == 0, F.lit(" from 10.0.0.1 here")).otherwise(""),
        ).alias("t2"),
    )
    return (
        CU.pii_scrub(d, text_col="t2")
        .select("doc_id", "n_email", "n_phone", "n_ip", "scrubbed")
        .orderBy("doc_id")
    )


_REPETITION_ORACLE = f"""
    WITH t AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
    x AS (SELECT doc_id, unnest(toks) AS tok FROM t),
    c AS (SELECT doc_id, tok, count(*) AS cnt FROM x GROUP BY doc_id, tok),
    a AS (SELECT doc_id,
                 round(CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE), 6)
                   AS top_token_frac
          FROM c GROUP BY doc_id),
    g AS (SELECT doc_id, len(toks) AS n_tok,
                 CASE WHEN len(toks) > 0
                      THEN round(1.0 - CAST(len(list_distinct(toks)) AS DOUBLE)
                                       / len(toks), 6)
                      ELSE 0.0 END AS dup_token_frac,
                 CASE WHEN len(toks) >= 2
                      THEN list_transform(generate_series(1, len(toks) - 1),
                                          i -> concat_ws(' ', toks[i], toks[i+1]))
                      ELSE CAST([] AS VARCHAR[]) END AS g2
          FROM t)
    SELECT g.doc_id,
           CAST(g.n_tok AS BIGINT) AS n_tokens,
           g.dup_token_frac,
           CASE WHEN len(g.g2) > 0
                THEN round(1.0 - CAST(len(list_distinct(g.g2)) AS DOUBLE)
                                 / len(g.g2), 6)
                ELSE 0.0 END AS dup_2gram_frac,
           COALESCE(a.top_token_frac, 0.0) AS top_token_frac
    FROM g LEFT JOIN a ON a.doc_id = g.doc_id
    ORDER BY g.doc_id
"""


@register("q_repetition", _REPETITION_ORACLE)
def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc repetition features (Gopher-style rules):
    duplicate-token / duplicate-2-gram fractions (per-row
    expressions) + distributed top-token frequency."""
    from .pipeline_ext import curation as CU

    return (
        CU.repetition_stats(_fan_out(_docs(spark, sf_dir), sf_dir, "documents"))
        .select("doc_id", "n_tokens", "dup_token_frac", "dup_2gram_frac", "top_token_frac")
        .orderBy("doc_id")
    )


def _keepbest_oracle() -> str:
    toks = _TOKS_SQL
    return f"""
    WITH t AS (
      SELECT doc_id, text, {toks} AS toks,
             length(text) AS n_chars,
             length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct,
             length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit
      FROM documents
    ), f AS (
      SELECT doc_id,
             concat_ws(' ', toks[1], toks[2]) AS block_key,
             round(1.0
               - least(1.0, CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE)/n_chars ELSE 0 END * 4.0) * 0.25
               - least(1.0, CASE WHEN n_chars > 0 THEN CAST(n_digit AS DOUBLE)/n_chars ELSE 0 END * 4.0) * 0.25
               - (CASE WHEN (CASE WHEN len(toks) > 0 THEN CAST(n_chars - (len(toks) - 1) AS DOUBLE)/len(toks) ELSE 0 END) < 2.0
                        OR (CASE WHEN len(toks) > 0 THEN CAST(n_chars - (len(toks) - 1) AS DOUBLE)/len(toks) ELSE 0 END) > 12.0
                       THEN 0.25 ELSE 0.0 END)
               - (CASE WHEN len(toks) < 5 THEN 0.25 ELSE 0.0 END), 6) AS quality_score
      FROM t
    )
    SELECT block_key, keep_id, best_score, n_members FROM (
      SELECT block_key, doc_id AS keep_id, quality_score AS best_score,
             row_number() OVER (PARTITION BY block_key
                                ORDER BY quality_score DESC, doc_id ASC) AS rn,
             count(*) OVER (PARTITION BY block_key) AS n_members
      FROM f
    ) WHERE rn = 1 ORDER BY block_key
    """


@register("q_dedup_keepbest", _keepbest_oracle())
def q_dedup_keepbest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best dedup resolution: within each 2-token prefix block,
    keep the highest-quality doc (tie-break min id) — the
    'best copy' policy next to exact_dup_groups' 'first copy'."""
    from .pipeline_ext import curation as CU

    d = TX.quality_features(_docs(spark, sf_dir))
    toks = TX.tokens_expr(F.col("text"))
    d = d.withColumn(
        "block_key",
        # try_element_at: NULL (not INVALID_ARRAY_INDEX error under ANSI mode)
        # for docs with <2 tokens, matching DuckDB's toks[2] -> NULL which
        # concat_ws skips. F.element_at crashes on the driver's ANSI session.
        F.concat_ws(" ", F.try_element_at(toks, F.lit(1)), F.try_element_at(toks, F.lit(2))),
    )
    return CU.keep_best(d, block_col="block_key", score_col="quality_score").orderBy(
        "block_key"
    )


def _curate_oracle() -> str:
    toks = _TOKS_SQL
    split_h = _H.format(expr="concat('split:', CAST(doc_id AS VARCHAR))")
    return f"""
    WITH d AS ({_DUPS_SQL}),
    t AS (
      SELECT doc_id, text, {toks} AS toks,
             length(text) AS n_chars,
             length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct,
             length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit
      FROM d
    ), f AS (
      SELECT doc_id, text, CAST(len(toks) AS BIGINT) AS n_tokens,
             round(1.0
               - least(1.0, CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE)/n_chars ELSE 0 END * 4.0) * 0.25
               - least(1.0, CASE WHEN n_chars > 0 THEN CAST(n_digit AS DOUBLE)/n_chars ELSE 0 END * 4.0) * 0.25
               - (CASE WHEN (CASE WHEN len(toks) > 0 THEN CAST(n_chars - (len(toks) - 1) AS DOUBLE)/len(toks) ELSE 0 END) < 2.0
                        OR (CASE WHEN len(toks) > 0 THEN CAST(n_chars - (len(toks) - 1) AS DOUBLE)/len(toks) ELSE 0 END) > 12.0
                       THEN 0.25 ELSE 0.0 END)
               - (CASE WHEN len(toks) < 5 THEN 0.25 ELSE 0.0 END), 6) AS quality_score
      FROM t
    ), q AS (
      SELECT * FROM f WHERE quality_score >= 0.75
    ), dd AS (
      SELECT *, row_number() OVER (
        PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
        ORDER BY doc_id ASC) AS rn
      FROM q
    ), kept AS (
      SELECT doc_id, n_tokens, quality_score,
             CASE WHEN {split_h} % 100 < 90 THEN 'train'
                  WHEN {split_h} % 100 < 95 THEN 'val'
                  ELSE 'test' END AS split
      FROM dd WHERE rn = 1
    )
    SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
           round(avg(quality_score), 4) AS avg_quality
    FROM kept GROUP BY split ORDER BY split
    """


@register("q_curate", _curate_oracle())
def q_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation pipeline over a dup-bearing corpus:
    quality filter → exact dedup (keep first) → split assignment →
    per-split corpus stats. One narrow quality pass + one
    content-hash shuffle + one split projection."""
    from .pipeline_ext import curation as CU

    d = _docs_with_dups(_docs(spark, sf_dir))
    curated = CU.curate_corpus(d)
    return (
        curated.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.round(F.avg("quality_score"), 4).alias("avg_quality"),
        )
        .orderBy("split")
    )


# ------------------------------------------------- BM25 / hybrid RRF
# Lowercased whitespace tokens (retrieval.lc_tokens_expr's twin).
_LC_TOKS_SQL = (
    "CASE WHEN text IS NULL OR trim(lower(text)) = '' THEN CAST([] AS VARCHAR[]) "
    "ELSE regexp_split_to_array(trim(lower(text)), '\\s+') END"
)

# common + common + rare (idf spread) terms from the synthetic vocab
_BM25_TERMS = ["table", "window", "dup"]


def _bm25_ctes(terms: list[str], k1: float = 1.2, b: float = 0.75) -> tuple[str, str]:
    """(CTE block, per-doc score expression) re-deriving retrieval.bm25
    in DuckDB: one stats pass (N, avgdl, df per term — avgdl averages
    INTEGER lengths, exact in double, so both engines agree
    bit-for-bit), then idf·tf·(k1+1)/(tf+k1·(1−b+b·dl/avgdl)) summed
    in the same association order as bm25_score_expr.

    idf is quantized to 9 decimals on BOTH sides before it enters
    the score via the EXPLICIT ``floor(x·1e9+0.5)/1e9`` formula
    (retrieval.idf_value evaluates the same three IEEE ops — NOT
    Python round(), which is banker's and disagrees with engine
    round() at half-boundaries): ln is the one input not guaranteed
    bit-identical across libm implementations, and a last-ulp
    divergence landing on a round(score, 6) boundary would flip the
    hash gate (ADVICE r3 fragility, fixed r5). tf/dl/avgdl are
    exact in double and need no such treatment."""
    df_cols = ", ".join(
        f"sum(CASE WHEN list_contains(toks, '{t}') THEN 1 ELSE 0 END) AS df{i}"
        for i, t in enumerate(terms)
    )
    contribs = " + ".join(
        f"((floor(ln(1.0 + (s.n - s.df{i} + 0.5) / (s.df{i} + 0.5)) "
        f"* 1000000000.0 + 0.5) / 1000000000.0) * "
        f"(CAST(len(list_filter(d.toks, x -> x = '{t}')) AS DOUBLE) * {k1 + 1.0}) / "
        f"(CAST(len(list_filter(d.toks, x -> x = '{t}')) AS DOUBLE) + "
        f"{k1} * (1.0 - {b} + {b} * d.dl / s.avgdl)))"
        for i, t in enumerate(terms)
    )
    ctes = f"""
    t AS (SELECT doc_id, {_LC_TOKS_SQL} AS toks FROM documents),
    d AS (SELECT doc_id, toks, CAST(len(toks) AS DOUBLE) AS dl FROM t),
    s AS (SELECT count(*) AS n, avg(len(toks)) AS avgdl, {df_cols} FROM t),
    bmscored AS (SELECT d.doc_id, {contribs} AS score FROM d, s)
    """
    return ctes, contribs


def _bm25_oracle(k: int = 20) -> str:
    ctes, _ = _bm25_ctes(_BM25_TERMS)
    return f"""
    WITH {ctes}
    SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rnk,
           round(score, 6) AS bm25
    FROM bmscored WHERE score > 0 QUALIFY rnk <= {k} ORDER BY rnk
    """


@register("q_bm25", _bm25_oracle())
def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical BM25 top-k under the oracle gate: one stats scan
    (N + avgdl + all per-term df in a single 1-row agg), then a pure
    scoring projection whose top-k compiles to TakeOrderedAndProject
    — no wide shuffle anywhere (retrieval.bm25_topk)."""
    from .pipeline_ext import retrieval as R

    # fan-out measured a 1.19x REGRESSION here (r13 A/B): the input
    # feeds both the 1-row stats agg and the scoring arm, so the
    # added exchange is paid twice while TakeOrderedAndProject was
    # already parallel enough — left alone deliberately
    return R.bm25_topk(_docs(spark, sf_dir), _BM25_TERMS, k=20).orderBy("rnk")


def _hybrid_oracle(k: int = 10, kr: int = 20, k_rrf: float = 60.0) -> str:
    ctes, _ = _bm25_ctes(_BM25_TERMS)
    return f"""
    WITH {ctes},
    text_arm AS (
      SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
      FROM bmscored WHERE score > 0 QUALIFY rnk <= {kr}
    ),
    {_sql_cosine("vec_id = 0", "dsc", key="doc_id")},
    dense_arm AS ({_sql_rank("dsc", "cosine", kr, key="doc_id")}),
    u AS (SELECT doc_id, rnk FROM text_arm UNION ALL SELECT doc_id, rnk FROM dense_arm),
    fused AS (
      SELECT doc_id, count(*) AS n_lists,
             sum(1.0 / ({k_rrf} + CAST(rnk AS DOUBLE))) AS rrf
      FROM u GROUP BY doc_id
    )
    SELECT doc_id, CAST(n_lists AS BIGINT) AS n_lists, round(rrf, 6) AS rrf,
           row_number() OVER (ORDER BY rrf DESC, doc_id) AS rnk
    FROM fused QUALIFY rnk <= {k} ORDER BY rnk
    """


@register("q_hybrid_rrf", _hybrid_oracle())
def q_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+dense retrieval under the oracle gate: BM25
    top-20 over documents, exact cosine top-20 over embeddings
    (brute_force_knn's two-phase merge), reciprocal-rank fusion —
    the full fusion pipeline hash-checked end-to-end
    (retrieval.hybrid_topk)."""
    from .pipeline_ext import retrieval as R

    e = _emb(spark, sf_dir)
    qvec = e.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    return R.hybrid_topk(
        _docs(spark, sf_dir), e, _BM25_TERMS, qvec, k=10, k_retrieve=20
    ).orderBy("rnk")


# ----------------------------------------------------- time-series ops
# sessionize / as-of join / interval join (pipeline_ext/timeseries.py).
# All three compare on exact integer microseconds: Spark unix_micros
# after load_tables' ns→µs truncation == DuckDB epoch_us on the same
# parquet (verified element-wise; both truncate the nanos).

_SESSION_GAP_US = 30 * 60_000_000


@register(
    "q_sessionize",
    f"""
    WITH lagd AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {_SESSION_GAP_US}
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))
    ),
    sess AS (
      SELECT user_id, ts, value,
             CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      FROM lagd
    )
    SELECT user_id, session_seq, min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events, round(sum(value), 4) AS sum_value
    FROM sess GROUP BY user_id, session_seq
    ORDER BY user_id, session_seq
    """,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gap-sessionization (timeseries.session_stats): 30-min
    gap, one shuffle on user_id shared by the lag and running-sum
    windows. The batch twin of the streaming session windows
    (streaming/incremental.py)."""
    from .pipeline_ext import timeseries as TS
    from .session import load_tables

    ev = load_tables(spark, sf_dir, "events")["events"]
    return TS.session_stats(ev, gap_minutes=30.0, value_col="value").orderBy(
        "user_id", "session_seq"
    )


@register(
    "q_asof",
    """
    WITH c AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
    ),
    r AS (
      SELECT user_id, ts, max(value) AS err_value
      FROM events WHERE event_type = 'error' GROUP BY user_id, ts
    )
    SELECT c.event_id, c.user_id, c.ts, r.err_value AS err_value_r, r.ts AS ts_r
    FROM c ASOF LEFT JOIN r ON c.user_id = r.user_id AND c.ts >= r.ts
    ORDER BY c.event_id
    """,
)
def q_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join (timeseries.asof_join): every click picks
    up the most recent error of the same user (ties inclusive; no
    prior error → NULLs). Union trick — zero joins, a single |L|+|R|
    shuffle on user_id — vs DuckDB's native ASOF LEFT JOIN. The
    right side is pre-aggregated to unique (user, ts) so attribute
    pickup is deterministic on both engines."""
    from .pipeline_ext import timeseries as TS
    from .session import load_tables

    ev = load_tables(spark, sf_dir, "events")["events"]
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    errors = (
        ev.filter(F.col("event_type") == "error")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("err_value"))
    )
    return TS.asof_join(
        clicks, errors, key_col="user_id", ts_col="ts", right_cols=["err_value"]
    ).orderBy("event_id")


@register(
    "q_interval_join",
    """
    WITH c AS (
      SELECT user_id, ts, value FROM events WHERE event_type = 'click'
    ),
    iv AS (
      SELECT event_id AS interval_id, user_id, ts AS s,
             ts + INTERVAL 30 MINUTE AS e
      FROM events WHERE event_type = 'error'
    )
    SELECT iv.interval_id, count(*) AS n_clicks, round(sum(c.value), 4) AS sum_value
    FROM iv JOIN c ON c.user_id = iv.user_id AND c.ts >= iv.s AND c.ts <= iv.e
    GROUP BY iv.interval_id
    ORDER BY iv.interval_id
    """,
)
def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed point-in-interval join (timeseries.interval_join):
    clicks inside [error, error+30min] windows of the same user.
    Spark side explodes intervals into 30-min buckets and hash-joins
    on (user, bucket) — a point owns exactly one bucket, so no dedup
    pass — where the DuckDB twin states the naive range predicate."""
    from .pipeline_ext import timeseries as TS
    from .session import load_tables

    ev = load_tables(spark, sf_dir, "events")["events"]
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    intervals = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("interval_id"),
        "user_id",
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("end"),
    )
    return (
        TS.interval_join(clicks, intervals, key_col="user_id", bucket_minutes=30.0)
        .groupBy("interval_id")
        .agg(F.count(F.lit(1)).alias("n_clicks"), F.round(F.sum("value"), 4).alias("sum_value"))
        .orderBy("interval_id")
    )


# ------------------------------------------------- product quantization
# PQ encode + ADC serve (pipeline_ext/quantization.py). Codebooks are
# FROZEN as the subvectors of the first 16 corpus vectors (Forgy
# seeding, derivable in both engines — the q_ivf_knn pattern); k-means
# TRAINING is not SQL-expressible and is unit-tested/benched apart.

_PQ_E = "e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)"


def _pq_oracle(k: int = 10) -> str:
    """DuckDB twin of PQ encode + ADC top-k over the frozen Forgy
    codebooks (see _sql_pq for the fold-order argument)."""
    return f"""
    WITH {_PQ_E}, {_sql_pq()}
    {_sql_rank("scored", "adc", k)}
"""


@register("q_pq_knn", _pq_oracle())
def q_pq_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN under the oracle gate: expression-only
    PQ encode (8 subspaces × 16 codes, struct-min argmin) + broadcast
    per-query ADC lookup tables + two-phase top-k merge
    (quantization.pq_encode / pq_adc_topk — the real serve machinery).
    Codes are 32× smaller than the raw float32 vectors, so the 100 TB
    ADC scan reads 1/32nd of the bytes; the DuckDB twin re-derives
    encode + ADC from the same frozen Forgy codebooks and hash-checks
    scores. Reference parity: the faiss/Milvus IVF serve family
    (/root/reference/src/eval/milvus_experiment.py:32) extended one
    published step to IndexIVFPQ semantics (Jégou et al. 2011)."""
    from .pipeline_ext import quantization as Q

    e = _emb(spark, sf_dir)
    seed_rows = e.filter(F.col("vec_id") < _PQ_K).orderBy("vec_id").collect()
    books = Q.forgy_codebooks(
        [r["embedding"] for r in seed_rows], dim=64, m=_PQ_M, k=_PQ_K
    )
    # fan out the interpreted per-row encode (serial on the 1-split
    # scan: 0.73 → 0.23 s at sf0.1); the seed collect above reads the
    # raw scan so the filter still pushes down — r13
    codes = Q.pq_encode(
        _fan_out(e, sf_dir, "embeddings"), books, vec_col="embedding"
    )
    _dense_prefix(seed_rows, 3)
    queries = [(r["vec_id"], r["embedding"]) for r in seed_rows[:3]]
    return Q.pq_adc_topk(codes, books, queries, k=10).orderBy("query_id", "rnk")


_PQT_SAMPLE, _PQT_ITERS = 256, 2


def _lloyd_iter_ctes(t: int, prev: str, w: int) -> str:
    """One unrolled portable-Lloyd iteration as CTE text: assign each
    sample subvector to its nearest ``prev`` centroid (sequential-fold
    distance, lowest-code tie-break), per-dimension member mean
    quantized by the EXPLICIT half-up formula floor(x·1e9 + 0.5)/1e9
    (same three IEEE ops as quantization._round9 — bit-identical to
    the Python trainer, unlike engine round() whose half-way rule
    differs from Python's banker's rounding), empty clusters keep
    their previous centroid via LEFT JOIN + coalesce."""
    return f"""{_sql_codes("ssub", prev, f"q{t}", f"m{t}", w, ", s.sv")}, u{t} AS (
      SELECT j, code, t.i,
             floor((sum(sv[t.i]) / count(*)) * 1000000000.0 + 0.5)
               / 1000000000.0 AS val
      FROM m{t} CROSS JOIN generate_series(1, {w}) t(i)
      GROUP BY j, code, t.i
    ), uv{t} AS (
      SELECT j, code, list(val ORDER BY i) AS cvec FROM u{t} GROUP BY j, code
    ), cb{t} AS (
      SELECT b.code, b.j, coalesce(u.cvec, b.cvec) AS cvec
      FROM {prev} b LEFT JOIN uv{t} u ON b.j = u.j AND b.code = u.code
    )"""


def _pq_trained_oracle(k: int = 10) -> str:
    """DuckDB twin of PORTABLE Lloyd training (train_pq portable=True)
    + PQ encode + ADC top-k. Training is unrolled as _PQT_ITERS CTE
    iterations over the first _PQT_SAMPLE vectors (Forgy init from the
    first k sample rows); centroid updates are quantized to 9 decimals
    on both sides, which absorbs the engine-dependent member-sum fold
    order before it can feed the next argmin (the residual risk — a
    mean landing within a fold-order ulp of a 5e-10 boundary AND that
    flip mattering to a later discrete argmin — is the same accepted
    class as q_pq_knn's GROUP-BY-sum note). Serve tail is identical to
    _pq_oracle with the trained codebooks in place of raw Forgy."""
    iters = "".join(
        ", " + _lloyd_iter_ctes(t, f"cb{t - 1}", _PQ_W)
        for t in range(1, _PQT_ITERS + 1)
    )
    lloyd = f", ssub AS (SELECT * FROM esub WHERE vec_id < {_PQT_SAMPLE}){iters}"
    return f"""
    WITH {_PQ_E}, {_sql_pq(f"cb{_PQT_ITERS}", lloyd)}
    {_sql_rank("scored", "adc", k)}
"""


@register("q_pq_trained", _pq_trained_oracle())
def q_pq_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd-TRAINED PQ under the oracle gate (VERDICT r4 next-round
    #3): train_pq(portable=True) runs the cross-engine-deterministic
    Lloyd variant (sequential folds, 9-decimal centroid quantization,
    keep-previous empty repair) on the first 256 vectors, then the
    REAL serve machinery (pq_encode + pq_adc_topk) scores the full
    corpus; the DuckDB twin re-derives the training itself as
    unrolled CTE iterations and hash-checks the served scores —
    training, encode, and ADC all under one differential check.
    Reference analog: the trained-quantizer IVF serve arm
    (/root/reference/src/eval/milvus_experiment.py:32)."""
    from .pipeline_ext import quantization as Q

    e = _emb(spark, sf_dir)
    books = Q.train_pq(
        e,
        dim=64,
        m=_PQ_M,
        k=_PQ_K,
        sample_n=_PQT_SAMPLE,
        iters=_PQT_ITERS,
        portable=True,
    )
    # fan out the interpreted encode (r13, q_pq_knn rationale); the
    # training sample and query collects read the raw scan
    codes = Q.pq_encode(
        _fan_out(e, sf_dir, "embeddings"), books, vec_col="embedding"
    )
    seed_rows = e.filter(F.col("vec_id") < 3).orderBy("vec_id").collect()
    queries = [(r["vec_id"], r["embedding"]) for r in seed_rows]
    return Q.pq_adc_topk(codes, books, queries, k=10).orderBy("query_id", "rnk")


def _ivfpq_oracle(
    dim: int = 64, n_cent: int = 8, nprobe: int = 3, k: int = 10
) -> str:
    """DuckDB twin of the full IVF-PQ serve composition
    (quantization.ivf_pq_knn — faiss IndexIVFPQ's layout): coarse
    cells from the frozen first-``n_cent`` quantizer (L2 argmin, the
    q_ivf_knn formula), PQ codes from the frozen Forgy codebooks (the
    q_pq_knn formula), per-query top-``nprobe`` probe selection by
    centroid cosine, and ADC scoring restricted to each query's OWN
    probed cells. ADC is rounded before ranking (shared tie-break
    domain, q_pq_knn rationale)."""
    return f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             sqrt(list_sum(list_transform(embedding,
                  x -> CAST(x AS DOUBLE) * x))) AS nrm
      FROM embeddings
    ), {_sql_assign("v", dim, n_cent)}, {_sql_pq()}, q AS (
      SELECT vec_id AS query_id, v AS qe, nrm AS qn FROM e WHERE vec_id < 3
    ), {_sql_probe(dim, nprobe)}, in_probed AS (
      SELECT s.* FROM scored s
      JOIN cells ce ON ce.vec_id = s.vec_id
      JOIN probed p ON p.cid = ce.cid AND p.query_id = s.query_id
    )
    {_sql_rank("in_probed", "adc", k)}
"""


@register("q_ivfpq_knn", _ivfpq_oracle())
def q_ivfpq_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ serve composition under the oracle gate (closes the
    last unit-only ANN row): frozen coarse quantizer (first 8
    vectors, L2 cells) × frozen Forgy PQ codebooks, per-query
    cosine probe of 3/8 cells, ADC scoring of only the probed cells
    via quantization.ivf_pq_knn — the REAL faiss-IndexIVFPQ-layout
    machinery (cell filter = partition pruning over an ivf_persist'ed
    code table; LUTs broadcast; two-phase merge). The DuckDB twin
    re-derives cells, codes, probes, and ADC end-to-end."""
    from .pipeline_ext import quantization as Q

    e = _emb(spark, sf_dir)
    # ONE seed collect: the 8 coarse centroids are the first 8 of the
    # _PQ_K codebook seeds (both ordered by vec_id; density guarded) —
    # the second full-scan collect job was pure overhead (r12 #8
    # precedent, r13)
    seed_rows = e.filter(F.col("vec_id") < _PQ_K).orderBy("vec_id").collect()
    _dense_prefix(seed_rows, 8)
    cent_rows = seed_rows[:8]
    centroids = np.array([r["embedding"] for r in cent_rows], dtype="float64")
    books = Q.forgy_codebooks(
        [r["embedding"] for r in seed_rows], dim=64, m=_PQ_M, k=_PQ_K
    )
    # fan out before the two interpreted per-row stages (cell argmin +
    # PQ encode — serial on the 1-split scan; r13, q_pq_knn rationale)
    assigned = SS.ivf_assign(
        _fan_out(e, sf_dir, "embeddings"), centroids, score_round=6
    )
    codes = Q.pq_encode(assigned, books, vec_col="embedding")
    queries = [(r["vec_id"], r["embedding"]) for r in cent_rows[:3]]
    return Q.ivf_pq_knn(
        codes, centroids, books, queries, k=10, nprobe=3
    ).orderBy("query_id", "rnk")


def pq_cached_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bench-only PQ serve split (the q_ivf_build/q_ivf_serve pattern):
    first call builds the code table (session_cached, then `persisted`;
    one-time cost), later calls measure steady-state ADC serve — the
    number that scales with QPS. Not in the oracle registry (q_pq_knn
    covers correctness; this measures the cached path)."""
    from .pipeline_ext import quantization as Q

    def build(_):
        e = _emb(spark, sf_dir)
        seed_rows = e.filter(F.col("vec_id") < _PQ_K).orderBy("vec_id").collect()
        _dense_prefix(seed_rows, 3)
        books = Q.forgy_codebooks(
            [r["embedding"] for r in seed_rows], dim=64, m=_PQ_M, k=_PQ_K
        )
        codes = Q.pq_encode(_fan_out(e, sf_dir, "embeddings"), books)
        return codes, books, [(r["vec_id"], r["embedding"]) for r in seed_rows[:3]]

    codes, books, queries = session_cached(spark, ("pq", os.path.abspath(sf_dir)), build)
    return Q.pq_adc_topk(persisted(codes), books, queries, k=10)


# ------------------------------------------------ training-corpus assembly
# pack_split / mixture_sample / gopher_features (packing.py, curation.py,
# textstats.py): the layout + mixing + quality steps between a curated
# corpus and a training run.

_PACK_H = _H.format(expr="concat('pack:', CAST(doc_id AS VARCHAR))")
_PACK_BUDGET = 512


@register(
    "q_pack",
    f"""
    WITH t AS (
      SELECT doc_id, CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens FROM documents
    ), h AS (
      SELECT doc_id, n_tokens, {_PACK_H} AS hh FROM t WHERE n_tokens > 0
    ), o AS (
      SELECT doc_id, n_tokens,
             CAST(sum(n_tokens) OVER (ORDER BY hh, doc_id
                  ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS off
      FROM h
    )
    SELECT doc_id, n_tokens,
           CAST(off // {_PACK_BUDGET} AS BIGINT) AS start_seq,
           CAST(off % {_PACK_BUDGET} AS BIGINT) AS start_offset,
           CAST((off + n_tokens - 1) // {_PACK_BUDGET}
                - off // {_PACK_BUDGET} + 1 AS BIGINT) AS n_seqs
    FROM o ORDER BY doc_id
    """,
)
def q_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-split sequence packing (packing.pack_split): global
    token offsets in salted-hash order, cut every 512 tokens. The
    Spark side computes the offset cumsum with the scale-safe
    bucketed two-phase shape (range-bucket by hash prefix → local
    window → driver prefix of ≤256 bucket totals); the DuckDB twin
    states the equivalent single global window — the hash gate
    proves them identical."""
    from .pipeline_ext import packing as P
    from .pipeline_ext import textstats as TX2

    docs = TX2.token_count(_docs(spark, sf_dir)).select("doc_id", "n_tokens")
    return (
        P.pack_split(docs, budget=_PACK_BUDGET)
        .select("doc_id", "n_tokens", "start_seq", "start_offset", "n_seqs")
        .orderBy("doc_id")
    )


_MIX_H = _H.format(expr="concat('mix:', CAST(doc_id AS VARCHAR))")
_MIX_RATES = {"src0": 2.5, "src1": 0.5, "src2": 1.0, "src3": 0.25}
_MIX_DEFAULT = 0.75


def _mix_oracle() -> str:
    span = 1 << 32

    def parts(r: float) -> tuple[int, int]:
        return int(r), int(round((r - int(r)) * span))

    whole_cases = " ".join(
        f"WHEN '{s}' THEN {parts(r)[0]}" for s, r in _MIX_RATES.items()
    )
    thr_cases = " ".join(
        f"WHEN '{s}' THEN {parts(r)[1]}" for s, r in _MIX_RATES.items()
    )
    dw, dt = parts(_MIX_DEFAULT)
    return f"""
    WITH t AS (
      SELECT doc_id, source,
             CASE source {whole_cases} ELSE {dw} END AS whole,
             CASE source {thr_cases} ELSE {dt} END AS thr,
             {_MIX_H} AS hh
      FROM documents
    ), c AS (
      SELECT doc_id, source,
             whole + CASE WHEN hh < thr THEN 1 ELSE 0 END AS copies
      FROM t
    )
    SELECT doc_id, source, CAST(unnest(range(0, copies)) AS BIGINT) AS copy_idx
    FROM c ORDER BY doc_id, copy_idx
    """


@register("q_mixture", _mix_oracle())
def q_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted mixture sampling
    (curation.mixture_sample): src0 oversampled 2.5 epochs, src1
    halved, src3 quartered, everything else at 0.75 — per-key salted
    hash decides the fractional copy, copy_idx distinguishes repeats.
    The guarded sequence() (descending-sequence trap) is what the
    DuckDB unnest(range(0, copies)) twin checks."""
    from .pipeline_ext import curation as CU

    return (
        CU.mixture_sample(
            _docs(spark, sf_dir), _MIX_RATES, default_rate=_MIX_DEFAULT
        )
        .select("doc_id", "source", "copy_idx")
        .orderBy("doc_id", "copy_idx")
    )


def _gopher_oracle() -> str:
    from .pipeline_ext.textstats import GOPHER_STOPWORDS

    sw = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    return f"""
    WITH t AS (
      SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents
    ), f AS (
      SELECT doc_id,
             CAST(len(toks) AS BIGINT) AS n_tokens,
             CASE WHEN len(toks) > 0
                  THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
                       / len(toks) ELSE 0 END AS mwl,
             length(text) - length(regexp_replace(text, '#', '', 'g')) AS n_hash,
             len(regexp_extract_all(text, '\\.\\.\\.')) AS n_ellip,
             CASE WHEN len(toks) > 0
                  THEN CAST(len(list_filter(toks,
                       x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
                       / len(toks) ELSE 0 END AS alpha_frac,
             CAST(len(list_intersect(list_transform(toks, x -> lower(x)),
                  [{sw}])) AS BIGINT) AS stop_hits
      FROM t
    ), g AS (
      SELECT doc_id, n_tokens, mwl,
             CASE WHEN n_tokens > 0
                  THEN CAST(n_hash + n_ellip AS DOUBLE) / n_tokens
                  ELSE 0 END AS sym,
             alpha_frac, stop_hits
      FROM f
    )
    SELECT doc_id, n_tokens,
           round(mwl, 6) AS mean_word_len,
           round(sym, 6) AS symbol_ratio,
           round(alpha_frac, 6) AS alpha_word_frac,
           stop_hits AS stopword_hits,
           (n_tokens >= 50 AND n_tokens <= 100000) AS pass_n_tokens,
           (mwl >= 3.0 AND mwl <= 10.0) AS pass_mean_word_len,
           (sym <= 0.1) AS pass_symbol_ratio,
           (alpha_frac >= 0.8) AS pass_alpha_words,
           (stop_hits >= 2) AS pass_stopwords,
           ((n_tokens >= 50 AND n_tokens <= 100000)
            AND (mwl >= 3.0 AND mwl <= 10.0)
            AND (sym <= 0.1)
            AND (alpha_frac >= 0.8)
            AND (stop_hits >= 2)) AS gopher_pass
    FROM g ORDER BY doc_id
    """


@register("q_gopher", _gopher_oracle())
def q_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule quality filtering (textstats.gopher_features):
    token bounds, mean-word-length band, #/... symbol ratio,
    alphabetic-word fraction, stopword presence — metrics, per-rule
    booleans, and the composite, all pure expressions hash-checked
    against the DuckDB re-derivation. Booleans compare UNROUNDED
    doubles on both sides (rounding only for display), so the gate
    also pins the cross-engine bit-identity of the ratios."""
    from .pipeline_ext import textstats as TX2

    return (
        TX2.gopher_features(_fan_out(_docs(spark, sf_dir), sf_dir, "documents"))
        .select(
            "doc_id",
            "n_tokens",
            "mean_word_len",
            "symbol_ratio",
            "alpha_word_frac",
            "stopword_hits",
            "pass_n_tokens",
            "pass_mean_word_len",
            "pass_symbol_ratio",
            "pass_alpha_words",
            "pass_stopwords",
            "gopher_pass",
        )
        .orderBy("doc_id")
    )


# ------------------------------------------------------- table profiling

_PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount"]


def _profile_oracle() -> str:
    arms = []
    for c in _PROFILE_COLS:
        arms.append(f"""
      SELECT '{c}' AS col_name,
             count({c}) AS n,
             CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
             count(DISTINCT {c}) AS n_distinct,
             round(CAST(min({c}) AS DOUBLE), 6) AS min,
             round(CAST(max({c}) AS DOUBLE), 6) AS max,
             round(avg({c}), 6) AS mean,
             round(quantile_cont({c}, 0.25), 6) AS p25,
             round(quantile_cont({c}, 0.50), 6) AS p50,
             round(quantile_cont({c}, 0.75), 6) AS p75
      FROM lineitem""")
    return " UNION ALL ".join(arms) + " ORDER BY col_name"


@register("q_profile", _profile_oracle())
def q_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass table profiling (pipeline_ext/profile.profile):
    every per-column aggregate — counts, nulls, exact distinct,
    min/max/mean, exact interpolated quartiles — rides ONE
    partial+final aggregation over the scan; the long-format unpivot
    is driver-side over the 1-row result. exact=False swaps in
    HLL++/t-digest sketches for the 100 TB profile with the same
    plan shape. Both engines interpolate quantiles at p·(n−1)."""
    from .pipeline_ext.profile import profile

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    return (
        profile(li, _PROFILE_COLS)
        .withColumnRenamed("column", "col_name")
        .orderBy("col_name")
    )


# -------------------------------------------------------- OLAP breadth
# cube (grouping sets) + pivot over orders: the subtotal/crosstab
# shapes every analytics surface needs next to q_rollup.


@register(
    "q_cube",
    """
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 4) AS total_price,
           CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority)
                AS BIGINT) AS gid
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE subtotals (all four grouping sets) with grouping-id
    disambiguation — Spark df.cube == DuckDB GROUP BY CUBE; NULLS
    FIRST stated explicitly (Spark defaults nulls-first ascending,
    DuckDB nulls-last)."""
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    gid = (
        F.grouping("o_orderstatus") * 2 + F.grouping("o_orderpriority")
    ).cast("bigint")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("total_price"),
            gid.alias("gid"),
        )
        .orderBy(
            "gid",
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


_PIVOT_STATUSES = ["F", "O", "P"]


@register(
    "q_pivot",
    f"""
    SELECT o_orderpriority,
           {", ".join(
               f"round(coalesce(sum(CASE WHEN o_orderstatus = '{s}' "
               f"THEN o_totalprice END), 0.0), 4) AS total_{s}"
               for s in _PIVOT_STATUSES
           )}
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crosstab: priority × status total-price matrix. Spark pivot
    with an EXPLICIT value list (no extra distinct scan, stable
    column order) == DuckDB conditional aggregation; absent cells
    coalesce to 0.0 on both engines."""
    o = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    p = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", _PIVOT_STATUSES)
        .agg(F.sum("o_totalprice"))
    )
    cols = [
        F.round(F.coalesce(F.col(s), F.lit(0.0)), 4).alias(f"total_{s}")
        for s in _PIVOT_STATUSES
    ]
    return p.select("o_orderpriority", *cols).orderBy("o_orderpriority")


# next-fit is an order-sequential FOLD, so it has no window/aggregate SQL
# form — but it IS expressible as a RECURSIVE CTE: each iteration advances
# every shard by exactly one row (join on rn = prev rn + 1), carrying the
# (current bin, fill) state. Iteration count = max rows per shard
# (≈ docs / 256 shards), so the recursion stays shallow at driver scales.
_GREEDY_DIV = (1 << 32) // 256  # pack_greedy default n_buckets=256
_GREEDY_ORACLE = f"""
    WITH RECURSIVE t AS (
      SELECT doc_id, CAST(len({_TOKS_SQL}) AS BIGINT) AS n_tokens FROM documents
    ), h AS (
      SELECT doc_id, n_tokens, {_PACK_H} AS hh FROM t WHERE n_tokens > 0
    ), r AS (
      SELECT doc_id, n_tokens, CAST(hh // {_GREEDY_DIV} AS BIGINT) AS b,
             row_number() OVER (
               PARTITION BY hh // {_GREEDY_DIV} ORDER BY hh, doc_id
             ) AS rn
      FROM h
    ), fold AS (
      SELECT b, rn, doc_id, n_tokens,
             CAST(0 AS BIGINT) AS loc, n_tokens AS fill
      FROM r WHERE rn = 1
      UNION ALL
      SELECT r.b, r.rn, r.doc_id, r.n_tokens,
             CASE WHEN f.fill + r.n_tokens > {_PACK_BUDGET}
                  THEN f.loc + 1 ELSE f.loc END,
             CASE WHEN f.fill + r.n_tokens > {_PACK_BUDGET}
                  THEN r.n_tokens ELSE f.fill + r.n_tokens END
      FROM fold f JOIN r ON r.b = f.b AND r.rn = f.rn + 1
    ), binned AS (
      SELECT doc_id, n_tokens,
             CAST(b * 4294967296 + loc AS BIGINT) AS bin_id
      FROM fold
    ), fills AS (
      SELECT bin_id, CAST(sum(n_tokens) AS BIGINT) AS bin_fill,
             CAST(count(*) AS BIGINT) AS bin_docs
      FROM binned GROUP BY bin_id
    )
    SELECT doc_id, n_tokens, bin_id, bin_fill, bin_docs
    FROM binned JOIN fills USING (bin_id)
    ORDER BY doc_id
"""


@register("q_pack_greedy", _GREEDY_ORACLE)
def q_pack_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boundary-respecting next-fit packing (packing.pack_greedy) —
    exact per-shard sequential algorithm inside applyInPandas. The
    fold has no window/aggregate SQL form, but the DuckDB twin states
    it as a RECURSIVE CTE that advances every shard one row per
    iteration carrying (bin, fill) state — so the entry is fully
    hash-checked (r6; previously rows-only). Bin-capacity /
    determinism / density invariants additionally live in
    tests/test_assembly.py. Output: every token-bearing doc with its
    training-bin id and the per-bin fill summary joined back on."""
    from .pipeline_ext import packing as P
    from .pipeline_ext import textstats as TX2

    toks = TX2.token_count(_docs(spark, sf_dir)).select("doc_id", "n_tokens")
    packed = P.pack_greedy(toks, budget=512)
    # per-bin fills as a WINDOW over bin_id, not groupBy + join-back
    # (r12): the join's two arms each re-evaluated the whole
    # tokenize → applyInPandas packing pipeline (the CLAUDE.md
    # self-join trap on a derived frame); the window is one shuffle
    # over the already-packed rows and computes identical values
    wb = Window.partitionBy("bin_id")
    return packed.select(
        "doc_id",
        "n_tokens",
        "bin_id",
        F.sum("n_tokens").over(wb).alias("bin_fill"),
        F.count(F.lit(1)).over(wb).alias("bin_docs"),
    ).orderBy("doc_id")


# ------------------------------------------------------- bloom prefilter

_BLOOM_BITS = 256  # deliberately tight so false positives FIRE and get hash-checked


def _bloom_oracle() -> str:
    hs = [
        portable_hash32_sql(f"concat('bloom{i}:', CAST(doc_id AS VARCHAR))")
        + f" % {_BLOOM_BITS}"
        for i in range(4)
    ]
    conds = " AND ".join(f"({h}) IN (SELECT p FROM pos)" for h in hs)
    return f"""
    WITH pos AS (
      SELECT DISTINCT unnest([{", ".join(hs)}]) AS p
      FROM documents WHERE doc_id % 17 = 0
    )
    SELECT doc_id FROM documents
    WHERE {conds}
    ORDER BY doc_id
    """


@register("q_bloom", _bloom_oracle())
def q_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expression-level Bloom prefilter (partitioning.bloom_build /
    bloom_prefilter): the small side's k=4 salted md5 positions become
    a literal bigint bitset; the big side is cut by pure bit-test
    expressions BEFORE any join or shuffle. The DuckDB twin states
    membership against the distinct position set — bit-for-bit the
    same predicate, so the hash check pins the exact survivor set
    INCLUDING the deterministic false positives (bitset deliberately
    tight at 256 bits here; production sizing ≥15 bits/key ≈ 1% FP).
    No false negatives by construction — the guarantee the downstream
    exact join relies on."""
    from .partitioning import bloom_build, bloom_prefilter

    d = _docs(spark, sf_dir)
    small = d.filter(F.col("doc_id") % 17 == 0)
    words = bloom_build(small, "doc_id", n_bits=_BLOOM_BITS)
    return bloom_prefilter(d, words, "doc_id").select("doc_id").orderBy("doc_id")


# ----------------------------------------------------- Y-layer oracle
# Frozen-parameter numeric transforms (transforms.FittedTransform):
# the closed-form APPLY path of Y1-Y4 is SQL-expressible, so it can
# sit under the hash gate (VERDICT r4 next-round #5). λ-FITTING stays
# driver-side (scipy mle / grid search, not SQL-expressible) and is
# unit-tested against scipy in test_transforms_schema.py.

_YJ_LAMBDA = 0.5  # frozen: both engines apply the same closed form

_TRANSFORM_ORACLE = f"""
    WITH li AS (
      SELECT l_orderkey, l_linenumber,
             CAST(l_quantity AS DOUBLE) AS q,
             CAST(l_quantity AS DOUBLE) - 25.0 AS cq,
             CAST(l_discount AS DOUBLE) AS disc,
             CAST(l_extendedprice AS DOUBLE) AS price
      FROM lineitem WHERE l_orderkey % 10 = 0
    )
    SELECT l_orderkey, l_linenumber,
           round(CASE WHEN cq >= 0
                 THEN (pow(cq + 1.0, {_YJ_LAMBDA}) - 1.0) / {_YJ_LAMBDA}
                 ELSE -(pow(-cq + 1.0, {2.0 - _YJ_LAMBDA}) - 1.0)
                      / {2.0 - _YJ_LAMBDA} END, 6) AS yj_qty,
           round(1.0 / (disc + 1e-10), 6) AS inv_disc,
           round(log2(q + 1.0), 6) AS log2_qty,
           round(sqrt(price), 6) AS sqrt_price
    FROM li ORDER BY l_orderkey, l_linenumber
"""


@register("q_transform", _TRANSFORM_ORACLE)
def q_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Y-layer apply path under the oracle gate: Yeo-Johnson with a
    FROZEN λ=0.5 (both branches exercised by centering l_quantity at
    25), inverse (1/(x+1e-10)), log2(x+1), and sqrt — all through
    transforms.FittedTransform.expr, the same closed-form Column
    expressions the query compiler layers over corpora
    (reference: /root/reference/src/transform.py:32-72). Application
    is pure whole-stage-codegen arithmetic; at 100 TB it rides the
    scan with zero extra shuffles. pow/log2/sqrt cross-libm ulp risk
    is absorbed by round(,6) — the accepted class used by every
    cosine/ln entry."""
    from .transforms import FittedTransform

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).filter(
        F.col("l_orderkey") % 10 == 0
    )
    yj = FittedTransform("yeojohnson", lmbda=_YJ_LAMBDA)
    centered = F.col("l_quantity").cast("double") - F.lit(25.0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(yj.expr(centered), 6).alias("yj_qty"),
        F.round(FittedTransform("inverse").expr(F.col("l_discount")), 6).alias(
            "inv_disc"
        ),
        F.round(FittedTransform("log").expr(F.col("l_quantity")), 6).alias(
            "log2_qty"
        ),
        F.round(FittedTransform("sqrt").expr(F.col("l_extendedprice")), 6).alias(
            "sqrt_price"
        ),
    ).orderBy("l_orderkey", "l_linenumber")


@register(
    "q_salted_join",
    """
    SELECT o_orderpriority, count(*) AS n_items,
           round(sum(l_quantity), 4) AS sum_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-splitting salted join (partitioning.salted_join): big
    side salted once per row, small side replicated across 16 salts,
    equi-join on (key, salt) — a hot orderkey spreads over 16 tasks
    instead of one straggler. The oracle is the PLAIN join: salting
    is an execution-strategy identity, and the hash check pins that
    (same aggregate over the joined rows, bit-for-bit)."""
    from .partitioning import salted_join

    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).select(
        "l_orderkey", "l_quantity"
    )
    o = (
        spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        .select(F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority")
    )
    joined = salted_join(li, o, "l_orderkey", salt_buckets=16)
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        )
        .orderBy("o_orderpriority")
    )


_ASM_PACK_H = _H.format(expr="concat('pack:', CAST(item_id AS VARCHAR))")


def _assembly_oracle() -> str:
    """DuckDB twin of the COMPOSED assembly pipeline — curation
    (quality filter → exact dedup → split) → weighted mixture over
    the train split → concat-and-split packing — each stage the
    exact CTE form its standalone oracle already pins (q_curate,
    q_mixture, q_pack), chained end-to-end so the hash gate checks
    the COMPOSITION (column threading, copy-key derivation, stage
    ordering), not just the parts."""
    toks = _TOKS_SQL
    split_h = _H.format(expr="concat('split:', CAST(doc_id AS VARCHAR))")
    span = 1 << 32

    def parts(r: float) -> tuple[int, int]:
        return int(r), int(round((r - int(r)) * span))

    whole_cases = " ".join(
        f"WHEN '{s}' THEN {parts(r)[0]}" for s, r in _MIX_RATES.items()
    )
    thr_cases = " ".join(
        f"WHEN '{s}' THEN {parts(r)[1]}" for s, r in _MIX_RATES.items()
    )
    dw, dt = parts(_MIX_DEFAULT)
    return f"""
    WITH t AS (
      SELECT doc_id, source, text, {toks} AS toks,
             length(text) AS n_chars,
             length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct,
             length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit
      FROM documents
    ), f AS (
      SELECT doc_id, source, text, CAST(len(toks) AS BIGINT) AS n_tokens,
             round(1.0
               - least(1.0, CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE)/n_chars ELSE 0 END * 4.0) * 0.25
               - least(1.0, CASE WHEN n_chars > 0 THEN CAST(n_digit AS DOUBLE)/n_chars ELSE 0 END * 4.0) * 0.25
               - (CASE WHEN (CASE WHEN len(toks) > 0 THEN CAST(n_chars - (len(toks) - 1) AS DOUBLE)/len(toks) ELSE 0 END) < 2.0
                        OR (CASE WHEN len(toks) > 0 THEN CAST(n_chars - (len(toks) - 1) AS DOUBLE)/len(toks) ELSE 0 END) > 12.0
                       THEN 0.25 ELSE 0.0 END)
               - (CASE WHEN len(toks) < 5 THEN 0.25 ELSE 0.0 END), 6) AS quality_score
      FROM t
    ), q AS (
      SELECT * FROM f WHERE quality_score >= 0.75
    ), dd AS (
      SELECT *, row_number() OVER (
        PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
        ORDER BY doc_id ASC) AS rn
      FROM q
    ), kept AS (
      SELECT doc_id, source, n_tokens,
             CASE WHEN {split_h} % 100 < 90 THEN 'train'
                  WHEN {split_h} % 100 < 95 THEN 'val'
                  ELSE 'test' END AS split
      FROM dd WHERE rn = 1
    ), tr AS (
      SELECT doc_id, source, n_tokens FROM kept WHERE split = 'train'
    ), m AS (
      SELECT doc_id, n_tokens,
             (CASE source {whole_cases} ELSE {dw} END)
             + CASE WHEN {_MIX_H} < (CASE source {thr_cases} ELSE {dt} END)
                    THEN 1 ELSE 0 END AS copies
      FROM tr
    ), mi AS (
      SELECT doc_id, n_tokens,
             CAST(unnest(range(0, copies)) AS BIGINT) AS copy_idx
      FROM m
    ), it AS (
      SELECT doc_id * 8 + copy_idx AS item_id, n_tokens FROM mi
    ), h AS (
      SELECT item_id, n_tokens, {_ASM_PACK_H} AS hh FROM it WHERE n_tokens > 0
    ), o AS (
      SELECT item_id, n_tokens,
             CAST(sum(n_tokens) OVER (ORDER BY hh, item_id
                  ROWS UNBOUNDED PRECEDING) - n_tokens AS BIGINT) AS off
      FROM h
    )
    SELECT item_id, n_tokens,
           CAST(off // {_PACK_BUDGET} AS BIGINT) AS start_seq,
           CAST(off % {_PACK_BUDGET} AS BIGINT) AS start_offset,
           CAST((off + n_tokens - 1) // {_PACK_BUDGET}
                - off // {_PACK_BUDGET} + 1 AS BIGINT) AS n_seqs
    FROM o ORDER BY item_id
"""


@register("q_assembly", _assembly_oracle())
def q_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full training-corpus ASSEMBLY composition under one hash
    gate: curate_corpus (quality → dedup → split) → mixture_sample
    over the train split (rates per source, fractional epochs by
    salted hash) → pack_split (bucketed two-phase cumsum layout) —
    three layers whose standalone oracles are q_curate/q_mixture/
    q_pack, here CHAINED so the differential check pins the
    composition: column threading, the doc→(doc,copy)→item_id key
    derivation, and stage ordering. Every stage keeps its scale
    posture (narrow quality pass, one dedup shuffle, zero-shuffle
    mixture, bucketed pack cumsum)."""
    from .pipeline_ext import curation as CU
    from .pipeline_ext.packing import pack_split

    d = _docs(spark, sf_dir).select("doc_id", "source", "text")
    curated = CU.curate_corpus(d)
    train = curated.filter(F.col("split") == "train")
    mixed = CU.mixture_sample(train, _MIX_RATES, default_rate=_MIX_DEFAULT)
    items = mixed.select(
        (F.col("doc_id") * 8 + F.col("copy_idx")).alias("item_id"), "n_tokens"
    )
    return (
        pack_split(items, budget=_PACK_BUDGET, key_col="item_id")
        .select("item_id", "n_tokens", "start_seq", "start_offset", "n_seqs")
        .orderBy("item_id")
    )


_FRAME_EVERY, _FRAME_MAX = 7000, 64

_FRAMES_ORACLE = f"""
    WITH d AS (
      SELECT doc_id, coalesce(text, '') AS t FROM documents WHERE doc_id < 200
    ), m AS (
      -- decode_stub duration for non-image media: md5 bytes [2:4]
      -- big-endian == hex chars 5..8
      SELECT doc_id,
             CAST(concat('0x', substring(md5(t), 5, 4)) AS INT) AS dur
      FROM d
    ), n AS (
      SELECT doc_id, dur,
             least(CAST(dur // {_FRAME_EVERY} AS BIGINT) + 1, {_FRAME_MAX}) AS n_frames
      FROM m WHERE dur > 0
    )
    SELECT doc_id, n_frames,
           CAST((n_frames - 1) * {_FRAME_EVERY} AS BIGINT) AS last_ts_ms
    FROM n ORDER BY doc_id
"""


@register("q_media_frames", _FRAMES_ORACLE)
def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plumbing under the oracle gate: payload
    attach → metadata decode (deterministic md5 stub, media_type
    'video' so duration_ms is nonzero) → expression-only frame
    explode (multimodal.frame_sample) → per-doc frame count + last
    sampled timestamp. The DuckDB twin re-derives the stub duration
    from the same md5 bytes and states the closed-form frame count —
    pinning the sequence guard (images/zero-duration emit nothing)
    and the max_frames cap."""
    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 200).select("doc_id", "text")
    d = M.attach_payload(d)
    d = M.extract_media_metadata(d, media_type="video")
    frames = M.frame_sample(d, every_ms=_FRAME_EVERY, max_frames=_FRAME_MAX)
    return (
        frames.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.max("frame_ts_ms").alias("last_ts_ms"),
        )
        .orderBy("doc_id")
    )
