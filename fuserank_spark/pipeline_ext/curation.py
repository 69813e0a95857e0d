"""Corpus-curation operators for training-data pipelines:
deterministic train/val/test splits, per-source quota sampling,
test-set decontamination, PII scrubbing, within-document repetition
stats, and keep-best dedup resolution.

These extend the reference's data-prep surface (src/prep.py does
row-level cleanup only) with the curation steps an LLM-scale corpus
pipeline needs before training. Everything is pure Column
expressions or hash-keyed shuffles:

- ``assign_split`` / ``pii_scrub`` are projections — zero shuffle,
  whole-stage codegen, scale is the scan itself.
- ``quota_sample`` / ``keep_best`` are one window shuffle keyed on
  the group/block column; output is bounded (n per group / 1 per
  block). For pathologically hot groups, pass ``prefilter_top`` to
  cut each group down by a deterministic hash threshold BEFORE the
  window sort (turns an O(G log G) per-group sort into O(n') with
  n' ≈ margin · quota).
- ``contaminated_keys`` explodes token n-grams on the big (train)
  side but broadcasts the small (test) side, so the train scan
  never shuffles — only the final distinct on surviving keys does.

All hashes are md5-derived (``hashing.portable_hash32``) so DuckDB
oracles reproduce them bit-for-bit.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .hashing import portable_hash32
from .textstats import tokens_expr

# ---------------------------------------------------------------- splits


def split_hash_expr(key_col: Column, salt: str) -> Column:
    """Deterministic [0, 100) bucket from a salted portable hash of
    the key — stable across runs, engines, and cluster sizes (the
    property that makes split assignment reproducible; partition- or
    rand()-based splits are neither)."""
    return portable_hash32(F.concat(F.lit(salt + ":"), key_col.cast("string"))) % 100


def assign_split(
    df: DataFrame,
    key_col: str = "doc_id",
    salt: str = "split",
    train_pct: int = 90,
    val_pct: int = 5,
    out_col: str = "split",
) -> DataFrame:
    """Add a train/val/test split column. Pure projection — no
    shuffle, no state; adding data never reassigns existing keys."""
    h = split_hash_expr(F.col(key_col), salt)
    return df.withColumn(
        out_col,
        F.when(h < train_pct, "train")
        .when(h < train_pct + val_pct, "val")
        .otherwise("test"),
    )


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    key_col: str = "doc_id",
    salt: str = "split",
    train_pct: int = 90,
    val_pct: int = 5,
    out_col: str = "split",
) -> DataFrame:
    """Train/val/test split that CANNOT leak near-duplicates across
    splits: every member of a duplicate cluster (connected components
    over ``pairs`` — LSH candidates, span/semantic dup edges,
    whatever the dedup pass produced) inherits the split of its
    cluster id; singletons hash on their own key, bit-identical to
    :func:`assign_split`. The classic eval bug — a paraphrase of a
    test doc in the training set — is structurally impossible for
    any pair the candidate generator surfaced.

    Plan shape: the CC resolution is the usual O(log diameter)
    label-propagation (bounded by the pair graph, not the corpus);
    the corpus side takes ONE left join against the cluster map
    (|clusters| ≤ 2·|pairs| rows) and the split itself stays a pure
    projection.

    Stability: assignments are stable under data growth ONLY while
    the pair graph over existing docs is unchanged. A later ingest
    that surfaces a NEW edge deliberately migrates the affected
    cluster to its (possibly new) cluster-minimum's bucket —
    leakage-safety wins over per-key stability by design, so re-run
    the split (or freeze the pair set) when edges change; docs in no
    pair keep the plain assign_split contract."""
    from .dedup import resolve_duplicate_clusters

    # collision-proof names: the caller may well carry its own
    # cluster_id (this op's natural predecessor IS the cluster
    # resolution workflow — review catch)
    clusters = resolve_duplicate_clusters(pairs).select(
        F.col("doc_id").alias("__lss_id"), F.col("cluster_id").alias("__lss_cid")
    )
    joined = df.join(
        clusters, df[key_col] == clusters["__lss_id"], "left"
    ).drop("__lss_id")
    eff = F.coalesce(F.col("__lss_cid"), F.col(key_col))
    h = split_hash_expr(eff, salt)
    return joined.withColumn(
        out_col,
        F.when(h < train_pct, "train")
        .when(h < train_pct + val_pct, "val")
        .otherwise("test"),
    ).drop("__lss_cid")


# ---------------------------------------------------------- quota sample


def quota_sample(
    df: DataFrame,
    group_col: str = "source",
    key_col: str = "doc_id",
    n_per_group: int = 10,
    salt: str = "quota",
    prefilter_frac: float | str | None = None,
    margin: float = 8.0,
    verify: bool = False,
) -> DataFrame:
    """Deterministic per-group quota: keep the ``n_per_group`` rows
    with the smallest salted key-hash in each group (tie-break on the
    key). One window shuffle keyed on ``group_col``.

    At 100 TB a hot group would sort its whole partition just to
    keep n rows; ``prefilter_frac`` applies the static RANGE gate
    ``h < 2^32 · frac`` before the window. Because the quota keeps
    the smallest hashes, a range gate (unlike modulus sampling) is
    result-preserving whenever it retains ≥ n_per_group rows per
    group — pick frac ≈ margin · n_per_group / est_group_size.

    ``prefilter_frac="auto"`` derives the frac from actual group
    sizes (one count pass; group cardinality is bounded by the nature
    of quota sampling): ``min(1, margin·n / smallest_group)`` — the
    smallest group needs the loosest gate, so one global frac is
    result-preserving for every group while still pruning hot groups
    by orders of magnitude.

    ``verify=True`` closes the silent-under-selection hole (ADVICE
    r2): after planning, per-group output counts are compared against
    ``min(n_per_group, true_group_size)`` (true sizes fetched only
    for suspect groups, so the check costs one agg over the small
    output + one filtered count) and a ValueError names any group
    the gate starved. Runs eagerly — use on samples/CI, not in the
    hot path.
    """
    def group_sizes() -> dict:
        return {
            r["g"]: r["n"]
            for r in df.groupBy(F.col(group_col).alias("g"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }

    h = portable_hash32(F.concat(F.lit(salt + ":"), F.col(key_col).cast("string")))
    out = df.withColumn("__qh", h)
    sizes: dict | None = None
    if prefilter_frac == "auto":
        sizes = group_sizes()
        smallest = min(sizes.values()) if sizes else 0
        prefilter_frac = (
            min(1.0, margin * n_per_group / smallest) if smallest > 0 else None
        )
    if prefilter_frac is not None:
        out = out.filter(F.col("__qh") < int((1 << 32) * prefilter_frac))
    w = Window.partitionBy(group_col).orderBy(F.col("__qh").asc(), F.col(key_col).asc())
    result = (
        out.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_per_group)
        .drop("__qh", "__rn")
    )
    if verify and prefilter_frac is not None:
        if sizes is None:
            sizes = group_sizes()
        got = {
            r["g"]: r["n"]
            for r in result.groupBy(F.col(group_col).alias("g"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        starved = {
            g: (got.get(g, 0), min(n_per_group, n))
            for g, n in sizes.items()
            if got.get(g, 0) < min(n_per_group, n)
        }
        if starved:
            raise ValueError(
                f"quota_sample prefilter_frac={prefilter_frac} starved groups "
                f"{starved} (got, expected) — raise margin or drop the prefilter"
            )
    return result


def cluster_balanced_sample(
    df: DataFrame,
    centroids,
    *,
    vec_col: str = "embedding",
    key_col: str = "doc_id",
    n_per_cluster: int = 10,
    metric: str = "l2",
    score_round: int | None = 6,
    cluster_col: str = "cluster_id",
    salt: str = "cluster-balance",
    prefilter_frac: float | str | None = None,
) -> DataFrame:
    """Diversity-preserving subsample: cap every embedding-space
    REGION at ``n_per_cluster`` docs, so mass-duplicated modes (boiler
    -plate families, template farms, one over-crawled topic) cannot
    dominate the training mixture — the cluster-balancing step that
    SemDeDup-style pipelines run after near-dup removal, with clusters
    standing in for domains in the quota_sample sense.

    Composition of two existing audited paths, nothing new to audit:
    frozen-centroid assignment (simsearch.ivf_assign — expression-only
    argmin over a literal centroid matrix, zero shuffle, the q_ivf_knn
    SQL-twin formula with ``score_round`` fixing the cross-engine
    tie-break domain) followed by :func:`quota_sample` keyed on the
    cell (one window shuffle; ``prefilter_frac`` prunes hot clusters
    before the sort — see quota_sample for the result-preserving
    range-gate argument). Centroids come from ``ivf_build`` on a
    bounded sample or any frozen k-means; passing them frozen keeps
    the op deterministic and engine-portable. Output keeps
    ``cluster_col`` for mixture accounting. Differentially pinned by a
    full DuckDB re-derivation (assignment + quota) in
    tests/test_curation.py (r6 registry-external convention)."""
    from .simsearch import ivf_assign

    assigned = ivf_assign(
        df,
        centroids,
        vec_col=vec_col,
        out_col=cluster_col,
        metric=metric,
        score_round=score_round,
    )
    return quota_sample(
        assigned,
        group_col=cluster_col,
        key_col=key_col,
        n_per_group=n_per_cluster,
        salt=salt,
        prefilter_frac=prefilter_frac,
    )


# ------------------------------------------------------- decontamination


def token_ngrams_expr(toks: Column, n: int) -> Column:
    """Space-joined token n-grams; fewer than n tokens → empty array
    (guards the Spark sequence(1, m<1) count-DOWN trap, and matches
    DuckDB generate_series which yields empty).

    ``toks`` MUST be a materialized column reference (``F.col``), not
    an inline split() expression: the lambda body re-evaluates its
    expression tree per sequence element, so an inline tokenizer
    turns this into O(tokens²) per document (the CSE-across-HOF
    trap — measured 5× on q_repetition before materializing)."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (n - 1)),
        lambda i: F.array_join(F.slice(toks, i, n), " "),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(F.array().cast("array<string>"))


def contaminated_keys(
    train: DataFrame,
    test: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    broadcast_test: bool | str = "auto",
    broadcast_gram_limit: int = 5_000_000,
) -> DataFrame:
    """Test-set decontamination: train keys sharing ANY token
    ``n``-gram with the test set (the standard n-gram-overlap
    contamination check run before training).

    Plan shape: the train side explodes its n-gram hashes (narrow —
    no shuffle), the test side collapses to DISTINCT gram hashes and
    is broadcast (test sets are small by definition), the semi-join
    is therefore shuffle-free on the 100 TB side; only the final
    DISTINCT on surviving keys shuffles, and that input is bounded
    by the contamination rate.

    ``broadcast_test="auto"`` (default, ADVICE r2) counts the
    distinct gram set first and broadcasts only when it is under
    ``broadcast_gram_limit`` (5M hashes ≈ tens of MB) — an oversized
    test set can no longer blow the driver/broadcast limit because
    the caller forgot to flip a flag; the count costs one extra pass
    over the (small) test side only. Pass True/False to force."""
    tr = _gram_hash_rows(train, text_col, n, key_col)
    te = _test_gram_set(test, text_col, n, broadcast_test, broadcast_gram_limit)
    return tr.join(te, "__g", "left_semi").select(key_col).distinct()


def _gram_hash_rows(
    df: DataFrame,
    text_col: str,
    n: int,
    *keep: str,
    distinct_within_doc: bool = False,
) -> DataFrame:
    """THE tokenize → n-gram → portable-hash → explode pipeline, as
    one-row-per-gram ``__g`` (plus ``keep`` columns) — shared by the
    decontamination train side, the test-gram set, and the
    overlap-fraction metric, so gram construction can never silently
    diverge between them (review catch, this round). Tokens are
    materialized as a column BEFORE the n-gram HOF — an inline
    split() would re-tokenize per gram position."""
    base = df.withColumn("__toks", tokens_expr(F.col(text_col))).withColumn(
        "__grams", token_ngrams_expr(F.col("__toks"), n)
    )
    hashes = F.transform(F.col("__grams"), lambda g: portable_hash32(g))
    if distinct_within_doc:
        hashes = F.array_distinct(hashes)
    return base.select(*keep, F.explode(hashes).alias("__g"))


def _test_gram_set(
    test: DataFrame,
    text_col: str,
    n: int,
    broadcast_test: bool | str,
    broadcast_gram_limit: int,
) -> DataFrame:
    """DISTINCT portable gram hashes of the held-out side as a 1-col
    frame ``__g``, broadcast under the auto-sizing policy documented
    on contaminated_keys (shared by the overlap-fraction variant)."""
    te = _gram_hash_rows(test, text_col, n).distinct()
    if broadcast_test == "auto":
        # the auto-sizing count and the broadcast below are TWO actions
        # over this frame (r6-3 fan-out invariant): unmaterialized, the
        # broadcast re-runs the whole tokenize→ngram→hash→distinct
        # pipeline the count just paid for. The checkpoint is bounded
        # by the distinct gram set — the same quantity the auto policy
        # is about to cap at broadcast_gram_limit.
        te = te.localCheckpoint(eager=True)
        broadcast_test = (
            te.limit(broadcast_gram_limit + 1).count() <= broadcast_gram_limit
        )
    if broadcast_test:
        te = F.broadcast(te)
    return te


def contamination_fraction(
    train: DataFrame,
    test: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    broadcast_test: bool | str = "auto",
    broadcast_gram_limit: int = 5_000_000,
) -> DataFrame:
    """Per-document contamination DEGREE: the fraction of each train
    doc's DISTINCT token ``n``-grams that also occur in the test set
    (the GPT-3 / PaLM overlap-fraction metric — ``contaminated_keys``
    is the any-collision special case; thresholding the fraction is
    the caller's policy knob, e.g. drop > 0.7, flag > 0.1).

    Returns one row per train key: ``n_grams`` (distinct grams in the
    doc; 0 for sub-``n`` docs), ``n_shared``, ``overlap_frac``
    (= n_shared / n_grams, 0.0 when the doc has no grams — two exact
    BIGINTs IEEE-divided, so the double is bit-identical across
    engines without explicit rounding).

    Plan shape: within-doc distinct grams fold via ``array_distinct``
    BEFORE the explode (narrow — the in-doc dedup costs no shuffle);
    the gram pipeline is evaluated ONCE — both counters come from one
    groupBy after a LEFT marker join against the broadcast test-gram
    set (a two-branch join of the base would re-run the md5 gram
    hashing per branch, the CSE-across-self-join trap — measured 3×
    at 500k rows); the corpus side never shuffles for the join, and
    because a document's exploded grams stay inside one input
    partition, partial aggregation collapses the groupBy's shuffle
    to ONE row per doc; sub-``n`` docs re-attach via a narrow
    token-count-only union — no join anywhere on the 100 TB side."""
    te = _test_gram_set(test, text_col, n, broadcast_test, broadcast_gram_limit)
    toked = train.withColumn("__toks", tokens_expr(F.col(text_col)))
    ex = _gram_hash_rows(train, text_col, n, key_col, distinct_within_doc=True)
    counted = (
        ex.join(te.withColumn("__hit", F.lit(1)), "__g", "left")
        .groupBy(key_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("__hit").alias("n_shared"),
        )
    )
    zeros = toked.filter(F.size("__toks") < n).select(
        F.col(key_col),
        F.lit(0).cast("bigint").alias("n_grams"),
        F.lit(0).cast("bigint").alias("n_shared"),
    )
    return counted.unionByName(zeros).select(
        key_col,
        F.col("n_grams").cast("bigint").alias("n_grams"),
        F.col("n_shared").cast("bigint").alias("n_shared"),
        F.when(F.col("n_grams") > 0, F.col("n_shared") / F.col("n_grams"))
        .otherwise(F.lit(0.0))
        .alias("overlap_frac"),
    )


# -------------------------------------------------------------- PII scrub

PII_PATTERNS = [
    # (name, regex, replacement) — patterns restricted to the syntax
    # subset where Java regex (Spark) and RE2 (DuckDB) agree
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
]


def pii_scrub(df: DataFrame, text_col: str = "text", out_col: str = "scrubbed") -> DataFrame:
    """Redact emails / phone numbers / IPv4 addresses and count each
    match kind (counts computed on the ORIGINAL text, replacements
    applied sequentially in PII_PATTERNS order). Pure expressions —
    regexp engines run JVM-side inside codegen; no Python, no
    shuffle."""
    t = F.col(text_col)
    cols = {}
    for name, pat, _ in PII_PATTERNS:
        cols[f"n_{name}"] = F.size(F.regexp_extract_all(t, F.lit(pat), F.lit(0))).cast(
            "bigint"
        )
    scrub = t
    for _, pat, repl in PII_PATTERNS:
        scrub = F.regexp_replace(scrub, pat, repl)
    cols[out_col] = scrub
    return df.withColumns(cols)


# ------------------------------------------------------ repetition stats


def repetition_stats(df: DataFrame, key_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Within-document repetition features (Gopher-style quality
    rules): duplicate-token fraction, duplicate-2-gram fraction, and
    top-token frequency fraction.

    dup fractions are per-row expressions (array_distinct — linear
    per doc). top_token_frac is computed DISTRIBUTED: explode →
    count per (doc, token) → max/sum per doc — two uniform hash
    shuffles, no per-doc quadratic expression, so a single
    pathological 1 GB document cannot stall an executor the way
    filter-per-distinct-token would. (r12 note: a per-row
    sorted-max-run form that removes both shuffles was built and
    MEASURED SLOWER — 1.60s vs 1.34s at sf0.1 — the interpreted HOF
    fold loses to the codegen'd explode+hash-aggregate; kept the
    distributed shape.)

    SINGLE-SCAN shape (ADVICE r2): the per-row metrics ride along
    the exploded token stream as carried columns (constant within a
    doc, recovered via first() at each aggregation) instead of a
    base⟕top self-join — the old join re-evaluated the scan +
    tokenize lineage twice per run (CLAUDE.md self-join trap).

    The metrics are computed in their OWN projection before the
    explode: a select mixing metric expressions with a generator
    lets ExtractGenerator push the Generate below and re-evaluate
    the array_distinct metrics once per exploded TOKEN row —
    O(tokens²) per doc (measured 5× on q_repetition at sf0.1).
    With the metrics as plain attributes, the Project above
    Generate only forwards them."""
    tmp = (
        df.select(F.col(key_col), F.col(text_col))
        .withColumn("__toks", tokens_expr(F.col(text_col)))
        .withColumn("__g2", token_ngrams_expr(F.col("__toks"), 2))
    )
    toks, g2 = F.col("__toks"), F.col("__g2")
    per_doc = tmp.select(
        F.col(key_col),
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.when(
            F.size(toks) > 0,
            F.round(
                1.0 - F.size(F.array_distinct(toks)).cast("double") / F.size(toks), 6
            ),
        )
        .otherwise(0.0)
        .alias("dup_token_frac"),
        F.when(
            F.size(g2) > 0,
            F.round(1.0 - F.size(F.array_distinct(g2)).cast("double") / F.size(g2), 6),
        )
        .otherwise(0.0)
        .alias("dup_2gram_frac"),
        toks.alias("__toks"),
    )
    exploded = per_doc.select(
        F.col(key_col),
        "n_tokens",
        "dup_token_frac",
        "dup_2gram_frac",
        # explode_outer keeps empty/NULL-text docs as a NULL-token row
        F.explode_outer("__toks").alias("__tok"),
    )
    carried = [
        F.first("n_tokens").alias("n_tokens"),
        F.first("dup_token_frac").alias("dup_token_frac"),
        F.first("dup_2gram_frac").alias("dup_2gram_frac"),
    ]
    return (
        # count("__tok") skips NULL → the empty-doc row contributes 0
        exploded.groupBy(key_col, "__tok")
        .agg(F.count("__tok").alias("__cnt"), *carried)
        .groupBy(key_col)
        .agg(
            *[F.first(c).alias(c) for c in ("n_tokens", "dup_token_frac", "dup_2gram_frac")],
            # try_divide: the empty-doc row has cnt sum 0 — NULL (not
            # an ANSI DIVIDE_BY_ZERO error), coalesced to 0.0
            F.coalesce(
                F.round(
                    F.try_divide(
                        F.max("__cnt").cast("double"), F.sum("__cnt").cast("double")
                    ),
                    6,
                ),
                F.lit(0.0),
            ).alias("top_token_frac"),
        )
        .select(key_col, "n_tokens", "dup_token_frac", "dup_2gram_frac", "top_token_frac")
    )


# ------------------------------------------------------------- keep-best


def keep_best(
    df: DataFrame,
    block_col: str,
    score_col: str,
    key_col: str = "doc_id",
) -> DataFrame:
    """Keep-best dedup resolution: within each block (near-dup
    cluster key), keep the highest-``score_col`` row, tie-broken on
    the smallest key — the 'keep the best copy' policy vs
    exact_dup_groups' 'keep the first copy'. One window shuffle on
    the block key; emits one row per block."""
    w = Window.partitionBy(block_col).orderBy(F.col(score_col).desc(), F.col(key_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .withColumn("__n", F.count(F.lit(1)).over(Window.partitionBy(block_col)))
        .filter(F.col("__rn") == 1)
        .select(
            F.col(block_col),
            F.col(key_col).alias("keep_id"),
            F.col(score_col).alias("best_score"),
            F.col("__n").alias("n_members"),
        )
    )


# -------------------------------------------------------- full pipeline


def content_hash_expr(text: Column) -> Column:
    """The exact-dedup content identity: md5 of whitespace-normalized
    lowercased text. ONE definition shared by curate_corpus's dedup
    stage and profile.dataset_card's duplicate_frac — the report must
    measure the duplication the pipeline actually removes (review
    catch: a drifted inline copy would silently decouple them). The
    q_curate oracle pins this exact expression; do not change one
    consumer without the other."""
    return F.md5(F.regexp_replace(F.lower(F.trim(text)), r"\s+", " "))


def _mg_merge(counters: pd.Series, vc: pd.Series, k: int) -> pd.Series:
    """One Misra–Gries bulk merge: fold a batch's value counts into a
    ``k``-counter summary. Eviction subtracts the (L−k)-th smallest
    value from all counters and drops non-positives — every subtracted
    unit destroys ≥ k+1 units of mass while >k counters remain, so
    total undercount per item stays ≤ (mass folded)/(k+1), the
    textbook MG bound. np.partition COPIES — ``.to_numpy()`` can be a
    zero-copy view of the Series buffer, and an in-place sort would
    scramble values under their index labels (regression-pinned by the
    mono-skew test). Shared by the batch sketch
    (:func:`heavy_hitters`) and the streaming state op
    (streaming.heavy_hitters)."""
    import numpy as np

    counters = vc if counters.empty else counters.add(vc, fill_value=0)
    L = len(counters)
    if L > k:
        s = np.partition(counters.to_numpy(), L - k - 1)[L - k - 1]
        counters = counters[counters > s] - s
    return counters


def heavy_hitters(
    items: DataFrame,
    item_col: str = "item",
    *,
    min_count: int,
    budget: int = 1 << 15,
    count_col: str = "count",
) -> DataFrame:
    """EXACT frequent items at a sketch's shuffle cost: every item
    with global count ``>= min_count``, with its exact count — the
    scale path for corpus-wide frequency mining (boilerplate n-grams,
    hot URLs, heavy tokens) where a full ``groupBy(item)`` would
    shuffle the entire exploded stream.

    Two passes (Misra–Gries, Section 2 of Misra & Gries 1982, in its
    mergeable-summary form — Agarwal et al., "Mergeable Summaries",
    PODS 2012):

    1. *Sketch*: each partition folds its items into a ``budget``-
       counter MG summary inside one mapInPandas (vectorized bulk
       evictions: subtract the (L-budget)-th smallest value, drop
       non-positives — each subtracted unit destroys >= budget+1
       units of mass, so a partition's undercount is at most
       n_p/(budget+1)). Only the P·budget summary rows shuffle.
    2. *Recount*: summed summaries undercount by at most
       E = N/(budget+1), so every true heavy hitter survives the
       gate ``summed >= min_count - E`` (no false negatives —
       pigeonhole); the surviving candidate set is broadcast back
       over the stream for one map-side-filtered exact count, which
       removes the false positives.

    The output is therefore EXACTLY ``groupBy.count >= min_count``
    (pinned against both that plan and a DuckDB groupBy in
    tests/test_heavy_hitters.py) whenever the guarantee holds:
    ``min_count > N/(budget+1)``. When it does not — the threshold is
    too deep for the budget — the op RAISES with the budget that
    would work, rather than silently dropping items (the
    embedding-neardup "refuses to guess" doctrine). NULL items are
    ignored.

    Cost shape at 100 TB: pass 1 is a narrow scan emitting
    O(P·budget) rows; pass 2 shuffles only items that hash-match a
    candidate (<= P·budget distinct values); nothing ever shuffles
    the full stream. Memory: one budget-sized dict per task."""
    from pyspark.sql import types as T

    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    if budget < 1:
        raise ValueError(f"budget must be >= 1, got {budget}")
    src = items.select(F.col(item_col).alias("item"))
    item_type = src.schema.fields[0].dataType
    sk_schema = T.StructType(
        [
            T.StructField("item", item_type),
            T.StructField("cnt", T.LongType()),
            T.StructField("tot", T.LongType()),
        ]
    )
    k = budget

    def _sketch(batches):
        counters = pd.Series(dtype="int64")
        n_p = 0
        for pdf in batches:
            col = pdf["item"].dropna()
            n_p += len(col)
            counters = _mg_merge(counters, col.value_counts(), k)
        out = pd.DataFrame(
            {"item": counters.index, "cnt": counters.to_numpy("int64")}
        )
        out["tot"] = 0
        total = pd.DataFrame(
            {
                "item": pd.Series([None], dtype=object),
                "cnt": [0],
                "tot": [n_p],
            }
        )
        yield pd.concat([out, total], ignore_index=True)

    # consumed by two actions (N, candidates) — materialize once
    # (CLAUDE.md r6-3: lazy fan-out inputs re-run their upstream)
    sk = src.mapInPandas(_sketch, schema=sk_schema).localCheckpoint(eager=True)
    n_total = sk.agg(F.sum("tot")).collect()[0][0] or 0
    err = n_total / (k + 1)
    if min_count <= err:
        raise ValueError(
            f"min_count={min_count} <= N/(budget+1)={err:.1f}: the sketch "
            f"cannot guarantee recall at this depth; raise budget to "
            f">= {int(n_total / min_count) + 1} (or use the exact groupBy path)"
        )
    candidates = (
        sk.filter(F.col("item").isNotNull())
        .groupBy("item")
        .agg(F.sum("cnt").alias("lb"))
        .filter(F.col("lb") >= F.lit(min_count - err))
        .select("item")
    )
    return (
        src.join(F.broadcast(candidates), "item", "inner")
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias(count_col))
        .filter(F.col(count_col) >= min_count)
        .withColumnRenamed("item", item_col)
    )


def frequent_ngrams(
    docs: DataFrame,
    *,
    text_col: str = "text",
    n: int = 8,
    min_doc_count: int = 10,
    budget: int | None = None,
) -> DataFrame:
    """Corpus-wide boilerplate mining: token ``n``-grams that appear
    in at least ``min_doc_count`` DISTINCT documents (headers,
    footers, license blurbs, navigation chrome). Returns
    ``(gram_hash, n_docs)`` — feed to :func:`boilerplate_fraction`.

    ``budget`` switches the aggregation to the two-pass
    :func:`heavy_hitters` sketch path — IDENTICAL output (exact
    counts, guaranteed; raises if the budget can't cover
    ``min_doc_count`` at the observed gram volume), but the full
    exploded gram stream never shuffles: at 100 TB the exact
    ``groupBy(gram_hash)`` below moves the whole corpus's grams
    through one exchange, while the sketch moves O(partitions ·
    budget) summary rows plus the frequent tail. The docs scan runs
    twice (sketch + recount) — the right trade when shuffle, not
    scan, is the bottleneck.

    Grams are carried as ``portable_hash32`` values, not strings —
    the frequent set must stay broadcastable (a 5M-row limit of raw
    8-token strings is gigabytes; of 32-bit hashes, tens of MB), and
    matching on the SAME portable hash on both engines makes the rare
    collision a defined, parity-preserving part of the semantics
    (the contaminated_keys precedent). ``n`` travels in the column's
    schema metadata so the coverage side can reject a mismatched
    ``n`` without running a job.

    Plan: one narrow projection (tokens → distinct gram hashes per
    doc), one explode, one hash aggregate — the decontam shuffle
    shape; the HAVING filter collapses the output to the (small)
    frequent set. Per-doc ``array_distinct`` makes the count a
    document frequency, immune to within-doc repetition."""
    g = (
        docs.withColumn("__toks", tokens_expr(F.col(text_col)))
        .withColumn("__grams", token_ngrams_expr(F.col("__toks"), n))
        .select(
            F.explode(
                F.array_distinct(
                    F.transform(F.col("__grams"), lambda x: portable_hash32(x))
                )
            ).alias("gram_hash")
        )
    )
    if budget is not None:
        counted = heavy_hitters(
            g, "gram_hash", min_count=min_doc_count, budget=budget, count_col="n_docs"
        )
    else:
        counted = (
            g.groupBy("gram_hash")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .filter(F.col("n_docs") >= min_doc_count)
        )
    return counted.select(
        F.col("gram_hash").alias("gram_hash", metadata={"ngram_n": n}),
        "n_docs",
    )


def remove_boilerplate_spans(
    docs: DataFrame,
    frequent: DataFrame,
    *,
    key_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    broadcast_frequent: bool | str = "auto",
    broadcast_gram_limit: int = 5_000_000,
    frequent_count: int | None = None,
) -> DataFrame:
    """Boilerplate EXCISION: cut every occurrence of a mined frequent
    ``n``-gram (:func:`frequent_ngrams`) out of every document — the
    C4-style remove-ALL-copies policy for chrome/license text, the
    complement of :func:`dedup.dedup_spans`' keep-first rule for
    organically duplicated passages. Token positions covered by any
    frequent-gram span are deleted (overlaps merge via the running-max
    coverage window), survivors rebuild with single spaces, and the
    frame carries ``n_tokens`` / ``n_kept`` (NULL text → NULL, 0, 0).

    Scale shape: CHEAPER than dedup_spans — the frequent set is
    precomputed, so there is no corpus-wide gram groupBy at all: one
    narrow per-position gram-hash projection, one broadcast LEFT
    join (auto policy as boilerplate_fraction, with the same
    ``frequent_count`` hint and mined-``n`` metadata check), then the
    per-doc window + rebuild sharing one Exchange — a single
    corpus-sized shuffle total.

    Differential evidence: DuckDB re-derivation of mining + excision
    end-to-end in tests/test_curation.py (frozen registry — the
    oracle lives in the test)."""
    from .dedup import _drop_covered_and_rebuild, _positional_grams

    if "gram_hash" in frequent.columns:
        meta = frequent.schema["gram_hash"].metadata
        if meta.get("ngram_n") is not None and meta["ngram_n"] != n:
            raise ValueError(
                f"frequent set was mined with n={meta['ngram_n']} but "
                f"remove_boilerplate_spans was called with n={n} — "
                "excision would silently be a no-op"
            )
    fset = frequent.select(F.col("gram_hash").alias("__gh")).distinct()
    if broadcast_frequent == "auto":
        cnt = (
            frequent_count
            if frequent_count is not None
            else fset.limit(broadcast_gram_limit + 1).count()
        )
        broadcast_frequent = cnt <= broadcast_gram_limit
    if broadcast_frequent:
        fset = F.broadcast(fset)
    base, ex = _positional_grams(docs, key_col, text_col, n)
    flagged = ex.join(fset.withColumn("__hit", F.lit(1)), "__gh", "left").withColumn(
        "__cut", F.col("__hit").isNotNull()
    )
    return _drop_covered_and_rebuild(base, flagged, key_col, text_col, n)


def boilerplate_fraction(
    docs: DataFrame,
    frequent: DataFrame,
    *,
    key_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    broadcast_frequent: bool | str = "auto",
    broadcast_gram_limit: int = 5_000_000,
    frequent_count: int | None = None,
) -> DataFrame:
    """Per-document boilerplate coverage against a mined frequent-gram
    table (:func:`frequent_ngrams`): adds ``n_grams`` (total gram
    positions), ``n_boiler`` (positions covered by a frequent gram,
    WITH multiplicity — a doc that is one license blurb repeated
    scores ~1.0), and ``boiler_frac``. Filter on ``boiler_frac`` to
    drop chrome-dominated docs before training.

    ``n`` must match the mining call; if ``frequent`` carries the
    metadata tag frequent_ngrams writes, a mismatch raises here (a
    silent mismatch would score every doc 0.0). The corpus side
    explodes gram hashes without shuffling; the frequent set joins
    broadcast under ``broadcast_gram_limit`` hashes (auto policy as
    contaminated_keys). The auto count EXECUTES the mining plan once;
    pass ``frequent_count`` (or a persisted ``frequent``) to skip
    that extra pass when you already know the size. ``n_grams`` is
    derived from the token count alone, so the non-exploded side
    never materializes a gram array."""
    if "gram_hash" in frequent.columns:
        meta = frequent.schema["gram_hash"].metadata
        if meta.get("ngram_n") is not None and meta["ngram_n"] != n:
            raise ValueError(
                f"frequent set was mined with n={meta['ngram_n']} but "
                f"boilerplate_fraction was called with n={n} — coverage "
                "would silently be zero"
            )
    base = docs.withColumn("__toks", tokens_expr(F.col(text_col)))
    fset = frequent.select("gram_hash").distinct()
    if broadcast_frequent == "auto":
        cnt = (
            frequent_count
            if frequent_count is not None
            else fset.limit(broadcast_gram_limit + 1).count()
        )
        broadcast_frequent = cnt <= broadcast_gram_limit
    if broadcast_frequent:
        fset = F.broadcast(fset)
    matched = (
        base.select(
            F.col(key_col),
            F.explode(
                F.transform(
                    token_ngrams_expr(F.col("__toks"), n),
                    lambda x: portable_hash32(x),
                )
            ).alias("gram_hash"),
        )
        .join(fset, "gram_hash", "left_semi")
        .groupBy(key_col)
        .agg(F.count(F.lit(1)).alias("n_boiler"))
    )
    n_grams = F.when(
        F.size("__toks") >= n, (F.size("__toks") - (n - 1)).cast("bigint")
    ).otherwise(F.lit(0).cast("bigint"))
    out = (
        base.withColumn("n_grams", n_grams)
        .drop("__toks")
        .join(matched, key_col, "left")
        .fillna({"n_boiler": 0})
    )
    return out.withColumn(
        "boiler_frac",
        F.when(
            F.col("n_grams") > 0,
            F.round(F.col("n_boiler").cast("double") / F.col("n_grams"), 6),
        ).otherwise(0.0),
    )


def resolve_span_strategy(
    df: DataFrame,
    *,
    key_col: str = "doc_id",
    text_col: str = "text",
    min_span_tokens: int = 8,
    max_miss_frac: float = 0.05,
    sample_fraction: float | None = 0.1,
    seed: int = 7,
    kept_floor: float | None = None,
    floor_protect_quantile: float = 0.1,
) -> dict:
    """The "profile first, strategy second" pre-flight (SCALING.md r9)
    as one call: run :func:`dedup.span_length_profile` on a seeded
    document sample, invert it with
    :func:`dedup.recommended_anchor_window` under the miss budget, and
    map the answer onto :func:`dedup.dedup_spans` arguments —
    ``w == 1`` means anchor mode cannot cut exchange bytes without
    exceeding the budget (the 5M minimal-span regime, where the
    anchor+floor composition missed whole spans and kept 25.6× exact's
    survivors — BASELINE.md r9), so the choice falls back to the exact
    join. Returns::

        {"strategy": "join" | "anchor",
         "anchor_window": w,             # 1 for the exact fallback
         "gap_mass_frac": f,             # measured mass below the guarantee
         "bytes_cut_estimate": (w+1)/2}  # anchor mode's exchange-cut shape

    ``kept_floor``: the ``span_drop_if_kept_below`` value the caller
    will pair with anchor mode, if known. The miss budget bounds
    MISSED duplicated mass only — a gutted duplicate still retains
    ≤ ``2(w−1)`` boundary tokens, and on short-document corpora a
    large ``w`` keeps whole-doc-duplicate shells ABOVE the floor (the
    budget said yes, the floor then failed to cull: measured r10 on
    the crawl fixture, w=8 + floor 0.3 kept 84,200 survivors vs
    exact's 4,756 — docs up to ~60 tokens retain 14 residue + unique
    tokens ≥ 0.3 kept fraction, and the fixture's p50 is 58). With
    ``kept_floor`` given, ``w`` is additionally capped so a
    bottom-``floor_protect_quantile`` document's pure-residue shell
    dies: ``2(w−1) < floor · n_q`` — STRICT, because curate's drop
    filter keeps docs AT the floor (``n_kept ≥ n_tokens·floor``), so
    a shell whose residue lands exactly on the boundary would survive
    under ≤ (ADVICE r10 #1) — with ``n_q`` the sampled token-count
    quantile (default p10 — protecting the median alone leaves half
    the corpus below the shelter boundary; same tokenizer as the span
    op). Sub-quantile docs and the unique-tail term can
    still shelter — raise the floor or lower the quantile if the tail
    matters; the output reports ``protect_doc_tokens`` /
    ``floor_cap_w`` so the arithmetic is visible.

    This is an EAGER pre-flight (one bounded profile job + a
    driver-side histogram inversion) — the price of not freezing a
    corpus-dependent knob doctrinally (the r7–r9 lesson, twice:
    quantizer choice and anchor w both reversed between corpora)."""
    import math

    from .dedup import recommended_anchor_window_rows, span_length_profile
    from .hashing import portable_hash32
    from .textstats import tokens_expr

    src = df
    if sample_fraction is not None:
        # the same seeded portable gate span_length_profile applies, so
        # the p50 below is measured on the identical document sample
        if not (0.0 < sample_fraction <= 1.0):
            raise ValueError(
                f"sample_fraction must be in (0, 1], got {sample_fraction}"
            )
        gate = F.pmod(
            portable_hash32(
                F.concat(F.col(key_col).cast("string"), F.lit(f"#{seed}"))
            ),
            F.lit(1_000_000),
        )
        src = df.filter(gate < F.lit(int(round(sample_fraction * 1_000_000))))

    prof = span_length_profile(
        df,
        key_col=key_col,
        text_col=text_col,
        min_span_tokens=min_span_tokens,
        sample_fraction=sample_fraction,
        seed=seed,
    )
    n_q = None
    cap = None
    if kept_floor is not None:
        if not (0.0 < kept_floor <= 1.0):
            raise ValueError(f"kept_floor must be (0, 1], got {kept_floor}")
        if not (0.0 < floor_protect_quantile <= 1.0):
            raise ValueError(
                f"floor_protect_quantile must be in (0, 1], got "
                f"{floor_protect_quantile}"
            )
        # the percentile RIDES the profile's own action (VERDICT r10
        # #4): a broadcast crossJoin of the 1-row agg against the
        # histogram lands both aggregations in ONE job instead of two
        # pre-flight passes over the sample
        pq = src.agg(
            F.percentile_approx(
                F.size(tokens_expr(F.col(text_col))), floor_protect_quantile
            ).alias("__doc_tokens_q")
        )
        rows = prof.crossJoin(F.broadcast(pq)).collect()
        if rows:
            p = rows[0]["__doc_tokens_q"]
        else:
            # dup-free sample: the empty histogram annihilated the
            # crossJoin, so pay the bounded percentile agg alone to
            # keep the protect_doc_tokens contract
            p = pq.collect()[0]["__doc_tokens_q"]
        n_q = int(p) if p is not None else 0
        # largest w with 2(w−1) STRICTLY < kept_floor · n_q (ADVICE
        # r10 #1: curate's drop filter KEEPS docs at exactly the floor
        # — n_kept >= n_tokens·floor — so a shell whose residue lands
        # exactly ON the boundary would survive under ≤)
        half = kept_floor * n_q / 2.0
        cap = max(1, math.ceil(half + 1.0) - 1)
    else:
        rows = prof.collect()
    if not rows:
        # no duplicated mass in the sample at all — nothing for anchor
        # mode to miss, but also nothing for it to cut: the exact join
        # on a dup-free corpus is cheap (its gram stream has no ≥2
        # groups), so the conservative answer is exact
        rec = {"anchor_window": 1, "gap_mass_frac": 0.0,
               "bytes_cut_estimate": 1.0}
    else:
        rec = recommended_anchor_window_rows(
            [r for r in rows], max_miss_frac=max_miss_frac, max_window=cap
        )
    w = int(rec["anchor_window"])
    out = {
        "strategy": "join" if w == 1 else "anchor",
        "anchor_window": w,
        "gap_mass_frac": float(rec["gap_mass_frac"]),
        "bytes_cut_estimate": float(rec["bytes_cut_estimate"]),
    }
    if kept_floor is not None:
        out["protect_doc_tokens"] = n_q
        out["floor_cap_w"] = cap
    return out


def sweep_residue_shells(
    df: DataFrame,
    *,
    key_col: str = "doc_id",
    text_col: str = "text",
    kept_floor: float,
    kept_ceiling: float = 2.0,
    min_est_jaccard: float = 0.5,
    bands: int = 4,
    rows_per_band: int = 2,
) -> DataFrame:
    """Sub-p10 boundary-residue shell sweep (r12, VERDICT r11 missing
    #2). Input is a post-span-dedup frame carrying ``n_tokens`` /
    ``n_kept`` (the :func:`dedup.dedup_spans` counters) that already
    passed the ``n_kept >= floor·n_tokens`` kept-fraction gate.

    The floor-cap arithmetic (``2(w−1) < floor·p10``) protects docs at
    or above the p10 token count; a SHORTER whole-doc duplicate's
    boundary residue can still sit above ``floor·n_tokens`` and sail
    through (5M adjudication: 14,255 of the auto arm's 19,011
    survivors were such shells vs the exact arm's 4,756 — SCALING.md
    r11 step 3). This closes the class with a bounded near-dup pass
    over ONLY the low-kept survivor slice (kept fraction under
    ``kept_ceiling × kept_floor`` — tiny and dup-enriched by
    construction): MinHash/LSH candidate pairs whose estimated
    Jaccard ≥ ``min_est_jaccard`` are residue shells of the SAME
    gutted span set, and EVERY paired doc drops. Drop-all, not
    keep-one, is the exact-arm-matching semantics: exact span dedup
    reduces each of them to ~nothing and the floor culls them all,
    their surviving unique information is bounded by the (tiny)
    residue, and the duplicated content itself lives on with the span
    keeper — which keeps a high kept-fraction and is never in the
    slice. Unpaired low-kept docs pass through (a genuinely unique
    doc that lost many tokens is not a shell); residues shorter than
    one shingle carry no signature and are excluded (dropping them on
    a null-signature collision would purge DISTINCT tiny docs).

    Scale shape: slice filter is narrow; the pair pipeline is the
    bucketed spillable LSH core (``dedup._pairs_in_buckets`` — a
    mass-dup shell bucket star-degrades instead of OOMing, and star
    edges still mark every member as paired, which is all drop-all
    needs); the removal is one left_anti keyed join. The input frame
    is localCheckpoint-ed (r6-3 fan-out invariant): it feeds both the
    slice's pair pipeline and the anti-join, and unmaterialized it
    would re-run the caller's whole upstream dedup once per branch."""
    from .dedup import SHINGLE_K, lsh_candidate_pairs, minhash_signature

    if not (0.0 < kept_floor <= 1.0):
        raise ValueError(f"kept_floor must be in (0, 1], got {kept_floor}")
    if kept_ceiling <= 1.0:
        raise ValueError(
            f"kept_ceiling multiplies the floor and must be > 1, got {kept_ceiling}"
        )
    for c in ("n_tokens", "n_kept", key_col, text_col):
        if c not in df.columns:
            raise ValueError(
                f"sweep_residue_shells needs column {c!r} — run dedup_spans first"
            )
    df = df.localCheckpoint(eager=True)
    low = df.filter(
        (
            F.col("n_kept")
            < F.col("n_tokens") * F.lit(float(kept_floor) * float(kept_ceiling))
        )
        & (F.length(F.col(text_col)) >= SHINGLE_K)
    )
    # 4 bands × 2 rows (not the pair-op default 2×4): residue shells
    # are TINY texts whose unique tail is a large shingle fraction —
    # true Jaccard between siblings lands ~0.5-0.7, where a 4-row band
    # match is rare (j⁴ per band) and measured escapes ~15% of shells;
    # 2-row bands recover them (measured 20/20 on the unit fixture vs
    # 17/20 at 2×4), and the est_jaccard floor — computed over all 8
    # perms regardless of banding — still gates what a candidate pair
    # needs to actually drop
    shell_pairs = lsh_candidate_pairs(
        minhash_signature(low, text_col=text_col),
        key_col=key_col,
        bands=bands,
        rows_per_band=rows_per_band,
    ).filter(F.col("est_jaccard") >= float(min_est_jaccard))
    shell_ids = (
        shell_pairs.select(F.col("id_a").alias(key_col))
        .union(shell_pairs.select(F.col("id_b").alias(key_col)))
        .distinct()
    )
    return df.join(shell_ids, key_col, "left_anti")


def curate_corpus(
    df: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.75,
    semantic_centroids=None,
    semantic_vec_col: str = "embedding",
    semantic_threshold: float = 0.95,
    line_dedup: bool = False,
    perplexity_lm=None,
    max_perplexity: float | None = None,
    quality_model=None,
    pareto_alpha: float | None = None,
    span_dedup_tokens: int | None = None,
    span_dedup_strategy: str = "join",
    span_dedup_anchor_window: int = 4,
    span_drop_if_kept_below: float | None = None,
    span_auto_max_miss_frac: float = 0.05,
    span_auto_sample_fraction: float | None = 0.1,
    span_shell_kept_ceiling: float = 2.0,
    span_shell_min_jaccard: float = 0.5,
    domain_ranks: DataFrame | None = None,
    min_domain_rank: float | None = None,
    domain_col: str = "domain",
    keep_unranked: bool = False,
    min_compression_ratio: float | None = None,
) -> DataFrame:
    """End-to-end curation: [optional line dedup] → quality-score
    filter → [optional LM perplexity filter] → exact dedup (keep min
    key per normalized content hash) → [optional semantic dedup] →
    deterministic split assignment. Composition of the individual
    operators — one narrow quality projection, one hash-shuffle for
    dedup, one projection for the split, plus one bounded stage per
    enabled option.

    ``line_dedup=True`` runs :func:`dedup.dedup_lines` FIRST (the C4
    ordering — strip cross-document boilerplate lines before any
    content-based scoring sees them). Pass ``perplexity_lm`` (a
    trained :class:`lm.NgramLM`) + ``max_perplexity`` to keep only
    the fluent head after the cheap quality filter (CCNet ordering;
    documents too short to score — fewer than n tokens — are
    dropped). Pass ``semantic_centroids`` (a frozen k-means centroid
    matrix; ``df`` must carry ``semantic_vec_col``) to insert a
    SemDeDup stage between exact dedup and the split: exact dedup
    removes byte-near-identical docs cheaply first, the semantic pass
    then catches paraphrase-level duplicates the content hash cannot
    — the standard ordering at corpus scale (hash pass shrinks the
    input the cluster-bucketed pass has to shuffle; the stage
    assigns cells with the Arrow kernel, see :func:`dedup.semantic_dedup`).
    The defaults (all off) are the r4 three-stage pipeline the
    q_curate oracle pins.

    Pass ``quality_model`` (a fitted
    :func:`classifier.train_quality_classifier` PipelineModel) +
    ``pareto_alpha`` to add the GPT-3 LEARNED quality gate after the
    heuristic filter (Brown et al. 2020 App. A ordering: cheap rules
    first, the classifier's stochastic Pareto acceptance on what
    survives — narrow transforms + a deterministic expression gate,
    no extra shuffle).

    Pass ``span_dedup_tokens=L`` to run :func:`dedup.dedup_spans`
    after the (optional) line dedup and before any scoring — the Lee
    et al. 2021 ordering: cut duplicated passages first so quality /
    perplexity / hash dedup judge the unique content that will
    actually train. ``span_dedup_strategy="anchor"`` (+
    ``span_dedup_anchor_window``) selects the anchored scale path —
    ~3.3× fewer exchange bytes at w=4, one-sided boundary-miss
    profile (see :func:`dedup.dedup_spans`); the default stays the
    exact join so the frozen oracle entries are byte-identical.
    ``span_drop_if_kept_below=f`` drops documents whose surviving
    token fraction after span dedup falls below ``f`` (Lee et al.'s
    companion rule) — pair it with anchor mode, whose boundary
    residue otherwise keeps gutted duplicates alive through the
    quality gates.

    ``span_dedup_strategy="auto"`` (VERDICT r9 ask #4) runs the
    "profile first, strategy second" pre-flight inline
    (:func:`resolve_span_strategy`): a seeded-sample
    :func:`dedup.span_length_profile` inverted under
    ``span_auto_max_miss_frac`` picks exact (``w == 1`` — the 5M
    minimal-span regime, where anchor mode misses whole spans) or
    anchor at the recommended ``w``; ``span_dedup_anchor_window`` is
    ignored in auto mode. One bounded eager profile job before the
    pipeline is declared. Pass ``span_drop_if_kept_below`` alongside
    auto if anchor may be chosen — auto feeds it into the w choice as
    the residue cap (``2(w−1) ≤ floor · p10`` doc tokens, so a
    bottom-decile whole-doc duplicate's boundary-residue shell cannot
    shelter under the floor — the r10 crawl-fixture finding), and the
    floor itself then culls the shells the cap arithmetic targets.

    The residue-shell sweep (:func:`sweep_residue_shells`, r12, VERDICT
    r11 missing #2) closes the floor cap's structural blind spot: docs
    BELOW the protection quantile can still shelter boundary-residue
    shells above the floor. Whenever anchor mode runs with
    ``anchor_window > 1`` and a floor, a bounded MinHash/LSH near-dup
    pass over the low-kept survivor slice (kept fraction under
    ``span_shell_kept_ceiling × floor``) drops EVERY doc in a
    candidate pair at estimated Jaccard ≥ ``span_shell_min_jaccard``
    (the exact arm leaves no residue, so it runs no sweep):
    near-identical low-kept residues are shells of the same gutted
    span set, their content survives with
    the span keeper, and exact mode would have culled all of them at
    the floor (drop-all, not keep-one, is the exact-arm-matching
    semantics). Unpaired low-kept docs and sub-shingle residues pass
    through. Measured at the 5M tier: auto-arm survivors 19,011 →
    within 1.5× of the exact arm's 4,756 (SCALING.md r12).

    Pass ``domain_ranks`` (a (node, rank) frame, e.g. `web.pagerank`
    over `web.domain_link_graph`) + ``min_domain_rank`` to gate on the
    domain-authority prior FIRST — the RefinedWeb ordering: provenance
    filters are the cheapest signal, so they run before any content
    pass touches the text. ``df`` must carry ``domain_col`` (from
    `web.parse_urls`); domains absent from the rank table drop unless
    ``keep_unranked=True``. The rank table is small (one row per
    domain) — the join broadcasts. Defaults (all stages off) keep the
    q_curate/q_assembly oracle paths byte-identical.

    Pass ``min_compression_ratio`` to drop too-compressible documents
    (zlib ratio below the floor — template farms, keyword stuffing)
    right after the heuristic rules and before any learned/LM stage
    (the RedPajama-v2 signal; see textstats.compression_ratio)."""
    from .textstats import quality_features

    if (perplexity_lm is None) != (max_perplexity is None):
        raise ValueError("perplexity_lm and max_perplexity must be passed together")
    if (quality_model is None) != (pareto_alpha is None):
        raise ValueError("quality_model and pareto_alpha must be passed together")
    if (domain_ranks is None) != (min_domain_rank is None):
        raise ValueError("domain_ranks and min_domain_rank must be passed together")
    if domain_ranks is not None:
        ranked = F.broadcast(
            domain_ranks.select(
                F.col("node").alias("__dr_node"), F.col("rank").alias("__dr_rank")
            )
        )
        df = df.join(ranked, df[domain_col] == ranked["__dr_node"], "left")
        gate = F.col("__dr_rank") >= min_domain_rank
        if keep_unranked:
            gate = gate | F.col("__dr_rank").isNull()
        df = df.filter(gate).drop("__dr_node", "__dr_rank")
    if line_dedup:
        from .dedup import dedup_lines

        # the per-stage counters are stage diagnostics — dropped in the
        # composition so successive stages can't shadow each other's
        df = dedup_lines(df, key_col=key_col, text_col=text_col).drop(
            "n_lines", "n_kept"
        )
    if span_dedup_tokens is not None:
        from .dedup import dedup_spans

        span_strategy, span_w = span_dedup_strategy, span_dedup_anchor_window
        if span_dedup_strategy == "auto":
            choice = resolve_span_strategy(
                df,
                key_col=key_col,
                text_col=text_col,
                min_span_tokens=span_dedup_tokens,
                max_miss_frac=span_auto_max_miss_frac,
                sample_fraction=span_auto_sample_fraction,
                # the floor the caller will apply below caps w so a
                # bottom-decile (floor_protect_quantile) doc's
                # pure-residue shell cannot shelter under it (the r10
                # crawl-fixture finding; ADVICE r10 #3 wording)
                kept_floor=span_drop_if_kept_below,
            )
            span_strategy, span_w = choice["strategy"], choice["anchor_window"]
        # span_dedup_strategy="anchor" is the crawl-scale exchange cut
        # (the composition's cost center is THIS stage's gram stream —
        # 4.1 GB of the 4.2 GB r7 crawl→shards shuffle; anchor mode
        # carries winnowing anchors only, measured 3.3× fewer bytes at
        # w=4 with the one-sided miss profile dedup_spans documents)
        df = dedup_spans(
            df, key_col=key_col, text_col=text_col,
            min_span_tokens=span_dedup_tokens,
            strategy=span_strategy,
            anchor_window=span_w,
        )
        if span_drop_if_kept_below is not None:
            # Lee et al.'s companion rule: a document that lost most of
            # its tokens to span dedup is a shell, not a document —
            # drop it instead of letting its residue (with anchor mode,
            # up to w−1 boundary tokens per duplicated span) drift
            # through the quality gates. Measured in the crawl bench:
            # without this floor, anchor mode's boundary residue kept
            # 153k gutted replicas alive that exact mode's near-total
            # deletion culled at the quality gate (BASELINE.md r8).
            df = df.filter(
                F.col("n_kept")
                >= F.col("n_tokens") * F.lit(float(span_drop_if_kept_below))
            )
        if span_drop_if_kept_below is not None and span_strategy == "anchor" and span_w > 1:
            df = sweep_residue_shells(
                df,
                key_col=key_col,
                text_col=text_col,
                kept_floor=float(span_drop_if_kept_below),
                kept_ceiling=float(span_shell_kept_ceiling),
                min_est_jaccard=float(span_shell_min_jaccard),
            )
        df = df.drop("n_tokens", "n_kept")
    q = quality_features(df, text_col).filter(F.col("quality_score") >= min_quality)
    if min_compression_ratio is not None:
        # RPv2-style repetitiveness gate: too-compressible text
        # (template farms, keyword stuffing) dies after the cheap
        # heuristic rules and before any learned/LM scoring
        from .textstats import compression_ratio

        q = compression_ratio(q, text_col=text_col).filter(
            F.col("compression_ratio") >= min_compression_ratio
        )
    if quality_model is not None:
        from .classifier import pareto_quality_filter, quality_scores

        q = pareto_quality_filter(
            quality_scores(q, quality_model, text_col=text_col, out_col="clf_score"),
            score_col="clf_score",
            key_col=key_col,
            alpha=pareto_alpha,
        )
    if perplexity_lm is not None:
        from .lm import ngram_lm_perplexity

        q = ngram_lm_perplexity(
            q, perplexity_lm, key_col=key_col, text_col=text_col
        ).filter(F.col("perplexity") <= max_perplexity)
    hashed = q.withColumn("__ch", content_hash_expr(F.col(text_col)))
    w = Window.partitionBy("__ch").orderBy(F.col(key_col).asc())
    deduped = hashed.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1)
    if semantic_centroids is not None:
        from .dedup import semantic_dedup

        deduped = semantic_dedup(
            deduped,
            semantic_centroids,
            vec_col=semantic_vec_col,
            key_col=key_col,
            threshold=semantic_threshold,
        )
    return assign_split(deduped, key_col=key_col).drop("__ch", "__rn")


# ---------------------------------------------------- mixture sampling

_H32 = 1 << 32


def mixture_sample(
    df: DataFrame,
    rates: dict[str, float],
    *,
    source_col: str = "source",
    key_col: str = "doc_id",
    salt: str = "mix",
    default_rate: float = 0.0,
) -> DataFrame:
    """Weighted corpus mixing — the step that turns per-source corpora
    into a training mixture: each source is sampled at ``rates[src]``
    epochs. Rates < 1 downsample (hash range gate, like assign_split);
    rates ≥ 1 OVERSAMPLE: ``floor(rate)`` full copies plus one more
    when the key's salted hash falls under the fractional part. The
    emitted ``copy_idx`` (0-based) distinguishes repeats so downstream
    shuffling/packing can interleave them.

    Pure projection + explode — zero shuffle, append-stable,
    reproducible across engines (portable md5 hash). Expected output
    size is Σ_src |src| · rate_src exactly in distribution, and every
    decision is per-key deterministic.

    The copies sequence is GUARDED against Spark's descending
    ``sequence(0, -1)`` when copies = 0 (CLAUDE.md trap): zero-copy
    rows get an empty array, which explode drops — identical to the
    DuckDB twin's ``unnest(range(0, copies))``."""
    for src, r in rates.items():
        if r < 0:
            raise ValueError(f"negative rate for {src!r}")
    if default_rate < 0:
        raise ValueError("negative default_rate")
    h = portable_hash32(
        F.concat(F.lit(salt + ":"), F.col(key_col).cast("string"))
    )
    whole = None
    thresh = None
    for src, r in rates.items():
        w_val, t_val = int(r), int(round((r - int(r)) * _H32))
        cond = F.col(source_col) == src
        whole = F.when(cond, w_val) if whole is None else whole.when(cond, w_val)
        thresh = F.when(cond, t_val) if thresh is None else thresh.when(cond, t_val)
    dw, dt = int(default_rate), int(round((default_rate - int(default_rate)) * _H32))
    whole = (whole.otherwise(dw) if whole is not None else F.lit(dw)).cast("long")
    thresh = (thresh.otherwise(dt) if thresh is not None else F.lit(dt)).cast("long")
    copies = whole + (h < thresh).cast("long")
    seq = F.when(
        copies >= 1, F.sequence(F.lit(0).cast("long"), copies - 1)
    ).otherwise(F.array().cast("array<long>"))
    return df.withColumn("copy_idx", F.explode(seq))


def temperature_rates(
    sizes: dict[str, int | float],
    *,
    alpha: float = 0.3,
    target_total: float | None = None,
) -> dict[str, float]:
    """Temperature-based mixture rates (the multilingual-LM sampling
    rule, Conneau & Lample 2019 §3.1: sample source i with probability
    ∝ size_i^alpha) expressed as the per-source epoch rates
    :func:`mixture_sample` consumes.

    ``alpha`` in (0, 1] flattens the source distribution — alpha=1
    keeps natural proportions (every rate equals target_total/total),
    alpha→0 approaches uniform over sources (heavy upsampling of small
    sources). ``target_total`` is the desired output row count
    (defaults to the input total, i.e. pure re-balancing). Driver-side
    closed-form math over the ≤|sources| size dict — compose as
    ``mixture_sample(df, temperature_rates(sizes))``. Expected output
    per source is target_total · size_i^alpha / Σ size_j^alpha."""
    if not sizes:
        raise ValueError("sizes must be non-empty")
    if any(s <= 0 for s in sizes.values()):
        raise ValueError(f"all source sizes must be > 0, got {sizes}")
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    total = float(sum(sizes.values()))
    if target_total is None:
        target_total = total
    if target_total <= 0:
        raise ValueError(f"target_total must be > 0, got {target_total}")
    z = sum(float(s) ** alpha for s in sizes.values())
    return {
        src: (float(s) ** alpha / z) * float(target_total) / float(s)
        for src, s in sizes.items()
    }


def normalize_text(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "text_norm",
    *,
    form: str = "NFC",
    lowercase: bool = False,
    strip_accents: bool = False,
) -> DataFrame:
    """Unicode normalization for multilingual corpora: composes the
    canonical (NFC/NFD) or compatibility (NFKC/NFKD) form, optionally
    strips accents (NFD → drop combining marks → recompose) and
    lowercases — the prep step that makes downstream EXACT matching
    (dedup hashes, decontam grams, URL/domain keys) see "café" ==
    "cafe\\u0301". Skipping it silently splits duplicate groups by
    encoding accident, which is a recall bug in every hash-keyed op.

    Spark has no built-in Unicode normalizer, so this is an
    Arrow-batched pandas UDF over ``unicodedata`` (the sanctioned
    Python path — batch transfer, not per-row py4j); the plan stays
    narrow (zero shuffle), so it distributes with the scan like any
    projection. NULLs pass through.

    Engine-parity note (test-resident oracle, frozen registry):
    DuckDB's ``nfc_normalize`` / ``strip_accents`` / ``lower`` are
    utf8proc-backed while Python uses its own Unicode tables — the
    same algorithms, compared row-for-row in
    tests/test_normalize_text.py over accent/ligature/full-width/
    jamo/casing rows. ``lowercase`` maps to Python ``str.lower`` (not
    ``casefold``, whose ß→ss expansion has no cheap SQL twin)."""
    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError(f"form must be NFC/NFD/NFKC/NFKD, got {form!r}")

    @F.pandas_udf("string")
    def _norm(s: pd.Series) -> pd.Series:
        import unicodedata

        def one(x):
            if x is None:
                return None
            y = unicodedata.normalize(form, x)
            if strip_accents:
                y = "".join(
                    c
                    for c in unicodedata.normalize("NFD", y)
                    if not unicodedata.combining(c)
                )
                y = unicodedata.normalize(form, y)
            if lowercase:
                y = y.lower()
            return y

        return s.map(one)

    return df.withColumn(out_col, _norm(F.col(text_col)))
