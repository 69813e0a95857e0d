"""Partitioning & shuffle control for 100 TB operation: bucketed
co-located joins, key-salting for skewed aggregations, and corpus
layout helpers.

Catalyst + AQE handle the common cases (broadcast thresholds, skew
join splitting, partition coalescing — all on in session.py). These
helpers cover the two patterns that need *layout decisions* the
optimizer cannot make for you:

1. **Bucketing** — the corpus and any table repeatedly joined on the
   same key (row_id) are written bucketed+sorted on that key: every
   subsequent join/groupBy on it is shuffle-free (no Exchange in the
   plan), which at 100 TB converts the dominant cost of the gather
   join (§2.3 J1/J2) into a local merge.
2. **Salting** — a groupBy on a key with pathological frequency (one
   content_hash covering 10% of the corpus, a near-dup cluster) can
   exceed a single task even under AQE. Two-phase salted aggregation
   bounds per-task cardinality deterministically.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str = "row_id",
    buckets: int = 64,
    path: str | None = None,
) -> None:
    """Persist bucketed+sorted by key. Reads of this table join/group
    on `key` without a shuffle (bucket pruning + sorted merge)."""
    import shutil
    from urllib.parse import urlparse

    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    if not path:
        warehouse = spark.conf.get("spark.sql.warehouse.dir")
        loc = urlparse(warehouse).path or warehouse
        shutil.rmtree(f"{loc.rstrip('/')}/{table}", ignore_errors=True)
    writer = df.write.bucketBy(buckets, key).sortBy(key).mode("overwrite")
    if path:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def salted_count_agg(
    df: DataFrame,
    key_cols: list[str],
    agg_exprs: dict[str, str],
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase salted aggregation for skewed keys.

    Phase 1 aggregates on (key, salt) — splitting any hot key across
    ``salt_buckets`` tasks; phase 2 merges the partials. Supports the
    decomposable aggregates the dedup/stats paths need:
    count / sum / min / max.

    The salt is a deterministic xxhash64 content hash (same doctrine
    as salted_join, VERDICT r5 nit #4): the merged phase-2 output is
    identical for ANY salt, but an id-based salt re-salts on task
    retry, making partial-aggregate skew investigations
    unreproducible. Hashing every non-map column spreads a hot key's
    rows as long as they differ anywhere.
    """
    hashable = [
        F.col(f.name)
        for f in df.schema.fields
        if "map<" not in f.dataType.simpleString()
    ]
    if not hashable:
        hashable = [F.col(c) for c in key_cols]
    salt = F.pmod(F.xxhash64(*hashable), F.lit(salt_buckets))
    phase1_aggs, phase2_aggs = [], []
    for col, how in agg_exprs.items():
        partial = f"__p_{col}_{how}"
        if how == "count":
            # '*' counts rows; a named column counts its non-null values
            cnt = F.count(F.lit(1)) if col == "*" else F.count(F.col(col))
            phase1_aggs.append(cnt.alias(partial))
            phase2_aggs.append(F.sum(partial).alias(f"{how}_{col}" if col != "*" else "count"))
        elif how == "sum":
            phase1_aggs.append(F.sum(col).alias(partial))
            phase2_aggs.append(F.sum(partial).alias(f"sum_{col}"))
        elif how == "min":
            phase1_aggs.append(F.min(col).alias(partial))
            phase2_aggs.append(F.min(partial).alias(f"min_{col}"))
        elif how == "max":
            phase1_aggs.append(F.max(col).alias(partial))
            phase2_aggs.append(F.max(partial).alias(f"max_{col}"))
        else:
            raise ValueError(f"non-decomposable agg {how!r}")
    partials = df.withColumn("__salt", salt).groupBy(*key_cols, "__salt").agg(*phase1_aggs)
    return partials.groupBy(*key_cols).agg(*phase2_aggs)


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    *,
    salt_buckets: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-splitting equi-join: the big side gets ONE deterministic
    salt per row, the small side is replicated across all
    ``salt_buckets`` salts, and the join runs on (key, salt) — so a
    pathologically hot key's rows spread over ``salt_buckets`` tasks
    instead of one straggler. Results are IDENTICAL to the plain join
    (each big row meets each of its matches exactly once, on its own
    salt) — pinned by the q_salted_join oracle entry.

    When to use over AQE skew-join (on by default in session.py): AQE
    splits sort-merge partitions from runtime stats, which covers
    most skew; this layout-level variant is for the cases AQE cannot
    touch — a broadcast-disabled dimension repeatedly joined against
    one mega-key, or bucketed tables whose Exchange-free plan AQE
    must not re-split. Cost: |small|·salt_buckets replication, so
    keep the small side small (it usually is — that's why it's
    skewed).

    Inner/left only: right/full would emit unmatched SMALL rows once
    per salt replica.

    The salt is a DETERMINISTIC content hash (xxhash64 of every
    big-side column), not monotonically_increasing_id: output is
    identical either way, but id-based salts re-salt on task retry,
    making a straggler investigation unreproducible (VERDICT r5 nit
    #4). xxhash64 is fine here — the salt is dropped before output,
    so no oracle-checked VALUE depends on it (the portable-md5
    invariant binds only values a DuckDB twin must reproduce), and
    the JVM-native hash keeps the salting cost near zero. Content
    hashing spreads a hot key's rows as long as the rows differ
    anywhere; fully-identical duplicate rows co-locate (they hash
    alike) — dedup upstream if that pathology applies."""
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    if on not in big.columns or on not in small.columns:
        raise ValueError(f"join key {on!r} must exist on both sides")
    if salt_buckets < 1:
        # 0 would make pmod NULL and sequence(0, -1) count DOWN (the
        # CLAUDE.md trap) — a silently-empty join instead of an error
        raise ValueError(f"salt_buckets must be >= 1, got {salt_buckets}")
    # xxhash64 rejects MapType (directly or nested) — hash only the
    # hashable columns so any schema the old id-based salt accepted
    # still works; spread only degrades if rows differ ONLY in map cols
    hashable = [
        F.col(f.name)
        for f in big.schema.fields
        if "map<" not in f.dataType.simpleString()
    ]
    if not hashable:
        hashable = [F.col(on)]
    salt = F.pmod(F.xxhash64(*hashable), F.lit(salt_buckets))
    b = big.withColumn("__salt", salt)
    s = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    ).withColumn("__salt", F.col("__salt").cast("long"))
    return b.join(s, [on, "__salt"], how).drop("__salt")


def layout_corpus(
    df: DataFrame,
    key: str = "row_id",
    target_rows_per_partition: int = 500_000,
    rows: int | None = None,
) -> DataFrame:
    """Canonical corpus layout before the encoded write: hash
    repartition on the stable key so (a) vector blocks are uniform,
    (b) downstream shard export gets balanced partitions, (c) the
    same partitioning is reusable across encode → export stages.

    Pass ``rows`` when the caller already knows the row count (a
    cached ``.count()``, a source-table stat, the driver's manifest):
    sizing then costs zero extra jobs. Only when no hint exists does
    this fall back to an eager ``df.count()`` — at 100 TB that
    fallback is a full extra scan, so production callers should
    always supply the hint (VERDICT r5 "what's wrong" #2)."""
    if rows is None:
        rows = df.count()
    n = max(1, int(rows) // target_rows_per_partition)
    return df.repartition(n, F.col(key))


# ------------------------------------------------------ bloom prefilter

_BLOOM_K = 4


def _bloom_positions(key_col: Column, n_bits: int, salt: str) -> list[Column]:
    from .pipeline_ext.hashing import portable_hash32

    return [
        portable_hash32(
            F.concat(F.lit(f"{salt}{i}:"), key_col.cast("string"))
        ) % n_bits
        for i in range(_BLOOM_K)
    ]


def bloom_build(
    small: DataFrame,
    key_col: str,
    *,
    n_bits: int = 1 << 16,
    salt: str = "bloom",
) -> list[int]:
    """Build a Bloom bitset (as ``n_bits/64`` Python ints) from the
    SMALL side of a prospective join: k=4 salted portable-md5 hash
    positions per key, distinct-collected (bounded by ``n_bits``, not
    by |small|). The third pattern Catalyst cannot choose for you:
    shrinking the BIG side before it ever shuffles.

    Size ``n_bits`` ≈ 15–20 bits per expected distinct key for ~1%
    false positives (k=4 optimum near m/n=14). The bitset becomes a
    literal array<bigint> in the probe plan — keep it ≤ a few MiB
    (n_bits ≤ 2^24) so the plan stays broadcastable."""
    if n_bits <= 0 or n_bits % 64 != 0:
        raise ValueError("n_bits must be a positive multiple of 64")
    pos_cols = _bloom_positions(F.col(key_col), n_bits, salt)
    pos = (
        small.select(F.explode(F.array(*pos_cols)).alias("p"))
        .distinct()
        .collect()
    )
    words = [0] * (n_bits // 64)
    for r in pos:
        p = int(r["p"])
        words[p // 64] |= 1 << (p % 64)
    # two's-complement into signed 64-bit (Spark bigint literals)
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


def bloom_prefilter(
    big: DataFrame,
    words: list[int],
    key_col: str,
    *,
    salt: str = "bloom",
) -> DataFrame:
    """Keep only big-side rows whose key MIGHT be in the small side:
    all k bloom bits set. Pure projection+filter — zero shuffle, no
    join; runs inside whole-stage codegen via element_at + shiftright
    + bitwiseAND on the literal word array. NO false negatives (a
    matching key always survives — the property the downstream exact
    join relies on); false-positive rows merely ride to that join.

    At 100 TB this is the difference between shuffling the full big
    side into a SortMergeJoin and shuffling ~|matches| + FP·|big|
    rows: for a 1% FP bloom of a small dimension, a ~99% shuffle cut
    without touching the join's correctness."""
    n_bits = len(words) * 64
    arr = F.array(*[F.lit(w).cast("long") for w in words])
    cond = None
    for pos in _bloom_positions(F.col(key_col), n_bits, salt):
        word = F.element_at(arr, F.floor(pos / F.lit(64)).cast("int") + F.lit(1))
        c = F.bit_get(word, (pos % 64).cast("int")) == 1
        cond = c if cond is None else (cond & c)
    return big.filter(cond)


# ------------------------------------------------------ z-order layout


def zorder_stats(
    df: DataFrame, cols: list[str]
) -> tuple[list[float], list[float]]:
    """Per-column (mins, maxs) in one aggregate pass — the grid
    calibration for :func:`zorder_value`. Map-side combine, 1-row
    output; reuse a cached stat at scale instead of re-running."""
    aggs = []
    for c in cols:
        e = F.col(c).cast("double")
        aggs.append(F.min(e).alias(f"__mn_{c}"))
        aggs.append(F.max(e).alias(f"__mx_{c}"))
    row = df.agg(*aggs).collect()[0]
    mins, maxs = [], []
    for c in cols:
        mn, mx = row[f"__mn_{c}"], row[f"__mx_{c}"]
        if mn is None or mx is None:
            raise ValueError(f"zorder_stats: column {c} has no non-null values")
        mins.append(float(mn))
        maxs.append(float(mx))
    return mins, maxs


def zorder_value(
    cols: list[str],
    mins: list[float],
    maxs: list[float],
    bits: int = 16,
) -> Column:
    """Morton (z-order) key over ``cols``: each column is scaled to a
    ``2^bits`` integer grid by its [min, max], then the grid bits
    interleave (column d contributes bit i at output position
    ``i*D + d``). Pure integer bit expressions — codegen-friendly,
    SQL-expressible in any engine (the oracle twin in
    tests/test_zorder.py re-derives it bit-for-bit in DuckDB).

    Sorting by this key is the Delta/Iceberg ``OPTIMIZE ZORDER``
    layout: each written file covers a small hyper-rectangle of the
    column space, so parquet footer min/max stats prune files for
    predicates on ANY of the z-columns, not just the leading sort
    column. NULLs grid to 0 (sort first, like NULLS FIRST).

    Grid math is the portable IEEE sequence ``floor((x-mn)/(mx-mn) *
    2^bits)`` clamped to [0, 2^bits) — constant columns grid to 0."""
    d_cnt = len(cols)
    if not (1 <= d_cnt * bits <= 63):
        raise ValueError(
            f"{d_cnt} cols x {bits} bits = {d_cnt * bits} z-bits (need 1..63)"
        )
    if len(mins) != d_cnt or len(maxs) != d_cnt:
        raise ValueError("mins/maxs must match cols")
    total = None
    for d, c in enumerate(cols):
        rng = maxs[d] - mins[d]
        x = F.coalesce(F.col(c).cast("double"), F.lit(float(mins[d])))
        if rng == 0.0:
            g = F.lit(0).cast("bigint")
        else:
            raw = F.floor((x - F.lit(float(mins[d]))) / F.lit(rng) * F.lit(float(1 << bits)))
            g = F.least(
                F.lit((1 << bits) - 1).cast("bigint"),
                F.greatest(F.lit(0).cast("bigint"), raw),
            )
        # unrolled Python loop: shift amounts must be int literals for
        # the pyspark wrappers, and bits*D <= 63 keeps the term count
        # trivially small for codegen
        spread = None
        for i in range(bits):
            term = F.shiftleft(
                F.pmod(F.shiftright(g, i), F.lit(2)), i * d_cnt + d
            )
            spread = term if spread is None else spread + term
        total = spread if total is None else total + spread
    return total


def zorder_layout(
    df: DataFrame,
    cols: list[str],
    path: str,
    *,
    n_files: int = 32,
    bits: int = 16,
    stats: tuple[list[float], list[float]] | None = None,
) -> None:
    """Write ``df`` z-ordered on ``cols``: range-repartition by the
    Morton key into ``n_files`` partitions, sort within each, write
    one parquet file per partition. Files then tile the column space
    in z-contiguous blocks, so every z-column's footer min/max is
    tight and scans with predicates on ANY z-column skip most files
    (measured by :func:`file_pruning_fraction`).

    ``stats`` = precomputed (mins, maxs) to avoid the extra
    calibration scan at 100 TB (layout_corpus rows-hint precedent).
    One shuffle total (the range exchange); the sample pass of
    repartitionByRange reads only the z-key column."""
    mins, maxs = stats if stats is not None else zorder_stats(df, cols)
    zv = zorder_value(cols, mins, maxs, bits=bits)
    (
        df.withColumn("__zv", zv)
        .repartitionByRange(n_files, F.col("__zv"))
        .sortWithinPartitions("__zv")
        .drop("__zv")
        .write.mode("overwrite")
        .parquet(path)
    )


def file_pruning_fraction(path: str, col: str, lo: float, hi: float) -> float:
    """Fraction of the layout's parquet files a scan with predicate
    ``col BETWEEN lo AND hi`` can SKIP from footer min/max stats
    alone — the measurable payoff of :func:`zorder_layout` (driver-
    side, reads only footers; the evidence tool, not a data path)."""
    import glob
    import os

    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise ValueError(f"no parquet files under {path}")
    skipped = 0
    for f in files:
        md = pq.ParquetFile(f).metadata
        idx = md.schema.to_arrow_schema().get_field_index(col)
        f_min, f_max = None, None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                f_min = None
                break
            f_min = st.min if f_min is None else min(f_min, st.min)
            f_max = st.max if f_max is None else max(f_max, st.max)
        if f_min is not None and (f_min > hi or f_max < lo):
            skipped += 1
    return skipped / len(files)


def corpus_checksum(df: DataFrame, cols: list[str] | None = None) -> int:
    """Order-independent multiset checksum of a corpus: the exact
    DECIMAL(38) sum of a portable 32-bit row hash over the selected
    columns. Two materializations of the same rows — different
    partitioning, file layout, engine, or scan order — produce the
    SAME integer, so snapshot equality (post-compaction serve
    identity, an engine migration, a replicated sink) is one
    aggregate per side instead of a sort-and-diff of 100 TB.
    SUM (not bit_xor) so duplicate rows cannot cancel pairwise; the
    decimal accumulator is exact far beyond any real row count
    (2^32 max per row · 10^26 rows before 38 digits saturate).

    Row hash: md5 over the '\\x1f'-joined column values with NULLs
    mapped to an explicit sentinel — ``concat_ws`` alone SKIPS nulls,
    which would alias ('a', NULL) with ('a',). Array/struct columns
    are cast to strings; floating-point columns should be rounded by
    the caller first (the portable-rounding invariant).

    Differential twin (DuckDB — hex→int only casts to BIGINT, so
    widen in a second cast)::

        SELECT sum(CAST(CAST(concat('0x', substring(md5(
                 concat_ws(chr(31), coalesce(CAST(c1 AS VARCHAR), chr(0)), ...)
               ), 1, 8)) AS BIGINT) AS HUGEINT)) FROM t
    """
    return _checksum_and_count(df, cols)[0]


def _checksum_and_count(df: DataFrame, cols: list[str] | None) -> tuple[int, int]:
    """(checksum, row count) in ONE aggregate — the snapshot paths
    need both, and a second count() would double the advertised
    one-extra-scan price (review catch, this round)."""
    from .pipeline_ext.hashing import portable_hash32

    use = cols if cols is not None else df.columns
    parts = [
        F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in use
    ]
    row_hash = portable_hash32(F.concat_ws("\x1f", *parts))
    row = df.agg(
        F.sum(row_hash.cast("decimal(38,0)")).alias("cs"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    return (int(row["cs"]) if row["cs"] is not None else 0, int(row["n"]))


def write_corpus_snapshot(
    df: DataFrame,
    path: str,
    *,
    checksum_cols: list[str] | None = None,
    partition_by: list[str] | None = None,
) -> dict:
    """Write a corpus as parquet plus a ``_snapshot.json`` manifest
    recording row count, schema, checksum columns and the
    order-independent :func:`corpus_checksum` — computed from a
    READ-BACK of the written files, so the manifest certifies what is
    actually on disk, not what the writer intended. The manifest
    lands atomically AFTER the data (the `_compaction.json` /
    encoder-meta publish pattern): a reader that sees the manifest
    sees a complete, verified snapshot. Returns the manifest dict.

    The price is one extra scan of the written files — the audit
    trail for corpus hand-offs (training-data releases, engine
    migrations, replicated sinks)."""
    import json
    import os as _os

    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
    spark = df.sparkSession
    back = spark.read.parquet(path)
    cols = checksum_cols if checksum_cols is not None else sorted(back.columns)
    cs, n_rows = _checksum_and_count(back, cols)
    manifest = {
        "n_rows": n_rows,
        "checksum": str(cs),
        "checksum_cols": cols,
        "schema": back.schema.jsonValue(),
        "partition_by": partition_by or [],
    }
    mpath = _os.path.join(path, "_snapshot.json")
    tmp = mpath + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    _os.replace(tmp, mpath)
    return manifest


def verify_corpus_snapshot(spark: SparkSession, path: str) -> dict:
    """Recompute row count and checksum over the snapshot's files and
    compare against its manifest; raises ``ValueError`` on any
    mismatch, returns the manifest when clean. One aggregate — the
    cheap pre-flight before training on (or serving from) a copied /
    compacted / migrated corpus."""
    import json
    import os as _os

    with open(_os.path.join(path, "_snapshot.json")) as f:
        manifest = json.load(f)
    back = spark.read.parquet(path)
    cs_i, n = _checksum_and_count(back, manifest["checksum_cols"])
    if n != manifest["n_rows"]:
        raise ValueError(
            f"snapshot row count mismatch at {path}: manifest "
            f"{manifest['n_rows']}, files {n}"
        )
    cs = str(cs_i)
    if cs != manifest["checksum"]:
        raise ValueError(
            f"snapshot checksum mismatch at {path}: manifest "
            f"{manifest['checksum']}, files {cs}"
        )
    return manifest


def corpus_diff(
    a: DataFrame,
    b: DataFrame,
    *,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Row-level diff between two corpus materializations: one row per
    key that was ``added`` (in ``b`` only), ``removed`` (in ``a``
    only) or ``changed`` (both sides, differing compare-column
    content). Unchanged keys are NEVER materialized — at 100 TB the
    diff of two adjacent releases is tiny while the intersection is
    the whole corpus, so emitting it would make the op's output scale
    with the inputs instead of the change.

    Scale shape: each side is first PROJECTED to (keys, 32-bit
    portable row hash) — the full-outer join shuffles ~12 bytes + keys
    per row, never document payloads. One shuffle join keyed on the
    keys; hashing is scan-side codegen (portable md5 form, the
    corpus_checksum row hash, so a diff twin in any engine agrees).

    ``compare_cols`` defaults to all shared non-key columns (sorted);
    a column present on only one side raises — schema drift should be
    an explicit decision, not silently ignored content. Float columns
    follow the caller-rounds-first discipline of corpus_checksum.

    Differential twin (DuckDB)::

        SELECT coalesce(a.k, b.k) AS k,
               CASE WHEN a.k IS NULL THEN 'added'
                    WHEN b.k IS NULL THEN 'removed'
                    ELSE 'changed' END AS status
        FROM ha a FULL OUTER JOIN hb b USING (k)
        WHERE a.k IS NULL OR b.k IS NULL OR a.h <> b.h

    Duplicate keys within one side are a caller error (the key is the
    row identity); they are detected cheaply on the hashed projection
    and raise.
    """
    from .pipeline_ext.hashing import portable_hash32

    if not key_cols:
        raise ValueError("key_cols must be non-empty")
    for c in key_cols:
        if c not in a.columns or c not in b.columns:
            raise ValueError(f"key column {c!r} missing from one side")
    if compare_cols is None:
        compare_cols = sorted(
            (set(a.columns) & set(b.columns)) - set(key_cols)
        )
    else:
        for c in compare_cols:
            if c not in a.columns or c not in b.columns:
                raise ValueError(f"compare column {c!r} missing from one side")
    def hashed(df: DataFrame, hcol: str) -> DataFrame:
        parts = [
            F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
            for c in compare_cols
        ]
        h = (
            portable_hash32(F.concat_ws("\x1f", *parts))
            if compare_cols
            else F.lit(0)
        )
        return df.select(*key_cols, h.alias(hcol))

    ha = hashed(a, "__ha")
    hb = hashed(b, "__hb")
    # duplicate detection folds into the join result (one shuffle
    # total, not a pre-pass window per side): a duplicated key fans
    # out the full-outer match, so counting per key on the joined
    # frame catches it on either side.
    joined = ha.join(hb, on=key_cols, how="full_outer")
    n_per_key = F.count(F.lit(1)).over(
        Window.partitionBy(*[F.col(c) for c in key_cols])
    )
    status = (
        F.when(F.col("__ha").isNull(), F.lit("added"))
        .when(F.col("__hb").isNull(), F.lit("removed"))
        .otherwise(F.lit("changed"))
    )
    # the guard must be INSIDE the filter predicate (referencing the
    # materialized count column) — a guard column nothing reads gets
    # column-pruned by Catalyst and never evaluates (caught by
    # tests/test_corpus_diff.py::test_corpus_diff_duplicate_key_raises)
    dup_ok = F.when(
        F.col("__n") > 1,
        F.raise_error(F.lit("corpus_diff: duplicate key within one side")),
    ).otherwise(F.lit(True))
    return (
        joined.withColumn("__n", n_per_key)
        .filter(
            dup_ok
            & (
                F.col("__ha").isNull()
                | F.col("__hb").isNull()
                | (F.col("__ha") != F.col("__hb"))
            )
        )
        .select(*key_cols, status.alias("status"))
    )


def snapshot_diff(
    spark: SparkSession,
    path_a: str,
    path_b: str,
    *,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
    trust_manifests: bool = True,
) -> DataFrame:
    """:func:`corpus_diff` between two on-disk snapshots written by
    :func:`write_corpus_snapshot`. When ``trust_manifests`` and both
    ``_snapshot.json`` manifests carry identical checksum, row count
    AND checksum-column list covering ``key_cols + compare_cols``, the
    diff is PROVABLY empty (order-independent multiset checksum over a
    superset of the compared content) and returns an empty frame
    without scanning either side — the cheap no-change fast path for
    release pipelines that re-publish unchanged corpora."""
    import json
    import os as _os

    a = spark.read.parquet(path_a)
    b = spark.read.parquet(path_b)
    if compare_cols is None:
        resolved = sorted((set(a.columns) & set(b.columns)) - set(key_cols))
    else:
        resolved = list(compare_cols)
    if trust_manifests:
        try:
            with open(_os.path.join(path_a, "_snapshot.json")) as f:
                ma = json.load(f)
            with open(_os.path.join(path_b, "_snapshot.json")) as f:
                mb = json.load(f)
        except FileNotFoundError:
            ma = mb = None
        if (
            ma is not None
            and ma["checksum"] == mb["checksum"]
            and ma["n_rows"] == mb["n_rows"]
            and ma["checksum_cols"] == mb["checksum_cols"]
            and set(key_cols) | set(resolved) <= set(ma["checksum_cols"])
        ):
            sel = [F.col(c) for c in key_cols] + [F.lit("").alias("status")]
            return a.select(*sel).limit(0)
    return corpus_diff(a, b, key_cols=key_cols, compare_cols=resolved)


def write_training_shards(
    df: DataFrame,
    path: str,
    *,
    rows_per_shard: int,
    key_col: str = "doc_id",
    salt: str = "shards",
    n_buckets: int | str = 256,
    rows_hint: int | None = None,
    snapshot: bool = True,
) -> dict:
    """The pipeline's LAST step: deterministically shuffle (salted-
    hash order — reproducible training order across runs, engines and
    cluster sizes) and write fixed-size shards: every shard holds
    exactly ``rows_per_shard`` rows except the final one, files land
    partitioned by ``shard_id``, and a verified ``_snapshot.json``
    manifest publishes after the data (:func:`write_corpus_snapshot`).

    Shard assignment is :func:`pipeline_ext.packing.pack_split` with a
    unit token column — the SAME oracle-pinned two-phase cumsum
    (bucket-major ≡ global hash order, driver prefix-sum of
    ≤ n_buckets totals), so there is never a single global window:
    ``shard_id = rank div rows_per_shard``, ``row_in_shard`` the
    position within it. Returns the manifest dict plus ``n_shards``.

    100 TB shape: one window Exchange for the rank, one write; the
    shard count (not the corpus) bounds the output file listing, and
    readers address work by shard_id partition directories."""
    from .pipeline_ext.packing import pack_split

    if rows_per_shard < 1:
        raise ValueError(f"rows_per_shard must be >= 1, got {rows_per_shard}")
    sharded = pack_split(
        df.withColumn("__one", F.lit(1)),
        budget=rows_per_shard,
        token_col="__one",
        key_col=key_col,
        salt=salt,
        n_buckets=n_buckets,
        rows_hint=rows_hint,
    )
    out = (
        sharded.withColumn("shard_id", F.col("start_seq"))
        .withColumn("row_in_shard", F.col("start_offset"))
        .drop("__one", "start_seq", "start_offset", "n_seqs")
    )
    if snapshot:
        manifest = write_corpus_snapshot(out, path, partition_by=["shard_id"])
        n_rows = manifest["n_rows"]
    else:
        out.write.mode("overwrite").partitionBy("shard_id").parquet(path)
        n_rows = df.sparkSession.read.parquet(path).count()
        manifest = {"n_rows": n_rows}
    # ranks are contiguous 0..n-1, so the shard count is arithmetic —
    # no extra countDistinct scan (the layout_corpus eager-count lesson)
    manifest["n_shards"] = -(-n_rows // rows_per_shard) if n_rows else 0
    manifest["rows_per_shard"] = rows_per_shard
    if snapshot:
        # re-publish so the ON-DISK manifest carries the shard plan —
        # a training reader opens _snapshot.json to size its workers
        # and must not have to re-list partition directories (review
        # catch); same atomic tmp+rename publish as the first write
        import json as _json
        import os as _os

        mpath = _os.path.join(path, "_snapshot.json")
        tmp = mpath + ".tmp"
        with open(tmp, "w") as f:
            _json.dump(manifest, f)
        _os.replace(tmp, mpath)
    return manifest
