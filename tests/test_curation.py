"""Curation operators: deterministic splits, quota sampling,
decontamination, PII scrub, repetition stats, keep-best dedup."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

from fuserank_spark.pipeline_ext.curation import (
    assign_split,
    contaminated_keys,
    curate_corpus,
    keep_best,
    pii_scrub,
    quota_sample,
    repetition_stats,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_split_deterministic_and_complete(spark):
    d = spark.range(1000).withColumnRenamed("id", "doc_id")
    a = assign_split(d).groupBy("split").count().collect()
    b = assign_split(d).groupBy("split").count().collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    counts = {r["split"]: r["count"] for r in a}
    assert set(counts) == {"train", "val", "test"}
    # 90/5/5 targets within generous tolerance at n=1000
    assert 850 <= counts["train"] <= 950
    assert counts["train"] + counts["val"] + counts["test"] == 1000


def test_split_stable_under_new_data(spark):
    """Adding rows never reassigns existing keys (hash, not rank)."""
    small = assign_split(spark.range(100).withColumnRenamed("id", "doc_id"))
    big = assign_split(spark.range(200).withColumnRenamed("id", "doc_id"))
    sm = {r["doc_id"]: r["split"] for r in small.collect()}
    bg = {r["doc_id"]: r["split"] for r in big.collect()}
    assert all(bg[k] == v for k, v in sm.items())


def test_quota_sample_bounds_and_prefilter_identity(spark):
    d = spark.range(500).select(
        F.col("id").alias("doc_id"), (F.col("id") % 5).cast("string").alias("source")
    )
    full = quota_sample(d, n_per_group=7)
    per = {r["source"]: r["count"] for r in full.groupBy("source").count().collect()}
    assert all(v == 7 for v in per.values())
    # range-gate prefilter keeps the result identical (100 rows/group,
    # frac 0.5 retains ~50 ≫ 7 per group)
    pre = quota_sample(d, n_per_group=7, prefilter_frac=0.5)
    assert sorted(r["doc_id"] for r in full.collect()) == sorted(
        r["doc_id"] for r in pre.collect()
    )


def test_contaminated_keys_finds_planted_overlap(spark):
    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    train = _docs(
        spark,
        [
            (1, base),  # full overlap with test doc 100
            (2, "one two three four five six seven eight nine ten"),
            (3, "k l m n o p q r s t"),  # no 8-gram overlap
        ],
    )
    test = _docs(spark, [(100, base), (101, "x y z w v u t s r q")])
    got = sorted(r["doc_id"] for r in contaminated_keys(train, test).collect())
    assert got == [1]


def test_contaminated_keys_short_docs_are_clean(spark):
    train = _docs(spark, [(1, "a b c"), (2, None)])
    test = _docs(spark, [(9, "a b c")])  # < 8 tokens: no grams either side
    assert contaminated_keys(train, test).count() == 0


def test_pii_scrub_counts_and_replacements(spark):
    d = spark.createDataFrame(
        [
            (1, "mail me at bob@example.com or alice@test.org thanks"),
            (2, "call 555-123-4567 from 10.0.0.1 ok"),
            (3, "nothing here"),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in pii_scrub(d).collect()}
    assert got[1]["n_email"] == 2 and "<EMAIL>" in got[1]["scrubbed"]
    assert "bob@example.com" not in got[1]["scrubbed"]
    assert got[2]["n_phone"] == 1 and got[2]["n_ip"] == 1
    assert "<PHONE>" in got[2]["scrubbed"] and "<IP>" in got[2]["scrubbed"]
    assert got[3]["scrubbed"] == "nothing here"


def test_repetition_stats_values(spark):
    d = _docs(spark, [(1, "a a a b"), (2, "x y z"), (3, "")])
    got = {r["doc_id"]: r for r in repetition_stats(d).collect()}
    assert got[1]["n_tokens"] == 4
    assert abs(got[1]["dup_token_frac"] - 0.5) < 1e-9  # 2 distinct / 4
    assert abs(got[1]["top_token_frac"] - 0.75) < 1e-9  # 'a' 3/4
    # 2-grams of doc1: "a a","a a","a b" -> 2 distinct / 3
    assert abs(got[1]["dup_2gram_frac"] - (1 - 2 / 3)) < 1e-6
    assert got[2]["dup_token_frac"] == 0.0 and got[2]["top_token_frac"] < 0.34
    assert got[3]["n_tokens"] == 0 and got[3]["top_token_frac"] == 0.0


def test_keep_best_picks_highest_score_min_id(spark):
    d = spark.createDataFrame(
        [
            (1, "b1", 0.5),
            (2, "b1", 0.9),
            (3, "b1", 0.9),  # tie with 2 -> keep 2
            (4, "b2", 0.1),
        ],
        "doc_id long, block string, score double",
    )
    got = {
        r["block"]: (r["keep_id"], r["n_members"])
        for r in keep_best(d, "block", "score").collect()
    }
    assert got == {"b1": (2, 3), "b2": (4, 1)}


def test_curate_corpus_dedups_and_splits(spark):
    good = "the quick brown fox jumps over the lazy dog again"
    d = _docs(
        spark,
        [(1, good), (2, good), (3, "x" * 400), (4, "one two three four five six")],
    )
    out = curate_corpus(d).collect()
    ids = sorted(r["doc_id"] for r in out)
    assert 2 not in ids  # dup of 1 removed
    assert 3 not in ids  # single 400-char token: avg_tok_len + n_tokens penalty
    assert set(r["split"] for r in out) <= {"train", "val", "test"}


def test_quota_sample_auto_prefilter_identity_and_verify(spark):
    """ADVICE r2: 'auto' derives the range-gate frac from real group
    sizes and must stay result-preserving; verify=True must raise
    when a manual frac starves a group."""
    d = spark.range(500).select(
        F.col("id").alias("doc_id"), (F.col("id") % 5).cast("string").alias("source")
    )
    full = quota_sample(d, n_per_group=7)
    auto = quota_sample(d, n_per_group=7, prefilter_frac="auto", verify=True)
    assert sorted(r["doc_id"] for r in full.collect()) == sorted(
        r["doc_id"] for r in auto.collect()
    )
    # a gate that keeps ~0.05% of rows cannot fill a 7-row quota from
    # 100-row groups — the silent under-selection must now raise
    with pytest.raises(ValueError, match="starved"):
        quota_sample(d, n_per_group=7, prefilter_frac=0.0005, verify=True)


def test_contaminated_keys_auto_broadcast_fallback(spark):
    """'auto' must keep the same answer when the gram count exceeds
    the broadcast limit and the join falls back to shuffle."""
    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    train = _docs(spark, [(1, base), (2, "one two three four five six seven eight nine ten")])
    test = _docs(spark, [(100, base)])
    bc = sorted(r["doc_id"] for r in contaminated_keys(train, test).collect())
    nobc = sorted(
        r["doc_id"]
        for r in contaminated_keys(train, test, broadcast_gram_limit=1).collect()
    )
    assert bc == nobc == [1]


def test_repetition_stats_single_scan_no_join(spark):
    """ADVICE r2: the base⟕top join re-evaluated the scan+tokenize
    lineage twice; the carried-column shape has no join at all."""
    import contextlib
    import io

    d = _docs(spark, [(1, "a a b"), (2, "x")])
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        repetition_stats(d).explain(mode="formatted")
    p = buf.getvalue()
    assert "Join" not in p


def test_ivf_knn_auto_chunks(spark):
    """ivf_knn compiles probes driver-side; an over-cap query batch
    auto-chunks (VERDICT r5 "what's wrong" #3) and the chunked union
    must equal the one-shot result exactly."""
    import numpy as np

    from fuserank_spark.pipeline_ext.simsearch import ivf_knn

    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    assigned = e.withColumn("centroid_id", (F.col("vec_id") % 4).cast("int"))
    rng = np.random.RandomState(3)
    cents = rng.normal(size=(4, 64))
    q = (
        e.filter(F.col("vec_id") < 10)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
    )
    one_shot = ivf_knn(assigned, cents, q, k=3, nprobe=2).collect()
    chunked = ivf_knn(assigned, cents, q, k=3, nprobe=2, max_query_batch=3).collect()
    assert sorted(map(tuple, chunked)) == sorted(map(tuple, one_shot))
    with pytest.raises(ValueError, match="max_query_batch"):
        ivf_knn(assigned, cents, q, max_query_batch=0)
    for kw in ({"k": 0}, {"nprobe": 0}):
        with pytest.raises(ValueError, match=f"{next(iter(kw))} must be >= 1, got 0"):
            ivf_knn(assigned, cents, q, **kw)


def test_curate_corpus_optional_semantic_stage(spark):
    """semantic_centroids inserts a SemDeDup pass between exact dedup
    and the split: paraphrase-level near-dups (distinct content hash,
    near-identical embedding) collapse to the lowest id; the default
    path (None) is untouched."""
    import numpy as np

    good_a = "the quick brown fox jumps over the lazy dog again"
    good_b = "a completely different sentence about spark and parquet files"
    para_a = "the quick brown fox jumps over the lazy dog once more"
    base_a = [1.0] + [0.0] * 7
    base_b = [0.0] * 7 + [1.0]
    rows = [
        (1, good_a, base_a),
        (2, para_a, [v + 1e-4 for v in base_a]),  # paraphrase of 1
        (3, good_b, base_b),
        (4, good_a, base_a),  # exact dup of 1 (hash stage removes it)
    ]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, embedding array<double>"
    )
    cents = np.array([base_a, base_b])

    plain = sorted(r["doc_id"] for r in curate_corpus(d).collect())
    assert plain == [1, 2, 3]  # exact dup gone, paraphrase kept

    sem = sorted(
        r["doc_id"]
        for r in curate_corpus(
            d, semantic_centroids=cents, semantic_threshold=0.9
        ).collect()
    )
    assert sem == [1, 3]  # paraphrase collapsed to the lowest id


def test_curate_corpus_optional_line_dedup_and_perplexity_stages(spark):
    """line_dedup=True strips cross-document boilerplate lines BEFORE
    scoring (the C4 ordering — here the repeated banner makes two docs
    exact dups once stripped), and perplexity_lm + max_perplexity
    drops the gibberish doc the heuristic quality score cannot
    separate; the individually-oracle-checked stages compose."""
    from fuserank_spark.pipeline_ext.lm import ngram_lm_train

    banner = "subscribe to our newsletter for daily updates and offers"
    fluent = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, banner + "\n" + fluent),
        (2, banner + "\n" + fluent),  # exact dup once the banner goes
        (3, banner + "\n" + "a completely different sentence about spark and parquet files"),
        (4, "zxq wvu tsr qpo nml kji hgf edc ba zz yy xx ww vv uu tt"),  # gibberish
    ]
    d = _docs(spark, rows)
    lm = ngram_lm_train(
        _docs(
            spark,
            [(i + 100, fluent) for i in range(5)]
            + [
                (200 + i, "a completely different sentence about spark and parquet files")
                for i in range(5)
            ],
        ),
        n=2,
    )

    # line dedup first: doc 2 is ALL boilerplate (both its lines first
    # occur in doc 1) so it collapses to empty text — and the quality
    # stage then drops it (empty docs score 0.5); docs 1/3 keep their
    # novel lines
    out = curate_corpus(d, min_quality=0.6, line_dedup=True)
    rows_out = out.collect()
    ids = sorted(r["doc_id"] for r in rows_out)
    assert 2 not in ids and 1 in ids and 3 in ids
    texts = {r["doc_id"]: r["text"] for r in rows_out}
    assert banner in texts[1] and banner not in texts[3]

    # perplexity stage: the gibberish doc is dropped, fluent docs stay
    out2 = curate_corpus(
        d, min_quality=0.6, line_dedup=True, perplexity_lm=lm, max_perplexity=10.0
    )
    ids2 = sorted(r["doc_id"] for r in out2.collect())
    assert 4 not in ids2 and 1 in ids2 and 3 in ids2

    with pytest.raises(ValueError, match="together"):
        curate_corpus(d, perplexity_lm=lm)
    with pytest.raises(ValueError, match="together"):
        curate_corpus(d, max_perplexity=10.0)


def test_boilerplate_fraction_matches_duckdb(spark, duck):
    """frequent_ngrams + boilerplate_fraction re-derived end-to-end in
    DuckDB (mining HAVING-filter included) — per-doc counts and the
    rounded fraction must match row-for-row. Both engines match on
    the SAME portable gram hash, so any hash collision is a defined,
    parity-preserving event (the decontam precedent). Registry is
    frozen, so the oracle lives here (the semantic_dedup precedent)."""
    from fuserank_spark.pipeline_ext.curation import (
        boilerplate_fraction,
        frequent_ngrams,
    )

    n, k = 3, 4
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select("doc_id", "text")
    freq = frequent_ngrams(docs, n=n, min_doc_count=k)
    out = boilerplate_fraction(docs, freq, n=n)
    got = {
        r["doc_id"]: (r["n_grams"], r["n_boiler"], r["boiler_frac"])
        for r in out.select("doc_id", "n_grams", "n_boiler", "boiler_frac").collect()
    }

    toks = (
        "CASE WHEN text IS NULL OR trim(text) = '' THEN CAST([] AS VARCHAR[]) "
        "ELSE regexp_split_to_array(trim(text), '\\s+') END"
    )
    gram = "concat_ws(' ', " + ", ".join(f"tk[i+{j}]" for j in range(n)) + ")"
    gh = f"CAST(concat('0x', substring(md5({gram}), 1, 8)) AS BIGINT)"
    hashes_list = (
        f"CASE WHEN len(tk) >= {n} THEN "
        f"list_transform(generate_series(1, len(tk)-{n - 1}), i -> {gh}) "
        "ELSE CAST([] AS BIGINT[]) END"
    )
    sql = f"""
    WITH t AS (SELECT doc_id, {toks} AS tk FROM documents),
    dg AS (SELECT doc_id, unnest(list_distinct({hashes_list})) AS gh FROM t),
    freq AS (SELECT gh FROM dg GROUP BY gh HAVING count(*) >= {k}),
    allg AS (SELECT doc_id, unnest({hashes_list}) AS gh FROM t),
    tot AS (SELECT doc_id,
                   CASE WHEN len(tk) >= {n} THEN len(tk)-{n - 1} ELSE 0 END AS n_grams
            FROM t),
    m AS (SELECT doc_id, count(*) AS n_boiler
          FROM allg WHERE gh IN (SELECT gh FROM freq) GROUP BY doc_id)
    SELECT tot.doc_id, tot.n_grams, coalesce(m.n_boiler, 0) AS n_boiler,
           CASE WHEN tot.n_grams > 0
                THEN round(coalesce(m.n_boiler, 0) * 1.0 / tot.n_grams, 6)
                ELSE 0.0 END AS boiler_frac
    FROM tot LEFT JOIN m ON tot.doc_id = m.doc_id
    """
    want = {r[0]: (r[1], r[2], r[3]) for r in duck.execute(sql).fetchall()}
    assert set(got) == set(want)
    for d in got:
        assert got[d][0] == want[d][0], d
        assert got[d][1] == want[d][1], d
        assert abs(got[d][2] - want[d][2]) < 1e-9, d
    # the mined set is non-trivial and some docs actually score
    assert freq.count() > 0
    assert any(v[1] > 0 for v in got.values())


def test_boilerplate_fraction_rejects_mismatched_n(spark):
    from fuserank_spark.pipeline_ext.curation import (
        boilerplate_fraction,
        frequent_ngrams,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j")], "doc_id long, text string"
    )
    freq = frequent_ngrams(docs, n=8, min_doc_count=1)
    with pytest.raises(ValueError, match="mined with n=8.*n=5"):
        boilerplate_fraction(docs, freq, n=5)


def test_temperature_rates_properties(spark):
    """Conneau & Lample α-sampling as mixture_sample rates: expected
    totals hit target exactly, alpha=1 preserves natural proportions,
    alpha<1 boosts small sources; the composition's realized counts
    land near the expectation (hash-gate sampling, 2k keys/source)."""
    from fuserank_spark.pipeline_ext.curation import mixture_sample, temperature_rates

    sizes = {"big": 8000, "mid": 900, "small": 100}
    r = temperature_rates(sizes, alpha=0.5)
    # expected output total == input total (default target)
    assert sum(r[s] * n for s, n in sizes.items()) == pytest.approx(sum(sizes.values()))
    assert r["small"] > r["mid"] > r["big"]  # flattening boosts the tail
    r1 = temperature_rates(sizes, alpha=1.0, target_total=4500.0)
    assert r1["big"] == pytest.approx(0.5) and r1["small"] == pytest.approx(0.5)

    d = spark.range(9000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") < 8000, "big")
        .when(F.col("id") < 8900, "mid")
        .otherwise("small")
        .alias("source"),
    )
    out = mixture_sample(d, temperature_rates(sizes, alpha=0.5))
    got = {r["source"]: r["count"] for r in out.groupBy("source").count().collect()}
    for s, n in sizes.items():
        expect = temperature_rates(sizes, alpha=0.5)[s] * n
        assert abs(got[s] - expect) / expect < 0.15, (s, got[s], expect)

    with pytest.raises(ValueError, match="alpha"):
        temperature_rates(sizes, alpha=0.0)
    with pytest.raises(ValueError, match="sizes"):
        temperature_rates({})
    with pytest.raises(ValueError, match="> 0"):
        temperature_rates({"a": 0})


def test_contamination_fraction_matches_duckdb(spark, duck):
    """Overlap-fraction decontamination re-derived end-to-end in
    DuckDB on the same portable gram hash: per-doc distinct-gram
    count, shared count, and the IEEE int/int-division fraction must
    match row-for-row, including partially-contaminated docs (a test
    prefix spliced onto unique tails) and sub-n docs. Registry is
    frozen, so the oracle lives here."""
    from fuserank_spark.pipeline_ext.curation import contamination_fraction

    n = 5
    rows = (
        duck.execute("SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 80")
        .fetchall()
    )
    test_rows = [(d, t) for d, t in rows if d % 7 == 0]
    train_rows = [(d, t) for d, t in rows if d % 7 != 0]
    # partial contamination: test prefix + unique tail (0 < frac < 1)
    for i, (d, t) in enumerate(test_rows[:5]):
        tail = " ".join(f"uniq{i}tok{j}" for j in range(15))
        train_rows.append((900000 + d, " ".join(t.split()[:20]) + " " + tail))
    train_rows.append((999001, "sub n gram doc"))  # < n tokens
    train_rows.append((999002, None))

    import pandas as pd

    tr_pdf = pd.DataFrame(train_rows, columns=["doc_id", "text"])
    te_pdf = pd.DataFrame(test_rows, columns=["doc_id", "text"])
    duck.register("ctrain", tr_pdf)
    duck.register("ctest", te_pdf)
    try:
        tr = spark.createDataFrame(tr_pdf).select(
            "doc_id", F.col("text").cast("string").alias("text")
        )
        te = spark.createDataFrame(te_pdf).select(
            "doc_id", F.col("text").cast("string").alias("text")
        )
        out = contamination_fraction(tr, te, n=n)
        got = {
            r["doc_id"]: (r["n_grams"], r["n_shared"], r["overlap_frac"])
            for r in out.collect()
        }

        toks = (
            "CASE WHEN text IS NULL OR trim(text) = '' THEN CAST([] AS VARCHAR[]) "
            "ELSE regexp_split_to_array(trim(text), '\\s+') END"
        )
        gram = "concat_ws(' ', " + ", ".join(f"tk[i+{j}]" for j in range(n)) + ")"
        gh = f"CAST(concat('0x', substring(md5({gram}), 1, 8)) AS BIGINT)"
        hashes = (
            f"CASE WHEN len(tk) >= {n} THEN "
            f"list_transform(generate_series(1, len(tk)-{n - 1}), i -> {gh}) "
            "ELSE CAST([] AS BIGINT[]) END"
        )
        want = {
            r[0]: (r[1], r[2], r[3])
            for r in duck.execute(
                f"""
                WITH trh AS (
                  SELECT doc_id, list_distinct({hashes}) AS ghs
                  FROM (SELECT doc_id, {toks} AS tk FROM ctrain)
                ), teg AS (
                  SELECT DISTINCT unnest({hashes}) AS g
                  FROM (SELECT {toks} AS tk FROM ctest)
                ), hit AS (
                  SELECT doc_id, count(*) AS n_shared
                  FROM (SELECT doc_id, unnest(ghs) AS g FROM trh)
                  WHERE g IN (SELECT g FROM teg) GROUP BY doc_id
                )
                SELECT t.doc_id, len(t.ghs) AS n_grams,
                       coalesce(h.n_shared, 0) AS n_shared,
                       CASE WHEN len(t.ghs) > 0
                            THEN coalesce(h.n_shared, 0) / len(t.ghs)
                            ELSE 0.0 END AS overlap_frac
                FROM trh t LEFT JOIN hit h USING (doc_id)
                """
            ).fetchall()
        }
        assert got == want
        # partial contamination really is partial
        partial = [v[2] for k, v in got.items() if 900000 < k < 999000]
        assert partial and all(0.0 < f < 1.0 for f in partial)
        # exact test copies are fully contaminated via their train twins?
        # (test docs are not in train; check the special-case equivalence
        # instead: frac > 0 keys == contaminated_keys output)
        any_keys = {
            r["doc_id"]
            for r in contaminated_keys(tr, te, n=n).collect()
        }
        assert {k for k, v in got.items() if v[2] > 0} == any_keys
        # sub-n / NULL docs are clean zeros
        assert got[999001] == (0, 0, 0.0)
        assert got[999002] == (0, 0, 0.0)
    finally:
        duck.unregister("ctrain")
        duck.unregister("ctest")


def test_remove_boilerplate_spans_matches_duckdb(spark, duck):
    """frequent_ngrams mining + span EXCISION re-derived end-to-end in
    DuckDB (same portable gram hash, same running-max coverage, same
    rebuild) — text and both counters match row-for-row, and the
    planted chrome phrase is gone from every document (remove-ALL-
    copies, unlike dedup_spans' keep-first). Frozen registry — the
    oracle lives here."""
    import pandas as pd

    from fuserank_spark.pipeline_ext.curation import (
        frequent_ngrams,
        remove_boilerplate_spans,
    )

    N, K = 4, 10
    CHROME = "accept all cookies to continue reading now"  # 7 tokens
    rows = (
        duck.execute("SELECT doc_id, text FROM documents ORDER BY doc_id LIMIT 80")
        .fetchall()
    )
    out = []
    for doc_id, text in rows:
        toks = text.split()[:40]
        if doc_id % 2 == 0:
            toks = CHROME.split() + toks
        if doc_id % 5 == 0:
            toks = toks + CHROME.split()
        out.append((doc_id, " ".join(toks)))
    out.append((90001, "tiny doc"))
    out.append((90002, None))
    pdf = pd.DataFrame(out, columns=["doc_id", "text"])
    duck.register("bdocs", pdf)
    try:
        sdf = spark.createDataFrame(pdf).select(
            "doc_id", F.col("text").cast("string").alias("text")
        )
        freq = frequent_ngrams(sdf, n=N, min_doc_count=K)
        got = {
            r["doc_id"]: (r["text"], r["n_tokens"], r["n_kept"])
            for r in remove_boilerplate_spans(sdf, freq, n=N)
            .select("doc_id", "text", "n_tokens", "n_kept")
            .collect()
        }
        gh = (
            "CAST(concat('0x', substring(md5("
            f"array_to_string(ts[pos + 1 : pos + {N}], ' ')), 1, 8)) AS BIGINT)"
        )
        want = {
            r[0]: (r[1], r[2], r[3])
            for r in duck.execute(
                rf"""
                WITH b AS (
                  SELECT doc_id,
                         CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                              ELSE regexp_split_to_array(trim(text), '\s+') END AS ts
                  FROM bdocs WHERE text IS NOT NULL
                ), ex AS (
                  SELECT doc_id, u.pos - 1 AS pos, ts[u.pos] AS tok, len(ts) AS n, ts
                  FROM b, unnest(generate_series(1, len(ts))) AS u(pos)
                ), g AS (
                  SELECT doc_id, pos, tok,
                         CASE WHEN pos <= n - {N} THEN {gh} END AS gh
                  FROM ex
                ), mined AS (
                  SELECT gh FROM (SELECT DISTINCT doc_id, gh FROM g WHERE gh IS NOT NULL)
                  GROUP BY gh HAVING count(*) >= {K}
                ), m AS (
                  SELECT doc_id, pos, tok,
                         max(CASE WHEN gh IN (SELECT gh FROM mined) THEN pos END)
                           OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS UNBOUNDED PRECEDING) AS lastl
                  FROM g
                ), reb AS (
                  SELECT doc_id,
                         string_agg(tok, ' ' ORDER BY pos)
                           FILTER (lastl IS NULL OR lastl <= pos - {N}) AS text_kept,
                         count(*) FILTER (lastl IS NULL OR lastl <= pos - {N}) AS n_kept
                  FROM m GROUP BY doc_id
                )
                SELECT d.doc_id,
                       CASE WHEN d.text IS NULL THEN NULL
                            ELSE coalesce(r.text_kept, '') END AS text,
                       CASE WHEN d.text IS NULL OR trim(d.text) = '' THEN 0
                            ELSE len(regexp_split_to_array(trim(d.text), '\s+')) END AS n_tokens,
                       coalesce(r.n_kept, 0) AS n_kept
                FROM bdocs d LEFT JOIN reb r USING (doc_id)
                """
            ).fetchall()
        }
        assert got == want
        # remove-ALL-copies: the chrome phrase survives nowhere
        assert not any(t and CHROME in t for t, _, _ in got.values())
        assert got[90001] == ("tiny doc", 2, 2)  # sub-n passthrough
        assert got[90002] == (None, 0, 0)
        # mined-n metadata guard
        with pytest.raises(ValueError):
            remove_boilerplate_spans(sdf, freq, n=N + 1)
    finally:
        duck.unregister("bdocs")


def test_curate_corpus_optional_span_dedup_stage(spark):
    """span_dedup_tokens=L cuts duplicated passages before scoring
    (Lee et al. ordering); composes with line_dedup, and the stage
    counters never leak into the curated frame."""
    passage = "p1 p2 p3 p4 p5 p6 p7 p8 p9 p10"
    banner = "subscribe to our newsletter for daily updates"
    rows = [
        (1, banner + "\n" + f"intro words here {passage} closing unique thoughts expressed"),
        (2, banner + "\n" + f"other doc begins {passage} and then different tail content"),
    ]
    d = _docs(spark, rows)
    out = curate_corpus(d, min_quality=0.0, line_dedup=True, span_dedup_tokens=5)
    texts = {r["doc_id"]: r["text"] for r in out.collect()}
    assert passage in texts[1]          # first occurrence survives
    assert passage not in texts[2]      # later copy excised
    assert banner in texts[1] and banner not in texts[2]  # line stage ran too
    # the dedup stages' counters don't leak (n_tokens IS present, but
    # it's quality_features' own fresh value, not a stage diagnostic)
    for c in ("n_lines", "n_kept"):
        assert c not in out.columns


def test_resolve_span_strategy_regimes(spark):
    """VERDICT r9 ask #4 — the "profile first, strategy second" rule
    as one call: a corpus whose duplicate mass sits at the minimal
    span length (the 5M trend regime) resolves to the exact join
    (anchor cannot cut bytes there without eating the miss), a
    long-span corpus resolves to anchor at the profile-recommended
    w."""
    from fuserank_spark.pipeline_ext.curation import resolve_span_strategy

    # all dup mass at exactly L=8 tokens → w=1 → exact
    p_min = " ".join(f"m{i}" for i in range(8))
    minimal = _docs(
        spark,
        [(1, f"aa bb {p_min} cc"), (2, f"dd {p_min} ee ff")],
    )
    got = resolve_span_strategy(
        minimal, min_span_tokens=8, max_miss_frac=0.05, sample_fraction=None
    )
    assert got["strategy"] == "join"
    assert got["anchor_window"] == 1

    # all dup mass in 20-token spans → guarantee holds up to w=8 → anchor
    p_long = " ".join(f"l{i}" for i in range(20))
    longspan = _docs(
        spark,
        [(1, f"aa bb {p_long} cc"), (2, f"dd {p_long} ee ff")],
    )
    got = resolve_span_strategy(
        longspan, min_span_tokens=8, max_miss_frac=0.05, sample_fraction=None
    )
    assert got["strategy"] == "anchor"
    assert got["anchor_window"] == 8
    assert got["gap_mass_frac"] == 0.0

    # dup-free corpus: nothing to miss, exact is the cheap answer
    clean = _docs(spark, [(1, "totally unique words"), (2, "other text")])
    got = resolve_span_strategy(
        clean, min_span_tokens=8, sample_fraction=None
    )
    assert got == {
        "strategy": "join", "anchor_window": 1,
        "gap_mass_frac": 0.0, "bytes_cut_estimate": 1.0,
    }


def test_resolve_span_strategy_floor_caps_w(spark):
    """r10 crawl-fixture finding: the miss budget bounds missed dup
    MASS, but a gutted duplicate retains ≤ 2(w−1) boundary tokens —
    on short docs a large w keeps whole-doc-duplicate shells above
    the kept floor. With kept_floor given, w is capped so a
    bottom-decile doc's pure-residue shell dies: 2(w−1) < floor·p10 —
    STRICT (ADVICE r10 #1): curate's drop filter keeps docs AT the
    floor, so this very fixture (floor·p10 = 6, exactly 2(w−1) at
    w=4) used to let the shell land on the boundary and survive."""
    from fuserank_spark.pipeline_ext.curation import resolve_span_strategy

    # every doc 24 tokens, duplicated 20-token passage → without a
    # floor the budget allows w=8 (gap 0 up to guarantee 15 ≤ 20)
    p20 = " ".join(f"l{i}" for i in range(20))
    docs = _docs(
        spark,
        [
            (1, f"aa bb cc {p20} d1"),
            (2, f"ee ff gg {p20} d2"),
        ],
    )
    free = resolve_span_strategy(
        docs, min_span_tokens=8, max_miss_frac=0.05, sample_fraction=None
    )
    assert free["anchor_window"] == 8

    capped = resolve_span_strategy(
        docs, min_span_tokens=8, max_miss_frac=0.05, sample_fraction=None,
        kept_floor=0.25,
    )
    # p10 of token counts = 24, floor·p10/2 = 3.0 exactly → the ≤ cap
    # would say w=4 (residue 6 == the floor boundary → kept); strict
    # gives w=3 (residue 4 < 6 → the shell dies)
    assert capped["protect_doc_tokens"] == 24
    assert capped["floor_cap_w"] == 3
    assert capped["anchor_window"] == 3
    assert capped["strategy"] == "anchor"

    # a high floor leaves the budget's w untouched (cap ≥ L)
    loose = resolve_span_strategy(
        docs, min_span_tokens=8, max_miss_frac=0.05, sample_fraction=None,
        kept_floor=0.8,
    )
    assert loose["floor_cap_w"] >= 8
    assert loose["anchor_window"] == 8

    # a floor so tight no residue is tolerable → exact
    tight = resolve_span_strategy(
        docs, min_span_tokens=8, max_miss_frac=0.05, sample_fraction=None,
        kept_floor=0.05,
    )
    assert tight["floor_cap_w"] == 1
    assert tight["strategy"] == "join"

    with pytest.raises(ValueError, match="kept_floor"):
        resolve_span_strategy(docs, kept_floor=1.5, sample_fraction=None)
    with pytest.raises(ValueError, match="floor_protect_quantile"):
        resolve_span_strategy(
            docs, kept_floor=0.3, floor_protect_quantile=0.0,
            sample_fraction=None,
        )


def test_curate_corpus_span_strategy_auto(spark):
    """span_dedup_strategy="auto" wires the pre-flight into the
    composition: the minimal-span fixture auto-selects exact (output
    identical to strategy="join"), the long-span fixture auto-selects
    anchor (output identical to the explicit anchor run at the
    recommended w)."""
    p_min = " ".join(f"m{i}" for i in range(8))
    minimal = _docs(
        spark,
        [
            (1, f"intro words here {p_min} closing unique thoughts expressed"),
            (2, f"other doc begins {p_min} and then different tail content"),
        ],
    )
    auto = curate_corpus(
        minimal, min_quality=0.0, span_dedup_tokens=8,
        span_dedup_strategy="auto", span_auto_sample_fraction=None,
    )
    exact = curate_corpus(
        minimal, min_quality=0.0, span_dedup_tokens=8,
        span_dedup_strategy="join",
    )
    assert sorted(map(tuple, auto.collect())) == sorted(map(tuple, exact.collect()))

    p_long = " ".join(f"l{i}" for i in range(20))
    longspan = _docs(
        spark,
        [
            (1, f"intro words here {p_long} closing unique thoughts expressed"),
            (2, f"other doc begins {p_long} and then different tail content"),
        ],
    )
    auto = curate_corpus(
        longspan, min_quality=0.0, span_dedup_tokens=8,
        span_dedup_strategy="auto", span_auto_sample_fraction=None,
    )
    anchored = curate_corpus(
        longspan, min_quality=0.0, span_dedup_tokens=8,
        span_dedup_strategy="anchor", span_dedup_anchor_window=8,
    )
    assert sorted(map(tuple, auto.collect())) == sorted(map(tuple, anchored.collect()))
    # and auto actually excised the duplicated passage from the loser
    texts = {r["doc_id"]: r["text"] for r in auto.collect()}
    assert p_long in texts[1] and p_long not in texts[2]


def test_leakage_safe_split_clusters_never_straddle(spark):
    """Every pair edge lands both endpoints in the SAME split;
    singletons get exactly their assign_split value (coalesce
    identity); the three splits all materialize at corpus size."""
    from fuserank_spark.pipeline_ext.curation import (
        assign_split,
        leakage_safe_split,
    )

    docs = spark.range(0, 2000).select(
        F.col("id").alias("doc_id"), F.concat(F.lit("t"), F.col("id")).alias("text")
    )
    # chains of 3 over one third of the corpus: (3k, 3k+1), (3k+1, 3k+2)
    pairs = (
        spark.range(0, 200)
        .select((F.col("id") * 3).alias("a"))
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("id_a"), (F.col("a") + 1).alias("id_b")),
                    F.struct((F.col("a") + 1).alias("id_a"), (F.col("a") + 2).alias("id_b")),
                )
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
    )
    out = leakage_safe_split(docs, pairs).cache()
    split_of = {r["doc_id"]: r["split"] for r in out.collect()}
    assert len(split_of) == 2000
    for r in pairs.collect():
        assert split_of[r["id_a"]] == split_of[r["id_b"]]
    # singleton keys (not in any pair) match plain assign_split
    plain = {r["doc_id"]: r["split"] for r in assign_split(docs).collect()}
    paired_ids = {i for r in pairs.collect() for i in (r["id_a"], r["id_b"])}
    for k, v in split_of.items():
        if k not in paired_ids:
            assert v == plain[k]
    assert {v for v in split_of.values()} == {"train", "val", "test"}


# ---------------------------------------------------------------------------
# cluster_balanced_sample: registry-external, so the oracle lives here —
# a full DuckDB re-derivation of frozen-Forgy assignment (the q_ivf_knn
# formula: round(csq - 2<x,c>, 6) argmin, ties to lowest cell) plus the
# quota_sample hash-rank window, compared row-for-row.

_CB_N_CENT = 4
_CB_N_PER = 5
_CB_DIM = 64


def _cb_oracle(duck):
    dot = (
        f"list_sum(list_transform(range(1,{_CB_DIM + 1}),"
        " i -> CAST(e.embedding[i] AS DOUBLE) * c.cvec[i]))"
    )
    h = (
        "CAST(concat('0x', substring(md5(concat('cluster-balance:',"
        " CAST(vec_id AS VARCHAR))), 1, 8)) AS BIGINT)"
    )
    return duck.execute(
        f"""
        WITH e AS (SELECT vec_id, embedding FROM embeddings),
        cent AS (
          SELECT CAST(vec_id AS INT) AS cid,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec,
                 list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)) AS csq
          FROM embeddings WHERE vec_id < {_CB_N_CENT}
        ), assigned AS (
          SELECT e.vec_id, c.cid,
                 row_number() OVER (PARTITION BY e.vec_id
                                    ORDER BY round(c.csq - 2 * {dot}, 6) ASC,
                                             c.cid ASC) AS arn
          FROM e CROSS JOIN cent c
        ), cells AS (
          SELECT vec_id, cid FROM assigned WHERE arn = 1
        ), r AS (
          SELECT vec_id, cid,
                 row_number() OVER (PARTITION BY cid
                                    ORDER BY {h} ASC, vec_id ASC) AS rn
          FROM cells
        )
        SELECT vec_id, cid FROM r WHERE rn <= {_CB_N_PER} ORDER BY vec_id
        """
    ).fetchall()


def test_cluster_balanced_sample_matches_duckdb_twin(spark, duck):
    import numpy as np

    from fuserank_spark.pipeline_ext.curation import cluster_balanced_sample

    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select("vec_id", "embedding")
    cents = np.array(
        [
            r["embedding"]
            for r in e.filter(F.col("vec_id") < _CB_N_CENT).orderBy("vec_id").collect()
        ],
        dtype="float64",
    )
    out = cluster_balanced_sample(
        e, cents, key_col="vec_id", n_per_cluster=_CB_N_PER
    )
    got = {(r["vec_id"], r["cluster_id"]) for r in out.select("vec_id", "cluster_id").collect()}
    exp = {(v, c) for v, c in _cb_oracle(duck)}
    assert got == exp
    assert 0 < len(got) <= _CB_N_CENT * _CB_N_PER
    # the cap binds per cluster
    from collections import Counter

    per = Counter(c for _, c in got)
    assert all(n <= _CB_N_PER for n in per.values())


def test_cluster_balanced_sample_prefilter_preserving(spark):
    import numpy as np

    from fuserank_spark.pipeline_ext.curation import cluster_balanced_sample

    e = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").select("vec_id", "embedding")
    cents = np.array(
        [r["embedding"] for r in e.filter(F.col("vec_id") < 2).orderBy("vec_id").collect()],
        dtype="float64",
    )
    full = cluster_balanced_sample(e, cents, key_col="vec_id", n_per_cluster=3)
    gated = cluster_balanced_sample(
        e, cents, key_col="vec_id", n_per_cluster=3, prefilter_frac=0.5
    )
    as_set = lambda d: {(r["vec_id"], r["cluster_id"]) for r in d.collect()}  # noqa: E731
    assert as_set(full) == as_set(gated)


def test_curate_corpus_domain_rank_stage(spark):
    """The provenance gate runs first: low-rank domains die before any
    content pass; unranked domains obey keep_unranked; defaults-off
    stays byte-identical to plain curate_corpus."""
    import pandas as pd

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    ).limit(60)
    dom = F.when(F.col("doc_id") % 3 == 0, "good.com").when(
        F.col("doc_id") % 3 == 1, "spam.biz"
    ).otherwise("unranked.org")
    d = docs.withColumn("domain", dom)
    ranks = spark.createDataFrame(
        pd.DataFrame({"node": ["good.com", "spam.biz"], "rank": [0.9, 0.01]})
    )
    kept = curate_corpus(
        d, min_quality=0.0, domain_ranks=ranks, min_domain_rank=0.5
    )
    doms = {r["domain"] for r in kept.select("domain").distinct().collect()}
    assert doms == {"good.com"}
    kept_u = curate_corpus(
        d, min_quality=0.0, domain_ranks=ranks, min_domain_rank=0.5,
        keep_unranked=True,
    )
    doms_u = {r["domain"] for r in kept_u.select("domain").distinct().collect()}
    assert doms_u == {"good.com", "unranked.org"}
    # defaults-off identity (the oracle-safety property)
    plain = curate_corpus(d, min_quality=0.0)
    assert sorted(r["doc_id"] for r in plain.collect()) == sorted(
        r["doc_id"] for r in curate_corpus(d.drop("domain").withColumn("domain", dom), min_quality=0.0).collect()
    )
    with pytest.raises(ValueError, match="domain_ranks"):
        curate_corpus(d, domain_ranks=ranks)


def test_curate_corpus_compression_gate(spark):
    import pandas as pd

    rows = [
        (0, "spam spam spam buy now " * 100),  # hyper-compressible farm
        (1, "Genuinely varied prose discussing seventeen distinct topics with "
            "numbers 3 14 159 and ample lexical diversity across sentences that "
            "do not repeat themselves at all, ever, in any block."),
    ]
    d = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    kept = curate_corpus(d, min_quality=0.0, min_compression_ratio=0.3)
    assert [r["doc_id"] for r in kept.collect()] == [1]
    # defaults-off identity: both docs survive without the gate
    assert curate_corpus(d, min_quality=0.0).count() == 2


def test_curate_corpus_anchor_span_strategy(spark):
    """r8: span_dedup_strategy='anchor' routes the span stage through
    the anchored scale path. A long planted passage (>= L + w - 1)
    still loses its interior in the later copy (the winnowing
    guarantee end-to-end through the composition), and the default
    strategy is byte-identical to an explicit 'join'."""
    passage = " ".join(f"p{i}" for i in range(20))
    rows = [
        (1, f"intro words here {passage} closing unique thoughts expressed"),
        (2, f"other doc begins {passage} and then different tail content"),
    ]
    d = _docs(spark, rows)
    out = curate_corpus(
        d, min_quality=0.0, span_dedup_tokens=8,
        span_dedup_strategy="anchor", span_dedup_anchor_window=4,
    )
    texts = {r["doc_id"]: r["text"] for r in out.collect()}
    assert passage in texts[1]
    # interior gone in the later copy: at most w-1 = 3 boundary tokens
    # per side survive
    surviving = [t for t in texts[2].split() if t.startswith("p") and t[1:].isdigit()]
    assert set(surviving) <= {f"p{i}" for i in (0, 1, 2, 17, 18, 19)}, texts[2]
    # explicit default == implicit default (oracle-path identity)
    a = curate_corpus(d, min_quality=0.0, span_dedup_tokens=8).collect()
    b = curate_corpus(
        d, min_quality=0.0, span_dedup_tokens=8, span_dedup_strategy="join"
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_curate_corpus_span_kept_floor(spark):
    """span_drop_if_kept_below: a doc gutted by span dedup (whole-doc
    duplicate) is dropped outright instead of drifting through later
    gates on its residue — with anchor mode, where up to w-1 boundary
    tokens per side survive, the floor is what makes gutted replicas
    die the way exact mode's near-total deletion does."""
    base = " ".join(f"w{i}" for i in range(30))
    rows = [
        (1, base + " unique closing alpha"),
        (2, base + " unique closing beta"),   # loses all 30 base tokens
        (3, "a completely different document about other topics entirely here"),
    ]
    d = _docs(spark, rows)
    for strat in ("join", "anchor"):
        out = curate_corpus(
            d, min_quality=0.0, span_dedup_tokens=8,
            span_dedup_strategy=strat, span_drop_if_kept_below=0.5,
        )
        ids = {r["doc_id"] for r in out.collect()}
        assert 1 in ids and 3 in ids and 2 not in ids, (strat, ids)
    # without the floor the residue survives (both strategies)
    out = curate_corpus(d, min_quality=0.0, span_dedup_tokens=8)
    assert {r["doc_id"] for r in out.collect()} == {1, 2, 3}


def test_curate_auto_resolves_on_post_line_dedup_frame(spark, monkeypatch):
    """r11 (SCALING.md r11 adjudication): curate's auto pre-flight must
    profile the SPAN STAGE'S TRUE INPUT — the post-line-dedup frame —
    not the raw corpus. Line dedup removes shared lines, shrinking doc
    token counts, so the kept-floor cap (strict: 2(w−1) < floor·p10)
    can resolve a smaller w than the raw frame would: on the 5M crawl
    composition this exact subtlety was a 6.4× survivor shift (anchor
    w=3 vs w=4). Fixture: every doc carries an identical 8-token line
    (dies to line dedup everywhere but the winner) plus a 16-token
    duplicated passage; post-dedup docs are 20 tokens (floor 0.5 →
    half = 5.0 → strict cap w=5) while the raw frame's 36 tokens cap
    at 9 (→ w = L = 8; the 16-token line stays ABOVE every guarantee
    threshold so it adds no sub-budget mass on the raw frame). The
    test captures the w curate actually passes to dedup_spans."""
    from fuserank_spark.pipeline_ext import dedup as D
    from fuserank_spark.pipeline_ext.curation import resolve_span_strategy

    shared_line = " ".join(f"c{i}" for i in range(16))
    passage = " ".join(f"p{i}" for i in range(16))
    rows = [
        (i, f"u{i}a u{i}b {passage} v{i}a v{i}b\n{shared_line}")
        for i in range(1, 7)
    ]
    docs = _docs(spark, rows)

    # the two frames resolve DIFFERENT caps (the premise of the test)
    raw = resolve_span_strategy(
        docs, min_span_tokens=8, sample_fraction=None, kept_floor=0.5
    )
    post = resolve_span_strategy(
        D.dedup_lines(docs).drop("n_lines", "n_kept"),
        min_span_tokens=8, sample_fraction=None, kept_floor=0.5,
    )
    assert raw["floor_cap_w"] == 9 and raw["anchor_window"] == 8
    assert post["floor_cap_w"] == 5 and post["anchor_window"] == 5

    captured = {}
    orig = D.dedup_spans

    def _spy(df, **kw):
        captured["strategy"] = kw.get("strategy")
        captured["anchor_window"] = kw.get("anchor_window")
        return orig(df, **kw)

    monkeypatch.setattr(D, "dedup_spans", _spy)
    curate_corpus(
        docs, min_quality=0.0, line_dedup=True, span_dedup_tokens=8,
        span_dedup_strategy="auto", span_auto_sample_fraction=None,
        span_drop_if_kept_below=0.5,
    ).collect()
    assert captured["strategy"] == "anchor"
    assert captured["anchor_window"] == post["anchor_window"] == 5


# ---------------------------------------------------------- shell sweep (r12)


def _shell_fixture(spark):
    """The sub-p10 blind spot in miniature: a 12-token passage B
    duplicated across 21 short docs (keeper + 20 unique-tail shells —
    anchor residue sits ABOVE a 0.1 floor), a second passage E whose
    loser doc keeps a genuinely unique tail (low-kept but NOT a
    shell), and the two span keepers."""
    B = " ".join(f"b{i}" for i in range(12))
    E = " ".join(f"e{i}" for i in range(7))
    rows = [(1, B + " tailone")]
    rows += [(i, B + f" tail{i}") for i in range(2, 22)]
    rows += [(30, E + " unique words that make this real content")]
    rows += [(31, E + " alpha beta gamma delta")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_sweep_residue_shells_composition(spark):
    """VERDICT r11 missing #2, the mechanism pin: anchor span dedup
    plus the kept floor alone shelters every boundary-residue shell
    (the 5M blind spot); with the sweep curate_corpus runs after them,
    the anchor arm's survivor SET equals the exact arm's — span
    keepers and the genuinely-unique low-kept doc survive, all 20
    shells die."""
    from fuserank_spark.pipeline_ext.dedup import dedup_spans

    d = _shell_fixture(spark)
    common = dict(
        min_quality=0.0, span_dedup_tokens=5,
        span_drop_if_kept_below=0.1,
    )
    blind = dedup_spans(d, min_span_tokens=5, strategy="anchor", anchor_window=3).filter(
        F.col("n_kept") >= F.col("n_tokens") * 0.1
    )
    blind_ids = sorted(r["doc_id"] for r in blind.collect())
    assert set(range(2, 22)) <= set(blind_ids)  # the blind spot, pinned

    swept = curate_corpus(
        d, span_dedup_strategy="anchor", span_dedup_anchor_window=3,
        span_shell_kept_ceiling=4.0, **common,
    )
    swept_ids = sorted(r["doc_id"] for r in swept.collect())
    exact = curate_corpus(d, span_dedup_strategy="join", **common)
    exact_ids = sorted(r["doc_id"] for r in exact.collect())
    assert swept_ids == exact_ids == [1, 30, 31]


def test_sweep_residue_shells_requires_span_counters(spark):
    d = _shell_fixture(spark)
    from fuserank_spark.pipeline_ext.curation import sweep_residue_shells

    with pytest.raises(ValueError, match="n_tokens"):
        sweep_residue_shells(d, kept_floor=0.1)
    with pytest.raises(ValueError, match="kept_ceiling"):
        sweep_residue_shells(d, kept_floor=0.1, kept_ceiling=1.0)


def test_sweep_residue_shells_matches_duckdb(spark, duck):
    """The sweep DECISION re-derived independently in DuckDB over the
    same post-span frame (registry frozen → test-resident oracle, the
    semantic_dedup precedent): slice filter → 8-perm portable MinHash
    → 4×2 banding → bucket pairs → est_jaccard gate → drop-all.
    Survivor doc_id sets must match exactly."""
    from fuserank_spark.pipeline_ext.dedup import dedup_spans
    from fuserank_spark.pipeline_ext.curation import sweep_residue_shells
    from fuserank_spark.pipeline_ext.hashing import HASH_PRIME, MINHASH_PERMS

    floor, ceiling, thr = 0.1, 4.0, 0.5
    d = _shell_fixture(spark)
    sp = dedup_spans(d, min_span_tokens=5, strategy="anchor", anchor_window=3)
    kept = sp.filter(F.col("n_kept") >= F.col("n_tokens") * F.lit(floor))
    got = sorted(
        r["doc_id"]
        for r in sweep_residue_shells(
            kept, kept_floor=floor, kept_ceiling=ceiling, min_est_jaccard=thr
        ).collect()
    )

    import pandas as pd

    pdf = kept.select("doc_id", "text", "n_tokens", "n_kept").toPandas()
    duck.register("shellin", pdf)
    try:
        h = "CAST(concat('0x', substring(md5(s), 1, 8)) AS BIGINT)"
        perm_exprs = ", ".join(
            f"list_min(list_transform(sh, s -> (({a} * {h} + {b}) % {HASH_PRIME}))) AS mh{j}"
            for j, (a, b) in enumerate(MINHASH_PERMS)
        )
        bands = "\nUNION ALL\n".join(
            "SELECT doc_id, {b} AS band_idx, md5(concat({parts})) AS band_hash FROM sig".format(
                b=b,
                parts=", ',', ".join(f"CAST(mh{2*b+r} AS VARCHAR)" for r in range(2)),
            )
            for b in range(4)
        )
        eq_sum = " + ".join(f"CAST(a.mh{j} = b.mh{j} AS INT)" for j in range(8))
        oracle = duck.execute(f"""
        WITH low AS (
          SELECT doc_id, text FROM shellin
          WHERE n_kept < n_tokens * {floor * ceiling!r} AND length(text) >= 5
        ),
        sig AS (
          SELECT doc_id, {perm_exprs}
          FROM (SELECT doc_id,
                       list_distinct(list_transform(generate_series(1, length(text) - 4),
                                                    i -> substring(text, i, 5))) AS sh
                FROM low)
        ),
        banded AS ({bands}),
        pairs AS (
          SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM banded a JOIN banded b
            ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
               AND a.doc_id < b.doc_id
        ),
        scored AS (
          SELECT p.id_a, p.id_b
          FROM pairs p JOIN sig a ON a.doc_id = p.id_a
                       JOIN sig b ON b.doc_id = p.id_b
          WHERE ({eq_sum}) / 8.0 >= {thr!r}
        ),
        swept AS (
          SELECT DISTINCT id FROM (
            SELECT id_a AS id FROM scored UNION ALL SELECT id_b FROM scored
          )
        )
        SELECT doc_id FROM shellin WHERE doc_id NOT IN (SELECT id FROM swept)
        ORDER BY doc_id
        """).fetchall()
    finally:
        duck.unregister("shellin")
    assert got == [r[0] for r in oracle]
