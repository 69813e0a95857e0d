"""Training-corpus assembly ops: sequence packing (packing.py),
mixture sampling, and Gopher quality rules — invariants the oracle
hash-checks can't see (bin capacity, determinism, rate accounting)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fuserank_spark.pipeline_ext import packing as P
from fuserank_spark.pipeline_ext.curation import mixture_sample
from fuserank_spark.pipeline_ext.textstats import gopher_features, token_count

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs_tokens(spark):
    d = token_count(
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    ).select("doc_id", "n_tokens")
    d.cache().count()
    return d


# ------------------------------------------------------------ pack_split


def test_pack_split_layout_is_gapless(docs_tokens):
    """Offsets reconstructed from (start_seq, start_offset) must tile
    the token stream exactly: sorted offsets are cumulative sums of
    the doc lengths with no gap and no overlap."""
    out = P.pack_split(docs_tokens, budget=512).collect()
    rows = sorted(
        (r["start_seq"] * 512 + r["start_offset"], r["n_tokens"]) for r in out
    )
    pos = 0
    for off, n in rows:
        assert off == pos
        pos += n
    total = sum(n for _, n in rows)
    assert pos == total


def test_pack_split_n_seqs_matches_span(docs_tokens):
    out = P.pack_split(docs_tokens, budget=512).collect()
    for r in out:
        off = r["start_seq"] * 512 + r["start_offset"]
        end = off + r["n_tokens"] - 1
        assert r["n_seqs"] == end // 512 - off // 512 + 1


def test_pack_split_bucketing_invariant_to_n_buckets(docs_tokens):
    """The two-phase cumsum must be bit-identical across bucket
    counts (bucket is an order-prefix of the hash, so the global
    order never changes)."""
    a = {
        r["doc_id"]: (r["start_seq"], r["start_offset"])
        for r in P.pack_split(docs_tokens, budget=256, n_buckets=16).collect()
    }
    b = {
        r["doc_id"]: (r["start_seq"], r["start_offset"])
        for r in P.pack_split(docs_tokens, budget=256, n_buckets=1024).collect()
    }
    assert a == b


def test_pack_split_guards(docs_tokens):
    with pytest.raises(ValueError, match="budget"):
        P.pack_split(docs_tokens, budget=0)
    with pytest.raises(ValueError, match="divide"):
        P.pack_split(docs_tokens, budget=10, n_buckets=7)
    with pytest.raises(ValueError, match="int or 'auto'"):
        P.pack_split(docs_tokens, budget=10, n_buckets="many")


def test_resolve_buckets_auto_scaling():
    """auto sizes window partitions to ~250k rows, powers of two,
    clamped; without a hint it falls back to the 256 default rather
    than running an eager count."""
    r = P._resolve_buckets
    assert r("auto", None) == 256
    assert r("auto", 1_000) == 256  # clamp low
    assert r("auto", 100_000_000) == 512
    assert r("auto", 1_000_000_000) == 4096
    # 100 TB-ish row counts stay bounded and a power of two
    big = r("auto", 200_000_000_000)
    assert big == 1 << 20 and (1 << 32) % big == 0
    assert r(1024, None) == 1024


def test_pack_split_auto_buckets_identical_output(docs_tokens):
    """auto is a physical-layout knob only: results must be
    bit-identical to the fixed-bucket run (n_buckets-invariance)."""
    a = {
        r["doc_id"]: (r["start_seq"], r["start_offset"], r["n_seqs"])
        for r in P.pack_split(docs_tokens, budget=256).collect()
    }
    b = {
        r["doc_id"]: (r["start_seq"], r["start_offset"], r["n_seqs"])
        for r in P.pack_split(
            docs_tokens, budget=256, n_buckets="auto", rows_hint=10_000_000
        ).collect()
    }
    assert a == b


def test_pack_greedy_auto_buckets_keeps_invariants(docs_tokens):
    """pack_greedy under auto sharding changes bin ids (documented:
    bins never span shards) but never the capacity invariant."""
    budget = 300
    out = P.pack_greedy(
        docs_tokens, budget=budget, n_buckets="auto", rows_hint=10_000_000
    ).collect()
    fills: dict[int, int] = {}
    for r in out:
        fills[r["bin_id"]] = fills.get(r["bin_id"], 0) + r["n_tokens"]
    for b, tot in fills.items():
        assert tot <= budget or len(
            [r for r in out if r["bin_id"] == b]
        ) == 1  # oversize doc owns its bin


# ----------------------------------------------------------- pack_greedy


def test_pack_greedy_respects_budget(docs_tokens):
    budget = 300
    out = P.pack_greedy(docs_tokens, budget=budget).collect()
    fills: dict[int, int] = {}
    counts: dict[int, int] = {}
    for r in out:
        fills[r["bin_id"]] = fills.get(r["bin_id"], 0) + r["n_tokens"]
        counts[r["bin_id"]] = counts.get(r["bin_id"], 0) + 1
    for b, fill in fills.items():
        # only an oversize singleton may exceed the budget
        assert fill <= budget or counts[b] == 1
    # every doc with tokens appears exactly once
    assert len(out) == docs_tokens.filter(F.col("n_tokens") > 0).count()


def test_pack_greedy_deterministic(docs_tokens):
    a = sorted((r["doc_id"], r["bin_id"]) for r in P.pack_greedy(docs_tokens, budget=300).collect())
    b = sorted((r["doc_id"], r["bin_id"]) for r in P.pack_greedy(docs_tokens, budget=300).collect())
    assert a == b


def test_pack_greedy_oversize_error(spark):
    d = spark.createDataFrame([(1, 10), (2, 999)], ["doc_id", "n_tokens"])
    with pytest.raises(Exception, match="exceeds budget"):
        P.pack_greedy(d, budget=100, oversize="error").collect()


def test_pack_greedy_keeps_struct_payload_with_any_field_name(spark):
    """The output schema is built as a StructType, not re-parsed DDL:
    a struct payload whose field name needs quoting (``content-type``)
    passes through the packer unchanged."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_tokens", T.LongType()),
        T.StructField("meta", T.StructType([T.StructField("content-type", T.StringType())])),
    ])
    d = spark.createDataFrame([(1, 10, ("text/html",)), (2, 20, ("text/plain",))], schema)
    out = P.pack_greedy(d, budget=100)
    assert out.schema["meta"] == schema["meta"]
    assert {r["doc_id"]: r["meta"]["content-type"] for r in out.collect()} == {
        1: "text/html",
        2: "text/plain",
    }


def test_pack_greedy_packs_denser_than_one_doc_per_bin(docs_tokens):
    """Next-fit must actually pack: with budget far above the typical
    doc, bins ≪ docs."""
    out = P.pack_greedy(docs_tokens, budget=2048).collect()
    n_docs = len(out)
    n_bins = len({r["bin_id"] for r in out})
    assert n_bins < n_docs / 2


# -------------------------------------------------------- mixture_sample


def test_mixture_rates_account_exactly(spark):
    """For integer rates the output count is exact; for fractional
    rates it is key-hash-gated — the two-copy floor of 2.5 must hold
    for EVERY src0 key, and src1 at 0.5 must emit ≤1 copy per key."""
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    out = (
        mixture_sample(
            docs, {"src0": 2.5, "src1": 0.5, "src2": 1.0}, default_rate=0.0
        )
        .groupBy("doc_id", "source")
        .agg(F.count(F.lit(1)).alias("copies"))
        .collect()
    )
    by_src: dict[str, list[int]] = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r["copies"])
    assert set(by_src) == {"src0", "src1", "src2"}  # default 0 drops the rest
    assert all(c in (2, 3) for c in by_src["src0"])
    assert all(c == 1 for c in by_src["src1"])
    assert all(c == 1 for c in by_src["src2"])
    # fractional gates actually fire both ways on a 0.5 rate
    n_src1 = docs.filter(F.col("source") == "src1").count()
    assert 0 < len(by_src["src1"]) < n_src1


def test_mixture_copy_idx_contiguous(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    rows = (
        mixture_sample(docs, {"src0": 3.0}, default_rate=0.0)
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("copy_idx")).alias("idx"))
        .collect()
    )
    assert rows and all(r["idx"] == [0, 1, 2] for r in rows)


def test_mixture_rejects_negative_rate(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    with pytest.raises(ValueError, match="negative"):
        mixture_sample(docs, {"src0": -1.0})


# ------------------------------------------------------- gopher_features


def test_gopher_rules_consistent(spark):
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    out = gopher_features(docs).collect()
    for r in out:
        want = (
            50 <= r["n_tokens"] <= 100_000
            and 3.0 <= r["mean_word_len"] <= 10.0
            and r["symbol_ratio"] <= 0.1
            and r["alpha_word_frac"] >= 0.8
            and r["stopword_hits"] >= 2
        )
        # rounded metrics can sit exactly on a threshold; re-derive
        # from the unrounded booleans instead of comparing floats
        got = (
            r["pass_n_tokens"]
            and r["pass_mean_word_len"]
            and r["pass_symbol_ratio"]
            and r["pass_alpha_words"]
            and r["pass_stopwords"]
        )
        assert r["gopher_pass"] == got
        if abs(r["mean_word_len"] - 3.0) > 1e-5 and abs(r["symbol_ratio"] - 0.1) > 1e-5:
            assert want == got


def test_gopher_empty_text_fails_cleanly(spark):
    d = spark.createDataFrame([(1, ""), (2, None), (3, "the of and to be that " * 20)],
                              ["doc_id", "text"])
    out = {r["doc_id"]: r for r in gopher_features(d).collect()}
    assert out[1]["n_tokens"] == 0 and not out[1]["gopher_pass"]
    assert out[2]["n_tokens"] == 0 and not out[2]["gopher_pass"]
    assert out[3]["pass_stopwords"] and out[3]["pass_n_tokens"]


# --------------------------------------------------------------- profile


def test_profile_matches_pandas(spark):
    import numpy as np

    from fuserank_spark.pipeline_ext.profile import profile

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    out = {r["column"]: r for r in profile(li, ["l_quantity", "l_tax"]).collect()}
    pdf = li.select("l_quantity", "l_tax").toPandas()
    for c in ("l_quantity", "l_tax"):
        r = out[c]
        assert r["n"] == pdf[c].notna().sum()
        assert r["n_distinct"] == pdf[c].nunique()
        assert abs(r["mean"] - pdf[c].mean()) < 1e-5
        assert abs(r["p50"] - np.percentile(pdf[c].dropna(), 50)) < 1e-5


def test_profile_pool_jobs_keep_caller_job_group(spark):
    """profile()'s two pooled aggregation jobs run under the caller's
    job group (the pool submits through inheritable_thread_target), so
    cancelJobGroup and per-label traces reach them."""
    from fuserank_spark.pipeline_ext.profile import profile

    sc = spark.sparkContext
    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("profile-pool-attribution", "profile pool attribution")
    try:
        profile(li, ["l_quantity", "l_tax"])
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert len(tracker.getJobIdsForGroup("profile-pool-attribution")) >= 2
    assert set(tracker.getJobIdsForGroup(None)) == ungrouped


def test_profile_guards(spark):
    from fuserank_spark.pipeline_ext.profile import profile

    li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
    with pytest.raises(ValueError, match="at least one"):
        profile(li, [])
    with pytest.raises(ValueError, match="not in frame"):
        profile(li, ["nope"])


def test_profile_handles_nulls(spark):
    from fuserank_spark.pipeline_ext.profile import profile

    d = spark.createDataFrame(
        [(1, 1.0), (2, None), (3, 3.0), (4, None)], "id bigint, x double"
    )
    r = profile(d, ["x"]).collect()[0]
    assert r["n"] == 2 and r["n_null"] == 2 and r["n_distinct"] == 2
    assert r["min"] == 1.0 and r["max"] == 3.0 and r["mean"] == 2.0
