"""Two-point scale-TREND harness (VERDICT r6 next-round #1): run the
most expensive ops at BOTH 500k and 5M rows (factor 100 and 1000 over
the sf0.1 documents) and print rows/s at each point, so "designed for
100 TB" rests on a measured per-row trend across a decade, not a
single scale point. Any per-row degradation > 1.3× across the decade
needs a named mechanism or a fix (SCALING.md records the table).

Corpus construction differs DELIBERATELY from tools/scale_smoke.py:
the smoke's tail-suffix replicas (" repN") leave most shingles shared
across every replica of a base doc, which makes candidate-pair counts
QUADRATIC in the replication factor — the right worst-case stressor at
one scale point, but at 5M rows it would generate ~10⁹–10¹⁰ pairs and
measure pair fan-out, not the per-row trend. Here each replica gets a
per-replica token suffix (zero cross-replica shingle collisions), and
every 50th replica keeps the base text verbatim — planted exact-dup
clusters whose size is factor/50, so dedup ops have real duplicate
work while signature/banding cost stays the dominant, row-linear term.

Usage:
  python tools/scale_trend.py [factors_csv] [sf_dir] [ops_csv]
  python tools/scale_trend.py 100,1000
  python tools/scale_trend.py 100 /root/testdata/sf0.1 minhash_lsh,pagerank

Prints one JSON line per (factor) tier with per-op wall seconds and
rows/s, then one `trend` line with the per-row ratio across the first
and last tier per op.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

ALL_OPS = (
    "minhash_lsh",
    "dedup_spans_join",
    "dedup_spans_anchor",
    "winnow_fps",
    "winnow_pairs_cap48",
    "contamination",
    "frequent_ngrams_exact",
    "frequent_ngrams_sketch",
    "chunk_sentences",
    "phash_pairs",
    "pagerank",
    "proxy_embed",
)


def build_corpus(spark, sf_dir: str, factor: int):
    """Linear-duplication replication: per-replica token suffixing
    kills cross-replica shingle collisions; rep % 50 == 1 keeps the
    base text verbatim (planted dup clusters of size factor/50)."""
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    reps = spark.range(factor).select(F.col("id").alias("rep"))
    suffixed = F.array_join(
        F.transform(
            F.split(F.col("text"), " "),
            lambda x: F.concat(x, F.lit("_"), F.col("rep").cast("string")),
        ),
        " ",
    )
    # every 5th doc carries a fixed UNSUFFIXED boilerplate sentence —
    # shared across reps, so its gram/fingerprint counts scale with the
    # corpus: gives frequent_ngrams a stable nonzero mining target and
    # dedup_spans/winnowing a realistic hot-gram (license-blurb) shape
    boiler = (
        " this document is provided as is without warranty of any kind"
        " express or implied"
    )
    body = F.when(F.col("rep") % 50 == 1, F.col("text")).otherwise(suffixed)
    big = (
        docs.crossJoin(reps)
        .select(
            (F.col("doc_id") * factor + F.col("rep")).alias("doc_id"),
            F.when(F.col("doc_id") % 5 == 0, F.concat(body, F.lit(boiler)))
            .otherwise(body)
            .alias("text"),
        )
        .repartition(max(64, factor // 4), "doc_id")
        .persist()
    )
    return big, big.count()


def main():
    factors = [int(x) for x in (sys.argv[1] if len(sys.argv) > 1 else "100,1000").split(",")]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    ops = (sys.argv[3].split(",") if len(sys.argv) > 3 else list(ALL_OPS))
    unknown = set(ops) - set(ALL_OPS)
    if unknown:
        raise SystemExit(f"unknown ops: {sorted(unknown)}; pick from {ALL_OPS}")

    os.environ.setdefault("FUSERANK_DRIVER_MEM", "48g")
    from fuserank_spark.session import get_spark

    spark = get_spark("scale-trend")
    spark.sparkContext.setLogLevel("ERROR")

    tiers: list[dict] = []
    for factor in factors:
        big, n = build_corpus(spark, sf_dir, factor)
        t: dict = {"factor": factor, "n_rows": n}
        print(f"tier factor={factor}: {n} rows", file=sys.stderr)

        def run(name, fn, rows=None):
            if name not in ops:
                return
            t0 = time.time()
            out = fn()
            dt = time.time() - t0
            t[name] = round(dt, 1)
            t[f"{name}_rows_per_sec"] = round((rows or n) / dt, 1)
            if out is not None:
                t[f"{name}_out"] = out
            print(f"  {name}: {t[name]} s", file=sys.stderr)

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        from fuserank_spark.pipeline_ext.dedup import (
            dedup_spans,
            lsh_candidate_pairs,
            minhash_signature,
            winnow_fingerprints,
            winnow_overlap_pairs,
        )

        run(
            "minhash_lsh",
            lambda: lsh_candidate_pairs(
                minhash_signature(big.select(F.col("doc_id").alias("row_id"), "text"),
                                  out_prefix="mh"),
                key_col="row_id",
            ).count(),
        )
        run("dedup_spans_join",
            lambda: noop(dedup_spans(big, strategy="join").select("doc_id", "n_kept")))
        run("dedup_spans_anchor",
            lambda: noop(dedup_spans(big, strategy="anchor").select("doc_id", "n_kept")))
        run("winnow_fps", lambda: winnow_fingerprints(big).count())
        run("winnow_pairs_cap48",
            lambda: winnow_overlap_pairs(big, min_shared=8, max_bucket_size=48).count())

        from fuserank_spark.pipeline_ext.curation import (
            contamination_fraction,
            frequent_ngrams,
        )

        test_slice = (
            spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
            .filter(F.col("doc_id") % 17 == 0)
            .select("doc_id", "text")
        )
        run("contamination",
            lambda: noop(contamination_fraction(big, test_slice)))

        # min_doc_count scales with the tier so the heaviness threshold
        # is the same FRACTION of docs at both points (10% — the planted
        # boilerplate covers 20% of docs, natural grams stay below)
        mdc = max(50, n // 10)
        run("frequent_ngrams_exact",
            lambda: frequent_ngrams(big, n=3, min_doc_count=mdc).count())
        run("frequent_ngrams_sketch",
            lambda: frequent_ngrams(big, n=3, min_doc_count=mdc, budget=1 << 15).count())

        from fuserank_spark.pipeline_ext.packing import chunk_sentences

        run("chunk_sentences",
            lambda: noop(chunk_sentences(big, max_tokens=128).select("doc_id", "chunk_idx", "chunk_tokens")))

        from fuserank_spark.pipeline_ext.multimodal import attach_payload, phash_hamming_pairs

        run("phash_pairs",
            lambda: phash_hamming_pairs(attach_payload(big)).count())

        # pagerank: edges scale with the tier (1M / 10M), nodes = edges/10;
        # xxhash64-derived topology (non-oracle value, JVM-native is fine)
        from fuserank_spark.pipeline_ext.web import pagerank

        n_edges = factor * 10_000
        n_nodes = n_edges // 10
        edges = spark.range(n_edges).select(
            F.concat(F.lit("d"), F.pmod(F.xxhash64("id"), F.lit(n_nodes))).alias("src_domain"),
            F.concat(F.lit("d"), F.pmod(F.xxhash64("id", F.lit(1)), F.lit(n_nodes))).alias("dst_domain"),
        )
        run("pagerank", lambda: pagerank(edges, iterations=10).count(), rows=n_edges)

        # proxy transformer embed: n/10 rows per tier (50k / 500k — the
        # 5M tier's point is the VERDICT-asked 500k measurement)
        from fuserank_spark.embed import ProxyTransformerEmbedder, embed_corpus

        prows = n // 10
        # 32 tasks exactly: the per-task weight init (~2.5 s) must not
        # multiply with the tier's partition count
        psample = (
            big.filter(F.col("doc_id") % 10 == 0)
            .select("doc_id", "text")
            .repartition(32)
        )
        run("proxy_embed",
            lambda: noop(embed_corpus(
                psample, {"text": 1.0},
                embedder_factory=lambda: ProxyTransformerEmbedder(blas_threads=1),
            ).select("doc_id", "text_emb")),
            rows=prows)
        t["proxy_embed_rows"] = prows

        tiers.append(t)
        print(json.dumps(t))
        big.unpersist()

    if len(tiers) >= 2:
        lo, hi = tiers[0], tiers[-1]
        trend = {"metric": "per_row_ratio", "lo_factor": lo["factor"], "hi_factor": hi["factor"]}
        for op in ops:
            a, b = lo.get(f"{op}_rows_per_sec"), hi.get(f"{op}_rows_per_sec")
            if a and b:
                # >1 = rows/s DROPPED at the larger tier (per-row cost grew)
                trend[op] = round(a / b, 2)
        print(json.dumps(trend))


if __name__ == "__main__":
    main()
