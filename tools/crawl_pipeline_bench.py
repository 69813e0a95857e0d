"""One-command crawl→shards composition bench (VERDICT r6 next-round
#6): WARC fixtures → read_warc → extract_html_text → blocklist →
domain link graph + PageRank → curate_corpus (line dedup, span dedup,
quality, LM perplexity, compression-ratio gates, domain-rank gate) →
mixture_sample → pack_split → write_training_shards → dataset_card,
at 500k records, with a per-stage wall + SHUFFLE-BYTES table. Every
stage is individually oracle-checked elsewhere; this prices the
COMPOSITION.

Attribution mechanics: each stage is materialized (persist+count) at
its boundary so wall and shuffle deltas belong to that stage — the
composed total therefore slightly OVERSTATES a fused single-action
run (Catalyst would pipeline narrow neighbours). Shuffle bytes come
from the Spark UI REST API (this tool's own session enables the UI;
the engine default keeps it off).

Usage: python tools/crawl_pipeline_bench.py [factor] [sf_dir]
           [--embed-tail=N] [--span-strategy=join|anchor|auto]
           [--span-kept-floor=f]
       (defaults: 100 → 500k records, sf0.1)
``--span-strategy=auto`` (r10) exercises the profile-first pre-flight
inside the composition: curate_corpus runs resolve_span_strategy on a
seeded sample and picks exact or anchor+w itself; the pre-flight's
wall lands in the curate_corpus stage row, pricing what the
operational rule actually costs.
``--embed-tail=N`` (VERDICT r7 #6) appends the X1 stage chain —
proxy-transformer embed → fused encode → IVF build + partitioned
write — over the first N curated docs (N=0 → all), so the table
prices the FULL pipeline including the embed/index cost the text-only
run omits. Prints one JSON line per stage and a final summary line.
"""

from __future__ import annotations

import atexit
import json
import os
import shutil
import sys
import tempfile
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


class StageMeter:
    """Wall + shuffle-byte deltas per named stage, via the UI REST API."""

    def __init__(self, spark):
        self.ui = spark.sparkContext.uiWebUrl
        self.app = spark.sparkContext.applicationId
        self.rows = []
        self._last = self._snap()

    def _snap(self):
        data = json.load(
            urllib.request.urlopen(f"{self.ui}/api/v1/applications/{self.app}/stages")
        )
        return {
            "w": sum(s.get("shuffleWriteBytes", 0) for s in data),
            "r": sum(s.get("shuffleReadBytes", 0) for s in data),
        }

    def run(self, name, fn):
        t0 = time.time()
        out = fn()
        row = {"stage": name, "wall_sec": round(time.time() - t0, 1)}
        cur = self._snap()
        row["shuffle_write_mb"] = round((cur["w"] - self._last["w"]) / 1e6, 1)
        row["shuffle_read_mb"] = round((cur["r"] - self._last["r"]) / 1e6, 1)
        self._last = cur
        self.rows.append(row)
        print(json.dumps(row))
        return out


def main():
    argv = [a for a in sys.argv[1:] if not a.startswith("--")]
    opts = {a.split("=")[0]: (a.split("=", 1)[1] if "=" in a else True)
            for a in sys.argv[1:] if a.startswith("--")}
    factor = int(argv[0]) if len(argv) > 0 else 100
    sf_dir = argv[1] if len(argv) > 1 else "/root/testdata/sf0.1"
    embed_tail = opts.get("--embed-tail")
    embed_rows = int(embed_tail) if embed_tail not in (None, True) else (
        50_000 if embed_tail else None
    )
    span_strategy = str(opts.get("--span-strategy", "join"))
    kept_floor = opts.get("--span-kept-floor")
    kept_floor = float(kept_floor) if kept_floor not in (None, True) else None

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]")
        .appName("crawl-pipeline-bench")
        .config("spark.driver.memory", os.environ.get("FUSERANK_DRIVER_MEM", "24g"))
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "4055")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from fuserank_spark.sources import read_warc
    from fuserank_spark.pipeline_ext.web import (
        domain_link_graph,
        extract_html_text,
        filter_blocked_domains,
        pagerank,
        parse_urls,
    )
    from fuserank_spark.pipeline_ext.curation import curate_corpus, mixture_sample
    from fuserank_spark.pipeline_ext.lm import ngram_lm_train
    from fuserank_spark.pipeline_ext.packing import pack_split
    from fuserank_spark.pipeline_ext.profile import dataset_card
    from fuserank_spark.partitioning import write_training_shards

    # CRAWL_BENCH_CACHE pins the fixture dir (each run rmtree's and
    # rewrites it); unset, every run gets its own temp dir, removed at
    # exit, so two runs on one host never share a fixture
    cache = os.environ.get("CRAWL_BENCH_CACHE")
    if cache is None:
        cache = tempfile.mkdtemp(prefix="crawl_bench_")
        atexit.register(shutil.rmtree, cache, ignore_errors=True)
    warc_dir = os.path.join(cache, "crawl_bench_warc")
    shard_dir = os.path.join(cache, "crawl_bench_shards")
    shutil.rmtree(warc_dir, ignore_errors=True)
    shutil.rmtree(shard_dir, ignore_errors=True)
    os.makedirs(warc_dir, exist_ok=True)

    # fixture: 500k WARC response records across 32 real .warc files —
    # synthetic hosts over 20k domains, 3 cross-domain links per page
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    big = (
        docs.crossJoin(spark.range(factor).select(F.col("id").alias("rep")))
        .select(
            (F.col("doc_id") * factor + F.col("rep")).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" rep"), F.col("rep")).alias("text"),
        )
        .withColumn("dom", F.pmod(F.xxhash64("doc_id"), F.lit(20_000)))
        # file count scales with the tier: read_warc's unit of
        # parallelism is the FILE and a whole file rides through the
        # binaryFile source as ONE in-memory blob — 32 files at factor
        # 1000 means 32 concurrent ~110 MB blobs (plus Arrow copies)
        # inside local mode's single driver JVM, a measured GC death
        # spiral (r9: 0/32 tasks after an hour). ~11 MB files keep the
        # per-task footprint flat at every factor, matching the
        # many-modest-files shape crawl corpora actually ship
        # (read_warc docstring: "one giant WARC is the caller's smell").
        .repartition(32 * max(1, factor // 100))
    )

    def _write_warc_partition(rows):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        path = os.path.join(warc_dir, f"f{pid:04d}.warc")
        with open(path, "wb") as f:
            for r in rows:
                links = "".join(
                    f'<a href="http://site{(r["dom"] * 7 + j * 911) % 20_000}.example/p">x</a>'
                    for j in range(3)
                )
                html = f"<html><body><p>{r['text']}</p>{links}</body></html>"
                payload = (
                    b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                    + html.encode()
                )
                uri = f"http://site{r['dom']}.example/doc/{r['doc_id']}"
                head = (
                    b"WARC/1.0\r\n"
                    b"WARC-Type: response\r\n"
                    b"WARC-Target-URI: " + uri.encode() + b"\r\n"
                    b"WARC-Date: 2024-01-01T00:00:00Z\r\n"
                    b"Content-Type: application/http; msgtype=response\r\n"
                    b"Content-Length: " + str(len(payload)).encode() + b"\r\n\r\n"
                )
                f.write(head + payload + b"\r\n\r\n")

    meter = StageMeter(spark)
    t_all = time.time()

    meter.run("fixture_build", lambda: big.foreachPartition(_write_warc_partition))

    def _parse():
        recs = read_warc(spark, warc_dir).persist()
        recs.count()
        return recs

    recs = meter.run("warc_parse", _parse)

    def _extract():
        ext = extract_html_text(
            recs.select(
                F.monotonically_increasing_id().alias("__x"),
                F.col("target_uri").alias("url"),
                F.col("content").alias("html"),
            )
        )
        ext = parse_urls(ext, url_col="url")
        out = ext.select(
            # 40-bit ids: headroom for the downstream item_id = 8·id
            # derivation under ANSI overflow checking
            F.pmod(F.xxhash64("url"), F.lit(1 << 40)).alias("doc_id"),
            "url", "html", "text", "host", "domain",
        ).persist()
        out.count()
        return out

    pages = meter.run("extract_html", _extract)

    def _block():
        blocked = [f"site{i * 13}.example" for i in range(100)]
        out = filter_blocked_domains(pages, blocked, host_col="host", key_col="doc_id").persist()
        out.count()
        return out

    kept = meter.run("blocklist", _block)

    def _rank():
        # curate_corpus expects the pagerank contract: (node, rank)
        edges = domain_link_graph(kept.select("url", "html"))
        ranks = pagerank(edges, iterations=5, out_col="rank").persist()
        ranks.count()
        return ranks

    ranks = meter.run("domain_pagerank", _rank)

    lm = meter.run(
        "lm_train_2pct",
        lambda: ngram_lm_train(kept.filter(F.col("doc_id") % 50 == 0), n=2),
    )

    def _curate():
        out = curate_corpus(
            kept.select("doc_id", "text", "domain"),
            line_dedup=True,
            span_dedup_tokens=8,
            span_dedup_strategy=span_strategy,
            span_drop_if_kept_below=kept_floor,
            perplexity_lm=lm,
            max_perplexity=1e6,
            min_compression_ratio=0.05,
            domain_ranks=ranks,
            min_domain_rank=0.0,
            keep_unranked=True,
        ).persist()
        out.count()
        return out

    curated = meter.run("curate_corpus", _curate)

    def _mix():
        src = curated.withColumn("source", F.concat(F.lit("s"), F.col("doc_id") % 4))
        out = mixture_sample(
            src, {"s0": 0.25, "s1": 1.0, "s2": 1.5, "s3": 2.0}
        ).persist()
        out.count()
        return out

    mixed = meter.run("mixture_sample", _mix)

    def _pack():
        items = mixed.select(
            (F.col("doc_id") * 8 + F.col("copy_idx")).alias("item_id"), "n_tokens"
        )
        out = pack_split(items, budget=2048, key_col="item_id").persist()
        out.count()
        return out

    packed = meter.run("pack_split", _pack)

    meter.run(
        "write_shards",
        lambda: write_training_shards(
            packed, shard_dir, rows_per_shard=50_000, key_col="item_id"
        ),
    )

    card = meter.run(
        "dataset_card",
        lambda: dataset_card(curated.select("doc_id", "text")),
    )

    n_embedded = None
    if embed_rows is not None:
        # X1 tail (VERDICT r7 #6): proxy-transformer embed → fused
        # encode → IVF build + centroid-partitioned write, over the
        # curated output — the stages the text-only table omits
        from fuserank_spark import schema as S
        from fuserank_spark.embed import ProxyTransformerEmbedder, embed_corpus
        from fuserank_spark.encode import (
            compute_stats,
            encode_products,
            record_text_dim,
        )
        from fuserank_spark.pipeline_ext.simsearch import ivf_build, ivf_persist

        sel = curated.select(
            F.col("doc_id").alias("row_id"), "text", "domain", "n_tokens"
        )
        if embed_rows > 0:
            sel = sel.orderBy("row_id").limit(embed_rows)
        # 32 tasks exactly: per-task proxy weight init must not
        # multiply with the upstream partition count (scale_trend rule)
        sel = sel.repartition(32)

        def _embed():
            out = embed_corpus(
                sel, {"text": 1.0},
                embedder_factory=lambda: ProxyTransformerEmbedder(blas_threads=1),
            ).persist()
            out.count()
            return out

        embedded = meter.run("proxy_embed", _embed)
        n_embedded = embedded.count()

        def _encode():
            aux = {"domain": S.SPARSE, "n_tokens": S.DENSE}
            stats = compute_stats(embedded, aux)
            enc, layout = encode_products(embedded, aux, stats, num_harmonics=64)
            record_text_dim(layout, 384)
            out = enc.select("row_id", "vector").persist()
            out.count()
            return out, layout

        encoded, layout = meter.run("fused_encode", _encode)

        ivf_dir = os.path.join(cache, "crawl_bench_ivf")
        shutil.rmtree(ivf_dir, ignore_errors=True)

        def _ivf():
            assigned, cents = ivf_build(
                encoded, dim=layout.dim, n_centroids=64, vec_col="vector",
                sample_rows=50_000, max_iter=10,
            )
            ivf_persist(assigned, ivf_dir)
            return len(cents)

        meter.run("ivf_build_write", _ivf)
        shutil.rmtree(ivf_dir, ignore_errors=True)

    total = round(time.time() - t_all, 1)
    print(json.dumps({
        "summary": "crawl_pipeline_bench",
        "n_records": factor * 5000,
        "rows_after_curate": curated.count(),
        "rows_after_mixture": mixed.count(),
        "total_wall_sec": total,
        "total_shuffle_write_mb": round(sum(r["shuffle_write_mb"] for r in meter.rows), 1),
        "card_n_docs": card.get("n_docs"),
        "embed_tail_rows": n_embedded,
    }))
    shutil.rmtree(warc_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
