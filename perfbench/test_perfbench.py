"""Benchmark-local tests (no Spark session): seeded inputs, the registry
table, the top-k comparison, and the event-log reader on a recorded log.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import itertools
import os

import numpy as np
import pytest

from perfbench import checks, gen, registry, trace
from perfbench.harness import Span

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog.jsonl")


def _digest(root: str) -> dict[str, str]:
    return {
        name: hashlib.sha256(open(os.path.join(root, name), "rb").read()).hexdigest()
        for name in sorted(os.listdir(root))
    }


def test_same_seed_gives_identical_inputs(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    for root, seed in ((a, 3), (b, 3), (c, 4)):
        gen.corpus(root, seed, 300)
        gen.sf_tables(root, seed)
        gen.arrival(os.path.join(root, "arrival.parquet"), seed, 1, 50, 300)
    assert _digest(a) == _digest(b)
    differ = {k for k, v in _digest(a).items() if _digest(c)[k] != v}
    # every seeded table differs; region and nation are fixed dimensions
    assert differ == set(_digest(a)) - {"region.parquet", "nation.parquet"}
    def first(seed):
        return list(itertools.islice(gen.queries(seed), 50))

    assert first(3) == first(3)
    assert first(3) != first(4)


def test_corpus_shape():
    t = gen.documents(np.random.default_rng(0), 100, 2000).to_pydict()
    assert t["doc_id"] == list(range(100, 2100))
    assert set(t["lang"]) == set(gen.LANGS)
    assert len(set(t["source"])) == gen.N_SOURCES
    assert t["n_chars"] == [len(x) for x in t["text"]]


def test_registry_table_is_the_frozen_registry():
    import __spark_entry__

    names = list(__spark_entry__.queries())
    registry.check_registry(names)
    with pytest.raises(RuntimeError, match="missing=\\['q_scan'\\]"):
        registry.check_registry([n for n in names if n != "q_scan"])
    with pytest.raises(RuntimeError, match="unexpected=\\['q_new'\\]"):
        registry.check_registry(names + ["q_new"])


def test_same_topk_allows_only_kth_ties():
    want = [(1, 0.9), (2, 0.8), (3, 0.5)]
    assert checks.same_topk(want, want)
    assert checks.same_topk([(1, 0.9), (2, 0.8), (4, 0.5)], want)  # tied at the k-th score
    assert not checks.same_topk([(1, 0.9), (4, 0.8), (3, 0.5)], want)  # differs above the k-th
    assert not checks.same_topk([(1, 0.9), (2, 0.8)], want)
    assert checks.ranked(np.asarray([5, 3, 9]), np.asarray([0.5, 0.5, 0.7]), 2) == [(9, 0.7), (3, 0.5)]


def test_event_log_attribution_on_recorded_log():
    """The fixture is a recorded local[2] event log, trimmed to the fields
    the reader uses and with call sites rewritten to repository paths:
    job group pb1 ran one shuffle job (2 + 2 tasks), pb2 ran one job, and
    one job ran with no group, as a job from a plain thread pool does."""
    jobs = trace.read_jobs(FIXTURE)
    by_group = {}
    for j in jobs:
        by_group.setdefault(j.group, []).append(j)
    assert sorted(by_group, key=str) == sorted([None, "pb1", "pb2"], key=str)
    pb1 = by_group["pb1"][0]
    assert pb1.description == "search.topk.execute"
    assert pb1.call_site == "collect at fuserank_spark/search.py:131"
    assert pb1.tasks == 4 and pb1.shuffle_write_bytes > 0 and pb1.wall_s > 0

    t0 = min(j.submitted_ms for j in jobs) / 1000.0
    spans = [
        Span("search.topk.construct", "pb0", 0.0, 0.1, t0 - 10),
        Span("search.topk.execute", "pb1", 0.1, 1.0, t0 - 9),
        Span("registry.dedup.execute", "pb2", 1.0, 2.0, t0 - 5, {"entry": "q_minhash"}),
    ]
    table = trace.per_layer_table(jobs, spans)
    assert table["search.topk.jobs"] == 1.0  # one call, one job
    assert table["search.topk.tasks"] == pb1.tasks
    assert table["search.topk.shuffle_write_bytes"] == pb1.shuffle_write_bytes
    assert table["registry.jobs"] == 1.0
    assert table["trace.unattributed_jobs"] == 1.0
    sites = trace.call_sites(jobs, spans)
    assert set(sites) == {"search.topk", "registry", "unattributed"}
    assert list(sites["unattributed"]) == ["collect at fuserank_spark/pipeline_ext/profile.py:80"]


def test_stream_job_group_and_build_steps():
    """A span that started a streaming query claims the jobs carrying the
    query's run id; the index build splits at its first and last k-means
    job."""
    jobs = [
        trace.Job(0, "run-uuid", "batch 0", "start at fuserank_spark/streaming/incremental.py:145", 0, 500),
        trace.Job(1, "pb2", None, "count at fuserank_spark/flagship.py:142", 1000, 3000),
        trace.Job(2, "pb2", None, "takeSample at KMeans.scala:403", 3000, 5000),
        trace.Job(3, "pb2", None, "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768", 5000, 6000),
        trace.Job(4, "pb2", None, "collectAsMap at KMeans.scala:333", 6000, 7000),
        trace.Job(5, "pb2", None, "parquet at NativeMethodAccessorImpl.java:0", 7000, 8000),
    ]
    spans = [
        Span("streaming.microbatch", "pb1", 0.0, 1.0, 0.0, {"job_group": "run-uuid"}),
        Span("flagship.build_index", "pb2", 1.0, 9.0, 1.0),
    ]
    table = trace.per_layer_table(jobs, spans)
    assert table["streaming.microbatch.jobs"] == 1.0
    assert table["flagship.build_index.jobs"] == 5.0
    assert table["trace.unattributed_jobs"] == 0.0
    assert (table["encode.build_s"], table["simsearch.kmeans_s"], table["simsearch.assign_persist_s"]) == (2.0, 4.0, 1.0)
