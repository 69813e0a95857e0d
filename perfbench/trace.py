"""Traced-run tooling: read a local Spark event log (uncompressed JSON
lines), attribute each job to the benchmark span that submitted it, and
build the per-layer table.

A job belongs to the span whose job group it carries (the span sets the
group and description around its call; a span that starts a streaming
query also records the query's run id, the group Spark's stream thread
sets on its own jobs). Jobs without a benchmark group are counted as
unattributed: library code that submits from a plain thread pool drops
the group. Inside a composite call (a registry entry, ``topk`` with its
eager sub-jobs, or the index build), jobs are split further by their
recorded call site (``callSite.short``: the library file and line that
submitted them, or for jobs the JVM submits, their last stage's name),
which ``call_sites`` tabulates per layer; the index build is split into
its ``BUILD_STEPS`` at its k-means jobs.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

# layers with executor-side figures, matched as span-name prefixes
TRACED_LAYERS = (
    "search.topk_batch",
    "search.topk",
    "search.rerank",
    "registry",
    "flagship.build_index",
    "flagship.ivf_serve",
    "streaming.microbatch",
    "streaming.compact",
)
TRACED_FIGURES = ("executor_cpu_s", "gc_s", "python_s", "shuffle_write_bytes", "spill_bytes")
# the index build runs its steps in order: embed+encode, k-means
# training (jobs from KMeans.scala), then IVF assignment and the
# partitioned write; jobs split at the first and last k-means job
BUILD_STEPS = ("encode.build_s", "simsearch.kmeans_s", "simsearch.assign_persist_s")


@dataclass
class Job:
    job_id: int
    group: str | None
    description: str | None
    call_site: str
    submitted_ms: int
    completed_ms: int | None = None
    stages: list = field(default_factory=list)
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: float = 0.0
    spill_bytes: float = 0.0

    @property
    def wall_s(self) -> float:
        return ((self.completed_ms or self.submitted_ms) - self.submitted_ms) / 1000.0


def event_log_file(log_dir: str) -> str:
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if not f.endswith(".inprogress")]
    files = files or glob.glob(os.path.join(log_dir, "*"))
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    return max(files, key=os.path.getmtime)


def read_jobs(path: str) -> list[Job]:
    """Jobs with their task figures summed over the stages they ran."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                stages = e.get("Stage Infos") or [{}]
                job = Job(
                    job_id=e["Job ID"],
                    group=props.get("spark.jobGroup.id"),
                    description=props.get("spark.job.description"),
                    # JVM-submitted jobs (ML fits, exchanges) carry no
                    # Python call site; their last stage names one
                    call_site=props.get("callSite.short") or stages[-1].get("Stage Name", ""),
                    submitted_ms=e.get("Submission Time", 0),
                    stages=list(e.get("Stage IDs", [])),
                )
                jobs[job.job_id] = job
                for s in job.stages:
                    stage_job.setdefault(s, job.job_id)
            elif kind == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]].completed_ms = e.get("Completion Time")
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(e.get("Stage ID"), -1))
                m = e.get("Task Metrics")
                if job is None or not m:
                    continue
                job.tasks += 1
                job.run_ms += m.get("Executor Run Time", 0)
                job.cpu_ns += m.get("Executor CPU Time", 0)
                job.gc_ms += m.get("JVM GC Time", 0)
                job.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                job.spill_bytes += m.get("Disk Bytes Spilled", 0)
    return sorted(jobs.values(), key=lambda j: j.job_id)


def layer_of(span_name: str) -> str | None:
    for layer in TRACED_LAYERS:
        if span_name == layer or span_name.startswith(layer + "."):
            return layer
    return None


def is_call(span_name: str) -> bool:
    """One span per call: the execute phase, or the whole call for layers
    timed as one span."""
    return not span_name.endswith(".construct")


def _by_group(spans) -> dict:
    out = {s.group: s for s in spans}
    out.update({s.attrs["job_group"]: s for s in spans if "job_group" in s.attrs})
    return out


def per_layer_table(jobs: list[Job], spans) -> dict:
    """Per-layer figures per call, the index build split by step (job
    seconds per build), and the count of jobs no benchmark span claims
    (overall, and while a registry entry was running)."""
    by_group = _by_group(spans)
    calls: dict[str, int] = {}
    for s in spans:
        layer = layer_of(s.name)
        if layer and is_call(s.name):
            calls[layer] = calls.get(layer, 0) + 1
    sums: dict[str, dict] = {}
    builds: dict[str, list[Job]] = {}
    unattributed = 0
    registry_unattributed = 0
    registry_windows = [
        (s.epoch * 1000.0, (s.epoch + s.seconds) * 1000.0) for s in spans if layer_of(s.name) == "registry"
    ]
    for j in jobs:
        span = by_group.get(j.group)
        if span is None:
            unattributed += 1
            if any(a <= j.submitted_ms <= b for a, b in registry_windows):
                registry_unattributed += 1
            continue
        layer = layer_of(span.name)
        if layer is None:
            continue
        if layer == "flagship.build_index":
            builds.setdefault(span.group, []).append(j)
        acc = sums.setdefault(layer, {"jobs": 0, "tasks": 0, **{k: 0.0 for k in TRACED_FIGURES}})
        acc["jobs"] += 1
        acc["tasks"] += j.tasks
        acc["executor_cpu_s"] += j.cpu_ns / 1e9
        acc["gc_s"] += j.gc_ms / 1000.0
        acc["python_s"] += max(0.0, j.run_ms / 1000.0 - j.cpu_ns / 1e9)
        acc["shuffle_write_bytes"] += j.shuffle_write_bytes
        acc["spill_bytes"] += j.spill_bytes
    out: dict[str, float] = {}
    for layer in TRACED_LAYERS:
        n = calls.get(layer, 0)
        acc = sums.get(layer, {})
        for fig in ("jobs", "tasks", *TRACED_FIGURES):
            out[f"{layer}.{fig}"] = acc.get(fig, 0) / n if n else 0.0
    out.update(build_steps(builds.values()))
    out["trace.unattributed_jobs"] = float(unattributed)
    out["registry.unattributed_jobs"] = float(registry_unattributed)
    out["trace.jobs"] = float(len(jobs))
    return out


def build_steps(builds) -> dict:
    """Job seconds per index build in each of ``BUILD_STEPS``; ``builds``
    holds the jobs of each build call."""
    steps = dict.fromkeys(BUILD_STEPS, 0.0)
    builds = list(builds)
    for jobs in builds:
        jobs = sorted(jobs, key=lambda j: j.job_id)
        km = [i for i, j in enumerate(jobs) if "KMeans" in j.call_site]
        first, last = (km[0], km[-1]) if km else (len(jobs), len(jobs) - 1)
        for i, j in enumerate(jobs):
            step = 0 if i < first else 1 if i <= last else 2
            steps[BUILD_STEPS[step]] += j.wall_s
    return {k: v / len(builds) if builds else 0.0 for k, v in steps.items()}


def call_sites(jobs: list[Job], spans) -> dict:
    """{layer or "unattributed": {call site: {"jobs", "wall_s"}}} — where
    inside each composite call the jobs came from."""
    by_group = _by_group(spans)
    out: dict[str, dict] = {}
    for j in jobs:
        span = by_group.get(j.group)
        key = "unattributed" if span is None else (layer_of(span.name) or span.name)
        site = out.setdefault(key, {}).setdefault(j.call_site, {"jobs": 0, "wall_s": 0.0})
        site["jobs"] += 1
        site["wall_s"] += j.wall_s
    return out


def layer_metrics(rec, extra: dict, jobs: list[Job] | None, spec: dict) -> dict:
    """Every per-layer metric of ``spec``: the median seconds per call of
    each benchmark span (``<span name>_s``), the workload's own figures,
    and, given the run's event-log jobs, the traced table. Metrics a
    workload does not exercise read 0."""
    import statistics

    out: dict[str, float] = {m["name"]: 0.0 for m in spec["per_layer"]}
    for name in {s.name for s in rec.spans}:
        out[f"{name}_s"] = float(statistics.median(rec.seconds(name)))
    out.update(extra)
    if jobs is not None:
        out.update(per_layer_table(jobs, rec.spans))
    return out
