"""Benchmark entry point.

    python3 perfbench/run.py --workload fused_serve --seed 1 --seconds 15 --trace 0

Runs one seeded workload (``fused_serve`` or ``registry``, the two of
``BENCHMARK.json``, or ``ingest_serve``) against the ``fuserank_spark``
package of the checkout it sits in, checks the outputs, and prints as
its last stdout line one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones of ``BENCHMARK.json``; with ``--trace 1`` the run
records a Spark event log and the metrics are the per-layer ones; a
traced ``registry`` run then also runs ``ingest_serve``, whose figures
are per-layer only. Each run also leaves
``.perfbench_runs/<run>/result.json`` (every figure, the environment,
and in traced runs the per-layer table) for later diffing.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import sys
import time
import traceback
from dataclasses import dataclass

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402

WORKLOADS = ("fused_serve", "registry", "ingest_serve")
SPEC = os.path.join(harness.ROOT, "BENCHMARK.json")


@dataclass
class Context:
    spark: object
    rec: harness.Recorder
    run: harness.RunDir
    seed: int
    seconds: float
    session_s: float

    def log(self, msg: str) -> None:
        print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _workload(name: str):
    import importlib

    return importlib.import_module(f"perfbench.{name}")


def _require_package() -> None:
    """Fail before any work when the checkout lacks the package (a
    directory holding only the benchmark's own files)."""
    for rel in ("fuserank_spark/__init__.py", "__spark_entry__.py", "tools/check_correctness.py"):
        if not os.path.exists(os.path.join(harness.ROOT, rel)):
            raise SystemExit(f"perfbench: {rel} not found under {harness.ROOT}; run from a full checkout")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    _require_package()
    with open(SPEC) as f:
        spec = json.load(f)

    cores = len(os.sched_getaffinity(0))  # local[$(nproc)]
    cpu0 = harness.cpu_times()
    run = harness.RunDir(args.workload, args.seed, bool(args.trace))
    spark = None
    try:
        harness.configure_env(run, cores)
        rec = harness.Recorder(bool(args.trace))
        t0 = time.perf_counter()
        spark = harness.start_session(run, cores, bool(args.trace))
        session_s = time.perf_counter() - t0
        rec.sc = spark.sparkContext
        ctx = Context(spark, rec, run, args.seed, args.seconds, session_s)
        out = _workload(args.workload).run(ctx)
        if args.trace and args.workload == "registry":
            # the IVF build, streaming and persisted-serve layers: too slow
            # for a workload of their own in the run budget (README.md)
            ing = _workload("ingest_serve").run(dataclasses.replace(ctx, session_s=0.0))
            out["attempted"] += ing["attempted"]
            out["failed"] += ing["failed"]
            out["named"].update({**ing["named"], "setup.ingest_serve_s": (ing["setup_s"], "s")})
            out["layers"].update(ing["layers"])
        ctx.log(f"workload done at {time.perf_counter() - t0:.1f} s")
        env = dict(harness.environment(spark, cores), steal_frac=harness.steal_frac(cpu0, harness.cpu_times()))
        rss = harness.peak_rss_mb(spark)
    finally:
        if spark is not None:
            harness.stop_session(spark)
        run.close()
    print(f"perfbench: session stopped at {time.perf_counter() - t0:.1f} s", file=sys.stderr, flush=True)

    from perfbench import trace

    e2e = dict(out["e2e"], setup_s=out["setup_s"])
    jobs = trace.read_jobs(trace.event_log_file(run.sub("eventlog"))) if args.trace else None
    per_layer = trace.layer_metrics(rec, dict(out["layers"], peak_rss_mb=rss), jobs, spec)
    if args.trace:
        # tracing overhead = these minus the same metrics of untraced runs
        per_layer.update({f"traced.{k}": v for k, v in e2e.items()})
    attempted, failed = int(out["attempted"]), int(out["failed"])
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = per_layer if args.trace else e2e
    metrics = {m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted}
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "environment": env,
        "failed_frac": failed / max(attempted, 1),
        "named": {k: {"value": v, "unit": u} for k, (v, u) in {**out["named"], "setup.session_s": (session_s, "s")}.items()},
        "end_to_end": e2e,
        "per_layer": per_layer,
        "call_sites": trace.call_sites(jobs, rec.spans) if jobs is not None else None,
        "spans": [
            {"name": sp.name, "group": sp.group, "t": sp.start - rec.spans[0].start, "s": sp.seconds, **sp.attrs}
            for sp in rec.spans
        ],
    }
    with open(run.sub("result.json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    run.prune()
    print(json.dumps({"named": report["named"], "failed_frac": report["failed_frac"], "environment": env}))
    print(
        json.dumps(
            {
                "correct": failed == 0 and attempted > 0,
                "attempted": max(attempted, 1),
                "failed": failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except BaseException:
        traceback.print_exc()
        sys.exit(1)
