"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload ingest_backlog --seed 1 --seconds 8 --trace 0

Run from the root of a checkout: the engine is imported from there.
``--trace 0`` prints the end-to-end metrics; ``--trace 1`` measures an
untraced window, then the same window with every layer wrapped, and
prints the per-layer metrics (plus the tracing overhead between the
two). A human-readable summary goes to stderr. Per-run data lives under
``.perfbench/`` in the checkout and is removed at exit, except the
per-seed input cache and the span dumps of traced runs. The inputs are
generated (or found in the cache) by a child process started with
``--prepare`` before anything is measured, so the measured process only
reads cached files, whether the cache was cold or warm. Before it
exits, on every path, the Spark JVM and every other process the run
started have ended.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import harness  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
}
#: what throughput_per_s counts, per workload
WORK_UNIT = {"ingest_backlog": "events", "read_mix": "requests"}


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORK_UNIT))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--prepare", action="store_true",
                    help="only generate and cache the inputs, then exit")
    return ap.parse_args(argv)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def main(argv=None) -> int:
    args = parse(argv)
    try:
        import pyspark  # noqa: F401

        import __spark_entry__  # noqa: F401
        from etl_kafka_project_spark.session import build_session  # noqa: F401
    except ImportError as e:
        log(f"cannot import the engine from {ROOT}: {e}")
        return 2

    from perfbench import trace, workloads

    base = os.path.join(ROOT, ".perfbench")
    cache = os.path.join(base, "cache")
    if args.prepare:
        workloads.WORKLOADS[args.workload](
            workloads.Ctx(None, "", cache, args.seed, args.seconds))
        return 0
    t = time.perf_counter()
    subprocess.run([sys.executable, os.path.abspath(__file__), *(argv or sys.argv[1:]),
                    "--prepare"], stdout=sys.stderr, check=True)
    log(f"inputs: {time.perf_counter() - t:.2f}s (child process)")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        with harness.PeakRss() as rss:
            ctx = workloads.Ctx(None, work, cache, args.seed, args.seconds)
            t = time.perf_counter()
            spark = harness.start_session(work)
            session_s = time.perf_counter() - t
            ctx.spark = spark
            wl = workloads.WORKLOADS[args.workload](ctx)  # reads the cached inputs

            t = time.perf_counter()
            wl.one_off_setup()
            one_off_s = time.perf_counter() - t
            units = []
            for _ in range(wl.reps):
                t = time.perf_counter()
                wl.setup_unit()
                units.append(time.perf_counter() - t)
            setup_s = session_s + one_off_s + statistics.median(units)
            log(f"setup: session {session_s:.2f}s + one-off {one_off_s:.2f}s"
                f" + median unit of {[round(u, 2) for u in units]}s")

            t = time.perf_counter()
            windows = [wl.window()]
            if args.trace:
                tracer = trace.Tracer()
                ctx.tracer = tracer
                mark = harness.last_stage_id(spark)
                tracer.install()
                try:
                    windows.append(wl.window())
                finally:
                    tracer.uninstall()
                stages = harness.stage_totals(spark, mark)
                tracer.dump(os.path.join(base, "traces", f"{args.workload}-seed{args.seed}.jsonl"))
            w = windows[-1]
            log(f"window(s): {time.perf_counter() - t:.2f}s")
        # correctness, outside every timed window and the memory peak
        t = time.perf_counter()
        failed = sum(x.failed + sum(c() for c in x.checks) for x in windows)
        attempted = sum(x.attempted for x in windows)
        log(f"checks: {time.perf_counter() - t:.2f}s")
        if args.trace:
            dead = sum(sum(d["dead_letters"].values())
                       for job, _ in w.jobs for d in workloads._lineage(job))
            layers = dict.fromkeys(trace.layer_names(workloads.BENCH_QUERIES), 0.0)
            layers.update(trace.layer_metrics(
                tracer.spans, w, windows[0].latency(), stages, dead))
            layers.update({
                "minilake.space_amp": w.notes.get("space_amp", 0.0),
                "setup.session_s": session_s, "setup.one_off_s": one_off_s,
                "setup.unit_median_s": statistics.median(units),
                "latency.samples": len(w.samples),
            })
            metrics = {k: {"value": float(v), "unit": _unit(k)} for k, v in layers.items()}
        else:
            values = {
                "setup_s": setup_s,
                "peak_rss_mb": rss.mb,
                "throughput_per_s": w.work / w.wall,
                "latency_p50_ms": 1000.0 * w.latency(),
            }
            metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
        _summary(args, metrics, attempted, failed, w)
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            t = time.perf_counter()
            harness.stop_session(spark)
            log(f"session stopped: {time.perf_counter() - t:.2f}s")
        shutil.rmtree(work, ignore_errors=True)


def _unit(name: str) -> str:
    if name.endswith(("_ms", ".ms")):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes") or "bytes_" in name:
        return "bytes"
    if name.endswith(("share", "space_amp", "_per_commit", "_per_lookup")):
        return "ratio"
    return "count"


def _summary(args, metrics, attempted, failed, w) -> None:
    from perfbench import stats

    log(f"{args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    for k, v in metrics.items():
        log(f"  {k:45s} {v['value']:14.4f} {v['unit']}")
    log(f"  throughput counts {WORK_UNIT[args.workload]}; latency_p50_ms is the geometric mean"
        f" of the medians of {len(w.by_kind)} kind(s), {len(w.samples)} samples")
    log(f"  failed_share = {failed}/{attempted} = {failed / max(1, attempted):.4f}")
    for kind, xs in w.by_kind.items():
        pct, val = stats.tail(xs)
        log(f"  {kind}: median {1000 * stats.percentile(xs, 50):.1f} ms over {len(xs)}"
            + (f", highest percentile with >=10 beyond: p{pct:g} = {1000 * val:.1f} ms"
               if pct is not None else ""))
    for k, v in w.notes.items():
        log(f"  note {k}: {v}")


def _terminated(signum, frame):
    raise SystemExit(128 + signum)  # so every ``finally`` runs


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _terminated)
    harness.become_subreaper()
    try:
        rc = main()
    finally:
        harness.reap_descendants()
    sys.exit(rc)
