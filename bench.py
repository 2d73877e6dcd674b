"""Benchmark harness (driver contract): run the headline queries + a CDC
replay at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS], print ONE JSON line:

    {"metric": ..., "value": total_sec, "unit": "sec",
     "queries": {name: sec, ...}, "sf": ...,
     "cdc": {"events": N, "events_per_sec": X, "epochs": E}}

The CDC replay is the engine's core workload: a deterministic
``code_changes`` stream (cached under /tmp keyed by its spec) replayed
through the streaming foreachBatch MERGE into a fresh minilake table.
Query timings use the noop sink so Catalyst cannot prune the measured
work. Scaling evidence (local[N] vs local[4N]) lives in
``tools/scaling_bench.py`` → ``BENCH/BASELINE.md``.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: the sandbox's /tmp disk is slow and SHARED (~40-180 MB/s); the replay
#: is IO-heavy, so on-disk runs measure the neighbors' IO, not the
#: engine. tmpfs (/dev/shm, RAM-backed) stands in for the NVMe/DFS a
#: real cluster has; fall back to /tmp when absent.
import pathlib

BENCH_ROOT = (
    "/dev/shm/spark_graft_bench"
    if pathlib.Path("/dev/shm").is_dir()
    else "/tmp/spark_graft_bench"
)

BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "window_top3_orders",
    "lww_latest_per_key",
    "minhash_signatures",
    "simhash",
    "ann_bruteforce_topk",
    "sha256_documents",
]

#: 32 segments / 8 per trigger → 4 epochs, each scanning 8+ files in
#: parallel (single-row-group parquet segments are unsplittable, so scan
#: parallelism == files per trigger; SURVEY §7.3.4 wants ≥ cores busy).
#: Sized so one replay takes tens of seconds — short enough to repeat
#: trials on this noisy shared host, long enough to amortize trigger cost.
#: default sized for the per-round driver run (tens of seconds under
#: host noise); tools/scaling_bench.py overrides to the 3.2M-event
#: stream via SPARK_GRAFT_BENCH_N_EVENTS for the scaling ladder
#: content size knobs let tools/scaling_bench.py run a COMPUTE-WEIGHTED
#: variant (small payloads, sha256/fold-dominated) alongside the default
#: content-heavy one — the memory-bandwidth-bound default under-reports
#: single-host scaling (see BENCH/BASELINE.md host-ceiling section)
CDC_SPEC = dict(
    n_events=int(os.environ.get("SPARK_GRAFT_BENCH_N_EVENTS", "800000")),
    n_keys=int(os.environ.get("SPARK_GRAFT_BENCH_N_KEYS", "80000")),
    n_repos=60,
    n_segments=int(os.environ.get("SPARK_GRAFT_BENCH_N_SEGMENTS", "128")),
    min_lines=int(os.environ.get("SPARK_GRAFT_BENCH_MIN_LINES", "30")),
    max_lines=int(os.environ.get("SPARK_GRAFT_BENCH_MAX_LINES", "80")),
    seed=42,
)
#: epoch size: larger epochs amortize the per-trigger serial floor —
#: round-5 profiling decomposed it (snapshot commit ~10 ms, schema diff
#: ~0.2 ms, offset log + trigger gap ~170 ms, py4j expression
#: construction ~315 ms now memoized down to ~73 ms by
#: functions/exprcache.py) — on a real cluster this floor is identical,
#: which is why high-throughput CDC replays run big micro-batches
CDC_FILES_PER_TRIGGER = int(os.environ.get("SPARK_GRAFT_BENCH_FILES_PER_TRIGGER", "32"))


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def cached_stream(spec_kw: dict) -> str:
    """Generate (once) the bench change stream; cache by spec."""
    from etl_kafka_project_spark.cdc.fixtures import StreamSpec, generate_stream

    key = "-".join(f"{k}{v}" for k, v in sorted(spec_kw.items()))
    out = f"{BENCH_ROOT}/stream-{key}"
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    t0 = time.time()
    generate_stream(out, StreamSpec(**spec_kw))
    open(os.path.join(out, "_DONE"), "w").write("ok")
    log(f"stream generated in {time.time() - t0:.1f}s -> {out}")
    return out


def warmup_cdc(spark) -> None:
    """Small UNTIMED replay before the measured one: first-epoch walls
    are dominated by constant-cost JVM JIT/codegen warm-up (measured
    ~10 s regardless of cores), which biases the N vs 4N full-replay
    ratio — the 4N level's shorter walls absorb proportionally more of
    it. The criterion is SUSTAINED merge throughput; warming the same
    code paths on a tiny stream first makes every timed epoch a
    sustained one. Enabled via SPARK_GRAFT_BENCH_WARMUP=1 (the scaling
    ladder sets it; the per-round driver run keeps cold timings)."""
    spec = dict(CDC_SPEC, n_events=240_000, n_keys=24_000, n_segments=16)
    stream_dir = cached_stream(spec)
    run_cdc_replay(spark, stream_dir, cpus=0, _tag="warmup")


def run_cdc_replay(
    spark, stream_dir: str, cpus: int, watermark: str | None = None, _tag: str = ""
) -> dict:
    from etl_kafka_project_spark.cdc.merge import create_code_table
    from etl_kafka_project_spark.cdc.stream import ReplayJob
    from etl_kafka_project_spark.config import EngineConfig

    work = f"{BENCH_ROOT}/replay{_tag}-{cpus}-{time.time_ns()}"
    # FIXED bucket count across parallelism levels — the scaling
    # comparison must run the SAME job, only the cores differ
    cfg = EngineConfig(n_buckets=64, target_file_rows=200_000)
    create_code_table(spark, f"{work}/table", cfg)
    job = ReplayJob(
        table_root=f"{work}/table",
        stream_dir=stream_dir,
        checkpoint_dir=f"{work}/ckpt",
        config=cfg,
        max_files_per_trigger=CDC_FILES_PER_TRIGGER,
        emit_changelog=False,
        watermark=watermark,
    )
    t0 = time.time()
    stats = job.run(spark)
    wall = time.time() - t0
    n_events = sum(s.events_in for s in stats)
    shutil.rmtree(work, ignore_errors=True)
    return {
        "events": n_events,
        "epochs": len(stats),
        "wall_sec": round(wall, 3),
        "events_per_sec": round(n_events / wall, 1),
        # per-epoch merge walls: lets the scaling report separate JVM
        # warm-up (first epochs) from sustained throughput
        "epoch_walls": [round(s.wall_ms / 1000, 2) for s in stats],
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    stream_dir = cached_stream(CDC_SPEC)

    import __spark_entry__ as entrymod
    from etl_kafka_project_spark.session import build_session

    only_cdc = os.environ.get("SPARK_GRAFT_BENCH_ONLY_CDC") == "1"

    # single local JVM hosts all "executors": size the heap for the
    # machine, not Spark's 1g default — half its physical memory, at
    # most 24g, since the whole heap is pre-touched below
    # measured: a 48g G1 heap is 5-6x SLOWER and wildly unstable here
    # (region recommit/zeroing shows up as kernel time)
    host_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{max(1, min(24, host_gib // 2))}g")
    extra_conf = {
        "spark.driver.memory": driver_mem,
        # -Xms + AlwaysPreTouch: spark-submit passes only -Xmx, so the
        # heap starts tiny and the FIRST big epoch pays the growth to
        # steady state (mmap + kernel page zeroing + GC-heuristic churn —
        # measured as a ~2x slower epoch 0 that no amount of JIT warmup
        # removed); commit and pre-fault the whole heap at JVM start,
        # outside any measured window.
        # ActiveProcessorCount: without it the JVM sizes GC/JIT/netty
        # thread pools for ALL host cores, so a local[4] "cluster"
        # free-rides GC + JIT compilation on the cores outside its
        # nominal allocation — flattering the N level and understating
        # N -> 4N scaling. A real 4-core container gets this from cpuset
        # limits.
        "spark.driver.extraJavaOptions": f"-XX:+UseParallelGC -Xms{driver_mem}"
        f" -XX:+AlwaysPreTouch -XX:ActiveProcessorCount={cpus}",
        # shuffle/spill files on tmpfs too — see BENCH_ROOT comment.
        # PER-PROCESS dir: Spark registers a local dir it had to
        # create for recursive deletion at JVM shutdown, so two
        # sessions sharing one path wipe each other's shuffle files
        "spark.local.dir": os.path.join(BENCH_ROOT, f"spark-local-{os.getpid()}"),
    }

    spark = build_session(
        f"local[{cpus}]",
        # 2x cores: smooths stage tails; on a real cluster this config
        # scales with executor count the same way
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", 2 * cpus)),
        extra_conf=extra_conf,
    )
    queries = entrymod.queries()
    timings: dict[str, float] = {}
    trials: dict[str, list[float]] = {}

    # JVM warmup outside the measured window
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    # The driver runs this file ONCE per round on a shared noisy host
    # (identical replays measured 19.5-131 s depending on neighbors), so
    # single-trial walls are noise, not signal. Every headline number is
    # the MINIMUM of n trials — the same protocol tools/scaling_bench.py
    # uses — with the per-trial walls published alongside.
    n_trials = int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "3"))
    n_cdc_trials = int(os.environ.get("SPARK_GRAFT_BENCH_CDC_TRIALS", "2"))

    for name in [] if only_cdc else BENCH_QUERIES:
        walls = []
        for _ in range(n_trials):
            t0 = time.time()
            queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            walls.append(round(time.time() - t0, 3))
        trials[name] = walls
        timings[name] = min(walls)
        log(f"{name}: {timings[name]}s (trials: {walls})")

    if os.environ.get("SPARK_GRAFT_BENCH_WARMUP") == "1":
        t0 = time.time()
        warmup_cdc(spark)
        log(f"cdc warmup replay: {time.time() - t0:.1f}s (untimed)")

    cdc_runs = []
    for _ in range(n_cdc_trials):
        t0 = time.time()
        stats = run_cdc_replay(spark, stream_dir, cpus)
        cdc_runs.append((round(time.time() - t0, 3), stats))
        log(f"  cdc trial: {cdc_runs[-1][0]}s epochs={stats['epoch_walls']}")
    trials["cdc_replay"] = [w for w, _ in cdc_runs]
    best_wall, cdc = min(cdc_runs, key=lambda x: x[1]["wall_sec"])
    timings["cdc_replay"] = best_wall
    log(f"cdc_replay: {timings['cdc_replay']}s ({cdc['events_per_sec']} ev/s)"
        f" (trials: {trials['cdc_replay']})")

    # Variant row (not in the total, so the headline metric stays
    # comparable round-over-round): the same replay with a watermark
    # declared, so dropDuplicatesWithinWatermark runs every event
    # through the streaming state store ahead of the merge's own
    # re-delivery drop — publishes the cost of the
    # exactly-once-with-watermark configuration at bench scale.
    cdc_wm = None
    if not only_cdc and os.environ.get("SPARK_GRAFT_BENCH_SKIP_WATERMARK") != "1":
        t0 = time.time()
        cdc_wm = run_cdc_replay(spark, stream_dir, cpus, watermark="10 minutes")
        cdc_wm["wall_sec_total"] = round(time.time() - t0, 3)
        log(f"cdc_replay_watermarked: {cdc_wm['wall_sec_total']}s"
            f" ({cdc_wm['events_per_sec']} ev/s)")

    spark.stop()
    shutil.rmtree(os.path.join(BENCH_ROOT, f"spark-local-{os.getpid()}"), ignore_errors=True)
    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_plus_cdc_replay_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "trials": trials,
        "sf": sf,
        "cpus": cpus,
        "cdc": cdc,
    }
    if cdc_wm is not None:
        out["cdc_watermarked"] = cdc_wm
    print(json.dumps(out))


if __name__ == "__main__":
    main()
