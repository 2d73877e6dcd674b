"""Engine-free scaling CONTROL: a textbook Spark aggregation (range →
sha256 project → groupBy(1M keys) with max_by + count), no engine code,
run at two parallelism levels. Its N -> 4N efficiency measures what THIS
HOST allows any Spark workload, which calibrates the engine ladder in
`BENCH/BASELINE.md`: engine-relative efficiency = engine_eff /
control_eff. cgroup CPU accounting is printed alongside walls.

    PYTHONPATH=/root/repo python tools/control_shuffle.py [--masters local[4] local[16]] [--trials 2]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def cg_ns() -> int:
    for p in ("/sys/fs/cgroup/cpu.stat", "/sys/fs/cgroup/cpuacct/cpuacct.usage"):
        try:
            s = open(p).read()
            if "usage_usec" in s:
                return int(s.split("usage_usec")[1].split()[0]) * 1000
            return int(s)
        except (OSError, ValueError, IndexError):
            continue
    return 0


def run_master(master: str, trials: int, rows: int = 50_000_000) -> dict:
    os.environ.setdefault("SPARK_HOME", os.path.dirname(__import__("pyspark").__file__))
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    local_dir = f"/dev/shm/ctrl-{os.getpid()}"
    # the control must play by the SAME JVM rules as the engine bench:
    # cap the JVM's perceived CPU count at the level's core slice, or a
    # local[4] control free-rides GC/JIT threads on the other 28 host
    # cores exactly the way the engine bench no longer does
    import re as _re

    n_cores = int(_re.search(r"\d+", master).group())
    b = (
        SparkSession.builder.master(master)
        .appName("scaling-control")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        .config("spark.local.dir", local_dir)
        .config(
            "spark.driver.extraJavaOptions",
            f"-XX:+UseParallelGC -XX:ActiveProcessorCount={n_cores}",
        )
        # same shuffle codec as the engine session (session.py),
        # or the control and engine trade different byte volumes for the
        # same logical work and the pairing stops being apples-to-apples
        .config("spark.io.compression.codec", "zstd")
    )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    # --rows sizes the control so its wall MATCHES the engine replay's
    # at the paired level (round-2 caveat: a 3-10x shorter control
    # skims brief quiet windows a multi-minute replay cannot fit into,
    # biasing the control efficiency high). numPartitions scales with
    # rows so partition size stays constant.
    df = spark.range(rows, numPartitions=max(64, rows // 781_250)).select(
        (F.col("id") % 1_000_000).alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("v"),
    )

    def once() -> float:
        t0 = time.time()
        df.groupBy("k").agg(F.max_by("v", "k"), F.count(F.lit(1))).write.format(
            "noop"
        ).mode("overwrite").save()
        return time.time() - t0

    # JIT warmup excluded from timing — and run SMALL (the codegen/JIT
    # paths warm identically), so duration-matched big controls don't
    # pay a full-size untimed pass
    warm = spark.range(min(rows, 5_000_000), numPartitions=64).select(
        (F.col("id") % 1_000_000).alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("v"),
    )
    warm.groupBy("k").agg(F.max_by("v", "k"), F.count(F.lit(1))).write.format(
        "noop"
    ).mode("overwrite").save()
    runs = []
    for _ in range(trials):
        u0, t0 = cg_ns(), time.time()
        w = once()
        runs.append(
            {"wall_sec": round(w, 1), "busy_cores": round((cg_ns() - u0) / 1e9 / w, 1)}
        )
        print(f"  {master}: {runs[-1]}", file=sys.stderr)
    spark.stop()
    import shutil

    shutil.rmtree(local_dir, ignore_errors=True)
    return {"master": master, "runs": runs, "best_wall": min(r["wall_sec"] for r in runs)}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--masters", nargs="+", default=["local[4]", "local[16]"])
    ap.add_argument("--trials", type=int, default=2)
    ap.add_argument("--rows", type=int, default=50_000_000,
                    help="control input rows; size so the control wall matches"
                         " the engine replay wall (duration-matched control)")
    args = ap.parse_args()
    out = [run_master(m, args.trials, args.rows) for m in args.masters]
    res = {"control": out}
    if len(out) == 2:
        import re

        def cores(m):
            return int(re.search(r"\d+", m["master"]).group())

        lo, hi = sorted(out, key=cores)
        res["efficiency"] = round(
            (lo["best_wall"] / hi["best_wall"]) / (cores(hi) / cores(lo)), 3
        )
    print(json.dumps(res))


if __name__ == "__main__":
    main()
