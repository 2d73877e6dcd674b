"""Scaling-efficiency evidence for the BASELINE.json north rule
(throughput efficiency >= 0.8 from N to 4N): the same CDC replay job, on
the same input, at local[N] and local[4N] threads of one JVM.

The host is shared and noisy, so each level runs ``--trials`` times,
interleaved, behind a load gate (and the optional ``--membw-gate``), and
the MINIMUM wall is scored. Each trial is a fresh ``python bench.py``
subprocess, followed at the same level by an engine-free control
(``tools/control_shuffle.py``), so engine-relative efficiency (engine /
control) is read under the same noise.

Each campaign is written once, to
``BENCH/archive/scaling-<profile>-<lo>to<hi>-<UTC stamp>.json``, with its
settings under ``args`` and an empty ``note`` to fill in by hand. The
archive is the only record: ``BENCH/BASELINE.md`` is hand-written above
``MARKER`` and rendered from the archive below it.

    PYTHONPATH=. python tools/scaling_bench.py --profile compute-weighted-small \
        --cpus 2 8 --trials 4 --load-gate 0.6 --membw-gate 6.3
    python -c "from tools.scaling_bench import write_report; write_report()"
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ARCHIVE = os.path.join(REPO, "BENCH", "archive")
REPORT = os.path.join(REPO, "BENCH", "BASELINE.md")
#: BASELINE.md is hand-written above this line and rendered below it
MARKER = "<!-- generated below -->"

PROFILES = {
    # ~2.2 KB content/event — the default bench stream, in 2 big epochs
    # (see compute-weighted note on the per-trigger serial floor)
    "content-heavy": {
        "SPARK_GRAFT_BENCH_N_EVENTS": "3200000",
        "SPARK_GRAFT_BENCH_N_KEYS": "300000",
        "SPARK_GRAFT_BENCH_FILES_PER_TRIGGER": "64",
    },
    # ~150 B content/event: sha256 + fold arithmetic dominate; total
    # bytes moved drop ~15x so the single-host memory bus is not the
    # cap at 16 cores. 4x the events in 2 BIG epochs (6.4M each):
    # the per-trigger serial floor (driver planning/codegen + offset
    # log + snapshot commit, ~1-4 s — identical on a real cluster,
    # which is why production CDC replays run big micro-batches) must
    # not dominate the parallel work at the 4N level.
    "compute-weighted": {
        "SPARK_GRAFT_BENCH_N_EVENTS": "12800000",
        "SPARK_GRAFT_BENCH_N_KEYS": "1200000",
        "SPARK_GRAFT_BENCH_MIN_LINES": "2",
        "SPARK_GRAFT_BENCH_MAX_LINES": "4",
        "SPARK_GRAFT_BENCH_N_SEGMENTS": "256",
        "SPARK_GRAFT_BENCH_FILES_PER_TRIGGER": "128",
    },
    # half-size compute-weighted stream for low-core pairs (2 -> 8):
    # both levels sit far below the measured ~13.5-core memory and
    # ~22-core compute ceilings, so the pair isolates engine scaling;
    # halving events keeps a local[2] full replay to ~2 min/trial
    "compute-weighted-small": {
        "SPARK_GRAFT_BENCH_N_EVENTS": "6400000",
        "SPARK_GRAFT_BENCH_N_KEYS": "600000",
        "SPARK_GRAFT_BENCH_MIN_LINES": "2",
        "SPARK_GRAFT_BENCH_MAX_LINES": "4",
        "SPARK_GRAFT_BENCH_N_SEGMENTS": "128",
        "SPARK_GRAFT_BENCH_FILES_PER_TRIGGER": "64",
    },
    # same epoch SIZE as compute-weighted-small (3.2M events/epoch) but
    # FOUR epochs: does full-replay efficiency converge on the sustained
    # metric as more epochs amortize the per-replay constants?
    "compute-weighted-small-4ep": {
        "SPARK_GRAFT_BENCH_N_EVENTS": "12800000",
        "SPARK_GRAFT_BENCH_N_KEYS": "1200000",
        "SPARK_GRAFT_BENCH_MIN_LINES": "2",
        "SPARK_GRAFT_BENCH_MAX_LINES": "4",
        "SPARK_GRAFT_BENCH_N_SEGMENTS": "256",
        "SPARK_GRAFT_BENCH_FILES_PER_TRIGGER": "64",
    },
}

#: ladder-wide bench knobs: a small UNTIMED warmup replay first (the
#: criterion is SUSTAINED throughput; cold first-epoch JIT/codegen cost
#: is constant per JVM and biases the N vs 4N ratio), and ONE in-bench
#: CDC trial — this harness already interleaves load-gated trials and
#: scores the minimum, so in-bench repetition just doubles wall time.
LADDER_ENV = {
    "SPARK_GRAFT_BENCH_WARMUP": "1",
    "SPARK_GRAFT_BENCH_CDC_TRIALS": "1",
}


def loadavg() -> float:
    return float(open("/proc/loadavg").read().split()[0])


def membw_probe() -> float:
    """Single-thread memory-bandwidth probe (GB/s, best of 3 200-MB
    copies). /proc/loadavg only sees THIS VM; the physical host is
    shared at the hypervisor level, and neighbor VMs steal exactly one
    thing a Spark shuffle needs — memory bandwidth. A probed trial
    records what the host could actually move at trial start, and the
    optional --membw-gate refuses to start trials in a starved window
    (measured here: ~8 GB/s contended vs ~2x that quiet; the 0.2-
    efficiency control campaign of 2026-08-17 18:25 ran at probe ~8)."""
    import numpy as np

    a = np.ones(25_000_000)  # 200 MB of float64
    best = 0.0
    for _ in range(3):
        t0 = time.perf_counter()
        b = a.copy()
        best = max(best, a.nbytes * 2 / (time.perf_counter() - t0) / 1e9)
        del b
    return round(best, 2)


def wait_for_quiet(gate: float, max_wait_s: float, membw_gate: float = 0.0) -> float:
    """The host is shared twice over: /proc/loadavg sees this VM's own
    runnable tasks, and ``membw_probe`` sees what neighbor VMs (invisible
    to loadavg) leave of the memory bus. Hold each trial until the
    1-min load drops under ``gate`` AND (when ``membw_gate`` > 0) the
    probe clears it, or the wait budget runs out."""
    t0 = time.time()
    while time.time() - t0 < max_wait_s:
        ld = loadavg()
        if ld > gate:
            print(f"  host load {ld} > {gate}, waiting ...", file=sys.stderr, flush=True)
            time.sleep(20)
            continue
        if membw_gate > 0 and (bw := membw_probe()) < membw_gate:
            print(
                f"  membw {bw} GB/s < {membw_gate} (neighbor-VM pressure), waiting ...",
                file=sys.stderr,
                flush=True,
            )
            time.sleep(30)
            continue
        break
    return loadavg()


def run_trial(level: dict, profile: str) -> dict:
    env = dict(
        os.environ,
        SPARK_GRAFT_BENCH_ONLY_CDC="1",
        PYTHONPATH=REPO,
        **LADDER_ENV,
        **PROFILES[profile],
        SPARK_GRAFT_CPUS=str(level["cores"]),
    )
    load_at_start = loadavg()
    membw_at_start = membw_probe()
    t0 = time.time()
    try:
        out = subprocess.run(
            [sys.executable, os.path.join(REPO, "bench.py")],
            env=env,
            capture_output=True,
            text=True,
            timeout=2400,
            cwd=REPO,
        )
    except subprocess.TimeoutExpired:
        # a neighbor-swamped trial that outran the budget is a bad
        # sample, not a campaign-fatal error: min-of-trials discards it
        print(f"  trial timed out (load {loadavg()}) — discarded", file=sys.stderr)
        return {"events": 0, "epochs": 0, "wall_sec": 9e9, "events_per_sec": 0.0,
                "epoch_walls": [], "timed_out": True, "host_load_at_start": load_at_start,
                "membw_gbps_at_start": membw_at_start,
                "trial_wall": round(time.time() - t0, 1)}
    try:
        line = out.stdout.strip().splitlines()[-1]
        d = json.loads(line)
    except (IndexError, json.JSONDecodeError):
        raise RuntimeError(
            f"bench.py produced no JSON for {level['name']}:\n{out.stderr[-3000:]}"
        )
    d["cdc"]["host_load_at_start"] = load_at_start
    d["cdc"]["membw_gbps_at_start"] = membw_at_start
    d["cdc"]["trial_wall"] = round(time.time() - t0, 1)
    return d["cdc"]


def run_control(level: dict, rows: int) -> dict:
    """One engine-free control trial at ``level``'s thread count."""
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "control_shuffle.py"),
         "--masters", level["name"], "--trials", "1", "--rows", str(rows)],
        env=dict(os.environ, PYTHONPATH=REPO),
        capture_output=True,
        text=True,
        timeout=1200,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])["control"][0]["runs"][0]


def efficiency(walls: dict, lo: dict, hi: dict) -> float:
    return round((walls[lo["name"]] / walls[hi["name"]]) / (hi["cores"] / lo["cores"]), 3)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--profile", choices=sorted(PROFILES), default="content-heavy")
    ap.add_argument("--trials", type=int, default=3)
    ap.add_argument("--cpus", type=int, nargs="+", default=[4, 8, 16, 32])
    ap.add_argument("--load-gate", type=float, default=4.0)
    ap.add_argument(
        "--membw-gate",
        type=float,
        default=0.0,
        help="GB/s floor from membw_probe(); 0 disables. Catches"
        " neighbor-VM memory-bus pressure that /proc/loadavg cannot see",
    )
    ap.add_argument("--max-wait", type=float, default=600.0)
    ap.add_argument(
        "--control-rows",
        type=int,
        default=50_000_000,
        help="control input rows: size the control wall to MATCH the engine"
        " replay wall (a shorter control skims quiet windows, biasing it high)",
    )
    args = ap.parse_args()

    levels = [{"name": f"local[{c}]", "cores": c} for c in sorted(set(args.cpus))]
    runs: dict[str, list[dict]] = {lv["name"]: [] for lv in levels}
    controls: dict[str, list[dict]] = {lv["name"]: [] for lv in levels}
    for t in range(args.trials):
        for lv in levels:
            ld = wait_for_quiet(args.load_gate, args.max_wait, args.membw_gate)
            print(f"trial {t + 1}/{args.trials} {lv['name']} [{args.profile}] (load {ld}) ...",
                  file=sys.stderr, flush=True)
            r = run_trial(lv, args.profile)
            print(f"  -> {r['wall_sec']}s, {r['events_per_sec']} ev/s", file=sys.stderr)
            runs[lv["name"]].append(r)
            wait_for_quiet(args.load_gate, args.max_wait, args.membw_gate)
            c = run_control(lv, args.control_rows)
            print(f"  control -> {c}", file=sys.stderr)
            controls[lv["name"]].append(c)

    best = {n: min(rs, key=lambda r: r["wall_sec"]) for n, rs in runs.items()}
    walls = {n: r["wall_sec"] for n, r in best.items()}
    cwalls = {n: min(r["wall_sec"] for r in rs) for n, rs in controls.items()}
    pairs = [(lo, hi) for lo in levels for hi in levels if hi["cores"] == 4 * lo["cores"]]
    # the headline pair is the lowest level and 4x it
    head = next(((lo, hi) for lo, hi in pairs if lo is levels[0]), None)
    headline = efficiency(walls, *head) if head else None
    ceff = efficiency(cwalls, *head) if head else None
    record = {
        "note": "",
        "args": vars(args),
        "profile": args.profile,
        "events": best[levels[0]["name"]]["events"],
        "epochs": best[levels[0]["name"]]["epochs"],
        "ladder": {
            lv["name"]: {
                "units": lv["cores"],
                "wall_sec": best[lv["name"]]["wall_sec"],
                "events_per_sec": best[lv["name"]]["events_per_sec"],
            }
            for lv in levels
        },
        "efficiency": {
            f"{lo['name']} -> {hi['name']}": efficiency(walls, lo, hi) for lo, hi in pairs
        },
        "headline_efficiency": headline,
        "trials": args.trials,
        "all_runs": runs,
        "control": {"best_walls": cwalls, "efficiency": ceff, "all_runs": controls},
        "engine_relative_efficiency": round(headline / ceff, 2) if ceff else None,
    }
    stamp = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
    lo_c, hi_c = levels[0]["cores"], levels[-1]["cores"]
    out_path = os.path.join(ARCHIVE, f"scaling-{args.profile}-{lo_c}to{hi_c}-{stamp}.json")
    os.makedirs(ARCHIVE, exist_ok=True)
    with open(out_path, "w") as f:
        json.dump(record, f, indent=1)
    print(f"wrote {out_path}; write its note, then re-render", file=sys.stderr)
    write_report()
    print(json.dumps({k: v for k, v in record.items() if k != "all_runs"}))


def best_epoch_walls(s: dict) -> dict[str, float]:
    """Fastest single epoch per level, over every trial."""
    return {
        n: min(w for r in rs for w in r.get("epoch_walls", []))
        for n, rs in s["all_runs"].items()
    }


def sustained_eff(s: dict) -> float | None:
    """Best-single-epoch N->4N efficiency for a two-level ladder: the
    pre-declared criterion metric (sustained merge throughput, free of
    JVM warm-up and of the noise a full replay must integrate)."""
    if len(s["ladder"]) != 2:
        return None
    (lo_n, lo), (hi_n, hi) = s["ladder"].items()
    best = best_epoch_walls(s)
    return round((best[lo_n] / best[hi_n]) / (hi["units"] / lo["units"]), 3)


def load_records() -> list[tuple[str, dict]]:
    """Every archived campaign as (file name, record), in natural name order."""
    def natural(p: str) -> list:
        return [int(t) if t.isdigit() else t for t in re.split(r"(\d+)", p)]

    records = []
    for p in sorted(glob.glob(os.path.join(ARCHIVE, "scaling-*.json")), key=natural):
        with open(p) as f:
            records.append((os.path.basename(p), json.load(f)))
    return records


def units(s: dict) -> list[int]:
    return [row["units"] for row in s["ladder"].values()]


def criterion_passes(records: list[tuple[str, dict]]) -> list[tuple[str, float]]:
    """The 2->8 records whose sustained efficiency reads >= 0.8."""
    return [
        (name, e)
        for name, s in records
        if units(s) == [2, 8] and (e := sustained_eff(s)) is not None and e >= 0.8
    ]


def _span(values) -> str:
    values = [v for v in values if v is not None]
    return f"{min(values)}–{max(values)}" if values else "—"


def _cell(v) -> str:
    return "—" if v is None else str(v)


def render_report() -> str:
    """BASELINE.md: its hand-written part, then the records rendered."""
    with open(REPORT) as f:
        head = f.read().split(MARKER)[0].rstrip()
    records = load_records()
    passes = criterion_passes(records)
    n_pair = sum(units(s) == [2, 8] for _, s in records)
    md = [
        head,
        "",
        MARKER,
        "",
        "## Campaign records",
        "",
        f"Rendered by `tools/scaling_bench.py` from the {len(records)} records in"
        " `BENCH/archive/`. Edit a record's `note`, never this section.",
        "",
        f"**2→8 sustained readings >= 0.8: {len(passes)} of {n_pair} 2→8 records** — "
        + ", ".join(f"{e} (`{name}`)" for name, e in passes)
        + ".",
        "",
        "| record | pair | events × epochs | trials | full | sustained |"
        " 4N peak sustained ev/s | control | engine-relative |"
        " trial-start load | trial-start membw GB/s | note |",
        "|---|---|---|---|---|---|---|---|---|---|---|---|",
    ]
    for name, s in records:
        trials = [r for rs in s["all_runs"].values() for r in rs]
        hi_n = list(s["ladder"])[-1]
        peak = s["events"] / s["epochs"] / best_epoch_walls(s)[hi_n]
        md.append(
            f"| `{name}` | {'→'.join(map(str, units(s)))} |"
            f" {s['events']:,} × {s['epochs']} | {s['trials']} |"
            f" {_cell(s['headline_efficiency'])} | {_cell(sustained_eff(s))} |"
            f" {peak:,.0f} | {_cell(s.get('control', {}).get('efficiency'))} |"
            f" {_cell(s.get('engine_relative_efficiency'))} |"
            f" {_span(r.get('host_load_at_start') for r in trials)} |"
            f" {_span(r.get('membw_gbps_at_start') for r in trials)} | {s['note']} |"
        )
    md += ["", "## Trials", ""]
    for name, s in records:
        ctrl = s.get("control", {}).get("all_runs", {})
        md += [
            f"<details><summary><code>{name}</code></summary>",
            "",
            "| level | trial | wall (s) | events/s | epoch walls (s) | load at start |"
            " membw GB/s at start | control wall (s) |",
            "|---|---|---|---|---|---|---|---|",
        ]
        for level, rs in s["all_runs"].items():
            cs = ctrl.get(level, [])
            for i, r in enumerate(rs):
                md.append(
                    f"| {level} | {i + 1} | {r['wall_sec']} | {r['events_per_sec']} |"
                    f" {', '.join(map(str, r.get('epoch_walls', [])))} |"
                    f" {_cell(r.get('host_load_at_start'))} |"
                    f" {_cell(r.get('membw_gbps_at_start'))} |"
                    f" {cs[i]['wall_sec'] if i < len(cs) else '—'} |"
                )
        md += ["", "</details>", ""]
    return "\n".join(md)


def write_report() -> None:
    text = render_report()  # reads the hand-written part before rewriting
    with open(REPORT, "w") as f:
        f.write(text)


if __name__ == "__main__":
    main()
