"""Steadiness check: run every workload of BENCHMARK.json repeatedly,
each run with another seed, and print each end-to-end metric's median
and quartiles next to its bound.

    python3 perfbench/steady.py --runs 10 [--sets 2] [--workloads ingest_backlog]

A metric is steady when its quartile spread, (q3 - q1) / median, is
within a third of its bound, and too noisy when it is beyond it. With ``--sets 2`` a second set of
runs follows and each metric's second median must not be worse than
the first by more than its bound. Run from the root of a checkout; the
raw results are written to ``.perfbench/steady.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import stats  # noqa: E402


def run_once(bench: dict, workload: str, seed: int) -> dict:
    cmd = [*bench["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}: {p.stderr[-2000:]}")
    out = json.loads(lines[-1])
    out["wall_s"] = time.time() - t0
    return out


def worse_by(metric: dict, first: float, second: float) -> float:
    """How much worse ``second`` is than ``first``, as a share of it."""
    d = (second - first) if metric["better"] == "lower" else (first - second)
    return d / first if first else 0.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1, choices=(1, 2))
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--workloads", nargs="*")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = args.workloads or [w["name"] for w in bench["workloads"]]
    results: dict = {}
    ok = True
    for name in names:
        sets = []
        for s in range(args.sets):
            runs = []
            for i in range(args.runs):
                r = run_once(bench, name, args.seed0 + i)
                runs.append(r)
                vals = " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
                print(f"{name} set {s + 1} seed {args.seed0 + i}: wall {r['wall_s']:.0f}s"
                      f" correct={r['correct']} failed={r['failed']}/{r['attempted']} {vals}",
                      file=sys.stderr, flush=True)
            sets.append(runs)
        results[name] = sets
        print(f"\n{name}: {args.runs} runs x {args.sets} set(s)")
        print(f"  {'metric':18s} {'set':>3s} {'q1':>12s} {'median':>12s} {'q3':>12s}"
              f" {'spread':>8s} {'bound':>6s}  verdict")
        for m in bench["end_to_end"]:
            medians = []
            for s, runs in enumerate(sets):
                vals = [r["metrics"][m["name"]]["value"] for r in runs]
                q1, med, q3, spread = stats.quartile_spread(vals)
                medians.append(med)
                if spread <= m["bound"] / 3:
                    verdict = "steady"
                elif spread <= m["bound"]:
                    verdict = "within bound, not steady"
                else:
                    verdict = "TOO NOISY"
                    ok = False
                print(f"  {m['name']:18s} {s + 1:3d} {q1:12.4f} {med:12.4f} {q3:12.4f}"
                      f" {spread:8.4f} {m['bound']:6.3f}  {verdict}")
            if len(medians) == 2:
                drift = worse_by(m, *medians)
                good = drift <= m["bound"]
                ok &= good
                print(f"  {m['name']:18s} second median worse by {drift:+.4f}"
                      f" (bound {m['bound']}) {'ok' if good else 'DRIFT'}")
        failed = sum(r["failed"] for runs in sets for r in runs)
        attempted = sum(r["attempted"] for runs in sets for r in runs)
        walls = [r["wall_s"] for runs in sets for r in runs]
        print(f"  failed_share {failed}/{attempted}; run wall median"
              f" {stats.percentile(walls, 50):.0f}s, max {max(walls):.0f}s")
        ok &= failed == 0
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    with open(os.path.join(ROOT, ".perfbench", "steady.json"), "w") as f:
        json.dump(results, f)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
