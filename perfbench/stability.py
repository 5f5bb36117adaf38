#!/usr/bin/env python3
"""Stability command: runs workloads repeatedly, one seed per run, and
reports for every end-to-end metric the median, the quartiles and the
quartile spread as a share of the median, next to the bound BENCHMARK.json
fixes for it. Also lists each run's host steal share (the mean of its
passes) and its failed share.

    python3 perfbench/stability.py [--workload NAME ...] [--runs 10]
        [--first-seed 1]

Run from the root of a checkout. Each run is one `perfbench/run.py` call
of BENCHMARK.json's `run_seconds`, the length the bounds hold for.
"""
import argparse
import json
import pathlib
import re
import statistics
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
BOUNDS = {m["name"]: m["bound"] for m in SPEC["end_to_end"]}
PASS_STEAL = re.compile(r"^pass \d+ .*steal_pct=([0-9.]+)")


def one_run(workload, seed):
    cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(SPEC["run_seconds"]), "--trace", "0"]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed}: run.py exited {p.returncode}")
    steal = [float(m.group(1)) for m in map(PASS_STEAL.match, lines) if m]
    return json.loads(lines[-1]), steal


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), q1, q3, (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append",
                    help="repeatable; default: every workload in BENCHMARK.json")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    a = ap.parse_args()
    workloads = a.workload or [w["name"] for w in SPEC["workloads"]]
    worst = {}
    for w in workloads:
        runs = []
        for k in range(a.runs):
            seed = a.first_seed + k
            res, steal = one_run(w, seed)
            mean_steal = statistics.fmean(steal) if steal else 0.0
            runs.append(res)
            print(f"{w} seed {seed}: correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']} "
                  f"steal_pct={mean_steal:.2f} " +
                  " ".join(f"{n}={m['value']:.4g}" for n, m in res["metrics"].items()),
                  flush=True)
        failed = sorted({r["failed"] / r["attempted"] for r in runs})
        print(f"{w}: failed share per run {failed}; "
              f"all correct: {all(r['correct'] for r in runs)}")
        for name, bound in BOUNDS.items():
            vals = [r["metrics"][name]["value"] for r in runs]
            med, q1, q3, s = spread(vals)
            worst[(w, name)] = s / bound
            print(f"  {name:16s} median={med:.5g} q1={q1:.5g} q3={q3:.5g} "
                  f"n={len(vals)} iqr/median={s:.4f} bound={bound} "
                  f"({s / bound:.2f} of bound)")
    print("largest spread/bound: " + ", ".join(
        f"{w}/{n}={v:.2f}" for (w, n), v in sorted(worst.items(), key=lambda x: -x[1])[:5]))


if __name__ == "__main__":
    main()
