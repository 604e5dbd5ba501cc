"""Run the benchmark on seeds 1..N of every workload and summarize.

    python3 crawlbench/sweep.py --runs 10 [--sets 2]

Runs ``run.py`` (end-to-end metrics) once per (workload, seed), one run
at a time, and prints for every workload and metric its unit, median,
quartiles, highest supported percentile, sample count and spread
(interquartile range over median), plus ``ops_failed_ratio`` over all
runs; ``peak_rss_mb``, which has no bound, is read from each run's
table. With ``--sets 2`` the whole sweep runs twice and the last table
gives, for every end-to-end metric, how far the second set's median
moved from the first's, as a share of the first.

Exits 1 if a run failed, a spread (``setup_s`` excepted) exceeds the
metric's bound in BENCHMARK.json, or a later set's median is worse than
the first's by more than the bound.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from measure import summarize  # noqa: E402


def sweep(bench: dict, runs: int) -> tuple[dict, bool]:
    """One set: {workload: {metric: summary}}, and whether it passed."""
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    out, ok = {}, True
    for wl in [w["name"] for w in bench["workloads"]]:
        values: dict[str, list[float]] = {}
        units: dict[str, str] = {}
        attempted = failed = 0
        for seed in range(1, runs + 1):
            cmd = [*bench["command"], "--workload", wl, "--seed", str(seed),
                   "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = proc.stdout.strip().splitlines()
            if not lines or not lines[-1].startswith("{"):
                print(f"{wl} seed {seed}: no result (exit {proc.returncode})")
                print(proc.stderr[-2000:])
                ok = False
                continue
            res = json.loads(lines[-1])
            attempted += res["attempted"]
            failed += res["failed"]
            ok &= proc.returncode == 0 and res["correct"]
            for k, m in res["metrics"].items():
                values.setdefault(k, []).append(m["value"])
                units[k] = m["unit"]
            for line in lines:  # the run's table: [crawlbench] name unit median ...
                f = line.split()
                if f[1:2] == ["peak_rss_mb"]:
                    values.setdefault(f[1], []).append(float(f[3]))
                    units[f[1]] = f[2]
            print(f"{wl} seed {seed}: " + " ".join(
                f"{k}={v[-1]:.4g}" for k, v in values.items()), flush=True)
        print(f"\n{wl}: {'metric':20s} {'unit':6s} {'median':>11s} {'q1':>11s} "
              f"{'q3':>11s} {'p_hi':>16s} {'n':>3s} {'spread':>7s}")
        out[wl] = {}
        for k, xs in values.items():
            s = summarize(xs)
            s["spread"] = (s["q3"] - s["q1"]) / s["median"]
            out[wl][k] = s
            hi = "-" if s["p_hi"] is None else f"p{s['p_hi'][0]}={s['p_hi'][1]:.4g}"
            flag = ""
            if k in bounds and k != "setup_s" and s["spread"] > bounds[k]:
                flag, ok = f"  > bound {bounds[k]}", False
            print(f"{wl}: {k:20s} {units[k]:6s} {s['median']:11.5g} {s['q1']:11.5g} "
                  f"{s['q3']:11.5g} {hi:>16s} {s['n']:3d} {s['spread']:7.3f}{flag}")
        ratio = failed / attempted if attempted else float("nan")
        print(f"{wl}: {'ops_failed_ratio':20s} {'ratio':6s} {ratio:11.5g} "
              f"(failed {failed} of {attempted} operations)\n", flush=True)
    return out, ok


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=1)
    args = ap.parse_args()

    sets, ok = [], True
    for i in range(args.sets):
        print(f"=== set {i + 1} of {args.sets}: seeds 1-{args.runs} ===", flush=True)
        summary, set_ok = sweep(bench, args.runs)
        sets.append(summary)
        ok &= set_ok
    if args.sets > 1:
        print("=== median of each later set against the first ===")
        for m in bench["end_to_end"]:
            for wl in sets[0]:
                for i, later in enumerate(sets[1:], 2):
                    if m["name"] not in sets[0][wl] or m["name"] not in later.get(wl, {}):
                        continue  # no run of a set gave a result
                    a = sets[0][wl][m["name"]]["median"]
                    b = later[wl][m["name"]]["median"]
                    change = (b - a) / a
                    worse = change if m["better"] == "lower" else -change
                    flag = ""
                    if worse > m["bound"]:
                        flag, ok = f"  worse than bound {m['bound']}", False
                    print(f"{wl}: {m['name']:12s} set 1 {a:11.5g}  set {i} {b:11.5g}  "
                          f"change {change:+7.3f}{flag}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
