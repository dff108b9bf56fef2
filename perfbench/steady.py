#!/usr/bin/env python3
"""Steadiness check: repeated runs of the benchmark on one commit.

    python3 perfbench/steady.py [--workloads a,b] [--runs 10] [--sets 2] [--seed-base 1000]

Runs every workload `--runs` times per set, each run with its own seed,
for `--sets` sets (distinct seeds in every set). For each end-to-end
metric it reports the median and quartiles of each set, the spread
(interquartile range as a share of the median, from
statistics.quantiles(values, n=4)), and whether:

  - the spread stays within the metric's bound in BENCHMARK.json
    (setup_s is exempt), and below a third of it ("steady");
  - the later sets' medians are no worse than the first set's by more
    than the bound ("agree").

The report lands in perfbench/.work/steady/. Exit code 0 when every
run was correct and every bound holds, 1 otherwise.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload, seed, seconds):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    wall = time.time() - t0
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    res = json.loads(lines[-1]) if lines else None
    return p.returncode, res, wall


def stats(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values), "values": values}


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seed-base", type=int, default=1000)
    a = ap.parse_args()
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    ok = True
    report = {"runs": a.runs, "sets": a.sets, "workloads": {}}
    for w in a.workloads.split(","):
        sets = []
        for s in range(a.sets):
            vals = {m: [] for m in metrics}
            for i in range(a.runs):
                seed = a.seed_base + 1000 * s + i
                code, res, wall = run_once(w, seed, spec["run_seconds"])
                good = code == 0 and res is not None and res["correct"]
                print(f"[steady] {w} set {s + 1} seed {seed}: exit {code}, "
                      f"{'correct' if good else 'FAILED'}, {wall:.1f} s", file=sys.stderr, flush=True)
                if not good:
                    ok = False
                    continue
                for m in metrics:
                    vals[m].append(res["metrics"][m]["value"])
            sets.append({m: stats(v) for m, v in vals.items() if len(v) >= 2})
        rows = {}
        for m, spec_m in metrics.items():
            if any(m not in st for st in sets):
                ok = False
                continue
            first = sets[0][m]
            row = {"sets": [st[m] for st in sets], "bound": spec_m["bound"]}
            spreads = [st[m]["spread"] for st in sets]
            row["within"] = m == "setup_s" or all(x <= spec_m["bound"] for x in spreads)
            row["steady"] = m == "setup_s" or all(x < spec_m["bound"] / 3 for x in spreads)
            sign = 1 if spec_m["better"] == "lower" else -1
            row["agree"] = all(sign * (st[m]["median"] - first["median"]) / first["median"]
                               <= spec_m["bound"] for st in sets[1:])
            ok = ok and row["within"] and row["agree"]
            rows[m] = row
            print(f"{w:20s} {m:18s} " + " | ".join(
                f"med {st[m]['median']:.4g} q1 {st[m]['q1']:.4g} q3 {st[m]['q3']:.4g} "
                f"spread {st[m]['spread']:.3f}" for st in sets) +
                f" | bound {spec_m['bound']} within={row['within']} steady={row['steady']} "
                f"agree={row['agree']}", flush=True)
        report["workloads"][w] = rows
    out = os.path.join(HERE, ".work", "steady")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, time.strftime("%Y%m%d-%H%M%S") + ".json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1)
    print(f"[steady] report: {os.path.relpath(path, ROOT)}; {'all bounds hold' if ok else 'FAILED'}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
