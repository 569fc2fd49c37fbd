#!/usr/bin/env python3
"""Run the benchmark over several seeds and report how steady it is.

    python3 perfbench/sweep.py [--workload W ...] [--seeds N] [--first-seed S] [--traced-seeds K]

For every workload (default: all of BENCHMARK.json), runs perfbench/run.py
untraced once per seed and prints, per end-to-end metric, the median, the
quartile spread as a share of the median (stats.spread) and that spread
over the metric's bound; a spread above a third of the bound is flagged.
With --traced-seeds K it also makes traced runs on the first K seeds and
prints the tracing overhead: the traced runs' end-to-end medians minus the
untraced ones. Results go to .bench_out/sweep.json.
"""

import argparse
import json
import os
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"{' '.join(cmd)} exited with {proc.returncode}:\n{proc.stdout}")
    out_dir = os.path.join(".bench_out", f"{workload}-seed{seed}-trace{trace}")
    with open(os.path.join(out_dir, "end_to_end.json")) as f:
        return json.load(f)


def main():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", action="append")
    p.add_argument("--seeds", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--traced-seeds", type=int, default=0)
    args = p.parse_args()
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    seeds = range(args.first_seed, args.first_seed + args.seeds)
    summary = {}
    for w in workloads:
        runs = []
        for seed in seeds:
            runs.append(run(w, seed, spec["run_seconds"], 0))
            print(f"{w} seed {seed}: {json.dumps(runs[-1])}", flush=True)
        rows = {}
        for m in spec["end_to_end"]:
            values = [r[m["name"]] for r in runs]
            sp = stats.spread(values)
            rows[m["name"]] = {"median": stats.median(values), "spread": sp, "bound": m["bound"],
                               "values": values}
            flag = "" if sp <= m["bound"] / 3 else "  <-- above a third of the bound"
            print(f"  {w} {m['name']}: median {stats.median(values):.6g} {m['unit']}, "
                  f"spread {sp:.4f} ({sp / m['bound']:.2f} of bound {m['bound']}){flag}")
        if args.traced_seeds:
            traced = [run(w, seed, spec["run_seconds"], 1) for seed in seeds[:args.traced_seeds]]
            for name, row in rows.items():
                t = stats.median([r[name] for r in traced])
                row["traced_median"] = t
                print(f"  {w} tracing overhead {name}: {t - row['median']:+.6g} "
                      f"({(t - row['median']) / row['median']:+.1%})")
        summary[w] = rows
    os.makedirs(".bench_out", exist_ok=True)
    with open(os.path.join(".bench_out", "sweep.json"), "w") as f:
        json.dump(summary, f, indent=1)


if __name__ == "__main__":
    main()
