#!/usr/bin/env python3
"""Feature-pipeline benchmark: one workload, one run.

    python3 perfbench/run.py --workload <backfill|ingest> --seed <n> \\
        --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the engine and the
benchmark (perfbench/build.py). The JVM side (perfbench/src) generates the
inputs from the seed, measures, checks the program's outputs and records
raw samples; this script turns them into the metrics named in
BENCHMARK.json, prints each with its unit and sample count, and prints as
its last line one JSON object: {"correct", "attempted", "failed",
"metrics"}. With --trace 0 the metrics are the end-to-end ones; with
--trace 1 the per-layer ones, from a run with Spark listeners registered,
whose spans go to .bench_out/<run>/spans.jsonl. The exit code is 0 only
when every output check passed.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("backfill", "ingest")
OUT_ROOT = ".bench_out"
DEADLINE_S = 175
# First run in a checkout: the compile comes on top.
FIRST_DEADLINE_S = 880
# A fixed, pre-touched heap: peak RSS then moves with memory the program
# holds outside the Java heap, not with when the collector chose to grow.
JVM_HEAP = "2g"

# What spark-submit adds for Spark 4 on JDK 17 (the list build.sbt forks with).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]

# Per-layer metrics whose layer a workload does not run read 0 there.
BYPASSED = {
    "backfill": ("microbatch.", "state.", "queue.", "gen.", "onecore."),
    "ingest": ("operators.", "sources.", "streaming.EnrichAndScore.", "serving."),
}


class Series:
    """Raw samples of one run, as the JVM side recorded them."""

    def __init__(self, raw):
        self.series = raw["series"]
        self.groups = raw["groups"]

    def has(self, name):
        return bool(self.series.get(name))

    def __getitem__(self, name):
        values = self.series.get(name)
        if not values:
            raise KeyError(f"no samples for {name}")
        return values


def end_to_end(s):
    """{metric: (value, samples, note)} for the end-to-end metrics."""
    lat = s["latency_ms"]
    value, pct, beyond, ok = stats.tail(lat, s.groups["latency_ms"], 0.9)
    note = f"p{pct * 100:g}, {beyond} units beyond" + ("" if ok else "; p90 unsupported, median shown")
    units = len(set(s.groups["latency_ms"]))
    gen = s["setup.generate_s"]
    return {
        "setup_s": (s["session_s"][0] + stats.median(gen) + s["setup.warmup_s"][0], len(gen),
                    "session + median input generation + warm-up"),
        "latency_p50_ms": (stats.median(lat), len(lat), f"{units} units"),
        "latency_p90_ms": (value, len(lat), note),
        "rows_per_s": (stats.median(s["rows_per_s"]), len(s["rows_per_s"]), ""),
        "peak_rss_mb": (s["peak_rss_mb"][0], 1, "VmHWM"),
    }


def per_layer(s, names, workload):
    """{metric: (value, samples, note)} for the per-layer metrics.

    `x_p50` is the median of series `x`; `x_max` its maximum; any other
    name is a one-sample series, except the derived ones below.
    """
    derived = {
        "spark.par": lambda: (sum(s["spark.task_s"]) / sum(s["spark.wall_s"]), len(s["spark.wall_s"])),
        "spark.max_task_s": lambda: (max(s["spark.task_durations_s"]), len(s["spark.task_durations_s"])),
        "spark.median_task_s": lambda: (stats.median(s["spark.task_durations_s"]),
                                        len(s["spark.task_durations_s"])),
    }
    out = {}
    for name in names:
        if name in derived:
            if s.has("spark.wall_s"):
                out[name] = derived[name]() + ("",)
                continue
        elif name.endswith("_p50") and s.has(name[:-4]):
            out[name] = (stats.median(s[name[:-4]]), len(s[name[:-4]]), "")
            continue
        elif name.endswith("_max") and s.has(name[:-4]):
            out[name] = (max(s[name[:-4]]), len(s[name[:-4]]), "")
            continue
        elif s.has(name):
            out[name] = (stats.median(s[name]), len(s[name]), "")
            continue
        if not name.startswith(BYPASSED[workload]):
            raise KeyError(f"{workload} recorded no samples for per-layer metric {name}")
        out[name] = (0, 0, "layer bypassed")
    return out


def self_times(spans_path):
    """Milliseconds of self time per layer: a span's duration minus the part
    of it that its children cover."""
    spans = [json.loads(line) for line in open(spans_path) if line.strip()]
    children = {}
    for sp in spans:
        children.setdefault(sp["parent"], []).append(sp)
    totals = {}
    for sp in spans:
        start, end = sp["start_ms"], sp["end_ms"]
        covered, cursor = 0.0, start
        for c in sorted(children.get(sp["id"], []), key=lambda c: c["start_ms"]):
            lo, hi = max(c["start_ms"], cursor), min(c["end_ms"], end)
            if hi > lo:
                covered += hi - lo
                cursor = hi
        totals[sp["layer"]] = totals.get(sp["layer"], 0.0) + max(0.0, end - start - covered)
    return totals, len(spans)


def jvm_command(args, out_dir):
    work = os.path.abspath(os.path.join(out_dir, "work"))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+AlwaysPreTouch", *opens,
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-cp", build.classpath(),
            "perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", out_dir]


def main():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    started = time.time()

    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    try:
        fresh = not os.path.isfile(build.STAMP)
        build.build()
    except build.CompileError as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        return 2
    deadline = (FIRST_DEADLINE_S if fresh else DEADLINE_S) - (time.time() - started)

    out_dir = os.path.join(OUT_ROOT, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    proc = subprocess.Popen(jvm_command(args, out_dir), stdout=sys.stderr)
    # Never leave the JVM behind, whatever ends this script.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        proc.wait(timeout=deadline)
    except subprocess.TimeoutExpired:
        print(f"[perfbench] run exceeded {deadline:.0f} s", file=sys.stderr)
        return 3
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        # Checkpoints, CSV exports and Spark's local files: tens of MB a run.
        shutil.rmtree(os.path.join(out_dir, "work"), ignore_errors=True)
    raw_path = os.path.join(out_dir, "raw.json")
    if not os.path.isfile(raw_path):
        print(f"[perfbench] the JVM exited with {proc.returncode} and no results", file=sys.stderr)
        return 3
    with open(raw_path) as f:
        raw = json.load(f)
    for c in raw["checks"]:
        print(f"check {'ok' if c['ok'] else 'FAILED'}: {c['name']} {c['detail']}".rstrip())

    s = Series(raw)
    metrics_spec = spec["per_layer"] if args.trace else spec["end_to_end"]
    try:
        e2e = end_to_end(s)
        reported = per_layer(s, [m["name"] for m in metrics_spec], args.workload) if args.trace else e2e
    except KeyError as e:
        print(f"[perfbench] {e.args[0]}", file=sys.stderr)
        return 1
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    label = "traced " if args.trace else ""
    for name, (value, n, note) in list(e2e.items()) + (list(reported.items()) if args.trace else []):
        kind = label if name in e2e else ""
        print(f"{kind}{name} = {value:.6g} {units[name]} (n={n}{', ' + note if note else ''})")
    if args.trace:
        totals, n_spans = self_times(os.path.join(out_dir, "spans.jsonl"))
        for layer, ms in sorted(totals.items(), key=lambda kv: -kv[1]):
            print(f"self time {layer} = {ms:.1f} ms")
        print(f"spans: {n_spans} in {os.path.join(out_dir, 'spans.jsonl')}")
    with open(os.path.join(out_dir, "end_to_end.json"), "w") as f:
        json.dump({k: v[0] for k, v in e2e.items()}, f)

    result = {
        "correct": bool(raw["correct"]),
        "attempted": int(raw["attempted"]),
        "failed": int(raw["failed"]),
        "metrics": {name: {"value": reported[name][0], "unit": units[name]} for name in
                    [m["name"] for m in metrics_spec]},
    }
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
