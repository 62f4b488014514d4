#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload gui_csv --seeds 1-10 [--seconds N]

Runs the benchmark once per seed, then prints, per metric, the median of
the runs and the distance between the first and third quartile as a
share of the median (statistics.quantiles(values, n=4)), next to the
metric's bound from BENCHMARK.json. Raw results go to
.work/spread-<workload>.jsonl.
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


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    log = os.path.join(HERE, ".work", f"spread-{args.workload}.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    values = {}
    for seed in seeds(args.seeds):
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(seconds), "--trace", "0"]
        t0 = time.time()
        res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        wall = time.time() - t0
        if res.returncode != 0:
            sys.exit(f"seed {seed}: exit {res.returncode}\n{res.stderr[-2000:]}")
        line = json.loads(res.stdout.strip().splitlines()[-1])
        with open(log, "a") as f:
            f.write(json.dumps({"seed": seed, "wall_s": wall, **line}) + "\n")
        print(f"seed {seed}: {wall:.0f}s correct={line['correct']} attempted={line['attempted']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in line["metrics"].items()),
              flush=True)
        for k, v in line["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, xs in values.items():
        med = statistics.median(xs)
        q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [med, med, med]
        iqr = (q[2] - q[0]) / med
        b = bounds.get(k)
        flag = "" if b is None else ("ok" if iqr < b / 3 else "WIDE")
        print(f"{k:16s} median {med:10.4g}  iqr/median {iqr:6.3f}  bound {b}  {flag}")


if __name__ == "__main__":
    main()
