#!/usr/bin/env python3
"""Self-test of the benchmark at a small scale (sf0.001).

    python3 perfbench/selftest.py [workload ...]

For each workload it checks that
  * an untraced run emits every end-to-end metric of BENCHMARK.json with
    its declared unit and prints the workload's own figures with units,
    and a traced run emits every per-layer metric;
  * every operation's answer was checked, and all were right;
  * a run whose expected answer was deliberately falsified reports a
    failed operation (failed_frac above 0); on export_csv so does a run
    whose expected exported file was falsified.
Exits non-zero on the first failure.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SCALE = "0.001"
SECONDS = "8"


# the workload-specific figures each untraced run prints before its JSON line
PRINTED = {
    "gui_csv": ["setup_s", "setup_timed_run_s", "latency_p50_s", "samples", "failed_frac",
                "rss_peak_mb", "stmts_per_s"],
    "export_csv": ["setup_s", "setup_timed_run_s", "latency_p50_s", "samples", "failed_frac",
                   "rss_peak_mb", "export_rows_per_s", "requery_p50_s"],
}


def run(workload, trace, *extra):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", SECONDS, "--trace", str(trace),
           "--scale", SCALE, *extra]
    res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if res.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {res.returncode}:\n{res.stderr[-3000:]}")
    lines = res.stdout.strip().splitlines()
    printed = {ln.split(" = ")[0].split(".", 1)[1]: ln.split(" = ")[1].split()
               for ln in lines[:-1] if " = " in ln}
    return json.loads(lines[-1]), printed


def expect(cond, msg):
    if not cond:
        raise AssertionError(msg)


def check_metrics(result, declared, label):
    got = result["metrics"]
    for m in declared:
        expect(m["name"] in got, f"{label}: metric {m['name']} missing")
        expect(got[m["name"]]["unit"] == m["unit"],
               f"{label}: {m['name']} unit {got[m['name']]['unit']} != {m['unit']}")
        expect(isinstance(got[m["name"]]["value"], (int, float)),
               f"{label}: {m['name']} is not a number")


def check_answers(workload, trace):
    path = os.path.join(HERE, ".work", "runs", f"{workload}-seed7-trace{trace}", "checked.json")
    with open(path) as f:
        checked = json.load(f)
    for op in checked["ops"]:
        expect("digest" in op or workload == "headline",
               f"{workload}: op {op['id']} has no checked answer")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = sys.argv[1:] or [w["name"] for w in bench["workloads"]]
    for w in names:
        r, printed = run(w, 0)
        check_metrics(r, bench["end_to_end"], f"{w} --trace 0")
        for name in PRINTED.get(w, []):
            expect(name in printed and len(printed[name]) == 2,
                   f"{w}: printed figure {name} missing or without a unit: {printed}")
        expect(r["correct"] and r["failed"] == 0 and r["attempted"] >= 1,
               f"{w}: run not correct: {r}")
        check_answers(w, 0)
        r, _ = run(w, 1)
        check_metrics(r, bench["per_layer"], f"{w} --trace 1")
        expect(r["correct"], f"{w}: traced run not correct: {r}")
        check_answers(w, 1)
        for kind in ["answer", "export"] if w == "export_csv" else ["answer"]:
            r, _ = run(w, 0, "--corrupt-expected", kind)
            expect(r["failed"] > 0 and not r["correct"],
                   f"{w}: a falsified expected {kind} was not caught: {r}")
            print(f"{w}: falsified expected {kind} caught in {r['failed']} "
                  f"of {r['attempted']} ops", flush=True)
        print(f"{w}: ok", flush=True)


if __name__ == "__main__":
    main()
