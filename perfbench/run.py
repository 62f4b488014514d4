#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload gui_csv --seed 1 --seconds 25 --trace 0

Run from the repository root. It builds the engine and the harness from
source (once per source state), writes the seeded inputs (once per
scale), computes every expected answer with DuckDB, runs the workload
in one JVM and checks every answer. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}; with
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones taken from spans around the benchmark's calls into each
layer (see README.md in this directory).
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import data  # noqa: E402
import report  # noqa: E402
import workloads  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
HARNESS = os.path.join(HERE, "harness")
WORKLOADS = ["gui_csv", "export_csv", "headline"]
CLIENTS = {"gui_csv": 2, "export_csv": 1, "headline": 1}
# operations per round of a workload's fixed class pattern (workloads.py)
ROUND = {"gui_csv": 6, "export_csv": 4, "headline": 1}
# set-ups measured per run: the timed run's own and the rest in JVMs
# that only set up and exit, so every one is cold (JVM start included)
SETUPS = 2
TIMEOUT_S = 175  # a run must end within 180 s once built

# JVM flags Spark needs on JDK 17 outside spark-submit (the same list
# the root build passes to forked runs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- build

def _source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def build():
    """Compile the engine and the harness unless this source state was
    built already; returns the harness classpath."""
    for need in ["build.sbt", os.path.join("src", "main", "scala")]:
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} at {ROOT}: the engine's sources are not here")
    h = hashlib.sha256()
    for f in _source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(HARNESS, "target", "classpath.txt")
    if (os.path.exists(stamp_file) and os.path.exists(cp_file)
            and open(stamp_file).read() == stamp):
        return open(cp_file).read().strip()
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness (sbt)")
    with open(os.path.join(WORK, "build.log"), "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                             cwd=HARNESS, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
    if rc != 0 or not os.path.exists(cp_file):
        fail(f"build failed (rc={rc}); see {os.path.join(WORK, 'build.log')}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read().strip()


# ---------------------------------------------------------------- oracle

def oracle(sf_dir, workload, ops, corrupt):
    """Expected answers per operation id, from DuckDB over the same files
    the engine reads."""
    import duckdb
    con = duckdb.connect()
    con.sql("SET threads = 2")
    for t in data.TABLES:
        if workload == "gui_csv":
            con.sql(f"CREATE TABLE {t} AS SELECT * FROM "
                    f"read_csv('{sf_dir}/csv/{t}.csv', header = true)")
        else:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    expected = {}
    for op in ops:
        rows = con.sql(op["oracle"]).fetchall()
        if workload == "gui_csv":
            exp = {"answer": workloads.digest(
                workloads.row_line([workloads.fmt(v) for v in r]) for r in rows)}
        else:
            lines = (",".join(workloads.csv_field(workloads.fmt(v)) for v in r) for r in rows)
            rq = con.sql(op["requery_oracle"]).fetchall()
            exp = {"export": workloads.digest(lines),
                   "answer": workloads.digest(
                       workloads.row_line([workloads.fmt(v) for v in r]) for r in rq)}
        expected[op["id"]] = exp
    con.close()
    if corrupt and ops:
        # the self-test's check that a wrong expected answer (the
        # statement's rows, or the exported file) is caught
        first = ops[0]["id"]
        n, d = expected[first][corrupt]
        expected[first][corrupt] = (n + 1, d)
    return expected


def check(op, exp):
    """Why an operation's answer is wrong, or None when it is right."""
    if op.get("status") != "ok":
        return op.get("status", "no status")
    if exp is None:
        return "no expected answer"
    if (op.get("rows"), op.get("digest")) != tuple(exp["answer"]):
        return f"answer {op.get('rows')}/{op.get('digest')} != expected {exp['answer']}"
    if "export" in exp and (op.get("export_rows"), op.get("export_digest")) != tuple(exp["export"]):
        return (f"export {op.get('export_rows')}/{op.get('export_digest')} "
                f"!= expected {exp['export']}")
    return None


# ---------------------------------------------------------------- run

def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_harness(cp, spec, run_dir, deadline, tag=""):
    spec_path = os.path.join(run_dir, f"spec{tag}.json")
    out_path = os.path.join(run_dir, f"out{tag}.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx2g", "-XX:+UseSerialGC", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness", spec_path, out_path]
    with open(os.path.join(run_dir, f"jvm{tag}.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=logf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness did not finish in time; see {run_dir}/jvm{tag}.log")
    if rc != 0 or not os.path.exists(out_path):
        fail(f"harness failed (rc={rc}); see {run_dir}/jvm{tag}.log")
    with open(out_path) as f:
        return json.load(f)


def percentile_tail(lat):
    """The highest of p90/p80/p75 with at least ten samples beyond it,
    or (None, None) when the run has too few samples for any."""
    xs = sorted(lat)
    for p in (90, 80, 75):
        k = int(len(xs) * p / 100)
        if len(xs) - k - 1 >= 10:
            return p, xs[k]
    return None, None


def metric(v, unit):
    return {"value": v, "unit": unit}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", default="0.1", help="data scale factor (default 0.1)")
    ap.add_argument("--data-dir", help="headline only: a directory holding the ten sf "
                    "fixture tables as <table>.parquet (documents, embeddings and events "
                    "included), which this benchmark does not generate")
    ap.add_argument("--corrupt-expected", choices=["answer", "export"],
                    help="falsify one operation's expected rows (answer) or, on "
                    "export_csv, its expected exported file (export); a self-test "
                    "of the checks")
    args = ap.parse_args(argv)
    t_start = time.time()

    if args.workload == "headline" and not args.data_dir:
        fail("--workload headline needs --data-dir")
    if args.corrupt_expected == "export" and args.workload != "export_csv":
        fail("--corrupt-expected export applies to export_csv only")
    cp = build()
    deadline = time.time() + TIMEOUT_S
    sf_dir = os.path.relpath(data.ensure(WORK, args.scale), ROOT)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    run_dir = os.path.join(WORK, "runs", name)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    rel_run = os.path.relpath(run_dir, ROOT)

    if args.workload == "gui_csv":
        n_cust = int(round(workloads_rows("customer", args.scale)))
        warm, ops = workloads.gui_csv(args.seed, n_cust)
        data_dir = os.path.join(sf_dir, "csv")
    elif args.workload == "export_csv":
        os.makedirs(os.path.join(run_dir, "exports"))
        outs = {m: os.path.join(rel_run, "exports", f"{m}.csv") for m in ("cli", "server")}
        warm, ops = workloads.export_csv(args.seed, outs)
        data_dir = sf_dir
    else:
        warm, ops = [], []  # the harness takes them from the registry
        data_dir = os.path.abspath(args.data_dir)
        deadline = time.time() + max(TIMEOUT_S, 4 * args.seconds + 300)
    expected = (oracle(os.path.join(ROOT, sf_dir), args.workload, ops, args.corrupt_expected)
                if args.workload != "headline" else {})

    spec = {"workload": args.workload, "seed": args.seed, "cores": cores(),
            "seconds": args.seconds,
            "trace": bool(args.trace), "setup_only": False,
            "clients": CLIENTS[args.workload], "round": ROUND[args.workload],
            "data_dir": data_dir, "work_dir": rel_run,
            "warmup": [strip(o) for o in warm], "ops": [strip(o) for o in ops]}
    # the other set-ups first, each in a JVM that only sets up and exits
    setups = []
    for k in range(1, SETUPS):
        s = run_harness(cp, dict(spec, setup_only=True), run_dir, deadline, f"-setup{k}")
        if s["warmup_failed"]:
            fail(f"{s['warmup_failed']} warm-up operations failed in set-up {k}")
        setups.append(s["jvm_to_main_s"] + s["setup_s"])
    out = run_harness(cp, spec, run_dir, deadline)
    setups.append(out["jvm_to_main_s"] + out["setup_s"])

    if args.workload == "headline":
        import headline
        wrong_q = headline.check_answers(data_dir, ROOT, out, args.corrupt_expected)
    done = out["ops"]
    wrong = []
    for o in done:
        why = (check(o, expected.get(o["id"])) if args.workload != "headline"
               else o.get("status") if o.get("status") != "ok" else wrong_q.get(o["query"]))
        if why:
            wrong.append((o["id"], why))
            o["wrong"] = why
    if out["warmup_failed"]:
        wrong.append(("warm-up", f"{out['warmup_failed']} warm-up operations failed"))
    attempted = len(done)
    failed = len(wrong)
    with open(os.path.join(run_dir, "checked.json"), "w") as f:
        json.dump({"ops": done, "first_rows": out["first_rows"],
                   "wrong": wrong}, f, indent=1)
    for oid, why in wrong[:5]:
        log(f"op {oid} wrong: {why}")
    if attempted == 0:
        fail("no operation completed")

    if args.trace:
        rep = report.build(args, out, ops)
        rep_dir = os.path.join(WORK, "reports")
        os.makedirs(rep_dir, exist_ok=True)
        rep_path = os.path.join(rep_dir, f"{name}.json")
        with open(rep_path, "w") as f:
            json.dump(rep, f, indent=1)
        log(f"trace report: {os.path.relpath(rep_path, ROOT)}")
        metrics = rep["metrics"]
    else:
        metrics, extra = end_to_end(args.workload, out, done, failed, setups)
        for k, (v, unit) in extra.items():
            print(f"{args.workload}.{k} = {v:.6g} {unit}")
    log(f"{args.workload} seed {args.seed}: {attempted} ops, {failed} wrong, "
        f"{time.time() - t_start:.1f}s")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def workloads_rows(table, scale):
    return data.ROWS_AT_SF1[table] * float(scale)


def strip(op):
    """The fields the harness needs; oracle text stays in Python."""
    return {k: op[k] for k in ("id", "stmt", "files", "mode", "out", "requery") if k in op}


def throughput(ok):
    """Operations per second, summed over clients, each client's count
    over the time to its own last completion (a client that finished
    early does not dilute the others)."""
    per_client = {}
    for o in ok:
        n, t = per_client.get(o["client"], (0, 0.0))
        per_client[o["client"]] = (n + 1, max(t, o["t1"]))
    return sum(n / t for n, t in per_client.values())


def end_to_end(workload, out, done, failed, setups):
    """setup_s is the median over the run's cold set-ups, each from JVM
    start to the first timed operation (session start, server start,
    warm-up pass)."""
    ok = [o for o in done if o.get("status") == "ok"]
    lat = [o["lat"] for o in ok]
    tail_p, tail = percentile_tail(lat)
    setup = statistics.median(setups)
    metrics = {
        "setup_s": metric(setup, "s"),
        "latency_p50_s": metric(statistics.median(lat), "s"),
        "ops_per_s": metric(throughput(ok), "1/s"),
        "rss_peak_mb": metric(out["rss_peak_mb"], "MB"),
    }
    extra = {
        "setup_s": (setup, "s"),
        "setup_timed_run_s": (setups[-1], "s"),
        "latency_p50_s": (statistics.median(lat), "s"),
        "samples": (len(lat), "ops"),
        "failed_frac": (failed / max(1, len(done)), "ratio"),
        "rss_peak_mb": (out["rss_peak_mb"], "MB"),
    }
    if tail_p:
        extra[f"latency_p{tail_p}_s"] = (tail, "s")
    if workload == "gui_csv":
        extra["stmts_per_s"] = (throughput(ok), "1/s")
    if workload == "export_csv":
        rows = sum(o.get("export_rows", 0) for o in ok)
        extra["export_rows_per_s"] = (rows / sum(o["export_s"] for o in ok), "rows/s")
        extra["requery_p50_s"] = (statistics.median(o["requery_s"] for o in ok), "s")
    if workload == "headline":
        per_q = {}
        for o in ok:
            per_q.setdefault(o["query"], []).append(o["lat"])
        extra["headline_total_s"] = (sum(statistics.median(v) for v in per_q.values()), "s")
    return metrics, extra


if __name__ == "__main__":
    main()
