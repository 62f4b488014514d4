"""Per-layer numbers from a traced run.

The harness records a span around each of its calls into a layer
(`server.http`, `sql.parse`, `csv.read`, `sql.build`, `sinks.format`,
`sinks.export`, `catalyst.plan`, `exec`, `server.json_encode`) and a
listener charges every Spark job, stage and task to the span that
started it. This module turns one traced run into:

  * per-operation records: every span with its self time (its duration
    minus the part its children cover), and the operation's time split
    by layer, with whatever no layer accounts for reported as the
    remainder;
  * per-layer metrics, each the median over the traced operations;
  * the tracing overhead: the run's traced rounds against its untraced
    rounds, which alternate and run the same statement mix.
"""
import statistics

SERVER_GROUP = "graft-query-server"

UNITS = {
    "server.overhead_s": "s", "server.json_encode_s": "s", "server.reply_bytes": "bytes",
    "server.inflight_peak": "count", "server.threads_after_stop": "count",
    "sql.parse_s": "s", "sql.plan_s": "s", "sql.plan_jobs": "count",
    "csv.read_s": "s", "csv.read_jobs": "count",
    "sinks.export_s": "s", "sinks.rows_written": "count", "sinks.bytes_written": "bytes",
    "sinks.bytes_per_row": "bytes",
    "catalyst.analyze_s": "s", "catalyst.optimize_s": "s", "catalyst.physical_s": "s",
    "exec.s": "s", "exec.jobs": "count", "exec.tasks": "count", "exec.task_s": "s",
    "exec.input_bytes": "bytes", "exec.shuffle_bytes": "bytes", "exec.driver_gap_s": "s",
    "exec.rows_in_per_row_out": "ratio",
    "session.conf_changed": "count", "session.persisted_rdds": "count",
    "trace.overhead_s": "s",
}


def _union_length(intervals):
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Run:
    def __init__(self, trace):
        self.children = {}
        for s in trace["spans"]:
            self.children.setdefault(s["parent"], []).append(s)
        self.counters = trace["counters"]
        self.jobs_by_span = {}
        https = [s for s in trace["spans"] if s["name"] == "server.http"]
        for j in trace["jobs"]:
            if j["end"] < 0:
                continue
            tag = j["tag"]
            if tag == SERVER_GROUP:
                # a server job belongs to the request it ran in, when only
                # one request was in flight at that moment
                inside = [h for h in https if h["start"] <= j["start"] <= h["end"]]
                if len(inside) != 1:
                    continue
                tag = str(inside[0]["id"])
            self.jobs_by_span.setdefault(int(tag), []).append(j)

    def dur(self, s):
        return (s["end"] - s["start"]) / 1e3

    def covered(self, s):
        """Seconds of span `s` during which one of its jobs ran."""
        iv = [(max(j["start"], s["start"]), min(j["end"], s["end"]))
              for j in self.jobs_by_span.get(s["id"], [])]
        return _union_length([(a, b) for a, b in iv if b > a]) / 1e3

    def jobs(self, s):
        return len(self.jobs_by_span.get(s["id"], []))

    def counter(self, s, key):
        return self.counters.get(str(s["id"]), {}).get(key, 0)

    def descendants(self, root):
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo += self.children.get(s["id"], [])
        return sorted(out, key=lambda x: x["start"])

    def self_time(self, s):
        return self.dur(s) - sum(self.dur(c) for c in self.children.get(s["id"], []))


def _op_record(run, root, result):
    spans = run.descendants(root)
    named = lambda n: [s for s in spans if s["name"] == n]  # noqa: E731
    total = lambda n: sum(run.dur(s) for s in named(n))  # noqa: E731
    https = named("server.http")
    directs = named("direct")
    mirrored = {d["attrs"].get("mirrors", 0): d for d in directs}
    execs, exports = named("exec"), named("sinks.export")
    work = execs + exports
    rows_out = sum(s["attrs"].get("rows_out", 0) for s in execs)

    if https:  # the user sees the HTTP round trips
        visible = sum(run.dur(h) for h in https)
    else:      # the user sees the direct calls (CLI)
        visible = run.dur(root)
    overhead = [run.dur(h) - run.dur(mirrored[h["id"]]) for h in https if h["id"] in mirrored]
    exec_cov = sum(run.covered(s) for s in execs)
    export_cov = sum(run.covered(s) for s in exports)
    layers = {
        "server": sum(overhead) + total("server.json_encode"),
        "sql": total("sql.parse") + total("sql.build"),
        "sources.read": total("csv.read"),
        "sources.write": total("sinks.format") + total("sinks.export") - export_cov,
        "catalyst": total("catalyst.plan"),
        "exec": exec_cov + export_cov,
        "exec.driver_gap": total("exec") - exec_cov,
    }
    if not https and not directs:  # headline: one opaque call per query
        layers = {"exec": run.covered(root), "exec.driver_gap": run.dur(root) - run.covered(root)}
    remainder = visible - sum(layers.values())

    rows_written = result.get("export_rows", rows_out) if exports else rows_out
    bytes_written = (result.get("export_bytes", 0) if exports
                     else sum(s["attrs"].get("format_bytes", 0) for s in execs))
    m = {
        "server.overhead_s": sum(overhead) if overhead else None,
        "server.json_encode_s": total("server.json_encode") if directs else None,
        "server.reply_bytes": (https[-1]["attrs"]["reply_bytes"] if https else
                               sum(s["attrs"].get("reply_bytes", 0)
                                   for s in named("server.json_encode")) or None),
        "sql.parse_s": total("sql.parse") if directs else None,
        "sql.plan_s": total("sql.build") - total("sql.parse") if directs else None,
        "sql.plan_jobs": sum(run.jobs(s) for s in named("sql.build")) if directs else None,
        "csv.read_s": total("csv.read") if named("csv.read") else None,
        "csv.read_jobs": sum(run.jobs(s) for s in named("csv.read")) if named("csv.read") else None,
        "sinks.export_s": total("sinks.export") + total("sinks.format") if directs else None,
        "sinks.rows_written": rows_written if directs else None,
        "sinks.bytes_written": bytes_written if directs else None,
        "sinks.bytes_per_row": bytes_written / rows_written if directs and rows_written else None,
        "catalyst.analyze_s": sum(s["attrs"].get("analysis_ms", 0) for s in execs) / 1e3
        if execs else None,
        "catalyst.optimize_s": sum(s["attrs"].get("optimization_ms", 0) for s in execs) / 1e3
        if execs else None,
        "catalyst.physical_s": sum(s["attrs"].get("planning_ms", 0) for s in execs) / 1e3
        if execs else None,
    }
    if not directs:
        work = [root]
    input_records = sum(run.counter(s, "input_records") for s in work)
    m.update({
        "exec.s": sum(run.covered(s) for s in work),
        "exec.jobs": sum(run.jobs(s) for s in work),
        "exec.tasks": sum(run.counter(s, "tasks") for s in work),
        "exec.task_s": sum(run.counter(s, "task_ms") for s in work) / 1e3,
        "exec.input_bytes": sum(run.counter(s, "input_bytes") for s in work),
        "exec.shuffle_bytes": sum(run.counter(s, "shuffle_bytes") for s in work),
        "exec.driver_gap_s": sum(run.dur(s) - run.covered(s) for s in work),
        "exec.rows_in_per_row_out": (input_records / rows_written
                                     if rows_written else None),
    })
    t0 = root["start"]
    return {
        "op": root["op"], "root_span": root["id"], "visible_s": visible,
        "layers_s": layers, "remainder_s": remainder,
        "shares": {k: v / visible for k, v in layers.items()} if visible > 0 else {},
        "remainder_share": remainder / visible if visible > 0 else None,
        "metrics": m,
        "spans": [{"id": s["id"], "name": s["name"], "parent": s["parent"],
                   "start_ms": s["start"] - t0, "dur_s": run.dur(s),
                   "self_s": run.self_time(s), "jobs": run.jobs(s),
                   "job_s": run.covered(s), "tasks": run.counter(s, "tasks"),
                   "attrs": s["attrs"]} for s in spans],
    }


def _median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else None


def build(args, out, ops_spec):
    run = Run(out["trace"])
    done = out["ops"]
    results = {}
    for r in done:
        if r.get("traced"):
            results.setdefault(r["id"], []).append(r)
    records = []
    roots = sorted((s for s in out["trace"]["spans"] if s["name"] == "op"),
                   key=lambda s: s["start"])
    seen = {}
    for root in roots:
        k = seen.get(root["op"], 0)
        seen[root["op"]] = k + 1
        res = results.get(root["op"], [{}])
        records.append(_op_record(run, root, res[min(k, len(res) - 1)]))

    template = {o["id"]: o.get("template", o.get("stmt")) for o in ops_spec}
    for rec in records:
        rec["template"] = template.get(rec["op"])

    metrics = {}
    for name in UNITS:
        v = _median(rec["metrics"].get(name) for rec in records)
        if v is not None:
            metrics[name] = v
    metrics["server.inflight_peak"] = out["inflight_peak"]
    metrics["server.threads_after_stop"] = out["threads_after_stop"]
    metrics["session.conf_changed"] = len(out["conf_changed"])
    metrics["session.persisted_rdds"] = out["persisted_rdds_growth"]

    untraced = [r["lat"] for r in done if not r.get("traced") and r.get("status") == "ok"]
    traced = [rec["visible_s"] for rec in records]
    overhead = {"untraced_ops": len(untraced), "traced_ops": len(traced),
                "untraced_p50_s": _median(untraced), "traced_p50_s": _median(traced)}
    if untraced and traced:
        overhead["overhead_s"] = overhead["traced_p50_s"] - overhead["untraced_p50_s"]
        overhead["overhead_frac"] = overhead["overhead_s"] / overhead["untraced_p50_s"]
        metrics["trace.overhead_s"] = overhead["overhead_s"]

    if args.workload == "headline":
        per_q = {}
        for r in done:  # a query's time, traced or not: a span adds nothing measurable
            if r.get("status") == "ok":
                per_q.setdefault(r["query"], []).append(r["lat"])
        for q, v in sorted(per_q.items()):
            metrics[f"headline.{q}_s"] = statistics.median(v)

    layer_names = sorted({k for rec in records for k in rec["layers_s"]})
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "scale": args.scale,
        "metrics": {k: {"value": v, "unit": UNITS.get(k, "s")} for k, v in metrics.items()},
        "tracing_overhead": overhead,
        "layer_share_median": {k: _median(rec["shares"].get(k) for rec in records)
                               for k in layer_names},
        "remainder_share_median": _median(rec["remainder_share"] for rec in records),
        "session": {"conf_changed": out["conf_changed"],
                    "persisted_rdds_growth": out["persisted_rdds_growth"],
                    "threads_after_stop": out["threads_after_stop"]},
        "ops": records,
    }
