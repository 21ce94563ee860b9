#!/usr/bin/env python3
"""Benchmark of the graft engine, run from the root of a checkout:

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source on first use (`build.py`), generates the
workload's inputs from the seed (`gen.py`), runs the workload in one JVM
(`perfbench.Harness`), checks every result, and prints one JSON object as
the last line of standard output: the end-to-end metrics with `--trace 0`,
the per-layer metrics with `--trace 1`. The line before it, starting with
`report:`, carries the workload's own figures (latency per request kind,
micro-batch times, stored bytes, failures; with tracing, the per-kind and
per-twin counters, tracing overhead and counters that did not repeat). The
raw records, `report.json` and, for traced runs, `spans.jsonl` (one span
per call into a layer, with its self time) stay under
`<build dir>/perfbench/<workload>-s<seed>-t<trace>/`; the build dir is
`$CARGO_TARGET_DIR`, default `.bench_build`.

Workloads:
  engine_requests  two closed-loop clients send seeded BFS/DFS/add/modify
                   requests through GraphEngine.executeLine
  stream_replay    one caller replays the four streaming serve twins
"""
import argparse
import datetime
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import analyze  # noqa: E402
import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("engine_requests", "stream_replay")
SF = 0.001            # scale factor of the generated tables
JVM_TIMEOUT_S = 165
MB = 1024.0 * 1024.0
# Spark on JDK 17 outside spark-submit needs these (the build's javaOptions).
OPENS = [a for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
                     "java.net", "java.nio", "java.util", "java.util.concurrent",
                     "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
                     "sun.security.action", "sun.util.calendar"]
         for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "ops_per_s": "1/s"}
PER_LAYER = {
    "spark.jobs_per_op": "count", "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count", "spark.shuffle_mb_per_op": "MB",
    "spark.input_mb_per_op": "MB", "spark.output_mb_per_op": "MB",
    "spark.cpu_s_per_op": "s", "spark.gc_s_per_op": "s",
    "spark.driver_s_per_op": "s", "spark.job_overlap": "jobs",
    "spark.smj_per_op": "count", "spark.bhj_per_op": "count",
    "op.call_s": "s", "op.collect_s": "s", "stored_mb": "MB",
    "trace.overhead_pct": "%", "trace.unrepeatable_counters": "count",
}


def jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def dir_bytes(path):
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def jvm_cpu_s(samples, lo, hi):
    inside = [j for t, _, j in samples if lo <= t <= hi and j is not None]
    return (inside[-1] - inside[0]) / os.sysconf("SC_CLK_TCK") if len(inside) > 1 else None


def setup_s(summary):
    """Process start to the first timed operation: session start, the
    median of the repeated set-ups, and the untimed warm-up.
    """
    return summary["session_s"] + statistics.median(summary["stage_s"]) + summary["warm_s"]


# ------------------------------------------------------------ engine_requests

def engine_result(inputs, out, summary):
    warm, ops = jsonl(f"{out}/warm.jsonl"), jsonl(f"{out}/ops.jsonl")
    reqs = {r[0]: r for r in inputs.warm + inputs.script}
    for timed, batch in ((False, warm), (True, ops)):
        for o in batch:
            o["req"] = reqs[o["seq"]]
            o["timed"] = timed
    wrong, errors, conflicts = analyze.check_engine(
        warm + ops, {g: e for g, (_, e) in inputs.trees.items()},
        {g: n for g, (n, _) in inputs.trees.items()})
    lat = [(o["end"] - o["start"]) / 1000.0 for o in ops]
    reads = [(o["end"] - o["start"]) / 1000.0 for o in ops if o["op"] in ("bfs", "dfs")]
    writes = [(o["end"] - o["start"]) / 1000.0 for o in ops if o["op"] in ("add", "modify")]
    # closed-loop throughput of the two clients: clients / mean latency
    ops_per_s = 2 / statistics.mean(lat)
    attempted = len(warm) + len(ops)
    catalog = max((d for d in os.listdir(out) if d.startswith("catalog_")),
                  key=lambda d: int(d.split("_")[1]))
    e2e = {"setup_s": setup_s(summary), "op_p50_s": analyze.median(lat),
           "ops_per_s": ops_per_s}
    report = {"read_p50_s": analyze.median(reads),
              "read_p90_s": analyze.tail_quantile(reads, 0.9),
              "write_p50_s": analyze.median(writes), "requests_per_s": ops_per_s,
              "error_rate": (wrong + errors) / attempted, "reads": len(reads),
              "writes": len(writes), "wrong_results": wrong, "errors": errors,
              "write_conflicts": conflicts,
              "stored_mb": dir_bytes(f"{out}/{catalog}") / MB}
    bad = [{k: o[k] for k in ("seq", "op", "name", "err", "result")}
           for o in warm + ops if not o["ok"]]
    return {"ops": warm + ops, "timed": ops, "attempted": attempted,
            "failed": wrong + errors, "correct": wrong == 0 and errors == conflicts,
            "e2e": e2e, "report": report, "bad": bad[:10]}


# ------------------------------------------------------------ stream_replay

def progress_batches(out):
    """Streaming progress → micro-batches with epoch-ms start and end."""
    out_b = []
    for p in jsonl(f"{out}/progress.jsonl"):
        t = datetime.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
        start = t.replace(tzinfo=datetime.timezone.utc).timestamp() * 1000.0
        d = p.get("durationMs", {})
        out_b.append({"start": start, "end": start + p["batchDuration"],
                      "duration_ms": p["batchDuration"], "add_batch_ms": d.get("addBatch", 0),
                      "rows": p.get("numInputRows", 0), "batch": p["batchId"]})
    return out_b


def stream_result(tables_dir, out, summary):
    ops, passes = jsonl(f"{out}/ops.jsonl"), jsonl(f"{out}/passes.jsonl")
    verdict = oracle.check(f"{out}/results", tables_dir, summary["extra"]["oracle_sql"])
    batches = progress_batches(out)
    wrong = errors = 0
    for o in ops:
        o["timed"] = o["pass"] >= 0
        o["batches"] = [b for b in batches if o["start"] <= b["start"] <= o["end"]]
        reason = ""
        if o["err"]:
            errors += 1
            reason = o["err"]
        elif o["check"] == "first" and not verdict[o["name"]][0]:
            reason = "oracle: " + verdict[o["name"]][1]
        elif o["check"] not in ("first", "same"):
            reason = o["check"]
        elif len(o["batches"]) < 2:
            reason = f"{len(o['batches'])} micro-batches seen, expected at least 2"
        o["ok"] = not reason
        o["reason"] = reason
        if reason and not o["err"]:
            wrong += 1
    timed = [o for o in ops if o["timed"]]
    tpasses = [p for p in passes if p["pass"] >= 0]
    pass_s = [(p["end"] - p["start"]) / 1000.0 for p in tpasses]
    bd = [b["duration_ms"] / 1000.0 for o in timed for b in o["batches"]]
    stored = defaultdict(int)
    for o in timed:
        stored[o["pass"]] += o["stored_bytes"]
    # the operation a streaming user waits on is the micro-batch
    e2e = {"setup_s": setup_s(summary), "op_p50_s": analyze.median(bd),
           "ops_per_s": len(bd) / sum(pass_s)}
    report = {"pass_s": analyze.median(pass_s),
              "twin_p50_s": analyze.median([(o["end"] - o["start"]) / 1000.0 for o in timed]),
              "batch_p50_s": analyze.median(bd),
              "batch_p90_s": analyze.tail_quantile(bd, 0.9),
              "stored_mb": analyze.median(list(stored.values())) / MB,
              "error_rate": (wrong + errors) / len(ops), "passes": len(tpasses),
              "micro_batches": len(bd)}
    bad = [{"name": o["name"], "pass": o["pass"], "reason": o["reason"]}
           for o in ops if not o["ok"]]
    return {"ops": ops, "timed": timed, "attempted": len(ops), "failed": wrong + errors,
            "correct": wrong + errors == 0, "e2e": e2e, "report": report, "bad": bad[:10]}


# ------------------------------------------------------------ traced run

def spark_events(out):
    jobs, stages, plans = {}, {}, {}
    for e in jsonl(f"{out}/spark.jsonl"):
        if e["ev"] == "job_start":
            jobs[e["job"]] = {"job": e["job"], "start": e["t"], "end": None,
                              "span": int(e["span"] or 0), "exec": e["exec"],
                              "stages": e["stages"]}
        elif e["ev"] == "job_end" and e["job"] in jobs:
            jobs[e["job"]]["end"] = e["t"]
        elif e["ev"] == "stage":
            s = stages.setdefault(e["stage"], defaultdict(int))
            for k in ("tasks", "cpu_ns", "gc_ms", "shuffle_read", "shuffle_write",
                      "input", "output", "spill"):
                s[k] += e[k]
            s["completed"] = 1
        elif e["ev"] == "plan":
            plans[str(e["exec"])] = (e["smj"], e["bhj"])
    # a stage reused by a later job (skipped there) counts for its first job
    owner = {}
    for j in sorted(jobs.values(), key=lambda j: j["job"]):
        j["own_stages"] = [s for s in j["stages"] if s not in owner]
        for s in j["own_stages"]:
            owner[s] = j["job"]
        if j["end"] is None:
            j["end"] = j["start"]
    return jobs, stages, plans


def op_counters(op_jobs, stages, plans, start, end):
    c = defaultdict(float)
    execs = set()
    for j in op_jobs:
        c["jobs"] += 1
        for s in j["own_stages"]:
            st = stages.get(s)
            if st:
                c["stages"] += 1
                for k in ("tasks", "cpu_ns", "gc_ms", "shuffle_read", "shuffle_write",
                          "input", "output", "spill"):
                    c[k] += st[k]
        if j["exec"]:
            execs.add(j["exec"])
    for x in execs:
        smj, bhj = plans.get(x, (0, 0))
        c["smj"] += smj
        c["bhj"] += bhj
    covered = analyze.union_length([(max(j["start"], start), min(j["end"], end))
                                    for j in op_jobs if j["end"] > start and j["start"] < end])
    c["driver_s"] = ((end - start) - covered) / 1000.0
    return dict(c)


def trace_result(workload, res, out, summary):
    """Attribute Spark work to operations through their spans and derive
    the per-layer metrics, the repeatability list and the span file.
    """
    spans = jsonl(f"{out}/spans.jsonl")
    jobs, stages, plans = spark_events(out)
    root = analyze.root_of(spans)
    by_root = defaultdict(list)
    for j in jobs.values():
        if j["span"] in root:
            by_root[root[j["span"]]].append(j)
    traced = [o for o in res["ops"] if o["span"]]
    for o in traced:
        o["counters"] = op_counters(by_root[o["span"]], stages, plans, o["start"], o["end"])
    # micro-batches become child spans of their twin
    next_id = max([s["id"] for s in spans], default=0) + 1
    for o in traced:
        for b in o.get("batches", []):
            spans.append({"id": next_id, "parent": o["span"], "name": f"micro_batch {b['batch']}",
                          "layer": "streaming", "start": b["start"], "end": b["end"],
                          "attrs": {"add_batch_ms": str(b["add_batch_ms"]),
                                    "input_rows": str(b["rows"])}})
            next_id += 1
    self_ms = analyze.self_times(spans)
    children = defaultdict(list)
    for s in spans:
        s["self_ms"] = self_ms[s["id"]]
        children[s["parent"]].append(s)
    with open(f"{out}/spans.jsonl", "w", encoding="utf-8") as f:
        for s in sorted(spans, key=lambda s: s["id"]):
            f.write(json.dumps(s) + "\n")

    def span_s(o, names):
        return sum((s["end"] - s["start"]) / 1000.0 for s in children[o["span"]]
                   if s["name"] in names)

    # per operation, as the end-to-end metrics count them: a request, or a
    # micro-batch of a twin
    timed = [o for o in traced if o["timed"]]
    n_ops = max(1, sum(len(o["batches"]) if workload == "stream_replay" else 1 for o in timed))

    def mean(key, scale=1.0):
        return sum(o["counters"].get(key, 0.0) for o in timed) * scale / n_ops

    def span_mean(names):
        return sum(span_s(o, names) for o in timed) / n_ops
    window = (summary["measure_start"], summary["measure_end"])
    overlap, _ = analyze.busy_stats([(j["start"], j["end"]) for j in jobs.values()], *window)
    # counters of executions over identical input: every twin per pass;
    # reads of the same graph, start vertex and answer
    groups = defaultdict(list)
    for o in traced:
        key = o["name"] if workload == "stream_replay" else \
            (o["op"], o["name"], o["req"][3], o["result"]) if o["op"] in ("bfs", "dfs") else None
        if key is not None:
            groups[str(key)].append({k: o["counters"].get(k, 0)
                                     for k in ("jobs", "tasks", "shuffle_write", "shuffle_read")})
    unrepeatable = analyze.differing_counters(groups)
    # the tracing's own cost: listener handlers, plus the catalog reads the
    # traced engine requests add, as a share of the operations' time
    probe_ms = sum(s["end"] - s["start"] for s in spans if s["name"] == "graph.catalog.load")
    op_ms = sum(o["end"] - o["start"] for o in res["ops"])
    overhead = 100.0 * (probe_ms + summary["listener_ms"]) / op_ms
    metrics = {
        "spark.jobs_per_op": mean("jobs"), "spark.stages_per_op": mean("stages"),
        "spark.tasks_per_op": mean("tasks"),
        "spark.shuffle_mb_per_op": mean("shuffle_write", 1 / MB),
        "spark.input_mb_per_op": mean("input", 1 / MB),
        "spark.output_mb_per_op": mean("output", 1 / MB),
        "spark.cpu_s_per_op": mean("cpu_ns", 1e-9), "spark.gc_s_per_op": mean("gc_ms", 1e-3),
        "spark.driver_s_per_op": mean("driver_s"), "spark.job_overlap": overlap,
        "spark.smj_per_op": mean("smj"), "spark.bhj_per_op": mean("bhj"),
        "op.call_s": span_mean({"engine.execute", "streaming.call"}),
        "op.collect_s": span_mean({"spark.collect"}),
        "stored_mb": res["report"]["stored_mb"],
        "trace.overhead_pct": overhead,
        "trace.unrepeatable_counters": float(len(unrepeatable)),
    }
    detail = {"per_layer_self_s": layer_self(spans), "unrepeatable": unrepeatable,
              "overhead_pct": overhead}
    detail.update(engine_detail(traced, children, overlap, res) if workload == "engine_requests"
                  else stream_detail(traced))
    return metrics, detail


def layer_self(spans):
    out = defaultdict(float)
    for s in spans:
        out[s["layer"]] += s["self_ms"] / 1000.0
    return dict(out)


def engine_detail(traced, children, overlap, res):
    def kind(o):
        return "read" if o["op"] in ("bfs", "dfs") else "write"

    def child_ms(o, name):
        return [(s["end"] - s["start"]) for s in children[o["span"]] if s["name"] == name]

    d = {}
    for k in ("read", "write"):
        os_ = [o for o in traced if kind(o) == k]
        if os_:
            d[f"engine.jobs_per_{k}"] = statistics.mean(o["counters"].get("jobs", 0) for o in os_)
            d[f"engine.driver_ms_per_{k}"] = statistics.mean(
                o["counters"]["driver_s"] * 1000.0 for o in os_)
    model = {k: [sum(sum(child_ms(o, n)) for n in ("model.parse", "model.decode"))
                 for o in traced if kind(o) == k] for k in ("read", "write")}
    loads = [ms for o in traced for ms in child_ms(o, "graph.catalog.load")]
    versions = [o["versions"] for o in traced if o["versions"] >= 0]
    decode = [sum(child_ms(o, "model.decode")) for o in traced if kind(o) == "write"]
    d.update({"model.parse_ms": statistics.mean(model["write"]) if model["write"] else None,
              "model.parse_ms_per_read": statistics.mean(model["read"]) if model["read"] else None,
              "model.decode_ms_per_write": statistics.mean(decode) if decode else None,
              "graph.catalog.load_ms": statistics.mean(loads) if loads else None,
              "graph.catalog.versions_mean": statistics.mean(versions) if versions else None,
              "engine.job_overlap": overlap,
              "engine.write_conflicts": res["report"]["write_conflicts"]})
    return d


def stream_detail(traced):
    per = defaultdict(list)
    for o in traced:
        per[o["name"]].append(o)
    d = {}
    for name, os_ in sorted(per.items()):
        c = [o["counters"] for o in os_]
        bs = [b for o in os_ for b in o["batches"]]
        d[name] = {
            "s": statistics.mean((o["end"] - o["start"]) / 1000.0 for o in os_),
            "batches": statistics.mean(len(o["batches"]) for o in os_),
            "jobs": statistics.mean(x.get("jobs", 0) for x in c),
            "shuffle_mb": statistics.mean(x.get("shuffle_write", 0) / MB for x in c),
            "cpu_s": statistics.mean(x.get("cpu_ns", 0) / 1e9 for x in c),
            "add_batch_ms": statistics.mean(b["add_batch_ms"] for b in bs) if bs else None,
            "trigger_overhead_ms": (statistics.mean(b["duration_ms"] - b["add_batch_ms"]
                                                    for b in bs) if bs else None),
            "read_mb": statistics.mean(x.get("input", 0) / MB for x in c),
            "write_mb": statistics.mean(x.get("output", 0) / MB for x in c),
            "stored_mb": statistics.mean(o["stored_bytes"] / MB for o in os_),
            "jobs_by_execution": [x.get("jobs", 0) for x in c],
        }
    return d


# ------------------------------------------------------------ main

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    build_dir = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    try:
        classpath = build.ensure(root, build_dir)
    except (OSError, subprocess.SubprocessError) as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2

    work = os.path.join(build_dir, "perfbench", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    inp, out, tmp = (os.path.join(work, d) for d in ("in", "out", "tmp"))
    for d in (inp, out, tmp):
        os.makedirs(d)
    if args.workload == "engine_requests":
        inputs = gen.EngineInputs(args.seed)
        inputs.write(inp)
    else:
        gen.tables(args.seed, inp, SF)

    cmd = ["java", *OPENS, "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}/spark",
           f"-Dlog4j.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-cp", classpath, "perfbench.Harness",
           args.workload, inp, out, str(args.seconds), str(args.trace)]
    # /proc/stat samples while the JVM runs, for the CPU share the host
    # took from this machine during the measurement (slow runs track it)
    cpu = []
    deadline = time.monotonic() + JVM_TIMEOUT_S
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            while proc.poll() is None:
                if time.monotonic() > deadline:
                    print(f"workload timed out after {JVM_TIMEOUT_S} s", file=sys.stderr)
                    return 3
                with open("/proc/stat") as f:
                    host = [int(x) for x in f.readline().split()[1:]]
                try:
                    with open(f"/proc/{proc.pid}/stat") as f:
                        jvm = sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:13])
                except OSError:
                    jvm = None
                cpu.append((time.time() * 1000.0, host, jvm))
                time.sleep(0.5)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    code = proc.returncode
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        print(f"harness JVM exited with {code}", file=sys.stderr)
        return 4

    summary = jsonl(f"{out}/summary.json")[0]
    res = (engine_result(inputs, out, summary) if args.workload == "engine_requests"
           else stream_result(inp, out, summary))
    report = {"workload": args.workload, "seed": args.seed, "e2e": res["e2e"], **res["report"],
              "setup": {k: summary[k] for k in ("session_s", "stage_s", "warm_s")},
              "peak_rss_mb": summary["peak_rss_mb"],
              "host_steal_pct": analyze.steal_pct([(t, h) for t, h, _ in cpu],
                                                  summary["measure_start"],
                                                  summary["measure_end"]),
              "jvm_cpu_s": jvm_cpu_s(cpu, summary["measure_start"], summary["measure_end"]),
              "failures": res["bad"]}
    if args.trace:
        metrics, detail = trace_result(args.workload, res, out, summary)
        untraced = os.path.join(build_dir, "perfbench",
                                f"{args.workload}-s{args.seed}-t0", "report.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["e2e"]
            detail["e2e_traced_minus_untraced"] = {k: res["e2e"][k] - base[k] for k in base}
        report["trace"] = detail
        units = PER_LAYER
    else:
        metrics, units = res["e2e"], END_TO_END
    with open(os.path.join(work, "report.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    # keep the raw records; drop inputs, catalogs, results and temp state
    for d in [inp, tmp, f"{out}/results"] + [os.path.join(out, c) for c in os.listdir(out)
                                             if c.startswith("catalog_")]:
        shutil.rmtree(d, ignore_errors=True)
    print("report: " + json.dumps(report, default=str))
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]),
                      "metrics": {k: {"value": float(metrics[k]), "unit": u}
                                  for k, u in units.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
