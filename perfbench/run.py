#!/usr/bin/env python3
"""The benchmark command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the program's
sources together with the benchmark's JVM code (perfbench/build.sbt, sbt,
offline) into .bench_build/perfbench; later runs reuse that build while the
sources are unchanged. Each run starts one JVM at local[min(nproc, 4)],
which writes its raw measurements to a file; this script turns them into
metrics and prints one JSON object as the last line of standard output.
See perfbench/README.md for the workloads and every metric.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics as M  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(BUILD, "target", "scala-2.13", "classes")
WORKLOADS = ("fanout_live", "fanout_backlog", "query_mix")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar")
MB = 1024.0 * 1024.0
# A run with more CPU steal than this is flagged "valid": false on its host
# line; comparisons should drop such runs (see README).
STEAL_VALID_PCT = 5.0
LIVE_TAIL_PCT = 90.0


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def load_json(path):
    with open(path, encoding="utf-8") as f:
        return json.load(f)


# ---------------------------------------------------------------- build

def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = [x for x in dirs if x != "target"]
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        die("no Spark installation: set SPARK_HOME")
    return home


def build(env):
    stamp = os.path.join(BUILD, "build.stamp")
    want = digest()
    if os.path.isdir(CLASSES) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read().strip() == want:
                return 0.0
    if not shutil.which("sbt"):
        die("sbt is needed to build the benchmark")
    os.makedirs(BUILD, exist_ok=True)
    log_path = os.path.join(BUILD, "build.log")
    t0 = time.time()
    with open(log_path, "w") as log:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.server.autostart=false",
                          "-Dsbt.log.noformat=true", "compile"],
                         cwd=HERE, env=env, log=log, timeout=BUILD_TIMEOUT_S)
    if rc != 0:
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        die(f"build failed (rc={rc})", 3)
    with open(stamp, "w") as f:
        f.write(want)
    return time.time() - t0


def run_bounded(cmd, cwd, env, log, timeout):
    """Run cmd in its own process group; kill the whole group on timeout
    and always wait for it, so no process outlives this script."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log,
                            stderr=subprocess.STDOUT, start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return -1
    finally:
        # the group may hold children that outlive the leader (sbt, JVM helpers)
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()


# ---------------------------------------------------------------- host

def cpu_times():
    with open("/proc/stat") as f:
        fields = f.readline().split()[1:]
    vals = [int(x) for x in fields[:8]]
    return sum(vals), vals[7]


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


# ---------------------------------------------------------------- analysis

def data_batches(progress):
    return sorted((p for p in progress if p["rows"] > 0), key=lambda p: p["batch"])


def commit_ms(p):
    return p["ts"] + p["duration"]


def analyse_live(run, cfg):
    """Delivery latency of each record due inside the measured window:
    due time → commit of the micro-batch whose end offset holds it. The
    generator keeps appending for a cool-down after the window, so the
    triggers that carry the window's last records run as in steady state."""
    due, app = run["due"], run["appended"]
    g0 = due[0]
    lo, hi = g0 + run["warm_s"] * 1000.0, g0 + (run["warm_s"] + run["seconds"]) * 1000.0
    batches = sorted(run["progress"], key=lambda p: p["batch"])
    ends = [p["end"] for p in batches]
    which = M.batch_of_records(run["shard"], run["seq"], ends)
    commits = [commit_ms(batches[b]) if b is not None else None for b in which]
    window = [i for i, d in enumerate(due) if lo <= d < hi]
    lat = [commits[i] - due[i] for i in window if commits[i] is not None]
    undelivered = sum(1 for c in commits if c is None)
    in_window = [batches[k] for k in sorted({which[i] for i in window} - {None})]
    rows_med = M.median([p["rows"] for p in data_batches(run["progress"])])
    backlog_end = sum(1 for i, a in enumerate(app) if a <= hi
                      and (commits[i] is None or commits[i] > hi))
    unsustained = backlog_end > cfg["unsustained_triggers"] * rows_med
    tail_p, tail_v = M.tail(lat)
    # The end-to-end figures are the mean and p90, not the median and the
    # tail rule's p99: whether a shard's tip probe stopped early inside the
    # window, which some runs have and others do not, moves the median and
    # p99 between two values from run to run, and the mean and p90 less.
    return {
        "latency_ms": M.mean(lat), "deliver_p50_ms": M.percentile(lat, 50),
        "latency_tail_ms": M.percentile(lat, LIVE_TAIL_PCT), "tail_pct": LIVE_TAIL_PCT,
        "deliver_p99_ms": tail_v, "deliver_tail_pct": tail_p,
        "throughput_per_s": 1000.0 * sum(p["rows"] for p in in_window)
        / max(1.0, sum(p["duration"] for p in in_window)),
        "samples": len(lat), "triggers": len(in_window),
        "trigger_ms": [p["duration"] for p in in_window],
        "latest_offset_ms": [p["phases"].get("latestOffset", 0) for p in in_window],
        "late_p99_ms": M.percentile([app[i] - due[i] for i in window], 99),
        "backlog_end": backlog_end, "unsustained": unsustained,
        "failed": run["check"]["failed"] + undelivered
        + (backlog_end if unsustained else 0),
        "attempted": run["check"]["offered"],
    }


def analyse_drain(run):
    """Drain rate (offered ÷ start → last commit) and each record's time to
    commit, weighted by the rows each micro-batch carried."""
    data = data_batches(run["progress"])
    t0 = run["t0"]
    lat = []
    for p in data:
        lat += [commit_ms(p) - t0] * int(p["rows"])
    drain_ms = max(commit_ms(p) for p in data) - t0
    tail_p, tail_v = M.tail(lat)
    return {
        "latency_ms": M.percentile(lat, 50),
        "latency_tail_ms": tail_v, "tail_pct": tail_p,
        "throughput_per_s": run["offered"] / (drain_ms / 1000.0),
        "samples": len(lat), "triggers": len(data),
        "failed": run["check"]["failed"], "attempted": run["offered"],
    }


def analyse_queries(runs, qcfg, expected):
    """Per query, the median of its timed passes; a pass fails when it
    throws or returns another row count than the captured one."""
    times, failed = {}, 0
    for r in runs:
        want = expected.get(r["query"], {}).get("rows")
        if r["error"] or want is None or r["rows"] != want:
            failed += 1
        times.setdefault(r["query"], []).append(r["ms"])
    med = {q: M.median(v) for q, v in times.items()}
    tail_p, tail_v = M.tail(list(med.values()))
    total_s = sum(med.values()) / 1000.0
    return {
        "latency_ms": M.median(list(med.values())),
        "latency_tail_ms": tail_v, "tail_pct": tail_p,
        "throughput_per_s": len(med) / total_s,
        "iter_s": sum(med[q] for q in qcfg["iter"] if q in med) / 1000.0,
        "oneshot_s": sum(med[q] for q in qcfg["oneshot"] if q in med) / 1000.0,
        "per_query_ms": med, "samples": len(runs),
        "failed": failed, "attempted": len(runs),
    }


PHASE_ORDER = ("latestOffset", "walCommit", "getBatch", "queryPlanning",
               "addBatch", "commitOffsets")
PHASE_LAYER = {"latestOffset": "sources.latest_offset", "walCommit": "streaming.wal_commit",
               "getBatch": "sources.get_batch", "queryPlanning": "streaming.query_planning",
               "addBatch": "streaming.add_batch_other",
               "commitOffsets": "streaming.commit_offsets"}


def stream_spans(run, trace):
    """One span tree per data trigger: the trigger, its durationMs phases
    laid end to end, the tip-probe job under latestOffset (the one job of a
    trigger outside any SQL execution, found by time), the SQL executions
    under addBatch (layer by what they write or collect), and the tasks that
    first stored the persisted decoded batch under the execution they ran
    in."""
    jobs_by_batch = {}
    for j in trace["jobs"]:
        jobs_by_batch.setdefault(j["batch"], []).append(j)
    plain_jobs = [j for j in trace["jobs"] if not j["sql"]]
    stages = {s["id"]: s for s in trace["stages"]}
    sql = {s["id"]: s for s in trace["sql"]}
    block_tasks = {}
    for t in trace["block_tasks"]:
        block_tasks.setdefault(t["stage"], []).append(t)
    spans, per_trigger = [], []

    def add(name, layer, start, end, parent, trace_id):
        spans.append({"id": len(spans) + 1, "name": name, "layer": layer, "start": start,
                      "end": end, "parent": parent, "trace": trace_id})
        return len(spans)

    for p in data_batches(run["progress"]):
        b = str(p["batch"])
        ph = p["phases"]
        root = add("trigger", "streaming.other", p["ts"], p["ts"] + ph.get("triggerExecution", 0), -1, b)
        cursor, phase = p["ts"], {}
        for name in PHASE_ORDER:
            d = ph.get(name, 0)
            phase[name] = (add(name, PHASE_LAYER[name], cursor, cursor + d, root, b), cursor, cursor + d)
            cursor += d
        lo_id, lo_s, lo_e = phase["latestOffset"]
        probes = [j for j in plain_jobs if lo_s <= j["start"] <= lo_e]
        for j in probes:
            add("probe_job", "sources.probe_job", j["start"], j["end"], lo_id, b)
        jobs = [j for j in jobs_by_batch.get(b, []) if j["sql"]]
        stage_ids = {s for j in jobs + probes for s in j["stages"]}
        tasks = [t for s in stage_ids for t in block_tasks.get(s, [])]
        rdds = [blk[0] for t in tasks for blk in t["blocks"]]
        decoded = min(rdds) if rdds else None
        dec_tasks = [t for t in tasks if any(blk[0] == decoded for blk in t["blocks"])]
        info = {"jobs": len(jobs) + len(probes),
                "tasks": sum(stages[s]["tasks"] for s in stage_ids if s in stages),
                "decode_cpu_ns": sum(t["cpu_ns"] for t in dec_tasks),
                "persist_b": sum(blk[1] for t in dec_tasks for blk in t["blocks"] if blk[0] == decoded),
                "rows": p["rows"], "layer_cpu_ns": {}, "gc_ms": 0, "es_shuffle_b": 0}
        dec_stage_cpu = {}
        for t in dec_tasks:
            dec_stage_cpu[t["stage"]] = dec_stage_cpu.get(t["stage"], 0) + t["cpu_ns"]
        execs = {}
        for j in jobs:
            execs.setdefault(int(j["sql"]), []).append(j)
        ab_id = phase["addBatch"][0]
        exec_spans = []
        for eid, ejobs in sorted(execs.items()):
            s = sql.get(eid, {})
            layer = M.sink_of_plan(s.get("plan", ""))
            if layer == "streaming.batch":
                continue
            start = s.get("start") or min(j["start"] for j in ejobs)
            end = s.get("end") or max(j["end"] for j in ejobs)
            exec_spans.append((add("sql", layer, start, end, ab_id, b), start, end))
            est = {st for j in ejobs for st in j["stages"] if st in stages}
            cpu = sum(stages[st]["cpu_ns"] - dec_stage_cpu.get(st, 0) for st in est)
            info["layer_cpu_ns"][layer] = info["layer_cpu_ns"].get(layer, 0) + cpu
            if layer.startswith("sinks."):
                info["gc_ms"] += sum(stages[st]["gc_ms"] for st in est)
            if layer == "sinks.es":
                info["es_shuffle_b"] += sum(stages[st]["shuffle_write_b"] for st in est)
        for t in dec_tasks:
            parent = next((i for i, s, e in exec_spans if s <= t["start"] < e), ab_id)
            add("decode_task", "pipeline.decode", t["start"], t["end"], parent, b)
        per_trigger.append(info)
    return spans, per_trigger


def layer_times(spans):
    """Time per layer: the self time of each span, except decode tasks,
    which run in parallel and count as the union of their intervals under
    each parent."""
    selfs = M.self_times(spans)
    by_layer, groups = {}, {}
    for s in spans:
        if s["layer"] == "pipeline.decode":
            groups.setdefault((s["parent"], s["trace"]), []).append((s["start"], s["end"]))
        else:
            by_layer[s["layer"]] = by_layer.get(s["layer"], 0.0) + selfs[s["id"]]
    for iv in groups.values():
        by_layer["pipeline.decode"] = by_layer.get("pipeline.decode", 0.0) + M.union_length(iv)
    return by_layer, selfs


def stream_layer_metrics(trace, run, workload):
    spans, per = stream_spans(run, trace)
    n = max(1, len(per))
    # a sink execution's self time excludes the decode tasks that ran in it
    by_layer, selfs = layer_times(spans)
    chk = run["check"]
    data = data_batches(run["progress"])
    phase = lambda name: M.mean(p["phases"].get(name, 0) for p in data)
    roots = [s for s in spans if s["name"] == "trigger"]
    adds = [s for s in spans if s["name"] == "addBatch"]
    lag = stream_lag(run, workload)
    out = {
        "sources.latest_offset_ms": phase("latestOffset"),
        "sources.probe_job_ms": by_layer.get("sources.probe_job", 0.0) / n,
        "sources.get_batch_ms": phase("getBatch"),
        "sources.getrecords_per_trigger": run["getrecords"] / n,
        "sources.page_reads_per_page": run["getrecords"] / max(1, run["pages"]),
        "sources.lag_max_records": lag,
        "sources.empty_triggers": sum(1 for p in run["progress"] if p["rows"] == 0),
        "streaming.triggers": len(per),
        "streaming.rows_per_trigger": M.mean(i["rows"] for i in per),
        "streaming.trigger_ms": phase("triggerExecution"),
        "streaming.query_planning_ms": phase("queryPlanning"),
        "streaming.wal_commit_ms": phase("walCommit"),
        "streaming.commit_offsets_ms": phase("commitOffsets"),
        "streaming.add_batch_ms": phase("addBatch"),
        "streaming.jobs_per_trigger": M.mean(i["jobs"] for i in per),
        "streaming.tasks_per_trigger": M.mean(i["tasks"] for i in per),
        "streaming.add_batch_other_pct": 100.0 * sum(selfs[s["id"]] for s in adds)
        / max(1e-9, sum(s["end"] - s["start"] for s in adds)),
        "pipeline.decode_ms": by_layer.get("pipeline.decode", 0.0) / n,
        "pipeline.decode_cpu_ms": sum(i["decode_cpu_ns"] for i in per) / 1e6 / n,
        "pipeline.persist_mb": sum(i["persist_b"] for i in per) / MB / n,
        "sinks.dlq_ms": by_layer.get("sinks.dlq", 0.0) / n,
        "sinks.es_ms": by_layer.get("sinks.es", 0.0) / n,
        "sinks.splunk_ms": by_layer.get("sinks.splunk", 0.0) / n,
        "sinks.es_cpu_ms": sum(i["layer_cpu_ns"].get("sinks.es", 0) for i in per) / 1e6 / n,
        "sinks.splunk_cpu_ms": sum(i["layer_cpu_ns"].get("sinks.splunk", 0) for i in per) / 1e6 / n,
        "sinks.gc_ms": sum(i["gc_ms"] for i in per) / n,
        "sinks.es_shuffle_mb": sum(i["es_shuffle_b"] for i in per) / MB / n,
        "sinks.es_files_per_trigger": chk["es_files"] / n,
        "sinks.splunk_posts_per_trigger": chk["splunk_posts"] / n,
        "sinks.splunk_fill_ratio": chk["splunk_total"] / max(1, chk["splunk_posts"]) / 500.0,
        "sinks.es_success_ratio": chk["es_success"] / max(1, chk["es_total"]),
        "sinks.splunk_success_ratio": chk["splunk_success"] / max(1, chk["splunk_total"]),
        "trace.other_pct": 100.0 * sum(selfs[s["id"]] for s in roots)
        / max(1e-9, sum(s["end"] - s["start"] for s in roots)),
    }
    return out, spans


def stream_lag(run, workload):
    """Largest backlog a trigger started with: records on the stream but
    not yet committed when the trigger began."""
    data = data_batches(run["progress"])
    committed = 0
    worst = 0
    for p in data:
        if workload == "fanout_live":
            on_stream = sum(1 for a in run["appended"] if a <= p["ts"])
        else:
            on_stream = run["offered"]
        worst = max(worst, on_stream - committed)
        committed += p["rows"]
    return worst


def query_layer_metrics(res, qcfg, cpus):
    tr = res["traced"]
    trace = res["trace"]
    stages = {s["id"]: s for s in trace["stages"]}
    blocks = {}
    for t in trace["block_tasks"]:
        blocks[t["stage"]] = blocks.get(t["stage"], 0) + sum(b[1] for b in t["blocks"])
    fam = {q: "iter" for q in qcfg["iter"]}
    fam.update({q: "oneshot" for q in qcfg["oneshot"]})
    out = {}
    for f in ("iter", "oneshot"):
        for k in ("queries.construct_ms", "queries.construct_jobs", "queries.construct_block_mb",
                  "planning.analysis_ms", "planning.optimization_ms", "planning.planning_ms",
                  "exec.ms", "exec.jobs", "exec.stages", "exec.tasks", "exec.cpu_s", "exec.gc_s",
                  "exec.input_mb", "exec.shuffle_read_mb", "exec.shuffle_write_mb", "exec.spill_mb"):
            out[f"{k}.{f}"] = 0.0
    for p in tr["passes"]:
        f = fam[p["query"]]
        out[f"queries.construct_ms.{f}"] += p["construct_ms"]
        out[f"planning.analysis_ms.{f}"] += p["phases"].get("analysis", 0)
        out[f"planning.optimization_ms.{f}"] += p["phases"].get("optimization", 0)
        out[f"planning.planning_ms.{f}"] += p["phases"].get("planning", 0)
        out[f"exec.ms.{f}"] += p["exec_ms"]
    for j in trace["jobs"]:
        g = j["group"]
        if ":" not in g:
            continue
        kind, rest = g.split(":", 1)
        f = fam.get(rest.split("#")[0])
        if f is None:
            continue
        ran = [stages[s] for s in j["stages"] if s in stages]
        if kind == "construct":
            out[f"queries.construct_jobs.{f}"] += 1
            out[f"queries.construct_block_mb.{f}"] += sum(blocks.get(s["id"], 0) for s in ran) / MB
        elif kind == "exec":
            out[f"exec.jobs.{f}"] += 1
            out[f"exec.stages.{f}"] += len(ran)
            out[f"exec.tasks.{f}"] += sum(s["tasks"] for s in ran)
            out[f"exec.cpu_s.{f}"] += sum(s["cpu_ns"] for s in ran) / 1e9
            out[f"exec.gc_s.{f}"] += sum(s["gc_ms"] for s in ran) / 1000.0
            out[f"exec.input_mb.{f}"] += sum(s["input_b"] for s in ran) / MB
            out[f"exec.shuffle_read_mb.{f}"] += sum(s["shuffle_read_b"] for s in ran) / MB
            out[f"exec.shuffle_write_mb.{f}"] += sum(s["shuffle_write_b"] for s in ran) / MB
            out[f"exec.spill_mb.{f}"] += sum(s["spill_b"] for s in ran) / MB
    for f in ("iter", "oneshot"):
        wall = out[f"exec.ms.{f}"] / 1000.0
        out[f"exec.cpu_util.{f}"] = out[f"exec.cpu_s.{f}"] / (wall * cpus) if wall else 0.0
    tables = tr["tables"]
    out["tables.resolve_ms"] = M.median(tables["resolve_ms"])
    out["tables.events_ms"] = tables["events_ms"]
    spans = [s for s in res["spans"] if s["trace"].split("#")[0] in fam]
    # each job under the query span of its job group, in the layer its call
    # site names (graft.Tables, graft.operators, graft.queries or other)
    by_group = {f'{s["name"]}:{s["trace"]}': s["id"] for s in spans}
    next_id = max((s["id"] for s in res["spans"]), default=0)
    for j in trace["jobs"]:
        parent = by_group.get(j["group"])
        if parent is not None:
            next_id += 1
            spans.append({"id": next_id, "name": "job", "layer": M.layer_of(j["site"]),
                          "start": j["start"], "end": j["end"], "parent": parent,
                          "trace": j["group"].split(":", 1)[1]})
    selfs = M.self_times(spans)
    roots = [s for s in spans if s["parent"] == -1]
    out["trace.other_pct"] = 100.0 * sum(selfs[s["id"]] for s in roots) \
        / max(1e-9, sum(s["end"] - s["start"] for s in roots))
    return out, spans


# ---------------------------------------------------------------- main

def main():
    t_start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("run from the root of a checkout of the program (src/main/scala/graft is missing)")
    cfg = load_json(os.path.join(HERE, "workloads.json"))
    expected = load_json(os.path.join(HERE, "expected.json"))["queries"]
    bench = load_json(os.path.join(ROOT, "BENCHMARK.json"))

    home = spark_home()
    env = dict(os.environ, SPARK_HOME=home)
    build_s = build(env)

    cpus = max(1, min(len(os.sched_getaffinity(0)), cfg["max_cpus"]))
    work = os.path.join(BUILD, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out_path = os.path.join(work, "result.json")
    fan, qcfg = cfg["fanout"], cfg["query_mix"]
    jargs = ["--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--cpus", str(cpus), "--work", work, "--out", out_path]
    if args.workload.startswith("fanout"):
        jargs += ["--shards", str(fan["shards"]), "--rate", str(fan["rate_per_s"]),
                  "--warm_s", str(fan["warm_s"]), "--cool_s", str(fan["cool_s"]),
                  "--warm_records", str(fan["warm_records"]),
                  "--backlog", str(fan["backlog_records"]), "--drains", str(fan["drains"]),
                  "--small_backlog", str(fan["small_backlog_records"])]
    else:
        order = qcfg["iter"] + qcfg["oneshot"]
        random.Random(args.seed).shuffle(order)
        jargs += ["--data", os.path.join(ROOT, qcfg["data"]), "--queries", ",".join(order)]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd = [java, *opens, f"-Xmx{cfg['jvm_heap']}",
           f"-Djava.io.tmpdir={work}/tmp",
           "-cp", CLASSES + os.pathsep + os.path.join(home, "jars", "*"),
           "perfbench.Main", *jargs]
    jenv = dict(env, SPARK_LOCAL_DIRS=os.path.join(work, "local"))

    load_start, cpu0 = loadavg(), cpu_times()
    with open(os.path.join(work, "jvm.log"), "w") as log:
        rc = run_bounded(cmd, cwd=work, env=jenv, log=log, timeout=JVM_TIMEOUT_S)
    load_end, cpu1 = loadavg(), cpu_times()
    steal_pct = 100.0 * (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0])
    if rc != 0 or not os.path.exists(out_path):
        with open(os.path.join(work, "jvm.log"), errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        die(f"benchmark JVM failed (rc={rc})", 4)
    res = load_json(out_path)
    if res.get("error"):
        sys.stderr.write(f"workload error: {res['error']}\n")

    try:
        report = analyse(args, res, cfg, expected, cpus)
    except Exception as e:  # a run that produced unusable measurements
        sys.stderr.write(f"analysis failed: {e!r}\n")
        report = {"correct": False, "failed": 1, "attempted": 1, "e2e": {}, "layers": {},
                  "detail": {}}
    report["layers"].update({"host.steal_pct": steal_pct, "host.load1": load_start[0]})
    host = {"nproc": len(os.sched_getaffinity(0)), "cpus_used": cpus,
            "load_start": load_start, "load_end": load_end,
            "steal_pct": round(steal_pct, 2),
            "valid": steal_pct <= STEAL_VALID_PCT, "build_s": round(build_s, 1),
            "wall_s": round(time.time() - t_start, 1)}
    print("host " + json.dumps(host))
    print("detail " + json.dumps(report["detail"], default=str))

    e2e = {m["name"]: m for m in bench["end_to_end"]}
    layers = {m["name"]: m for m in bench["per_layer"]}
    if args.trace:
        with open(os.path.join(BUILD, f"trace-{args.workload}.json"), "w") as f:
            json.dump({"layers": report["layers"], "spans": report.get("spans", [])}, f)
        chosen = {k: {"value": report["layers"].get(k, 0.0), "unit": m["unit"]}
                  for k, m in layers.items()}
    else:
        chosen = {k: {"value": report["e2e"].get(k, 0.0), "unit": m["unit"]}
                  for k, m in e2e.items()}
    # keep the raw measurements of the latest run per workload and mode; the
    # sink outputs go unless the run needs inspecting
    shutil.copy(out_path, os.path.join(BUILD, f"last-{args.workload}-trace{args.trace}.json"))
    if not res.get("error") and report["correct"]:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": report["correct"], "attempted": max(1, report["attempted"]),
                      "failed": report["failed"], "metrics": chosen}))


def analyse(args, res, cfg, expected, cpus):
    w = args.workload
    error = bool(res.get("error"))
    layers, spans = {}, []
    if w == "query_mix":
        qcfg = cfg["query_mix"]
        a = analyse_queries(res.get("runs", []), qcfg, expected)
        checks_ok = a["failed"] == 0
        failed, attempted = a["failed"], a["attempted"]
        detail = {"query_iter_s": a["iter_s"], "query_oneshot_s": a["oneshot_s"],
                  "per_query_ms": a["per_query_ms"], "tail_pct": a["tail_pct"]}
        if args.trace and "traced" in res:
            layers, spans = query_layer_metrics(res, qcfg, cpus)
            bad = [p["query"] for p in res["traced"]["passes"]
                   if p["hash"] != expected.get(p["query"], {}).get("hash")
                   or p["rows"] != expected.get(p["query"], {}).get("rows")]
            failed += len(bad)
            attempted += len(res["traced"]["passes"])
            checks_ok = checks_ok and not bad
            detail["hash_mismatch"] = bad
            layers.update(overheads(a, analyse_queries(res["traced"]["passes"], qcfg, expected)))
            layers.update({"queries.iter_s": a["iter_s"], "queries.oneshot_s": a["oneshot_s"]})
    else:
        fan = cfg["fanout"]
        runs = res["runs"]
        a = analyse_live(runs[0], fan) if w == "fanout_live" else median_of(
            [analyse_drain(r) for r in runs])
        checks_ok = all(r["check"]["failed"] == 0 for r in runs) \
            and all(c["failed"] == 0 for c in res["warmup"])
        failed, attempted = a["failed"], a["attempted"]
        detail = {k: v for k, v in a.items() if k not in ("failed", "attempted")}
        detail["check"] = [r["check"] for r in runs]
        if w == "fanout_live":
            detail.update({"deliver_mean_ms": a["latency_ms"],
                           "deliver_p90_ms": a["latency_tail_ms"]})
        else:
            detail["drain_rps"] = a["throughput_per_s"]
        if args.trace and "traced" in res:
            traced = res["traced"]
            t = analyse_live(traced, fan) if w == "fanout_live" else analyse_drain(traced)
            layers, spans = stream_layer_metrics(res["trace"], traced, w)
            layers.update(overheads(a, t))
            layers["gen.late_p99_ms"] = t.get("late_p99_ms", 0.0)
            failed += t["failed"]
            attempted += t["attempted"]
            checks_ok = checks_ok and traced["check"]["failed"] == 0
            if w == "fanout_backlog":
                small_n, small_1 = analyse_drain(res["small_n"]), analyse_drain(res["small_1"])
                layers["streaming.parallel_speedup"] = \
                    small_n["throughput_per_s"] / small_1["throughput_per_s"]
                failed += small_n["failed"] + small_1["failed"]
                checks_ok = checks_ok and small_n["failed"] == 0 and small_1["failed"] == 0
                attempted += small_n["attempted"] + small_1["attempted"]
    e2e = {"setup_s": res["setup_s"], "latency_ms": a["latency_ms"],
           "latency_tail_ms": a["latency_tail_ms"], "throughput_per_s": a["throughput_per_s"]}
    detail["failed_ratio"] = failed / max(1, attempted)
    detail.update({"setup_s": res["setup_s"], "peak_rss_mb": res["rss_mb"],
                   "heap_after_gc_mb": res["heap_after_gc_mb"], "heap_peak_mb": res["heap_peak_mb"],
                   "traced_first": res.get("traced_first")})
    if error:
        failed, checks_ok = max(failed, attempted), False
    return {"correct": checks_ok and not error, "failed": failed, "attempted": attempted,
            "e2e": e2e, "layers": layers, "detail": detail, "spans": spans}


def median_of(analyses):
    """Repeated drains in one run: the median of each figure, counts summed."""
    out = {k: M.median([x[k] for x in analyses])
           for k in ("latency_ms", "latency_tail_ms", "throughput_per_s")}
    out.update({"tail_pct": analyses[0]["tail_pct"],
                "per_drain_rps": [x["throughput_per_s"] for x in analyses],
                "samples": sum(x["samples"] for x in analyses),
                "triggers": sum(x["triggers"] for x in analyses),
                "failed": sum(x["failed"] for x in analyses),
                "attempted": sum(x["attempted"] for x in analyses)})
    return out


def overheads(untraced, traced):
    def pct(k):
        return 100.0 * (traced[k] - untraced[k]) / untraced[k] if untraced[k] else 0.0
    return {"trace.overhead_latency_pct": pct("latency_ms"),
            "trace.overhead_latency_tail_pct": pct("latency_tail_ms"),
            "trace.overhead_throughput_pct": pct("throughput_per_s")}


if __name__ == "__main__":
    main()
