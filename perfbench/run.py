#!/usr/bin/env python3
"""Pipeline benchmark: one workload per invocation.

    python3 perfbench/run.py --workload bridge|enrich|stream|gates \
        --seed N --seconds S --trace 0|1

Builds the program from source (build.py), generates the workload's
inputs from the seed (gen.py), runs the load process and the pipeline
JVM, checks the outputs (checks.py), prints one human-readable line per
metric on stderr and, as the last line of stdout, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end-to-end ones; with --trace 1 the per-layer ones, from a traced
JVM run next to an untraced one (whose difference is the tracing
overhead). Metric definitions are in perfbench/README.md.
"""
import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import pyarrow.parquet as pq

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

# One core is left to the JVMs' compiler and GC threads and to the load
# process, so they do not steal time from the measured tasks.
CORES = max(1, (os.cpu_count() or 4) - 1)
PARTITIONS = 4
FETCH_RECORDS = 5000
# Input sizes are fixed counts, so throughput is measured at a stated size.
BRIDGE_MSGS = 50_000
ENRICH_MSGS = 36_000
ENRICH_FILES = 8
STREAM_RATE = 10000.0    # msg/s, open loop; well below what the program sustains
STREAM_WARM_MSGS = 4000  # pre-produced, consumed before the schedule starts
STREAM_WARM_S = 3.0      # scheduled but outside the latency window
HEAP = "3g"
DEADLINE_S = 160.0

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


class Run:
    """Child processes of one invocation; all are stopped on exit."""

    def __init__(self, dir_, classpath, deadline):
        self.dir, self.cp, self.deadline, self.procs = dir_, classpath, deadline, []

    def java(self, main, args, heap, log, stdin=None):
        tmp = os.path.join(self.dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        cmd = ["java", "-Xms" + heap, "-Xmx" + heap, "-Djava.io.tmpdir=" + tmp,
               "-Dfile.encoding=UTF-8", "-Dsun.jnu.encoding=UTF-8",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
        for p in ADD_OPENS:
            cmd += ["--add-opens", p + "=ALL-UNNAMED"]
        cmd += ["-cp", self.cp, main]
        for k, v in args.items():
            cmd += ["--" + k, str(v)]
        out = open(os.path.join(self.dir, log), "w")
        p = subprocess.Popen(cmd, stdin=stdin, stdout=out, stderr=subprocess.STDOUT,
                             cwd=self.dir)
        p.log, p.logfile = os.path.join(self.dir, log), out
        self.procs.append(p)
        return p

    def wait(self, p, what):
        try:
            rc = p.wait(timeout=max(1.0, self.deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise Failure("%s did not finish in time" % what, p.log)
        if rc != 0:
            raise Failure("%s exited with %d" % (what, rc), p.log)

    def wait_file(self, path, proc, what):
        while not os.path.exists(path):
            if proc.poll() is not None:
                raise Failure("%s exited early (%s)" % (what, proc.returncode), proc.log)
            if time.time() > self.deadline:
                raise Failure("%s: timed out waiting for %s" % (what, os.path.basename(path)), proc.log)
            time.sleep(0.01)

    def stop_all(self):
        for p in self.procs:
            if p.stdin:
                try:
                    p.stdin.close()
                except OSError:
                    pass
        for p in self.procs:
            try:
                p.wait(timeout=5)
            except subprocess.TimeoutExpired:
                p.terminate()
                try:
                    p.wait(timeout=5)
                except subprocess.TimeoutExpired:
                    p.kill()
                    p.wait()
            p.logfile.close()


class Failure(Exception):
    def __init__(self, msg, log=None):
        super().__init__(msg)
        self.log = log


def read_json(path):
    with open(path) as f:
        return json.load(f)


# -- workloads: each returns (result.json, attempted, failed, extra) --------

def tag_dir(run, tag):
    d = os.path.join(run.dir, tag)
    os.makedirs(d, exist_ok=True)
    return d


def launch_pipeline(run, workload, seconds, trace, tag, extra):
    d = tag_dir(run, tag)
    args = {"workload": workload, "dir": d, "seconds": seconds, "trace": trace,
            "cores": extra.pop("cores", CORES), "configs": os.path.join(HERE, "configs"),
            "launch_ms": int(time.time() * 1000)}
    args.update(extra)
    p = run.java("perfbench.PipeMain", args, HEAP, tag + ".log")
    return p, d


def bridge(run, seed, seconds, trace, tag):
    docs = gen.events(seed, BRIDGE_MSGS)
    src = os.path.join(run.dir, "events.jsonl")
    if not os.path.exists(src):
        gen.write_jsonl(docs, src)
    expected = {d["id"]: e for d in docs for e in [gen.expect_light(d)] if e}
    sync = tag_dir(run, tag)
    feeder = run.java("perfbench.Feeder", {
        "mode": "bridge", "dir": sync, "input": src, "partitions": PARTITIONS,
        "fetch_records": FETCH_RECORDS}, "1g", "feeder-%s.log" % tag, stdin=subprocess.PIPE)
    run.wait_file(os.path.join(sync, "broker"), feeder, "feeder")
    broker = open(os.path.join(sync, "broker")).read().strip()
    p, d = launch_pipeline(run, "bridge", seconds, trace, tag, {"broker": broker})
    run.wait(p, "pipeline")
    feeder.stdin.close()
    run.wait(feeder, "feeder")
    res = read_json(os.path.join(d, "result.json"))
    with open(os.path.join(d, "delivered.jsonl"), "rb") as f:
        delivered = f.read().splitlines()
    attempted, failed, problems = checks.check_messages(expected, delivered)
    ref = checks.digest(delivered)
    digs = [(x["count"], int(x["sum"])) for x in res["digests"]]
    if digs[-1] != ref:
        failed += 1
        problems.append("pipeline digest of the checked pass disagrees with its dump")
    failed += checks.check_digests(ref, digs[:-1])
    attempted += len(expected) * (len(digs) - 1)
    per_pass = len(delivered)
    return res, attempted, failed, problems, {
        "delivered_per_pass": per_pass, "msg_bytes_avg": sum(map(len, delivered)) / per_pass}


def parquet_values(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    vals = []
    for f in files:
        vals += [v.encode() for v in pq.read_table(f, columns=["value"]).column(0).to_pylist()]
    return vals, len(files)


def enrich(run, seed, seconds, trace, tag, cores=None):
    docs = gen.events(seed, ENRICH_MSGS)
    in_dir = os.path.join(run.dir, "in")
    if not os.path.isdir(in_dir):
        gen.write_split(docs, in_dir, ENRICH_FILES)
    expected = {d["id"]: e for d in docs for e in [gen.expect_enrich(d)] if e}
    extra = {"in_dir": in_dir}
    if cores:  # one timed pass on `cores` task threads
        extra.update(cores=cores, master="local[%d]" % cores, min_passes=1)
    p, d = launch_pipeline(run, "enrich", seconds, trace, tag, extra)
    run.wait(p, "pipeline")
    res = read_json(os.path.join(d, "result.json"))
    passes = sorted(glob.glob(os.path.join(d, "out", "pass_*")),
                    key=lambda x: int(x.rsplit("_", 1)[1]))
    last, files = parquet_values(passes[-1])
    file_bytes = sum(os.path.getsize(x) for x in glob.glob(os.path.join(passes[-1], "*.parquet")))
    in_bytes = sum(os.path.getsize(x) for x in glob.glob(os.path.join(in_dir, "*")))
    attempted, failed, problems = checks.check_messages(expected, last)
    ref = checks.digest(last)
    others = [checks.digest(parquet_values(x)[0]) for x in passes[:-1]]
    failed += checks.check_digests(ref, others)
    attempted += len(expected) * len(others)
    return res, attempted, failed, problems, {
        "delivered_per_pass": len(last), "files_per_pass": files,
        "file_bytes": file_bytes, "input_msgs": len(docs), "input_bytes": in_bytes,
        "msg_bytes_avg": sum(map(len, last)) / max(1, len(last))}


def sink_batches(out_dir):
    """Committed batches of a parquet streaming sink: for each batch id in
    order, (commit time in epoch µs, [files]). The commit time is the
    modification time of the batch's metadata-log entry, which the sink
    writes when the batch commits; a compacted entry lists every earlier
    file again, so only files not seen before belong to it."""
    log = os.path.join(out_dir, "_spark_metadata")
    entries = []
    for f in os.listdir(log):
        if f.startswith("."):
            continue
        entries.append((int(f.split(".")[0]), os.path.join(log, f)))
    seen, out = set(), []
    for bid, path in sorted(entries):
        with open(path) as fh:
            lines = fh.read().splitlines()[1:]
        files = []
        for ln in lines:
            p = json.loads(ln)["path"]
            p = p[len("file:"):] if p.startswith("file:") else p
            if p not in seen:
                seen.add(p)
                files.append(p)
        out.append((bid, os.stat(path).st_mtime_ns // 1000, files))
    return out


def stream(run, seed, seconds, trace, tag):
    n_sched = int(STREAM_RATE * (STREAM_WARM_S + seconds))
    docs = gen.events(seed, STREAM_WARM_MSGS + n_sched)
    src = os.path.join(run.dir, "events.jsonl")
    if not os.path.exists(src):
        gen.write_jsonl(docs, src)
    expected = {d["id"]: e for d in docs for e in [gen.expect_light(d)] if e}
    sync = tag_dir(run, tag)
    feeder = run.java("perfbench.Feeder", {
        "mode": "stream", "dir": sync, "input": src, "partitions": PARTITIONS,
        "fetch_records": FETCH_RECORDS, "warm_msgs": STREAM_WARM_MSGS,
        "rate": STREAM_RATE}, "1g", "feeder-%s.log" % tag, stdin=subprocess.PIPE)
    run.wait_file(os.path.join(sync, "broker"), feeder, "feeder")
    broker = open(os.path.join(sync, "broker")).read().strip()
    # the pipeline and the feeder meet through files in the tag dir
    p, d = launch_pipeline(run, "stream", seconds, trace, tag,
                           {"broker": broker, "warm_msgs": STREAM_WARM_MSGS, "sync": sync})
    run.wait(p, "pipeline")
    feeder.stdin.close()
    run.wait(feeder, "feeder")
    fd = read_json(os.path.join(sync, "feeder_done"))
    res = read_json(os.path.join(d, "result.json"))
    batches = sink_batches(os.path.join(d, "stream_out"))
    w0 = fd["t0_us"] + STREAM_WARM_S * 1e6
    w1 = w0 + seconds * 1e6
    delivered, dues, commits = [], [], []
    for bid, commit_us, files in batches:
        vals = [v for f in files for v in pq.read_table(f, columns=["value"]).column(0).to_pylist()]
        delivered += [v.encode() for v in vals]
        dues.append((commit_us, [json.loads(v)["due_us"] for v in vals]))
        commits.append((commit_us, len(vals)))
    lat = stats.window_latencies(dues, w0, w1)
    in_window = sum(n for c, n in commits if w0 <= c < w1)
    attempted, failed, problems = checks.check_messages(expected, delivered, drop_keys=("due_us",))
    window_commits = [c for c, _ in commits if w0 <= c < w1]
    intervals = [(b - a) / 1e6 for a, b in zip(window_commits, window_commits[1:])]
    res["pass_s"] = intervals
    return res, attempted, failed, problems, {
        "latency_ms": lat, "window_msgs": in_window, "feeder": fd,
        "commits": commits, "files": sum(len(f) for _, _, f in batches),
        "file_bytes": sum(os.path.getsize(x) for _, _, f in batches for x in f),
        "msg_bytes_avg": sum(map(len, delivered)) / max(1, len(delivered))}


def gates(run, seed, seconds, trace, tag):
    sf = os.path.join(run.dir, "tables")
    if not os.path.isdir(sf):
        gen.gate_tables(seed, sf)
    p, d = launch_pipeline(run, "gates", seconds, trace, tag, {"sf_dir": sf})
    run.wait(p, "pipeline")
    res = read_json(os.path.join(d, "result.json"))
    oracle = read_json(os.path.join(d, "oracle_sql.json"))
    names = list(res["gate_s"].keys())
    attempted, failed, problems = checks.check_gates(
        sf, os.path.join(d, "gates_out"), names, oracle, res["oracle_exempt"])
    for k, msg in res["gate_failures"].items():
        failed += 1
        problems.append("%s: %s" % (k, msg))
    rows = sum(pq.ParquetFile(f).metadata.num_rows
               for f in glob.glob(os.path.join(d, "gates_out", "*", "*.parquet")))
    return res, attempted, failed, problems, {"rows_per_pass": rows}


WORKLOADS = {"bridge": bridge, "enrich": enrich, "stream": stream, "gates": gates}


# -- metrics -----------------------------------------------------------------

def end_to_end(workload, res, extra, seconds):
    walls = res["pass_s"]
    run_s = stats.median(walls)
    if workload == "stream":
        lat = extra["latency_ms"]
        thr = extra["window_msgs"] / seconds
    elif workload == "gates":
        # one sample per gate, its median over the passes: the gates differ
        # in cost by 20x, so pooled per-pass samples mix gate identity in
        lat = [stats.median(xs) * 1000 for xs in res["gate_s"].values()]
        thr = extra["rows_per_pass"] / run_s
    else:
        # a batch pass delivers all its messages together: each message's
        # latency is its pass's wall time
        n = extra["delivered_per_pass"]
        lat = [w * 1000 for w in walls for _ in range(n)]
        thr = n / run_s
    s = stats.summarize(lat)
    return {"run_s": (run_s, "s", len(walls)),
            "items_per_s": (thr, "items/s", len(walls)),
            "latency_p50_ms": (s["p50"], "ms", s["n"]),
            "latency_tail_ms": (s["tail"], "ms", s["n"]),
            "rss_peak_mb": (res["rss_peak_mb"], "MB", 1)}, s["tail_pct"]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its JVMs (see Run.stop_all)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.time()
    try:
        classpath = build.build()
    except SystemExit as e:
        print("build failed: %s" % e, file=sys.stderr)
        return 2
    root = os.path.join(build.build_dir(), "runs", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    os.makedirs(root)
    run = Run(root, classpath, time.time() + DEADLINE_S)
    fn = WORKLOADS[a.workload]
    done = False
    try:
        res, attempted, failed, problems, extra = fn(run, a.seed, a.seconds, 0, "untraced")
        e2e, tail_pct = end_to_end(a.workload, res, extra, a.seconds)
        e2e["setup_s"] = (res["setup_s"], "s", 1)
        if a.trace:
            metrics, (att, fail, probs) = per_layer(run, fn, a, res)
            attempted, failed, problems = attempted + att, failed + fail, problems + probs
        else:
            metrics = {k: e2e[k] for k, _, _ in END_TO_END}
        done = True
    except Failure as f:
        print("benchmark failed: %s" % f, file=sys.stderr)
        if f.log and os.path.exists(f.log):
            sys.stderr.write(open(f.log).read()[-6000:])
        return 1
    finally:
        run.stop_all()
        if not done:
            shutil.rmtree(root, ignore_errors=True)
    correct = failed == 0
    for p in problems[:20]:
        print("check: " + p, file=sys.stderr)
    env = res["env"]
    print("env: nproc=%s heap_max_mb=%s loadavg %s -> %s ref_kernel=%.0f MB/s" % (
        env["nproc"], env["heap_max_mb"], env["loadavg_start"], env["loadavg_end"],
        env["ref_kernel_mb_per_s"]), file=sys.stderr)
    print("failed_frac %.6f (%d of %d)%s" % (failed / max(1, attempted), failed, attempted,
          "" if a.trace else "; latency tail = p%g" % (tail_pct or 0)), file=sys.stderr)
    for k, (v, unit, n) in sorted(metrics.items()):
        print("%-28s %14.6g %-8s n=%d" % (k, v, unit, n), file=sys.stderr)
    rec_dir = os.path.join(build.build_dir(), "records")
    os.makedirs(rec_dir, exist_ok=True)
    with open(os.path.join(rec_dir, os.path.basename(root) + ".json"), "w") as f:
        json.dump({"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                   "trace": a.trace, "env": env, "metrics": metrics,
                   "pass_s": res["pass_s"], "setup_s": res["setup_s"],
                   "msg_bytes_avg": extra.get("msg_bytes_avg"),
                   "latency_pcts": {p: stats.percentile(extra["latency_ms"], p)
                                    for p in (50, 90, 95, 99)} if "latency_ms" in extra else None,
                   "attempted": attempted, "failed": failed, "problems": problems[:50],
                   "wall_s": time.time() - t_start}, f, indent=1)
    if a.trace:  # per-gate and per-batch detail stays in the span file
        shutil.copy(os.path.join(root, "traced", "spans.json"),
                    os.path.join(rec_dir, os.path.basename(root) + ".spans.json"))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()}}))
    shutil.rmtree(root, ignore_errors=True)
    return 0 if correct else 1


# (name, unit, better) of every end-to-end metric. Definitions per
# workload are in README.md.
END_TO_END = [("setup_s", "s", "lower"), ("run_s", "s", "lower"),
              ("items_per_s", "items/s", "higher"), ("latency_p50_ms", "ms", "lower"),
              ("latency_tail_ms", "ms", "lower"), ("rss_peak_mb", "MB", "lower")]

# (name, unit, better) of every per-layer metric, in BENCHMARK.json order.
# Values are per timed pass (per steady window on stream); a metric that
# does not apply to a workload reads 0.
PER_LAYER = [
    ("config.build_ms", "ms", "lower"), ("config.build_jobs", "count", "lower"),
    ("blobl.compile_ms", "ms", "lower"),
    ("catalyst.analysis_ms", "ms", "lower"), ("catalyst.optimization_ms", "ms", "lower"),
    ("catalyst.planning_ms", "ms", "lower"), ("catalyst.expr_nodes", "count", "lower"),
    ("catalyst.interpreted_ops", "count", "lower"),
    ("exec.jobs", "count", "lower"), ("exec.stages", "count", "lower"),
    ("exec.tasks", "count", "lower"), ("exec.task_run_ms", "ms", "lower"),
    ("exec.task_cpu_ms", "ms", "lower"), ("exec.gc_ms", "ms", "lower"),
    ("exec.sched_delay_ms", "ms", "lower"), ("exec.cpu_busy_frac", "ratio", "higher"),
    ("exec.task_skew", "ratio", "lower"), ("exec.shuffle_write_bytes", "bytes", "lower"),
    ("exec.shuffle_read_bytes", "bytes", "lower"), ("exec.spill_bytes", "bytes", "lower"),
    ("exec.parallel_speedup", "ratio", "higher"),
    ("sources.records_read", "count", "higher"), ("sources.bytes_read", "bytes", "lower"),
    ("sources.fetch_ms", "ms", "lower"),
    ("sinks.records_written", "count", "higher"), ("sinks.bytes_written", "bytes", "lower"),
    ("sinks.files_written", "count", "lower"), ("sinks.append_ms", "ms", "lower"),
    ("stream.batches", "count", "higher"), ("stream.rows_per_batch_p50", "count", "lower"),
    ("stream.trigger_ms_p50", "ms", "lower"), ("stream.trigger_ms_p90", "ms", "lower"),
    ("stream.latest_offset_ms_p50", "ms", "lower"), ("stream.planning_ms_p50", "ms", "lower"),
    ("stream.add_batch_ms_p50", "ms", "lower"), ("stream.wal_commit_ms_p50", "ms", "lower"),
    ("stream.commit_offsets_ms_p50", "ms", "lower"),
    ("stream.backlog_max_msgs", "msg", "lower"), ("gen.late_ms_max", "ms", "lower"),
    ("gates.build_ms", "ms", "lower"), ("gates.plan_ms", "ms", "lower"),
    ("gates.exec_ms", "ms", "lower"),
    ("self.unattributed_ms", "ms", "lower"), ("self.config_ms", "ms", "lower"),
    ("self.catalyst_ms", "ms", "lower"), ("self.exec_ms", "ms", "lower"),
    ("self.stream_ms", "ms", "lower"), ("self.gates_ms", "ms", "lower"),
    ("trace.wall_ms", "ms", "lower"), ("trace.overhead_s", "s", "lower")]
SELF_LAYERS = ["unattributed", "config", "catalyst", "exec", "stream", "gates"]


def layer_self_times(spans, roots):
    """Mean per root of each layer's self time (ms), and mean root wall (ms)."""
    totals = {}
    for r in roots:
        inside = [s for s in spans if s is not r and
                  s["start_us"] >= r["start_us"] - 2000 and s["end_us"] <= r["end_us"] + 2000]
        tree = stats.assign_parents([dict(r, parent=-1)] + inside)
        for k, v in stats.self_times(tree, r["id"]).items():
            totals[k] = totals.get(k, 0) + v
    n = max(1, len(roots))
    wall = sum(r["end_us"] - r["start_us"] for r in roots) / n / 1000.0
    return {k: v / n / 1000.0 for k, v in totals.items()}, wall


def per_layer(run, fn, a, res0):
    """Traced launch next to the untraced one (whose result is res0);
    returns the per-layer metrics and the traced launch's check results."""
    res, att, fail, probs, extra = fn(run, a.seed, a.seconds, 1, "traced")
    m = {k: 0.0 for k, _, _ in PER_LAYER}
    m.update({k: v for k, v in res.get("layers", {}).items() if k in m})
    m.update({k: v for k, v in res.get("probe", {}).items() if k in m})
    spans = read_json(os.path.join(run.dir, "traced", "spans.json"))
    roots = [s for s in spans if s["layer"] == "bench" and s["name"] == "pass"]
    w = a.workload
    if w == "stream":
        fd = extra["feeder"]
        w0 = fd["t0_us"] + STREAM_WARM_S * 1e6
        roots = [{"id": -10, "parent": -1, "layer": "bench", "name": "window",
                  "start_us": int(w0), "end_us": int(w0 + a.seconds * 1e6)}]
        spans = spans + roots
        b = [x for x in res.get("batches", []) if w0 / 1000 <= x["start_ms"] < w0 / 1000 + a.seconds * 1000]
        med = lambda k: stats.median([x.get(k, 0) for x in b]) if b else 0.0
        m.update({"stream.batches": len(b), "stream.rows_per_batch_p50": med("rows"),
                  "stream.trigger_ms_p50": med("triggerExecution"),
                  "stream.trigger_ms_p90": stats.percentile([x.get("triggerExecution", 0) for x in b], 90) if b else 0.0,
                  "stream.latest_offset_ms_p50": med("latestOffset"),
                  "stream.planning_ms_p50": med("queryPlanning"),
                  "stream.add_batch_ms_p50": med("addBatch"),
                  "stream.wal_commit_ms_p50": med("walCommit"),
                  "stream.commit_offsets_ms_p50": med("commitOffsets"),
                  "gen.late_ms_max": fd["late_ms_max"]})
        # backlog at each commit: messages due by then minus messages consumed
        consumed, backlog = 0, 0
        for x in sorted(res.get("batches", []), key=lambda x: x["id"]):
            consumed += x["rows"]
            t_us = (x["start_ms"] + x.get("triggerExecution", 0)) * 1000
            due = fd["warm"] + min(fd["sent"], max(0, int((t_us - fd["t0_us"]) * fd["rate"] / 1e6)))
            backlog = max(backlog, due - consumed)
        m["stream.backlog_max_msgs"] = backlog
        m["sources.records_read"] = sum(x["rows"] for x in res.get("batches", []))
        m["sinks.records_written"] = sum(r for _, r in extra["commits"])
        m["sinks.files_written"] = extra["files"]
        m["sinks.bytes_written"] = extra["file_bytes"]
    elif w == "enrich":
        m["sources.records_read"] = extra["input_msgs"]
        m["sources.bytes_read"] = extra["input_bytes"]
        m["sinks.records_written"] = extra["delivered_per_pass"]
        m["sinks.files_written"] = extra["files_per_pass"]
        m["sinks.bytes_written"] = extra["file_bytes"]
        # single-threaded baseline: one pass of the same job at local[1]
        r1, att1, fail1, probs1, _ = enrich(run, a.seed, 0, 0, "local1", cores=1)
        att, fail, probs = att + att1, fail + fail1, probs + probs1
        m["exec.parallel_speedup"] = stats.median(r1["pass_s"]) / stats.median(res0["pass_s"])
    elif w == "gates":
        m["sinks.records_written"] = extra["rows_per_pass"]
    self_ms, wall_ms = layer_self_times(spans, roots)
    for k in SELF_LAYERS:
        m["self.%s_ms" % k] = self_ms.get(k, 0.0)
    m["trace.wall_ms"] = wall_ms
    m["trace.overhead_s"] = stats.median(res["pass_s"]) - stats.median(res0["pass_s"])
    return {k: (m[k], unit, 1) for k, unit, _ in PER_LAYER}, (att, fail, probs)


if __name__ == "__main__":
    sys.exit(main())
