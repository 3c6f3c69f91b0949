#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <mediation|ingest> --seed N
                             --seconds S --trace <0|1>

Run from the root of a checkout. Builds the library and the harness from
source with sbt on first use (cached under .bench_build/), probes external
CPU load, runs one workload in a fresh JVM, checks its outputs, and prints
one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 the per-layer metrics, from the spans of a traced run.
Each run also leaves a full record (metrics, effective SQL conf, external
load, raw figures, spans) under .bench_run/records/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402

BUILD = ".bench_build"
RUNS = ".bench_run"
WORKLOADS = ("mediation", "ingest")
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
RUN_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_group(cmd, timeout, **kw):
    """Runs `cmd` in its own process group and waits for it; on timeout kills
    the whole group (sbt starts its JVM as a child) and returns None."""
    p = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        raise


def sources_stamp(root):
    files = [os.path.join(root, f) for f in ("build.sbt", "perfbench/build.sbt")]
    for d in ("src/main", "perfbench/src", "project", "perfbench/project"):
        for dirpath, dirnames, names in os.walk(os.path.join(root, d)):
            dirnames[:] = [n for n in dirnames if n != "target"]
            files += [os.path.join(dirpath, n) for n in names]
    return "%d:%.6f" % (len(files), max(os.path.getmtime(f) for f in files))


def build(root):
    """Compiles library + harness; returns the runtime classpath."""
    bdir = os.path.join(root, BUILD)
    os.makedirs(bdir, exist_ok=True)
    cp_file, stamp_file = os.path.join(bdir, "classpath.txt"), os.path.join(bdir, "stamp")
    stamp = sources_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = [env.get("SBT_OPTS", ""), "-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(o for o in opts if o)
    log("building library and harness with sbt")
    t0 = time.time()
    with open(os.path.join(bdir, "build.log"), "w") as log_file:
        code, out = run_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            850, cwd=os.path.join(root, "perfbench"), env=env, stdout=subprocess.PIPE,
            stderr=log_file, text=True)
        log_file.write(out or "")
    lines = [ln for ln in (out or "").splitlines()
             if ln and not ln.startswith("[") and ".jar" in ln]
    if code != 0 or not lines:
        raise SystemExit(f"build failed (see {BUILD}/build.log)")
    log(f"built in {time.time() - t0:.1f} s")
    cp = lines[-1].strip()
    open(cp_file, "w").write(cp)
    open(stamp_file, "w").write(stamp)
    return cp


def cpu_times():
    """(total, idle + iowait, steal) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        xs = [int(x) for x in f.readline().split()[1:]]
    return sum(xs), xs[3] + xs[4], xs[7] if len(xs) > 7 else 0


def external_busy(seconds=1.0):
    """Share of CPU time not idle while this process sleeps: load that is
    not ours. None where /proc/stat is missing."""
    try:
        t0, i0, _ = cpu_times()
        time.sleep(seconds)
        t1, i1, _ = cpu_times()
    except OSError:
        return None
    return 0.0 if t1 <= t0 else max(0.0, 1.0 - (i1 - i0) / (t1 - t0))


def steal_share(before, after):
    """Share of CPU time taken by the hypervisor between two cpu_times()."""
    if before is None or after is None or after[0] <= before[0]:
        return None
    return (after[2] - before[2]) / (after[0] - before[0])


def read_spans(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(ln) for ln in f if ln.strip()]


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def end_to_end(raw):
    w = raw["workload"]
    m = {"setup_s": raw["setup_s"]}
    if w == "mediation":
        ends = {b["batch"]: b["end"] for b in raw["batches"]}
        ms = stats.due_latencies(raw["t0"], raw["rate"], raw["batch_of"], ends)
        # drain rate of each backlog part: its records over the time of the
        # micro-batches that read it; the median over the parts
        live, parts = raw["first"] + raw["p1"], raw["backlog_parts"]
        size = raw["backlog"] // parts
        busy = [0.0] * parts
        cum = 0
        for b in sorted(raw["batches"], key=lambda b: b["batch"]):
            if cum >= live:
                busy[min(parts - 1, (cum - live) // size)] += b["end"] - b["start"]
            cum += b["rows"]
        m["throughput_rps"] = stats.median([size / (t / 1e3) for t in busy])
    else:
        # epochs of all drains pooled; throughput: the median over the drains
        # of records over drain start to last commit
        starts = {(b["query"], b["batch"]): b["start"] for b in raw["batches"]}
        ms, rates = [], []
        for d in raw["drains"]:
            ms += [end - starts.get((d["query"], int(e)), start) for e, start, end in d["appends"]]
            rates.append(d["records"] / ((d["appends"][-1][2] - d["t0"]) / 1e3))
        m["throughput_rps"] = stats.median(rates)
    m["latency_p50_ms"] = stats.percentile(ms, 0.5)
    m["latency_tail_ms"] = stats.percentile(ms, stats.tail_q(len(ms)))
    return m, len(ms), stats.tail_q(len(ms))


def per_layer(raw, spans, e2e):
    """Every per-layer metric; zero where the workload does not use the layer."""
    w = raw["workload"]
    by_kind = {}
    for s in spans:
        by_kind.setdefault(s["kind"], []).append(s)
    jobs, stages = by_kind.get("job", []), by_kind.get("stage", [])
    selfs = stats.self_times(spans)
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)

    def injob(s):
        return stats.union_ms([(j["start"], j["end"]) for j in kids.get(s["key"], [])
                               if j["kind"] == "job"], s["start"], s["end"])

    # spans whose children are Spark jobs: micro-batches and lake appends
    tops = by_kind.get("append", []) + \
        [b for b in by_kind.get("batch", []) if not any(
            k["kind"] == "append" for k in kids.get(b["key"], []))]
    jvm = raw["jvm"]
    m = {
        "plan.ms": raw.get("plan_ms", 0),
        "exec.jobs": len(jobs),
        "exec.stages": len(stages),
        "exec.tasks": sum(s.get("tasks", 0) for s in stages),
        "exec.injob_ms": sum(injob(s) for s in tops),
        "exec.task_cpu_ms": sum(s.get("cpu_ms", 0) for s in stages),
        "exec.shuffle_read_bytes": sum(s.get("shuffle_read_bytes", 0) for s in stages),
        "exec.shuffle_write_bytes": sum(s.get("shuffle_write_bytes", 0) for s in stages),
        "exec.spill_bytes": sum(s.get("spill_bytes", 0) for s in stages),
        "driver.gap_ms": sum(selfs[s["key"]] for s in tops),
        "jvm.gc_ms": jvm["gc_ms"],
        "jvm.jit_ms": jvm["jit_ms"],
        "jvm.heap_used_bytes": jvm["heap_used_bytes"],
        "trace.throughput_rps": e2e["throughput_rps"],
        "trace.latency_p50_ms": e2e["latency_p50_ms"],
    }
    m["spark.cached_bytes_after"] = raw["cached_bytes_after"]

    appends = by_kind.get("append", [])
    lake = raw.get("lake", {})
    m["lake.append_ms"] = mean([a["end"] - a["start"] for a in appends])
    m["lake.append_injob_ms"] = mean([injob(a) for a in appends])
    m["lake.append_driver_ms"] = mean([selfs[a["key"]] for a in appends])
    m["lake.versions"] = lake.get("versions", 0)
    m["lake.active_files"] = lake.get("active_files", 0)
    m["lake.log_bytes"] = lake.get("log_bytes", 0)
    m["lake.write_amp"] = lake["table_bytes"] / lake["data_bytes"] if lake else 0
    m["lake.snapshot_end_ms"] = lake.get("snapshot_end_ms", 0)

    batches = [b for b in raw.get("batches", []) if b["rows"] > 0]
    measured = [b for b in batches if b["start"] >= raw["t0"]]

    def dur(k):
        return mean([b["durations"].get(k, 0) for b in measured])
    ingest = w == "ingest"
    m["bus.publish_s"] = raw.get("bus_publish_s", 0)
    m["bus.offset_ms"] = dur("latestOffset") if ingest else 0
    m["bus.get_batch_ms"] = dur("getBatch") if ingest else 0
    m["bus.rows_per_epoch"] = mean([b["rows"] for b in measured]) if ingest else 0
    m["stream.batches"] = len(measured)
    m["stream.batch_ms"] = dur("triggerExecution")
    m["stream.add_batch_ms"] = dur("addBatch")
    m["stream.plan_ms"] = dur("queryPlanning")
    m["stream.commit_ms"] = dur("walCommit") + dur("commitOffsets")
    m["stream.source_ms"] = dur("latestOffset") + dur("getBatch")
    last = measured[-1] if measured else {}
    m["state.rows"] = last.get("state_rows", 0)
    m["state.mem_bytes"] = last.get("state_mem_bytes", 0)
    m["state.commit_ms"] = mean([b["state_commit_ms"] for b in measured])
    m["state.update_ms"] = mean([b["state_update_ms"] for b in measured])

    med = w == "mediation"
    m["enrich.sends"] = raw.get("sends", 0)
    m["enrich.inflight_mean"] = stats.inflight_mean(
        raw["send_intervals"], raw["t0"], raw["t2"]) if med and raw["send_intervals"] else 0
    m["enrich.send_ratio"] = raw["sends_total"] / raw["valid"] if med else 0
    m["gen.late_ms"] = max([at - due for due, at, _ in raw["published"]]) if med else 0
    m["gen.backlog_end"] = backlog_at(raw, raw["t1"]) if med else 0
    h1, h2 = batch_rows_halves(raw) if med else (0, 0)
    m["gen.batch_rows_h1"] = h1
    m["gen.batch_rows_h2"] = h2
    return m


def backlog_at(raw, t):
    """Records the mediation generator had published by time t but the
    pipeline had not yet read (in a micro-batch that has ended)."""
    published = max([n for _, at, n in raw["published"] if at <= t], default=0)
    return published - sum(b["rows"] for b in raw["batches"] if b["end"] <= t)


def batch_rows_halves(raw):
    """Mean rows per micro-batch of the batches that started in the first
    and in the second half of phase 1. Each batch takes every record
    published since the one before, so its rows are the backlog at its
    start: a queue that keeps up has the same mean in both halves, a growing
    one a larger mean in the second. A half in which no batch starts gives
    the backlog at its end instead."""
    t0, t1 = raw["t0"], raw["t1"]
    mid = (t0 + t1) / 2

    def mean_rows(a, b):
        rows = [x["rows"] for x in raw["batches"] if a <= x["start"] < b]
        return mean(rows) if rows else backlog_at(raw, b)
    return mean_rows(t0, mid), mean_rows(mid, t1)


def run_once(args, root, cp):
    stamp = time.strftime("%Y%m%dT%H%M%S")
    tag = f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}-{os.getpid()}"
    work = os.path.join(root, RUNS, "work", tag)
    out = os.path.join(work, "out")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    busy = external_busy()
    log(f"external CPU busy before run: {busy}")
    # client compiler only: under the tiered compiler the JIT keeps about two
    # of four cores busy through the measured phase and batch times drift
    cmd = ["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:TieredStopAtLevel=1",
        "-Dspark.ui.enabled=false",
        f"-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}", f"-Dperfbench.root={HERE}",
        "-cp", cp, "perfbench.Main", args.workload, str(args.seed), str(args.seconds),
        str(args.trace), out]
    try:
        cpu0 = cpu_times()
    except OSError:
        cpu0 = None
    code, _ = run_group(cmd, RUN_TIMEOUT_S, cwd=root, stdout=sys.stderr, stderr=sys.stderr)
    try:
        steal = steal_share(cpu0, cpu_times())
    except OSError:
        steal = None
    if code is None:
        log(f"harness exceeded {RUN_TIMEOUT_S} s")
    ok = code == 0
    raw_path = os.path.join(out, "raw.json")
    if not ok or not os.path.exists(raw_path):
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit("harness failed")
    raw = json.load(open(raw_path))
    spans = read_spans(os.path.join(out, "spans.jsonl"))
    e2e, n, q = end_to_end(raw)
    metrics = per_layer(raw, spans, e2e) if args.trace else e2e
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "external_busy": busy, "steal_during_run": steal,
        "metrics": metrics,
        "end_to_end": e2e, "latency_samples": n, "tail_percentile": q,
        "gen_backlog": dict(zip(("batch_rows_h1", "batch_rows_h2"), batch_rows_halves(raw)),
                            end=backlog_at(raw, raw["t1"]))
        if args.workload == "mediation" else None,
        "attempted": raw["attempted"], "failed": raw["failed"], "raw": raw}
    rec_dir = os.path.join(root, RUNS, "records", args.workload)
    os.makedirs(rec_dir, exist_ok=True)
    with open(os.path.join(rec_dir, tag + ".json"), "w") as f:
        json.dump(record, f)
    if spans:
        shutil.copy(os.path.join(out, "spans.jsonl"), os.path.join(rec_dir, tag + ".spans.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    return raw, metrics


def main():
    # a terminated benchmark stops its child process group too (run_group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds < 1:
        raise SystemExit("--seconds must be at least 1")
    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            raise SystemExit(f"not a checkout of the library: {need} is missing")
    cp = build(root)
    raw, metrics = run_once(args, root, cp)
    units = json.load(open(os.path.join(root, "BENCHMARK.json")))
    units = {m["name"]: m["unit"] for m in units["end_to_end"] + units["per_layer"]}
    print(json.dumps({
        "correct": raw["failed"] == 0,
        "attempted": int(raw["attempted"]),
        "failed": int(raw["failed"]),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))


if __name__ == "__main__":
    main()
