#!/usr/bin/env python3
"""Run one workload of the engine benchmark and print its metrics.

Usage (from the repository root):
    python3 perfbench/run.py --workload serve_read --seed 1 --seconds 15 --trace 0

Builds the engine and the harness with sbt on first use (or when a source
changed), runs the harness JVM once, reduces its raw samples with stats.py,
and prints one JSON line: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are BENCHMARK.json's end_to_end metrics, with
--trace 1 its per_layer metrics. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

import stats

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
HARNESS = os.path.join(HERE, "harness")
BUILD = os.path.join(HERE, ".build")
# the engine's test tables, read only
DATA = "~/testdata/sf0.1"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 165
JVM_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group and wait for it. The whole group
    is killed on timeout, or when this process is told to stop, so no
    child JVM outlives the run. Returns the exit code."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)
    previous = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        log(f"timed out after {timeout} s: {cmd[0]}")
        return -1
    finally:
        for s, h in previous.items():
            signal.signal(s, h)


def sources_stamp():
    """Hash of every input of the build: engine and harness sources."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project"), os.path.join(HARNESS, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            if "/target/" in p or not p.endswith((".sbt", ".scala", ".java", ".properties")):
                continue
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Classpath of the harness, compiling engine and harness if needed."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = sources_stamp()
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    out_path = os.path.join(BUILD, "sbt.log")
    log("building engine and harness with sbt")
    with open(out_path, "w") as out:
        code = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "export harness/Runtime/fullClasspath"],
                         BUILD_TIMEOUT_S, cwd=HARNESS, env=env, stdout=out,
                         stderr=subprocess.STDOUT)
    lines = open(out_path).read().strip().splitlines()
    if code != 0 or not lines or "perfbench" not in lines[-1]:
        log(f"build failed (exit {code}); see {out_path}")
        sys.exit(2)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def run_jvm(classpath, config, args, work):
    data = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.expanduser(DATA))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", data, "--work", work,
            "--config", os.path.join(HERE, "config.json")]
    with open(os.path.join(work, "jvm.log"), "w") as out:
        code = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=out, stderr=subprocess.STDOUT)
    samples = os.path.join(work, "samples.json")
    if code != 0 or not os.path.exists(samples):
        tail = open(os.path.join(work, "jvm.log")).read()[-3000:]
        log(f"harness failed (exit {code}):\n{tail}")
        sys.exit(3)
    return json.load(open(samples))


# ---- reduction of raw samples, one function per workload ------------------

def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def reduce_serve(s, config):
    cfg = config["serve_read"]
    closed = s.get("closed", [])  # the untraced run's closed loop
    phases = s.get("phases", [])  # the traced run's fixed-rate phases
    requests = closed + [r for ph in phases for r in ph["requests"]]
    attempted, failed = stats.outcomes(requests)
    e2e = {}
    if closed:
        # the client sends its next request as soon as the last one is
        # answered, so the server sets the pace
        e2e["work_per_s"] = stats.closed_throughput(closed, s["connections"])
    layers = {}
    if phases:
        rated = []
        timed = []  # answered open-loop requests
        for ph in phases:
            reqs = ph["requests"]
            # a failed, refused or unsent request misses any latency limit
            lat = [r["done_ms"] - r["due_ms"] if r["ok"] else math.inf for r in reqs]
            rated.append({
                "rate": ph["rate"], "latencies": lat,
                "growing": stats.backlog_growing(
                    [r["due_ms"] for r in reqs], [r["done_ms"] for r in reqs],
                    ph["start_ms"], ph["end_ms"], slack=s["connections"])})
            timed += [r for r in reqs if r["ok"]]
        lat, late = stats.due_latencies(timed)
        layers.update({
            "serve.max_rate": stats.max_rate(rated, cfg["p95_limit_ms"]) or 0.0,
            "serve.latency_mean_ms": mean(lat),
            "serve.response_mean_ms": mean([r["done_ms"] - r["sent_ms"] for r in timed]),
            "serve.generator_late_ms": max(late)})
        for kind in ("search", "financials"):
            kl = [r["done_ms"] - r["due_ms"] for r in timed if r["kind"] == kind]
            layers[f"serve.{kind}_p50_ms"] = stats.median(kl)
            layers[f"serve.{kind}_p95_ms"] = stats.tail(kl)[0]
    layers["serve.admission_rejects"] = sum(1 for r in requests if r["status"] == 429)
    c = s["cache"]
    layers["serve.cache_hit_ratio"] = c["hits"] / max(1, c["hits"] + c["misses"])
    d = s.get("decomposition")
    if d:
        rows, work = d["rows"], d["work"]
        layers["serve.http_ms"] = mean([r["http_ms"] - r["handler_ms"] for r in rows])
        for route in sorted({r["route"] for r in rows}):
            rr = [x for x in rows if x["route"] == route]
            layers[f"serve.{rr[0]['kind']}_ms.{route}"] = mean([x["handler_ms"] for x in rr])
            w = work.get(f"http.{route}", {})
            for k in ("jobs", "tasks", "exchanges"):
                layers[f"spark.{k}_per_request.{route}"] = w.get(k, 0) / len(rr)
        for op in ("lexical", "vector", "fuse", "fact_scan", "financials", "plan"):
            xs = [x["ops"][op] for x in rows if op in x["ops"]]
            name = {"fact_scan": "sources.fact_scan_ms", "financials": "queries.financials_ms",
                    "plan": "plans.plan_ms"}.get(op, f"operators.{op}_ms")
            layers[name] = mean(xs)
        layers["functions.codegen_fallbacks"] = sum(
            w.get("codegen_fallbacks", 0) for w in work.values())
        layers["trace.overhead_ratio"] = mean(d["traced_http_ms"]) / mean(d["untraced_http_ms"])
    return e2e, layers, failed == 0, attempted, failed


def reduce_ingest(s, config):
    ops = s["ops"]
    plain = [o for o in ops if not o["traced"]]
    walls = [o["wall_ms"] for o in plain]
    ingests = [o for o in plain if o["kind"] == "ingest"]
    e2e = {
        # rows committed to both stores per second of all write work: the
        # micro-batches, the refresh and the maintenance step of each round
        "work_per_s": 1e3 * sum(o["rows"] for o in ingests) / sum(walls),
    }
    prog = s["progress"]

    def med(key):
        xs = [p[key] for p in prog if key in p]
        return stats.median(xs) if xs else 0.0
    etl = [o for o in ops if o["kind"] == "etl"]
    maint = [o for o in ops if o["kind"] in ("lex_delete", "vec_tombstone", "lex_compact")]
    st = s["storage"]
    layers = {
        "sources.write_op_mean_ms": mean(walls),
        "streaming.trigger_ms": med("triggerExecution"),
        "streaming.add_batch_ms": med("addBatch"),
        "streaming.wal_commit_ms": med("walCommit"),
        "streaming.get_batch_ms": med("getBatch"),
        "streaming.backlog_files": s["backlog_files"],
        "streaming.batch_p90_ms": stats.tail([p["triggerExecution"] for p in prog], 0.90)[0],
        "sources.etl_facts_per_s": 1e3 * sum(o["rows"] for o in etl) / max(
            1e-9, sum(o["wall_ms"] for o in etl)),
        "sources.maintenance_s": sum(o["wall_ms"] for o in maint) / 1e3,
        "sources.write_amp": st["written_bytes"] / st["landed_bytes"],
        "sources.space_amp": st["store_bytes"] / st["live_bytes"],
        "sources.store_files": st["store_files"],
    }
    for kind in ("lex_delete", "vec_tombstone", "lex_compact"):
        xs = [o["wall_ms"] for o in ops if o["kind"] == kind]
        layers[f"sources.store_{kind}_ms"] = stats.median(xs) if xs else 0.0
    traced = [o for o in ops if o["traced"]]
    if traced:
        w = s.get("work", {}).get("ingest", {})
        n = sum(1 for o in traced if o["kind"] == "ingest")
        for k in ("jobs", "tasks"):
            layers[f"spark.{k}_per_batch"] = w.get(k, 0) / max(1, n)
        layers["functions.codegen_fallbacks"] = sum(
            x.get("codegen_fallbacks", 0) for x in s.get("work", {}).values())
        for k in ("etl_flatten_ms", "etl_write_ms"):
            layers[f"sources.{k}"] = s["etl_split"][k]
        ts = [o["wall_ms"] for o in traced if o["kind"] == "ingest"]
        us = [o["wall_ms"] for o in ingests]
        layers["trace.overhead_ratio"] = stats.median(ts) / stats.median(us)
    checks = s["checks"]
    failed = sum(1 for v in checks.values() if not v)
    return e2e, layers, failed == 0, len(ops) + len(checks), failed


REDUCERS = {"serve_read": reduce_serve, "ingest_write": reduce_ingest}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(REDUCERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    config = json.load(open(os.path.join(HERE, "config.json")))
    classpath = build()
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        s = run_jvm(classpath, config, args, work)
        log(f"harness ran {time.time() - t0:.1f} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    e2e, layers, correct, attempted, failed = REDUCERS[args.workload](s, config)
    e2e["setup_s"] = s["setup_s"]
    layers["jvm.rss_peak_mb"] = s["rss_peak_mb"]
    layers["jvm.gc_s"] = s["gc_s"]
    log("end-to-end: " + json.dumps(e2e, sort_keys=True))
    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    values = layers if args.trace else e2e
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}
    print(json.dumps({"correct": bool(correct), "attempted": int(attempted),
                      "failed": int(failed), "metrics": metrics}))


if __name__ == "__main__":
    main()
