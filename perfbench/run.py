#!/usr/bin/env python3
"""Benchmark entry point: build the engine with the harness, run one
workload, check its outputs, print one JSON result line.

    python3 perfbench/run.py --workload <cdc_serve|cdc_ingest|corpus_sample> \
        --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The first run builds the project in
perfbench/ (sbt, offline) from ../src/main/scala plus perfbench/src; later
runs reuse the build while the sources are unchanged. Everything a run
writes stays under perfbench/.work/. The last stdout line is the result:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json for --trace 0 and its
per-layer metrics for --trace 1. Every run also leaves a provenance record
under perfbench/.work/records/; runs shorter than BENCHMARK.json's
run_seconds are named smoke_*.
"""
import argparse
import fcntl
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

import oracle

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
SF_DIR = os.path.join(HERE, "data", "sf0.001")
ROWS_FILE = os.path.join(HERE, "corpus_rows.txt")
CP_FILE = os.path.join(HERE, "target", "classpath.txt")
STAMP_FILE = os.path.join(HERE, "target", "source.sha256")
# corpus_sample is not among BENCHMARK.json's workloads (its wall time
# follows the host's speed too closely to gate on) but still runs by hand
WORKLOADS = ("cdc_serve", "cdc_ingest", "corpus_sample")
DEADLINE_S = 175  # whole-run budget once the build exists
BUILD_TIMEOUT_S = 850

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    out = []
    for base in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, fs in os.walk(base):
            out += [os.path.join(d, f) for f in fs]
    out += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted(out)


def source_hash():
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(src_hash):
    """sbt compile + classpath export, skipped when the sources are unchanged."""
    if os.path.exists(CP_FILE) and os.path.exists(STAMP_FILE):
        with open(STAMP_FILE) as f:
            if f.read().strip() == src_hash:
                return
    sbt = shutil.which("sbt")
    if sbt is None:
        sys.exit("[perfbench] sbt not found on PATH")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=" ".join(opts))
    os.makedirs(WORK, exist_ok=True)
    log("building (sbt compile) ...")
    t0 = time.time()
    with open(os.path.join(WORK, "build.log"), "w") as out:
        r = subprocess.run([sbt, "--batch", "-Dsbt.log.noformat=true", "compile", "exportCp"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0 or not os.path.exists(CP_FILE):
        sys.exit(f"[perfbench] build failed (see {os.path.join(WORK, 'build.log')})")
    with open(STAMP_FILE, "w") as f:
        f.write(src_hash)
    log(f"built in {time.time() - t0:.1f} s")


def run_jvm(workload, seed, seconds, trace, deadline):
    os.makedirs(os.path.join(WORK, "logs"), exist_ok=True)
    out = os.path.join(WORK, f"result_{workload}_{seed}_{trace}.json")
    for p in (out, out + ".spans.jsonl"):
        if os.path.exists(p):
            os.remove(p)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(CP_FILE) as f:
        cp = f.read().strip()
    mem_gb = max(2, min(4, os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30 // 4))
    cmd = (["java"] + [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           [f"-Xmx{mem_gb}g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", os.path.join(WORK, "run"), "--out", out,
            "--sf", SF_DIR, "--rows", ROWS_FILE])
    logf = os.path.join(WORK, "logs", f"{workload}_{seed}_{trace}.log")
    t0 = time.time()
    with open("/proc/stat") as f:
        st0 = f.readline().split()[1:]
    with open(logf, "w") as lf:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            sys.exit(f"[perfbench] {workload} ran out of time (log: {logf})")
    if rc != 0 or not os.path.exists(out):
        sys.exit(f"[perfbench] {workload} exited with {rc} (log: {logf})")
    with open(out) as f:
        res = json.load(f)
    res["jvm_wall_s"] = time.time() - t0
    # how busy the machine was, and how much CPU its host took back
    # (steal), while the JVM ran: context for a run that reads slow
    with open("/proc/stat") as f:
        st1 = f.readline().split()[1:]
    d = [int(b) - int(a) for a, b in zip(st0, st1)]
    res["host_steal_frac"] = d[7] / max(1, sum(d))
    res["host_busy_frac"] = 1 - (d[3] + d[4]) / max(1, sum(d))
    res["spans_file"] = out + ".spans.jsonl" if trace else None
    res["log"] = logf
    return res


def provenance(seed, seconds, src_hash, bench):
    commit = None
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10)
        commit = r.stdout.strip() or None if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        pass
    with open(ROWS_FILE, "rb") as f:
        rows_hash = hashlib.sha256(f.read()).hexdigest()
    return {
        "git_commit": commit,
        "source_sha256": src_hash,
        "nproc": os.cpu_count(),
        "spark_cores": len(os.sched_getaffinity(0)),
        "sf_dir": os.path.relpath(SF_DIR, ROOT),
        "seed": seed,
        "seconds": seconds,
        "run_seconds_defined": bench["run_seconds"],
        "rows_sha256": rows_hash,
        "time_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }


def record_path(workload, seed, seconds, trace, bench):
    kind = "record" if seconds == bench["run_seconds"] else "smoke"
    return os.path.join(WORK, "records", f"{kind}_{workload}_seed{seed}_s{seconds}_trace{trace}.json")


def one_run(workload, seed, seconds, trace, src_hash, bench, deadline):
    res = run_jvm(workload, seed, seconds, trace, deadline)
    checks = list(res["checks"])
    if workload == "corpus_sample":
        checks += oracle.check(os.path.join(WORK, "run", "corpus_sample", "out"), SF_DIR)
    elif trace:
        # the traced sweep's corpus rows (Sweep.scala)
        checks += oracle.check(os.path.join(WORK, "run", "sweep_corpus_sample", "out"), SF_DIR)
    res["checks"] = checks
    res["setup_median_s"] = statistics.median(res["setup_s"])
    res["provenance"] = provenance(seed, seconds, src_hash, bench)
    path = record_path(workload, seed, seconds, trace, bench)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(res, f, indent=1, sort_keys=True)
    return res


def untraced_twin(workload, seed, seconds, src_hash, bench):
    d = os.path.join(WORK, "records")
    if not os.path.isdir(d):
        return None
    same = os.path.basename(record_path(workload, seed, seconds, 0, bench))
    kind = same.split("_")[0]
    names = sorted(n for n in os.listdir(d) if n.startswith(f"{kind}_{workload}_seed")
                   and n.endswith(f"_s{seconds}_trace0.json"))
    for n in sorted(names, key=lambda n: n != same):
        with open(os.path.join(d, n)) as f:
            r = json.load(f)
        if r["provenance"]["source_sha256"] == src_hash and all(c["ok"] for c in r["checks"]):
            return r
    return None


def overhead_frac(traced, untraced):
    """Mean relative slow-down of the end-to-end metrics under tracing."""
    t, u = traced["e2e"], untraced["e2e"]
    parts = [t["latency_p50_s"] / u["latency_p50_s"] - 1, t["latency_p90_s"] / u["latency_p90_s"] - 1,
             u["throughput_per_s"] / t["throughput_per_s"] - 1]
    return sum(parts) / len(parts)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        sys.exit(f"[perfbench] engine sources not found under {ENGINE_SRC}")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    # one run at a time per checkout: runs share .work/ and the build
    os.makedirs(WORK, exist_ok=True)
    lock = open(os.path.join(WORK, "lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    src_hash = source_hash()
    build(src_hash)
    deadline = time.time() + DEADLINE_S

    if a.trace:
        res = one_run(a.workload, a.seed, a.seconds, 1, src_hash, bench, deadline)
        # traced vs untraced: against the recorded untraced twin of this run
        # (same seed preferred). With none recorded, a second run would not
        # fit the time limit; then the estimate is the tracing hooks' own
        # time as a share of the run's CPU capacity
        untraced = untraced_twin(a.workload, a.seed, a.seconds, src_hash, bench)
        if untraced is not None:
            overhead, basis = overhead_frac(res, untraced), "untraced twin"
        else:
            overhead = res["info"]["trace_hook_s"] / (res["info"]["jvm_main_s"] * res["info"]["cores"])
            basis = "tracing hook time"
        res["overhead_basis"] = basis
        res["layers"].append({"name": "trace.overhead_frac", "value": overhead, "unit": "ratio"})
        with open(record_path(a.workload, a.seed, a.seconds, 1, bench), "w") as f:
            json.dump(res, f, indent=1, sort_keys=True)
    else:
        res = one_run(a.workload, a.seed, a.seconds, 0, src_hash, bench, deadline)

    if a.trace:
        got = {l["name"]: (l["value"], l["unit"]) for l in res["layers"]}
        wanted = bench["per_layer"]
    else:
        got = {k: (v, None) for k, v in res["e2e"].items()}
        got["setup_s"] = (res["setup_median_s"], "s")
        wanted = bench["end_to_end"]
    metrics = {}
    for m in wanted:
        v = got.get(m["name"], (None, None))[0]
        if v is None or not math.isfinite(v):
            sys.exit(f"[perfbench] metric {m['name']} missing or not finite: {v}")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    bad = [c for c in res["checks"] if not c["ok"]]
    for c in bad:
        log(f"check failed: {c['name']}: {c['detail']}")
    log(f"{a.workload} seed={a.seed} done in {time.time() - t_start:.1f} s; "
        f"{len(res['checks']) - len(bad)}/{len(res['checks'])} checks passed; named: "
        + json.dumps(res["named"], sort_keys=True))
    print(json.dumps({"correct": not bad, "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}), flush=True)


if __name__ == "__main__":
    main()
