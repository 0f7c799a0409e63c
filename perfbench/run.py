#!/usr/bin/env python3
"""The repository benchmark: one command per workload run.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and the
harness from source with sbt (perfbench/harness/build.sbt depends on the
root build) into the checkout, then every run starts one JVM at
local[<cpus>] with the heap rule of the repository's tests (half of RAM,
capped at 8g) and the harness as main class. The harness generates the
inputs from the seed, warms up, measures, checks the outputs and writes a
result file; this script adds the DuckDB oracle check for query_suite and
prints the result. The last line of stdout is
{"correct", "attempted", "failed", "metrics"}: end-to-end metrics with
--trace 0, per-layer metrics with --trace 1. The line before it carries
the stamp (cpus, heap, Spark/JDK versions, git SHA, source digest, seed)
and the run's facts. A copy of both, and the spans of a traced run, goes
to .bench_build/results/.

See perfbench/README.md for the workloads, metrics and notes.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
SF_DIR = os.path.join(HERE, "fixtures", "sf0.01")
WORKLOADS = ("catalog_small", "query_suite", "nz_grids")
# The JVM may take this long beyond twice --seconds: session start, input
# generation, warm-up, the last measured run's overshoot and the checks.
JVM_SETUP_ALLOWANCE_S = 150
END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("items_per_s", "1/s"),
              ("latency_p50_s", "s"), ("latency_p95_s", "s"), ("output_mb", "MB")]
# Spark on JDK 17 outside spark-submit (as the root build's javaOptions)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def build_inputs():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "harness", "build.sbt")]
    for top in (os.path.join(ROOT, "project"), os.path.join(ROOT, "src", "main"),
                os.path.join(HERE, "harness", "project"),
                os.path.join(HERE, "harness", "src")):
        for d, subdirs, names in os.walk(top):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def source_digest():
    h = hashlib.sha256()
    for f in build_inputs():
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_build():
    """Build once per source digest; return (classpath, digest)."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"program sources not found ({need} missing under {ROOT})")
    digest = source_digest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = os.path.join(BUILD, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip(), digest
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt not found on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log("building program and harness with sbt")
    t0 = time.time()
    proc = subprocess.run(
        [sbt, "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=os.path.join(HERE, "harness"), env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {proc.returncode})")
    cp = lines[-1].strip()
    if os.pathsep not in cp or "classes" not in cp:
        fail("build did not report a classpath")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.1f} s")
    return cp, digest


def heap_rule():
    """Half of RAM in whole GiB, clamped to [2, 8] (the test suite's rule)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def git_sha():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def failure_result(work, rc, trace, timeout_s):
    """The result of a run whose JVM did not report. If the program died
    (an exception or an OutOfMemoryError), every product of the run
    failed; the result carries the set-up facts and the failing stage and
    error, from the harness's progress log and the JVM log. If the
    harness's timeout stopped it, the run is a harness error: not correct,
    no product counted as failed, and `timeout` set in the facts."""
    facts = {}
    p = os.path.join(work, "setup.json")
    if os.path.exists(p):
        with open(p) as f:
            facts = json.load(f)
    stages, error = [], None
    p = os.path.join(work, "progress.log")
    if os.path.exists(p):
        with open(p) as f:
            stages = [l.strip() for l in f if l.strip()]
    p = os.path.join(work, "jvm.log")
    if os.path.exists(p):
        with open(p, errors="replace") as f:
            lines = f.read().splitlines()
        for i, l in enumerate(lines):
            if "OutOfMemoryError" in l or "Exception in task" in l:
                error = "\n".join(lines[i:i + 12])
                break
    products = int(facts.get("products_per_run", 1))
    timed_out = rc == "timeout"
    failed = 0 if timed_out else products
    metrics = {} if trace else {n: {"value": 0.0, "unit": u} for n, u in END_TO_END}
    if "setup_s" in metrics and "setup_s" in facts:
        metrics["setup_s"]["value"] = facts["setup_s"]
    facts.update({"error_rate": failed / products, "jvm_exit": rc, "timeout": timed_out,
                  "jvm_timeout_s": timeout_s,
                  "failed_stage": stages[-1] if stages else None, "error": error})
    why = f"harness timeout after {timeout_s} s" if timed_out else f"JVM exit {rc}"
    return {"correct": False, "attempted": products, "failed": failed,
            "metrics": metrics, "stamp": {}, "errors": [why], "info": facts}


def run_jvm(args, cp, work, cpus, heap, timeout_s):
    result = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ([shutil.which("java") or "java", f"-Xmx{heap}", *ADD_OPENS,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cpus", str(cpus), "--work", work, "--result", result,
            "--sf-dir", SF_DIR])
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if proc.poll() is None:  # timed out, or this script was stopped
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc == 0 and os.path.exists(result):
        with open(result) as f:
            return json.load(f), rc
    return None, rc


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a stopped run still reaps its JVM (run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cp, digest = ensure_build()
    cpus = len(os.sched_getaffinity(0))
    heap = heap_rule()
    work = os.path.join(BUILD, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    timeout_s = round(JVM_SETUP_ALLOWANCE_S + 2 * args.seconds)
    try:
        t0 = time.time()
        res, rc = run_jvm(args, cp, work, cpus, heap, timeout_s)
        log(f"JVM ran {time.time() - t0:.1f} s (exit {rc})")
        if res is None:
            res = failure_result(work, rc, args.trace, timeout_s)
        elif args.workload == "query_suite":
            import oracle  # duckdb and pandas load only for the query suite
            problems, checked = oracle.check(SF_DIR, os.path.join(work, "query-results"))
            executions = res["attempted"] // max(1, res["info"]["queries"])
            res["failed"] += executions * len(problems)
            res["correct"] = res["correct"] and not problems
            res["info"]["oracle_checked"] = len(checked)
            res["errors"] += [f"{k} (oracle): {v}" for k, v in sorted(problems.items())]
        res["stamp"].update({"cpus": cpus, "heap": heap, "git_sha": git_sha(),
                             "source_digest": digest, "seed": args.seed,
                             "workload": args.workload, "seconds": args.seconds,
                             "trace": args.trace})
        out_dir = os.path.join(BUILD, "results")
        os.makedirs(out_dir, exist_ok=True)
        name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}"
        with open(os.path.join(out_dir, name + ".json"), "w") as f:
            json.dump(res, f, indent=1)
        spans = os.path.join(work, "spans.json")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(out_dir, name + ".spans.json"))
        if rc != 0:
            shutil.copy(os.path.join(work, "jvm.log"), os.path.join(out_dir, name + ".jvm.log"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for e in res["errors"][:10]:
        log(e)
    print(json.dumps({"stamp": res["stamp"], "info": res["info"]}))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": res["metrics"]}))
    sys.exit(0 if rc == 0 else 1)


if __name__ == "__main__":
    main()
