#!/usr/bin/env python3
"""The repository benchmark: one run of one workload.

    python3 perfbench/run.py --workload file_prep|llm_corpus \
        --seed N --seconds S --trace 0|1

Builds the engine and the benchmark from source (cached under the build
directory: $CARGO_TARGET_DIR when set, else .bench_build), generates the
inputs, runs the workload in a fresh JVM and SparkSession, checks every
job's output, and prints the result as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer metrics
(and writes the run's spans under <build dir>/traces/). The line before the
result is a `# run` line with provenance, the host probe and sample counts.
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import metrics  # noqa: E402

# the engine's harness tables at scale factor 0.01 (fixed, seed 42); the
# queries of llm_corpus read only `documents`
SF = 0.01
TABLES = os.path.join(HERE, "data", f"sf{SF}")
# local[k] with k = cores - 1 (at most 3): one core is left to the JIT
# compiler, the GC and Spark's scheduler threads
CORES = max(1, min(3, (os.cpu_count() or 1) - 1))
# untimed warm-up passes per workload: llm_corpus passes keep getting faster
# for several passes after set-up; file_prep passes do not. The query
# workload also writes its checked outputs in one more untimed pass.
WARM_PASSES = {"file_prep": 0, "llm_corpus": 2}
# the JVM is stopped after this allowance for session starts, set-ups,
# warm-up, checks and probes, plus twice --seconds for the timed passes;
# the clock starts after the build
ALLOWANCE_S = 150
JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return os.path.abspath(os.path.join(ROOT, d))


def fingerprint(d):
    return [[os.path.relpath(os.path.join(d, n), ROOT), os.path.getsize(os.path.join(d, n)),
             int(os.path.getmtime(os.path.join(d, n)))]
            for n in sorted(os.listdir(d))]


def run_jvm(classpath, argv, work, deadline):
    cmd = (["java"] + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-XX:+UseParallelGC", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-Xss8m", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              "-cp", classpath, "perfbench.Main"] + argv)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=work)
        try:
            code = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise RuntimeError("the workload did not finish in time")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            tail = fh.read()[-3000:]
        raise RuntimeError(f"the JVM exited with {code}:\n{tail}")


def main():
    # a terminated run still stops its JVM and deletes its state (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=list(metrics.WORKLOAD_JOBS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--fail", default="", help="make this job throw (tests only)")
    a = ap.parse_args()
    bdir = build_dir()
    os.makedirs(bdir, exist_ok=True)
    try:
        classpath = build.build(bdir)
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    deadline = time.time() + ALLOWANCE_S + 2 * a.seconds
    work = os.path.join(bdir, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        spans = os.path.join(bdir, "traces", f"{a.workload}-seed{a.seed}.jsonl")
        argv = ["run", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--tables", TABLES, "--work", work, "--out", os.path.join(work, "record.json"),
                "--cores", str(CORES),
                "--warm-passes", str(WARM_PASSES[a.workload]),
                "--spans", spans]
        if a.fail:
            argv += ["--fail", a.fail]
        try:
            run_jvm(classpath, argv, work, deadline)
        except RuntimeError as e:
            print(str(e), file=sys.stderr)
            return 1
        with open(os.path.join(work, "record.json")) as fh:
            rec = json.load(fh)
        if a.workload == "file_prep":
            bad = checks.check_file_prep(os.path.join(work, "in"), rec["check_dir"],
                                         rec["file_params"], rec)
        else:
            names = metrics.WORKLOAD_JOBS[a.workload]
            bad = checks.check_queries(TABLES, rec["check_dir"], names,
                                       rec["oracle_sql"], rec["dump_errors"])
        out, info = metrics.result(rec, bad, a.trace == 1)
        run_info = {
            "workload": a.workload, "seed": a.seed, "trace": a.trace, "cores": rec["cores"],
            "java": rec["java"], "spark": rec["spark"],
            "source_sha256": build.source_digest(), "git_commit": git_commit(),
            "tables": {"sf": SF, "files": fingerprint(TABLES)},
            "probe_before_s": rec["probe_before_s"], "probe_after_s": rec["probe_after_s"],
            "host_drift": rec["probe_after_s"] / rec["probe_before_s"],
            "phase_s": rec["phase_s"], "setup_runs_s": rec["setup_s"], "check_failures": bad,
            "call_errors": sorted({c["error"] for p in rec["passes"] for c in p["calls"]
                                   if not c["ok"]}),
            **info}
        print("# run " + json.dumps(run_info, sort_keys=True))
        print(json.dumps(out))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def git_commit():
    head = os.path.join(ROOT, ".git", "HEAD")
    if not os.path.exists(head):
        return "unknown"
    ref = open(head).read().strip()
    if ref.startswith("ref: "):
        path = os.path.join(ROOT, ".git", ref[5:])
        return open(path).read().strip() if os.path.exists(path) else "unknown"
    return ref


if __name__ == "__main__":
    sys.exit(main())
