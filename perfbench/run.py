#!/usr/bin/env python3
"""Benchmark of the graft engine: one run of one workload.

Usage, from the repository root:

    python3 perfbench/run.py --workload build|session --seed N \
        --seconds S --trace 0|1

The last stdout line is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics` (end-to-end metrics with `--trace 0`,
per-layer metrics with `--trace 1`).

What a run does:
  1. Builds the harness and the program under test from source
     (`perfbench/build.sbt` compiles `src/main/scala` together with the
     harness), once per source tree.
  2. Fills the hosted ArtifactStore the `session` workload reads, once
     per source tree, outside every timing.
  3. Starts one JVM with its own `java.io.tmpdir` under
     `.bench_build/perfbench/runs/`, so the per-run ArtifactStore, the
     checkpoint base and the ctdbase lookup cache start empty. The JVM
     times the workload, checks its results and writes `result.json`,
     `run.json` (load markers, store dir list, per-query records) and,
     traced, `trace.json`; those are kept under
     `.bench_build/perfbench/records/`.

`python3 perfbench/run.py --record <verify-dump-dir>` rewrites
`perfbench/expected.txt` from a `graft.Verify` dump of `perfbench/data`.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
DATA = os.path.join(BENCH, "data", "sf0.001")
EXPECTED = os.path.join(BENCH, "expected.txt")
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
SRC_DIRS = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
BUILD_FILES = [os.path.join(BENCH, "build.sbt"),
               os.path.join(BENCH, "project", "build.properties")]
RUN_TIMEOUT_S = 170
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


def run_proc(cmd, cwd, log_path, timeout, env=None):
    """Runs cmd in its own process group; kills the group on timeout and
    waits for it, so nothing outlives the run."""
    with open(log_path, "ab") as log:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=log, env=env,
                             start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def tail(path, n=30):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def source_hash():
    h = hashlib.sha256()
    files = list(BUILD_FILES)
    for d in SRC_DIRS:
        for dirpath, _, names in os.walk(d):
            files += [os.path.join(dirpath, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def compile_classpath(tree):
    """sbt compile of the benchmark project; returns the runtime classpath."""
    cp_file = os.path.join(tree, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            return f.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(tree, "sbt.log")
    rc = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                   "export Runtime/fullClasspath"], BENCH, log, 800, env)
    if rc != 0:
        fail(f"build failed (exit {rc}):\n{tail(log)}")
    with open(log, errors="replace") as f:
        lines = [l.strip() for l in f if l.strip()]
    cp = next((l for l in reversed(lines)
               if not l.startswith("[") and ".jar" in l), None)
    if cp is None:
        fail("sbt printed no classpath")
    with open(cp_file, "w") as f:
        f.write(cp)
    return cp


def run_jvm(cp, mode, run_dir, extra, timeout=RUN_TIMEOUT_S):
    """One benchmark JVM. Returns its exit code (None on timeout).

    Spark keeps at most `spark.sql.codegen.cache.maxEntries` (default 100)
    compiled classes. The session queries' first pass alone compiles about
    110, and which ones stay cached depends on the order concurrent stages
    compile in, so at the default about half of the runs recompiled
    generated code in every warm pass (warm pass 2.8 s instead of 2.1 s).
    A cache of 2000 holds the whole working set, so every run measures the
    same regime; the compile counts stay in the traced metrics.
    """
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [a for p in JAVA_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java"] + opens + [
        "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.codegen.cache.maxEntries=2000",
        "-Dspark.sql.session.timeZone=UTC", "-cp", cp, "perfbench.Main",
        "--mode", mode, "--data", DATA, "--run-dir", run_dir,
        "--expected", EXPECTED] + extra +
        ["--t0-ms", str(int(time.time() * 1000))])
    return run_proc(cmd, run_dir, os.path.join(run_dir, "jvm.log"), timeout)


def new_run_dir(label):
    d = os.path.join(WORK, "runs", f"{label}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(d)
    return d


def prepare():
    """Compiles, then fills the hosted store; both once per source tree."""
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        tree_id = source_hash()
        for old in os.listdir(WORK):  # builds of other source trees
            if len(old) == len(tree_id) and old != tree_id:
                shutil.rmtree(os.path.join(WORK, old), ignore_errors=True)
        tree = os.path.join(WORK, tree_id)
        os.makedirs(tree, exist_ok=True)
        cp = compile_classpath(tree)
        store = os.path.join(tree, "store")
        if not os.path.exists(os.path.join(store, "_FILLED")):
            shutil.rmtree(store, ignore_errors=True)
            run_dir = new_run_dir("fill")
            rc = run_jvm(cp, "fill", run_dir, ["--store", store], timeout=800)
            if rc != 0:
                fail(f"store fill failed (exit {rc}):\n"
                     f"{tail(os.path.join(run_dir, 'jvm.log'))}")
            shutil.rmtree(run_dir, ignore_errors=True)
            open(os.path.join(store, "_FILLED"), "w").close()
        return cp, store


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["build", "session"])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", metavar="VERIFY_DUMP")
    a = ap.parse_args()
    if not a.workload and not a.record:
        ap.error("--workload or --record is required")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no program sources at src/main/scala: run from the repo root")
    cp, store = prepare()

    if a.record:
        run_dir = new_run_dir("record")
        rc = run_jvm(cp, "record", run_dir,
                     ["--store", store, "--verify-dump",
                      os.path.abspath(a.record)], timeout=800)
        print(tail(os.path.join(run_dir, "result.json")), end="")
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(0 if rc == 0 else 1)

    run_dir = new_run_dir(f"{a.workload}-{a.seed}-t{a.trace}")
    rc = run_jvm(cp, a.workload, run_dir, [
        "--store", store, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace)])
    result_path = os.path.join(run_dir, "result.json")
    if rc != 0 or not os.path.exists(result_path):
        fail(f"run failed (exit {rc}):\n"
             f"{tail(os.path.join(run_dir, 'jvm.log'))}")
    with open(result_path) as f:
        result = json.loads(f.read())
    records = os.path.join(WORK, "records")
    os.makedirs(records, exist_ok=True)
    stem = os.path.basename(run_dir)
    for name in ("run.json", "trace.json"):
        src = os.path.join(run_dir, name)
        if os.path.exists(src):
            shutil.copy(src, os.path.join(records, f"{stem}.{name}"))
    with open(os.path.join(run_dir, "jvm.log"), errors="replace") as f:
        for line in f:
            if line.startswith("[perfbench]"):
                print(line, end="", file=sys.stderr)
    shutil.rmtree(run_dir, ignore_errors=True)

    with open(os.path.join(records, f"{stem}.run.json")) as f:
        env = json.load(f)
    for msg in env.get("failures", []):
        print(f"[perfbench] FAILED {msg}", file=sys.stderr)
    share = result["failed"] / result["attempted"]
    for k, v in result["metrics"].items():
        print(f"{k} {v['value']:.6g} {v['unit']}")
    print(f"failed_share {share:.6g} ratio")
    print(f"records {os.path.relpath(records, ROOT)}/{stem}.*")
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
