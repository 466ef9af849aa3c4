#!/usr/bin/env python3
"""Run one benchmark workload against the program built from this checkout.

    python3 perfbench/run.py --workload steady_index --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the program and the
benchmark with sbt (offline) and caches the classpath under .bench_build/;
later runs rebuild only when a source or build file changed. Each run gets a
directory under .bench_build/runs/ holding its config, the process-under-test
log, record.json (the run record) and, for traced runs, trace.json and
spans.jsonl.

The last line of stdout is the result: {"correct", "attempted", "failed",
"metrics"}; the line before it (prefixed RUN) is the run record. With
--trace 0 the metrics are the end-to-end metrics of BENCHMARK.json, with
--trace 1 its per-layer metrics (0 where the workload does not reach the
layer). Exits non-zero, printing no result, when the build or run fails.
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

HEAP = ["-Xmx2g"]  # the one pinned setting of the process under test
JAVA_OPTION = "program-java-option "  # prefix of the lines the build prints
RUN_TIMEOUT_S = 175
KEEP_RUNS = 20

# files whose change requires a rebuild
SOURCE_ROOTS = ["build.sbt", "project", "src/main", "perfbench/build.sbt",
                "perfbench/project", "perfbench/src/main"]


def fail(msg):
    print("[perfbench] " + msg, file=sys.stderr)
    sys.exit(2)


def source_hash(root):
    h = hashlib.sha1()
    for rel in SOURCE_ROOTS:
        path = os.path.join(root, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(path)
            if "target" not in d.split(os.sep) for f in fs
            if f.endswith((".scala", ".sbt", ".properties", ".java")))
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, cache):
    """sbt compile of the program and the benchmark; returns the classpath,
    the JVM options the program's build gives `run`, and the source digest."""
    digest = source_hash(root)
    stamp = os.path.join(cache, "classpath.json")
    if os.path.exists(stamp):
        with open(stamp) as fh:
            got = json.load(fh)
        if got.get("source_sha1") == digest:
            return got["classpath"], got["java_options"], digest
    env = dict(os.environ, COURSIER_MODE="offline")
    if not env.get("SBT_OPTS"):
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(cache, "build.log")
    with open(log, "w") as fh:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath",
             "programJavaOptions"],
            cwd=os.path.join(root, "perfbench"), env=env, stdout=fh, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840).returncode
    with open(log) as fh:
        lines = [l.strip() for l in fh]
    cps = [l for l in lines if not l.startswith("[") and "perfbench" in l and os.pathsep in l]
    opts = [l[len(JAVA_OPTION):] for l in lines if l.startswith(JAVA_OPTION)]
    if rc != 0 or not cps or not opts:
        fail("build failed, see " + log)
    with open(stamp, "w") as fh:
        json.dump({"source_sha1": digest, "classpath": cps[-1], "java_options": opts}, fh)
    return cps[-1], opts, digest


def commit(root):
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def prune_runs(runs, done):
    """Keep the newest run directories, and drop the bulky state of the
    run that just ended (another run may still be using its own)."""
    dirs = sorted((os.path.join(runs, d) for d in os.listdir(runs)
                   if os.path.isdir(os.path.join(runs, d))), key=os.path.getmtime)
    for d in dirs[:-KEEP_RUNS]:
        shutil.rmtree(d, ignore_errors=True)
    for sub in ("ckpt", "tmp"):
        shutil.rmtree(os.path.join(done, sub), ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    for need in ("build.sbt", "src/main/scala/graft/Main.scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail("no program to benchmark here: %s is missing" % need)

    cache = os.path.join(root, ".bench_build", "perfbench")
    runs = os.path.join(cache, "runs")
    os.makedirs(runs, exist_ok=True)
    classpath, program_opts, digest = build(root, cache)

    run_dir = os.path.join(runs, "%s-s%d-t%d-%d" % (
        args.workload, args.seed, args.trace, time.time_ns() // 1000000))
    # scratch files of the JVMs and of Spark stay in the run directory
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # the program's own `run` options with the heap replaced by the pinned one
    jvm_opts = [o for o in program_opts if not o.startswith(("-Xmx", "-Xms"))] + [
        "-Djava.io.tmpdir=" + tmp]
    child = os.path.join(run_dir, "child.json")
    with open(child, "w") as fh:
        json.dump(["java"] + HEAP + jvm_opts + ["-cp", classpath], fh)
    # no GRAFT_* tuning reaches the process under test: it runs on its defaults
    dropped = sorted(k for k in os.environ if k.startswith("GRAFT_"))
    env = {k: v for k, v in os.environ.items() if k not in dropped}
    env["SPARK_LOCAL_DIRS"] = tmp
    cmd = ["java", "-Xmx1g", "-Dperfbench.source_sha1=" + digest,
           "-Dperfbench.commit=" + (commit(root) or "none"),
           "-Dperfbench.dropped_env=" + ",".join(dropped)] + jvm_opts + [
        "-cp", classpath, "graft.perfbench.Runner", args.workload, str(args.seed),
        str(args.seconds), str(args.trace), run_dir, child]
    os.sync()  # start from clean page-cache write-back
    proc = subprocess.Popen(cmd, cwd=root, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                            text=True, start_new_session=True,
                            env=env)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        out = ""
        print("[perfbench] run timed out", file=sys.stderr)
    finally:
        # the runner and the process under test share one process group
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        prune_runs(runs, run_dir)
        # flush what this run wrote and deleted now, so the write-back
        # does not land in the next run's measurement
        os.sync()

    lines = [l for l in out.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError, TypeError, AssertionError):
        for l in lines:
            print(l)
        fail("run produced no result (exit %s); see %s" % (proc.returncode, run_dir))
    if proc.returncode != 0:
        fail("runner exited %s" % proc.returncode)
    for l in lines[:-1]:
        print(l)
    # report exactly the declared metrics; the run record keeps the rest
    got = result["metrics"]
    if args.trace:
        result["metrics"] = {m["name"]: got.get(m["name"], {"value": 0.0, "unit": m["unit"]})
                             for m in bench["per_layer"]}
    else:
        missing = [m["name"] for m in bench["end_to_end"] if m["name"] not in got]
        if missing:
            fail("run reported no " + ", ".join(missing))
        result["metrics"] = {m["name"]: got[m["name"]] for m in bench["end_to_end"]}
    print(json.dumps(result))


if __name__ == "__main__":
    main()
