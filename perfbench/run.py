#!/usr/bin/env python3
"""Runs one benchmark measurement of the engine in this checkout.

    python3 perfbench/run.py --workload mapreduce_text --seed 1 --seconds 20 --trace 0

Builds the engine and the benchmark from source with sbt when the sources
changed since the last build (output under .bench_build/), generates the
workload's inputs from the seed into a fresh run directory, runs the JVM
half (perfbench.Main), removes the run directory, and prints two lines: the
full result record, then the summary line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

whose metrics are the end-to-end ones (--trace 0) or the per-layer ones
(--trace 1). Full records and traced spans are kept in .bench_build/results/.
See perfbench/README.md.
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
TARGET = os.path.join(BUILD, "target")
ENGINE_SRC = os.path.join(ROOT, "src", "main")

sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ["mapreduce_text", "batch_queries", "write_path"]

# The metrics of the summary line; BENCHMARK.json lists the same names.
END_TO_END = ["setup_s", "pass_s"]
PER_LAYER = [
    "cores",
    "io.tables_load_s", "io.tables_load_jobs", "io.text_read_s", "io.text_read_tasks",
    "build.s", "build.jobs", "plan.s",
    "exec.s", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_busy_frac",
    "exec.shuffle_write_mb", "exec.spill_mb",
    "jobs.by_site.parquet_infer", "jobs.by_site.pin", "jobs.by_site.collect",
    "jobs.by_site.write", "jobs.by_site.other",
    "versioned.commit_s", "versioned.commit_jobs", "versioned.files_per_commit",
    "versioned.bytes_written_per_user_byte", "versioned.read_s",
    "stream.batches", "stream.batch_s", "stream.addBatch_s", "stream.walCommit_s",
    "stream.latestOffset_s", "stream.queryPlanning_s", "stream.lifecycle_s",
    "jvm.gc_s",
    "trace.untraced_pass_s", "trace.traced_pass_s", "trace.overhead_s", "trace.spans",
]

# Input sizes. `full` is what the benchmark measures; `tiny` is for the
# self-tests (256 KiB of text, sf0.001-sized tables). `fixture` and `changes`
# scale the generator's sf0.01-shaped tables.
SIZES = {
    "full": {"corpus_mb": 1.0, "fixture": 0.5, "changes": 0.25},
    "tiny": {"corpus_mb": 0.25, "fixture": 0.1, "changes": 0.1},
}

JVM_OPTS = [
    "-Xmx3g",
    "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
    "-Dspark.sql.session.timeZone=UTC",
] + [x for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
] for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_hash():
    """Hash of every file the build reads, to decide whether to rebuild."""
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, dirs, names in os.walk(top):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home():
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    if not submit:
        fail("no Spark distribution: set SPARK_HOME")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit)))


def build(src_hash):
    """Compiles with sbt unless the last build was of the same sources;
    returns the runtime classpath."""
    stamp = os.path.join(TARGET, "build.stamp")
    cp_file = os.path.join(TARGET, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read().strip() == src_hash:
                with open(cp_file) as g:
                    return [line.strip() for line in g if line.strip()]
    os.makedirs(TARGET, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"]))
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep the launcher's lock file, native-library scratch and JVM perf
    # data (of every JVM the sbt script starts) out of $HOME and /tmp
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={tmp} -Djna.tmpdir={tmp} -Dsbt.boot.lock=false"
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                             cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, timeout=850)
    if rc != 0 or not os.path.exists(cp_file):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"build failed (sbt exit {rc}); log in {log}", 3)
    with open(stamp, "w") as f:
        f.write(src_hash)
    with open(cp_file) as g:
        return [line.strip() for line in g if line.strip()]


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def generate(workload, seed, inputs, size):
    sz = SIZES[size]
    t = time.time()
    sizes = {}
    if workload == "mapreduce_text":
        e = gen.corpus(seed, inputs, sz["corpus_mb"])
        sizes = {"corpus_bytes": e["bytes"], "corpus_tokens": e["total_tokens"]}
    else:
        sizes = gen.fixture(seed, inputs, sz["fixture"])
        if workload == "write_path":
            sizes.update(gen.changes(seed, inputs, sz["changes"]))
    return sizes, time.time() - t


def run_jvm(cmd, cwd, log, timeout):
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
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


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala", "graft")):
        fail(f"no engine sources at {os.path.relpath(ENGINE_SRC)}: run from a checkout of the repository")
    t_start = time.time()
    src_hash = source_hash()
    classpath = build(src_hash)

    results = os.path.join(BUILD, "results")
    os.makedirs(results, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{args.size}"
    run_root = os.path.join(BUILD, "runs", f"{tag}-{os.getpid()}")
    shutil.rmtree(run_root, ignore_errors=True)
    inputs = os.path.join(run_root, "inputs")
    os.makedirs(inputs)
    os.makedirs(os.path.join(run_root, "tmp"))
    try:
        sizes, gen_s = generate(args.workload, args.seed, inputs, args.size)
        out = os.path.join(run_root, "record.json")
        spans = os.path.join(results, f"{tag}-spans.json")
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
            if os.environ.get("JAVA_HOME") else "java"
        cmd = [java] + JVM_OPTS + [
            "-Djava.io.tmpdir=" + os.path.join(run_root, "tmp"),
            "-cp", os.pathsep.join(classpath), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--inputs", inputs, "--root", run_root, "--out", out]
        if args.trace:
            cmd += ["--spans", spans]
        log = os.path.join(BUILD, "results", f"{tag}-jvm.log")
        rc = run_jvm(cmd, run_root, log, timeout=args.seconds + 140)
        if rc != 0 or not os.path.exists(out):
            with open(log) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            fail(f"benchmark JVM {'timed out' if rc is None else f'exited {rc}'}; log in {log}", 4)
        with open(out) as f:
            record = json.load(f)
    finally:
        shutil.rmtree(run_root, ignore_errors=True)

    record["env"].update({
        "git_commit": git_commit(),
        "source_sha256": src_hash,
        "size": args.size,
        "seconds": args.seconds,
    })
    record["generated"] = sizes
    record["gen_s"] = gen_s
    record["run_wall_s"] = time.time() - t_start
    with open(os.path.join(results, f"{tag}.json"), "w") as f:
        json.dump(record, f, sort_keys=True)
        f.write("\n")

    source = record["per_layer"] if args.trace else record["metrics"]
    names = PER_LAYER if args.trace else END_TO_END
    summary = {
        "correct": record["correct"],
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {n: source[n] for n in names},
    }
    print(json.dumps(record, sort_keys=True))
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
