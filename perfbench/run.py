#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <bulk_load|stream_ingest|serve_reads|corpus_dedup> \
        --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. The first run builds the engine and the
harness from source with sbt (offline); later runs start the harness JVM
directly from the recorded classpath. Inputs are generated from --seed
inside perfbench/.work/ and removed afterwards. --trace 1 runs the traced
pass and also writes its spans and per-layer counts to
perfbench/results/trace_<workload>_seed<n>.json.

Exits non-zero, without a result line, when the build or the run fails,
and non-zero after the result line when any output check failed.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
LAUNCH = os.path.join(TARGET, "launch.txt")
STAMP = os.path.join(TARGET, "launch.fingerprint")
# class-data-sharing archive of the classes a training run loads; it cuts
# every run's JVM start by seconds (it holds class metadata, no results)
ARCHIVE = os.path.join(TARGET, "classes.jsa")
NO_ARCHIVE = os.path.join(TARGET, "classes.jsa.failed")
WORKLOADS = ("bulk_load", "stream_ingest", "serve_reads", "corpus_dedup")
HEAP = ["-XX:+UseParallelGC", "-Xms2g", "-Xmx2g", "-Xmn512m"]
# a first run (build + archive + run) stays under 15 minutes
BUILD_TIMEOUT_S = 480
TRAIN_TIMEOUT_S = 180
RUN_TIMEOUT_S = 175


def sources():
    """Every file the build reads: the engine's and the harness's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main"),
             os.path.join(ROOT, "project"), os.path.join(BENCH, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def fingerprint():
    h = hashlib.sha256()
    for f in sources():
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + harness and record the launch classpath, unless the
    sources are unchanged since the last build."""
    fp = fingerprint()
    if os.path.isfile(LAUNCH) and os.path.isfile(STAMP) and open(STAMP).read() == fp:
        return True
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        repos = os.path.expanduser("~/.sbt/repositories")
        opts += " -Dsbt.offline=true"
        if os.path.isfile(repos):
            opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] = opts + f" -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    log = os.path.join(TARGET, "build.log")
    with open(log, "w") as out:
        code = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                          "writeLaunch"], BENCH, env, out, subprocess.STDOUT, BUILD_TIMEOUT_S)
    if code != 0 or not os.path.isfile(LAUNCH):
        sys.stderr.write(f"perfbench: build failed (exit {code}); see {log}\n")
        sys.stderr.write("".join(open(log).readlines()[-30:]))
        return False
    for f in (ARCHIVE, NO_ARCHIVE):
        if os.path.exists(f):
            os.remove(f)
    with open(STAMP, "w") as f:
        f.write(fp)
    return True


def java_cmd(work, extra):
    """The harness JVM: the build's options, this benchmark's heap, and
    every scratch directory inside `work`."""
    launch = [line for line in open(LAUNCH).read().splitlines() if line]
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    return [java] + launch[:-2] + HEAP + extra + [
        "-Xlog:all=warning:stderr",
        "-XX:-UsePerfData",
        f"-Dspark.local.dir={work}/spark-local",
        f"-Djava.io.tmpdir={work}/tmp",
        f"-Dspark.hadoop.hadoop.tmp.dir={work}/tmp",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        f"-Dderby.system.home={work}/tmp",
    ] + launch[-2:] + ["perfbench.Main"]


def bench_env(work):
    """The harness environment: Spark's scratch stays in `work` even where
    SPARK_LOCAL_DIRS (which overrides spark.local.dir) is set."""
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    return env


def make_work(name):
    work = os.path.join(BENCH, ".work", name)
    shutil.rmtree(work, ignore_errors=True)
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d))
    return work


def train():
    """Dump the class-data-sharing archive from one set-up of every
    workload. A failure only costs the speed-up: runs go on without it."""
    if os.path.isfile(ARCHIVE) or os.path.isfile(NO_ARCHIVE):
        return
    work = make_work(f"train-{os.getpid()}")
    try:
        with open(os.path.join(TARGET, "train.log"), "w") as log:
            code = run_child(java_cmd(work, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"]) + ["--train", work],
                             ROOT, bench_env(work), log, subprocess.STDOUT, TRAIN_TIMEOUT_S)
        if code != 0 or not os.path.isfile(ARCHIVE):
            if os.path.exists(ARCHIVE):
                os.remove(ARCHIVE)
            open(NO_ARCHIVE, "w").close()
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run_child(cmd, cwd, env, stdout, stderr, timeout):
    """Run `cmd` in its own process group; on timeout kill the group and
    wait for it. Returns the exit code (124 on timeout)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=stderr, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return 124
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.stderr.write("perfbench: engine sources (src/main/scala/graft) not found; "
                         "run from a full checkout of the repository\n")
        return 2
    if not build():
        return 3
    train()

    work = make_work(f"{a.workload}-{a.seed}-{os.getpid()}")
    shared = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.isfile(ARCHIVE) else []
    cmd = java_cmd(work, shared) + [
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work]
    if a.trace:
        results = os.path.join(BENCH, "results")
        os.makedirs(results, exist_ok=True)
        cmd += ["--report", os.path.join(results, f"trace_{a.workload}_seed{a.seed}.json")]

    out_path = os.path.join(work, "stdout.txt")
    err_path = os.path.join(work, "stderr.txt")
    try:
        with open(out_path, "w") as out, open(err_path, "w") as err:
            code = run_child(cmd, ROOT, bench_env(work), out, err, RUN_TIMEOUT_S)
        lines = open(out_path).read().splitlines()
        result = lines[-1] if lines and lines[-1].startswith("{") else None
        if code != 0 or result is None:
            sys.stdout.write("\n".join(lines[:-1] if result else lines) + "\n")
            sys.stderr.write(f"perfbench: {a.workload} exited {code}\n")
            sys.stderr.write("".join(open(err_path).readlines()[-40:]))
            if code == 0:
                return 1
            if result is not None:
                print(result)  # a run whose checks failed still reports what it measured
            return code
        print("\n".join(lines))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
