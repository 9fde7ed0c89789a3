#!/usr/bin/env python3
"""Benchmark entry point for graft.

Run from the root of a source tree:

    python3 perfbench/run.py --workload t2k_corpus --seed 7 --seconds 20 --trace 0

It compiles src/main/scala and perfbench/src with the Scala compiler that
ships in the Spark jars directory named by build.sbt's unmanagedBase, runs the workload in a fresh JVM at local[nproc], prints every metric with
its unit and, as the last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end list, with
--trace 1 its per_layer list. Build output, generated inputs and run
records go to $CARGO_TARGET_DIR (default .bench_build). See
perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
DIGESTS = os.path.join(BENCH_DIR, "digests.tsv")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
# Spark 4 on JDK 17 needs these outside spark-submit (same list as build.sbt)
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def spark_jars(root):
    """The Spark jars directory that build.sbt compiles against (its unmanagedBase)."""
    sbt = os.path.join(root, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    fail("no Spark jars directory: build.sbt names no existing unmanagedBase")


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not main:
        fail("no src/main/scala here: run from the root of a graft source tree")
    return main + sorted(glob.glob(os.path.join(BENCH_DIR, "src/*.scala")))


def build(root, build_dir, jars):
    """Compiles once per source digest; returns (classes dir, digest)."""
    files = sources(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        h.update(open(f, "rb").read())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    digest = h.hexdigest()[:16]
    classes = os.path.join(build_dir, f"classes-{digest}")
    if os.path.exists(os.path.join(classes, "_BUILT")):
        return classes, digest
    for old in glob.glob(os.path.join(build_dir, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = classes + ".tmp"
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp] + files
    print(f"perfbench: compiling {len(files)} Scala files", file=sys.stderr)
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compilation failed:\n" + p.stdout[-4000:])
    open(os.path.join(tmp, "_BUILT"), "w").close()
    os.rename(tmp, classes)
    return classes, digest


def heap():
    """Driver heap by the tier-1 formula: half of RAM, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(re.search(r"MemTotal:\s+(\d+)", f.read()).group(1))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, AttributeError):
        return "2g"


def git_sha(root):
    try:
        # look no further up than root: a tree that is not a repository has no SHA
        env = dict(os.environ, GIT_CEILING_DIRECTORIES=os.path.dirname(root))
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, text=True, env=env,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(cmd, env, log_path):
    """Runs the JVM in its own process group; kills the group on timeout."""
    with open(log_path, "w") as log:
        log.write(" ".join(cmd) + "\n")
        log.flush()
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        try:
            return p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s; log: {log_path}")
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def record_digests(found):
    have = {}
    if os.path.exists(DIGESTS):
        for line in open(DIGESTS):
            if line.strip() and not line.startswith("#"):
                k, v = line.rstrip("\n").split("\t")
                have[k] = v
    have.update(found)
    with open(DIGESTS, "w") as f:
        f.write("# key<TAB>digest; regenerate: see perfbench/README.md\n")
        for k in sorted(have):
            f.write(f"{k}\t{have[k]}\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-digests", action="store_true",
                    help="write this run's output digests to perfbench/digests.tsv")
    a = ap.parse_args()
    # a terminated run still stops its JVM (see run_jvm)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.exists(spec_path):
        fail("no BENCHMARK.json here: run from the root of the source tree")
    spec = json.load(open(spec_path))
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    jars = spark_jars(root)
    classes, src_digest = build(root, build_dir, jars)

    nproc = len(os.sched_getaffinity(0))
    run_dir = os.path.join(build_dir, "runs",
                           f"{a.workload}-seed{a.seed}-trace{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}")
    tmp = os.path.join(build_dir, "tmp")
    for d in (run_dir, tmp):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ,
               SPARK_LOCAL_DIRS=os.path.join(build_dir, "spark-local"),
               GRAFT_SIMHASH_TOKENS_DIR=os.path.join(build_dir, "oracle_aux"),
               GRAFT_PARITY_OURS=os.path.join(root, "BENCH/t2d_union_parity_correspondences.csv"))
    env.pop("GRAFT_TIME_DEF", None)
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    cmd = (["java"] + opens +
           # no hsperfdata file: the run writes only under build_dir
           ["-XX:-UsePerfData", f"-Xmx{heap()}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--nproc", str(nproc),
            "--out", run_dir, "--data", os.path.join(build_dir, "data"),
            "--digests", "" if a.record_digests else DIGESTS, "--git-sha", git_sha(root)])
    log = os.path.join(run_dir, "jvm.log")
    code = run_jvm(cmd, env, log)
    result_path = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(result_path):
        tail = "".join(open(log).readlines()[-15:])
        fail(f"benchmark JVM exited with {code}; log: {log}\n{tail}")
    res = json.load(open(result_path))

    if a.record_digests:
        record_digests(res["digests"])
    env_info = dict(res["env"], source_digest=src_digest, heap=heap())
    print("env " + json.dumps(env_info, sort_keys=True))
    for it in res["items"]:
        if not it["ok"]:
            print(f"failed: {it['name']}: {it['detail']}")
    for name, m in sorted(res["metrics"].items()):
        print(f"{name} = {m['value']:.6g} {m['unit']}")

    wanted = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    missing = [n for n in wanted if n not in res["metrics"]]
    if missing:
        fail(f"run produced no value for {', '.join(missing)}; log: {log}")
    print(json.dumps({
        "correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {n: res["metrics"][n] for n in wanted}}))


if __name__ == "__main__":
    main()
