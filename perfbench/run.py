#!/usr/bin/env python3
"""Run one benchmark workload of the graft pipeline and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
harness from source with sbt (perfbench/build.sbt depends on the root
build) into the checkout; later runs reuse the build while the sources
are unchanged. The harness then runs in one JVM on min(2, cores) cores.
Right after a build, one short query_mix run, not measured, records the
classes its JVM loads in a class-data-sharing archive; every measured run
maps it instead of loading and verifying each class again, which shortens
JVM and Spark start-up.
Every line the JVM prints is passed through; the last line of standard
output is the result object, with the end-to-end metrics (--trace 0) or
the per-layer metrics (--trace 1) that BENCHMARK.json lists. A traced
run also writes its spans as JSONL under .bench_build/perfbench/out/.
The exit code is non-zero when the build fails, the program is missing,
or an operation or a correctness gate fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
WORK = os.path.join(BUILD, "work")
OUT = os.path.join(BUILD, "out")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
HEAP = "3g"
# Two task threads leave the rest of a small host to the scheduler, GC and
# listener threads; on a shared 4-core host this made runs much steadier
# than four.
CORES = 2

# Spark on JDK 17 needs these outside spark-submit (as in the root build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for dirpath, dirnames, names in os.walk(r):
            dirnames[:] = sorted(d for d in dirnames if d != "target")
            files += [os.path.join(dirpath, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def jar_dirs(cp):
    """The classpath with each class directory packed into a jar: a
    class-data-sharing archive can only hold classes from jars."""
    jars = os.path.join(BUILD, "jars")
    shutil.rmtree(jars, ignore_errors=True)
    os.makedirs(jars)
    out = []
    for i, entry in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(entry):
            jar = os.path.join(jars, f"{i}.jar")
            with zipfile.ZipFile(jar, "w") as z:
                for dirpath, dirnames, names in os.walk(entry):
                    dirnames.sort()
                    for n in sorted(names):
                        f = os.path.join(dirpath, n)
                        z.write(f, os.path.relpath(f, entry))
            entry = jar
        out.append(entry)
    return os.pathsep.join(out)


def build():
    """Compile program + harness when a source changed; return the
    runtime classpath and whether it compiled."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fc:
                    return fc.read().strip(), False
    os.makedirs(BUILD, exist_ok=True)
    # offline: every dependency comes from the local caches
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx3g" + (
        f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}" if os.path.isfile(repos) else ""))
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log, text=True,
                timeout=BUILD_TIMEOUT_S, start_new_session=True)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log_path}", 3)
        log.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        tail = "".join(open(log_path).readlines()[-30:])
        fail(f"build failed (exit {p.returncode}); log {log_path}:\n{tail}", 3)
    cp = jar_dirs(lines[-1].strip())
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp, True


def fresh_work():
    """Scratch inside the checkout: temp files, Spark's local dir, cwd."""
    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, d))


def jvm(cp, flags, workload, seed, seconds, trace, out):
    """The command that runs perfbench.Main on one workload."""
    return (["java", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m", "-Xlog:disable",
             "-Xlog:all=warning:stderr"] + flags
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + [f"-Djava.io.tmpdir={WORK}/tmp", f"-Dspark.local.dir={WORK}/spark-local",
               "-cp", cp, "perfbench.Main",
               "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
               "--trace", str(trace), "--work", WORK, "--out", out,
               "--cores", str(min(CORES, len(os.sched_getaffinity(0)))),
               "--bench", os.path.join(ROOT, "BENCHMARK.json"), "--data", os.path.join(HERE, "data")])


def record_classes(cp):
    """Write the class-data-sharing archive from one short query_mix run.
    Without an archive the runs still work, only start more slowly."""
    fresh_work()
    try:
        subprocess.run(jvm(cp, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"], "query_mix", 0, 1, 0,
                           os.path.join(WORK, "out")),
                       cwd=WORK, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                       timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        # a run killed while writing leaves a partial archive
        if os.path.exists(ARCHIVE):
            os.remove(ARCHIVE)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"the program's sources (build.sbt, src/main/scala/graft) are not in {ROOT}", 2)
    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(bench_json):
        fail("BENCHMARK.json is missing", 2)
    with open(bench_json) as fh:
        bench = json.load(fh)
    if a.workload not in [w["name"] for w in bench["workloads"]]:
        fail(f"unknown workload {a.workload}", 2)
    if a.seconds < 1:
        fail("--seconds must be at least 1", 2)

    cp, compiled = build()
    if compiled:
        record_classes(cp)
    fresh_work()
    share = [f"-XX:SharedArchiveFile={ARCHIVE}"] if os.path.exists(ARCHIVE) else []
    cmd = jvm(cp, share, a.workload, a.seed, a.seconds, a.trace, OUT)
    p = subprocess.Popen(cmd, cwd=WORK, stdout=subprocess.PIPE, text=True, start_new_session=True)
    last = None
    try:
        timer = threading.Timer(RUN_TIMEOUT_S, lambda: os.killpg(p.pid, signal.SIGKILL))
        timer.start()
        for line in p.stdout:
            if last is not None:
                print(last, flush=True)
            last = line.rstrip("\n")
        code = p.wait()
        timer.cancel()
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        shutil.rmtree(WORK, ignore_errors=True)
    if code < 0:
        fail(f"the benchmark JVM was killed (signal {-code}); timeout {RUN_TIMEOUT_S} s", 5)
    try:
        json.loads(last)["metrics"]
    except (TypeError, ValueError, KeyError) as e:
        if last is not None:
            print(last)
        fail(f"no result line from the benchmark JVM (exit {code}): {e}", 5)
    print(last, flush=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
