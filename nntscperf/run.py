#!/usr/bin/env python3
"""Run one NNTSC benchmark workload.

    python3 nntscperf/run.py --workload dashboard --seed 1 --seconds 15 --trace 0 --live-period-ms 3500

Compiles the program from this checkout's src/main together with the
benchmark (sbt, once per source change), prints the commit and a hash of
the program classes that will run, then starts the benchmark JVM. Its last
stdout line is the result JSON; the exit code is non-zero when any output
check failed or the run could not start.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSES = os.path.join(TARGET, "scala-2.13", "classes")
STAMP = os.path.join(TARGET, "nntscperf.stamp")
SPARK_JARS = "/opt/spark/jars"
RUN_LIMIT_S = 170


def log(msg):
    print(f"[nntscperf] {msg}", file=sys.stderr, flush=True)


def tree_files(base, skip=()):
    out = []
    for d, dirs, files in os.walk(base):
        dirs[:] = sorted(x for x in dirs if os.path.join(d, x) not in skip)
        out += [os.path.join(d, f) for f in sorted(files)]
    return out


def digest(paths, base):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, base).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def sources_hash():
    paths = tree_files(os.path.join(ROOT, "src", "main"))
    paths += tree_files(os.path.join(HERE, "src", "main"))
    paths += [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return digest(paths, ROOT)


def build():
    """Compiles when the sources differ from the last build's."""
    want = sources_hash()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP) and open(STAMP).read() == want:
        return
    log("compiling src/main with the benchmark")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = "-Dsbt.offline=true -Xmx3g"
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts = f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} " + opts
    env["SBT_OPTS"] = opts
    shutil.rmtree(CLASSES, ignore_errors=True)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL, timeout=700)
    if r.returncode != 0:
        raise SystemExit("build failed")
    with open(STAMP, "w") as f:
        f.write(want)


def provenance():
    try:
        commit = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                                text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        commit = "unknown"
    program = tree_files(CLASSES, skip=(os.path.join(CLASSES, "nntscperf"),))
    return commit, digest(program, CLASSES)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["dashboard", "history", "live"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--live-period-ms", type=int, required=True)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("no program sources at src/main/scala/graft: run from a full checkout")
    build()
    commit, classes = provenance()
    print(f'{{"provenance":{{"commit":"{commit}","program_classes_sha256":"{classes}"}}}}', flush=True)

    work = os.path.join(TARGET, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
             "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
             "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    # C1 only: with C2, large compilations of Spark's planning code finish at
    # unpredictable times tens of seconds into a run, and each one cuts request
    # times by a third, so a short window catches it or not. C1 code is in
    # place within the warm-up and stays put. C1 needs more code cache than
    # its default.
    cmd = ["java", "-Xmx3g", "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={work}/tmp"]
    cmd += [x for p in opens for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += ["-cp", f"{CLASSES}{os.pathsep}{SPARK_JARS}/*", "nntscperf.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--live-period-ms", str(a.live_period_ms)]
    errlog = os.path.join(TARGET, "work", f"{a.workload}-{a.seed}-{os.getpid()}.stderr")
    rc = 1
    with open(errlog, "wb") as err:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                             stdin=subprocess.DEVNULL)
        try:
            out, _ = p.communicate(timeout=RUN_LIMIT_S)
            sys.stdout.write(out.decode())
            rc = p.returncode
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            log(f"run exceeded {RUN_LIMIT_S} s")
    if rc != 0:
        with open(errlog, "rb") as f:
            tail = f.read()[-4000:].decode(errors="replace")
        log(f"exit {rc}; stderr tail:\n{tail}")
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(rc)


if __name__ == "__main__":
    main()
