#!/usr/bin/env python3
"""Hourly-pipeline benchmark: build the harness, run one workload, print
the result as the last stdout line.

    python3 pipebench/run.py --workload hourly --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the repository's
sources and the harness with sbt (`pipebench/build.sbt`) and caches the
runtime classpath under `pipebench/target`; later runs start the JVM
directly. Everything a run writes stays under `pipebench/`.
"""
import argparse
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CP_FILE = os.path.join(TARGET, "pipebench-classpath.txt")
RUN_TIMEOUT_S = 170
HEAP = "3g"  # the JVM heap; set-up and hours stay far below it
BUILD_TIMEOUT_S = 850

# Spark on JDK 17 outside spark-submit needs these opens (the same list
# the root build passes to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"[pipebench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Hash of every input of the build: the repository's sources and
    build definition plus the harness's."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    proj = os.path.join(ROOT, "project")
    if os.path.isdir(proj):
        files += [os.path.join(proj, f) for f in os.listdir(proj)
                  if f.endswith((".sbt", ".properties", ".scala"))]
    for d in inputs:
        for dirpath, dirnames, names in os.walk(d):
            dirnames.sort()
            files += [os.path.join(dirpath, n) for n in names]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.isfile(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx3g")
    return env


def classpath(digest):
    """The harness's runtime classpath, building first if the sources
    changed since the cached build."""
    os.makedirs(TARGET, exist_ok=True)
    with open(os.path.join(TARGET, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isfile(CP_FILE):
            with open(CP_FILE) as f:
                cached_digest, cp = f.read().split("\n", 1)
            if cached_digest == digest:
                return cp.strip()
        print("[pipebench] building (sbt compile)", file=sys.stderr)
        try:
            out = subprocess.run(
                ["sbt", "-batch", "-Dsbt.log.noformat=true",
                 "compile", "export Runtime/fullClasspath"],
                cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE,
                stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            die("build timed out")
        if out.returncode != 0:
            sys.stderr.write(out.stdout[-4000:])
            die("build failed")
        lines = [l for l in out.stdout.splitlines()
                 if not l.startswith("[") and ".jar" in l]
        if not lines:
            sys.stderr.write(out.stdout[-4000:])
            die("build printed no classpath")
        cp = lines[-1].strip()
        with open(CP_FILE, "w") as f:
            f.write(digest + "\n" + cp)
        return cp


def commit(digest):
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                             stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                             timeout=10).stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        sha = ""
    return sha or f"src-{digest[:12]}"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        die("no repository sources next to pipebench/ (run from a full checkout)")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        die("java and sbt are required")

    digest = source_digest()
    cp = classpath(digest)
    work = os.path.join(HERE, "work", f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "pipebench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work])
    env = dict(os.environ, PIPEBENCH_COMMIT=commit(digest))
    log_path = os.path.join(HERE, "work", f"run-{os.getpid()}.log")
    proc = None
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                                    stderr=log, text=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                die(f"run exceeded {RUN_TIMEOUT_S} s", 3)
        with open(log_path) as log:
            err = log.read().splitlines()
        for l in err:
            if l.startswith("[pipebench]"):
                print(l, file=sys.stderr)
        if proc.returncode not in (0, 1):
            sys.stderr.write("\n".join(err[-80:]) + "\n")
        sys.stdout.write(out)
        sys.stdout.flush()
        last = out.strip().splitlines()[-1] if out.strip() else ""
        if not last.startswith('{"correct"'):
            die("harness printed no result", 4)
        return proc.returncode
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        if os.path.exists(log_path):
            os.remove(log_path)


if __name__ == "__main__":
    sys.exit(main())
