#!/usr/bin/env python3
"""Serve benchmark entry point.

    python3 servebench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Builds the indexer and the benchmark with
sbt when their sources changed since the last build, then runs one
workload in a fresh JVM (`servebench.Main`) and relays its result. The
last line of standard output is the JSON result. Build outputs go to the
sbt `target/` directories; run state, logs and reports go under
`.bench_build/servebench/`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build", "servebench")
WORKLOADS = ("live_follow", "query_mix", "live_mixed")
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]
RUN_TIMEOUT_S = 170


def fail(msg):
    print(f"servebench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Digest of every file the build reads: the indexer's and the benchmark's."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Xmx2g", "-Dsbt.offline=true"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile with sbt when the sources changed; return the runtime classpath."""
    stamp_file = os.path.join(STATE, "build.stamp")
    cp_file = os.path.join(STATE, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log = os.path.join(STATE, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=out, env=sbt_env(), timeout=840, text=True)
        out.write(p.stdout)
    if p.returncode != 0:
        fail(f"build failed (exit {p.returncode}); see {os.path.relpath(log, ROOT)}")
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if not lines:
        fail("build printed no classpath")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "Serve.scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from a checkout of the indexer")
    os.makedirs(STATE, exist_ok=True)
    cp = build()

    work = os.path.join(STATE, f"work-{os.getpid()}")
    results = os.path.join(STATE, "results")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = [java, "-Xmx1g", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += ["-cp", cp, "servebench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work, "--out", results]
    log = os.path.join(STATE, f"{a.workload}-{a.seed}-{a.trace}.log")
    proc = None

    def stop_child(signum, _frame):
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop_child)
    signal.signal(signal.SIGINT, stop_child)
    env = dict(os.environ, MALLOC_ARENA_MAX="2")
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err, text=True, env=env)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"run exceeded {RUN_TIMEOUT_S} s; see {os.path.relpath(log, ROOT)}")
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        fail(f"run failed (exit {proc.returncode}); see {os.path.relpath(log, ROOT)}")
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail(f"no result line; see {os.path.relpath(log, ROOT)}")
    for l in lines[:-1]:
        print(l)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
