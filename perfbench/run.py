#!/usr/bin/env python3
"""End-to-end load benchmark of the remote-storage adapter.

Run from the repository root:

    python3 perfbench/run.py --workload ingest_then_read --seed 1 --seconds 24 --trace 0

Builds the adapter and the benchmark from source with sbt on first use
(cached in .bench_build/ until a source file changes), then runs one
workload in a fresh JVM: a live graft.serve.Server on a fresh store,
driven over HTTP. The last line of standard output is one JSON object
with the keys correct, attempted, failed and metrics. The exit code is
non-zero when an output was wrong or the run could not be made.
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
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 850

# Spark on JDK 17 outside spark-submit needs these (the root build's
# javaOptions use the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file the build reads, relative to the repository root."""
    out = []
    for r in ["build.sbt", "perfbench/build.sbt"]:
        if os.path.isfile(os.path.join(ROOT, r)):
            out.append(r)
    for r in ["project", "perfbench/project"]:
        d = os.path.join(ROOT, r)
        if os.path.isdir(d):
            out += [f"{r}/{f}" for f in os.listdir(d)
                    if os.path.isfile(os.path.join(d, f))]
    for r in ["src/main", "perfbench/src/main"]:
        for d, dirs, files in os.walk(os.path.join(ROOT, r)):
            out += [os.path.relpath(os.path.join(d, f), ROOT) for f in files]
    return sorted(out)


def stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(f.encode())
        with open(os.path.join(ROOT, f), "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on
    timeout and wait for it. Returns (code, stdout)."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out.decode("utf-8", "replace")
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, ""
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def classpath():
    """The benchmark's runtime classpath, building first if needed."""
    cp_file = os.path.join(BUILD, "classpath.txt")
    want = stamp()
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            have, cp = fh.read().split("\n", 1)
        if have == want:
            return cp.strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        sys.exit("[perfbench] sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g", "-Dsbt.server.autostart=false"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building (sbt compile) ...")
    t0 = time.time()
    code, out = run_group(
        [sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        BUILD_LIMIT_S, cwd=HERE, env=env, stdin=subprocess.DEVNULL)
    lines = [ln for ln in out.splitlines() if ln.startswith("/") and ":" in ln]
    if code != 0 or not lines:
        sys.stderr.write(out[-4000:])
        sys.exit(f"[perfbench] build failed (exit {code})")
    log(f"built in {time.time() - t0:.0f} s")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(want + "\n" + lines[-1])
    return lines[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["ingest_then_read", "mixed"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        sys.exit("[perfbench] no adapter sources (build.sbt, src/main/scala) next to perfbench/")
    cp = classpath()
    t0 = time.time()
    run_dir = os.path.join(BUILD, "runs", f"{os.getpid()}-{int(t0)}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        "-Xms3g", "-Xmx3g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", cp, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace),
        "--run-dir", run_dir, "--span-dir", os.path.join(BUILD, "spans")])
    try:
        code, out = run_group(cmd, RUN_LIMIT_S, cwd=ROOT, stdin=subprocess.DEVNULL)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = out.strip().splitlines()
    for ln in lines[:-1]:
        print(ln, file=sys.stderr)
    if code is None:
        sys.exit("[perfbench] run timed out")
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        sys.exit(f"[perfbench] no result line (exit {code})")
    print(json.dumps(result), flush=True)
    sys.exit(0 if code == 0 and result.get("correct") else 1)


if __name__ == "__main__":
    main()
