#!/usr/bin/env python3
"""Launcher of the LDA pipeline benchmark.

    python3 ldabench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. On first use it builds the benchmark
with sbt (the library's sources under src/main/scala plus the driver under
ldabench/src) and records the classpath; later runs reuse that build until
a source file changes. It then runs the driver (ldabench.Main) in its own
JVM, relays the driver's stdout and exits with the driver's status. The
last stdout line is the result object; the lines before it are breakdowns.
Everything the run writes stays under ldabench/target.
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
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
TARGET = BENCH / "target"
CLASSPATH_FILE = TARGET / "classpath.txt"
LIBRARY_SOURCES = ROOT / "src" / "main" / "scala"
BUILD_SECONDS = 840
RUN_SECONDS = 170

# JDK 17 module openings Spark needs outside spark-submit, and the same
# JVM settings the library's own build uses for its forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# A fixed-size heap: no resizing during a run, so timings and the live
# heap read after each operation do not depend on heap growth.
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]

CHILD = None


def stop_child(signum=None, frame=None):
    """Ends the running build or driver and waits for it."""
    if CHILD is not None and CHILD.poll() is None:
        CHILD.kill()
        CHILD.wait()
    if signum is not None:
        sys.exit(128 + signum)


def run_child(cmd, timeout, **kw):
    """Runs cmd to completion; returns (status, stdout) or None on timeout."""
    global CHILD
    CHILD = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, text=True, **kw)
    try:
        out, _ = CHILD.communicate(timeout=max(1.0, timeout))
    except subprocess.TimeoutExpired:
        stop_child()
        return None
    return CHILD.returncode, out


def fail(msg):
    print(f"ldabench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_hash():
    """Hash of every input of the build, so an edited tree rebuilds."""
    h = hashlib.sha256()
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for base in (LIBRARY_SOURCES, BENCH / "src" / "main"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(deadline):
    """Returns the driver's classpath, building first when needed."""
    if not (LIBRARY_SOURCES / "graft").is_dir():
        fail(f"library sources not found under {LIBRARY_SOURCES.relative_to(ROOT)}")
    digest = source_hash()
    if CLASSPATH_FILE.exists():
        stamp, _, cp = CLASSPATH_FILE.read_text().partition("\n")
        if stamp == digest and cp.strip():
            return cp.strip()
    tmp = TARGET / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env["SBT_OPTS"] = " ".join(filter(None, [
        env.get("SBT_OPTS", ""),
        f"-Dsbt.global.base={TARGET / 'sbt-global'}",
        f"-Djava.io.tmpdir={tmp}",
        "-Dsbt.server.autostart=false",
    ]))
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "compile", "export Runtime/fullClasspath"]
    done = run_child(cmd, deadline - time.time(), cwd=BENCH, env=env, stderr=subprocess.STDOUT)
    if done is None:
        fail("build timed out")
    status, out = done
    classes = str(TARGET / "scala-2.13" / "classes")
    cps = [l.strip() for l in out.splitlines() if l.strip().startswith(classes)]
    if status != 0 or not cps:
        sys.stderr.write(out[-4000:])
        fail("build failed")
    CLASSPATH_FILE.write_text(digest + "\n" + cps[-1] + "\n")
    return cps[-1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    a = ap.parse_args()
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, stop_child)

    start = time.time()
    cp = build(start + BUILD_SECONDS)
    built = time.time() - start > 5
    deadline = (start + BUILD_SECONDS) if built else (start + RUN_SECONDS)

    work = TARGET / "work" / f"{a.workload}-{a.seed}-t{a.trace}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    log = work / "driver.log"
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + JVM_OPTS + [f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", cp, "ldabench.Main",
                         "--workload", a.workload, "--seed", str(a.seed),
                         "--seconds", str(a.seconds), "--trace", a.trace, "--work", str(work)])
    with open(log, "w") as err:
        done = run_child(cmd, deadline - time.time(), cwd=ROOT, stderr=err)
    if done is None:
        fail(f"driver timed out; log in {log.relative_to(ROOT)}")
    status, out = done
    for sub in ("corpus", "warmup", "spark-local", "tmp", "layer-snapshot", "warehouse"):
        shutil.rmtree(work / sub, ignore_errors=True)
    lines = out.splitlines()
    try:
        result = json.loads(lines[-1])
        ok = set(result) == {"correct", "attempted", "failed", "metrics"}
    except (IndexError, ValueError):
        ok = False
    if status != 0 or not ok:
        sys.stderr.write(out[-2000:])
        sys.stderr.write("".join(log.read_text().splitlines(True)[-40:]))
        fail(f"driver failed with status {status}; log in {log.relative_to(ROOT)}")
    print("\n".join(lines), flush=True)


if __name__ == "__main__":
    main()
