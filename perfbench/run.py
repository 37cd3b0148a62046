#!/usr/bin/env python3
"""Runs one graft benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload topic_fanout --seed 1 --seconds 30 --trace 0

Run it from the root of a graft checkout. The first run builds the
benchmark (graft's main sources plus perfbench/src) with sbt and caches
the class path under perfbench/.build; later runs start the JVM
directly. The last line of stdout is one JSON object with the keys
correct, attempted, failed and metrics. See perfbench/README.md.
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

WORKLOADS = ["kinesis_stream", "topic_fanout"]
BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
GRAFT_SOURCES = ROOT / "src" / "main" / "scala"
BUILD = BENCH / ".build"
RUN_LIMIT_S = 175
RECORD_LIMIT_S = 1500
BUILD_LIMIT_S = 850
HEAP = "3g"

# Spark 4 on JDK 17 needs these outside spark-submit (the same list as
# graft's own build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for top in (GRAFT_SOURCES, BENCH / "src"):
        files += sorted(p for p in top.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def run_bounded(cmd, limit, **kw):
    """Runs cmd in its own process group; kills the group at the limit
    and always waits for it to end."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, err = proc.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"{cmd[0]} did not finish within {limit} s")
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out, err


def classpath():
    stamp = source_stamp()
    cp_file, stamp_file = BUILD / "classpath", BUILD / "stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text()
    print("perfbench: building (sbt)", file=sys.stderr)
    rc, out, _ = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "export Runtime/fullClasspath"],
        BUILD_LIMIT_S, cwd=BENCH, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    lines = [l for l in out.splitlines() if l.strip() and not l.startswith("[")]
    if rc != 0 or not lines:
        sys.stderr.write(out)
        fail(f"build failed (sbt exit {rc})")
    cp = lines[-1].strip()
    if not all(Path(p).exists() for p in cp.split(os.pathsep)):
        fail("build printed a class path with missing entries")
    BUILD.mkdir(parents=True, exist_ok=True)
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true",
                    help="write the workload's reference fingerprints instead of checking them")
    a = ap.parse_args()

    if not (GRAFT_SOURCES / "graft").is_dir():
        fail(f"graft sources not found at {GRAFT_SOURCES.relative_to(ROOT)}; "
             "run from a full graft checkout")
    if a.seconds <= 0:
        fail("--seconds must be positive")
    cp = classpath()

    work = BENCH / ".work" / f"{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    results = BENCH / "results" / f"{a.workload}-seed{a.seed}-trace{a.trace}.json"
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") if "JAVA_HOME" in os.environ else "java"
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = [java, f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}"]
    for mod in ADD_OPENS:
        cmd += ["--add-opens", f"{mod}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", str(BENCH / "data" / "sf0.01"),
            "--work", str(work), "--results", str(results),
            "--fingerprints", str(BENCH / "fingerprints" / f"{a.workload}.json"),
            "--record", "1" if a.record else "0"]
    t0 = time.time()
    try:
        limit = RECORD_LIMIT_S if a.record else RUN_LIMIT_S
        rc, out, _ = run_bounded(cmd, limit, cwd=work, stdout=subprocess.PIPE,
                                 stdin=subprocess.DEVNULL, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0:
        sys.stderr.write(out)
        fail(f"benchmark JVM exited with {rc} after {time.time() - t0:.1f} s", rc or 1)
    if a.record:
        print(out, end="")
        return
    lines = out.rstrip("\n").splitlines()
    result = json.loads(lines[-1]) if lines else None
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write(out)
        fail("benchmark JVM printed no result line")
    print("\n".join(lines[:-1]))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
