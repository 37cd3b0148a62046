#!/usr/bin/env python3
"""Counts the processes Hadoop's Shell launches in one benchmark run, by calling method.

    python3 tools/fork_census.py --workload kinesis_stream
    python3 tools/fork_census.py --workload topic_fanout --seed 7 --seconds 30
    python3 tools/fork_census.py --workload kinesis_stream --tree /path/to/other/checkout

Run it from the root of a graft checkout (or name one with `--tree`).
It makes one `perfbench/run.py --trace 0` run of the workload with a
Java Flight Recording switched on through `JAVA_TOOL_OPTIONS`, into a
temporary directory; no file of the checkout changes. The benchmark is
built first, outside the recording, so only the benchmark's JVM records.

Hadoop's `Shell.runCommand` starts one thread for every process it
launches, so each `jdk.ThreadStart` event whose thread was started
directly by `Shell.runCommand` is one launch. A launch is counted under
the first frame of its stack outside Hadoop's shell classes
(`RawLocalFileSystem.setPermission` for chmod, `FileUtil.readLink` for
readlink, `DeprecatedRawLocalFileStatus.loadPermissionInfo...` for
`ls -ld`, and so on). Launches made while the Spark session was being
created (under `SparkSession.Builder.getOrCreate`) are printed apart
from the ones after it.

Micro-batches are counted from the same recording: every micro-batch of
a stream query writes one offsets file (`<checkpoint>/offsets/<id>`),
and `jdk.FileWrite` events with no threshold record each write. The
per-micro-batch figure divides the launches after session start by that
count; a workload that runs no stream query prints none.
"""

import argparse
import collections
import importlib.util
import json
import os
import re
import subprocess
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

SETTINGS = """<?xml version="1.0" encoding="UTF-8"?>
<configuration version="2.0" label="fork census">
  <event name="jdk.ThreadStart">
    <setting name="enabled">true</setting>
    <setting name="stackTrace">true</setting>
  </event>
  <event name="jdk.FileWrite">
    <setting name="enabled">true</setting>
    <setting name="stackTrace">false</setting>
    <setting name="threshold">0 ms</setting>
  </event>
</configuration>
"""

SHELL_CLASSES = {"org.apache.hadoop.util.Shell", "org.apache.hadoop.util.Shell$ShellCommandExecutor"}
# the offsets log writes `offsets/<id>` through a hidden temp file `offsets/.<id>.<uuid>.tmp`
OFFSETS_FILE = re.compile(r"^(.*)/offsets/\.?(\d+)(\.[0-9a-f-]+\.tmp)?$")


def frame_name(frame):
    # `jfr print --json` writes class names in their internal form (`org/apache/...`)
    return frame["method"]["type"]["name"].replace("/", "."), frame["method"]["name"]


def build(tree):
    """Builds the tree's benchmark (perfbench/run.py's own cached build) and returns its class path."""
    spec = importlib.util.spec_from_file_location("perfbench_run", tree / "perfbench" / "run.py")
    run = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(run)
    return run.classpath()


def record(tree, workload, seed, seconds, out_dir):
    """One benchmark run under JFR; returns (result line, recording path)."""
    settings, rec = out_dir / "census.jfc", out_dir / "census.jfr"
    settings.write_text(SETTINGS)
    env = dict(os.environ, JAVA_TOOL_OPTIONS=(
        f"-XX:StartFlightRecording=filename={rec},settings={settings} "
        "-XX:FlightRecorderOptions=stackdepth=256"))
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=tree, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          stdin=subprocess.DEVNULL, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or not rec.exists():
        sys.stderr.write(proc.stderr[-2000:])
        sys.exit(f"fork_census: the {workload} run failed (exit {proc.returncode})")
    return json.loads(lines[-1]), rec


def events(rec):
    jfr = str(Path(os.environ["JAVA_HOME"]) / "bin" / "jfr") if "JAVA_HOME" in os.environ else "jfr"
    out = subprocess.run([jfr, "print", "--json", "--stack-depth", "256",
                          "--events", "jdk.ThreadStart,jdk.FileWrite", str(rec)],
                         stdout=subprocess.PIPE, check=True, text=True).stdout
    return json.loads(out)["recording"]["events"]


def census(evs):
    """Returns (launches during session start, launches after it by caller, micro-batches)."""
    at_start, after, batches = 0, collections.Counter(), set()
    for e in evs:
        v = e["values"]
        if e["type"] == "jdk.FileWrite":
            m = OFFSETS_FILE.match(v.get("path") or "")
            if m:
                batches.add((m.group(1), int(m.group(2))))
            continue
        frames = [frame_name(f) for f in ((v.get("stackTrace") or {}).get("frames") or [])]
        below = [f for f in frames if f != ("java.lang.Thread", "start")]
        if not below or below[0] != ("org.apache.hadoop.util.Shell", "runCommand"):
            continue
        if any(m == "getOrCreate" and c.endswith("SparkSession$Builder") for c, m in frames):
            at_start += 1
            continue
        caller = next(((c, m) for c, m in below
                       if c not in SHELL_CLASSES and (c, m) != ("org.apache.hadoop.fs.FileUtil", "execCommand")),
                      ("?", "?"))
        after[f"{caller[0].rsplit('.', 1)[-1]}.{caller[1]}"] += 1
    return at_start, after, len(batches)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--tree", default=str(ROOT), help="the graft checkout to run (default: this one)")
    a = ap.parse_args()
    tree = Path(a.tree).resolve()

    build(tree)
    with tempfile.TemporaryDirectory(prefix="fork-census-") as tmp:
        result, rec = record(tree, a.workload, a.seed, a.seconds, Path(tmp))
        at_start, after, batches = census(events(rec))

    total = sum(after.values())
    print(f"{a.workload} (seed {a.seed}, {a.seconds:g} s): {result['attempted']} operations, "
          f"{'all correct' if result['correct'] else 'NOT correct'}, {batches} micro-batches")
    print(f"  Hadoop shell launches while the session started: {at_start}")
    print(f"  after session start: {total}"
          + (f" ({total / batches:.1f} per micro-batch)" if batches else ""))
    for caller, n in after.most_common():
        print(f"    {n:6d}  {caller}" + (f"  ({n / batches:.1f} per micro-batch)" if batches else ""))


if __name__ == "__main__":
    main()
