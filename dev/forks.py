#!/usr/bin/env python3
"""Operating-system process starts per measured perfbench iteration.

Runs one workload in perfbench's JVM program, launched as ``perfbench/run.py``
launches it (the build's classpath from ``.bench_build/classpath.txt``, the
inputs from ``perfbench/gen.py``), with Java Flight Recorder recording every
``jdk.ProcessStart`` with its stack. The program halts without dumping a
recording, so the recording is read from its on-disk repository under the
work directory. Starts are windowed into iterations by the ``System.gc()``
pair the program runs before each measured one, and grouped by command and by
the innermost Spark, graft or parquet frame that led to them:

    python3 dev/forks.py stream_scd2
    python3 dev/forks.py daily_pipeline --iterations 3 --seed 11

"from Hadoop" counts the starts with an ``org.apache.hadoop.`` frame on their
stack (Hadoop's shell-outs). Everything is written under
``.bench_work/forks/<workload>``; perfbench's own files are only read.
"""
import argparse
import collections
import glob
import os
import re
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
import run as perfbench  # noqa: E402  (build, generate, jvm)

SETTINGS = """<?xml version="1.0" encoding="UTF-8"?>
<configuration version="2.0">
  <event name="jdk.ProcessStart">
    <setting name="enabled">true</setting>
    <setting name="stackTrace">true</setting>
  </event>
  <event name="jdk.GarbageCollection">
    <setting name="enabled">true</setting>
    <setting name="threshold">0 ms</setting>
  </event>
</configuration>
"""
OWN_FRAMES = ("org.apache.spark.", "graft.", "org.apache.parquet.")
# two collections 200 ms apart open a measured iteration
PAIR_GAP_S = 2.0


def parse(text):
    """(kind, start second of day, fields) per event of ``jfr print`` text."""
    for block in re.split(r"\n(?=jdk\.)", text):
        kind = block.split(" ", 1)[0].strip()
        m = re.search(r"startTime = (\d+):(\d+):(\d+(?:\.\d+)?)", block)
        if not m:
            continue
        t = int(m.group(1)) * 3600 + int(m.group(2)) * 60 + float(m.group(3))
        if kind == "jdk.GarbageCollection":
            cause = re.search(r'cause = "(.*)"', block)
            yield kind, t, {"cause": cause.group(1) if cause else ""}
        elif kind == "jdk.ProcessStart":
            command = re.search(r'command = "(.*)"', block)
            frames = re.findall(r"^\s+([^\s(]+)\(", block.split("stackTrace = [", 1)[-1], re.M)
            yield kind, t, {"command": command.group(1) if command else "?", "frames": frames}


def events(repository):
    """Every recorded event in time order, across the repository's chunks."""
    out, day, last = [], 0.0, None
    for chunk in sorted(glob.glob(os.path.join(repository, "**", "*.jfr"), recursive=True)):
        text = subprocess.run(
            ["jfr", "print", "--stack-depth", "64", "--events",
             "jdk.ProcessStart,jdk.GarbageCollection", chunk],
            capture_output=True, text=True, check=True).stdout
        for kind, t, f in parse(text):
            if last is not None and t + day < last - 43200:  # past midnight
                day += 86400
            last = t + day
            out.append((kind, t + day, f))
    return sorted(out, key=lambda e: e[1])


def windows(gcs, n):
    """(label, start, end) per iteration: set-up and the cold iteration run
    before the first collection; measured iteration k from the second
    collection of its pair to the next collection."""
    opens, stops, i = [], [], 0
    while i < len(gcs):
        if i + 1 < len(gcs) and gcs[i + 1] - gcs[i] < PAIR_GAP_S:
            stops.append(gcs[i])
            opens.append(gcs[i + 1])
            i += 2
        else:
            stops.append(gcs[i])
            i += 1
    out = [("set-up + cold iteration", float("-inf"), stops[0] if stops else float("inf"))]
    for k, start in enumerate(opens[:n], 1):
        end = min((s for s in stops if s > start), default=float("inf"))
        out.append((f"iteration {k}", start, end))
    return out


def origin(frames):
    return next((f for f in frames if f.startswith(OWN_FRAMES)), "(no Spark/graft/parquet frame)")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("workload", choices=perfbench.WORKLOADS)
    ap.add_argument("--iterations", type=int, default=2, help="measured iterations (default 2)")
    ap.add_argument("--seed", type=int, default=7)
    a = ap.parse_args()
    if shutil.which("jfr") is None:
        sys.exit("forks: the JDK's jfr tool is not on PATH")

    cp = perfbench.build()
    work = os.path.join(ROOT, ".bench_work", "forks", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    inputs = perfbench.generate(a.workload, a.seed, work)
    settings = os.path.join(work, "forks.jfc")
    with open(settings, "w") as fh:
        fh.write(SETTINGS)
    repository = os.path.join(work, "jfr")
    args = ["--workload", a.workload, "--work", work, "--inputs", inputs,
            "--configs", os.path.join(ROOT, "perfbench", "configs"),
            "--seed", str(a.seed), "--cpus", str(len(os.sched_getaffinity(0))),
            "--trace", "0", "--iterations", str(a.iterations)]
    cmd = perfbench.jvm(cp, work, args)
    cmd[1:1] = [f"-XX:StartFlightRecording:settings={settings}",
                f"-XX:FlightRecorderOptions:repository={repository},stackdepth=128"]
    with open(os.path.join(work, "run.log"), "w") as log:
        p = subprocess.run(cmd, cwd=work, stdout=subprocess.DEVNULL, stderr=log, timeout=600)
    if p.returncode != 0:
        sys.exit(f"forks: the JVM program exited with {p.returncode}; see {work}/run.log")

    evs = events(repository)
    gcs = [t for kind, t, f in evs if kind == "jdk.GarbageCollection" and f["cause"] == "System.gc()"]
    starts = [(t, f) for kind, t, f in evs if kind == "jdk.ProcessStart"]
    print(f"{a.workload} seed {a.seed}: {a.iterations} measured iterations; recording in {repository}")
    for label, lo, hi in windows(gcs, a.iterations):
        inside = [f for t, f in starts if lo <= t < hi]
        hadoop = sum(any(x.startswith("org.apache.hadoop.") for x in f["frames"]) for f in inside)
        print(f"\n{label}: {len(inside)} process starts, {hadoop} from Hadoop")
        groups = collections.Counter(
            (os.path.basename(f["command"].split(" ", 1)[0]), origin(f["frames"])) for f in inside)
        for (command, frame), n in groups.most_common():
            print(f"  {n:6d}  {command:10s}  {frame}")


if __name__ == "__main__":
    main()
