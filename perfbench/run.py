#!/usr/bin/env python3
"""Benchmark entry point: builds the engine and the JVM program from source,
generates the workload's seeded inputs, runs the workload for a fixed time
in a fresh JVM, checks every output and prints one JSON line of metrics.

    python3 perfbench/run.py --workload daily_pipeline --seed 1 --seconds 20 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` runs half the time untraced and half traced and prints the
per-layer metrics (see perfbench/README.md). Everything the run writes
stays under the checkout: ``.bench_build`` (classpath, build fingerprint)
and ``.bench_work`` (inputs, sink outputs, logs and full per-sample results).
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("daily_pipeline", "stream_scd2", "operator_mix")
# Input sizes, chosen so that a full evaluation's runs fit its time budget
# on a 4-core host (see README.md, "Run budget").
DAILY_DROPS, DAILY_ROWS = 2, 100_000
STREAM_FILES, STREAM_ROWS = 40, 40
MIX_SCALE = 0.1
# Measured iterations per run = seconds / the iteration's nominal length on
# a 4-core host, rounded, at least 1: a fixed count, so both sides of a
# comparison do the same work (stored bytes and the dimension's size
# depend on it).
NOMINAL_ITERATION_S = {"daily_pipeline": 7.5, "stream_scd2": 7.0, "operator_mix": 10.0}
TICKS = os.sysconf("SC_CLK_TCK")
JVM_HEAP = "3g"
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fingerprint():
    h = hashlib.sha256()
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                 os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        # top-down walk in sorted order, pruning sbt's output directories
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for p in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and the JVM program once per source state; returns the
    runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        sys.exit("perfbench: the engine's sources (build.sbt, src/main/scala/graft) "
                 "are not in the parent directory; run from a repository checkout")
    out = os.path.join(ROOT, ".bench_build")
    os.makedirs(out, exist_ok=True)
    fp = fingerprint()
    cp_file, fp_file = os.path.join(out, "classpath.txt"), os.path.join(out, "fingerprint")
    if os.path.exists(cp_file) and os.path.exists(fp_file) and open(fp_file).read() == fp:
        return open(cp_file).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building the engine and the JVM program (sbt compile)")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    with open(os.path.join(out, "build.log"), "w") as fh:
        fh.write(p.stdout)
    cps = [l for l in p.stdout.splitlines() if l.startswith("/") and ".jar" in l]
    if p.returncode != 0 or not cps:
        sys.stderr.write(p.stdout[-4000:])
        sys.exit(f"perfbench: build failed (exit {p.returncode})")
    log(f"built in {time.time() - t0:.0f}s")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(fp_file, "w") as fh:
        fh.write(fp)
    return cps[-1]


def generate(workload, seed, work):
    """Seeded inputs under ``work/inputs``; returns their directory."""
    if workload == "operator_mix":
        # the star schema is fixed (hashes are pinned against it) and cached
        with open(os.path.join(HERE, "gen.py"), "rb") as fh:
            tag = hashlib.sha256(fh.read()).hexdigest()[:12] + f"-{MIX_SCALE}"
        fix = os.path.join(ROOT, ".bench_work", "fixtures")
        if not os.path.exists(os.path.join(fix, tag)):
            shutil.rmtree(fix, ignore_errors=True)
            gen.fixtures(fix, MIX_SCALE)
            open(os.path.join(fix, tag), "w").close()
        return fix
    inputs = os.path.join(work, "inputs")
    if workload == "daily_pipeline":
        gen.daily_drops(inputs, seed, DAILY_DROPS, DAILY_ROWS)
    else:
        gen.backlog(inputs, seed, STREAM_FILES, STREAM_ROWS)
    return inputs


def jvm(cp, work, args):
    # a fixed young generation, so what an iteration promotes to the old
    # generation (heap_peak_mb) depends on its work, not on pause tuning
    return (["java", f"-Xmx{JVM_HEAP}", "-Xms1g", "-Xmn512m", f"-Djava.io.tmpdir={work}/tmp"]
            + ADD_OPENS + ["-cp", cp, "perfbench.Main"] + args)


CHILDREN = []


def stop_children(signum, _frame):
    # no Popen.wait() here: the interrupted main thread may hold its lock
    for p in CHILDREN:
        if p.returncode is None:
            try:
                p.kill()
                os.waitpid(p.pid, 0)
            except (ProcessLookupError, ChildProcessError):
                pass
    os._exit(128 + signum)


def steal_s():
    """The host's stolen CPU-seconds so far (see Unstolen.scala)."""
    with open("/proc/stat") as fh:
        f = fh.readline().split()
    return int(f[8]) / TICKS if len(f) > 8 else 0.0


def cpu_s(pid):
    with open(f"/proc/{pid}/stat") as fh:
        f = fh.read().rsplit(")", 1)[1].split()
    return (int(f[11]) + int(f[12])) / TICKS


def start_session(cmd, work, logname):
    """Launch the JVM program; return (process, (wall, unstolen) seconds until
    it reported READY), the second None when it failed."""
    t0, s0 = time.perf_counter(), steal_s()
    logf = open(os.path.join(work, logname), "w")
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=logf, text=True)
    CHILDREN.append(proc)
    for line in proc.stdout:
        if line.strip() == "READY":
            wall, cpu, stolen = time.perf_counter() - t0, cpu_s(proc.pid), steal_s() - s0
            return proc, (wall, wall * cpu / (cpu + stolen) if cpu > 0 else wall)
    proc.wait()
    return proc, None


def fail(work, msg):
    p = os.path.join(work, "run.log")
    if os.path.exists(p):
        sys.stderr.write(open(p, errors="replace").read()[-3000:])
    sys.exit(f"perfbench: {msg}")


def percentiles(xs):
    """p50 and p90, interpolated between the nearest ranks."""
    if len(xs) == 1:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=10, method="inclusive")
    return q[4], q[8]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, stop_children)
    signal.signal(signal.SIGINT, stop_children)

    cp = build()
    # a run must end within 180 s of its start, the build aside
    deadline = time.time() + 170
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    t0 = time.time()
    inputs = generate(a.workload, a.seed, work)
    generate_s = time.time() - t0

    args = ["--workload", a.workload, "--work", work, "--inputs", inputs,
            "--configs", os.path.join(HERE, "configs"),
            "--seed", str(a.seed), "--cpus", str(cpus), "--trace", str(a.trace),
            "--iterations", str(max(1, round(a.seconds / NOMINAL_ITERATION_S[a.workload])))]
    proc, setup = start_session(jvm(cp, work, args), work, "run.log")
    if setup is None:
        fail(work, "session set-up failed")
    try:
        proc.communicate(timeout=max(1, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(work, "workload run timed out")
    if proc.returncode != 0:
        fail(work, f"JVM program exited with {proc.returncode}")
    with open(os.path.join(work, "result.json")) as fh:
        r = json.load(fh)

    failures = list(r["failures"])
    attempted = r["attempted"]
    verdict = checks.run(a.workload, r["finish"], HERE)
    attempted += verdict["checks"]
    failures += verdict["failures"]
    failed = r["failed"] + len(verdict["failures"])
    live_rows = verdict.get("live_rows", r["finish"].get("live_rows", 0))

    warm = [x for x in r["samples"] if x["phase"] == "warm"]
    warm_iters = {x["iter"] for x in warm}
    units = [u["unstolen_s"] for u in r["units"] if u["iter"] in warm_iters]
    p50, p90 = percentiles(units)
    e2e = {
        "setup_s": (setup[1], "s"),
        "cold_run_s": (r["cold_run_s"], "s"),
        "run_s": (statistics.median(x["unstolen_s"] for x in warm), "s"),
        "task_cpu_s": (statistics.median(x["task_cpu_s"] for x in warm), "cpu-s"),
        "process_cpu_s": (statistics.median(x["process_cpu_s"] for x in warm), "cpu-s"),
        "batch_p50_s": (p50, "s"),
        "batch_p90_s": (p90, "s"),
        "stored_bytes_per_row": (r["finish"]["stored_bytes"] / max(1, live_rows), "B"),
        "heap_peak_mb": (r["heap_peak_mb"], "MB"),
    }
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if a.trace:
        layers = r["layers"]
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in spec["end_to_end"]}

    out_dir = os.path.join(ROOT, ".bench_work", "results")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}")
    with open(stem + ".json", "w") as fh:
        json.dump({"generate_s": generate_s, "setup_wall_s": setup[0],
                   "warm_samples": len(warm), "unit_samples": len(units),
                   "live_rows": live_rows, "failures": failures, "metrics": metrics,
                   "end_to_end": {k: v[0] for k, v in e2e.items()}, "jvm": r}, fh, indent=1)
    if a.trace:
        shutil.copy(os.path.join(work, "trace.json"), stem + ".trace.json")
    for f in failures[:20]:
        log(f"check failed: {f}")
    log(f"{a.workload}: {len(warm)} warm iterations, {len(units)} units, "
        f"generate {generate_s:.1f}s; samples in {stem}.json")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
