#!/usr/bin/env python3
"""Per-step breakdown of a traced perfbench run.

A ``--trace 1`` run of ``perfbench/run.py`` records every Spark job, the span
(benchmark step) that triggered it, and every stage's task metrics in
``.bench_work/results/<workload>-seed<n>-trace1.trace.json``. This prints, for
each traced iteration, one row per step (the spans directly under the
iteration: ``run.step.*`` on daily_pipeline, ``run.stream.*`` on stream_scd2,
``x.*`` on operator_mix) with its wall time, its Spark jobs, their summed wall
time, task CPU and input records:

    python3 dev/trace_steps.py                      # newest trace under .bench_work/results
    python3 dev/trace_steps.py path/to/x.trace.json
    python3 dev/trace_steps.py --jobs               # also one line per job

Input records are the tasks' ``recordsRead``: rows read from files and from
cached or locally checkpointed blocks alike. A job's wall time runs from its
start to its end event; concurrent jobs each count in full.
"""
import argparse
import glob
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def newest_trace():
    found = glob.glob(os.path.join(ROOT, ".bench_work", "results", "*.trace.json"))
    if not found:
        sys.exit("trace_steps: no .bench_work/results/*.trace.json; "
                 "run perfbench/run.py with --trace 1 first")
    return max(found, key=os.path.getmtime)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("trace", nargs="?", help="a perfbench .trace.json (default: the newest)")
    ap.add_argument("--jobs", action="store_true", help="also print every job of every step")
    a = ap.parse_args()
    path = a.trace or newest_trace()
    with open(path) as fh:
        t = json.load(fh)

    spans = {s["id"]: s for s in t["spans"]}

    def step_of(span_id):
        """The span directly under the iteration root that `span_id` lies in."""
        s = spans.get(span_id)
        while s is not None and s["parent"] >= 0 and spans[s["parent"]]["parent"] >= 0:
            s = spans[s["parent"]]
        return s if s is not None and s["parent"] >= 0 else None

    per_job = {}
    for st in t["stages"]:
        j = per_job.setdefault(st["job"], {"cpu": 0.0, "records": 0, "shuffle": 0})
        j["cpu"] += st["task_cpu_s"]
        j["records"] += st["records_in"]
        j["shuffle"] += st["shuffle_write_bytes"]

    steps = {}
    for job in sorted(t["jobs"], key=lambda j: j["id"]):
        step = step_of(job["span"])
        if step is None:
            continue
        m = per_job.get(job["id"], {"cpu": 0.0, "records": 0, "shuffle": 0})
        steps.setdefault(step["id"], []).append((job, m))

    print(f"# {os.path.relpath(path)}")
    header = f"{'iter':>4}  {'step':<32} {'wall_s':>7} {'jobs':>5} {'job_wall_s':>10} {'task_cpu_s':>10} {'records_in':>11}"
    print(header)
    for it in sorted({spans[sid]["iter"] for sid in steps}):
        tot = [0.0, 0, 0.0, 0.0, 0]
        for sid in sorted(s for s in steps if spans[s]["iter"] == it):
            s, js = spans[sid], steps[sid]
            wall = sum(j["end_ms"] - j["start_ms"] for j, _ in js) / 1e3
            cpu = sum(m["cpu"] for _, m in js)
            rec = sum(m["records"] for _, m in js)
            print(f"{it:>4}  {s['name']:<32} {s['seconds']:>7.2f} {len(js):>5} {wall:>10.2f} {cpu:>10.2f} {rec:>11,}")
            for i, v in enumerate((s["seconds"], len(js), wall, cpu, rec)):
                tot[i] += v
            if a.jobs:
                for j, m in js:
                    print(f"{'':>6}job {j['id']:<6} {j['module']:<10} "
                          f"{(j['end_ms'] - j['start_ms']) / 1e3:>8.3f} s {m['cpu']:>8.3f} cpu-s "
                          f"{m['records']:>9,} records {m['shuffle']:>11,} B shuffled")
        print(f"{it:>4}  {'(all steps)':<32} {tot[0]:>7.2f} {tot[1]:>5} {tot[2]:>10.2f} {tot[3]:>10.2f} {tot[4]:>11,}")


if __name__ == "__main__":
    main()
