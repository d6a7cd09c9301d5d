#!/usr/bin/env python3
"""Spark job census of one benchmark run: jobs and tasks per call site.

    python3 tools/census.py --workload app_trickle --seed 1 --trace 1

Runs `perfbench/run.py` once with a plain (uncompressed) Spark event log
written to a temporary directory outside the checkout, then groups the
log's `SparkListenerJobStart` events by call site (`parquet at
Table.scala:549`, `hasNext at Stream.scala:79`, ...) and its `SparkListenerTaskEnd` events by the job
their stage belongs to. Prints one line per call site, most jobs first,
then the totals; the last stdout line is the same census as one JSON
object. The count covers the whole run: warm-up, untraced and traced
rounds alike (the harness's own layer metrics give the per-round view).
`--keep DIR` copies the event log there for a closer look.
"""
import argparse
import collections
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def event_files(logs):
    """The run's event log files in write order. Spark 4 writes a rolling
    log: a directory `eventlog_v2_<app>` of `events_<n>_<app>` files."""
    found = [os.path.join(d, n) for d, _, names in os.walk(logs)
             for n in names if not n.startswith(("appstatus", "."))]

    def order(p):
        m = re.match(r"events_(\d+)_", os.path.basename(p))
        return (os.path.dirname(p), int(m.group(1)) if m else 0)
    return sorted(found, key=order)


def census(log_paths):
    """(jobs per call site, tasks per call site) from one run's event log.

    A job's call site is the description of the SQL execution it belongs to
    (the user-code call site of the action, which adaptive query stages
    run on a pool thread would otherwise hide), else its last stage's name.
    """
    jobs = collections.Counter()
    tasks = collections.Counter()
    stage_site = {}
    execution_site = {}
    for path in log_paths:
        with open(path) as f:
            for line in filter(str.strip, f):
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind.endswith("SparkListenerSQLExecutionStart"):
                    execution_site[str(ev.get("executionId"))] = ev.get("description")
                elif kind == "SparkListenerJobStart" and ev.get("Stage Infos"):
                    stages = ev["Stage Infos"]
                    execution = (ev.get("Properties") or {}).get("spark.sql.execution.id")
                    site = execution_site.get(execution) or \
                        max(stages, key=lambda s: s["Stage ID"]).get("Stage Name", "?")
                    jobs[site] += 1
                    for s in stages:
                        stage_site[s["Stage ID"]] = site
                elif kind == "SparkListenerTaskEnd":
                    tasks[stage_site.get(ev.get("Stage ID"), "?")] += 1
    return jobs, tasks


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", default="app_trickle")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, default=1, choices=(0, 1))
    ap.add_argument("--keep", help="copy the event log into this directory")
    a = ap.parse_args()
    with tempfile.TemporaryDirectory(prefix="graft-census-") as logs:
        props = ["-Dspark.eventLog.enabled=true",
                 f"-Dspark.eventLog.dir=file://{logs}",
                 "-Dspark.eventLog.compress=false"]
        env = dict(os.environ, JAVA_TOOL_OPTIONS=" ".join(
            [os.environ.get("JAVA_TOOL_OPTIONS", "")] + props).strip())
        cmd = [sys.executable, "perfbench/run.py", "--workload", a.workload,
               "--seed", str(a.seed), "--seconds", str(a.seconds),
               "--trace", str(a.trace)]
        run = subprocess.run(cmd, cwd=ROOT, env=env, capture_output=True, text=True)
        lines = run.stdout.strip().splitlines()
        result = json.loads(lines[-1]) if run.returncode == 0 and lines else None
        found = event_files(logs)
        if not found:
            sys.stderr.write(run.stderr[-4000:])
            raise SystemExit(f"no event log written (run.py exit {run.returncode})")
        if a.keep:
            os.makedirs(a.keep, exist_ok=True)
            for p in found:
                shutil.copy(p, a.keep)
        jobs, tasks = census(found)
    width = max([len(s) for s in jobs] + [9])
    print(f"{'call site':<{width}}  {'jobs':>5}  {'tasks':>6}")
    for site, n in jobs.most_common():
        print(f"{site:<{width}}  {n:>5}  {tasks[site]:>6}")
    print(f"{'total':<{width}}  {sum(jobs.values()):>5}  {sum(tasks.values()):>6}")
    if result is not None:
        print(f"run: correct={result.get('correct')} failed={result.get('failed')}")
    print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                      "jobs": sum(jobs.values()), "tasks": sum(tasks.values()),
                      "correct": None if result is None else result.get("correct"),
                      "sites": {s: {"jobs": n, "tasks": tasks[s]}
                                for s, n in jobs.most_common()}}))


if __name__ == "__main__":
    main()
