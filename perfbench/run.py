#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload per run, outputs checked.

    python3 perfbench/run.py --workload battery --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --self-test

Run from the root of a checkout. The first run compiles the engine from the
checkout's sources together with the harness in perfbench/harness (sbt,
offline); later runs reuse the build while no source changed. Each run
works in its own temp dir under the checkout, removed when it ends. The
battery's warm-pass outputs are settled against their DuckDB oracles by the
repo's own tools/check.py.

The last line of stdout is one JSON object: correct, attempted, failed and
metrics. With --trace 0 the metrics are the end-to-end ones (BENCHMARK.json
"end_to_end"); with --trace 1 the per-layer ones ("per_layer"), and the
spans go to perfbench/out/trace-<workload>-<seed>.jsonl.
"""
import argparse
import fcntl
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
HARNESS = os.path.join(HERE, "harness")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(HARNESS, "target", "scala-2.13", "classes")
ORACLE_CHECK = os.path.join(ROOT, "tools", "check.py")
WORKLOADS = ("battery", "app_trickle")
# Battery fixture scale: half the battery bench's sf0.1 (300k lineitem rows,
# 2.5k documents, 1k embeddings), so warm pass and two timed passes fit a run.
BATTERY_SF = 0.05
# A run's JVM is stopped this long after the build; the oracle check after
# it takes a few seconds, so the whole run stays under three minutes.
RUN_LIMIT_S = 165
# The oracle check must end this long after the JVM's limit.
CHECK_LIMIT_S = 12
START = time.time()
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def heap():
    """Half of physical memory, clamped to 2..8 GiB (the Tier-1 sizing)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def jvm_flags(tmp):
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return opens + [
        f"-Xmx{heap()}",
        "-XX:ReservedCodeCacheSize=512m",
        "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        "-Duser.timezone=UTC",
        f"-Djava.io.tmpdir={tmp}",
        f"-Dderby.system.home={tmp}",
    ]


def source_stamp():
    h = hashlib.sha256()
    files = []
    for base in (ENGINE_SRC, os.path.join(HARNESS, "src")):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    files += [os.path.join(HARNESS, "build.sbt"),
              os.path.join(HARNESS, "project", "build.properties")]
    for p in sorted(files):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + harness unless the last build saw these sources."""
    os.makedirs(os.path.join(HARNESS, "target"), exist_ok=True)
    stamp_file = os.path.join(HARNESS, "target", "perfbench.stamp")
    with open(os.path.join(HARNESS, "target", "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp = source_stamp()
        if os.path.isdir(CLASSES) and os.path.exists(stamp_file):
            with open(stamp_file) as f:
                if f.read() == stamp:
                    return
        log("building engine + harness (sbt compile)")
        env = dict(os.environ, SPARK_HOME=spark_home(), COURSIER_MODE="offline",
                   SBT_OPTS="-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"))
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                           cwd=HARNESS, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=840)
        if r.returncode != 0:
            raise SystemExit(f"harness build failed (sbt exit {r.returncode})")
        with open(stamp_file, "w") as f:
            f.write(stamp)


def spark_home():
    """The Spark install whose jars the engine compiles and runs against."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("no Spark install found: set SPARK_HOME")
    return home


def run_jvm(args, tmp, deadline):
    """Run the harness JVM until it exits or `deadline` passes. The JVM also
    halts itself a little after the deadline, in case this process is killed
    without the chance to stop it."""
    cp = CLASSES + os.pathsep + os.path.join(spark_home(), "jars", "*")
    limit = f"{max(1.0, deadline - time.time()) + 5:.0f}"
    cmd = (["java"] + jvm_flags(tmp) + ["-cp", cp, "graft.perfbench.Main",
                                          "--limit-s", limit] + args)
    proc = subprocess.Popen(cmd, cwd=tmp, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL)
    try:
        return proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        log("run exceeded its time limit; stopping the JVM")
        return -1
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()


def oracle_failures(fx, out_dir, entries, deadline):
    """Entries whose warm-pass output the repo's DuckDB check
    (tools/check.py) does not settle; its report goes to stderr."""
    r = subprocess.run([sys.executable, ORACLE_CHECK, fx, out_dir],
                       capture_output=True, text=True, stdin=subprocess.DEVNULL,
                       timeout=max(5.0, deadline + CHECK_LIMIT_S - time.time()))
    sys.stderr.write(r.stdout + r.stderr)
    bad = {l[5:].split(":", 1)[0].strip() for l in r.stdout.splitlines() if l.startswith("FAIL ")}
    if r.returncode != 0 and not bad:
        bad = set(entries)  # the check itself broke: nothing is settled
    return sorted(bad)


def self_test(tmp, deadline):
    import fixture
    a, b = os.path.join(tmp, "a"), os.path.join(tmp, "b")
    fixture.write(a, 3, 0.001)
    fixture.write(b, 3, 0.001)
    c = fixture.tables(4, 0.001)
    same = all(open(os.path.join(a, n), "rb").read() == open(os.path.join(b, n), "rb").read()
               for n in os.listdir(a))
    d = fixture.tables(3, 0.001)
    differ = all(c[n].num_rows == d[n].num_rows for n in d) and \
        not c["lineitem"].equals(d["lineitem"])
    print(f"{'ok  ' if same else 'FAIL'} the same seed gives byte-identical fixture tables")
    print(f"{'ok  ' if differ else 'FAIL'} another seed gives different tables of the same size")
    rc = run_jvm(["selftest"], tmp, deadline)
    return 0 if same and differ and rc == 0 else 1


def main():
    # a terminated run still stops its JVM and removes its temp dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")
    if not (os.path.isfile(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala"))
            and os.path.isfile(ORACLE_CHECK)):
        log(f"engine sources or {os.path.relpath(ORACLE_CHECK, ROOT)} not found; "
            "run from the root of a full checkout")
        return 2
    build()
    deadline = time.time() + RUN_LIMIT_S
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(tmp)
    sys.path.insert(0, HERE)
    try:
        return self_test(tmp, deadline) if a.self_test else measure(a, tmp, deadline)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass


def measure(a, tmp, deadline):
    fx = os.path.join(tmp, "fixture")
    if a.workload == "battery":
        import fixture
        fixture.write(fx, a.seed, BATTERY_SF)
    out = os.path.join(tmp, "result.json")
    spans = os.path.join(HERE, "out", f"trace-{a.workload}-{a.seed}.jsonl")
    log(f"fixture ready at {time.time() - START:.1f}s")
    spawn = time.time()
    rc = run_jvm(["--workload", a.workload, "--seed", str(a.seed),
                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                  "--fixture", fx, "--tmp", tmp, "--out", out, "--spans", spans],
                 tmp, deadline)
    log(f"harness JVM exited at {time.time() - START:.1f}s")
    if rc != 0 or not os.path.exists(out):
        log(f"harness JVM failed (exit {rc})")
        return 1
    with open(out) as f:
        res = json.load(f)
    failed, notes = res["failed"], list(res["notes"])
    if a.workload == "battery":
        entries = res["dumped"]
        bad = oracle_failures(fx, os.path.join(tmp, "oracle_out"), entries, deadline)
        for k in bad:
            notes.append(f"oracle {k}: output differs from the DuckDB oracle")
            failed += res["passes"]  # every timed op of the entry
        log(f"oracle: {len(entries) - len(bad)}/{len(entries)} entries agree "
            f"at {time.time() - START:.1f}s")
    for n in notes:
        log(n)
    metrics = res["metrics"]
    if not a.trace:
        metrics = dict(setup_s={"value": res["first_op_ms"] / 1000.0 - spawn, "unit": "s"},
                       **metrics)
    print(json.dumps({"correct": failed == 0 and not notes, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
