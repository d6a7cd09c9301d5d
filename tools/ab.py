#!/usr/bin/env python3
"""Same-boot A/B of the benchmark: a git rev against this checkout.

    python3 tools/ab.py REV --workload app_trickle --pairs 10

Exports REV's committed files (`git archive`) and this checkout's working
tree (tracked plus untracked, non-ignored files, as `git ls-files -co
--exclude-standard` lists them; uncommitted changes included) into two temp
dirs side by side (under --dir, default /tmp), so both sides build and run
from a fresh copy alike. For seeds first-seed .. first-seed+pairs-1 it runs

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0

(S is BENCHMARK.json's `run_seconds`) once in each export (A = REV, B = the
working tree), alternating which side goes first from pair to pair so drift
on a shared machine hits both sides alike.
Prints, per end-to-end metric, the median of each side, the delta of the
medians, the quartile spread of A, and in how many pairs B was better;
then correctness (every run's `correct` and `failed`) and the lines of
Scala under each export's src/main, so a simplicity change's line count
comes from the same command as its timing. The last stdout line is the
same summary as one JSON object. Each side builds its own engine on its
first run; both exports are removed at the end.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# generous: one run.py run stops its own JVM well before this
RUN_TIMEOUT_S = 900


def git(*args, cwd=ROOT):
    return subprocess.run(["git", *args], cwd=cwd, check=True,
                          capture_output=True, text=True).stdout.strip()


def run_once(checkout, workload, seed, seconds):
    """One run.py run; its result JSON (the last stdout line) or None."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    try:
        p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True,
                           timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        return None
    lines = p.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1]) if p.returncode == 0 and lines else None
    except json.JSONDecodeError:
        return None


def export_rev(sha, dest):
    """REV's committed files, as `git archive` writes them."""
    archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=archive.stdout, check=True)
    if archive.wait() != 0:
        raise SystemExit(f"git archive {sha} failed")


def export_worktree(dest):
    """This checkout's tracked and untracked, non-ignored files as they are
    on disk; a tracked file deleted from the working tree stays absent."""
    listed = subprocess.run(["git", "ls-files", "-co", "--exclude-standard", "-z"],
                            cwd=ROOT, check=True, capture_output=True).stdout
    for rel in filter(None, listed.decode().split("\0")):
        src = os.path.join(ROOT, rel)
        if not os.path.lexists(src):
            continue
        dst = os.path.join(dest, rel)
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copy2(src, dst, follow_symlinks=False)


def scala_lines(checkout):
    """Lines of the *.scala files under src/main, as `wc -l` counts them."""
    n = 0
    for d, _, files in os.walk(os.path.join(checkout, "src", "main")):
        for f in files:
            if f.endswith(".scala"):
                with open(os.path.join(d, f), "rb") as fh:
                    n += fh.read().count(b"\n")
    return n


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def summarize(metrics, runs_a, runs_b):
    """Per metric: medians, delta, A's quartile spread, pairs B won."""
    out = {}
    for name, better in metrics:
        pairs = [(a["metrics"][name]["value"], b["metrics"][name]["value"])
                 for a, b in zip(runs_a, runs_b)
                 if a and b and name in a["metrics"] and name in b["metrics"]]
        if not pairs:
            continue
        xa, xb = [p[0] for p in pairs], [p[1] for p in pairs]
        ma, mb = statistics.median(xa), statistics.median(xb)
        q1, q3 = quartiles(xa)
        wins = sum(1 for a, b in pairs if (b < a if better == "lower" else b > a))
        out[name] = {"a_median": ma, "b_median": mb, "delta": mb - ma,
                     "delta_pct": 100.0 * (mb - ma) / ma if ma else None,
                     "a_iqr": q3 - q1, "b_better_pairs": wins, "pairs": len(pairs)}
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("rev", help="git rev for side A (e.g. HEAD~1, a commit id)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--dir", default="/tmp", help="parent dir of the two exports")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = [(m["name"], m["better"]) for m in bench["end_to_end"]]
    seconds = bench["run_seconds"]
    sha = git("rev-parse", "--verify", a.rev + "^{commit}")
    wt = {"A": tempfile.mkdtemp(prefix=f"ab-{sha[:8]}-", dir=a.dir),
          "B": tempfile.mkdtemp(prefix="ab-worktree-", dir=a.dir)}
    runs_a, runs_b = [], []
    try:
        export_rev(sha, wt["A"])
        export_worktree(wt["B"])
        print(f"A = {a.rev} ({sha[:8]}) in {wt['A']}; B = working tree of {ROOT} "
              f"in {wt['B']}", file=sys.stderr)
        lines = {"a": scala_lines(wt["A"]), "b": scala_lines(wt["B"])}
        for i in range(a.pairs):
            seed = a.first_seed + i
            order = ["A", "B"]
            if i % 2:
                order.reverse()
            got = {}
            for side in order:
                got[side] = run_once(wt[side], a.workload, seed, seconds)
                r = got[side]
                shown = (" ".join(f"{n}={r['metrics'][n]['value']:.3f}"
                                  for n, _ in metrics if n in r["metrics"])
                         if r else "run failed")
                print(f"seed {seed} {side}: {shown}", file=sys.stderr, flush=True)
            runs_a.append(got["A"])
            runs_b.append(got["B"])
    finally:
        for d in wt.values():
            shutil.rmtree(d, ignore_errors=True)

    table = summarize(metrics, runs_a, runs_b)
    print(f"{'metric':<10} {'A median':>10} {'B median':>10} {'delta':>9} "
          f"{'A IQR':>8} {'B better':>9}")
    for name, s in table.items():
        pct = f"{s['delta_pct']:+.1f}%" if s["delta_pct"] is not None else "n/a"
        print(f"{name:<10} {s['a_median']:>10.3f} {s['b_median']:>10.3f} {pct:>9} "
              f"{s['a_iqr']:>8.3f} {s['b_better_pairs']:>5}/{s['pairs']}")
    correct = {}
    for side, runs in (("A", runs_a), ("B", runs_b)):
        ok = [r for r in runs if r]
        correct[side] = {"runs": len(runs), "completed": len(ok),
                         "correct": sum(1 for r in ok if r["correct"]),
                         "failed_ops": sum(r["failed"] for r in ok)}
        c = correct[side]
        print(f"{side}: {c['correct']}/{c['runs']} runs correct, "
              f"{c['failed_ops']} failed ops")
    print(f"src/main Scala lines: A {lines['a']}, B {lines['b']} "
          f"({lines['b'] - lines['a']:+d})")
    print(json.dumps({"a": sha, "workload": a.workload, "seeds":
                      [a.first_seed, a.first_seed + a.pairs - 1],
                      "metrics": table, "correctness": correct,
                      "scala_lines": lines}))
    return 0 if all(c["correct"] == c["runs"] for c in correct.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
