#!/usr/bin/env python3
"""Same-session A/B of two commits on one perfbench workload.

    python3 tools/ab_bench.py <parent-rev> <change-rev> --workload ingest --pairs 10 --seed0 21

Each rev is `git archive`d into its own temporary tree (the fixture in this
checkout's `.bench_build/data`, with its stamp, is copied in when present, so
neither side regenerates it) and built once. Pair i runs
`perfbench/run.py --workload W --seed <seed0 + i> --seconds 10 --trace 0` on
both trees, alternating which side runs first. For every end-to-end metric of
BENCHMARK.json the script prints each side's median and quartiles, the
relative change of the medians, the number of pairs the change wins, whether
the change stays within the metric's bound, and whether a gain is
established: at least 10 pairs ran, the change wins at least 9 of every 10 of
them, and its median is better than the parent's by more than the parent's
interquartile range.

Exit status: 1 when any run reports failed ops or does not finish, else 0.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def archive(rev, dest):
    """Extract the committed files of `rev` into `dest`."""
    os.makedirs(dest)
    git = subprocess.Popen(["git", "-C", ROOT, "archive", rev], stdout=subprocess.PIPE)
    subprocess.run(["tar", "-x", "-C", dest], stdin=git.stdout, check=True)
    git.stdout.close()
    if git.wait() != 0:
        raise SystemExit(f"ab_bench: git archive {rev} failed")
    data = os.path.join(ROOT, ".bench_build", "data")
    if os.path.isdir(data):
        shutil.copytree(data, os.path.join(dest, ".bench_build", "data"), symlinks=True)
    r = subprocess.run([sys.executable, os.path.join("perfbench", "build.py")], cwd=dest,
                       stdout=subprocess.DEVNULL)
    if r.returncode != 0:
        raise SystemExit(f"ab_bench: build of {rev} failed")


def run(tree, workload, seed):
    """One benchmark run; returns its result object, or None if it did not finish."""
    r = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"),
                        "--workload", workload, "--seed", str(seed),
                        "--seconds", "10", "--trace", "0"],
                       cwd=tree, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stderr[-2000:])
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("parent")
    p.add_argument("change")
    p.add_argument("--workload", required=True)
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("--seed0", type=int, default=1)
    a = p.parse_args()

    work = tempfile.mkdtemp(prefix="ab-bench-")
    trees = {"parent": os.path.join(work, "parent"), "change": os.path.join(work, "change")}
    try:
        archive(a.parent, trees["parent"])
        archive(a.change, trees["change"])
        with open(os.path.join(trees["parent"], "BENCHMARK.json")) as f:
            metrics = json.load(f)["end_to_end"]
        values = {side: {m["name"]: {} for m in metrics} for side in trees}
        bad = 0
        for i in range(a.pairs):
            seed = a.seed0 + i
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                res = run(trees[side], a.workload, seed)
                if res is None or res["failed"] > 0 or not res["correct"]:
                    bad += 1
                    print(f"pair {i} seed {seed} {side}: "
                          + ("did not finish" if res is None else
                             f"failed {res['failed']} of {res['attempted']}, correct {res['correct']}"),
                          flush=True)
                    continue
                for m in metrics:
                    values[side][m["name"]][i] = res["metrics"][m["name"]]["value"]
                print(f"pair {i} seed {seed} {side}: " + ", ".join(
                    f"{m['name']}={res['metrics'][m['name']]['value']:.4g}" for m in metrics),
                    flush=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(f"\n{a.workload}: {a.parent} -> {a.change}, {a.pairs} pairs, seeds "
          f"{a.seed0}..{a.seed0 + a.pairs - 1}")
    print(f"{'metric':<14} {'parent median [q1, q3]':>30} {'change median [q1, q3]':>30}"
          f" {'delta':>8} {'wins':>6} {'bound':>6} {'gain':>5}")
    for m in metrics:
        k, lower = m["name"], m["better"] == "lower"
        pv, cv = values["parent"][k], values["change"][k]
        if not pv or not cv:
            print(f"{k:<14} no complete runs")
            continue
        pq, cq = quartiles(list(pv.values())), quartiles(list(cv.values()))
        pairs = [(pv[i], cv[i]) for i in sorted(pv) if i in cv]
        wins = sum(1 for x, y in pairs if (y < x if lower else y > x))
        gap = (pq[1] - cq[1]) if lower else (cq[1] - pq[1])
        rel = (cq[1] - pq[1]) / pq[1] if pq[1] else float("nan")
        worse = rel if lower else -rel
        within = "ok" if worse <= m["bound"] else "OVER"
        gain = (len(pairs) >= 10 and wins >= math.ceil(0.9 * len(pairs))
                and gap > pq[2] - pq[0])
        side = [f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]" for q in (pq, cq)]
        print(f"{k:<14} {side[0]:>30} {side[1]:>30} {100 * rel:>+7.1f}%"
              f" {wins:>2}/{len(pairs):<3} {within:>6} {'yes' if gain else 'no':>5}")
    if bad:
        print(f"{bad} run(s) failed or reported failed ops")
        sys.exit(1)


if __name__ == "__main__":
    main()
