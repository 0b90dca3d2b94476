#!/usr/bin/env python3
"""Alternating A/B pairs of the replication benchmark over two checkouts.

    python3 tools/ab_pairs.py PARENT_DIR CHANGE_DIR --workload tail \
        --seeds 601-610 [--seconds 20] [--out pairs.jsonl]

Each directory is a full checkout (make one with
`git archive <rev> | tar -x -C DIR`). Both sides are built first, so no
timed run shares the machine with a build. Then, for every seed, the
two sides run `replbench/run.py --workload W --seed S --seconds N
--trace 0` one after the other, from their own directory, and the side
that goes first alternates from seed to seed.

For every end-to-end metric of BENCHMARK.json (read from the first
directory) it prints each side's median and quartiles, the change of
the median, and in how many pairs the second side was better. It also
prints each side's failed-operation share. --out keeps every run's
JSON result, one line per run.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def build(side):
    # replbench's classpath() builds the checkout, or reuses its cached build
    code = "import sys; sys.path.insert(0, 'replbench'); import run; run.classpath()"
    subprocess.run([sys.executable, "-c", code], cwd=side, check=True)


def run(side, workload, seed, seconds):
    p = subprocess.run(
        [sys.executable, "replbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=side, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("a", help="the reference checkout (the parent)")
    ap.add_argument("b", help="the checkout under test (the change)")
    ap.add_argument("--workload", required=True, choices=["tail", "queries"])
    ap.add_argument("--seeds", required=True, help="e.g. 601-610 or 1,5,9")
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--out", help="append every run's JSON result here")
    a = ap.parse_args()
    sides = [os.path.abspath(a.a), os.path.abspath(a.b)]
    with open(os.path.join(sides[0], "BENCHMARK.json")) as f:
        spec = json.load(f)

    for side in sides:
        build(side)
    results = {0: [], 1: []}
    for k, seed in enumerate(seeds(a.seeds)):
        order = (0, 1) if k % 2 == 0 else (1, 0)
        for i in order:
            r = run(sides[i], a.workload, seed, a.seconds)
            results[i].append(r)
            if a.out:
                with open(a.out, "a") as f:
                    f.write(json.dumps({"side": "ab"[i], "dir": sides[i], "seed": seed,
                                        "workload": a.workload, "result": r}) + "\n")
            status = "crashed" if r is None else \
                f"p50 {r['metrics'].get('latency_p50_ms', {}).get('value', float('nan')):.1f}"
            print(f"seed {seed} side {'ab'[i]}: {status}", file=sys.stderr)

    pairs = [(x, y) for x, y in zip(results[0], results[1]) if x and y]
    print(f"{a.workload}: {len(pairs)} complete pairs of {len(results[0])}")
    print(f"{'metric':20s} {'A median (q1-q3)':>26s} {'B median (q1-q3)':>26s} "
          f"{'change':>8s} {'B wins':>7s}")
    for m in spec["end_to_end"]:
        name = m["name"]
        xs = [x["metrics"][name]["value"] for x, _ in pairs]
        ys = [y["metrics"][name]["value"] for _, y in pairs]
        if not xs:
            continue
        lower = m["better"] == "lower"
        wins = sum(1 for x, y in zip(xs, ys) if (y < x if lower else y > x))
        qa, qb = quartiles(xs), quartiles(ys)
        change = (qb[1] - qa[1]) / qa[1] * 100 if qa[1] else float("nan")
        cell = [f"{q[1]:.1f} ({q[0]:.1f}-{q[2]:.1f})" for q in (qa, qb)]
        print(f"{name:20s} {cell[0]:>26s} {cell[1]:>26s} {change:+7.1f}% "
              f"{wins:5d}/{len(pairs)}")
    for i in (0, 1):
        done = [r for r in results[i] if r]
        attempted = sum(r["attempted"] for r in done)
        failed = sum(r["failed"] for r in done)
        crashed = len(results[i]) - len(done)
        share = failed / attempted if attempted else float("nan")
        print(f"side {'ab'[i]}: failed {failed}/{attempted} ({share:.4f}), "
              f"crashed runs {crashed}, incorrect runs {sum(1 for r in done if not r['correct'])}")


if __name__ == "__main__":
    main()
