#!/usr/bin/env python3
"""Alternating parent/change pairs of one benchmark workload.

    tools/perfbench_pairs.py REV_A REV_B --workload W --pairs N \
        [--seed S] [--seconds 15] [--workdir DIR] [--out runs.json]

REV_A is the base (the parent), REV_B the change; any git revision works.
Both are exported with `git archive` into fresh directories, and each pair
runs `python3 perfbench/run.py --workload W --seed S+i --seconds …` once in
each, both sides on the same seed, the side that goes first alternating
from pair to pair. Each checkout builds itself on its first run
(perfbench/run.py does that). The benchmark files themselves are only
read: metric names, directions and bounds come from REV_B's BENCHMARK.json.

Per end-to-end metric it prints each side's median and quartiles, the
pairs the change won (ties count for neither side), and a verdict:
  gain          the change won at least 9/10 of the pairs and the medians
                differ, in the better direction, by more than the
                distance between the base's quartiles;
  regression    the change's median is worse than the base's by more than
                the metric's bound;
  unresolved    either side's quartile spread exceeds the bound over its
                median, unless every change run beats every base run;
  within bound  otherwise.
Every run's correct / attempted / failed is printed too; a run that fails,
reports `correct: false` or counts a failed operation makes the script
exit 1 and keeps the checkouts and run logs.
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


def export(rev, dest):
    os.makedirs(dest)
    archive = subprocess.run(["git", "-C", ROOT, "archive", rev],
                             check=True, stdout=subprocess.PIPE).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)


def run(checkout, args, seed, log):
    cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload,
           "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"]
    with open(log, "w") as err:
        p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=err, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        return None
    return json.loads(lines[-1])


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def verdict(a, b, better, bound):
    sign = 1 if better == "higher" else -1
    wins = sum(1 for x, y in zip(a, b) if sign * (y - x) > 0)
    (a1, am, a3), (b1, bm, b3) = quartiles(a), quartiles(b)
    if wins >= 0.9 * len(a) and sign * (bm - am) > a3 - a1:
        v = "gain"
    elif sign * (bm - am) < -bound * abs(am):
        v = "regression"
    elif ((a3 - a1) > bound * abs(am) or (b3 - b1) > bound * abs(bm)) and not all(
            sign * (y - x) > 0 for x in a for y in b):
        v = "unresolved"
    else:
        v = "within bound"
    return wins, v


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("rev_a")
    ap.add_argument("rev_b")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed", type=int, default=1, help="seed of the first pair")
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--workdir", help="where the checkouts go (default: a temp dir)")
    ap.add_argument("--out", help="write every run's result here as JSON")
    args = ap.parse_args()

    work = tempfile.mkdtemp(prefix="perfbench-pairs-", dir=args.workdir)
    sides = {"A": os.path.join(work, "a"), "B": os.path.join(work, "b")}
    export(args.rev_a, sides["A"])
    export(args.rev_b, sides["B"])
    with open(os.path.join(sides["B"], "BENCHMARK.json")) as f:
        spec = json.load(f)

    runs = {"A": [], "B": []}
    ok = True
    try:
        for i in range(args.pairs):
            seed = args.seed + i
            for side in ("AB" if i % 2 == 0 else "BA"):
                res = run(sides[side], args, seed, os.path.join(work, f"{side}-{i}.log"))
                runs[side].append(res)
                if res is None:
                    ok = False
                    print(f"pair {i} seed {seed} {side}: run failed, see {work}/{side}-{i}.log")
                    continue
                ok = ok and res["correct"] and res["failed"] == 0
                e2e = " ".join(f"{k}={v['value']:.4g}" for k, v in sorted(res["metrics"].items()))
                print(f"pair {i} seed {seed} {side}: correct={res['correct']} "
                      f"attempted={res['attempted']} failed={res['failed']} {e2e}", flush=True)
    finally:
        if args.out:
            with open(args.out, "w") as f:
                json.dump({"rev_a": args.rev_a, "rev_b": args.rev_b, "workload": args.workload,
                           "seed": args.seed, "seconds": args.seconds, "runs": runs}, f)

    done = [i for i in range(len(runs["A"])) if i < len(runs["B"]) and runs["A"][i] and runs["B"][i]]
    print(f"\n{args.workload}: {len(done)} complete pairs, {args.rev_a} (A) -> {args.rev_b} (B)")
    print(f"{'metric':12s} {'A q1 / median / q3':>30s} {'B q1 / median / q3':>30s}  wins  verdict")
    for m in spec["end_to_end"]:
        name = m["name"]
        a = [runs["A"][i]["metrics"][name]["value"] for i in done]
        b = [runs["B"][i]["metrics"][name]["value"] for i in done]
        if not a:
            continue
        wins, v = verdict(a, b, m["better"], m["bound"])
        fmt = lambda q: " / ".join(f"{x:.4g}" for x in q)
        print(f"{name:12s} {fmt(quartiles(a)):>30s} {fmt(quartiles(b)):>30s}  "
              f"{wins:2d}/{len(done):<2d} {v}")
    if ok:
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(0 if ok and len(done) == args.pairs else 1)


if __name__ == "__main__":
    main()
