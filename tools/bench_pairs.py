#!/usr/bin/env python3
"""Run the crawl benchmark in alternating pairs on two checkouts and compare.

    python3 tools/bench_pairs.py PARENT_DIR CHANGE_DIR \\
        --workloads polite,mega_wave --seeds 31-40 [--out pairs.jsonl]

For every workload and seed, runs the benchmark command of
PARENT_DIR/BENCHMARK.json (`python3 crawlbench/run.py ... --trace 0`) once
in each checkout, alternating which side runs first. Then, per workload and
end-to-end metric, prints the median and IQR of each side, how many pairs
the change won, and flags `WORSE` where the change's median is worse than
the parent's by more than the metric's bound, `GAIN` where the change won at
least 9 in 10 of the pairs (a tie counts for neither side) and its median is
better than the parent's by more than the parent's IQR (the rule a claimed
gain must meet), and `unresolved` where the parent's own spread
(IQR / median) is wider than the bound. Everything it knows about metrics,
directions and bounds comes from BENCHMARK.json.

It flags `MORE FAILED` when the change's summed failed/attempted share is
above the parent's. It exits 1 on any `WORSE`, on `MORE FAILED`, and when a
pair was dropped because a run failed.

Manifests store absolute paths, so `state_mb` moves with the checkout
path's length; the script warns when the two paths differ in length.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def parse_seeds(text):
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def run_once(bench, cwd, workload, seed):
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    r = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write("run failed (rc %d) in %s: %s\n" % (r.returncode, cwd, r.stderr[-500:]))
        return None
    out = json.loads(lines[-1])
    return {"failed": out["failed"], "attempted": out["attempted"],
            "metrics": {k: v["value"] for k, v in out["metrics"].items()}}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def report(bench, workload, pairs):
    print("== %s: %d pairs" % (workload, len(pairs)))
    print("%-15s %12s %10s %12s %10s %7s %8s" %
          ("metric", "parent", "IQR", "change", "IQR", "wins", "delta"))
    worse = []
    for m in bench["end_to_end"]:
        name, higher = m["name"], m["better"] == "higher"
        ab = [(p["metrics"][name], c["metrics"][name]) for p, c in pairs]
        a, b = [x for x, _ in ab], [y for _, y in ab]
        ma, mb = statistics.median(a), statistics.median(b)
        qa, qb = quartiles(a), quartiles(b)
        wins = sum((y > x) if higher else (y < x) for x, y in ab)
        delta = (mb - ma) / ma if ma else 0.0
        bad = -delta if higher else delta
        gain = (mb - ma if higher else ma - mb) > qa[1] - qa[0]
        flag = ""
        if bad > m["bound"]:
            flag = "  WORSE"
            worse.append(name)
        elif 10 * wins >= 9 * len(ab) and gain:
            flag = "  GAIN"
        elif ma and (qa[1] - qa[0]) / ma > m["bound"]:
            flag = "  unresolved"
        print("%-15s %12.4f %10.4f %12.4f %10.4f %4d/%-2d %+7.1f%%%s" %
              (name, ma, qa[1] - qa[0], mb, qb[1] - qb[0], wins, len(ab), 100 * delta, flag))
    failed = [(p["failed"], c["failed"]) for p, c in pairs]
    print("failed ops (parent, change) per pair: %s" % failed)

    def share(side):
        attempted = sum(pair[side]["attempted"] for pair in pairs)
        return sum(pair[side]["failed"] for pair in pairs) / attempted if attempted else 0.0
    if share(1) > share(0):
        print("failed/attempted parent %.6f change %.6f  MORE FAILED" % (share(0), share(1)))
        worse.append("failed_frac")
    return worse


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 31-40 or 31,33,35")
    ap.add_argument("--out", help="append every run as one JSON line")
    args = ap.parse_args()
    parent, change = os.path.abspath(args.parent), os.path.abspath(args.change)
    if len(parent) != len(change):
        print("warning: checkout paths differ in length (%d vs %d); state_mb will "
              "differ by the manifests' path bytes" % (len(parent), len(change)),
              file=sys.stderr)
    with open(os.path.join(parent, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    out = open(args.out, "a") if args.out else None
    worse = []
    dropped = 0
    for workload in args.workloads.split(","):
        pairs = []
        for i, seed in enumerate(parse_seeds(args.seeds)):
            order = [("parent", parent), ("change", change)]
            if i % 2:
                order.reverse()
            res = {}
            for side, d in order:
                res[side] = run_once(bench, d, workload, seed)
                if out and res[side]:
                    out.write(json.dumps(dict(res[side], side=side, workload=workload,
                                              seed=seed, first=order[0][0])) + "\n")
                    out.flush()
            if res["parent"] and res["change"]:
                pairs.append((res["parent"], res["change"]))
            else:
                print("pair %s seed %d dropped: a run failed" % (workload, seed))
                dropped += 1
        if pairs:
            worse += ["%s.%s" % (workload, n) for n in report(bench, workload, pairs)]
    if out:
        out.close()
    if worse:
        print("worse beyond bound: " + ", ".join(worse))
    if dropped:
        print("%d pair(s) dropped because a run failed" % dropped)
    if worse or dropped:
        sys.exit(1)


if __name__ == "__main__":
    main()
