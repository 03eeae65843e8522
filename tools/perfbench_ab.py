#!/usr/bin/env python3
"""Same-window A/B of the benchmark over two checkouts.

    python3 tools/perfbench_ab.py --a <dir> --b <dir> --workload alert_ingest \
        --seeds 301-310 [--seconds 12] [--trace 0] [--log-dir <dir>]

For each seed it runs `perfbench/run.py` once in each tree (the tree is
the working directory, so each builds and caches its own program), and
alternates which tree goes first: A then B on the first seed, B then A
on the next. Each run's result line is printed as it lands; at the end
it prints, per side and metric, the median and the quartiles (q1..q3,
with the spread q3 - q1 as a share of the median), then the failed and
attempted operations summed over the side's runs, then the median
latency of each op kind over all of the side's ops, read from each
run's stderr line `latencies (s): ltcv ... ; objinfo ...`, so an A/B
of `turn_p50_s` can say which ops moved. A run's stderr goes to
`<log-dir>/<side>_<seed>.log`. Exits 1 if any run gave no result or
reported `correct: false`.
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys
import tempfile


def seeds(spec):
    """'301-310' or '301,305,307' (ranges and single seeds may mix)."""
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def op_latencies(log):
    """{op kind: [seconds]} from a run's `latencies (s): ` stderr line."""
    out = {}
    with open(log) as fh:
        for line in fh:
            m = re.search(r"latencies \(s\): (.*)$", line)
            if not m:
                continue
            for part in m.group(1).split(";"):
                kind, *values = part.split()
                out.setdefault(kind, []).extend(float(v) for v in values)
    return out


def run(tree, side, seed, args):
    """One benchmark run in `tree`; returns its parsed result line, with
    the run's op latencies under "op_latencies", or None."""
    log = os.path.join(args.log_dir, f"{side}_{seed}.log")
    cmd = [sys.executable, "perfbench/run.py", "--workload", args.workload,
           "--seed", str(seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace)]
    with open(log, "w") as err:
        proc = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE,
                              stderr=err, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        r = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    except json.JSONDecodeError:
        return None
    if r is not None:
        r["op_latencies"] = op_latencies(log)
    return r


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--a", required=True, help="checkout A (the baseline)")
    ap.add_argument("--b", required=True, help="checkout B (the change)")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 301-310")
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--log-dir", default=None)
    args = ap.parse_args()
    args.log_dir = args.log_dir or tempfile.mkdtemp(prefix="perfbench_ab_")
    os.makedirs(args.log_dir, exist_ok=True)
    trees = {"A": os.path.abspath(args.a), "B": os.path.abspath(args.b)}
    print(f"# {args.workload}: A={trees['A']} B={trees['B']} logs={args.log_dir}",
          flush=True)

    runs = seeds(args.seeds)
    results = {"A": [], "B": []}
    bad = 0
    for i, seed in enumerate(runs):
        for side in ("A", "B") if i % 2 == 0 else ("B", "A"):
            r = run(trees[side], side, seed, args)
            if r is None or r.get("correct") is not True:
                bad += 1
            if r is None:
                print(f"{side} seed={seed} NO RESULT (see {args.log_dir}/{side}_{seed}.log)",
                      flush=True)
                continue
            results[side].append(r)
            ms = " ".join(f"{k}={v['value']:.6g}" for k, v in r["metrics"].items())
            print(f"{side} seed={seed} correct={r['correct']} "
                  f"failed={r['failed']}/{r['attempted']} {ms}", flush=True)

    print(f"\n# summary over {len(runs)} seeds "
          "(median, q1..q3, (q3-q1)/median)")
    for side in ("A", "B"):
        rs = results[side]
        failed = sum(int(r["failed"]) for r in rs)
        attempted = sum(int(r["attempted"]) for r in rs)
        print(f"{side}: {len(rs)} runs, failed/attempted ops {failed}/{attempted}")
        names = [k for r in rs for k in r["metrics"]]
        for name in dict.fromkeys(names):
            xs = [r["metrics"][name]["value"] for r in rs if name in r["metrics"]]
            q1, med, q3 = quartiles(xs)
            spread = (q3 - q1) / abs(med) if med else float("nan")
            print(f"  {name:<40} median {med:<12.6g} q1..q3 {q1:.6g}..{q3:.6g}"
                  f"  spread {spread:.3f}")
        lat = {}
        for r in rs:
            for kind, xs in r["op_latencies"].items():
                lat.setdefault(kind, []).extend(xs)
        for kind, xs in lat.items():
            if xs:
                print(f"  op {kind:<37} median {statistics.median(xs):<12.6g} "
                      f"over {len(xs)} ops")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
