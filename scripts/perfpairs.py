#!/usr/bin/env python3
"""Paired benchmark runs of two checkouts, alternating which goes first.

Usage (from any directory):

    python3 scripts/perfpairs.py --parent /path/to/parent --change . \\
        --workload llm_pipeline --seeds 11-20 --out /tmp/pairs.jsonl \\
        [--seconds 20] [--report-only]

For each seed it runs `python3 perfbench/run.py --workload W --seed S
--seconds N --trace 0` once in each checkout, one after the other. The
side that runs first alternates from seed to seed, so drift in the
machine's speed over a session falls on both sides alike instead of
showing as a difference between them.

It then prints, for every end-to-end metric the change's BENCHMARK.json
declares: each side's median and quartiles, the change's wins (ties
count for neither), and the verdict:

- `gain`: the change wins at least nine tenths of the pairs and the
  medians differ, in the better direction, by more than the distance
  between the parent's quartiles;
- `worse`: the change's median is worse than the parent's by more than
  the metric's bound (a fraction of the parent's median);
- `unresolved`: neither of the above, but either side's quartile
  spread is wider than the bound, and not every run of the change
  reads better than every run of the parent;
- `within bound`: otherwise.

Each run's result line is appended to `--out` (JSON lines) as it
finishes; `--report-only` prints the table from that file without
running anything.
"""
import argparse
import json
import os
import subprocess
import sys


def parse_seeds(text):
    seeds = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds += range(int(lo), int(hi or lo) + 1)
    return seeds


def run_once(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, text=True)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"perfpairs: run failed in {checkout} "
                         f"(seed {seed}, exit {proc.returncode})")
    return json.loads(lines[-1])


def quartiles(xs):
    s = sorted(xs)
    n = len(s)

    def at(q):  # linear interpolation between closest ranks
        pos = q * (n - 1)
        i = int(pos)
        return s[i] + (s[min(i + 1, n - 1)] - s[i]) * (pos - i)
    return at(0.25), at(0.5), at(0.75)


def verdict(parent, change, lower_is_better, bound):
    """(wins, q_parent, q_change, verdict) for paired samples."""
    sign = 1.0 if lower_is_better else -1.0
    wins = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    qp, qc = quartiles(parent), quartiles(change)
    gap = sign * (qp[1] - qc[1])  # > 0: the change's median is better
    iqr = qp[2] - qp[0]
    spread = max(iqr, qc[2] - qc[0])
    all_better = all(sign * (p - c) > 0 for p in parent for c in change)
    if wins >= 0.9 * len(parent) and gap > iqr:
        v = "gain"
    elif -gap > bound * abs(qp[1]):
        v = "worse"
    elif spread > bound * abs(qp[1]) and not all_better:
        v = "unresolved"
    else:
        v = "within bound"
    return wins, qp, qc, v


def report(rows, spec, workload):
    pairs = {}
    for r in rows:
        if r["workload"] == workload:
            pairs.setdefault(r["seed"], {})[r["side"]] = r["result"]
    seeds = sorted(s for s, p in pairs.items() if len(p) == 2)
    if not seeds:
        print(f"{workload}: no complete pairs")
        return
    print(f"{workload}: {len(seeds)} pairs, seeds {seeds}")
    failed = {side: sum(pairs[s][side]["failed"] for s in seeds)
              for side in ("parent", "change")}
    print(f"  failed: parent {failed['parent']}, change {failed['change']}")
    print(f"  {'metric':<15}{'parent q1/med/q3':>26}{'change q1/med/q3':>26}"
          f"{'ratio':>7}{'wins':>7}  verdict")
    for m in spec["end_to_end"]:
        name = m["name"]
        p = [pairs[s]["parent"]["metrics"][name]["value"] for s in seeds]
        c = [pairs[s]["change"]["metrics"][name]["value"] for s in seeds]
        wins, qp, qc, v = verdict(p, c, m["better"] == "lower", m["bound"])
        ratio = qc[1] / qp[1] if qp[1] else float("nan")
        fmt = "{:.3f}/{:.3f}/{:.3f}"
        print(f"  {name:<15}{fmt.format(*qp):>26}{fmt.format(*qc):>26}"
              f"{ratio:>7.3f}{wins:>4}/{len(seeds):<2}  {v}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 11-20 or 1,3,5-7")
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--out", required=True, help="JSON lines, appended")
    ap.add_argument("--report-only", action="store_true")
    args = ap.parse_args()
    sides = {"parent": os.path.abspath(args.parent),
             "change": os.path.abspath(args.change)}
    with open(os.path.join(sides["change"], "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    if not args.report_only:
        for i, seed in enumerate(parse_seeds(args.seeds)):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                result = run_once(sides[side], args.workload, seed,
                                  args.seconds)
                row = {"workload": args.workload, "seed": seed, "side": side,
                       "first": order[0], "result": result}
                with open(args.out, "a") as fh:
                    fh.write(json.dumps(row) + "\n")
                print(f"[perfpairs] seed {seed} {side}: failed "
                      f"{result['failed']}", file=sys.stderr, flush=True)

    with open(args.out) as fh:
        rows = [json.loads(ln) for ln in fh if ln.strip()]
    report(rows, spec, args.workload)


if __name__ == "__main__":
    main()
