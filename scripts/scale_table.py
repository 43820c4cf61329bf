#!/usr/bin/env python3
"""Render the 100x extrapolation table for ARCHITECTURE.md from
bench_full.json (sf0.1 = 1x) + bench_scale10.json (10x).

For each 10x flagship: measured walls at both scales, the implied
scaling exponent e = log10(t10 / t1) (e = 1 is perfectly linear), the
10x max-task shuffle, and its 100x linear extrapolation.

r16 (VERDICT r15 #6): the 10x lane emits {cold, warm} walls — cold
pays the registry/model rebuild (which grows with data and inflated
q242/q256/q259's exponents to 1.3-1.5), warm is the steady-state a
long-lived session pays. The 1x twin (bench_full medians) is itself a
warm steady-state number, so the EXPONENT uses the warm 10x wall —
warm-vs-warm is the data-proportional pair; the cold wall is printed
beside it so the build cost stays visible.

r16 (VERDICT r15 #5): q267's 1x twin prefers the data-proportional
5k-image synthetic lane (sec_1x_syn) over the 32-image oracle fixture.

Basis: bench_full.json's medians time the noop write
("basis":"noop"), while bench_scale10.json's walls (and the sec_1x
twins it recorded) still time count() until the next 10x reseat; a
1x twin read from bench_full.json is on the noop basis.

Usage:
  python3 scripts/scale_table.py
"""
import json, math, sys

full = json.load(open("bench_full.json"))
s10 = json.load(open("bench_scale10.json"))
q1 = full["queries"]
rows = []
for name, r in sorted(s10["queries"].items()):
    base = name.replace("_10x", "")
    t1 = r.get("sec_1x_syn")
    if t1 is None or t1 <= 0:
        t1 = r.get("sec_1x", q1.get(base, -1.0))
    if t1 is None or t1 <= 0:
        t1 = q1.get(base, -1.0)
    t10c = r["sec"]
    t10w = r.get("sec_warm", t10c)
    mb = r["max_task_shuffle_mb"]
    exp = math.log10(t10w / t1) if t1 and t1 > 0 and t10w > 0 else float("nan")
    rows.append((name, t1, t10c, t10w, exp, mb, mb * 10))
print("| query | 1x wall s | 10x cold s | 10x warm s | exponent (warm) | 10x max-task MB | ~100x max-task MB |")
print("|---|---|---|---|---|---|---|")
for name, t1, t10c, t10w, exp, mb, mb100 in rows:
    t1s = f"{t1:.2f}" if t1 > 0 else "n/a"
    es = f"{exp:.2f}" if not math.isnan(exp) else "n/a"
    print(f"| {name} | {t1s} | {t10c:.1f} | {t10w:.1f} | {es} | {mb:.1f} | {mb100:.0f} |")
