#!/usr/bin/env python3
"""Compare two bench JSON artifacts (cold + warm per-query maps).

Usage: bench_compare.py A.json B.json [threshold]
Prints totals, geomean warm ratio, and per-query movers beyond the
threshold (default 1.15x) in either direction. Partial artifacts (a
cold-only run, a run that died before its warm pass) compare whatever
both sides carry: a missing total or map is reported, not a crash, and
the per-query section falls back to the cold maps when either side has
no warm map.
"""
import json
import math
import sys


def total(label, key, a, b):
    if key in a and key in b:
        print(f"{label:5s} {a[key]:8.1f} -> {b[key]:8.1f}")
    else:
        print(f"{label:5s} missing in {which(key, a, b)}")


def which(key, a, b):
    return " and ".join(n for n, d in (("A", a), ("B", b)) if key not in d)


def movers(label, wa, wb, thr):
    common = [k for k in wa if k in wb and wa[k] > 0 and wb[k] > 0]
    only_a, only_b = len(set(wa) - set(wb)), len(set(wb) - set(wa))
    if only_a or only_b:
        print(f"{label} queries only in A: {only_a}, only in B: {only_b}")
    if not common:
        print(f"common 0  no {label} query timed on both sides — no geomean")
        return
    rats = [wa[k] / wb[k] for k in common]
    print(f"common {len(common)}  geomean {label} speedup "
          f"{math.exp(sum(math.log(r) for r in rats) / len(rats)):.3f}")
    slower = [(k, wa[k], wb[k]) for k in common
              if wb[k] > wa[k] * thr and wb[k] > 0.5]
    faster = [(k, wa[k], wb[k]) for k in common
              if wa[k] > wb[k] * thr and wa[k] > 0.5]
    print(f"faster >{thr}x ({len(faster)}):")
    for k, x, y in sorted(faster, key=lambda t: -(t[1] - t[2]))[:20]:
        print(f"  {k:32s} {x:6.2f} -> {y:6.2f}")
    print(f"slower >{thr}x ({len(slower)}):")
    for k, x, y in sorted(slower, key=lambda t: -(t[2] - t[1]))[:20]:
        print(f"  {k:32s} {x:6.2f} -> {y:6.2f}")


def main() -> None:
    a = json.load(open(sys.argv[1]))
    b = json.load(open(sys.argv[2]))
    thr = float(sys.argv[3]) if len(sys.argv) > 3 else 1.15
    total("cold", "value", a, b)
    total("warm", "value_warm", a, b)
    for label, key in (("warm", "queries_warm"), ("cold", "queries")):
        if key in a and key in b:
            movers(label, a[key], b[key], thr)
            return
        print(f"no per-query {label} map in {which(key, a, b)}")


if __name__ == '__main__':
    main()
