#!/usr/bin/env python3
"""Compare two sets of benchmark outputs, workload by workload.

Usage:
    python3 perfbench/compare.py BASE CHANGE [--benchmark BENCHMARK.json]

BASE and CHANGE are each a directory of result records (the files
perfbench/run.py leaves in <work dir>/results) or a list of such files
separated by commas. Untraced records give the end-to-end metrics,
traced ones the per-layer metrics. Runs pair up by seed, else by order.

For each workload and metric it prints both sides' median and
quartiles, the pairs the change won, and a verdict:
  improved    the change wins at least 9/10 of the pairs and the medians
              differ by more than the base's quartile spread
  worse       the change's median is worse by more than the bound
  unresolved  the base's own spread is wider than the bound, and not
              every change run beats every base run
  unchanged   otherwise
Per-layer metrics have no bound; their verdict column is '-'.
"""
import argparse
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_records(spec):
    if os.path.isdir(spec):
        files = sorted(glob.glob(os.path.join(spec, "*.json")))
    else:
        files = [f for f in spec.split(",") if f]
    out = []
    for f in files:
        with open(f) as fh:
            r = json.load(fh)
        if "workload" in r and "metrics" in r:
            out.append(r)
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def pair_up(a, b):
    """(base, change) value pairs: same seed first, then run order."""
    by_seed = {}
    for seed, v in a:
        by_seed.setdefault(seed, []).append(v)
    pairs, rest_b = [], []
    for seed, v in b:
        if by_seed.get(seed):
            pairs.append((by_seed[seed].pop(0), v))
        else:
            rest_b.append(v)
    rest_a = [v for vs in by_seed.values() for v in vs]
    pairs += list(zip(rest_a, rest_b))
    return pairs


def verdict(a, b, pairs, better, bound):
    """The rule of the benchmark's guide, section 8, with `bound`."""
    sign = 1.0 if better == "lower" else -1.0
    q1a, ma, q3a = quartiles(a)
    _, mb, _ = quartiles(b)
    wins = sum(1 for x, y in pairs if sign * (y - x) < 0)
    if bound is None:
        return "-", wins
    worse_by = sign * (mb - ma) / abs(ma) if ma else 0.0
    all_better = all(sign * (y - x) < 0 for x in a for y in b)
    if pairs and wins >= 0.9 * len(pairs) and sign * (mb - ma) < 0 \
            and abs(mb - ma) > (q3a - q1a):
        return "improved", wins
    if worse_by > bound:
        return "worse", wins
    spread = (q3a - q1a) / abs(ma) if ma else 0.0
    if spread > bound and not all_better:
        return "unresolved", wins
    return "unchanged", wins


def series(records, workload, metric):
    out = []
    for r in records:
        m = r["metrics"].get(metric)
        if r["workload"] == workload and m is not None \
                and m.get("value") is not None and r.get("correct", True):
            out.append((r.get("seed"), float(m["value"])))
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--benchmark",
                    default=os.path.join(os.path.dirname(HERE),
                                         "BENCHMARK.json"))
    args = ap.parse_args()
    with open(args.benchmark) as fh:
        bench = json.load(fh)
    metrics = [(m["name"], m["unit"], m["better"], m.get("bound"))
               for m in bench["end_to_end"]]
    metrics += [(m["name"], m["unit"], m["better"], None)
                for m in bench["per_layer"]]
    base, change = load_records(args.base), load_records(args.change)
    if not base or not change:
        sys.exit("no result records on one side")
    for side, recs in (("base", base), ("change", change)):
        bad = [r for r in recs if not r.get("correct", True)]
        if bad:
            print(f"{side}: {len(bad)} run(s) with failed checks left out")

    hdr = (f"{'workload':<14} {'metric':<34} {'unit':<6} "
           f"{'base median [q1, q3]':<32} {'change median [q1, q3]':<32} "
           f"{'won':>7}  verdict")
    print(hdr)
    print("-" * len(hdr))
    for w in [w["name"] for w in bench["workloads"]]:
        for name, unit, better, bound in metrics:
            a, b = series(base, w, name), series(change, w, name)
            if not a or not b:
                continue
            av, bv = [v for _, v in a], [v for _, v in b]
            pairs = pair_up(a, b)
            v, wins = verdict(av, bv, pairs, better, bound)
            qa, qb = quartiles(av), quartiles(bv)
            fa = f"{qa[1]:.4g} [{qa[0]:.4g}, {qa[2]:.4g}] n={len(av)}"
            fb = f"{qb[1]:.4g} [{qb[0]:.4g}, {qb[2]:.4g}] n={len(bv)}"
            print(f"{w:<14} {name:<34} {unit:<6} {fa:<32} {fb:<32} "
                  f"{wins:>3}/{len(pairs):<3}  {v}")


if __name__ == "__main__":
    main()
