#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py BASE CHANGE [--benchmark BENCHMARK.json]

BASE and CHANGE are run records written by perfbench/run.py: JSONL
files, or directories of them. For every workload and end-to-end
metric the tool prints each set's median and quartiles, the spread
(interquartile distance over the median), the median change, and the
pair wins of CHANGE over BASE, pairing runs by seed. A gain is claimed
only when CHANGE wins at least nine tenths of the pairs (ties count
for neither) and the medians differ by more than BASE's interquartile
distance. Per-layer metrics (from runs with --trace 1) are listed as
median deltas.

The exit code is 0 when the two sets agree within the benchmark's
bounds: every end-to-end metric's spread, setup_s's included, is
within the metric's bound in both sets, and no CHANGE median is worse
than the BASE median by more than the bound. Otherwise it is 1.
"""
import argparse
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    files = [path] if os.path.isfile(path) else sorted(
        os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(".jsonl"))
    recs = []
    for f in files:
        with open(f) as fh:
            recs += [json.loads(line) for line in fh if line.strip()]
    return recs


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def by_seed(recs, metric, key):
    out = {}
    for r in recs:
        if metric in r.get(key, {}):
            out.setdefault(r["seed"], []).append(r[key][metric]["value"])
    return {s: statistics.median(v) for s, v in out.items()}


def compare(base, change, bench):
    """Rows of the comparison, and whether the two sets agree."""
    rows, agree = [], True
    workloads = sorted({r["workload"] for r in base} & {r["workload"] for r in change})
    for w in workloads:
        b = [r for r in base if r["workload"] == w and r["trace"] == 0]
        c = [r for r in change if r["workload"] == w and r["trace"] == 0]
        for m in bench["end_to_end"]:
            name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
            bs, cs = by_seed(b, name, "metrics"), by_seed(c, name, "metrics")
            if not bs or not cs:
                continue
            bq, cq = quartiles(list(bs.values())), quartiles(list(cs.values()))
            b_spread = (bq[2] - bq[0]) / bq[1] if bq[1] else 0.0
            c_spread = (cq[2] - cq[0]) / cq[1] if cq[1] else 0.0
            delta = (cq[1] - bq[1]) / bq[1] if bq[1] else 0.0
            worse = delta if lower else -delta
            pairs = [(bs[s], cs[s]) for s in sorted(set(bs) & set(cs))]
            wins = sum(1 for x, y in pairs if (y < x if lower else y > x))
            losses = sum(1 for x, y in pairs if (y > x if lower else y < x))
            gain = (pairs and wins >= 0.9 * len(pairs)
                    and abs(cq[1] - bq[1]) > (bq[2] - bq[0]))
            ok = b_spread <= bound and c_spread <= bound and worse <= bound
            agree = agree and ok
            rows.append({"workload": w, "metric": name, "unit": m["unit"], "bound": bound,
                         "base": bq, "change": cq, "base_spread": b_spread,
                         "change_spread": c_spread, "delta": delta, "pairs": len(pairs),
                         "wins": wins, "losses": losses, "gain": bool(gain), "agree": ok})
        bt = [r for r in base if r["workload"] == w and r["trace"] == 1]
        ct = [r for r in change if r["workload"] == w and r["trace"] == 1]
        for m in bench["per_layer"]:
            bs, cs = by_seed(bt, m["name"], "per_layer"), by_seed(ct, m["name"], "per_layer")
            if bs and cs:
                bm, cm = statistics.median(bs.values()), statistics.median(cs.values())
                rows.append({"workload": w, "metric": m["name"], "unit": m["unit"],
                             "layer": True, "base_median": bm, "change_median": cm,
                             "delta": (cm - bm) / bm if bm else None})
    return rows, agree


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--benchmark", default=os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    ap.add_argument("--json", action="store_true", help="print the rows as JSON")
    args = ap.parse_args()
    with open(args.benchmark) as f:
        bench = json.load(f)
    rows, agree = compare(load(args.base), load(args.change), bench)
    if args.json:
        print(json.dumps({"agree": agree, "rows": rows}, indent=1))
    else:
        for r in rows:
            if r.get("layer"):
                d = "n/a" if r["delta"] is None else f"{100 * r['delta']:+.1f}%"
                print(f"{r['workload']:16} {r['metric']:38} {r['base_median']:>12.4g} -> "
                      f"{r['change_median']:<12.4g} {d} {r['unit']}")
            else:
                print(f"{r['workload']:16} {r['metric']:16} base {r['base'][1]:.4g} "
                      f"[{r['base'][0]:.4g}, {r['base'][2]:.4g}] spread {r['base_spread']:.3f} | "
                      f"change {r['change'][1]:.4g} [{r['change'][0]:.4g}, {r['change'][2]:.4g}] "
                      f"spread {r['change_spread']:.3f} | {100 * r['delta']:+.1f}% "
                      f"wins {r['wins']}/{r['pairs']} bound {r['bound']} "
                      f"{'GAIN ' if r['gain'] else ''}{'ok' if r['agree'] else 'OUT OF BOUNDS'} {r['unit']}")
        print("agree within bounds" if agree else "DISAGREE: outside the benchmark's bounds")
    return 0 if agree else 1


if __name__ == "__main__":
    sys.exit(main())
