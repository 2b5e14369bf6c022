#!/usr/bin/env python3
"""Names, per workload, which metrics moved between two benchmark records.

A record is a JSON-lines file written by ``run.py --record FILE``: one line
per run, each with its workload, seed, and metrics. Typically both records
hold several traced runs (``--trace 1``) of each workload, one record per
commit:

    for s in 1 2 3 4 5; do
      python3 graftbench/run.py --workload corpus_curate --seed $s --seconds 20 \\
          --trace 1 --record before.jsonl
    done
    ... check out the other commit, repeat with --record after.jsonl ...
    python3 graftbench/layerdiff.py before.jsonl after.jsonl

A metric "moved" when the distance between the two medians exceeds the
run-to-run spread of both records, taken as the distance between the first
and third quartile of each side's runs. With fewer than three runs on a side
there is no spread to speak of, and every difference is listed as unresolved.
"""
import argparse
import json
import statistics
import sys
from collections import defaultdict


def load(path):
    runs = defaultdict(list)
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                r = json.loads(line)
                runs[r["workload"]].append(r)
    return runs


def spread(xs):
    if len(xs) < 3:
        return None
    q = statistics.quantiles(xs, n=4)
    return q[2] - q[0]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("before")
    ap.add_argument("after")
    a = ap.parse_args()
    before, after = load(a.before), load(a.after)
    for wl in sorted(set(before) & set(after)):
        rows = []
        names = set()
        for r in before[wl] + after[wl]:
            names |= set(r["metrics"])
        for name in sorted(names):
            xa = [r["metrics"][name]["value"] for r in before[wl]
                  if name in r["metrics"] and r["metrics"][name]["value"] is not None]
            xb = [r["metrics"][name]["value"] for r in after[wl]
                  if name in r["metrics"] and r["metrics"][name]["value"] is not None]
            if not xa or not xb:
                continue
            ma, mb = statistics.median(xa), statistics.median(xb)
            if ma == mb:
                continue
            sa, sb = spread(xa), spread(xb)
            unit = (before[wl][0]["metrics"].get(name) or after[wl][0]["metrics"][name])["unit"]
            rel = (mb - ma) / abs(ma) if ma else float("inf")
            if sa is None or sb is None:
                verdict = "unresolved"
            elif abs(mb - ma) > max(sa, sb):
                verdict = "moved"
            else:
                continue
            rows.append((verdict, name, ma, mb, rel, unit))
        print(f"== {wl}: {len(before[wl])} runs before, {len(after[wl])} after")
        if not rows:
            print("   nothing moved beyond its run-to-run spread")
        for verdict, name, ma, mb, rel, unit in sorted(rows, key=lambda r: (r[0], -abs(r[4]))):
            print(f"   {verdict:10s} {name:60s} {ma:14.6g} -> {mb:14.6g} {unit:8s} ({rel:+.1%})")
    missing = set(before) ^ set(after)
    if missing:
        print(f"(workloads in only one record: {', '.join(sorted(missing))})", file=sys.stderr)


if __name__ == "__main__":
    main()
