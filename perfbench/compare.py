"""Compare two sets of benchmark runs, or report the spread of one set.

    python3 perfbench/compare.py BASE.jsonl [CHANGE.jsonl]

Each file holds one run record per line, as perfbench/run.py appends them
to .bench_out/runs.jsonl (untraced records are used; traced ones are
skipped). Runs of the two sets are paired by workload and seed.

Per workload and end-to-end metric it prints each set's median and
quartiles, the spread (quartile distance over the median), the share of
pairs the change wins, and a verdict by the rule of the choosing-metrics
guide:
  improved    the change wins at least 9 in 10 pairs and the medians differ
              by more than the base set's own quartile distance;
  no worse    the change's median is not worse than the base's by more
              than the metric's bound;
  worse       it is worse by more than the bound;
  unresolved  the base spread is wider than the bound and not every run of
              the change beats every run of the base.
"""

import json
import statistics
import sys
from collections import defaultdict
from pathlib import Path

SPEC = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
METRICS = {m["name"]: m for m in SPEC["end_to_end"]}


def load(path):
    runs = defaultdict(dict)  # workload -> seed -> e2e
    for line in Path(path).read_text().splitlines():
        if not line.strip():
            continue
        r = json.loads(line)
        if r.get("trace") or r.get("smoke"):
            continue
        runs[r["workload"]][r["seed"]] = r["e2e"]
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def worse_by(m, base, change):
    """Relative change in the bad direction (positive = worse)."""
    d = (change - base) / base
    return d if m["better"] == "lower" else -d


def verdict(m, base, change, pairs):
    b1, bm, b3 = quartiles(base)
    _, cm, _ = quartiles(change)
    spread = (b3 - b1) / bm
    better = (lambda c, b: c < b) if m["better"] == "lower" else (lambda c, b: c > b)
    wins = sum(better(c, b) for b, c in pairs)
    share = wins / len(pairs) if pairs else 0.0
    if share >= 0.9 and better(cm, bm) and abs(cm - bm) > (b3 - b1):
        return "improved", share
    if spread > m["bound"] and not all(better(c, b) for b in base for c in change):
        return "unresolved", share
    return ("no worse" if worse_by(m, bm, cm) <= m["bound"] else "worse"), share


def main(argv):
    if not 2 <= len(argv) <= 3:
        raise SystemExit(__doc__)
    base = load(argv[1])
    change = load(argv[2]) if len(argv) == 3 else None
    for w in sorted(base):
        print(f"== {w}")
        for name, m in METRICS.items():
            xs = [e[name] for e in base[w].values() if e.get(name) is not None]
            if not xs:
                continue
            b1, bm, b3 = quartiles(xs)
            line = (f"  {name:16s} base n={len(xs):2d} median {bm:12.4f} "
                    f"q1 {b1:12.4f} q3 {b3:12.4f} spread {(b3 - b1) / bm:6.3f} "
                    f"(bound {m['bound']}, target < {m['bound'] / 3:.3f})")
            if change is not None and w in change:
                seeds = sorted(set(base[w]) & set(change[w]))
                pairs = [(base[w][s][name], change[w][s][name]) for s in seeds]
                ys = [e[name] for e in change[w].values() if e.get(name) is not None]
                c1, cm, c3 = quartiles(ys)
                v, share = verdict(m, xs, ys, pairs)
                line += (f"\n  {'':16s} change n={len(ys):2d} median {cm:12.4f} "
                         f"q1 {c1:12.4f} q3 {c3:12.4f} worse by {worse_by(m, bm, cm):+.3f} "
                         f"wins {share:.2f} of {len(pairs)} pairs -> {v}")
            print(line)


if __name__ == "__main__":
    main(sys.argv)
