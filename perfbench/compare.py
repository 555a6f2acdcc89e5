"""Compare two sets of benchmark runs, metric by metric.

    python3 perfbench/compare.py BASE.jsonl CHANGE.jsonl [--bench BENCHMARK.json]

Each file holds run records as `perfbench/run.py` appends them to
`.bench_build/results.jsonl`: one JSON object per run with `workload`,
`seed`, `trace` and `metrics`. Untraced runs are compared; runs of the
two sets pair up by workload and seed. For every workload and end-to-end
metric the report gives each set's median and quartiles, the share of
pairs the change wins, and a verdict:

- `better`: the change wins at least nine tenths of the pairs (ties
  count for neither) and the medians differ by more than the base's
  inter-quartile distance;
- `worse`: the change's median is worse than the base's by more than the
  metric's bound;
- `unresolved`: either set's spread (inter-quartile distance over
  median) exceeds the bound, unless every run of one set beats every run
  of the other;
- `same`: none of these.
"""

import argparse
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402


def load(path):
    """{(workload, seed): {metric: value}} of the untraced runs in `path`;
    a later run of the same workload and seed replaces an earlier one."""
    runs = {}
    with open(path) as f:
        for line in f:
            line = line.strip()
            if not line:
                continue
            r = json.loads(line)
            if r.get("trace"):
                continue
            runs[(r["workload"], r["seed"])] = {
                k: v["value"] for k, v in r["metrics"].items()}
    return runs


def summary(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    return stats.quartiles(xs)


def spread(xs):
    return stats.spread(xs) if len(xs) >= 2 else 0.0


def verdict(base, change, pairs, better, bound):
    """The §8 rule over two samples of one metric; `pairs` holds
    (base, change) values of runs with the same seed."""
    def improves(new, old):
        return new < old if better == "lower" else new > old

    b1, bm, b3 = summary(base)
    c1, cm, c3 = summary(change)
    wins = sum(1 for b, c in pairs if improves(c, b))
    share = wins / len(pairs) if pairs else 0.0
    every_better = all(improves(c, b) for c in change for b in base)
    every_worse = all(improves(b, c) for c in change for b in base)
    if spread(base) > bound or spread(change) > bound:
        v = "better" if every_better else "worse" if every_worse else "unresolved"
    elif share >= 0.9 and abs(cm - bm) > (b3 - b1):
        v = "better"
    elif improves(bm, cm) and abs(cm - bm) > bound * abs(bm):
        v = "worse"
    else:
        v = "same"
    return {"base": [b1, bm, b3], "change": [c1, cm, c3],
            "win_share": share, "pairs": len(pairs), "verdict": v}


def compare(base_runs, change_runs, bench):
    out = {}
    for m in bench["end_to_end"]:
        name = m["name"]
        for w in sorted({k[0] for k in base_runs} & {k[0] for k in change_runs}):
            base = [r[name] for (wl, _), r in sorted(base_runs.items()) if wl == w and name in r]
            change = [r[name] for (wl, _), r in sorted(change_runs.items()) if wl == w and name in r]
            if not base or not change:
                continue
            pairs = [(base_runs[k][name], change_runs[k][name])
                     for k in sorted(base_runs) if k[0] == w and k in change_runs
                     and name in base_runs[k] and name in change_runs[k]]
            out.setdefault(w, {})[name] = verdict(base, change, pairs, m["better"], m["bound"])
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("base")
    ap.add_argument("change")
    ap.add_argument("--bench", default=os.path.join(os.path.dirname(HERE), "BENCHMARK.json"))
    a = ap.parse_args()
    with open(a.bench) as f:
        bench = json.load(f)
    report = compare(load(a.base), load(a.change), bench)
    for w, ms in report.items():
        print(f"== {w}")
        for name, r in ms.items():
            b, c = r["base"], r["change"]
            print(f"  {name:<18} base {b[1]:.4g} [{b[0]:.4g}, {b[2]:.4g}]  "
                  f"change {c[1]:.4g} [{c[0]:.4g}, {c[2]:.4g}]  "
                  f"wins {r['win_share']:.0%} of {r['pairs']}  {r['verdict']}")
    print(json.dumps(report))


if __name__ == "__main__":
    main()
