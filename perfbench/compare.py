#!/usr/bin/env python3
"""Compare two sets of benchmark runs, parent and change.

    python3 perfbench/compare.py PARENT_DIR [CHANGE_DIR]

Each directory holds the standard output of runs of
`perfbench/run.py --trace 0`, one file per run (any name). Runs pair up by
workload and seed. For each workload and end-to-end metric the output
gives both sides' median and quartiles, the pairs the change won, and a
verdict:

  better      the change wins at least nine tenths of the pairs (a tie is
              not a win), the medians differ by more than the parent's
              quartile spread, and no more operations failed than at the
              parent;
  worse       the change's median is worse than the parent's by more than
              the metric's bound in BENCHMARK.json;
  unresolved  not worse by the bound, but the parent's own spread is wider
              than the bound and not every change run beats every parent
              run;
  unchanged   otherwise.

With one directory it prints each metric's median, quartiles and spread
(quartile distance over median) beside a third of its bound, the
steadiness target.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_runs(d):
    """{(workload, seed): metrics} from every run output in d."""
    runs = {}
    for name in sorted(os.listdir(d)):
        path = os.path.join(d, name)
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            lines = [l for l in f.read().splitlines() if l.startswith("{")]
        if len(lines) < 2:
            continue
        info = json.loads(lines[-2]).get("info", {})
        res = json.loads(lines[-1])
        key = (info.get("workload", "?"), info.get("seed", name))
        runs[key] = {k: v["value"] for k, v in res["metrics"].items()}
        runs[key]["__correct"] = res["correct"]
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return q1, med, q3


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = [(m["name"], m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]]
    parent = load_runs(sys.argv[1])
    change = load_runs(sys.argv[2]) if len(sys.argv) == 3 else None
    bad = [k for side in (parent, change or {}) for k, v in side.items() if not v["__correct"]]
    if bad:
        print(f"runs with failed checks: {bad}")
    workloads = sorted({w for w, _ in parent})
    if change is None:
        print(f"{'workload':9} {'metric':12} {'n':>3} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>7} {'target':>7}")
        for w in workloads:
            for name, unit, _, bound in metrics:
                xs = [v[name] for (wl, _), v in parent.items() if wl == w and name in v]
                if not xs:
                    continue
                q1, med, q3 = quartiles(xs)
                spread = (q3 - q1) / med if med else float("inf")
                flag = "" if spread < bound / 3 or name == "setup_s" else "  wide"
                print(f"{w:9} {name:12} {len(xs):3} {med:12.4f} {q1:12.4f} {q3:12.4f} "
                      f"{spread:7.3f} {bound / 3:7.3f}{flag}")
        return
    print(f"{'workload':9} {'metric':12} {'parent med [q1, q3]':>34} {'change med [q1, q3]':>34} "
          f"{'won':>6} verdict")
    for w in workloads:
        seeds = sorted(s for (wl, s) in parent if wl == w and (wl, s) in change)
        if not seeds:
            print(f"{w:9} no runs pair up: the two sets share no seed")
        more_failures = (sum(1 - change[(w, s)].get("ok_frac", 1.0) for s in seeds) >
                         sum(1 - parent[(w, s)].get("ok_frac", 1.0) for s in seeds))
        for name, unit, better, bound in metrics:
            p = [parent[(w, s)][name] for s in seeds if name in parent[(w, s)]]
            c = [change[(w, s)][name] for s in seeds if name in change[(w, s)]]
            if not p or len(p) != len(c):
                continue
            sign = 1 if better == "higher" else -1
            pq1, pm, pq3 = quartiles(p)
            cq1, cm, cq3 = quartiles(c)
            wins = sum(1 for a, b in zip(p, c) if (b - a) * sign > 0)
            worse_by = (pm - cm) * sign / pm if pm else 0.0
            all_better = min(x * sign for x in c) > max(x * sign for x in p)
            if wins >= 0.9 * len(p) and (cm - pm) * sign > (pq3 - pq1) and not more_failures:
                verdict = "better"
            elif worse_by > bound:
                verdict = "worse"
            elif pm and (pq3 - pq1) / pm > bound and not all_better:
                verdict = "unresolved"
            else:
                verdict = "unchanged"
            print(f"{w:9} {name:12} {pm:12.4f} [{pq1:9.4f}, {pq3:9.4f}] {cm:12.4f} [{cq1:9.4f}, {cq3:9.4f}] "
                  f"{wins:>2}/{len(p):<3} {verdict}  ({unit}, {better} is better, bound {bound})")


if __name__ == "__main__":
    main()
