"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py A.jsonl [B.jsonl]

Each line of a run file is one run, as written by perfbench/series.py:
{"workload", "seed", "trace", "correct", "attempted", "failed", "metrics"}.

For every workload x end-to-end metric of BENCHMARK.json it prints each
set's median and quartiles, the quartile spread as a share of the median
against the metric's bound, and, given two sets, the change of the median
and the pair-win fraction of B over A (runs paired by seed, or in order
when the sets share no seed; ties count for neither side). B is called a
gain when it wins at least 0.9 of the pairs and its median lies beyond
A's by more than A's quartile spread. For traced runs it prints the
tracing overhead, traced minus plain `wall_s`, per set. The last line is
the widest quartile spread of any metric as a share of its bound.
"""
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def values(runs, workload, metric, trace=0):
    return [r["metrics"][metric]["value"] for r in runs
            if r["workload"] == workload and r["trace"] == trace and metric in r["metrics"]]


def pairs_of(a_runs, b_runs, workload, metric):
    """(A, B) value pairs: runs with the same seed, or, when the two sets
    share no seed, the i-th run of each.
    """
    def keyed(runs):
        return {r["seed"]: r["metrics"][metric]["value"] for r in runs
                if r["workload"] == workload and r["trace"] == 0 and metric in r["metrics"]}
    a, b = keyed(a_runs), keyed(b_runs)
    common = sorted(set(a) & set(b))
    if common:
        return [(a[s], b[s]) for s in common]
    return list(zip(a.values(), b.values()))


def main():
    spec = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
    sets = [load(p) for p in sys.argv[1:3]]
    names = [os.path.basename(p) for p in sys.argv[1:3]]
    worst = 0.0
    for w in [x["name"] for x in spec["workloads"]]:
        print(f"== {w}")
        for i, runs in enumerate(sets):
            bad = [r for r in runs if r["workload"] == w and not r["correct"]]
            n = len([r for r in runs if r["workload"] == w and r["trace"] == 0])
            nt = len([r for r in runs if r["workload"] == w and r["trace"] == 1])
            print(f"   {names[i]}: {n} runs (+{nt} traced), {len(bad)} not correct, "
                  f"failed ops {sum(r['failed'] for r in runs if r['workload'] == w)}")
        for m in spec["end_to_end"]:
            name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
            row = f"   {name:<16}"
            meds, iqrs = [], []
            for runs in sets:
                xs = values(runs, w, name)
                if not xs:
                    row += "  (no runs)"
                    continue
                q1, q2, q3 = quartiles(xs)
                spread = (q3 - q1) / q2 if q2 else float("inf")
                worst = max(worst, spread / bound)
                ok = "ok" if spread <= bound else "WIDE"
                row += (f"  med {q2:11.4f} [{q1:.4f}, {q3:.4f}] spread {spread:6.1%}"
                        f" / bound {bound:.0%} {ok}")
                meds.append(q2)
                iqrs.append(q3 - q1)
            if len(meds) == 2:
                change = (meds[1] - meds[0]) / meds[0]
                worse = change if lower else -change
                pairs = pairs_of(sets[0], sets[1], w, name)
                wins = sum(1 for x, y in pairs if (y < x if lower else y > x))
                frac = wins / len(pairs) if pairs else 0.0
                gain = frac >= 0.9 and -worse * meds[0] > iqrs[0]
                row += (f"  | B vs A {change:+7.2%} ({'within' if worse <= bound else 'OVER'}"
                        f" bound) pair-wins {wins}/{len(pairs)} = {frac:.2f}"
                        f" {'GAIN' if gain else 'no gain'}")
            print(row)
        for i, runs in enumerate(sets):
            plain, traced = values(runs, w, "wall_s"), values(runs, w, "trace.wall_s", trace=1)
            if plain and traced:
                p, t = statistics.median(plain), statistics.median(traced)
                print(f"   tracing overhead ({names[i]}): {t - p:+.3f} s on wall_s "
                      f"{p:.3f} s ({(t - p) / p:+.1%}), {len(traced)} traced runs")
    print(f"widest spread / bound: {worst:.2f}")


if __name__ == "__main__":
    main()
