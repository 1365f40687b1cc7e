"""Judgement logic of the benchmark, kept apart from the timing loop.

Given the end-to-end results of a set of runs of a base tree and of a
changed tree (one result per seed, paired by seed), `judge` decides per
metric whether each set is steady, whether the change regressed past the
metric's bound, and whether it is a win: a change wins only if it beats
the base on at least 9 of 10 seed pairs.

    python3 perfbench/judge.py BASE.jsonl NEW.jsonl [BENCHMARK.json]

Each .jsonl file holds the last stdout line of each run (`run.py`), one
line per seed; lines of the two files are paired in order.
"""
import json
import statistics
import sys

WIN_PAIRS = 0.9  # a win must beat the base on 9 of 10 seed pairs


def median(xs):
    return statistics.median(xs)


def quartiles(xs):
    """(Q1, median, Q3) as statistics.quantiles(xs, n=4) gives them."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    """Interquartile distance as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / abs(q2) if q2 else float("inf")


def worse_by(base, new, better):
    """How much worse `new` is than `base`, as a share of `base` (negative
    when it is better)."""
    change = (new - base) / abs(base)
    return change if better == "lower" else -change


def judge(base_runs, new_runs, spec):
    """Per-metric verdict for two paired sets of runs.

    base_runs, new_runs: lists of {metric: value}, index i of both from the
    same seed. spec: the `end_to_end` entries of BENCHMARK.json.
    """
    out = {}
    for m in spec:
        name, better, bound = m["name"], m["better"], m["bound"]
        b = [r[name] for r in base_runs]
        n = [r[name] for r in new_runs]
        pairs = list(zip(b, n))
        wins = sum(worse_by(x, y, better) < 0 for x, y in pairs)
        change = worse_by(median(b), median(n), better)
        checks_spread = name != "setup_s"
        steady = not checks_spread or (spread(b) <= bound and spread(n) <= bound)
        out[name] = {
            "base_median": median(b), "new_median": median(n), "worse_by": change,
            "base_spread": spread(b), "new_spread": spread(n),
            "steady": steady, "regressed": change > bound,
            "wins": wins, "pairs": len(pairs),
            "improved": steady and change < 0 and wins >= WIN_PAIRS * len(pairs),
        }
    return out


def accepted(verdict):
    """A change is accepted when every metric is steady and none regressed."""
    return all(v["steady"] and not v["regressed"] for v in verdict.values())


def _values(path):
    with open(path) as f:
        return [{k: v["value"] for k, v in json.loads(line)["metrics"].items()}
                for line in f if line.strip()]


if __name__ == "__main__":
    if len(sys.argv) not in (3, 4):
        raise SystemExit(__doc__)
    spec_path = sys.argv[3] if len(sys.argv) == 4 else "BENCHMARK.json"
    with open(spec_path) as f:
        spec = json.load(f)["end_to_end"]
    verdict = judge(_values(sys.argv[1]), _values(sys.argv[2]), spec)
    for name, v in verdict.items():
        print(f"{name:14s} base {v['base_median']:.4g} new {v['new_median']:.4g} "
              f"worse_by {v['worse_by']:+.3f} spread {v['base_spread']:.3f}/{v['new_spread']:.3f} "
              f"wins {v['wins']}/{v['pairs']}"
              + (" REGRESSED" if v["regressed"] else "") + ("" if v["steady"] else " UNSTEADY")
              + (" IMPROVED" if v["improved"] else ""))
    print("accepted" if accepted(verdict) else "rejected")
    sys.exit(0 if accepted(verdict) else 1)
