"""Paired comparison of two checkouts on the benchmark.

    python3 perfbench/compare.py --base ../parent --change . --pairs 10

Runs the benchmark command of `BENCHMARK.json` (read from the change
checkout) in both checkouts, alternating which side runs first, with seed
`i + 1` for pair `i`, `--pairs` pairs per workload. For every workload and
end-to-end metric it reports each side's median and quartiles, the
fraction of pairs the change wins, the change/base ratio with its base,
and a verdict:

- improved: the change wins at least 9/10 of the pairs (ties count for
  neither side) and the medians differ by more than the base's own
  quartile spread;
- no worse: the change median is within the metric's bound of the base
  median;
- unresolved: the base's own spread is wider than the bound, and the
  change does not beat every base run;
- worse: otherwise.

A gain does not count when more items fail on the change than on the base.

Every run's figures are written to `--out` (JSON) as well.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(root, spec, workload, seed):
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", "0"]
    r = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.exit(f"compare: {cmd} failed in {root} (exit {r.returncode})")
    res = json.loads(lines[-1])
    if not res["correct"]:
        sys.exit(f"compare: {cmd} in {root} reported incorrect outputs")
    return {"failed": res["failed"], **{k: v["value"] for k, v in res["metrics"].items()}}


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def verdict(base, change, metric):
    lower = metric["better"] == "lower"
    sign = 1 if lower else -1
    b1, bm, b3 = quartiles(base)
    _, cm, _ = quartiles(change)
    wins = sum(1 for b, c in zip(base, change) if sign * (b - c) > 0)
    win_frac = wins / len(base)
    worse_by = sign * (cm - bm) / bm if bm else 0.0
    spread = (b3 - b1) / bm if bm else 0.0
    beats_all = (max(change) < min(base)) if lower else (min(change) > max(base))
    if win_frac >= 0.9 and abs(cm - bm) > (b3 - b1):
        v = "improved"
    elif spread > metric["bound"] and not beats_all:
        v = "unresolved"
    elif worse_by <= metric["bound"]:
        v = "no worse"
    else:
        v = "worse"
    return v, win_frac


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--base", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--out", default="compare.json")
    a = ap.parse_args()
    if a.pairs < 10:
        sys.exit("compare: at least 10 pairs per workload")
    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = a.workloads or [w["name"] for w in spec["workloads"]]
    record = {}
    for w in workloads:
        runs = {"base": [], "change": []}
        for i in range(a.pairs):
            order = ["base", "change"] if i % 2 == 0 else ["change", "base"]
            for side in order:
                runs[side].append(run_once(getattr(a, side), spec, w, i + 1))
        record[w] = runs
        failed = {side: sum(r["failed"] for r in runs[side]) for side in runs}
        more_failures = failed["change"] > failed["base"]
        print(f"== {w} ({a.pairs} pairs, seeds 1..{a.pairs}; failed items: "
              f"base {failed['base']}, change {failed['change']})")
        for metric in spec["end_to_end"]:
            n = metric["name"]
            base = [r[n] for r in runs["base"]]
            change = [r[n] for r in runs["change"]]
            v, win = verdict(base, change, metric)
            if v == "improved" and more_failures:
                v = "no gain: more items failed than at the base"
            b1, bm, b3 = quartiles(base)
            c1, cm, c3 = quartiles(change)
            u = metric["unit"]
            print(f"{n:20s} base {bm:.4g} {u} [{b1:.4g}, {b3:.4g}]  "
                  f"change {cm:.4g} {u} [{c1:.4g}, {c3:.4g}]  "
                  f"change/base {cm / bm if bm else float('nan'):.3f} (base {bm:.4g} {u})  "
                  f"wins {win:.2f}  {v} (bound {metric['bound']})")
    with open(a.out, "w") as f:
        json.dump(record, f, indent=1)


if __name__ == "__main__":
    main()
