"""Checks that client-compiler runs rank items and layers as the default JIT does.

    python3 perfbench/jitcheck.py --seeds 1 2

Benchmark runs use only the client compiler (`-XX:TieredStopAtLevel=1`,
README.md "JIT"). This runs every workload once per seed under it and once
under the JVM's default tiered compilation, reads each timed item's time
from the run's JVM log, and prints per workload: each item's median time
under both, the Spearman rank correlation of the items' times, each
module's share of the timed item time under both, and the c1/default ratio
of `pass_s`. Exits non-zero if a run fails or reports incorrect outputs.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ["landing", "analyst", "iterative"]


def run(workload, seed, jit, seconds):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0", "--jit", jit]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines or not json.loads(lines[-1])["correct"]:
        sys.exit(f"jitcheck: {' '.join(cmd)} failed (exit {r.returncode})")
    res = json.loads(lines[-1])
    # timed items follow the `[perfbench] base ...` line that ends set-up
    times, modules, timed = {}, {}, False
    log = os.path.join(".bench_work", "logs", f"{workload}-{seed}-trace0-{jit}.log")
    for line in open(log):
        f = line.split()
        if line.startswith("[perfbench] base"):
            timed = True
        elif timed and line.startswith("[perfbench] item"):
            times.setdefault(f[2], []).append(float(f[5]) + float(f[7]))
            modules[f[2]] = f[3]
    return res["metrics"]["pass_s"]["value"], times, modules


def ranks(xs):
    order = sorted(range(len(xs)), key=lambda i: xs[i])
    r = [0.0] * len(xs)
    i = 0
    while i < len(order):
        j = i
        while j + 1 < len(order) and xs[order[j + 1]] == xs[order[i]]:
            j += 1
        for k in range(i, j + 1):
            r[order[k]] = (i + j) / 2
        i = j + 1
    return r


def spearman(a, b):
    ra, rb = ranks(a), ranks(b)
    ma, mb = statistics.mean(ra), statistics.mean(rb)
    num = sum((x - ma) * (y - mb) for x, y in zip(ra, rb))
    den = (sum((x - ma) ** 2 for x in ra) * sum((y - mb) ** 2 for y in rb)) ** 0.5
    return num / den if den else float("nan")


def shares(med, modules):
    tot = {}
    for k, v in med.items():
        tot[modules[k]] = tot.get(modules[k], 0.0) + v
    s = sum(tot.values())
    return {m: v / s for m, v in tot.items()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", type=int, nargs="+", default=[1, 2])
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--workloads", nargs="+", default=WORKLOADS, choices=WORKLOADS)
    a = ap.parse_args()
    for w in a.workloads:
        side = {}
        for jit in ("c1", "default"):
            passes, times, modules = [], {}, {}
            for seed in a.seeds:
                p, t, m = run(w, seed, jit, a.seconds)
                passes.append(p)
                modules.update(m)
                for k, v in t.items():
                    times.setdefault(k, []).extend(v)
            side[jit] = (statistics.median(passes),
                         {k: statistics.median(v) for k, v in times.items()}, modules)
        (p1, m1, mods), (p2, m2, _) = side["c1"], side["default"]
        keys = sorted(set(m1) & set(m2), key=lambda k: -m2[k])
        print(f"== {w}: pass_s c1 {p1:.3f} s, default {p2:.3f} s, "
              f"ratio c1/default {p1 / p2:.3f} (base: default)")
        for k in keys:
            print(f"item {k:28s} {mods[k]:10s} c1 {m1[k]:8.3f} s  default {m2[k]:8.3f} s")
        print(f"spearman_items {spearman([m1[k] for k in keys], [m2[k] for k in keys]):.3f} "
              f"over {len(keys)} items")
        s1, s2 = shares(m1, mods), shares(m2, mods)
        for m in sorted(s2, key=lambda m: -s2[m]):
            print(f"module_share {m:10s} c1 {s1.get(m, 0):.3f}  default {s2[m]:.3f}")


if __name__ == "__main__":
    main()
