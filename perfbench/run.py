"""Whole-result benchmark of the graft engine: one command, every metric.

    python3 perfbench/run.py --workload analyst --seed 1 --seconds 10 --trace 0

Builds the program and the harness (perfbench/build.py), generates the
inputs (perfbench/gen.py), runs one workload in one JVM and prints one
`metric <name> <value> <unit>` line per metric, then as the last line one
JSON object: {"correct", "attempted", "failed", "metrics"}. `--trace 0`
reports the end-to-end metrics, `--trace 1` the per-layer ones from a
traced run. Outputs are checked against stored digests and the landing
generator's own totals; `correct` is false on any mismatch.

Everything is written under `.bench_work/` in the current directory; the
JVM log of each run (with one `[perfbench] item` line per item) and the
span trace of a traced run are kept in `.bench_work/logs/`.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True
BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import build  # noqa: E402
import gen  # noqa: E402

# Tables are generated once per (sf, seed) and shared by all runs; the
# workload seed drives the landing days and the item order only, so the
# stored digests hold for every seed. `passes` is the least number of timed
# passes: `landing` takes the median of three, because a single pass of its
# HTTP, copy and write items swung by a quarter between seeds.
DATA_SEED = 42
WORKLOADS = {
    "analyst": {"sf": 0.1, "passes": 1},
    "iterative": {"sf": 0.01, "passes": 1},
    "landing": {"sf": 0.01, "passes": 3, "days": 2, "archives": 8, "rows": 20000, "bad": 0.01},
}
RUN_TIMEOUT_S = 170


def tables(work, sf):
    d = os.path.join(work, f"data-sf{sf}-s{DATA_SEED}")
    if not os.path.exists(os.path.join(d, "_COMPLETE")):
        shutil.rmtree(d, ignore_errors=True)
        gen.tables(d, sf, DATA_SEED)
        open(os.path.join(d, "_COMPLETE"), "w").close()
    return d


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--observed", help="also write every digest seen in set-up to this file")
    ap.add_argument("--jit", choices=sorted(build.JIT), default="c1",
                    help="JIT compilers of the run (only jitcheck.py uses `default`)")
    a = ap.parse_args()
    cfg = WORKLOADS[a.workload]

    jvm = build.build(a.jit)
    root = os.path.abspath(".bench_work")
    data = tables(root, cfg["sf"])
    work = os.path.join(root, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    args = ["--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--data", data,
            "--work", work, "--passes", str(cfg["passes"]),
            "--keys", os.path.join(BENCH, "keys"),
            "--digests", os.path.join(BENCH, "digests.tsv")]
    if a.observed:
        args += ["--observed", os.path.abspath(a.observed)]
    if a.workload == "landing":
        landing = os.path.join(work, "landing")
        gen.landing(landing, a.seed, cfg["days"], cfg["archives"], cfg["rows"], cfg["bad"])
        args += ["--landing", landing]
    cmd = ["java", f"-Djava.io.tmpdir={work}/tmp"] + jvm + ["perfbench.Harness"] + args
    env = dict(os.environ, SPARK_GRAFT_STREAM_CKPT_ROOT=os.path.join(work, "ckpt"))
    os.makedirs(env["SPARK_GRAFT_STREAM_CKPT_ROOT"])
    log = open(os.path.join(work, "jvm.log"), "w")
    t0 = time.time()
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, env=env)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        sys.exit(f"run: harness exceeded {RUN_TIMEOUT_S} s")
    finally:
        log.close()
    result = None
    for line in out.splitlines():
        if line.startswith("RESULT "):
            result = json.loads(line[len("RESULT "):])
        else:
            print(line)
    if p.returncode != 0 or result is None:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        sys.exit(f"run: harness exited with {p.returncode}")
    logs = os.path.join(root, "logs")
    os.makedirs(logs, exist_ok=True)
    shutil.move(os.path.join(work, "jvm.log"),
                os.path.join(logs, f"{a.workload}-{a.seed}-trace{a.trace}-{a.jit}.log"))
    for f in os.listdir(work):
        if f.startswith("trace-"):
            shutil.move(os.path.join(work, f), os.path.join(logs, f))
    shutil.rmtree(work, ignore_errors=True)
    print(f"wall_s {time.time() - t0:.1f}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
