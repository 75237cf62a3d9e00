#!/usr/bin/env python3
"""Count the subprocesses one benchmark run forks, and who forks them.

Usage: python3 tools/forks.py --workload iterative [--seed 1] [--seconds 5]
       python3 tools/forks.py --report <recording.jfr>

Builds the benchmark (perfbench/build.py), then runs `perfbench/run.py`
for one workload with a JDK Flight Recording of the harness JVM, enabled
through `JAVA_TOOL_OPTIONS`; nothing under perfbench/ changes. Reads the
recording's `jdk.ProcessStart` events and prints the subprocess counts by
command and by the first stack frame outside `java.*`, `jdk.*`, `sun.*` and
`org.apache.hadoop.*` (the code that asked Hadoop for the file operation
that forked). Without the native Hadoop library, every permission change
on the local filesystem forks `chmod` and every rename through the
FileContext API forks `readlink`, so these counts show which layer pays.

The recording is kept as `.bench_work/forks-<workload>.jfr`; `--report`
prints the counts of an existing recording without a run.
"""
import argparse
import collections
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SKIP = ("java.", "jdk.", "sun.", "org.apache.hadoop.")


def command(ev):
    return os.path.basename(ev["command"].split()[0]) if ev.get("command") else "?"


def caller(ev):
    frames = (ev.get("stackTrace") or {}).get("frames") or []
    for f in frames:
        m = f["method"]
        cls = m["type"]["name"].replace("/", ".")
        if not cls.startswith(SKIP):
            return f"{cls}.{m['name']}"
    return "(no frame outside the JDK and Hadoop)"


def record(workload, seed, seconds, jfr):
    """One perfbench run under the recording; returns its `correct` flag."""
    if os.path.exists(jfr):
        os.remove(jfr)
    # build first, without the recording: the Scala compiler and the
    # class-data dump are JVMs too, and would overwrite the one file
    subprocess.run([sys.executable, "perfbench/build.py"], cwd=ROOT, check=True,
                   stdout=subprocess.DEVNULL)
    opts = (f"-XX:StartFlightRecording=filename={jfr},settings=default,dumponexit=true "
            "-XX:FlightRecorderOptions=stackdepth=256")
    env = dict(os.environ)
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") + " " + opts).strip()
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.exit(f"forks: perfbench/run.py exited with {r.returncode}")
    return json.loads(r.stdout.strip().splitlines()[-1]).get("correct")


def report(jfr):
    out = subprocess.run(["jfr", "print", "--json", "--stack-depth", "256",
                          "--events", "jdk.ProcessStart", jfr],
                         check=True, stdout=subprocess.PIPE, text=True).stdout
    events = [e["values"] for e in json.loads(out)["recording"]["events"]]
    by_cmd = collections.Counter(command(e) for e in events)
    by_caller = collections.Counter(caller(e) for e in events)
    by_pair = collections.Counter((caller(e), command(e)) for e in events)
    print(f"{len(events)} subprocesses")
    print("\nby command:")
    for cmd, n in by_cmd.most_common():
        print(f"  {n:6d}  {cmd}")
    print("\nby first caller outside java.*/jdk.*/sun.*/org.apache.hadoop.*:")
    for who, n in by_caller.most_common():
        cmds = ", ".join(f"{c} {k}" for (w, c), k in sorted(by_pair.items()) if w == who)
        print(f"  {n:6d}  {who}  ({cmds})")
    print(f"\nrecording: {jfr}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--report", metavar="JFR", help="only read this recording")
    a = ap.parse_args()
    if a.report:
        report(os.path.abspath(a.report))
        return
    if not a.workload:
        ap.error("--workload is required unless --report is given")
    jfr = os.path.join(ROOT, ".bench_work", f"forks-{a.workload}.jfr")
    os.makedirs(os.path.dirname(jfr), exist_ok=True)
    correct = record(a.workload, a.seed, a.seconds, jfr)
    print(f"workload {a.workload} seed {a.seed}, correct: {correct}")
    report(jfr)


if __name__ == "__main__":
    main()
