"""Self-tests of the benchmark itself.

    python3 perfbench/selftest.py

- the generators write identical bytes for the same seed and different
  bytes for a different seed;
- (in the JVM, perfbench/src/perfbench/SelfTest.scala) every listed key
  exists in `SparkEntry.queries`, the key set is kset `92649cf8`, the
  frozen lists equal their rule, an item that throws or whose output
  mismatches in set-up counts as failed in the timed passes and is never
  timed, and the digest does not depend on row order.

Exits non-zero if any test fails. Works under `.bench_work/selftest`.
"""
import hashlib
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import build  # noqa: E402
import gen  # noqa: E402


def tree_digest(d):
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, d).encode())
            if f != "manifest.tsv":  # holds absolute paths
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def main():
    work = os.path.abspath(os.path.join(".bench_work", "selftest"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    failed = []

    def check(name, ok):
        print(("ok " if ok else "FAIL ") + name)
        if not ok:
            failed.append(name)

    digests = {}
    for tag, seed in [("a", 1), ("b", 1), ("c", 2)]:
        gen.tables(os.path.join(work, f"t{tag}"), 0.001, seed)
        gen.landing(os.path.join(work, f"l{tag}"), seed, 2, 2, 500, 0.05)
        digests[tag] = (tree_digest(os.path.join(work, f"t{tag}")),
                        tree_digest(os.path.join(work, f"l{tag}")))
    check("tables: same seed, same bytes", digests["a"][0] == digests["b"][0])
    check("tables: other seed, other bytes", digests["a"][0] != digests["c"][0])
    check("landing: same seed, same bytes", digests["a"][1] == digests["b"][1])
    check("landing: other seed, other bytes", digests["a"][1] != digests["c"][1])

    cmd = (["java", f"-Djava.io.tmpdir={work}"] + build.build()
           + ["perfbench.Harness", "--mode", "selftest",
              "--keys", os.path.join(BENCH, "keys"), "--work", work])
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    sys.stdout.write(r.stdout)
    if r.returncode != 0:
        failed.append("jvm self-tests")
    shutil.rmtree(work, ignore_errors=True)
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
