#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/compare.py <sfDir> <outDir> [query ...]

Reads each <outDir>/<name> parquet (written by graft.Verify), runs the
corresponding oracle SQL from <outDir>/oracle_sql.json in DuckDB with the
fixture tables registered as views, and compares schema (sorted column
names), row count, and exact cell values (columns sorted by name, rows in
produced order).

Full runs (no query filter) additionally write correctness_engine.json in
the working directory — per-query schema_match/rows_match/hash_match plus
a summary — so the round's correctness is self-reported even when the
driver's own artifact fails to land (the r16 empty-{} incident).
"""
import gc
import os
import json
import math
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [tuple(r[i] for i in order) for r in rows]


def cells_equal(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(cells_equal(x, y) for x, y in zip(a, b))
    return a == b


def mem_total_mb():
    """Host RAM in MB, from /proc/meminfo's MemTotal."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise SystemExit("compare: no MemTotal in /proc/meminfo")


# DuckDB's buffer pool grows to memory_limit before it spills; a limit at
# or above the host's RAM lets one oracle take the host down instead of
# spilling or failing. So the lean cap is half of RAM, and the escalated
# retry, for oracles whose pinned reservations outgrow it (on a 15 GB host
# q_graph_louvain_level2 fails at 11.2 GB and passes at 13.5 GB), is nine
# tenths.
LEAN_MB = mem_total_mb() // 2
ESCALATED_MB = mem_total_mb() * 9 // 10


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    def connect(limit_mb=LEAN_MB):
        c = duckdb.connect()
        # long sessions accumulate allocator fragmentation across hundreds
        # of MATERIALIZED-CTE oracles; a temp dir lets big intermediates
        # spill to disk instead of dying on allocation (r17: the opq oracle
        # OOM'd at query 380 of a shared session but passes fresh)
        c.execute("SET temp_directory='/tmp/duckdb_spill'")
        # modest per-instance cap: the buffer pool RETAINS cached blocks up
        # to this limit and close() only releases them once no relation
        # references the instance — heavy oracles spill to temp_directory
        c.execute(f"SET memory_limit='{limit_mb}MB'")
        for t in TABLES:
            c.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        return c
    con = connect()
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    try:
        errors = json.load(open(f"{out_dir}/errors.json"))
    except Exception:
        errors = {}
    n_pass = n_fail = 0
    engine = {}

    def rec(name, schema_ok, rows_ok, hash_ok, note=""):
        engine[name] = {"schema_match": schema_ok, "rows_match": rows_ok,
                        "hash_match": hash_ok}
        if note:
            engine[name]["note"] = note

    since_reconnect = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        # proactive reconnect every 25 queries: one long-lived session
        # accumulates buffer-pool state across hundreds of heavy
        # MATERIALIZED-CTE oracles until real allocation failures appear
        since_reconnect += 1
        if since_reconnect > 25:
            got = exp = None
            gc.collect()
            try:
                con.close()
            except Exception:
                pass
            gc.collect()
            con = connect()
            since_reconnect = 0
        try:
            got = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
            got_cols = [c.lower() for c in got.columns]
            got_rows = got.fetchall()
            try:
                exp = con.sql(sql)
                exp_cols = [c.lower() for c in exp.columns]
                exp_rows = exp.fetchall()
            except Exception:
                # one retry on a FRESH connection: session-lifetime
                # fragmentation is not a correctness verdict
                # (got_cols/got_rows are already materialized — drop the
                # relation handles so the old instance can actually free)
                got = exp = None
                gc.collect()
                try:
                    con.close()
                except Exception:
                    pass
                gc.collect()
                # escalated limit: a few oracles (opq, unigram-EM) peak
                # over the lean cap in pinned blocks that cannot spill
                con = connect(ESCALATED_MB)
                since_reconnect = 0
                exp = con.sql(sql)
                exp_cols = [c.lower() for c in exp.columns]
                exp_rows = exp.fetchall()
        except Exception as e:
            print(f"FAIL {name}: error {e}")
            rec(name, False, False, False, str(e)[:200])
            n_fail += 1
            continue
        if sorted(got_cols) != sorted(exp_cols):
            print(f"FAIL {name}: columns {sorted(got_cols)} != {sorted(exp_cols)}")
            rec(name, False, False, False)
            n_fail += 1
            continue
        if len(got_rows) != len(exp_rows):
            print(f"FAIL {name}: rows {len(got_rows)} != {len(exp_rows)}")
            rec(name, True, False, False)
            n_fail += 1
            continue
        g, e = canon(got_rows, got_cols), canon(exp_rows, exp_cols)
        bad = [(i, x, y) for i, (x, y) in enumerate(zip(g, e))
               if not all(cells_equal(a, b) for a, b in zip(x, y))]
        if bad:
            i, x, y = bad[0]
            print(f"FAIL {name}: {len(bad)} mismatched rows; first at {i}:")
            print(f"  got {x}")
            print(f"  exp {y}")
            rec(name, True, True, False)
            n_fail += 1
        else:
            print(f"PASS {name} ({len(got_rows)} rows)")
            rec(name, True, True, True)
            n_pass += 1
    if not only:
        # no-oracle keys get a rows-only presence check (the driver's
        # weaker gate), recorded so the artifact covers EVERY query key
        for name in sorted(os.listdir(out_dir)):
            if name in oracle or not os.path.isdir(f"{out_dir}/{name}"):
                continue
            if name in errors:
                rec(name, False, False, False, errors[name][:200])
                continue
            try:
                n = con.sql(
                    f"SELECT count(*) FROM '{out_dir}/{name}/*.parquet'"
                ).fetchone()[0]
                rec(name, True, n > 0, True, "no-oracle: rows-only check")
            except Exception as e:
                rec(name, False, False, False, str(e)[:200])
        report = {"sf_dir": sf_dir, "n_pass": n_pass, "n_fail": n_fail,
                  "n_queries": len(engine), "queries": engine}
        with open("correctness_engine.json", "w") as f:
            json.dump(report, f, indent=1, sort_keys=True)
        print(f"wrote correctness_engine.json ({len(engine)} queries)")
    print(f"== {n_pass} pass, {n_fail} fail")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
