"""Seeded input generators for the benchmark.

`tables` writes the ten fixture tables the program reads (`region` ..
`embeddings`, one Parquet file each) with the schemas and value
distributions of the project's star-schema fixtures. `landing` writes
daily landing directories of zipped balance CSVs, a `README.txt` decoy per
day and a seeded share of malformed rows, plus `manifest.tsv` with each
day's expected valid-row count and exact cent sum.

Both are pure functions of their arguments: the same seed gives the same
bytes, a different seed different bytes.
"""
import io
import os
import zipfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "red", "small", "hot", "old", "new", "green", "big",
       "cold", "dark", "light", "tiny", "fast"]
NOUN = ["ring", "widget", "bolt", "plate", "rod"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]
WORDS = ("a the data table row column key value part line order customer "
         "query scan filter join agg group sort hash merge window batch "
         "stream spark vector big small fast slow").split()
DIM = 64
US_PER_DAY = 86_400_000_000
EPOCH_1995 = 9131  # days from 1970-01-01 to 1995-01-01


def _ts_days(rng, n, lo_day, hi_day):
    days = rng.integers(lo_day, hi_day + 1, n)
    return pa.array(days.astype("int64") * US_PER_DAY, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   row_group_size=1 << 30)


def tables(out, sf, seed):
    """Write the ten fixture tables at scale factor `sf` into `out`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_doc = int(50_000 * sf)
    n_emb = max(500, int(20_000 * sf))

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    _write(out, "part", {
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in zip(
            rng.integers(0, len(ADJ), n_part), rng.integers(0, len(NOUN), n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[i] for i in rng.integers(0, len(PTYPES), n_part)],
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _ts_days(rng, n_ord, EPOCH_1995, EPOCH_1995 + 2404),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_line).astype("float64")
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype("int64"),
        "l_partkey": rng.integers(0, n_part, n_line).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype("int64"),
        "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _ts_days(rng, n_line, EPOCH_1995 + 1, EPOCH_1995 + 2499)})
    # events: one month of strictly increasing timestamps from 2024-01-01
    gaps = rng.exponential(30 * US_PER_DAY / n_ev, n_ev).astype("int64") + 1
    ts = 19723 * US_PER_DAY + np.cumsum(gaps)
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_ev).astype("int64"),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = [" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), k))
             for k in rng.integers(8, 100, n_doc)]
    _write(out, "documents", {
        "doc_id": np.arange(n_doc, dtype="int64"),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, DIM))
    vecs = centers[labels] + rng.normal(0.0, 1.5, (n_emb, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    _write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype("int32")})


def _zip_bytes(name, data):
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED, compresslevel=6) as z:
        info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
        info.compress_type = zipfile.ZIP_DEFLATED
        z.writestr(info, data)
    return buf.getvalue()


def landing(out, seed, days, archives, rows, bad_share):
    """Write `days` landing directories under `out` and return the manifest.

    Day `i` is 2024-02-01 + i; it holds `archives` zips of `rows` CSV rows
    each. A `bad_share` of the rows are malformed in one of three ways the
    ingest validation must drop.
    """
    rng = np.random.default_rng([seed, 7])
    manifest = []
    for d in range(days):
        day = np.datetime64("2024-02-01") + d
        ddir = os.path.join(out, f"day_{d:02d}")
        os.makedirs(ddir, exist_ok=True)
        n_valid = total_cents = n_bad = n_bytes = 0
        for a in range(archives):
            cents = rng.integers(0, 100_000, rows)
            bad = rng.random(rows) < bad_share
            kind = rng.integers(0, 3, rows)
            lines = ["id,day,amount"]
            for r in range(rows):
                rid = (d * archives + a) * rows + r
                c = int(cents[r])
                amount = f"{c // 100}.{c % 100:02d}"
                if not bad[r]:
                    lines.append(f"{rid},{day},{amount}")
                    n_valid += 1
                    total_cents += c
                elif kind[r] == 0:
                    lines.append(",,bad-row")
                elif kind[r] == 1:
                    lines.append(f"x{rid},{day},{amount}")
                else:
                    lines.append(f"{rid},{day},notanumber")
            n_bad += int(bad.sum())
            body = _zip_bytes(f"balance_{a:02d}.csv", "\n".join(lines).encode())
            with open(os.path.join(ddir, f"balance_{a:02d}.zip"), "wb") as f:
                f.write(body)
            n_bytes += len(body)
        with open(os.path.join(ddir, "README.txt"), "w") as f:
            f.write("not a zip\n")
        manifest.append({"dir": ddir, "day": str(day), "n_valid": n_valid,
                         "n_rows": n_valid + n_bad, "sum_cents": total_cents,
                         "bytes": n_bytes})
    cols = ["dir", "day", "n_valid", "n_rows", "sum_cents", "bytes"]
    with open(os.path.join(out, "manifest.tsv"), "w") as f:
        f.write("\t".join(cols) + "\n")
        for m in manifest:
            f.write("\t".join(str(m[c]) for c in cols) + "\n")
    return manifest
