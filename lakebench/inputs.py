"""Seeded input generators for the lakehouse workloads.

Every generator is a pure function of its seed: the same seed gives
byte-identical files. The taxi generator also returns the answers the
program must reproduce, computed here while the inputs are written, so
no output of the program is ever frozen as the expected answer.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The 19-column NYC yellow-taxi reference schema (FIXTURES.md), in the
# reference's column spelling.
TAXI_COLUMNS = [
    "VendorID", "tpep_pickup_datetime", "tpep_dropoff_datetime",
    "passenger_count", "trip_distance", "RatecodeID", "store_and_fwd_flag",
    "PULocationID", "DOLocationID", "payment_type", "fare_amount", "extra",
    "mta_tax", "tip_amount", "tolls_amount", "improvement_surcharge",
    "total_amount", "congestion_surcharge", "airport_fee",
]

# medallion_etl sizes: rows of the initial drop, days it spans, and the
# incremental batches applied after the first Bronze->Silver->Gold run.
TAXI_ROWS = 10000
TAXI_DAYS = 10
TAXI_FILES = 4
BATCHES = 2
BATCH_NEW_ROWS = 1500
BATCH_CORRECTIONS = 300
# Shares of the initial drop that fail a Silver DQ filter, and the share
# re-sent as exact copies: about 7.5% of Bronze never reaches Silver,
# inside the reference runbook's 5-10% Silver reduction.
BAD_DISTANCE = 0.02
BAD_FARE = 0.015
NULL_DROPOFF = 0.01
DUPLICATES = 0.03


def _ts(seconds):
    """Seconds after 2023-01-01 00:00 UTC as CSV timestamps."""
    t = np.datetime64("2023-01-01T00:00:00", "s") + np.asarray(seconds).astype("timedelta64[s]")
    return np.char.replace(t.astype(str), "T", " ")


def _money(cents):
    cents = np.asarray(cents)
    a = np.abs(cents)
    return [f"{'-' if c < 0 else ''}{x // 100}.{x % 100:02d}" for c, x in zip(cents.tolist(), a.tolist())]


def _taxi_rows(rng, pickups):
    """Valid trips at the given pickup seconds; money in integer cents."""
    n = len(pickups)
    r = {
        "vendor": rng.integers(1, 3, n),
        "pickup": pickups,
        "dropoff": pickups + rng.integers(120, 3600, n),
        "passengers": rng.integers(1, 5, n),
        "distance": rng.integers(10, 2000, n),
        "ratecode": rng.integers(1, 3, n),
        "flag": np.where(rng.random(n) < 0.05, "Y", "N"),
        "pu": rng.integers(1, 266, n),
        "do": rng.integers(1, 266, n),
        "payment": rng.integers(1, 5, n),
        "fare": rng.integers(250, 6000, n),
        "extra": rng.choice([0, 50, 100], n),
        "mta": np.full(n, 50),
        "tip": rng.integers(0, 1500, n),
        "tolls": np.where(rng.random(n) < 0.05, 655, 0),
        "improvement": np.full(n, 30),
        "congestion": rng.choice([0, 250], n),
        "airport": rng.choice([0, 125], n, p=[0.9, 0.1]),
        "null_dropoff": np.zeros(n, dtype=bool),
    }
    r["total"] = _total(r)
    return r


def _total(r):
    return (r["fare"] + r["extra"] + r["mta"] + r["tip"] + r["tolls"]
            + r["improvement"] + r["congestion"] + r["airport"])


def _taxi_lines(r, order):
    order = np.asarray(order, dtype=np.int64)
    g = {k: v[order] for k, v in r.items()}
    drop = _ts(g["dropoff"])
    drop[g["null_dropoff"]] = ""
    cols = [g["vendor"].astype(str), _ts(g["pickup"]), drop,
            g["passengers"].astype(str), _money(g["distance"]),
            g["ratecode"].astype(str), g["flag"], g["pu"].astype(str),
            g["do"].astype(str), g["payment"].astype(str)] + [
        _money(g[k]) for k in ("fare", "extra", "mta", "tip", "tolls",
                               "improvement", "total", "congestion", "airport")]
    return [",".join(row) for row in zip(*cols)]


def _write_csv(path, lines):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", newline="") as f:
        f.write(",".join(TAXI_COLUMNS) + "\n")
        f.write("\n".join(lines) + "\n")


def medallion(seed, out_dir):
    """Initial CSV drop plus incremental batch CSVs, and the expected
    Bronze/Silver/Gold counts and sums after the whole pipeline."""
    # numpy seeds are non-negative; any integer seed maps to one
    rng = np.random.default_rng([seed % 2**64, 1])
    pickups = rng.choice(TAXI_DAYS * 86400, TAXI_ROWS, replace=False)
    r = _taxi_rows(rng, pickups)
    n = TAXI_ROWS
    bad = rng.permutation(n)
    nd, nf, nn = (int(n * BAD_DISTANCE), int(n * BAD_FARE), int(n * NULL_DROPOFF))
    r["distance"][bad[:nd]] = 0
    r["fare"][bad[nd:nd + nf]] *= -1
    r["total"] = _total(r)
    r["null_dropoff"][bad[nd + nf:nd + nf + nn]] = True
    valid = np.ones(n, dtype=bool)
    valid[bad[:nd + nf + nn]] = False
    dups = rng.choice(n, int(n * DUPLICATES), replace=False)
    order = rng.permutation(np.concatenate([np.arange(n), dups]))
    lines = _taxi_lines(r, order)
    per = -(-len(lines) // TAXI_FILES)
    for k in range(TAXI_FILES):
        _write_csv(f"{out_dir}/raw/part-{k}.csv", lines[k * per:(k + 1) * per])

    silver_ids = np.flatnonzero(valid)
    passengers = r["passengers"].copy()
    revenue = int(r["total"][silver_ids].sum())
    days = {int(s) // 86400 for s in r["pickup"][silver_ids]}
    silver_rows = len(silver_ids)
    expected = {"bronze_rows": len(lines), "silver_rows_initial": silver_rows}
    corrected = set()
    new_passengers = 0
    for b in range(BATCHES):
        day = TAXI_DAYS + b
        new_pick = day * 86400 + rng.choice(86400, BATCH_NEW_ROWS, replace=False)
        nr = _taxi_rows(rng, new_pick)
        # late corrections: a changed passenger count on rows already in
        # Silver, keyed by the dedup columns, each row corrected once
        pool = np.setdiff1d(silver_ids, np.fromiter(corrected, int, len(corrected)))
        fix = rng.choice(pool, BATCH_CORRECTIONS, replace=False)
        corrected.update(int(i) for i in fix)
        passengers[fix] = passengers[fix] % 4 + 1
        fr = {k: (v[fix].copy() if isinstance(v, np.ndarray) else v) for k, v in r.items()}
        fr["passengers"] = passengers[fix]
        fr["null_dropoff"] = np.zeros(len(fix), dtype=bool)
        blines = _taxi_lines(nr, range(BATCH_NEW_ROWS)) + _taxi_lines(fr, range(len(fix)))
        _write_csv(f"{out_dir}/batch-{b}/part-0.csv", blines)
        revenue += int(nr["total"].sum())
        silver_rows += BATCH_NEW_ROWS
        days.add(day)
        new_passengers += int(nr["passengers"].sum())
    expected["silver_rows"] = silver_rows
    expected["silver_revenue_cents"] = revenue
    expected["silver_passengers"] = int(passengers[silver_ids].sum()) + new_passengers
    expected["gold_days"] = len(days)
    expected["gold_trips"] = silver_rows
    expected["gold_revenue_cents"] = revenue
    return {"raw": f"{out_dir}/raw",
            "batches": [f"{out_dir}/batch-{b}" for b in range(BATCHES)],
            "expected": expected}


# ---------------------------------------------------------- operator mix

# The operator_mix input is fixed data, like the repository's synthetic
# TPC-H-style test tables (TESTDATA.md): one seed, their sf0.1 sizes.
MIX_SEED = 42
MIX_SIZES = {"customer": 15000, "orders": 150000, "lineitem": 600000,
             "part": 20000, "supplier": 1000, "events": 100000,
             "documents": 5000, "embeddings": 2000}
WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window order data column join small big customer "
         "query stream filter group vector").split()


def operator_tables(out_dir):
    """Parquet tables the operator_mix queries read, in the schema of the
    repository's synthetic test tables."""
    rng = np.random.default_rng([MIX_SEED, 3])
    os.makedirs(out_dir, exist_ok=True)
    n = MIX_SIZES

    def write(name, cols):
        pq.write_table(pa.table(cols), f"{out_dir}/{name}.parquet")

    def money(lo, hi, size):
        return np.round(rng.uniform(lo, hi, size), 2)

    def days(start, span, size):
        base = np.datetime64(start, "D")
        return (base + rng.integers(0, span, size)).astype("datetime64[us]")

    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = n["customer"]
    write("customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc)})
    ns = n["supplier"]
    write("supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, ns)})
    npart = n["part"]
    adj = ["red", "blue", "hot", "old", "large", "small"]
    noun = ["plate", "widget", "ring", "rod", "bolt", "gizmo", "gear"]
    write("part", {
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(adj, npart), rng.choice(noun, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], npart),
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, npart) / 10.0, 2)})
    no = n["orders"]
    write("orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": money(1000, 500000, no),
        "o_orderdate": days("1995-01-01", 2404, no),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no)})
    nl = n["lineitem"]
    okeys = np.sort(rng.integers(0, no, nl))
    # line number within its order: position after the order's first line
    pos = np.arange(nl)
    first = np.r_[True, okeys[1:] != okeys[:-1]]
    line = (pos - np.maximum.accumulate(np.where(first, pos, 0))).astype(np.int32)
    qty = rng.integers(1, 51, nl).astype(float)
    write("lineitem", {
        "l_orderkey": okeys, "l_partkey": rng.integers(0, npart, nl),
        "l_suppkey": rng.integers(0, ns, nl), "l_linenumber": pa.array(line + 1, pa.int32()),
        "l_quantity": qty, "l_extendedprice": np.round(qty * rng.uniform(900, 3000, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": days("1995-01-02", 2498, nl)})
    ne = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    write("events", {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": np.sort(t0 + rng.integers(0, 30 * 86400 * 10**6, ne).astype("timedelta64[us]")),
        "user_id": rng.integers(0, 150, ne),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], ne),
        "value": money(0.01, 490, ne),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    texts = []
    for i in range(nd):
        if i >= 10 and rng.random() < 0.1:
            # near-duplicate of an earlier document: one word swapped
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(WORDS))
        else:
            words = list(rng.choice(WORDS, int(rng.integers(8, 90))))
        texts.append(" ".join(words))
    write("documents", {
        "doc_id": np.arange(nd, dtype=np.int64), "text": texts,
        "lang": rng.choice(["en", "es", "zh", "de", "fr"], nd, p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 0.35, (nv, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": pa.array(vecs.astype(np.float32).tolist(), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return {"dir": out_dir}


def digest(path):
    """sha256 over every file under `path`, in name order."""
    h = hashlib.sha256()
    for root, dirs, files in sorted(os.walk(path)):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()

