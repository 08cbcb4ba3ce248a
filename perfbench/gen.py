"""Seeded input generator for the perfbench workloads.

It writes every input a workload reads under one directory and returns a
manifest: the input sizes (rows and bytes), the parameters the JVM harness
needs, and the state every output must reach. The expected state is
computed here from the generator's own model of the inputs, with numpy and
plain Python; no code of the engine under test is called.

The same (workload, seed) always writes the same bytes. perfbench/run.py
calls `generate`.
"""
import gzip
import io
import json
import os
import tarfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The query fixture is the same for every seed: query_mix's expected
# results are recorded with the benchmark, so the seed only orders queries.
FIXTURE_SEED = 42
FIXTURE_SF = 0.005

# etl_update: replicas of the events fixture, keys offset per copy.
ETL_COPIES = 10
ETL_KEY_OFFSET = 1_000_000
ETL_EVENTS = 5_000
ETL_USERS = 150
ETL_CHANGE_SHARE = 0.01
ETL_DELETES = 5
ETL_ADDS = 5
# Hour h's as-of instant is ETL_T0 + h hours; the fixture's events all
# precede ETL_T0, so only rows the generator moved or added fall in the
# lookback window.
ETL_T0_US = 1_706_745_600_000_000  # 2024-02-01T00:00:00Z
HOUR_US = 3_600_000_000
NEW_KEY_BASE = 900_000_000

# ingest_flatfile sizes
FLAT_ORGS = 1500
FLAT_ROUNDS = 3000
FLAT_IPOS = 600
FLAT_ACQS = 900
FLAT_DIRTY = 25       # dirty rows planted per member
CSV_FILES = 4
CSV_ROWS_PER_FILE = 15000
CSV_DIRTY_SHARE = 0.004
CSV_DDL = "id BIGINT, name STRING, amount DOUBLE, qty INT, day DATE"
SECRET_NAME = "crunchbase-api-key"

WORDS = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
ADJ = "small new blue old red hot large cold".split()
NOUN = "ring gear widget gizmo bolt plate anvil rod".split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "en", "en", "es", "fr", "zh"]

TS_MS = pa.timestamp("ms")
TS_US = pa.timestamp("us", tz="UTC")
TS_NS = pa.timestamp("ns")


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return os.path.getsize(path)


def _days_ms(rng, n, start="1995-01-01", days=2400):
    base = np.datetime64(start, "ms").astype(np.int64)
    return base + rng.integers(0, days, n) * 86_400_000


def _cents(rng, n, lo, hi):
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _events(rng, n, users):
    ts = np.sort(np.datetime64("2024-01-01", "us").astype(np.int64)
                 + rng.integers(0, 30 * 86_400_000_000, n))
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n)],
        "value": _cents(rng, n, 0.01, 490.0),
        "props": np.array(['{"k": %d}' % k for k in rng.integers(0, 100, n)],
                          dtype=object),
    }


def fixture_tables(sf=FIXTURE_SF, seed=FIXTURE_SEED):
    """The ten query-fixture tables, shaped like the repo's test data."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc = int(1_000_000 * sf), int(50_000 * sf)
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": ["NATION_%d" % i for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": ["Customer#%09d" % i for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS, dtype=object)[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": ["Supplier#%09d" % i for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(rng, n_supp, -999.99, 9999.99)})
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": ["%s %s" % (ADJ[a], NOUN[b]) for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": ["Brand#%d" % b for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PTYPES, dtype=object)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"], dtype=object)[rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": pa.array(_days_ms(rng, n_ord), TS_MS),
        "o_orderpriority": np.array(PRIORITIES, dtype=object)[rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _cents(rng, n_line, 900.0, 2100.0), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"], dtype=object)[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(_days_ms(rng, n_line, days=2500), TS_MS)})
    ev = _events(rng, n_ev, int(15_000 * sf))
    t["events"] = pa.table({**ev, "ts": pa.array(ev["ts"] * 1000, TS_NS)})
    texts = []
    for _ in range(n_doc):
        k = int(rng.integers(10, 100))
        texts.append(" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), k)))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS, dtype=object)[rng.integers(0, len(LANGS), n_doc)],
        "source": ["src%d" % s for s in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n_doc)
    centers = rng.normal(0, 1, (10, 64))
    emb = centers[labels] + rng.normal(0, 1.5, (n_doc, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_doc, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def write_fixture(out_dir):
    sizes = {}
    for name, table in fixture_tables().items():
        b = _write(table, os.path.join(out_dir, "fixture", name + ".parquet"))
        sizes[name] = {"rows": table.num_rows, "bytes": b}
    return sizes


# ---------------------------------------------------------------- query_mix

def gen_query_mix(seed, out_dir, groups):
    """The fixture, and the query order: `groups` (lists of query names)
    run one after the other, each shuffled by the seed."""
    sizes = write_fixture(out_dir)
    rng = np.random.default_rng(seed)
    order = []
    for g in groups:
        g = list(g)
        rng.shuffle(g)
        order += g
    return {"inputs": sizes, "query_order": order}


# --------------------------------------------------------------- etl_update

def etl_agg(cols):
    """The read answer the harness computes over a table (see Harness)."""
    return [int(len(cols["event_id"])), int(cols["event_id"].sum()),
            int(cols["user_id"].sum()),
            int(np.round(cols["value"] * 100).astype(np.int64).sum()),
            int((cols["ts"] // 1_000_000).sum())]


def _etl_table(cols):
    return pa.table({"event_id": cols["event_id"],
                     "ts": pa.array(cols["ts"], TS_US),
                     "user_id": cols["user_id"],
                     "event_type": pa.array(cols["event_type"], pa.string()),
                     "value": cols["value"],
                     "props": pa.array(cols["props"], pa.string())})


def etl_versions(seed, hours, base):
    """Yield (hour, source version, upsert rows) for hours 1..hours.

    Each version moves a seeded ~1% of rows into that hour's lookback
    window with a new value, deletes a few keys and adds a few."""
    rng = np.random.default_rng(seed)
    cur = {k: v.copy() for k, v in base.items()}
    next_key = NEW_KEY_BASE
    for h in range(1, hours + 1):
        lo, hi = ETL_T0_US + (h - 1) * HOUR_US, ETL_T0_US + h * HOUR_US
        n = len(cur["event_id"])
        keep = np.ones(n, dtype=bool)
        keep[rng.choice(n, ETL_DELETES, replace=False)] = False
        cur = {k: v[keep] for k, v in cur.items()}
        n = len(cur["event_id"])
        moved = rng.choice(n, int(n * ETL_CHANGE_SHARE), replace=False)
        cur["ts"][moved] = rng.integers(lo + 1_000_000, hi - 1_000_000, len(moved))
        cur["value"][moved] = _cents(rng, len(moved), 0.01, 490.0)
        add = {
            "event_id": np.arange(next_key, next_key + ETL_ADDS, dtype=np.int64),
            "ts": rng.integers(lo + 1_000_000, hi - 1_000_000, ETL_ADDS),
            "user_id": rng.integers(0, ETL_USERS, ETL_ADDS).astype(np.int64),
            "event_type": np.array(EVENT_TYPES, dtype=object)[rng.integers(0, 5, ETL_ADDS)],
            "value": _cents(rng, ETL_ADDS, 0.01, 490.0),
            "props": np.array(['{"k": %d}' % k for k in rng.integers(0, 100, ETL_ADDS)],
                              dtype=object)}
        next_key += ETL_ADDS
        upserts = {k: np.concatenate([cur[k][moved], add[k]]) for k in cur}
        cur = {k: np.concatenate([cur[k], add[k]]) for k in cur}
        yield h, cur, upserts


def etl_base():
    cols = _events(np.random.default_rng(FIXTURE_SEED), ETL_EVENTS, ETL_USERS)
    reps = []
    for c in range(ETL_COPIES):
        r = {k: v.copy() for k, v in cols.items()}
        r["event_id"] = r["event_id"] + c * ETL_KEY_OFFSET
        reps.append(r)
    return {k: np.concatenate([r[k] for r in reps]) for k in cols}


def upsert_into(state, upserts):
    """D's model: latest write wins per key, nothing is ever deleted."""
    order = np.argsort(state["event_id"], kind="stable")
    keys = state["event_id"][order]
    pos = np.minimum(np.searchsorted(keys, upserts["event_id"]), len(keys) - 1)
    hit = keys[pos] == upserts["event_id"]
    out = {k: v.copy() for k, v in state.items()}
    for k in out:
        out[k][order[pos[hit]]] = upserts[k][hit]
    return {k: np.concatenate([out[k], upserts[k][~hit]]) for k in out}


def gen_etl_update(seed, out_dir, hours):
    base = etl_base()
    v0 = _write(_etl_table(base), os.path.join(out_dir, "etl", "src", "v000", "part-0.parquet"))
    d = base
    expected_d, expected_u, src_bytes, change_bytes = [], [], [], []
    for h, src, ups in etl_versions(seed, hours, base):
        src_bytes.append(_write(_etl_table(src), os.path.join(
            out_dir, "etl", "src", "v%03d" % h, "part-0.parquet")))
        change_bytes.append(_write(_etl_table(ups), os.path.join(
            out_dir, "etl", "changes", "h%03d.parquet" % h)))
        d = upsert_into(d, ups)
        expected_d.append(etl_agg(d))
        expected_u.append(etl_agg(src))
    return {
        "inputs": {"base": {"rows": int(len(base["event_id"])), "bytes": v0},
                   "source_version": {"rows": int(len(src["event_id"])),
                                      "bytes": int(np.median(src_bytes))},
                   "change_file": {"rows": int(len(ups["event_id"])),
                                   "bytes": int(np.median(change_bytes))}},
        "hours": hours, "t0_us": ETL_T0_US,
        "change_bytes": change_bytes,
        "expected_read": expected_d, "expected_u": expected_u}


# ---------------------------------------------------------- ingest_flatfile

def _csv_field(v):
    if v is None:
        return ""
    s = str(v)
    if any(c in s for c in ',"\n\r'):
        return '"' + s.replace('"', '""') + '"'
    return s


def _csv(header, rows):
    out = io.StringIO()
    out.write(",".join(header) + "\n")
    for r in rows:
        out.write(",".join(_csv_field(v) for v in r) + "\n")
    return out.getvalue().encode("utf-8")


def flatfile_members(seed, fx):
    """Tar members derived from the fixture tables `fx`, with seeded dirty
    rows. Returns {member: (csv bytes, expected)} where expected records
    the row count, the schema the load must infer, and per-column nulls."""
    rng = np.random.default_rng(seed)
    cust = fx["customer"].to_pydict()
    members = {}

    def dirty_rows(n):
        return set(int(i) for i in rng.choice(n, FLAT_DIRTY, replace=False))

    # organizations: a quoted name with an embedded newline on dirty rows,
    # and an unparseable updated_at that the type normalizer nulls
    bad = dirty_rows(FLAT_ORGS)
    rows = []
    for i in range(FLAT_ORGS):
        k = cust["c_custkey"][i % len(cust["c_custkey"])]
        name = cust["c_name"][i % len(cust["c_name"])]
        if i in bad:
            name = name + ', "Ltd"\nHoldings'
        upd = "not-a-time" if i in bad else "2024-%02d-%02d 10:%02d:00" % (
            1 + i % 12, 1 + i % 28, i % 60)
        rows.append([i, "org-%d" % k, name, SEGMENTS[i % 5],
                     round(cust["c_acctbal"][i % len(cust["c_acctbal"])], 2), upd])
    members["organizations.csv"] = (
        _csv(["org_id", "uuid", "name", "category", "balance_usd", "updated_at"], rows),
        {"table": "cb_organizations", "rows": FLAT_ORGS,
         "schema": [["org_id", "bigint"], ["uuid", "string"], ["name", "string"],
                    ["category", "string"], ["balance_usd", "double"],
                    ["updated_at", "timestamp"]],
         "nulls": {"updated_at": FLAT_DIRTY}})

    li = fx["lineitem"].to_pydict()
    bad = dirty_rows(FLAT_ROUNDS)
    rows = []
    for i in range(FLAT_ROUNDS):
        raised = None if i in bad else li["l_extendedprice"][i]
        day = "%04d-%02d-%02d" % (2000 + i % 24, 1 + i % 12, 1 + i % 28)
        rows.append([i, i % FLAT_ORGS, raised, day, int(li["l_quantity"][i])])
    members["funding_rounds.csv"] = (
        _csv(["round_id", "org_id", "raised_usd", "announced_on", "investors"], rows),
        {"table": "cb_funding_rounds", "rows": FLAT_ROUNDS,
         "schema": [["round_id", "bigint"], ["org_id", "bigint"],
                    ["raised_usd", "double"], ["announced_on", "date"],
                    ["investors", "bigint"]],
         "nulls": {"raised_usd": FLAT_DIRTY}})

    od = fx["orders"].to_pydict()
    bad = dirty_rows(FLAT_IPOS)
    rows = []
    for i in range(FLAT_IPOS):
        # a short record: the loader pads the missing trailing fields
        rows.append([i, i % FLAT_ORGS] if i in bad else
                    [i, i % FLAT_ORGS, od["o_totalprice"][i], od["o_orderpriority"][i]])
    members["ipos.csv"] = (
        _csv(["ipo_id", "org_id", "price_usd", "exchange"], rows),
        {"table": "cb_ipos", "rows": FLAT_IPOS,
         "schema": [["ipo_id", "bigint"], ["org_id", "bigint"],
                    ["price_usd", "double"], ["exchange", "string"]],
         "nulls": {"price_usd": FLAT_DIRTY, "exchange": FLAT_DIRTY}})

    bad = dirty_rows(FLAT_ACQS)
    rows = []
    for i in range(FLAT_ACQS):
        rows.append([i, i % FLAT_ORGS, (i * 7) % FLAT_ORGS,
                     None if i in bad else "%04d-%02d-01" % (2005 + i % 19, 1 + i % 12)])
    members["acquisitions.csv"] = (
        _csv(["acq_id", "acquirer_id", "acquiree_id", "acquired_on"], rows),
        {"table": "cb_acquisitions", "rows": FLAT_ACQS,
         "schema": [["acq_id", "bigint"], ["acquirer_id", "bigint"],
                    ["acquiree_id", "bigint"], ["acquired_on", "date"]],
         "nulls": {"acquired_on": FLAT_DIRTY}})
    # a member the pipeline does not target: parsed for its name only
    members["people.csv"] = (_csv(["person_id", "name"],
                                  [[i, "p%d" % i] for i in range(200)]), None)
    return members


def csv_drops(seed):
    """Loose dirty CSV files for CsvIngest.readCsvQuarantined."""
    rng = np.random.default_rng(seed + 1)
    files, clean, dirty = [], 0, 0
    for f in range(CSV_FILES):
        n = CSV_ROWS_PER_FILE
        bad = set(int(i) for i in rng.choice(n, int(n * CSV_DIRTY_SHARE), replace=False))
        ids = np.arange(f * n, (f + 1) * n).tolist()
        amt = [repr(a) for a in _cents(rng, n, 0.0, 10_000.0).tolist()]
        qty = [str(q) for q in rng.integers(0, 1000, n).tolist()]
        day = np.datetime_as_string(
            np.datetime64("2015-01-01") + rng.integers(0, 3000, n)).tolist()
        for i in bad:  # one unparseable field per dirty row
            if i % 2:
                amt[i] += "x"
            else:
                qty[i] = "n/a"
        lines = ["%d,item %d,%s,%s,%s\n" % r for r in zip(ids, ids, amt, qty, day)]
        files.append(("id,name,amount,qty,day\n" + "".join(lines)).encode("utf-8"))
        dirty += len(bad)
        clean += n - len(bad)
    return files, clean, dirty


def gen_ingest_flatfile(seed, out_dir):
    fx = fixture_tables()
    members = flatfile_members(seed, fx)
    served = os.path.join(out_dir, "ingest", "served", "bulk_export.tar.gz")
    os.makedirs(os.path.dirname(served), exist_ok=True)
    # gzip's header carries a time stamp: pin it, or the bytes vary per run
    with open(served, "wb") as raw, \
            gzip.GzipFile("bulk_export.tar", "wb", fileobj=raw, mtime=0) as gz, \
            tarfile.open(fileobj=gz, mode="w", format=tarfile.PAX_FORMAT) as tf:
        for name in sorted(members):
            data = members[name][0]
            info = tarfile.TarInfo(name)
            info.size = len(data)
            info.mtime = 1_700_000_000
            tf.addfile(info, io.BytesIO(data))
    tables = {v[1]["table"]: v[1] for v in members.values() if v[1]}
    files, clean, dirty = csv_drops(seed)
    csv_paths, csv_bytes = [], 0
    for i, data in enumerate(files):
        p = os.path.join(out_dir, "ingest", "drops", "drop-%02d.csv" % i)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        with open(p, "wb") as fh:
            fh.write(data)
        csv_paths.append(p)
        csv_bytes += len(data)
    li = fx["lineitem"]
    seed_bytes = _write(li, os.path.join(out_dir, "ingest", "lake", "lineitem.parquet"))
    return {
        "inputs": {
            "flatfile": {"rows": sum(t["rows"] for t in tables.values()),
                         "bytes": os.path.getsize(served),
                         "planted_dirty": FLAT_DIRTY * len(tables)},
            "csv": {"rows": clean + dirty, "bytes": csv_bytes, "planted_dirty": dirty},
            "seed": {"rows": li.num_rows, "bytes": seed_bytes}},
        "secret_name": SECRET_NAME, "csv_ddl": CSV_DDL,
        "expected_tables": tables,
        "expected_csv": {"clean": clean, "quarantined": dirty},
        "expected_seed_rows": li.num_rows}


def generate(workload, seed, out_dir, groups=(), hours=0):
    """Write the inputs of `workload` for `seed` under `out_dir`."""
    if workload == "query_mix":
        m = gen_query_mix(seed, out_dir, groups)
    elif workload == "etl_update":
        m = gen_etl_update(seed, out_dir, hours)
    elif workload == "ingest_flatfile":
        m = gen_ingest_flatfile(seed, out_dir)
    else:
        raise ValueError("unknown workload: %s" % workload)
    m["workload"], m["seed"] = workload, seed
    with open(os.path.join(out_dir, "manifest.json"), "w") as fh:
        json.dump(m, fh)
    return m
