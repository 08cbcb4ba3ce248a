#!/usr/bin/env python3
"""Local replica of the driver's correctness gate (dev tool only; the engine
itself is pure Scala/Spark).

Runs graft.Verify at a given SF dir, then executes each oracle_sql.json entry
in DuckDB over the same parquet fixtures and compares row-by-row with columns
sorted by name, doubles compared to 1e-9 relative. Also compares the EXACT
result types of each column (DuckDB's view of the Spark parquet vs the oracle
relation): the driver's hash covers the serialized type, so e.g. an oracle
whose SUM(BIGINT) silently widens to HUGEINT fails the driver even when every
value is equal — this gate must see that class locally (q226 escape, r8).
Usage:

    python3 tools/local_verify.py [sfDir] [outDir] [--skip-spark]

Exit 0 iff every oracle-checked query passes AND tools/check_citations.py
passes; a failed citation check is reported after the comparison, which
still runs.
"""
import json, math, subprocess, sys
from pathlib import Path

import duckdb

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def run_spark():
    cmd = ["sbt", f'runMain graft.Verify {SF} {OUT}']
    r = subprocess.run(cmd, cwd="/root/repo", capture_output=True, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], r.stderr[-4000:])
        sys.exit("verify run failed")
    for line in r.stdout.splitlines():
        if "[verify]" in line:
            print(line)


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    return v


def eq(a, b):
    a, b = norm(a), norm(b)
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def check_citations():
    """Run the citation gate; return its verdict line, or None if it passed."""
    r = subprocess.run(
        [sys.executable, "/root/repo/tools/check_citations.py"],
        capture_output=True, text=True)
    print(r.stdout.strip())
    if r.returncode == 0:
        return None
    return "citation check failed: " + (r.stdout.strip().splitlines() or
                                         [r.stderr.strip()])[-1]


def main():
    # the oracle comparison runs whatever the citation verdict; both count
    cite_fail = check_citations()
    if "--skip-spark" not in sys.argv:
        run_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    oracle = json.loads(Path(f"{OUT}/oracle_sql.json").read_text())
    # honor graft.Verify's SPARK_GRAFT_ONLY filter: compare only the queries
    # that were actually dumped, so a targeted run reports N/N instead of
    # drowning in SPARK-READ-FAIL noise for the skipped rest
    import os
    only = os.environ.get("SPARK_GRAFT_ONLY")
    if only:
        keep = {q.strip() for q in only.split(",")}
        oracle = {k: v for k, v in oracle.items() if k in keep}
    results = {}
    for name, sql in sorted(oracle.items()):
        try:
            spark_rel = con.sql(
                f"SELECT * FROM '{OUT}/{name}/*.parquet'")
            sn = list(spark_rel.columns)
            stypes = [str(t) for t in spark_rel.types]
            sdata = spark_rel.fetchall()
        except Exception as e:
            results[name] = f"SPARK-READ-FAIL {e}"
            continue
        try:
            ducked = con.sql(sql)
            dn = list(ducked.columns)
            dtypes = [str(t) for t in ducked.types]
            ddata = ducked.fetchall()
        except Exception as e:
            results[name] = f"ORACLE-FAIL {e}"
            continue
        if sorted(sn) != sorted(dn):
            results[name] = f"SCHEMA-MISMATCH spark={sorted(sn)} duck={sorted(dn)}"
            continue
        stypemap = dict(zip(sn, stypes))
        dtypemap = dict(zip(dn, dtypes))
        tbad = [(c, stypemap[c], dtypemap[c]) for c in sorted(sn)
                if stypemap[c] != dtypemap[c]]
        if tbad:
            results[name] = ("TYPE-MISMATCH " + "; ".join(
                f"{c}: spark={st} duck={dt}" for c, st, dt in tbad))
            continue
        sperm = sorted(range(len(sn)), key=lambda i: sn[i])
        dperm = sorted(range(len(dn)), key=lambda i: dn[i])
        srows = [tuple(r[i] for i in sperm) for r in sdata]
        drows = [tuple(r[i] for i in dperm) for r in ddata]
        if len(srows) != len(drows):
            results[name] = f"ROWCOUNT spark={len(srows)} duck={len(drows)}"
            continue
        # the r10 vacuity lesson (q271's empty 3-core, q14's orphan-free
        # fixture): a declared query that returns 0 rows at the gate SF is
        # "green" without ever exercising its own semantics — fail it
        if len(srows) == 0:
            results[name] = "VACUOUS (0 rows at the gate SF)"
            continue
        bad = None
        for i, (sr, dr) in enumerate(zip(srows, drows)):
            if not all(eq(a, b) for a, b in zip(sr, dr)):
                bad = (i, sr, dr)
                break
        results[name] = "OK" if bad is None else f"VALUE-MISMATCH row {bad[0]}: spark={bad[1]} duck={bad[2]}"
    n_ok = sum(1 for v in results.values() if v == "OK")
    for name, v in sorted(results.items()):
        print(f"{'PASS' if v == 'OK' else 'FAIL'} {name}: {v if v != 'OK' else ''}")
    print(f"\n{n_ok}/{len(results)} oracle-checked queries pass")
    print(cite_fail or "citation check passed")
    sys.exit(0 if n_ok == len(results) and not cite_fail else 1)


if __name__ == "__main__":
    main()
