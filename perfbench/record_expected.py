"""Record query_mix's expected answers and hold them against DuckDB.

Runs one pass of query_mix (every listed query once, on the generated
fixture), takes each result's fingerprint as the engine computed it, and
for every query that has an oracle (SparkEntry.oracleSql) runs the oracle
SQL in DuckDB over the same fixture and requires the same fingerprint.
Writes perfbench/expected_queries.json only if every oracle agrees.

    python3 perfbench/record_expected.py [--check]

--check compares against the recorded file instead of writing it.
"""
import json
import os
import sys
import time

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

EXPECTED = os.path.join(HERE, "expected_queries.json")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    check_only = "--check" in sys.argv[1:]
    cp = build.build()
    spec = run.load_spec()
    work = os.path.join(run.WORK, "record")
    run.shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    manifest, inputs, _ = run.generate("query_mix", 0, 0, spec, work)
    res = run.run_jvm(cp, "query_mix", inputs, 0, 0, len(os.sched_getaffinity(0)),
                      os.path.join(work, "harness.json"), time.monotonic() + 600)
    got = {o["name"]: o["detail"] for o in res["ops"] if o["ok"] and o["cycle"] == 1}
    missing = [q for q in manifest["query_order"] if q not in got]
    with open(os.path.join(inputs, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    for t in TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s/fixture/%s.parquet'" % (t, inputs, t))
    bad = list(missing)
    for q in sorted(got):
        if q not in oracle:
            print("%-28s no oracle" % q)
            continue
        rel = con.sql(oracle[q])
        fp = stats.fingerprint(rel.columns, rel.fetchall())
        ok = stats.same_fingerprint(fp, got[q])
        print("%-28s oracle %s" % (q, "match" if ok else "MISMATCH"))
        if not ok:
            bad.append(q)
            print("   engine %s\n   duckdb %s" % (json.dumps(got[q], sort_keys=True),
                                                json.dumps(fp, sort_keys=True)))
    if check_only:
        with open(EXPECTED) as fh:
            rec = json.load(fh)
        drift = [q for q in got if q not in rec or not stats.same_fingerprint(got[q], rec[q])]
        print("recorded answers: %s" % ("all match" if not drift else "DIFFER: %s" % drift))
        bad += drift
    elif not bad:
        with open(EXPECTED, "w") as fh:
            json.dump(got, fh, indent=1, sort_keys=True)
            fh.write("\n")
    if missing:
        print("failed to run: %s" % missing)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
