"""The repo's benchmark: one command, three workloads, one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see BENCHMARK.json and perfbench/spec.json):
  query_mix        frozen SparkEntry.queries rows over a generated fixture
  etl_update       hourly UpdatePipeline + streaming upsert + snapshot read
  ingest_flatfile  tar.gz flatfile pipeline, quarantined CSV read, seed

Steps: build the program and the harness from source (perfbench/build.py),
generate the seed's inputs three times (perfbench/gen.py; set-up is timed
each time and the copies must agree), run the workload in one JVM for
--seconds in a closed loop with one client (perfbench/src), check every
output against the generator's expected state, and print one JSON object
as the last line of stdout. --trace 0 reports the end-to-end metrics;
--trace 1 reports the per-layer metrics of a traced run and writes its
spans to .perfbench/work/<workload>/trace.json.

BENCHMARK.json lists query_mix and etl_update; perfbench/spec.json says
why, what op1..op3 mean, and the HEAD numbers. Tests of the benchmark's
own arithmetic: python3 perfbench/test_perfbench.py. After a change that
alters a query's answer on purpose: python3 perfbench/record_expected.py.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

ROOT = build.ROOT
WORK = os.path.join(ROOT, ".perfbench", "work")
SETUPS = 3
JVM_TIMEOUT_S = 165
QUERY_MODULES = [
    "etl.EtlQueries", "ops.RelationalQueries", "ops.ScalarQueries",
    "ops.EventQueries", "ops.GraphQueries", "llm.TextQueries",
    "llm.CorpusQueries", "llm.DedupQueries", "llm.QualityClassifier",
    "llm.ZipfContracts", "llm.SimilarityQueries", "llm.Multimodal"]
LAYERS = ["queries", "etl", "streaming", "checkpoints", "spark"]
SPARK_SUMS = ["jobs", "stages", "tasks", "executions", "aqe_updates",
              "task_wait_s", "task_run_s", "task_cpu_s", "shuffle_write_bytes",
              "shuffle_read_bytes", "shuffle_fetch_wait_s", "spill_bytes",
              "gc_s", "tasks_failed"]


def load_spec():
    with open(os.path.join(HERE, "spec.json")) as fh:
        return json.load(fh)


ETL_HOUR_S = 4.0    # about what one measured etl_update hour takes
# Fewer leave the per-op medians too noisy. With 7, hours 2-8 are measured
# and hour 8's stream commit is D's 8th delta, which compacts the stack.
ETL_MIN_HOURS = 7


def etl_hours(seconds):
    """Hours of source versions to generate: one warm-up hour and the
    measured ones, a fixed count sized from the run length, so every run
    of a commit does the same work."""
    return 1 + max(ETL_MIN_HOURS, round(seconds / ETL_HOUR_S))


def generate(workload, seed, seconds, spec, work):
    """Set up the inputs SETUPS times; keep the first copy.

    Returns (manifest, input dir, generation times)."""
    groups = spec["query_mix"]["groups"]
    ordered = [groups[g] for g in spec["op_kinds"]["query_mix"]]
    times, manifests = [], []
    for i in range(SETUPS):
        d = os.path.join(work, "inputs%d" % i)
        t0 = time.perf_counter()
        m = gen.generate(workload, seed, d, groups=ordered,
                         hours=etl_hours(seconds))
        times.append(time.perf_counter() - t0)
        manifests.append(m)
        if i:
            shutil.rmtree(d)
    if any(m != manifests[0] for m in manifests):
        raise RuntimeError("the generator is not deterministic for seed %d" % seed)
    m = manifests[0]
    if workload == "query_mix":
        m["query_groups"] = groups
        with open(os.path.join(work, "inputs0", "manifest.json"), "w") as fh:
            json.dump(m, fh)
    return m, os.path.join(work, "inputs0"), times


def run_jvm(cp, workload, inputs, seconds, trace, cores, out, deadline):
    tmp = os.path.join(inputs, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = build.java_cmd(cp, tmp) + [
        "perfbench.Harness", workload, inputs, str(seconds), str(trace),
        str(cores), out]
    log = open(os.path.join(inputs, "harness.log"), "w")
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
    try:
        rc = p.wait(timeout=max(10.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise RuntimeError("harness timed out")
    finally:
        log.close()
    if rc != 0 or not os.path.isfile(out):
        with open(os.path.join(inputs, "harness.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise RuntimeError("harness exited with %d" % rc)
    with open(out) as fh:
        return json.load(fh)


# ------------------------------------------------------------------ checks

def check_query_mix(res, manifest):
    """Timed executions whose result fingerprint differs from the one
    recorded with the benchmark (perfbench/expected_queries.json)."""
    with open(os.path.join(HERE, "expected_queries.json")) as fh:
        expected = json.load(fh)
    return {(o["kind"], o["name"], o["cycle"]) for o in res["ops"]
            if o["ok"] and (o["name"] not in expected or not
                            stats.same_fingerprint(o["detail"], expected[o["name"]]))}


def check_etl_update(res, manifest):
    obs = res["observations"]
    bad = set()
    for key, v in obs.items():
        if key.startswith("read_"):
            if v["answer"] != manifest["expected_read"][int(key[5:]) - 1]:
                bad.add(("read", "read", v["cycle"]))
    f = obs.get("final")
    if f is None or f["u_answer"] != manifest["expected_u"][f["hour"] - 1]:
        bad.add(("update", "update", f["cycle"] if f else 0))
    return bad


def check_ingest_flatfile(res, manifest):
    bad = set()
    exp_tables = manifest["expected_tables"]
    for key, v in res["observations"].items():
        if not key.startswith("cycle_"):
            continue
        c = int(key[6:])
        flat = v["flatfile"]
        ok = flat is not None and set(flat) == set(exp_tables) and all(
            flat[t]["rows"] == e["rows"]
            and flat[t]["schema"] == e["schema"]
            and flat[t]["nulls"] == e["nulls"]
            for t, e in exp_tables.items())
        if not ok:
            bad.add(("flatfile", "flatfile", c))
        ec = manifest["expected_csv"]
        if v["csv"] != [ec["clean"], ec["quarantined"]]:
            bad.add(("csv", "csv", c))
        if v["seed_rows"] != manifest["expected_seed_rows"]:
            bad.add(("seed", "seed", c))
    return bad


CHECKS = {"query_mix": check_query_mix, "etl_update": check_etl_update,
          "ingest_flatfile": check_ingest_flatfile}


# ----------------------------------------------------------------- metrics

def end_to_end(res, gen_times, kinds):
    ops = [o for o in res["ops"] if o["ok"]]
    # each set-up generates the inputs and starts a session; the
    # workload's warm-up is not repeated, so it stays out of the median
    setup = stats.median([g + s for g, s in zip(gen_times, res["session_start_s"])])
    m = {"setup_s": (setup, "s"),
         "wall_s": (stats.median(res["cycles"]), "s")}
    for i, k in enumerate(kinds, 1):
        m["op%d_s" % i] = (stats.kind_time(ops, k), "s")
    value, pct, n = stats.tail([o["s"] for o in ops])
    m["tail_s"] = (value, "s")
    print("perfbench: tail_s is p%.1f of %d op samples" % (pct, n), file=sys.stderr)
    return m


def per_layer(res, manifest, workload, cores):
    """Per-layer metrics of a traced run, each per cycle."""
    tr = res["trace"]
    spans = [dict(zip(("id", "parent", "name", "start", "end", "cycle"), s))
             for s in tr["spans"]]
    scale = 1.0 / len(res["cycles"])
    by_id = {s["id"]: s for s in spans}
    op_spans = [s for s in spans if s["parent"] == 0]
    # Spark jobs are children of the span that started them
    job_spans = [{"id": -i - 1, "parent": o, "name": "spark.job", "start": a, "end": b}
                 for i, (o, a, b) in enumerate(tr["jobs"]) if o in by_id]
    selfs = stats.self_times(spans + job_spans)
    m = {}

    def put(name, value, unit):
        m[name] = (float(value), unit)

    def counter(span_ids, key):
        return sum(tr["counters"].get(str(i), {}).get(key, 0.0) for i in span_ids)

    every = [s["id"] for s in spans]
    for k in SPARK_SUMS:
        unit = "bytes" if k.endswith("bytes") else "s" if k.endswith("_s") else "count"
        put("spark." + k, counter(every, k) * scale, unit)
    put("spark.max_task_s", max((c.get("max_task_s", 0.0) for c in tr["counters"].values()),
                                default=0.0), "s")

    def attributed(events):
        """Events (time first) that fall inside a traced span, with it."""
        for e in events:
            s = stats.innermost(spans, e[0])
            if s is not None:
                yield s, e

    put("spark.plan_s", sum(e[1] for _, e in attributed(tr["planning"])) * scale, "s")
    op_time = sum(s["end"] - s["start"] for s in op_spans) / 1e6
    gap = sum((s["end"] - s["start"]) - stats.union_length(
        [(j["start"], j["end"]) for j in job_spans], s["start"], s["end"])
        for s in op_spans) / 1e6
    put("spark.driver_gap_s", gap * scale, "s")
    put("spark.core_util",
        counter(every, "task_run_s") / (op_time * cores) if op_time else 0.0, "ratio")

    put("sources.input_rows", counter(every, "input_rows") * scale, "rows")
    put("sources.input_bytes", counter(every, "input_bytes") * scale, "bytes")
    quarantined = [v["csv"][1] for k, v in res["observations"].items()
                   if k.startswith("cycle_") and v["csv"] is not None]
    put("sources.quarantined_rows",
        stats.median(quarantined) if quarantined else 0.0, "rows")

    put("etl.output_rows", counter(every, "output_rows") * scale, "rows")
    put("etl.output_bytes", counter(every, "output_bytes") * scale, "bytes")
    write_amp, depths, space_amp, compactions = 0.0, [], 0.0, 0.0
    if workload == "etl_update":
        per_op = []
        for name in ("etl.updatePipeline", "streaming.upsertSink"):
            ids = [s["id"] for s in op_spans if s["name"] == name]
            per_op.append(counter(ids, "output_bytes") / len(ids) if ids else 0.0)
        write_amp = sum(per_op) / stats.median(manifest["change_bytes"])
        depths = [v["depth"] for k, v in res["observations"].items()
                  if k.startswith("read_") and v["cycle"] > 0]
        f = res["observations"]["final"]
        space_amp = f["disk_bytes"] / f["plain_bytes"]
        # a stream commit that leaves no delta stacked folded the stack
        compactions = sum(1 for d in depths if d == 0) / len(res["cycles"])
    put("etl.write_amp", write_amp, "ratio")
    put("etl.delta_depth_mean", sum(depths) / len(depths) if depths else 0.0, "count")
    put("etl.compactions", compactions, "count")
    put("etl.commit_conflicts",
        sum("ConcurrentCommitException" in e for e in res["errors"]), "count")
    put("etl.space_amp", space_amp, "ratio")

    prog = list(attributed(tr["progress"]))
    for i, k in enumerate(["add_batch_s", "wal_commit_s", "query_planning_s"], 1):
        put("streaming." + k, sum(e[i] for _, e in prog) * scale, "s")
    stream_time = sum(s["end"] - s["start"] for s in op_spans
                      if s["name"] == "streaming.upsertSink") / 1e6
    put("streaming.startup_s", (stream_time - sum(e[4] for _, e in prog)) * scale, "s")

    for mod in QUERY_MODULES:
        t = sum(s["end"] - s["start"] for s in spans
                if s["name"].startswith("queries.%s." % mod)) / 1e6
        put("queries.%s_s" % mod, t * scale, "s")

    blocks = list(attributed(tr["blocks"]))
    put("checkpoints.blocks", sum(e[2] for _, e in blocks) * scale, "count")
    put("checkpoints.block_bytes_peak", max((e[1] for _, e in blocks), default=0), "bytes")
    put("checkpoints.release_s", sum(selfs[s["id"]] for s in spans
                                     if s["name"] == "checkpoints.freeingAfter") / 1e6 * scale, "s")

    layers = {}
    for s in spans + job_spans:
        layer = stats.layer_of(s["name"])
        layers[layer] = layers.get(layer, 0) + selfs[s["id"]]
    for layer in LAYERS:
        put("self.%s_s" % layer, layers.get(layer, 0) / 1e6 * scale, "s")

    # the tracing overhead is this against wall_s of an untraced run
    put("trace.wall_s", stats.median(res["cycles"]), "s")
    return m, spans, job_spans, selfs


def write_trace(path, run_id, spans, job_spans, selfs, metrics):
    """The trace artifact: every span (µs, with its self time) tagged with
    the run it belongs to, and the run's per-layer metrics."""
    with open(path, "w") as fh:
        json.dump({"run_id": run_id,
                   "spans": [dict(s, run_id=run_id, self_us=selfs[s["id"]]) for s in spans],
                   "jobs": [dict(j, run_id=run_id, self_us=selfs[j["id"]]) for j in job_spans],
                   "layer_metrics": {k: v[0] for k, v in metrics.items()}}, fh)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(CHECKS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    try:
        cp = build.build()
    except build.BuildError as e:
        print("perfbench: build failed: %s" % e, file=sys.stderr)
        return 2
    # a run must end within 180 s; only a run that compiled may take longer
    deadline = time.monotonic() + JVM_TIMEOUT_S
    work = os.path.join(WORK, a.workload)
    # destinations and inputs of earlier runs go first: disk use stays flat
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spec = load_spec()
    kinds = spec["op_kinds"][a.workload]
    manifest, inputs, gen_times = generate(a.workload, a.seed, a.seconds, spec, work)
    cores = len(os.sched_getaffinity(0))
    res = run_jvm(cp, a.workload, inputs, a.seconds, a.trace, cores,
                  os.path.join(work, "harness.json"), deadline)
    # wrong results, as (kind, name, cycle); cycle 0 is set-up or warm-up,
    # which has no timed op but still makes the run incorrect
    wrong = CHECKS[a.workload](res, manifest)
    attempted = len(res["ops"])
    failed = sum(1 for o in res["ops"]
                 if not o["ok"] or (o["kind"], o["name"], o["cycle"]) in wrong)
    timed = {(o["kind"], o["name"], o["cycle"]) for o in res["ops"]}
    for e in res["errors"]:
        print("perfbench: error: %s" % e, file=sys.stderr)
    for w in sorted(wrong, key=str):
        print("perfbench: wrong result: %s" % (w,), file=sys.stderr)
    if a.trace:
        metrics, spans, job_spans, selfs = per_layer(res, manifest, a.workload, cores)
        run_id = "%s-%d-%d" % (a.workload, a.seed, time.time())
        write_trace(os.path.join(work, "trace.json"), run_id, spans, job_spans,
                    selfs, metrics)
    else:
        metrics = end_to_end(res, gen_times, kinds)
    print("perfbench: %s inputs %s" % (a.workload, json.dumps(manifest["inputs"])),
          file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0 and not res["errors"] and wrong <= timed,
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
