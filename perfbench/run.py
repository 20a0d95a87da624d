#!/usr/bin/env python3
"""graft benchmark: two seeded closed-loop workloads, checked for
correctness, with end-to-end metrics (untraced) or per-layer metrics
(traced). See perfbench/README.md.

Usage (from the repository root):
  python3 perfbench/run.py --workload etl_day --seed 1 --seconds 20 --trace 0

Builds the repository's Scala sources plus perfbench/src with the Scala
compiler shipped in Spark's jars (output under $CARGO_TARGET_DIR, default
.bench_build), generates the inputs from the seed, runs the workload in
one JVM on local[nproc], checks every output, and prints one JSON result
object as the last line of standard output.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402

T_START = time.time()
BUILD = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
RUN_LIMIT_S = 150     # the JVM's share of one run, excluding the build
SETUP_REPS = 3        # repetitions of the repeatable set-up step

# Input sizes, fixed per workload; only the seed varies between runs.
WORKLOADS = {
    "etl_day": {"orders": 2000, "history_orders": 6000, "history_days": 3,
                "bad_files": 3},
    "corpus": {"documents": 1000, "embeddings": 2000, "events": 5000},
}
LAYERS = ["sources", "flatten", "explode", "transform", "relational", "sinks",
          "dedup", "similarity", "text", "streaming"]
CORE = ["wall_s", "cpu_s", "busy_cores", "jobs", "stages", "shuffle_mb",
        "spill_mb", "scan_rows"]
EXTRA = ["sources.quarantined_rows", "explode.rows_out", "sinks.written_mb",
         "sinks.files", "dedup.scan_passes", "dedup.pair_yield",
         "similarity.peak_exec_mb", "streaming.batches", "streaming.state_rows",
         "persist.cached_mb"]
PER_LAYER = ([f"{l}.{k}" for l in LAYERS for k in CORE] + EXTRA +
             ["stored_bytes_ratio", "trace_overhead_s"])
END_TO_END = {"setup_s": "s", "run_s": "s", "task_cpu_s": "s",
              "peak_live_heap_mb": "MiB"}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, or the jars beside the spark-submit on the PATH."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return os.path.join(home or "", "jars")


SPARK_JARS = spark_jars()


def build():
    """Compiles the repository and the harness once per source state."""
    srcs = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    own = sorted(glob.glob("perfbench/src/**/*.scala", recursive=True))
    if not srcs or not own:
        fail("no Scala sources under src/main/scala and perfbench/src; "
             "run from the repository root")
    if not os.path.isdir(SPARK_JARS):
        fail(f"Spark jars not found at {SPARK_JARS} (set SPARK_HOME)")
    h = hashlib.sha256()
    for f in srcs + own:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()[:16]
    classes = os.path.join(BUILD, "perfbench", "classes")
    stamp_file = os.path.join(classes, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, stamp
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(SPARK_JARS, "*")
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp,
                        "scala.tools.nsc.Main",
                        "-nowarn", "-d", tmp, "-classpath", cp] + srcs + own,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail("compile failed")
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    return classes, stamp


def java_cmd(classes, work, args):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
    # A fixed-size heap and the throughput collector: G1's heap resizing
    # and concurrent cycles made pass times swing between runs. Lower JIT
    # thresholds: Spark's planning and scheduling code is a wide,
    # lukewarm code surface, and at the default thresholds pass times kept
    # falling by a third over the first three passes, by amounts that
    # differed from run to run.
    cmd = ["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC",
           "-XX:Tier3InvocationThreshold=100", "-XX:Tier3CompileThreshold=1000",
           "-XX:Tier4InvocationThreshold=1000", "-XX:Tier4CompileThreshold=3000",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(SPARK_JARS, "*"),
            "perfbench.Harness"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    return cmd


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ---- correctness -----------------------------------------------------------

def duck(work):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute("SET memory_limit='1GB'")
    con.execute(f"SET temp_directory='{work}/duckdb_tmp'")
    return con


SINKS = ["delivery_order_master", "delivery_order_work", "events_info_temp",
         "schedule_events_info_temp", "reschedule_events_info_temp", "packages_temp",
         "delivery_order_visit_order"]
REPORT = {"orders": "delivery_order_work", "events": "events_info_temp",
          "schedules": "schedule_events_info_temp",
          "reschedules": "reschedule_events_info_temp", "packages": "packages_temp"}


def check_sinks(con, p, landed_bytes):
    """Digests (row count + summed row hashes) and row counts of one
    etl_day pass's sinks, and the parquet bytes it left."""
    digests = {}
    for t in SINKS:
        files = "*/*.parquet" if t == "delivery_order_master" else "*.parquet"
        digests[t] = con.execute(
            f"SELECT count(*), sum(hash(t)) FROM read_parquet('{p['out']}/{t}/{files}', "
            "hive_partitioning=1) t").fetchone()
    sizes = [os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(p["out"])
             for f in fs if f.endswith(".parquet")]
    p["digests"] = digests
    # a traced pass has no RunReport: count its sinks the way Main.run does
    report = {k: p["report"].get(k, digests[t][0]) for k, t in REPORT.items()}
    p["report"] = dict(report, corrupt_files=p["report"].get("corrupt_files"))
    p["stored_bytes_ratio"] = sum(sizes) / landed_bytes
    p["written_mb"] = sum(sizes) / 1048576
    p["files"] = len(sizes)


def landed(day_in):
    """The landed day's parseable records and its count of corrupt files."""
    recs, corrupt = [], 0
    for f in sorted(glob.glob(os.path.join(day_in, "**", "*.json"), recursive=True)):
        try:
            recs += json.load(open(f))
        except ValueError:
            corrupt += 1
    return recs, corrupt


def fixture_counts(recs, corrupt):
    """The run report the landed day should produce."""
    c = {"orders": len(recs), "corrupt_files": corrupt}
    for key, field in [("events", "events_info_json"),
                       ("schedules", "schedule_events_info_json"),
                       ("reschedules", "reschedule_events_info_json"),
                       ("packages", "packages_json")]:
        c[key] = sum(len(r.get(field) or []) for r in recs)
    return c


def check_upsert(con, history, merged, recs, redelivered):
    """The upsert law, replayed in DuckDB against the landed JSON: every
    id delivered today has exactly one merged row, carrying today's
    values; every other history row is unchanged, all columns."""
    import pandas as pd
    today = pd.DataFrame({
        "id": [r["delivery_order_id"] for r in recs],
        "code": [r["code"] for r in recs],
        "recycling": [r["recycling"] for r in recs],
        "attempts": [r["delivery_attemps"] for r in recs],
        "created": [r["created_date"][:19].replace("T", " ") for r in recs],
        "promised": [r["promised_date"] for r in recs],
        "street": [r["destination"]["street"] for r in recs],
        "number": [r["destination"]["number"] for r in recs]})
    con.register("today", today)
    for name, path in (("history", history), ("merged", merged)):
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet("
                    f"'{path}/*/*.parquet', hive_partitioning=1)")
    cols = ", ".join(f'"{r[0]}"' for r in con.execute("DESCRIBE merged").fetchall())
    overlap, = con.execute("SELECT count(*) FROM history WHERE delivery_order_id IN "
                           "(SELECT id FROM today)").fetchone()
    kept = con.execute(f"""SELECT
        (SELECT count(*) FROM (SELECT {cols} FROM merged WHERE delivery_order_id NOT IN
           (SELECT id FROM today) EXCEPT ALL SELECT {cols} FROM history
           WHERE delivery_order_id NOT IN (SELECT id FROM today))),
        (SELECT count(*) FROM (SELECT {cols} FROM history WHERE delivery_order_id NOT IN
           (SELECT id FROM today) EXCEPT ALL SELECT {cols} FROM merged
           WHERE delivery_order_id NOT IN (SELECT id FROM today)))""").fetchone()
    took, = con.execute("""SELECT count(*) FROM today t JOIN merged m
        ON m.delivery_order_id = t.id AND m.code = t.code AND m.recycling = t.recycling
        AND m.delivery_attemps = t.attempts AND m.created_date = t.created
        AND m.promised_date = t.promised AND m.destination_street = t.street
        AND m.destination_number = t.number""").fetchone()
    rows, = con.execute("SELECT count(*) FROM merged WHERE delivery_order_id IN "
                        "(SELECT id FROM today)").fetchone()
    ok = kept == (0, 0) and took == rows == len(recs) and overlap == redelivered
    print(f"check upsert_law: {'PASS' if ok else 'FAIL'} (re-delivered {overlap}; "
          f"today's ids {len(recs)}, merged rows {rows}, with today's values {took}; "
          f"other history rows changed {kept[0]}/{kept[1]})")
    return ok


def canon(v):
    if v is None:
        return "NULL"
    return repr(v) if isinstance(v, float) else str(v)


def check_oracle(con, inputs, results, names):
    """Each query's result against its oracle SQL in DuckDB, floats
    compared bit for bit. Returns the names that failed."""
    for t in ["documents", "embeddings", "events"]:
        p = os.path.join(inputs, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(os.path.join(results, "oracle_sql.json")))
    failed = [q for q in names if q not in oracle]
    for q in sorted(oracle):
        src = f"SELECT * FROM read_parquet('{results}/{q}/*.parquet')"
        why = None
        try:
            s = con.execute(src).fetchdf()
            d = con.execute(oracle[q]).fetchdf()
            types = [r[1] for r in con.execute(f"DESCRIBE ({src})").fetchall()]
            if any("DECIMAL" in t or "HUGEINT" in t for t in types):
                why = "DECIMAL output column"
            elif sorted(s.columns) != sorted(d.columns):
                why = f"columns {sorted(s.columns)} vs {sorted(d.columns)}"
            elif len(s) != len(d):
                why = f"rows {len(s)} vs {len(d)}"
            else:
                cs = sorted(s.columns)
                s = s[cs].sort_values(cs, na_position="first")
                d = d[cs].sort_values(cs, na_position="first")
                for c in cs:
                    if [canon(x) for x in s[c].tolist()] != [canon(x) for x in d[c].tolist()]:
                        why = f"values differ in column {c}"
                        break
        except Exception as e:  # noqa: BLE001 - any engine error fails the query
            why = f"error {e}"
        print(f"check oracle {q}: {'PASS' if why is None else 'FAIL ' + why}")
        if why:
            failed.append(q)
    return failed


# ---- main -------------------------------------------------------------------

def main():
    # a terminated run stops its JVM too: subprocess.run kills the child
    # when the wait is interrupted by the SystemExit raised here
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    t = time.time()
    classes, stamp = build()
    t0 = T_START + (time.time() - t)  # set-up excludes the build
    deadline = t0 + RUN_LIMIT_S
    work = os.path.join(BUILD, "perfbench", "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    sizes = WORKLOADS[a.workload]
    nproc = len(os.sched_getaffinity(0))

    spans = os.path.join(BUILD, "perfbench", f"{a.workload}.spans.jsonl")
    args = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "work": work, "cpus": nproc, "t0": t0, "spans": spans}
    gen_times = []
    if a.workload == "etl_day":
        args.update(sizes)
    else:
        inputs = os.path.join(work, "inputs")
        for r in range(SETUP_REPS):  # repeated so set-up reports a median
            t = time.time()
            shutil.rmtree(inputs, ignore_errors=True)
            gen.write(inputs, a.seed, sizes)
            gen_times.append(time.time() - t)
        args["inputs"] = inputs
    args["gen_extra_s"] = sum(gen_times) - median(gen_times)

    log_path = os.path.join(BUILD, "perfbench", f"{a.workload}.log")
    with open(log_path, "w") as log:
        try:
            r = subprocess.run(java_cmd(classes, work, args), stdout=subprocess.PIPE,
                               stderr=log, text=True, timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            fail(f"workload did not finish in {RUN_LIMIT_S} s; log: {log_path}")
    lines = [l for l in r.stdout.splitlines() if l.startswith("PERFBENCH ")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(open(log_path).read()[-4000:])
        fail(f"harness exited with {r.returncode}; log: {log_path}")
    res = json.loads(lines[-1][len("PERFBENCH "):])
    passes, checks = res["passes"], res["checks"]
    plain = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]

    # the host's steal during each pass: a contended run shows in its own output
    env = dict(res["env"], rev=stamp, workload=a.workload, trace=a.trace,
               steal_pct_per_pass=[round(p["steal_pct"], 1) for p in passes])
    print("env " + json.dumps(env, sort_keys=True))
    print("sizes " + json.dumps(res["sizes"], sort_keys=True))

    # correctness, outside every timed window
    attempted = sum(p["ops"] for p in passes)
    failed = sum(p["failed"] for p in passes) + res["env"]["warmup_failed"]
    ok = True
    con = duck(work)
    if a.workload == "etl_day":
        recs, corrupt = landed(checks["day_in"])
        want = fixture_counts(recs, corrupt)
        landed_bytes = sum(os.path.getsize(os.path.join(d, f))
                           for d, _, fs in os.walk(checks["day_in"]) for f in fs)
        for p in passes:
            try:
                check_sinks(con, p, landed_bytes)
            except Exception as e:  # noqa: BLE001 - a missing or unreadable sink fails the pass
                print(f"check pass {p['pass']}: FAIL reading its sinks: {e}")
                p.update(digests=None, stored_bytes_ratio=0.0, written_mb=0.0, files=0)
        # every pass, traced replays included, must equal the first Main.run
        first = plain[0]
        for p in passes:
            bad = p["report"] != want or p["digests"] != first["digests"]
            if bad:
                print(f"check pass {p['pass']}: FAIL report {p['report']} vs fixture {want}, "
                      f"sinks equal to pass {first['pass']}: {p['digests'] == first['digests']}")
            failed += int(bad and p["failed"] == 0)
        print(f"check run_report_counts + sink_digests ({len(traced)} traced replays): "
              f"{len(passes)} passes, fixture {want}")
        ok = check_upsert(con, checks["history"],
                          os.path.join(first["out"], "delivery_order_master"),
                          recs, sizes["orders"] // 5)
    else:
        bad = check_oracle(con, args["inputs"], checks["results"], checks["written"])
        for q in bad:
            failed += len(passes)
    if not ok:
        failed = attempted
    failed = min(failed, attempted)
    correct = failed == 0 and ok

    def m(xs, key):
        return median([p[key] for p in xs])
    run_s = [p["run_s"] for p in plain]
    e2e = {"setup_s": res["setup_s"], "run_s": median(run_s),
           "task_cpu_s": m(plain, "task_cpu_s"),
           "peak_live_heap_mb": m(plain, "peak_live_heap_mb")}
    print(f"passes {len(plain)} untraced, {len(traced)} traced; "
          f"run_s max {max(run_s):.4f} s (highest percentile {len(run_s)} samples support)")
    for k, v in e2e.items():
        print(f"{k} {v:.4f} {END_TO_END[k]}")
    if a.workload == "etl_day":
        print(f"stored_bytes_ratio {m(plain, 'stored_bytes_ratio'):.4f} bytes/byte")
    print(f"error_rate {failed / attempted:.4f} ({failed} of {attempted} operations)")

    if a.trace:
        metrics = {}
        for k in PER_LAYER:
            metrics[k] = median([p["layers"].get(k, 0.0) for p in traced])
        if a.workload == "etl_day":
            metrics["sinks.written_mb"] = m(traced, "written_mb")
            metrics["sinks.files"] = m(traced, "files")
            metrics["stored_bytes_ratio"] = m(traced, "stored_bytes_ratio")
        docs = checks.get("docs") or 0
        if docs:
            metrics["dedup.scan_passes"] = metrics["dedup.scan_rows"] / docs
        metrics["dedup.pair_yield"] = checks.get("pair_yield", 0.0)
        metrics["trace_overhead_s"] = m(traced, "run_s") - median(run_s)
        for k in PER_LAYER:
            print(f"{k} {metrics[k]:.6g}")
        print(f"spans {spans}")
        out = {k: {"value": metrics[k], "unit": unit(k)} for k in PER_LAYER}
    else:
        out = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out}))


def unit(k):
    tail = k.rsplit(".", 1)[-1]
    return {"wall_s": "s", "cpu_s": "s", "busy_cores": "cores", "jobs": "count",
            "stages": "count", "shuffle_mb": "MiB", "spill_mb": "MiB",
            "scan_rows": "rows", "quarantined_rows": "rows", "rows_out": "rows",
            "written_mb": "MiB", "files": "count", "scan_passes": "ratio",
            "pair_yield": "ratio", "peak_exec_mb": "MiB", "batches": "count",
            "state_rows": "rows", "cached_mb": "MiB", "stored_bytes_ratio": "ratio",
            "trace_overhead_s": "s"}[tail]


if __name__ == "__main__":
    main()
