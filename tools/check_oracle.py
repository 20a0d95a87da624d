#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness compare.

Reads each Spark result parquet under OUT_DIR/<name>/, runs the matching
oracle SQL from OUT_DIR/oracle_sql.json in DuckDB over the sf parquet
tables, sorts columns by name on both sides, and compares row count,
schema (column names), and values.

Usage: check_oracle.py <sf_dir> <out_dir> [name1,name2,...] [--strict]
       [--memory-limit=8GB] [--threads=4]

An optional name list restricts the compare to those query names (local
iteration after a filtered Verify run).

Default mode compares floats to 9 significant digits. --strict compares
floats by shortest-round-trip repr (bit-exact doubles) — the discipline
the driver's hash actually demands. Both modes flag DECIMAL-typed output
columns on either side: the r06 x61/x83 failure class is value-equal
DECIMAL that serializes differently per engine ('13.9000' vs 13.9), which
a both-sides-through-DuckDB value compare cannot see. A DECIMAL output is
a FAIL in strict mode and a loud WARN otherwise.

Resource bounds (ROUND 9): the oracle connection is capped by DuckDB's
`memory_limit` (default 8GB, spill to a temp dir), `threads` (default 4),
and `max_temp_directory_size` (default 16GB), overridable via
--memory-limit/--threads/--temp-size or the CHECK_ORACLE_MEMORY /
CHECK_ORACLE_THREADS / CHECK_ORACLE_TEMP env vars. Without the memory
cap, DuckDB sizes itself to ~80% of PHYSICAL RAM per process — three
concurrent sf0.3 replays each assumed the whole box and the x90
recursive-CTE oracle OOM'd (the r8 asterisk: harness contention
misreading as a red). Without the spill cap, one big replay's temp
storage can transiently exhaust the shared disk and starve its
NEIGHBORS' spills (observed: an uncapped sf1.0 replay failed three
sf0.3 queries running beside it). With all three caps, batch replays
are safe to run concurrently.
"""
import json
import os
import shutil
import sys
import tempfile

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

STRICT = "--strict" in sys.argv
# positional args with every --flag filtered out, wherever the flag sits
ARGS = [a for a in sys.argv[1:] if not a.startswith("--")]
USAGE = __doc__[__doc__.index("Usage:"):].split("\n\n")[0]


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return repr(v) if STRICT else f"{v:.9g}"
    return str(v)


def decimal_cols(con, query):
    """Column names with DECIMAL-family types in the query's result schema."""
    rows = con.execute(f"DESCRIBE {query}").fetchall()
    return [r[0] for r in rows if "DECIMAL" in r[1].upper() or "HUGEINT" in r[1].upper()]


def _flag(name, env, default):
    for a in sys.argv:
        if a.startswith(f"--{name}="):
            return a.split("=", 1)[1]
    return os.environ.get(env, default)


def main(sf_dir, out_dir):
    # spill dir removed on exit (concurrent batch replays — the stated use
    # case — must not accumulate check_oracle_spill_* on the shared disk)
    spill = tempfile.mkdtemp(prefix="check_oracle_spill_")
    try:
        return _run(sf_dir, out_dir, spill)
    finally:
        shutil.rmtree(spill, ignore_errors=True)


def _run(sf_dir, out_dir, spill):
    con = duckdb.connect()
    con.execute(f"SET memory_limit='{_flag('memory-limit', 'CHECK_ORACLE_MEMORY', '8GB')}'")
    con.execute(f"SET threads={int(_flag('threads', 'CHECK_ORACLE_THREADS', '4'))}")
    con.execute(f"SET temp_directory='{spill}'")
    con.execute(f"SET max_temp_directory_size='{_flag('temp-size', 'CHECK_ORACLE_TEMP', '16GB')}'")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    names = ARGS[2:]
    if names:
        only = set(names[0].split(","))
        oracle = {k: v for k, v in oracle.items() if k in only}
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        spark_src = f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')"
        try:
            spark = con.execute(spark_src).fetchdf()
            duck = con.execute(sql).fetchdf()
        except Exception as e:
            print(f"FAIL {name}: exec error: {e}")
            n_fail += 1
            continue
        # serialization-fragile output types: the driver hashes each side's
        # own serialization, so equal VALUES are not enough
        fragile = sorted(set(decimal_cols(con, f"({spark_src})") +
                             decimal_cols(con, f"({sql})")))
        if fragile:
            msg = (f"{name}: DECIMAL output columns {fragile} — driver hash "
                   f"fails on serialization even when values match; cast to "
                   f"DOUBLE/BIGINT in the final select")
            if STRICT:
                print(f"FAIL {msg}")
                n_fail += 1
                continue
            print(f"WARN {msg}")
        s_cols, d_cols = sorted(spark.columns), sorted(duck.columns)
        if s_cols != d_cols:
            print(f"FAIL {name}: columns spark={s_cols} duck={d_cols}")
            n_fail += 1
            continue
        if len(spark) != len(duck):
            print(f"FAIL {name}: rows spark={len(spark)} duck={len(duck)}")
            n_fail += 1
            continue
        spark = spark[s_cols].sort_values(s_cols, na_position="first").reset_index(drop=True)
        duck = duck[d_cols].sort_values(d_cols, na_position="first").reset_index(drop=True)
        bad = None
        for col in s_cols:
            sv = [canon(x) for x in spark[col].tolist()]
            dv = [canon(x) for x in duck[col].tolist()]
            if sv != dv:
                i = next(i for i, (a, b) in enumerate(zip(sv, dv)) if a != b)
                bad = f"col {col} row {i}: spark={sv[i]!r} duck={dv[i]!r}"
                break
        if bad:
            print(f"FAIL {name}: {bad}")
            n_fail += 1
        else:
            print(f"PASS {name} ({len(spark)} rows)")
            n_pass += 1
    mode = "strict" if STRICT else "default"
    print(f"== {n_pass} pass / {n_fail} fail ({mode}) ==")
    return 1 if n_fail else 0


if __name__ == "__main__":
    if len(ARGS) < 2:
        print(USAGE, file=sys.stderr)
        sys.exit(2)
    sys.exit(main(ARGS[0], ARGS[1]))
