#!/usr/bin/env python3
"""DuckDB replay of the N-day backfill's upsert law.

graft.BackfillBench retains every day's outputs under <outRoot>/day_NN.
The Q2 upsert law (merge_temp_master, DAG:98-104): an order id's row in
the day-N master must equal its row in the master of the LAST day that
delivered it (updates win wholesale on that day), carried UNCHANGED
through every later day's merge (unmatched history survives). This
script replays that law in DuckDB from the per-day artifacts — which
day last delivered each id comes from the per-day work tables (exactly
one row per that day's orders) — and diffs the replay against the final
master exactly, all columns.

Usage: check_backfill.py <outRoot> [finalMasterDir]
`finalMasterDir` points at an explicit merged master (BackfillBench's
delta_store mode exports its PartitionStore to
<outRoot>/master_store_export; the per-day masters are then day-only,
which the replay law handles identically). Default: the last day_NN's
delivery_order_master (run mode).
Exits 0 on an exact match, 1 otherwise.
"""
import glob
import os
import sys

import duckdb

root = sys.argv[1]
days = sorted(d for d in os.listdir(root) if d.startswith("day_"))
if not days:
    sys.exit(f"no day_NN dirs under {root}")
last = days[-1]
con = duckdb.connect()

# one relation per concern, each tagged with its day index
con.execute(f"""
  CREATE VIEW masters AS
  SELECT *, CAST(regexp_extract(filename, 'day_(\\d+)', 1) AS INT) AS __day
  FROM read_parquet('{root}/day_*/delivery_order_master/*/*.parquet',
                    hive_partitioning=1, filename=1)
""")
con.execute(f"""
  CREATE VIEW work AS
  SELECT delivery_order_id,
         CAST(regexp_extract(filename, 'day_(\\d+)', 1) AS INT) AS __day
  FROM read_parquet('{root}/day_*/delivery_order_work/*.parquet', filename=1)
""")
cols = [r[0] for r in con.execute(
    "SELECT column_name FROM (DESCRIBE masters) WHERE column_name NOT IN ('__day','filename')"
).fetchall()]
collist = ", ".join(f'"{c}"' for c in cols)
if len(sys.argv) > 2:  # explicit merged master (delta_store mode)
    con.execute(f"""
      CREATE VIEW finalm AS
      SELECT {collist}
      FROM read_parquet('{sys.argv[2]}/*/*.parquet', hive_partitioning=1)
    """)
else:  # run mode: the last day's master IS the merged master
    con.execute(f"""
      CREATE VIEW finalm AS
      SELECT {collist} FROM masters
      WHERE __day = (SELECT max(__day) FROM masters)
    """)
nfinal, = con.execute("SELECT count(*) FROM finalm").fetchone()
nexp, = con.execute("""
  WITH lastday AS (SELECT delivery_order_id, max(__day) AS d FROM work GROUP BY 1)
  SELECT count(*) FROM lastday
""").fetchone()
print(f"final master rows: {nfinal}; distinct ids ever delivered: {nexp}")

diff = con.execute(f"""
  WITH lastday AS (SELECT delivery_order_id AS id, max(__day) AS d
                   FROM work GROUP BY 1),
  expected AS (SELECT {collist} FROM masters m
               JOIN lastday l ON m.delivery_order_id = l.id AND m.__day = l.d)
  SELECT (SELECT count(*) FROM (SELECT * FROM expected EXCEPT ALL SELECT * FROM finalm)),
         (SELECT count(*) FROM (SELECT * FROM finalm EXCEPT ALL SELECT * FROM expected))
""").fetchone()
if nfinal == nexp and diff == (0, 0):
    print(f"== backfill upsert replay PASS ({last}: {nfinal} rows, "
          f"{len(cols)} cols, exact) ==")
    sys.exit(0)
print(f"== backfill upsert replay FAIL: rows {nfinal} vs {nexp}, "
      f"expected-minus-final {diff[0]}, final-minus-expected {diff[1]} ==")
sys.exit(1)
