#!/usr/bin/env python3
"""Record the DuckDB answers the `analytics` workload checks against.

    python3 perfbench/record_oracle.py

Generates the TPC-H tables exactly as run.py does, asks the engine for the
DuckDB SQL of each TPC-H entry (SparkEntry.oracleSql), runs it in DuckDB
and writes perfbench/expected/tpch-sf<SF>.json. It refuses to record an
empty answer. Run it again only when the TPC-H entries or the generated
tables change on purpose.
"""
import datetime
import decimal
import json
import os
import subprocess
import sys
import tempfile

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def cell(v):
    if isinstance(v, decimal.Decimal):
        return int(v) if v == v.to_integral_value() else float(v)
    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, bool):
        return str(v).lower()
    return v


def main():
    cp = run.classpath()
    data = run.tpch_data()
    with tempfile.TemporaryDirectory() as tmp:
        sql_file = os.path.join(tmp, "oracle.json")
        subprocess.run(["java", "-cp", cp, run.MAIN_CLASS, "--dump-oracle", sql_file],
                       check=True, stdin=subprocess.DEVNULL)
        with open(sql_file) as fh:
            oracle = json.load(fh)
    con = duckdb.connect(config={"threads": 1,
                                 "autoinstall_known_extensions": "false",
                                 "autoload_known_extensions": "false"})
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    counts = {t: con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
              for t in ("lineitem", "orders", "part", "customer", "supplier")}
    queries = {}
    for name in sorted(oracle):
        cur = con.execute(oracle[name])
        cols = [d[0] for d in cur.description]
        rows = [[cell(v) for v in r] for r in cur.fetchall()]
        queries[name] = {"columns": cols, "rows": rows}
        print(f"{name}: {len(rows)} rows", file=sys.stderr)
    # an empty answer can only confirm that nothing came back
    empty = sorted(n for n, q in queries.items() if not q["rows"])
    if empty:
        raise SystemExit(f"record_oracle: empty answers for {', '.join(empty)}; "
                         "the generated tables miss the queries' value domains")
    out = os.path.join(run.HERE, "expected", f"tpch-sf{run.TPCH_SF}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as fh:
        json.dump({"sf": run.TPCH_SF, "data": counts, "queries": queries}, fh,
                  indent=1, sort_keys=True)
        fh.write("\n")
    print(out)


if __name__ == "__main__":
    main()
