"""Store the DuckDB twins' output fingerprints for the benchmark's check.

Usage (from the repository root):

    python3 perfbench/twins.py

Runs each benchmark request's ``oracle_sql()`` twin on DuckDB over the
tables in ``perfbench/data`` and writes ``perfbench/expected.json``:
``{request: {"rows", "cols", "hash"}}``. The twins cost far more than
the benchmark's own runs, so they run once here, not per run; rerun
this only when the input tables or the request lists change.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from tools.oracle_check import canon  # noqa: E402


def main() -> int:
    import duckdb

    import __spark_entry__ as E

    with open(os.path.join(HERE, "workloads.json")) as fh:
        cfg = json.load(fh)
    data_dir = os.path.join(ROOT, cfg["input"]["dir"])
    con = duckdb.connect()
    for table in cfg["input"]["tables"]:
        path = os.path.join(data_dir, f"{table}.parquet")
        con.sql(f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{path}')")
    twins = E.oracle_sql()
    out = {}
    for wl in cfg["workloads"].values():
        for name in wl["requests"]:
            t0 = time.time()
            rows, cols, digest = canon(con.sql(twins[name]).df())
            out[name] = {"rows": rows, "cols": cols, "hash": digest}
            print(f"{name}: {rows} rows {digest} ({time.time() - t0:.1f}s)",
                  file=sys.stderr)
    with open(os.path.join(HERE, "expected.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
