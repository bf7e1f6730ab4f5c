#!/usr/bin/env python3
"""Record perfbench/pins.json: the row count and content hash of every
declared query on the analytics tables.

    python3 perfbench/pin.py OUT_DIR

Run from the repository root. Besides pins.json it leaves, under OUT_DIR,
the tables and each query's collected rows as parquet with oracle_sql.json,
so the pinned run can be checked against the DuckDB oracles:

    python3 tools/check.py OUT_DIR/tables OUT_DIR/results

Commit the new pins only if that check reports 0 bad.
"""
import os
import subprocess
import sys

import run


def main(out):
    out = os.path.abspath(out)
    run.build()
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    tables = os.path.join(out, "tables")
    subprocess.check_call([sys.executable, os.path.join(run.HERE, "gen_tables.py"), tables])
    subprocess.check_call(run.java_cmd(out, [
        "--pin", "--tables", tables, "--pins", os.path.join(run.HERE, "pins.json"),
        "--out", os.path.join(out, "results")]), stdin=subprocess.DEVNULL)


if __name__ == "__main__":
    main(sys.argv[1])
