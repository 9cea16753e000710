#!/usr/bin/env python3
"""Re-record perfbench/hashes.json, the expected `batch_catalog` results.

    python3 perfbench/record.py

Runs one `batch_catalog` warm-up with result recording, then checks every
query that has a DuckDB oracle (`QueryDef.oracle`) against DuckDB over the
same generated parquet, with tools/check.py's normalisation
(column-name-sorted, row-sorted, exact float repr). Writes hashes.json
only if every oracle check passes. Needed after the fixture generator or
the query selection changes, or after a change that legitimately changes
a result.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, os.path.join(ROOT, "tools"))
sys.path.insert(0, HERE)

import duckdb  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
from check import TABLES, table_to_rows  # noqa: E402

import fixtures  # noqa: E402


def main():
    out = tempfile.mkdtemp(prefix="record-", dir=os.path.join(HERE, ".runs"))
    try:
        subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", "batch_catalog",
                        "--seed", "1", "--seconds", "1", "--record", out], cwd=ROOT, check=True)
        data = fixtures.ensure(os.path.join(HERE, ".data"))
        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
        oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
        bad = []
        for name, sql in sorted(oracle.items()):
            got = pq.read_table(os.path.join(out, name))
            gc, gr = table_to_rows(got)
            ec, er = table_to_rows(con.sql(sql).arrow())
            ok = gc == ec and gr == er
            print(f"{'PASS' if ok else 'FAIL'} {name} vs DuckDB ({len(gr)} rows)")
            if not ok:
                bad.append(name)
        if bad:
            sys.exit(f"oracle mismatch for {bad}; hashes.json left unchanged")
        hashes = json.load(open(os.path.join(out, "hashes.json")))
        hashes["oracle_checked"] = sorted(oracle)
        hashes["fixture"] = fixtures.FIXTURE_VERSION
        with open(os.path.join(HERE, "hashes.json"), "w") as fh:
            json.dump(hashes, fh, indent=2, sort_keys=True)
            fh.write("\n")
        print(f"wrote {len(hashes['queries'])} fingerprints to perfbench/hashes.json")
    finally:
        shutil.rmtree(out, ignore_errors=True)


if __name__ == "__main__":
    main()
