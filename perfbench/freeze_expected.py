#!/usr/bin/env python3
"""Write perfbench/expected_rows.json: the row count each batch_sweep query
must return over perfbench/data.

    python3 perfbench/freeze_expected.py

Run it from the repository root. A query with a DuckDB oracle
(SparkEntry.oracleSql) gets the count DuckDB computes from that SQL; the
others get the count the engine returns when this script runs, so run it at
a commit whose outputs are trusted. A query whose engine count disagrees
with its oracle is reported and keeps the oracle's count.
"""
import json
import os
import shutil
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


def harness(classpath, archive, workload, out):
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    run.run_jvm(classpath, archive, ["--workload", workload, "--seed", "0", "--seconds", "1",
                                     "--trace", "0", "--out", out, "--data", run.DATA],
                out, time.time() + 600)
    return out


def main():
    classpath, archive, _ = run.build()
    oracles_dir = harness(classpath, archive, "oracles", os.path.join(run.BUILD, "runs", "oracles"))
    with open(os.path.join(oracles_dir, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    sweep_dir = harness(classpath, archive, "batch_sweep", os.path.join(run.BUILD, "runs", "freeze"))
    with open(os.path.join(sweep_dir, "result.json")) as fh:
        engine = json.load(fh)["rows"]

    con = duckdb.connect()
    for f in sorted(os.listdir(run.DATA)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{os.path.join(run.DATA, f)}')")
    rows = {}
    for q in sorted(engine):
        if q in oracles:
            n = con.execute(f"SELECT count(*) FROM ({oracles[q]})").fetchone()[0]
            if n != engine[q]:
                print(f"{q}: engine returns {engine[q]} rows, oracle {n}", file=sys.stderr)
            rows[q] = {"rows": n, "source": f"duckdb {duckdb.__version__} oracle"}
        else:
            rows[q] = {"rows": engine[q], "source": "engine"}
    with open(os.path.join(run.BENCH, "expected_rows.json"), "w") as fh:
        json.dump({"data": "perfbench/data", "rows": rows}, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
