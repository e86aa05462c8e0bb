#!/usr/bin/env python3
"""Regenerates oracle_digests.json, the DuckDB oracle results of the
registry_mix queries as order-free digests (see checks.digest).

    python3 perfbench/oracle_digests.py <work_dir>

<work_dir> is a registry_mix run's work dir: its oracle_sql.json and its
registry/<query>/ parquet results. The Spark results only supply which
columns compare as floats. Some oracles are recursive CTEs that take
minutes in DuckDB; that is why the digests are committed instead of being
recomputed on every run. Entries this script did not compute carry a
`source` field saying where their digest comes from (NOTES.md).
"""
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import checks  # noqa: E402
import run  # noqa: E402


def main(work):
    with open(os.path.join(work, "oracle_sql.json"), encoding="utf-8") as fh:
        oracle = json.load(fh)
    con = checks.duckdb_views(run.SF_DIR)
    out = {"testdata": checks.testdata_fingerprint(run.SF_DIR), "queries": {}}
    for name in sorted(oracle):
        t0 = time.time()
        duck = con.sql(oracle[name]).df()
        floats = set(checks.float_columns(duck))
        spark = checks.spark_result(work, name)
        if spark is not None:
            floats |= set(checks.float_columns(spark))
        out["queries"][name] = {"sql_sha256": checks.sql_sha(oracle[name]), "rows": len(duck),
                                "float_columns": sorted(floats), "digest": checks.digest(duck, floats)}
        print(f"{name}: {len(duck)} rows, {time.time() - t0:.1f} s", flush=True)
    with open(os.path.join(HERE, "oracle_digests.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main(sys.argv[1])
