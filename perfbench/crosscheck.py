#!/usr/bin/env python3
"""Make or check the correctness pins of a benchmark corpus, once, untimed.

    python3 perfbench/crosscheck.py [--data DIR] [--pins FILE] [--write]

1. The harness's pin pass computes (rows, checksum) of every query with
   graft.tools.Golden.checksum, and proves that the checksum each run
   uses agrees with Golden on every query.
2. graft.Verify dumps every result with SparkEntry.oracleSql, and DuckDB
   runs each oracle over the same parquet; results must match exactly
   (column-name-sorted, row-sorted, exact values).
3. Each DuckDB-matched dump must carry the same checksum as its pin.

With --write the pins (and the cross-check summary) go to --pins;
without it they must equal the pins already there. Exit status 1 on any
mismatch.
"""
import argparse
import glob
import json
import os
import subprocess
import sys
import tempfile

import run

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def java(cp, main, args, cwd):
    cmd = ["java"] + [x for p in run.JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    cmd += ["-Xmx4g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, main] + args
    with open(os.path.join(cwd, "java.log"), "a") as log:
        subprocess.run(cmd, cwd=cwd, stdout=log, stderr=log, check=True,
                       env=dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(cwd, "local")))


def duckdb_check(data, dump):
    """Names of the oracled queries whose dump DuckDB matches, and the rest."""
    import duckdb
    import pandas as pd

    def canon(df):
        df = df.reindex(sorted(df.columns), axis=1)
        return df.sort_values(by=list(df.columns), ignore_index=True)

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    ok, bad = [], []
    for name, sql in sorted(json.load(open(os.path.join(dump, "oracle_sql.json"))).items()):
        files = glob.glob(os.path.join(dump, name, "*.parquet"))
        try:
            got = canon(con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf())
            want = canon(con.execute(sql).fetchdf())
            assert list(got.columns) == list(want.columns), "columns differ"
            assert len(got) == len(want), f"rows {len(got)} != {len(want)}"
            pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=True)
            ok.append(name)
        except Exception as e:  # a mismatch of any kind fails this query
            bad.append(f"{name}: {str(e).splitlines()[-1] if str(e) else type(e).__name__}")
    return ok, bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--data", default=run.DATA)
    ap.add_argument("--pins", default=run.PINS)
    ap.add_argument("--write", action="store_true")
    args = ap.parse_args()
    data = os.path.abspath(args.data)
    cp, _ = run.build()
    os.makedirs(os.path.join(run.HERE, ".run"), exist_ok=True)
    with tempfile.TemporaryDirectory(dir=os.path.join(run.HERE, ".run"), prefix="crosscheck-") as tmp:
        os.makedirs(os.path.join(tmp, "local"))
        dump = os.path.join(tmp, "verify")
        java(cp, "graft.Verify", [data, dump], tmp)
        ok, bad = duckdb_check(data, dump)
        java(cp, "graft.perfbench.Main", ["--mode", "pins", "--data", data,
                                          "--out", os.path.join(tmp, "pins.json"),
                                          "--verified", dump], tmp)
        pins = json.load(open(os.path.join(tmp, "pins.json")))
    summary = {"duckdb_matched": len(ok), "duckdb_failed": bad,
               "dumps_matching_pins": pins["verified_dumps_matching"]}
    print(json.dumps(summary, indent=1))
    doc = {"data": os.path.relpath(data, run.ROOT), "queries": pins["queries"], "crosscheck": summary}
    if args.write:
        with open(args.pins, "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True)
    elif json.load(open(args.pins))["queries"] != pins["queries"]:
        print("pins differ from " + args.pins)
        sys.exit(1)
    if bad or pins["problems"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
