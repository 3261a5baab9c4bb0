"""Pins the expected result of every surface query: runs each query's
DuckDB twin (SparkEntry.oracleSql) over the star schema the workload
reads (perfbench/data) and writes its row count and result digest to
perfbench/pins.json. Run it again only when a query's meaning changes.

Usage: python3 perfbench/pin.py   (from the repository root)
"""
import json
import os
import subprocess
import tempfile

import run

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    import duckdb
    classes = run.build.build()
    pins = {}
    for spec in run.WORKLOADS.values():
        if "queries" not in spec:
            continue
        with tempfile.TemporaryDirectory() as tmp:
            out = os.path.join(tmp, "oracle.json")
            subprocess.run(run.java_cmd(classes, [
                "--oracle-out", out, "--queries", ",".join(spec["queries"])]),
                check=True, cwd=run.ROOT, stdout=subprocess.DEVNULL,
                stderr=subprocess.DEVNULL)
            with open(out) as f:
                oracle = json.load(f)
        star = run.star_dir(spec["star"])
        con = duckdb.connect()
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{star}/{t}.parquet'")
        pins.setdefault(spec["star"], {}).update(
            {q: run.result_digest(con.sql(oracle[q]).df())
             for q in spec["queries"]})
    with open(os.path.join(run.HERE, "pins.json"), "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
