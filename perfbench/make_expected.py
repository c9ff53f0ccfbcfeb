"""Rebuilds perfbench/expected.json: for each curation id of llm_nightly, the row
count and order-independent content hash of its result on the vendored
tables, and the tables it reads. Each id's rows are cross-checked once
against its DuckDB twin from ``__spark_entry__.oracle_sql()``; the script
refuses to write the file if any twin disagrees.

    python3 perfbench/make_expected.py
"""

from __future__ import annotations

import json
import os
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA_DIR = "data/sf0.01"
#: the batch curation composites llm_nightly runs
IDS = ("q_dedup_cluster_chain",)


def main() -> int:
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import __spark_entry__
    from breweries_case_spark.io import reader
    from breweries_case_spark.session import get_session

    from tracing import rebind
    from workloads import canonical_rows, rows_hash, spark_rows

    data_dir = os.path.join(HERE, DATA_DIR)
    cores = len(os.sched_getaffinity(0))
    spark = get_session(master=f"local[{cores}]", shuffle_partitions=cores,
                        extra_configs={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    tables: set[str] = set()
    load_table = reader.load_table

    def recording_load_table(spark_, sf_dir, name):
        tables.add(name)
        return load_table(spark_, sf_dir, name)

    rebind(load_table, recording_load_table)

    queries, oracles = __spark_entry__.queries(), __spark_entry__.oracle_sql()
    expected, ok = {}, True
    for qid in IDS:
        df = queries[qid](spark, data_dir)
        rows = spark_rows(df)
        expected[qid] = {"rows": len(rows), "hash": rows_hash(rows)}
        con = duckdb.connect()
        for t in reader.TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        cur = con.execute(oracles[qid])
        names = [d[0] for d in cur.description]
        duck = canonical_rows(names, cur.fetchall())
        con.close()
        same = duck == rows and sorted(names) == sorted(df.columns)
        ok &= same
        print(f"{qid}: {expected[qid]} duckdb twin {'agrees' if same else 'DISAGREES'}")
    spark.stop()
    if not ok:
        return 1
    with open(os.path.join(HERE, "expected.json"), "w") as fh:
        json.dump({"data_dir": DATA_DIR, "tables": sorted(tables), "ids": expected},
                  fh, indent=1)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
