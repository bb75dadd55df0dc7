"""Compute the oracle fingerprints the fixture workloads check against.

    python3 perfbench/make_fingerprints.py [--spark] [--only name ...]

Runs each member query's DuckDB oracle once over ``perfbench/fixtures`` (a
copy of the sf0.01 fixture tables) and writes ``perfbench/fingerprints.json``.
With ``--spark`` it also runs each query on Spark and reports whether the
strict fingerprints agree, with the Spark wall time — the evidence used to
choose the members.  Oracles are slow (tens of seconds for the dedup
pipelines), which is why the benchmark never runs them itself.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import duckdb  # noqa: E402

from perfbench.fingerprint import fingerprint  # noqa: E402
from perfbench.members import ALL_MEMBERS  # noqa: E402
from trafsys_data_transfer_spark.registry import all_queries  # noqa: E402
from trafsys_data_transfer_spark.schemas import FIXTURE_TABLES  # noqa: E402

FIXTURES = os.path.join(HERE, "fixtures")
OUT = os.path.join(HERE, "fingerprints.json")


def oracle_fingerprint(con, sql: str) -> dict:
    tbl = con.execute(sql).arrow()
    cols = [c.to_pylist() for c in tbl.columns]
    rows = [tuple(v) for v in zip(*cols)] if cols else [() for _ in range(tbl.num_rows)]
    return fingerprint(tbl.column_names, rows)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--spark", action="store_true")
    ap.add_argument("--only", nargs="*")
    args = ap.parse_args()

    specs = all_queries()
    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{FIXTURES}/{t}.parquet'")
    prints = {}
    if args.only and os.path.exists(OUT):
        with open(OUT) as f:
            prints = json.load(f)["queries"]
    spark = None
    if args.spark:
        from trafsys_data_transfer_spark.session import get_spark

        spark = get_spark("perfbench-fingerprints")
        spark.sparkContext.setLogLevel("ERROR")
    for name in args.only or ALL_MEMBERS:
        t0 = time.perf_counter()
        prints[name] = oracle_fingerprint(con, specs[name].oracle)
        line = f"{name}: oracle {time.perf_counter() - t0:.1f}s rows={prints[name]['rows']}"
        if spark is not None:
            t0 = time.perf_counter()
            df = specs[name].build(spark, FIXTURES)
            got = fingerprint(df.columns, [tuple(r) for r in df.collect()])
            line += f" spark {time.perf_counter() - t0:.2f}s {'match' if got == prints[name] else 'MISMATCH'}"
        print(line, flush=True)
    with open(OUT, "w") as f:
        json.dump({"fixtures": "sf0.01", "queries": dict(sorted(prints.items()))}, f, indent=1)
        f.write("\n")
    if spark is not None:
        spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
