"""Record the catalog's expected row counts, cross-checked against DuckDB.

Runs every benchmarked catalog entry on the generated tables
(``inputs.catalog_tables``), compares each result with the entry's DuckDB
``ORACLE`` SQL where the registry has one (full value comparison, as the
catalog gate does), and writes the Spark row counts to
``expected_rows.json`` only if every comparison agrees.

Usage, from the repository root:  python3 perfbench/crosscheck.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import duckdb  # noqa: E402

import inputs  # noqa: E402
import run  # noqa: E402
from ocr_spark.oracle import compare, register_duckdb_views  # noqa: E402
from ocr_spark.plans import ORACLE, QUERIES, load_all  # noqa: E402
from ocr_spark.session import build_session  # noqa: E402
from workloads import CATALOG_ENTRIES, EXPECTED_ROWS_PATH  # noqa: E402


def main() -> int:
    load_all()
    conf = run._isolate_environment()
    tables_dir = os.path.join(run.WORK, "tables")
    try:
        tables = inputs.catalog_tables()
        inputs.stage_tables(tables_dir, tables)
        spark = build_session("perfbench_crosscheck", extra_conf=conf)
        con = duckdb.connect()
        register_duckdb_views(con, tables_dir, tables)
        counts, failures = {}, 0
        for name in CATALOG_ENTRIES:
            sdf = QUERIES[name](spark, tables_dir)
            counts[name] = sdf.count()
            verdict = "rows-only"
            if name in ORACLE:
                mismatch = compare(sdf, con, ORACLE[name])
                verdict = mismatch or "oracle ok"
                failures += mismatch is not None
            print(f"{name}: {counts[name]} rows, {verdict}")
        spark.stop()
        run._stop_children()
    finally:
        shutil.rmtree(run.WORK, ignore_errors=True)
    if failures:
        print(f"{failures} oracle mismatches; {EXPECTED_ROWS_PATH} not written")
        return 1
    with open(EXPECTED_ROWS_PATH, "w") as f:
        json.dump(counts, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {EXPECTED_ROWS_PATH}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
