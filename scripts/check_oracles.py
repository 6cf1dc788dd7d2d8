"""Driver-mimic differential check: run every __spark_entry__ query on Spark
and its DuckDB oracle on the same parquet tables, compare row count, column
names, and order-insensitive values. Usage:

    python scripts/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from ocr_project_spark.session import build_session  # noqa: E402

TABLES = (
    "region nation customer supplier part orders lineitem events documents"
).split()


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.12g}"
    return v


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = build_session(app_name="oracle-check")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        srows = sdf.collect()
        scols = sorted(sdf.columns)
        sset = sorted(
            tuple(norm(r[c]) for c in scols) for r in srows
        )
        if name not in oracles:
            print(f"{name:24s} rows={len(srows):6d}  (rows-only; no oracle)")
            continue
        odf = con.sql(oracles[name]).df()
        ocols = sorted(odf.columns)
        oset = sorted(
            tuple(norm(v) for v in row)
            for row in odf[ocols].itertuples(index=False, name=None)
        )
        ok_cols = scols == ocols
        ok_count = len(sset) == len(oset)
        ok_vals = sset == oset
        status = "OK" if (ok_cols and ok_count and ok_vals) else "FAIL"
        if status == "FAIL":
            failures += 1
        print(
            f"{name:24s} rows={len(srows):6d} oracle={len(oset):6d} "
            f"cols={'OK' if ok_cols else f'{scols} vs {ocols}'} "
            f"values={'OK' if ok_vals else 'MISMATCH'}  -> {status}"
        )
        if not ok_vals:
            sonly = [t for t in sset if t not in set(oset)][:3]
            oonly = [t for t in oset if t not in set(sset)][:3]
            for t in sonly:
                print(f"    spark-only : {t}")
            for t in oonly:
                print(f"    oracle-only: {t}")
    spark.stop()
    print("FAILURES:", failures)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
