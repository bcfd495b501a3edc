"""Ad-hoc per-query oracle parity check for newly added catalog queries.

Usage: python scripts/check_new.py name1 name2 ... [--sf sf0.01 ...]
(``--sf`` repeats, and ``--sf=sf0.01`` works too; default sf0.001 and
sf0.01).  Uses the round-5 verification loop from the verify recipe
(vanilla session, sorted-column repr compare against DuckDB).
"""

import argparse
import sys

import duckdb
from pyspark.sql import SparkSession

sys.path.insert(0, ".")
from curw_mike_data_handler_spark import catalog  # noqa: E402
from curw_mike_data_handler_spark.sources.tables import TABLES  # noqa: E402

ap = argparse.ArgumentParser(description="oracle parity of catalog queries")
ap.add_argument("names", nargs="+", help="catalog query names")
ap.add_argument("--sf", action="append", help="scale, e.g. sf0.01 (repeatable)")
args = ap.parse_args()
names = args.names
sfs = args.sf or ["sf0.001", "sf0.01"]

spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.driver.memory", "8g")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
fail = 0
for sf in sfs:
    sf_dir = f"/root/testdata/{sf}"
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    for name in names:
        try:
            sdf = catalog.QUERIES[name](spark, sf_dir)
            cols = sorted(sdf.columns)
            srows = sorted(
                repr(tuple(r[c] for c in cols)) for r in sdf.collect()
            )
            orows = sorted(
                repr(tuple(r[c] for c in cols))
                for r in con.execute(catalog.ORACLE[name])
                .fetch_arrow_table()
                .to_pylist()
            )
            ok = srows == orows
            if not ok:
                fail += 1
                print(f"[{sf}] {name}: MISMATCH spark={len(srows)} oracle={len(orows)}")
                sonly = [r for r in srows if r not in set(orows)][:3]
                oonly = [r for r in orows if r not in set(srows)][:3]
                print("  spark-only:", sonly)
                print("  oracle-only:", oonly)
            else:
                print(f"[{sf}] {name}: OK ({len(srows)} rows)")
        except Exception as e:  # noqa: BLE001
            fail += 1
            print(f"[{sf}] {name}: ERROR {type(e).__name__}: {e}")
    con.close()
sys.exit(1 if fail else 0)
