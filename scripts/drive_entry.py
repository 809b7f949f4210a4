#!/usr/bin/env python3
"""Oracle sweep over the ``__spark_entry__`` contract: smoke entry(), then
run every queries()[name] vs oracle_sql()[name] on DuckDB at the given
sf dir, comparing via tests/compare.assert_frames_match — strictly
harsher than an order-insensitive value hash, so passing here implies
passing the contract's hash check. An oracle-checked query that returns
0 rows FAILs as vacuous unless its registry entry carries ``empty_ok``
(a 0-row match cannot tell a correct empty answer from a dead pipeline);
the rule is meant for the sf0.01 gate scale, where every other
oracle-checked query returns rows.

Usage:
    python scripts/drive_entry.py /root/testdata/sf0.01            # full gate-scale drive (~6 min)
    python scripts/drive_entry.py /root/testdata/sf0.01 q1,q2      # subset (seconds)
    python scripts/drive_entry.py /root/testdata/sf0.1             # strict sf0.1 sweep (~15 min;
                                                                   # set SPARK_GRAFT_DRIVE_CPUS=32)

Parallelism defaults to local[8]/shuffle=8 (plenty at sf0.01; the point
is default-conf correctness, not speed) — override with
SPARK_GRAFT_DRIVE_CPUS for the sf0.1 sweep.
"""
from __future__ import annotations

import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from pyspark.sql import SparkSession

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def main() -> int:
    cpus = os.environ.get("SPARK_GRAFT_DRIVE_CPUS", "8")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("drive_entry")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVE_MEM", "8g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as ent
    from pyspark_for_ebook_classification_spark.plans.registry import all_queries
    from tests.compare import assert_frames_match

    n = ent.entry(spark).count()
    print(f"t1 entry(): {n} rows")
    assert n > 0

    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )

    qs = ent.queries()
    oracles = ent.oracle_sql()
    registered = all_queries()
    only = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None
    fails = []
    for name, fn in qs.items():
        if only is not None and name not in only:
            continue
        try:
            sdf = fn(spark, SF_DIR).toPandas()
            if name not in oracles:
                print(f"{name}: rows-only ({len(sdf)} rows)")
                continue
            odf = con.sql(oracles[name]).df()
            assert_frames_match(sdf, odf, name)
            if sdf.empty and not registered[name].empty_ok:
                fails.append(name)
                print(f"{name}: FAIL — vacuous (0 rows, no empty_ok)")
                continue
            print(f"{name}: MATCH ({len(sdf)} rows)")
        except Exception as e:  # noqa: BLE001
            fails.append(name)
            print(f"{name}: FAIL — {e}")
            traceback.print_exc(limit=3)
    missing = sorted(only - set(qs)) if only is not None else []
    if fails:
        # r11 ADVICE: the machine-readable FAIL summary prints even when
        # the subset also contained unknown names.
        print(f"RESULT: {len(fails)} FAIL — {fails}")
    if missing:
        # r10 ADVICE: a typo in the subset list must not produce a
        # vacuous ALL OK — every requested name has to exist.
        print(f"RESULT: UNKNOWN QUERY NAMES — {missing}")
    if fails or missing:
        return 1
    print("RESULT: ALL OK")
    return 0


if __name__ == "__main__":
    sys.exit(main())
