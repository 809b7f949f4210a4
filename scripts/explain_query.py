#!/usr/bin/env python3
"""Dump `.explain("formatted")` for named registry queries to files —
the plans/r14/<query>_{before,after}.txt optimization-round evidence.

Usage:  python scripts/explain_query.py <outdir> <suffix> q1,q2,...

Writes <outdir>/<query>_<suffix>.txt with the UNEXECUTED formatted plan
(AQE initial plan — the shape evidence: Exchange count, join strategy,
PushedFilters/ReadSchema, codegen spans, Python eval nodes).
``plans.explain.executed_plan_string(df)`` runs a query and returns its
executed post-AQE plan; tests/test_plans.py pins the shapes that matter.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark_for_ebook_classification_spark.plans.registry import all_queries
from pyspark_for_ebook_classification_spark.session import get_spark


def main() -> int:
    outdir, suffix = sys.argv[1], sys.argv[2]
    names = [n for n in sys.argv[3].split(",") if n]
    sf_dir = sys.argv[4] if len(sys.argv) > 4 else "/root/testdata/sf0.1"
    qs = all_queries()
    unknown = sorted(set(names) - set(qs))
    if unknown:
        print(f"unknown query names: {', '.join(unknown)}")
        return 2
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark("explain_query")
    for n in names:
        df = qs[n].fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{n}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
