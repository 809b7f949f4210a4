"""The local twin of the driver's t2 gate: run every registered query on
Spark AND its oracle SQL on DuckDB over the same parquet, compare
row-count + columns + exact canonicalized values. Rows-only queries
(oracle=None) are smoke-checked for schema stability and rows >= 0.
"""

from __future__ import annotations

import pytest

from pyspark_for_ebook_classification_spark.plans.registry import all_queries
from tests.compare import assert_frames_match

QUERIES = all_queries()
ORACLE_NAMES = sorted(n for n, q in QUERIES.items() if q.oracle is not None)
ROWS_ONLY_NAMES = sorted(n for n, q in QUERIES.items() if q.oracle is None)


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_parity(name, spark, duck, sf_dir):
    q = QUERIES[name]
    spark_pdf = q.fn(spark, sf_dir).toPandas()
    oracle_pdf = duck.sql(q.oracle).df()
    assert_frames_match(spark_pdf, oracle_pdf, name)


@pytest.mark.parametrize("name", ROWS_ONLY_NAMES)
def test_rows_only_smoke(name, spark, sf_dir):
    q = QUERIES[name]
    df = q.fn(spark, sf_dir)
    n = df.count()
    assert n >= 0
    assert len(df.columns) > 0


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0


def test_contract_shape():
    import __spark_entry__ as e

    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) == len(QUERIES)


def test_no_nested_output_columns(spark, duck, sf_dir):
    """Registry-wide structural guard against the r3 driver failure class:
    the driver's canonicalizer sorts raw pandas columns and cannot hash
    list/map/struct CELLS, so every oracle-checked query must emit scalar
    columns only — on BOTH engines (the pandas hash sees both results).
    Rows-only queries are exempt (the driver only counts their rows).
    Cited by docstrings at operators/scalar_funcs.py (fn_string_suite2)
    and operators/textops.py (text_inverted_index)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    bad = []
    for name in ORACLE_NAMES:
        q = QUERIES[name]
        for f in q.fn(spark, sf_dir).schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType, StructType)):
                bad.append(f"{name}.{f.name} (spark): {f.dataType.simpleString()}")
        rel = duck.sql(f"SELECT * FROM ({q.oracle}) LIMIT 0")
        for col, typ in zip(rel.columns, rel.types):
            t = str(typ)
            if t.endswith("[]") or t.startswith(("STRUCT", "MAP", "LIST", "UNION")):
                bad.append(f"{name}.{col} (oracle): {t}")
    assert not bad, "\n".join(bad)
