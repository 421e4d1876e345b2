"""`tables.local_rows_df`: driver-built rows (audit, alert, label rows)
as a LocalRelation — no PythonRDD, so an append starts no Python worker."""

from __future__ import annotations

import datetime
import os

from pyspark.sql.types import StructType

from data_ingestion_system_spark.tables import local_rows_df

DDL = "k long, x double, s string, b boolean, t timestamp, i int"
ROWS = [
    (1, 2.5, "a", True, datetime.datetime(2024, 1, 2, 3, 4, 5, 123456), 7),
    (None, None, None, None, None, None),
    (-(2**62), -0.0, "", False, datetime.datetime(1999, 12, 31, 23, 59, 59), -1),
]


def test_plan_is_a_local_table_scan(spark):
    plan = local_rows_df(spark, ROWS, DDL)._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan


def test_one_row_append_writes_one_part_file(spark, tmp_path):
    out = str(tmp_path / "audit")
    local_rows_df(spark, ROWS[:1], DDL).write.mode("append").parquet(out)
    parts = [p for p in os.listdir(out) if p.startswith("part-")]
    assert len(parts) == 1


def test_values_round_trip_with_the_store_schema(spark, tmp_path):
    df = local_rows_df(spark, ROWS, DDL)
    schema = StructType.fromDDL(DDL)
    # the same types and nullability the tuple path gives
    assert df.schema == schema == spark.createDataFrame(ROWS, DDL).schema
    out = str(tmp_path / "store")
    df.write.mode("append").parquet(out)
    back = spark.read.schema(DDL).parquet(out)
    got = sorted((tuple(r) for r in back.collect()), key=repr)
    assert got == sorted(ROWS, key=repr)
    # the timestamps take the tuple path's wall-clock reading
    assert sorted(local_rows_df(spark, ROWS, DDL).collect(), key=repr) == sorted(
        spark.createDataFrame(ROWS, DDL).collect(), key=repr
    )


def test_struct_type_schema_and_no_rows(spark):
    schema = StructType.fromDDL("batch_id long, alert string")
    df = local_rows_df(spark, [], schema)
    assert df.schema == schema
    assert df.collect() == []
