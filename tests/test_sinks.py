"""S10/S11 sink tests: schema-declared bulk load, gold publication as
a generation behind a link."""

from __future__ import annotations

import os

from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.generations import (
    publish,
)
from cloud_based_bi_etl_automation_for_real_estate_company_spark.session import (
    read_parquet,
)
from cloud_based_bi_etl_automation_for_real_estate_company_spark.sources.sinks import (
    bulk_load_csv,
)

SCHEMA = StructType(
    [
        StructField("lead_id", LongType()),
        StructField("action", StringType()),
        StructField("amount", DoubleType()),
    ]
)


def test_bulk_load_csv_with_declared_schema(spark, tmp_path):
    p = tmp_path / "hist.csv"
    p.write_text("lead_id,action,amount\n1,created,10.5\n2,signed,99.0\nbad,row,NaNish\n")
    df = bulk_load_csv(spark, str(p), SCHEMA)
    rows = df.collect()
    assert len(rows) == 3
    assert rows[0]["lead_id"] == 1 and rows[0]["amount"] == 10.5
    assert rows[2]["lead_id"] is None  # malformed cell → NULL, row kept


def test_publish_leaves_session_overwrite_mode(spark, tmp_path):
    """A generation is written with a per-write static overwrite: the
    session's own overwrite mode is the same after the call."""
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    df = spark.createDataFrame([("2025-01", 1)], "month string, n int")
    publish(df, str(tmp_path / "gold"), partition_by=["month"])
    assert spark.conf.get(key) == before


def test_generation_atomic_swap(spark, tmp_path):
    """A reader that resolved a generation keeps reading it after the
    next publish; new readers see the new one; the view re-points."""
    tbl = str(tmp_path / "snap")
    publish(spark.range(10).toDF("id"), tbl, view_name="gold_snap")
    assert os.readlink(tbl) == ".snap-gen-0"
    old_reader = read_parquet(spark, tbl)

    publish(spark.range(20).toDF("id"), tbl, view_name="gold_snap")
    assert os.readlink(tbl) == ".snap-gen-1"
    assert read_parquet(spark, tbl).count() == 20   # new readers see gen-1
    assert spark.sql("SELECT count(*) FROM gold_snap").collect()[0][0] == 20
    assert old_reader.count() == 10                  # in-flight reader unaffected
    # a plain read of the link path sees the current table
    assert spark.read.parquet(tbl).count() == 20


def test_corrupt_parquet_file_tolerance(spark, tmp_path):
    """Ops posture for a 100 TB lake: one corrupt data file must not
    fail the whole scan when ignoreCorruptFiles is on (and MUST fail
    loudly when it's off — silent default-skipping would be a
    correctness bug)."""
    import pytest

    p = str(tmp_path / "tbl")
    spark.range(0, 100).write.parquet(p)
    # plant a corrupt file that the reader will pick up
    with open(p + "/part-corrupt.parquet", "wb") as f:
        f.write(b"PAR1 this is not a real parquet footer")
    with pytest.raises(Exception):
        spark.read.parquet(p).count()
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try:
        assert spark.read.parquet(p).count() == 100
    finally:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", "false")
