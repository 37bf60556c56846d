"""S10/S11 sink tests: schema-declared bulk load, gold materialization
with dynamic partition overwrite."""

from __future__ import annotations

from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from cloud_based_bi_etl_automation_for_real_estate_company_spark.sources.sinks import (
    bulk_load_csv,
    materialize_gold,
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


def test_materialize_gold_dynamic_partition_overwrite(spark, tmp_path):
    out = str(tmp_path / "gold")
    df1 = spark.createDataFrame(
        [("2025-01", 10), ("2025-02", 20)], "month string, n int"
    )
    materialize_gold(df1, out, view_name="gold_t", partition_by=["month"])
    assert spark.sql("SELECT sum(n) FROM gold_t").collect()[0][0] == 30

    # refresh only February — January's partition must survive
    df2 = spark.createDataFrame([("2025-02", 25)], "month string, n int")
    refreshed = materialize_gold(df2, out, view_name="gold_t", partition_by=["month"])
    got = {r["month"]: r["n"] for r in refreshed.collect()}
    assert got == {"2025-01": 10, "2025-02": 25}


def test_materialize_gold_leaves_session_overwrite_mode(spark, tmp_path):
    """Dynamic overwrite is a per-write option: the session's own
    overwrite mode is the same after the call."""
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    df = spark.createDataFrame([("2025-01", 1)], "month string, n int")
    materialize_gold(df, str(tmp_path / "gold"), partition_by=["month"])
    assert spark.conf.get(key) == before


def test_generation_atomic_swap(spark, tmp_path):
    import os

    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.generations import (
        current_generation,
        read_current,
        write_generation,
    )

    tbl = str(tmp_path / "snap")
    g0 = write_generation(spark.range(10).toDF("id"), tbl)
    assert g0 == 0 and current_generation(tbl) == 0
    # a reader that resolved generation 0 keeps a stable view...
    old_reader = read_current(spark, tbl)

    g1 = write_generation(spark.range(20).toDF("id"), tbl, keep_generations=2)
    assert g1 == 1
    assert read_current(spark, tbl).count() == 20   # new readers see gen-1
    assert old_reader.count() == 10                  # in-flight reader unaffected

    # retention: after two more generations, gen-0 is retired
    write_generation(spark.range(30).toDF("id"), tbl, keep_generations=2)
    write_generation(spark.range(40).toDF("id"), tbl, keep_generations=2)
    assert not os.path.exists(f"{tbl}/gen-0")
    assert read_current(spark, tbl).count() == 40


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
