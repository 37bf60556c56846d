"""Building a DataFrame launches no job that no result needs.

- Local frames: ``session.local_frame`` builds a driver-side frame as
  an Arrow local relation. Its analyzed plan is a ``LocalRelation``,
  its schema is the requested one, it collects the rows
  ``createDataFrame(list)`` collects, and collecting it runs no job.
  An AST scan (no Spark) keeps every ``createDataFrame`` call of the
  package inside that helper.
- Footer schemas: ``session.read_parquet`` (under ``plans.measures.t``,
  ``session.read_events`` and ``stores.read_store(merge=False)``)
  infers a parquet schema once per session and path. An append keeps
  the cached schema; a compaction, an overwrite and a new session
  infer again and see the schema on disk. The store guard still
  checks names and types.

Jobs are counted through a job group on the calling thread
(``statusTracker().getJobIdsForGroup``), so a job another thread runs
is not counted.
"""

from __future__ import annotations

import ast
import datetime
import decimal
import itertools
import pathlib
import shutil

import pytest
from pyspark.sql import functions as F

from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators import (
    stores,
)
from cloud_based_bi_etl_automation_for_real_estate_company_spark.session import (
    local_frame,
    read_parquet,
)

PKG = (
    pathlib.Path(__file__).resolve().parent.parent
    / "cloud_based_bi_etl_automation_for_real_estate_company_spark"
)
SF_DIR = "/root/testdata/sf0.001"

_group = itertools.count()


def _jobs(spark, fn):
    """(fn(), number of Spark jobs fn ran on this thread)."""
    sc = spark.sparkContext
    group = f"construction-jobs-{next(_group)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().getClass().getSimpleName()


# -- local frames -------------------------------------------------------------

MIXED = "d decimal(12,3), ts timestamp, arr array<bigint>, s string, n bigint"
MIXED_ROWS = [
    (decimal.Decimal("1.250"), datetime.datetime(2024, 3, 1, 12, 30, 5), [1, None, 3], "a", 7),
    (None, None, None, None, None),
    (decimal.Decimal("-0.001"), datetime.datetime(1999, 12, 31, 23, 59, 59, 999999), [], "", -1),
]


@pytest.mark.parametrize(
    "schema, rows", [(MIXED, []), (MIXED, MIXED_ROWS), ("x string", [("only",)])],
    ids=["empty", "mixed", "one-column"],
)
def test_local_frame_is_a_jobless_local_relation(spark, schema, rows):
    df = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert _analyzed(df) == "LocalRelation"
    assert df.schema == want.schema  # names, types and order
    got, jobs = _jobs(spark, df.collect)
    assert jobs == 0
    assert got == want.collect()


def _create_dataframe_sites(src: str, module: str) -> set[tuple[str, str]]:
    """(module, top-level def) of every ``createDataFrame(`` call."""
    return {
        (module, getattr(top, "name", "<module>"))
        for top in ast.parse(src).body
        for node in ast.walk(top)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "createDataFrame"
    }


def test_create_dataframe_is_called_only_by_the_local_frame_helper():
    sites = {
        site
        for p in sorted(PKG.rglob("*.py"))
        for site in _create_dataframe_sites(
            p.read_text(), str(p.relative_to(PKG).with_suffix(""))
        )
    }
    assert sites == {("session", "local_frame")}, sorted(sites)


def test_site_scan_finds_each_call():
    src = (
        "def f(spark):\n    return spark.createDataFrame([], 'a int')\n"
        "x = s.createDataFrame(rows)\n"
    )
    assert _create_dataframe_sites(src, "m") == {("m", "f"), ("m", "<module>")}


# -- footer schemas -----------------------------------------------------------


def test_second_fixture_read_launches_no_job(spark, tmp_path):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.plans.measures import (
        t,
    )

    for name in ("nation", "events"):  # events goes through read_events
        shutil.copy(f"{SF_DIR}/{name}.parquet", tmp_path)
        first, jobs_first = _jobs(spark, lambda: t(spark, str(tmp_path), name))
        again, jobs_again = _jobs(spark, lambda: t(spark, str(tmp_path), name))
        assert jobs_first >= 1  # the one inference job
        assert jobs_again == 0
        assert again.schema == first.schema


def _docs(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", F.lit("w"), (F.col("id") % 3).cast("string")).alias("text"),
    )


def test_store_read_after_append_and_delete_launches_no_inference(spark, tmp_path):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.corpus import (
        bm25_delete_docs,
        bm25_index_append,
    )

    store = str(tmp_path / "bm25")

    def read():
        return stores.read_live(
            spark, store, "postings", "doc_id",
            required="term string, tf bigint", required_names=("doc_id",),
        )

    bm25_index_append(_docs(spark, 0, 6), store)
    bm25_delete_docs(spark.createDataFrame([(1,)], "doc_id bigint"), store)
    _, jobs_cold = _jobs(spark, read)
    bm25_index_append(_docs(spark, 6, 9), store)
    bm25_delete_docs(spark.createDataFrame([(2,), (2,)], "doc_id bigint"), store)
    bm25_delete_docs(spark.createDataFrame([(2,)], "doc_id bigint"), store)
    live, jobs_warm = _jobs(spark, read)
    assert jobs_cold >= 2  # postings and tombstones each inferred once
    assert jobs_warm == 0
    # the tombstones are not deduplicated: an id deleted three times
    # still removes its postings once, and no other row
    want = read_parquet(spark, f"{store}/postings").filter(~F.col("doc_id").isin(1, 2))
    assert sorted(live.collect()) == sorted(want.collect())
    assert {r["doc_id"] for r in live.collect()} == {0, 3, 4, 5, 6, 7, 8}


def test_compaction_misses_the_cache_and_sees_the_merged_schema(spark, tmp_path):
    store = str(tmp_path / "s")
    stores.append(
        spark.createDataFrame([(1, "a")], "doc_id bigint, x string"), store, "postings"
    )
    assert read_parquet(spark, f"{store}/postings").columns == ["doc_id", "x"]
    # a wider append keeps the entry: the same answer a single-footer
    # read gives when it samples an old file
    spark.createDataFrame(
        [(2, "b", 1.5)], "doc_id bigint, x string, extra double"
    ).write.mode("append").parquet(f"{store}/postings")
    assert stores.read_store(spark, f"{store}/postings", merge=False).columns == [
        "doc_id", "x",
    ]
    stores.compact(spark, store, {"postings": {}}, id_col="doc_id")
    df, jobs = _jobs(
        spark, lambda: stores.read_store(spark, f"{store}/postings", merge=False)
    )
    assert jobs >= 1
    assert df.columns == ["doc_id", "x", "extra"]
    assert sorted(df.collect()) == [(1, "a", None), (2, "b", 1.5)]


def test_overwrite_with_an_added_column_misses_the_cache(spark, tmp_path):
    p = str(tmp_path / "t")
    spark.createDataFrame([(1,)], "a bigint").write.parquet(p)
    assert read_parquet(spark, p).columns == ["a"]
    spark.createDataFrame([(2, "z")], "a bigint, b string").write.mode(
        "overwrite"
    ).parquet(p)
    df, jobs = _jobs(spark, lambda: read_parquet(spark, p))
    assert jobs >= 1
    assert df.columns == ["a", "b"] and df.collect() == [(2, "z")]


def test_new_session_misses_the_cache(spark, tmp_path):
    """The key holds the session: a session whose parquet settings read
    the same footer differently infers its own schema."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = tmp_path / "bin"
    p.mkdir()
    pq.write_table(pa.table({"v": pa.array([b"x"], pa.binary())}), p / "part-0.parquet")
    assert read_parquet(spark, str(p)).schema["v"].dataType.simpleString() == "binary"
    other = spark.newSession()
    other.conf.set("spark.sql.parquet.binaryAsString", "true")
    df, jobs = _jobs(other, lambda: read_parquet(other, str(p)))
    assert jobs >= 1
    assert df.schema["v"].dataType.simpleString() == "string"
    assert read_parquet(spark, str(p)).schema["v"].dataType.simpleString() == "binary"


def test_store_guard_still_raises_on_a_wrong_type(spark, tmp_path):
    p = str(tmp_path / "store" / "postings")
    spark.createDataFrame([(1, "t", 2)], "doc_id bigint, term string, tf bigint").write.parquet(p)
    stores.read_store(spark, p, required="term string, tf bigint", merge=False)
    spark.createDataFrame([(1, "t", "2")], "doc_id bigint, term string, tf string").write.mode(
        "overwrite"
    ).parquet(p)
    with pytest.raises(ValueError, match="column tf: expected bigint"):
        stores.read_store(spark, p, required="term string, tf bigint", merge=False)
