"""Exact distributed global ranking (operators/ranking.py):
bit-equality with the single-task Window forms, NULL placement,
partition invariance, and the no-global-sort plan property."""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.ranking import (
    global_dense_rank,
    global_row_number,
)
from cloud_based_bi_etl_automation_for_real_estate_company_spark.plans.measures import t

SF = "/root/testdata/sf0.001"


def test_global_row_number_equals_window_row_number(spark):
    o = t(spark, SF, "orders").select("o_orderkey", "o_totalprice")
    got = {
        r["o_orderkey"]: r["rn"]
        for r in global_row_number(
            o, "o_totalprice", tiebreaks=["o_orderkey"], n_buckets=7
        ).collect()
    }
    want = {
        r["o_orderkey"]: r["rn"]
        for r in o.select(
            "o_orderkey",
            F.row_number()
            .over(Window.orderBy("o_totalprice", "o_orderkey"))
            .cast("bigint")
            .alias("rn"),
        ).collect()
    }
    assert got == want


def test_global_row_number_nulls_first_and_ties(spark):
    df = spark.createDataFrame(
        [(1, 5.0), (2, None), (3, 5.0), (4, 1.0), (5, None)],
        "id int, v double",
    )
    got = {
        r["id"]: r["rn"]
        for r in global_row_number(df, "v", tiebreaks=["id"], n_buckets=3).collect()
    }
    assert got == {2: 1, 5: 2, 4: 3, 1: 4, 3: 5}


def test_global_row_number_partition_invariant(spark):
    o = t(spark, SF, "orders").select("o_orderkey", "o_totalprice")
    a = sorted(
        map(tuple, global_row_number(
            o.repartition(3), "o_totalprice", tiebreaks=["o_orderkey"]
        ).collect())
    )
    b = sorted(
        map(tuple, global_row_number(
            o.repartition(13), "o_totalprice", tiebreaks=["o_orderkey"]
        ).collect())
    )
    assert a == b


def test_global_row_number_plan_no_single_task_sort(spark):
    """The point of the operator: no global Sort and no unpartitioned
    Window anywhere in the physical plan — ranking runs as per-bucket
    windows behind a broadcast of cut points and offsets."""
    o = t(spark, SF, "orders").select("o_orderkey", "o_totalprice")
    plan = (
        global_row_number(o, "o_totalprice", tiebreaks=["o_orderkey"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "rangepartitioning" not in plan.lower(), plan
    # windows exist, but every one is keyed on the bucket column
    for line in plan.splitlines():
        if "Window" in line and "windowGroupLimit" not in line:
            assert "__gr_b" in line, line


def test_global_dense_rank_equals_window_dense_rank(spark):
    ev = t(spark, SF, "events").select("event_id", "value")
    vals = ev.select(F.round("value", 0).alias("v"), "event_id")
    got = {
        r["event_id"]: r["rank"]
        for r in global_dense_rank(vals, "v", n_buckets=5).collect()
    }
    want = {
        r["event_id"]: r["rank"]
        for r in vals.select(
            "event_id",
            F.dense_rank().over(Window.orderBy("v")).cast("bigint").alias("rank"),
        ).collect()
    }
    assert got == want


def test_tie_split_exact_on_heavy_skew(spark):
    """A 90%-constant order column: tie_split=True must still produce
    the EXACT global row_number while spreading the tie mass across
    buckets (no bucket holds more than half the rows), with no
    rangepartitioning in the plan."""
    rows = [(i, 5.0 if i % 10 else float(i % 7)) for i in range(4000)]
    df = spark.createDataFrame(rows, "id bigint, v double")
    ranked = global_row_number(
        df, "v", tiebreaks=["id"], n_buckets=8, tie_split=True
    )
    got = {r["id"]: r["rn"] for r in ranked.collect()}
    want = {
        r["id"]: r["rn"]
        for r in df.select(
            "id",
            F.row_number()
            .over(Window.orderBy("v", "id"))
            .cast("bigint")
            .alias("rn"),
        ).collect()
    }
    assert got == want
    # the tie mass actually spread: rebuild the internal bucket ids
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.ranking import (
        _composite_bucket,
    )

    sizes = [
        r["n"]
        for r in _composite_bucket(df, "v", "id", 8, 10000)
        .groupBy("__gr_b")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    assert max(sizes) < 2000, sizes
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan.lower(), plan


def test_tie_split_equals_default_without_heavy_values(spark):
    o = t(spark, SF, "orders").select("o_orderkey", "o_totalprice")
    a = {
        r["o_orderkey"]: r["rn"]
        for r in global_row_number(
            o, "o_totalprice", tiebreaks=["o_orderkey"], n_buckets=7
        ).collect()
    }
    b = {
        r["o_orderkey"]: r["rn"]
        for r in global_row_number(
            o, "o_totalprice", tiebreaks=["o_orderkey"], n_buckets=7,
            tie_split=True,
        ).collect()
    }
    assert a == b


def test_tie_split_null_order_and_null_tiebreak(spark):
    df = spark.createDataFrame(
        [(1, 5.0, 3.0), (2, None, 1.0), (3, 5.0, None), (4, 5.0, 1.0),
         (5, 1.0, 9.0)],
        "id int, v double, tb double",
    )
    got = {
        r["id"]: r["rn"]
        for r in global_row_number(
            df, "v", tiebreaks=["tb", "id"], n_buckets=3, tie_split=True
        ).collect()
    }
    want = {
        r["id"]: r["rn"]
        for r in df.select(
            "id",
            F.row_number()
            .over(Window.orderBy(
                F.col("v").asc_nulls_first(),
                F.col("tb").asc_nulls_first(),
                "id",
            ))
            .cast("bigint")
            .alias("rn"),
        ).collect()
    }
    assert got == want


def test_global_dense_rank_pair_equals_packed_key(spark):
    """The overflow-safe pair form must order exactly like the packed
    bigint r1*(R+1)+coalesce(r2,0): r1 asc, then r2 asc NULLs first."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.ranking import (
        global_dense_rank_pair,
    )

    rows = [
        (1, 3, 7), (2, 3, None), (3, 1, 2), (4, 3, 7), (5, 1, None),
        (6, 2, 1), (7, 1, 2), (8, 2, None),
    ]
    df = spark.createDataFrame(rows, "id int, r1 bigint, r2 bigint")
    got = {
        r["id"]: r["rank"]
        for r in global_dense_rank_pair(df, "r1", "r2", n_buckets=3).collect()
    }
    packed = df.withColumn(
        "__k", F.col("r1") * F.lit(100) + F.coalesce(F.col("r2"), F.lit(0))
    )
    want = {
        r["id"]: r["rank"]
        for r in packed.select(
            "id",
            F.dense_rank().over(Window.orderBy("__k")).cast("bigint").alias("rank"),
        ).collect()
    }
    assert got == want


def test_tie_split_rejects_unsafe_long_order_values(spark):
    """ADVICE r7: composite routing compares double-cast values, so a
    LongType order column reaching 2^53 must raise loudly under
    tie_split=True (distinct integers alias as doubles there) while
    tie_split=False stays exact under the monotone collapse."""
    import pytest

    big = 1 << 53
    df = spark.createDataFrame(
        [(i, big + (i % 3)) for i in range(30)], "id bigint, v bigint"
    )
    with pytest.raises(ValueError, match="2\\^53"):
        global_row_number(
            df, "v", tiebreaks=["id"], n_buckets=3, tie_split=True
        ).collect()
    got = {
        r["id"]: r["rn"]
        for r in global_row_number(df, "v", tiebreaks=["id"], n_buckets=3).collect()
    }
    want = {
        r["id"]: r["rn"]
        for r in df.select(
            "id",
            F.row_number().over(Window.orderBy("v", "id")).cast("bigint").alias("rn"),
        ).collect()
    }
    assert got == want


def test_tie_split_rejects_wide_decimal(spark):
    import pytest

    df = spark.createDataFrame(
        [(i, i) for i in range(10)], "id bigint, v bigint"
    ).select("id", F.col("v").cast("decimal(20,0)").alias("v"))
    with pytest.raises(ValueError, match="decimal"):
        global_row_number(df, "v", tiebreaks=["id"], n_buckets=3, tie_split=True)


def _file_spans(spark, path, col):
    """(min, max, file, rows) of ``col`` per data file, in min order."""
    per_file = (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("file"))
        .agg(
            F.min(col).alias("lo"),
            F.max(col).alias("hi"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return sorted((r["lo"], r["hi"], r["file"], r["n"]) for r in per_file.collect())


def test_sorted_write_tiles_and_prunes(spark, tmp_path):
    """sorted_write's output files must tile the order column (file
    i's max <= file i+1's min — the TeraSort layout), preserve every
    row, keep each file internally sorted, and let min/max file
    statistics skip most files for a narrow range predicate."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.ranking import (
        sorted_write,
    )

    df = spark.createDataFrame(
        [(i, float((i * 2654435761) % 10_000)) for i in range(5_000)],
        "id bigint, v double",
    )
    path = str(tmp_path / "sorted")
    sorted_write(df, "v", path, tiebreaks=["id"], n_files=8)

    spans = _file_spans(spark, path, "v")
    # the range partitioner may MERGE adjacent buckets (documented),
    # so the file count is bounded by n_files, not pinned to it
    assert 4 <= len(spans) <= 8
    assert sum(s[3] for s in spans) == 5_000
    for (lo1, hi1, _, _), (lo2, _, _, _) in zip(spans, spans[1:]):
        assert lo1 <= hi1 <= lo2
    # per-file internal sortedness
    import pyspark.sql.functions as F_

    one = spark.read.parquet(spans[3][2]).select("v").collect()
    vals = [r["v"] for r in one]
    assert vals == sorted(vals)
    # file skipping on min/max stats: a narrow range hits few files
    lo, hi = spans[2][0], spans[2][1]
    q_lo, q_hi = lo + (hi - lo) * 0.4, lo + (hi - lo) * 0.6
    kept = [s for s in spans if not (s[1] < q_lo or s[0] > q_hi)]
    assert 1 <= len(kept) <= 2
    # round trip: same multiset of rows
    back = spark.read.parquet(path)
    assert back.count() == 5_000
    assert back.agg(F_.sum("id")).collect()[0][0] == sum(range(5_000))


def test_sorted_write_tie_split_overlaps_only_on_heavy_value(spark, tmp_path):
    """With tie_split=True a 90%-tied column spreads across files
    split by the tiebreak; file intervals may overlap ONLY at the
    heavy value, and every row survives."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.ranking import (
        sorted_write,
    )

    rows = [(i, 42.0 if i % 10 else float(i)) for i in range(2_000)]
    df = spark.createDataFrame(rows, "id bigint, v double")
    path = str(tmp_path / "tied")
    sorted_write(df, "v", path, tiebreaks=["id"], n_files=6, tie_split=True)
    spans = _file_spans(spark, path, "v")
    assert sum(s[3] for s in spans) == 2_000
    for (lo1, hi1, _, _), (lo2, _, _, _) in zip(spans, spans[1:]):
        # tiling may relax only at the heavy value itself
        assert hi1 <= lo2 or (hi1 == 42.0 and lo2 == 42.0)
    assert spark.read.parquet(path).count() == 2_000


def test_sorted_write_null_order_values_route_first(spark, tmp_path):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.ranking import (
        sorted_write,
    )

    rows = [(i, None if i < 50 else float(i)) for i in range(1_000)]
    df = spark.createDataFrame(rows, "id bigint, v double")
    path = str(tmp_path / "nulls")
    sorted_write(df, "v", path, tiebreaks=["id"], n_files=4)
    back = spark.read.parquet(path)
    assert back.count() == 1_000 and back.filter("v IS NULL").count() == 50
    # the file holding NULLs is the one whose non-null minimum is the
    # global minimum (NULLs sort first)
    import pyspark.sql.functions as F_

    withf = back.withColumn("f", F_.input_file_name())
    null_files = {r["f"] for r in withf.filter("v IS NULL").select("f").distinct().collect()}
    assert len(null_files) == 1
    mins = {
        r["f"]: r["lo"]
        for r in withf.groupBy("f").agg(F_.min("v").alias("lo")).collect()
    }
    assert mins[next(iter(null_files))] == min(v for v in mins.values())


def test_shuffled_write_deterministic_decorrelated_complete(spark, tmp_path):
    """shuffled_write: (1) the hash key is NOT in the output schema,
    (2) every row survives, (3) re-runs produce the IDENTICAL global
    row sequence when files are read in part order — reproducible
    epochs (file BOUNDARIES may merge adjacent ranges, the sequence
    cannot change), (4) a different seed produces a different
    sequence, (5) source-adjacent ids land decorrelated — no sequence
    chunk is dominated by one contiguous input block."""
    import os as _os

    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.ranking import (
        shuffled_write,
    )

    df = spark.createDataFrame(
        [(i, f"doc{i}") for i in range(4_000)], "doc_id bigint, text string"
    )
    p1, p2, p3 = (str(tmp_path / n) for n in ("s1", "s2", "s3"))
    shuffled_write(df, "doc_id", p1, seed=0, n_files=8)
    shuffled_write(df, "doc_id", p2, seed=0, n_files=8)
    shuffled_write(df, "doc_id", p3, seed=1, n_files=8)

    back = spark.read.parquet(p1)
    assert back.columns == ["doc_id", "text"]
    assert back.count() == 4_000

    def sequence_of(path):
        seq = []
        for f in sorted(_os.listdir(path)):
            if f.endswith(".parquet"):
                # one small file = one scan partition: collect order
                # is the written row order
                seq.extend(
                    r["doc_id"]
                    for r in spark.read.parquet(_os.path.join(path, f))
                    .select("doc_id")
                    .collect()
                )
        return seq

    s1 = sequence_of(p1)
    assert sorted(s1) == list(range(4_000))
    assert s1 == sequence_of(p2)
    assert s1 != sequence_of(p3)
    # decorrelation: each eighth of the epoch sequence draws ~evenly
    # from the first contiguous 500-id input block, never swallows it
    for c in range(8):
        chunk = s1[c * 500 : (c + 1) * 500]
        block = sum(1 for i in chunk if i < 500)
        assert block < 250, (c, block)


def test_global_dense_rank_pair_heavy_col1_splits_buckets(spark):
    """Round-9 ADVICE fix: with tie_split on by default, a heavy col1
    value (one rank shared by most pairs — a low-cardinality early
    doubling round) must spread across >= 2 routing buckets by col2
    quantiles instead of sorting in a single window task, and ranks
    must stay exactly the packed-key dense_rank."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.ranking import (
        _B,
        _composite_bucket,
        global_dense_rank_pair,
    )

    # 400 pairs: 90% share one col1 value with distinct col2s
    rows = [(i, 7, i) for i in range(360)]
    rows += [(400 + j, int(j % 5), None) for j in range(40)]
    df = spark.createDataFrame(rows, "id int, r1 bigint, r2 bigint")
    got = {
        r["id"]: r["rank"]
        for r in global_dense_rank_pair(df, "r1", "r2", n_buckets=8).collect()
    }
    packed = df.withColumn(
        "__k", F.col("r1") * F.lit(1000) + F.coalesce(F.col("r2"), F.lit(0))
    )
    want = {
        r["id"]: r["rank"]
        for r in packed.select(
            "id",
            F.dense_rank().over(Window.orderBy("__k")).cast("bigint").alias("rank"),
        ).collect()
    }
    assert got == want
    # the heavy value's distinct pairs span >= 2 buckets under the
    # composite routing global_dense_rank_pair now uses by default
    keys = df.select(
        F.col("r1").alias("__dr_k1"), F.col("r2").alias("__dr_k2")
    ).distinct()
    b = _composite_bucket(keys, "__dr_k1", "__dr_k2", 8, 10000)
    n_heavy_buckets = (
        b.filter("__dr_k1 = 7").select(_B).distinct().count()
    )
    assert n_heavy_buckets >= 2
