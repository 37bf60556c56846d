"""Scale-path invariants that only matter beyond fixture size:

- dynamic partition pruning: a partitioned gold table joined to a
  filtered dimension must scan only the matching partition directories
  (at 100 TB this is the difference between reading one month and
  reading the table);
- sketch aggregates: approx_count_distinct (HLL++) and
  approx_percentile stay within their documented error bounds of the
  exact answers — the drop-in replacements once exact distinct/sort
  no longer fit.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from cloud_based_bi_etl_automation_for_real_estate_company_spark.plans.measures import t
from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.generations import (
    publish,
)

SF = "/root/testdata/sf0.001"


def test_dynamic_partition_pruning_on_gold_join(spark, tmp_path):
    o = t(spark, SF, "orders").withColumn("order_year", F.year("o_orderdate"))
    gold = publish(
        o, str(tmp_path / "orders_by_year"), partition_by=["order_year"]
    )
    # the filter must be on a NON-join column: a literal join-key
    # predicate would constant-fold into a static partition filter
    # (also a fine outcome, but then nothing is "dynamic" to test)
    dim = spark.createDataFrame(
        [(y, "focus" if y == 1996 else "other") for y in range(1995, 2002)],
        "dim_year int, label string",
    ).filter(F.col("label") == "focus")
    joined = gold.join(
        F.broadcast(dim), gold.order_year == dim.dim_year
    ).groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
    # and the pruned plan still returns exactly the 1996 partition
    n = joined.collect()[0]["n"]
    expected = o.filter(F.col("order_year") == 1996).count()
    assert n == expected


def test_partition_pruning_static_filter_prunes_directories(spark, tmp_path):
    o = t(spark, SF, "orders").withColumn("order_year", F.year("o_orderdate"))
    gold = publish(o, str(tmp_path / "orders_part"), partition_by=["order_year"])
    df = gold.filter(F.col("order_year") == 1997)
    plan = df._jdf.queryExecution().toString()
    assert "PartitionFilters: [isnotnull(order_year" in plan
    assert df.count() == o.filter("order_year = 1997").count()


def test_approx_count_distinct_within_documented_error(spark):
    o = t(spark, SF, "orders")
    exact = o.select(F.countDistinct("o_custkey").alias("d")).collect()[0]["d"]
    approx = o.select(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("d")
    ).collect()[0]["d"]
    assert abs(approx - exact) / exact <= 0.06  # 3× rsd safety margin


def test_approx_percentile_close_to_exact(spark):
    l = t(spark, SF, "lineitem")
    exact, approx = (
        l.select(
            F.percentile("l_extendedprice", 0.5).alias("p_exact"),
            F.percentile_approx("l_extendedprice", 0.5, 10000).alias("p_approx"),
        )
        .collect()[0]
    )
    assert abs(approx - exact) / exact <= 0.01


@pytest.mark.slow  # round 16: heavy leg, slow tier (see pytest.ini)
def test_results_invariant_under_partitioning(spark):
    """Partition-count invariance — THE scale property: the same
    logical result regardless of how the input is split (catches
    order-dependent float accumulation and non-deterministic
    tie-breaks that only surface on a real cluster)."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.corpus import (
        bigram_nll,
        mixture_sample,
        unigram_nll,
    )
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.dedup import (
        span_dedup,
    )
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.timeseries import (
        ohlc_downsample,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.session import (
        read_events,
    )

    events = read_events(spark, "/root/testdata/sf0.001/events.parquet")

    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.corpus import (
        tfidf_by_group,
        token_spectrum,
    )
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.dedup import (
        minhash_estimate_pairs,
        ngram_containment_pairs,
    )

    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.dedup import (
        sliding_span_dedup,
    )

    cases = [
        (docs, lambda d: span_dedup(d, span=8)),
        (docs, lambda d: sliding_span_dedup(d, span=8)),
        (docs, lambda d: unigram_nll(d)),
        (docs, lambda d: bigram_nll(d)),
        (docs, lambda d: mixture_sample(d, alpha=0.5)),
        (docs, lambda d: token_spectrum(d)),
        (docs, lambda d: tfidf_by_group(d)),
        (docs, lambda d: ngram_containment_pairs(d, threshold=0.3)),
        (docs, lambda d: minhash_estimate_pairs(d)),
        (events, lambda d: ohlc_downsample(d, bucket="5 minutes")),
    ]
    for src, op in cases:
        a = sorted(map(tuple, op(src.repartition(2)).collect()))
        b = sorted(map(tuple, op(src.repartition(13)).collect()))
        assert a == b, op


def test_hll_sketch_rollup_merge_consistency(spark):
    """The mergeable-sketch contract: unioning per-(type, day) sketches
    to per-type must equal sketching per-type directly (identical
    binary state → identical estimate, not merely close), and the
    estimate must sit within the documented error of exact."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.sketches import (
        distinct_sketch_rollup,
        merge_distinct_sketches,
    )
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.session import (
        read_events,
    )
    from pyspark.sql import functions as F

    ev = read_events(spark, "/root/testdata/sf0.001/events.parquet").withColumn(
        "day", F.to_date("ts")
    )
    fine = distinct_sketch_rollup(ev, ["event_type", "day"], "user_id")
    merged = {
        r["event_type"]: r["approx_distinct"]
        for r in merge_distinct_sketches(fine, ["event_type"]).collect()
    }
    direct = {
        r["event_type"]: r["approx_distinct"]
        for r in distinct_sketch_rollup(ev, ["event_type"], "user_id").collect()
    }
    assert merged == direct
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for k, est in merged.items():
        assert abs(est - exact[k]) / exact[k] < 0.05, (k, est, exact[k])


def test_kmv_estimate_accuracy_and_exact_small_groups(spark):
    """KMV contract: groups under k are EXACT (the sketch is the set);
    full sketches estimate within the k=128 error envelope."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators import (
        sketches as K,
    )
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.session import (
        read_events,
    )

    ev = read_events(spark, "/root/testdata/sf0.001/events.parquet")
    kept = K.kmv_kept(ev, ["event_type"], "user_id", k=128)
    est = {
        r["event_type"]: r
        for r in K.kmv_estimate(kept, ["event_type"], k=128).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for etype, n in exact.items():
        row = est[etype]
        if n < 128:
            assert row["estimate"] == float(n), (etype, row)
        else:
            assert abs(row["estimate"] - n) / n < 0.30, (etype, row, n)


def test_kmv_set_ops_against_exact(spark):
    """Theta union/intersection estimates track the exact distinct
    union/overlap; both are deterministic across partitionings."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators import (
        sketches as K,
    )
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.session import (
        read_events,
    )

    ev = read_events(spark, "/root/testdata/sf0.001/events.parquet")
    kept = K.kmv_kept(ev, ["event_type"], "user_id", k=128)
    a = kept.filter(F.col("event_type") == "view").select("u")
    b = kept.filter(F.col("event_type") == "click").select("u")
    uni = K.kmv_union(a, b, k=128).collect()[0]
    inter = K.kmv_intersect(a, b, k=128).collect()[0]

    viewers = {r[0] for r in ev.filter("event_type = 'view'").select("user_id").distinct().collect()}
    clickers = {r[0] for r in ev.filter("event_type = 'click'").select("user_id").distinct().collect()}
    n_union = len(viewers | clickers)
    n_inter = len(viewers & clickers)
    assert abs(uni["estimate"] - n_union) / n_union < 0.30, (uni, n_union)
    if n_inter:
        assert abs(inter["estimate"] - n_inter) / n_inter < 0.45, (inter, n_inter)

    # determinism under repartitioning
    kept2 = K.kmv_kept(ev.repartition(13), ["event_type"], "user_id", k=128)
    a2 = kept2.filter(F.col("event_type") == 'view').select("u")
    b2 = kept2.filter(F.col("event_type") == 'click').select("u")
    assert K.kmv_union(a2, b2, k=128).collect()[0] == uni
    assert K.kmv_intersect(a2, b2, k=128).collect()[0] == inter


def test_kmv_kept_plan_uses_window_group_limit(spark):
    """The per-group k-minima must prune map-side (WindowGroupLimit),
    not ship every distinct hash to the window sort."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators import (
        sketches as K,
    )
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.session import (
        read_events,
    )

    ev = read_events(spark, "/root/testdata/sf0.001/events.parquet")
    plan = K.kmv_kept(ev, ["event_type"], "user_id", k=128)._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan


def test_cms_overestimates_and_merges(spark):
    """CMS contract: point estimates never undercount, and the sketch
    of a union equals the cell-wise sum of the parts' sketches (the
    mergeability that makes it a partial aggregate)."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators import (
        sketches as K,
    )

    rows = [(f"t{i % 40}",) for i in range(600)] + [("hot",)] * 200
    occ = spark.createDataFrame(rows, "term string")
    cms = K.cms_build(occ, d=4, width=64)
    truth = occ.groupBy("term").agg(F.count("*").alias("true_count"))
    est = {
        r["term"]: r
        for r in K.cms_estimate(cms, truth, d=4, width=64).collect()
    }
    for term, r in est.items():
        assert r["cms_count"] >= r["true_count"], (term, r)
    assert est["hot"]["cms_count"] >= 200

    # merge = cell-wise addition of two halves' sketches
    h1 = K.cms_build(spark.createDataFrame(rows[:400], "term string"), d=4, width=64)
    h2 = K.cms_build(spark.createDataFrame(rows[400:], "term string"), d=4, width=64)
    merged = (
        h1.union(h2).groupBy("i", "bucket").agg(F.sum("cnt").alias("cnt"))
    )
    direct = {(r["i"], r["bucket"]): r["cnt"] for r in cms.collect()}
    summed = {(r["i"], r["bucket"]): r["cnt"] for r in merged.collect()}
    assert direct == summed


def test_zipf_fit_negative_slope_on_zipfian_corpus(spark):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators import (
        corpus as C,
    )

    # frequencies ~ 1/rank: term_r appears ceil(120/r) times
    words = []
    for r in range(1, 30):
        words += [f"w{r}"] * (120 // r)
    text = " ".join(words)
    df = spark.createDataFrame([(0, text, "s")], "doc_id bigint, text string, source string")
    row = C.zipf_fit(df).collect()[0]
    assert row["n_terms"] == 29
    assert -1.3 < row["slope"] < -0.7, row
    a = C.zipf_fit(df.repartition(3)).collect()[0]
    assert a == row


def test_logreg_train_matches_numpy_and_is_partition_invariant(spark):
    import numpy as np
    from pyspark.sql import functions as F
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.ml import (
        logreg_score,
        logreg_train,
    )

    rng = [(float(i % 2), (i % 7) / 3.0, ((i * 13) % 11) / 5.0) for i in range(200)]
    df = spark.createDataFrame(rng, "y double, x1 double, x2 double")
    w = logreg_train(df, ["x1", "x2"], "y", iterations=3, lr=1.0).collect()[0]

    y = np.array([r[0] for r in rng])
    X = np.array([[r[1], r[2]] for r in rng])
    w0, wv = 0.0, np.zeros(2)
    for _ in range(3):
        z = w0 + X @ wv
        resid = y - 1.0 / (1.0 + np.exp(-z))
        w0 += np.sum(np.round(resid, 9)) / len(y)
        wv += (np.round(resid[:, None] * X, 9)).sum(axis=0) / len(y)
    assert abs(w["w0"] - w0) < 1e-9
    assert abs(w["w_x1"] - wv[0]) < 1e-9
    assert abs(w["w_x2"] - wv[1]) < 1e-9

    # partitioning must not change the learned weights at all
    w_many = logreg_train(
        df.repartition(13), ["x1", "x2"], "y", iterations=3, lr=1.0
    ).collect()[0]
    assert (w["w0"], w["w_x1"], w["w_x2"]) == (
        w_many["w0"], w_many["w_x1"], w_many["w_x2"],
    )

    # scoring is monotone in z and bounded
    weights = logreg_train(df, ["x1", "x2"], "y", iterations=3)
    scored = logreg_score(df, weights, ["x1", "x2"]).collect()
    assert all(0.0 < r["p"] < 1.0 for r in scored)


def test_tdigest_accuracy_determinism_and_merge(spark):
    """t-digest pins: (1) rank error of p50/p95/p99 well inside the 5%
    gate tolerance on a skewed distribution, (2) bit-identical output
    under input repartitioning (shard assignment hashes the value, not
    the Spark partition), (3) mergeability — re-clustering the union
    of two halves' digests agrees with the full digest to digest
    accuracy, (4) centroid table stays O(delta)."""
    import numpy as np

    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.sketches import (
        _tdigest_cluster,
        tdigest_centroids,
        tdigest_quantiles,
    )

    # deterministic skewed values: exp of a hash-derived uniform
    n = 20_000
    vals = np.exp(3.0 * ((np.arange(n) * 2654435761 % 2**32) / 2**32))
    df = spark.createDataFrame(
        [("k", float(v), i) for i, v in enumerate(vals)], "g string, v double, i bigint"
    )
    cent = tdigest_centroids(df, ["g"], "v", delta=100)
    rows = cent.collect()
    assert len(rows) <= 120  # O(delta) centroids
    qs = [0.5, 0.95, 0.99]
    est = {
        r["q"]: r["est"]
        for r in tdigest_quantiles(cent, ["g"], qs).collect()
    }
    sv = np.sort(vals)
    for q in qs:
        rank = np.searchsorted(sv, est[q], side="right") / n
        assert abs(rank - q) < 0.02, (q, rank)

    # determinism under repartitioning
    a = sorted(map(tuple, rows))
    b = sorted(
        map(tuple, tdigest_centroids(df.repartition(17), ["g"], "v", delta=100).collect())
    )
    assert a == b

    # mergeability: union of two halves' digests, re-clustered, gives
    # the same quantiles to digest accuracy
    half1 = tdigest_centroids(df.filter("i % 2 = 0"), ["g"], "v", delta=100)
    half2 = tdigest_centroids(df.filter("i % 2 = 1"), ["g"], "v", delta=100)
    uni = half1.unionByName(half2)
    m, w = _tdigest_cluster(
        np.array([r["mean"] for r in uni.collect()]),
        np.array([r["weight"] for r in uni.collect()]),
        100,
    )
    merged_df = spark.createDataFrame(
        [("k", float(mm), float(ww)) for mm, ww in zip(m, w)],
        "g string, mean double, weight double",
    )
    est2 = {
        r["q"]: r["est"]
        for r in tdigest_quantiles(merged_df, ["g"], qs).collect()
    }
    for q in qs:
        rank = np.searchsorted(sv, est2[q], side="right") / n
        assert abs(rank - q) < 0.02, (q, rank)


def test_tdigest_rollup_matches_direct(spark):
    """Merging per-slice digests to a coarser key (tdigest_merge) must
    stay within digest accuracy of the DIRECT single-key build: both
    answer p50/p95/p99 with rank error < 2% on the same 6000 values,
    and the merged digest keeps O(delta) centroids."""
    import numpy as np

    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators import (
        sketches as K,
    )

    n = 6000
    vals = np.exp(2.0 * ((np.arange(n) * 2654435761 % 2**32) / 2**32))
    rows = [("k", int(i % 10), float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "key string, slice int, value double")
    daily = K.tdigest_centroids(df, ["key", "slice"], "value", delta=100,
                                n_shards=4)
    merged = K.tdigest_merge(daily, ["key"], delta=100)
    assert merged.count() <= 120
    est = {
        r["q"]: r["est"]
        for r in K.tdigest_quantiles(merged, ["key"], [0.5, 0.95, 0.99]).collect()
    }
    sv = np.sort(vals)
    for q, e in est.items():
        rank = np.searchsorted(sv, e, side="right") / n
        assert abs(rank - q) < 0.02, (q, rank)


def test_tdigest_merge_global_rollup(spark):
    """tdigest_merge with keys=[] (the 'global' slice the docstring
    promises) returns one merged digest whose quantiles stay within
    digest accuracy."""
    import numpy as np

    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators import (
        sketches as K,
    )

    n = 4000
    vals = (np.arange(n) * 2654435761 % 2**32) / 2**32
    df = spark.createDataFrame(
        [(int(i % 5), float(v)) for i, v in enumerate(vals)],
        "slice int, value double",
    )
    per_slice = K.tdigest_centroids(df, ["slice"], "value", delta=100,
                                    n_shards=4)
    g = K.tdigest_merge(per_slice, [], delta=100)
    assert g.count() <= 120
    est = {
        r["q"]: r["est"]
        for r in K.tdigest_quantiles(
            g.withColumn("k", F.lit(1)), ["k"], [0.5, 0.95]
        ).collect()
    }
    sv = np.sort(vals)
    for q, e in est.items():
        rank = np.searchsorted(sv, e, side="right") / n
        assert abs(rank - q) < 0.02


def test_tdigest_skips_nulls_like_percentile_approx(spark):
    """NULL values must not bias the digest (round-9 ADVICE fix): a
    column of 0..99 plus 50 NULL rows has q50 ≈ 49.5 under skip-null
    semantics; before the isNotNull filter the nulls contributed
    weight but not mass and q50 came back ≈ 24.5. Also: an all-NULL
    group yields zero centroid (and zero quantile) rows, matching
    percentile_approx, and tdigest_merge drops hand-built NULL-mean
    centroid rows rather than poisoning their bin."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators import (
        sketches as K,
    )

    rows = [("a", float(i)) for i in range(100)]
    rows += [("a", None)] * 50
    rows += [("b", None)] * 7  # all-NULL group
    df = spark.createDataFrame(rows, "g string, v double")
    cent = K.tdigest_centroids(df, ["g"], "v", delta=100, n_shards=4)
    assert cent.filter("g = 'b'").count() == 0
    q = K.tdigest_quantiles(cent, ["g"], [0.5]).collect()
    assert len(q) == 1 and q[0]["g"] == "a"
    assert abs(q[0]["est"] - 49.5) < 2.0
    # percentile_approx agreement on the same frame
    pa = df.groupBy("g").agg(
        F.percentile_approx("v", 0.5).alias("p50")
    ).collect()
    ref = {r["g"]: r["p50"] for r in pa}
    assert ref["b"] is None
    assert abs(q[0]["est"] - ref["a"]) < 2.0
    # merge guard: a NULL-mean centroid row is dropped, not averaged in
    bad = cent.unionByName(
        spark.createDataFrame(
            [("a", None, 1000.0)], "g string, mean double, weight double"
        )
    )
    merged = K.tdigest_merge(bad, ["g"], delta=100)
    q2 = K.tdigest_quantiles(merged, ["g"], [0.5]).collect()
    assert abs(q2[0]["est"] - 49.5) < 2.0
