"""Unit tests for the PII redactor, repetition quality signals, and
benchmark decontamination (oracle-checked end-to-end as x_pii_redact /
x_repetition / x_decontaminate; these pin the edge cases)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cloud_based_bi_etl_automation_for_real_estate_company_spark.functions import (
    text as T,
)
from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators import (
    quality as Q,
)


def _redact(spark, s: str) -> str:
    df = spark.createDataFrame([(s,)], "t string")
    return df.select(T.redact_pii("t").alias("r")).collect()[0]["r"]


def test_redact_pii_each_class(spark):
    assert (
        _redact(spark, "mail bob.smith+x@corp.example.io now")
        == "mail <EMAIL> now"
    )
    assert _redact(spark, "see https://a.example/p?q=1#f end") == "see <URL> end"
    assert _redact(spark, "call +52 55 1234 5678 today") == "call <PHONE> today"
    # URL redacted before its digits can look phone-like; short digit
    # runs (dates, ids) are NOT phone matches
    assert _redact(spark, "v2 built 2024 https://x.example/20240101999999") == (
        "v2 built 2024 <URL>"
    )
    assert _redact(spark, "no pii here, just words") == "no pii here, just words"


def test_repetition_stats_values(spark):
    df = spark.createDataFrame(
        [(1, "a a a a b"), (2, "all words differ here"), (3, "solo")],
        "doc_id bigint, text string",
    )
    rows = {r["doc_id"]: r for r in Q.repetition_stats(df).collect()}
    r1 = rows[1]
    assert r1["n_tokens"] == 5
    assert r1["dup_token_ratio"] == pytest.approx(1 - 2 / 5)
    # bigrams: "a a" x3, "a b" -> 4 total, 2 distinct
    assert r1["dup_bigram_ratio"] == pytest.approx(1 - 2 / 4)
    assert r1["top_token_frac"] == pytest.approx(4 / 5)
    assert rows[2]["dup_token_ratio"] == 0.0
    assert rows[2]["top_token_frac"] == pytest.approx(1 / 4)
    assert rows[3]["dup_bigram_ratio"] is None  # < 2 tokens


def test_decontaminate_drops_overlapping_docs(spark):
    ev = spark.createDataFrame(
        [(100, "the quick brown fox jumps")], "doc_id bigint, text string"
    )
    train = spark.createDataFrame(
        [
            (1, "lazy dogs avoid the quick brown fox entirely"),  # shares 3-grams
            (2, "completely unrelated training content words"),
        ],
        "doc_id bigint, text string",
    )
    rep = {r["doc_id"]: r["n_shared"] for r in Q.contamination_report(train, ev).collect()}
    assert rep == {1: 2}  # "the quick brown", "quick brown fox"
    clean = Q.decontaminate(train, ev)
    assert [r["doc_id"] for r in clean.collect()] == [2]


def test_length_clip_winsorizes_per_class(spark):
    # values 1..9 plus a 1000 outlier; p05/p95 by linear interpolation
    # over the 10 sorted values: p05 = 1.45, p95 = 9 + 0.55·991 = 554.05
    # → outlier cut
    df = spark.createDataFrame(
        [(i, v, "en") for i, v in enumerate([1, 2, 3, 4, 5, 6, 7, 8, 9, 1000])],
        "doc_id bigint, n_chars bigint, lang string",
    )
    r = Q.length_clip(df).collect()[0]
    assert (r["lang"], r["n_total"], r["n_kept"]) == ("en", 10, 8)
    assert r["p_lo"] == pytest.approx(1.45)
    assert r["p_hi"] == pytest.approx(554.05)
    # approx path: same row count, percentiles near exact (coarse data)
    a = Q.length_clip(df, exact=False).collect()[0]
    assert a["n_total"] == 10 and 0 < a["n_kept"] <= 10


def test_weighted_sample_exact_budget_and_determinism(spark):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.quality import (
        weighted_sample,
    )

    rows = [
        (i, f"document body {i} " + "x" * (i % 50), "en" if i % 3 else "de", 20 + i)
        for i in range(90)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, lang string, n_chars bigint")
    out = weighted_sample(df, "n_chars", k=10, strata_col="lang")
    per = {r["lang"]: r["cnt"] for r in out.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    assert per == {"en": 10, "de": 10}  # exact budget per stratum
    again = weighted_sample(df.repartition(13), "n_chars", k=10, strata_col="lang")
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_weighted_sample_priority_monotone_in_weight(spark):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.quality import (
        weighted_sample,
    )

    # identical content (same uniform u), increasing weight: the
    # Efraimidis-Spirakis key u^(1/w) must increase with w, so the
    # top-k under a shared u picks the heaviest rows.
    df = spark.createDataFrame(
        [(i, "same text", "s", 10 * (i + 1)) for i in range(8)],
        "doc_id bigint, text string, lang string, w bigint",
    )
    out = weighted_sample(df, "w", k=3, strata_col="lang", id_col="doc_id")
    assert sorted(r["doc_id"] for r in out.collect()) == [5, 6, 7]


def test_bloom_probe_never_misses_real_contamination(spark):
    # Bloom guarantees: no false negatives (every doc the exact
    # report flags is bloom-flagged); false positives allowed.
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog", "a"),
            (2, "pack my box with five dozen liquor jugs", "a"),
            (3, "the quick brown fox naps all day long", "a"),
            (4, "completely unrelated text with different words here", "a"),
        ],
        "doc_id long, text string, source string",
    )
    ev = docs.filter(F.col("doc_id") == 1)
    train = docs.filter(F.col("doc_id") != 1)
    words = Q.bloom_build(ev)
    probe = {r["doc_id"]: r for r in Q.bloom_probe(train, words).collect()}
    exact = {
        r["doc_id"]
        for r in Q.contamination_report(train, ev).collect()
    }
    assert 3 in exact  # shares "the quick brown" / "quick brown fox"
    for d in exact:
        assert probe[d]["flagged"] == 1
    # n_hits bounded by shingle count
    for r in probe.values():
        assert 0 <= r["n_hits"] <= r["n_shingles"]


def test_bloom_probe_is_map_only(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e", "s"), (2, "f g h i j", "s")],
        "doc_id long, text string, source string",
    )
    words = Q.bloom_build(docs.limit(1))
    plan = (
        Q.bloom_probe(docs, words)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan  # probe adds zero shuffles


def test_bloom_short_doc_zero_shingles(spark):
    docs = spark.createDataFrame(
        [(1, "one two", "s")], "doc_id long, text string, source string"
    )
    words = Q.bloom_build(docs)
    r = Q.bloom_probe(docs, words).collect()[0]
    assert r["n_shingles"] == 0 and r["n_hits"] == 0 and r["flagged"] == 0


def test_normalize_text_idempotent_and_canonical(spark):
    from pyspark.sql import functions as F
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.functions.text import (
        normalize_text,
    )

    rows = [
        (1, "Hello,  World!"),
        (2, "hello world"),
        (3, "  HELLO -- world??  "),
        (4, "unrelated text"),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "id bigint, text string")
    out = {r["id"]: r["n"] for r in df.select("id", normalize_text("text").alias("n")).collect()}
    # surface variants collapse to one canonical form
    assert out[1] == out[2] == out[3] == "hello world"
    assert out[5] == ""
    # idempotence: normalize(normalize(x)) == normalize(x)
    twice = {
        r["id"]: r["n2"]
        for r in df.select(
            "id", normalize_text(normalize_text("text")).alias("n2")
        ).collect()
    }
    assert twice == out


def test_domain_cap_keeps_top_k_per_domain(spark):
    """domain_cap: at most k rows per domain, longest-first with id
    tie-break; plan prunes map-side (WindowGroupLimit); deterministic
    under repartitioning."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.quality import (
        domain_cap,
    )
    from pyspark.sql import functions as F

    rows = [
        (i, f"s{i % 3}", (i * 7) % 50 + 10) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, source string, n_chars bigint")
    out = domain_cap(df, 5).collect()
    by_src: dict[str, list] = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    assert set(by_src) == {"s0", "s1", "s2"}
    truth = {}
    for i, s, n in rows:
        truth.setdefault(s, []).append((-n, i))
    for s, rs in by_src.items():
        assert len(rs) == 5
        want_ids = [i for _, i in sorted(truth[s])[:5]]
        got = {r["doc_id"]: r["rk"] for r in rs}
        assert sorted(got) == sorted(want_ids)
        for rank, i in enumerate(want_ids, start=1):
            assert got[i] == rank, (s, i, rank, got)
    plan = (
        domain_cap(df, 5)._jdf.queryExecution().executedPlan().toString()
    )
    assert "WindowGroupLimit" in plan, plan
    a = sorted(map(tuple, domain_cap(df.repartition(2), 5).collect()))
    b = sorted(map(tuple, domain_cap(df.repartition(7), 5).collect()))
    assert a == b


def test_ks_drift_perfect_separation(spark):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.quality import (
        ks_drift,
    )

    # g1 lengths {1,1,2}, g2 lengths {3,3}: the ECDFs separate fully
    # at v=2 → D = 1 exactly (integer form: max|cum1·n2 − cum2·n1| =
    # |3·2 − 0·3| = 6 over n1·n2 = 6).
    df = spark.createDataFrame(
        [(1, "g1"), (1, "g1"), (2, "g1"), (3, "g2"), (3, "g2")],
        "n_chars bigint, source string",
    )
    rows = {r["source"]: r for r in ks_drift(df).collect()}
    g1 = rows["g1"]
    assert g1["n_source"] == 3 and g1["n_rest"] == 2
    assert g1["ks_stat"] == 1.0
    # c(0.05)·sqrt(5/6) ≈ 1.2398 > 1.0 → tiny samples can't reject
    assert g1["reject_95"] is False
    assert rows["g2"]["ks_stat"] == 1.0


def test_ks_drift_identical_distributions(spark):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.quality import (
        ks_drift,
    )

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (1, "b"), (2, "b")],
        "n_chars bigint, source string",
    )
    rows = ks_drift(df).collect()
    assert all(r["ks_stat"] == 0.0 for r in rows)
    assert all(r["reject_95"] is False for r in rows)


def test_ks_drift_matches_scipy_style_hand_calc(spark):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.quality import (
        ks_drift,
    )

    # g1 = [1,2,3,4], rest = [2,3,3,5]; grid cums:
    #   v:      1  2  3  4  5
    #   cum1:   1  2  3  4  4   (n1=4)
    #   cumR:   0  1  3  3  4   (n2=4)
    # D_int = max|cum1·4 − cumR·4| = max(4,4,0,4,0) = 4 → D = 4/16
    df = spark.createDataFrame(
        [(1, "g1"), (2, "g1"), (3, "g1"), (4, "g1"),
         (2, "g2"), (3, "g2"), (3, "g2"), (5, "g2")],
        "n_chars bigint, source string",
    )
    rows = {r["source"]: r for r in ks_drift(df).collect()}
    assert rows["g1"]["ks_stat"] == 4.0 / 16.0
    assert rows["g1"]["n_source"] == 4 and rows["g1"]["n_rest"] == 4


def test_psi_drift_identical_shares_zero(spark):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.quality import (
        psi_drift,
    )

    # both groups put one doc in the lowest and one in the highest
    # bucket -> p == q in every bucket -> PSI exactly 0
    df = spark.createDataFrame(
        [(0, "a"), (9, "a"), (0, "b"), (9, "b")],
        "n_chars bigint, source string",
    )
    rows = psi_drift(df).collect()
    assert all(r["psi"] == 0.0 for r in rows)
    assert all(r["shifted"] is False for r in rows)


def test_psi_drift_detects_shift(spark):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.quality import (
        psi_drift,
    )

    # g1 mass entirely in the low buckets, g2 entirely high
    data = [(i, "g1") for i in range(0, 20)] + [
        (i, "g2") for i in range(80, 100)
    ]
    df = spark.createDataFrame(data, "n_chars bigint, source string")
    rows = {r["source"]: r for r in psi_drift(df).collect()}
    assert rows["g1"]["psi"] > 0.25 and rows["g1"]["shifted"] is True
    assert rows["g1"]["n_source"] == 20 and rows["g1"]["n_rest"] == 20
    # PSI of g vs rest is symmetric for the two-group case
    assert abs(rows["g1"]["psi"] - rows["g2"]["psi"]) < 1e-9


def test_psi_drift_hand_computed_two_buckets(spark):
    import math

    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.quality import (
        psi_drift,
    )

    # min=0 max=9 -> den=10, so v=0..0 -> bucket 0, v=9 -> bucket 9.
    # g1: 3 docs at 0; g2: 1 doc at 0, 2 at 9. Add-one smoothing over
    # 10 buckets: n_g1=3 -> p over {b0: 4/13, b9: 1/13, others 1/13}
    df = spark.createDataFrame(
        [(0, "g1"), (0, "g1"), (0, "g1"), (0, "g2"), (9, "g2"), (9, "g2")],
        "n_chars bigint, source string",
    )
    rows = {r["source"]: r for r in psi_drift(df).collect()}

    def term(cg, call, ng, n):
        p = (cg + 1) / (ng + 10)
        q = (call - cg + 1) / (n - ng + 10)
        return round((p - q) * math.log(p / q), 12)

    # buckets: b0 has c_all=4 (g1:3, g2:1), b9 has c_all=2 (g2:2),
    # the other 8 buckets are empty
    want = (
        term(3, 4, 3, 6) + term(0, 2, 3, 6) + 8 * term(0, 0, 3, 6)
    )
    assert math.isclose(rows["g1"]["psi"], want, rel_tol=1e-9)


def test_rolling_drift_hand_computed(spark):
    """Rolling weekly drift (round 13): week 1 has no trailing
    reference → NULL stats, defined false; week 2 (values shifted +2
    vs week 1) is fully separated on the 4-point grid — KS sup = 1,
    W1 = exactly the shift (2.0), PSI = 4·(2/14)·ln 3 on the
    add-one-smoothed 10-bucket hull."""
    import math
    from datetime import datetime

    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.quality import (
        rolling_drift,
    )

    w1 = datetime(2024, 1, 1)  # Monday
    w2 = datetime(2024, 1, 8)
    rows = [("a", w1, v) for v in (1, 1, 2, 2)] + [
        ("a", w2, v) for v in (3, 3, 4, 4)
    ]
    df = spark.createDataFrame(
        rows, "event_type string, ts timestamp, value bigint"
    )
    out = {
        (r["event_type"], str(r["week_start"])): r
        for r in rolling_drift(df, "value").collect()
    }
    r1 = out[("a", "2024-01-01")]
    assert r1["n_cur"] == 4 and r1["n_ref"] == 0
    assert r1["ks_stat"] is None and r1["w1_dist"] is None
    assert r1["psi"] is None and r1["drift_defined"] is False
    r2 = out[("a", "2024-01-08")]
    assert r2["n_cur"] == 4 and r2["n_ref"] == 4
    assert r2["ks_stat"] == 1.0
    assert r2["w1_dist"] == 2.0
    want_psi = 4 * round((2 / 14) * math.log(3.0), 12)
    assert math.isclose(r2["psi"], want_psi, rel_tol=1e-9)
    assert r2["drift_defined"] is True


def test_rolling_drift_reference_window_slides(spark):
    """A week more than ref_weeks past the last data week has an
    empty reference again — the window truly slides rather than
    accumulating all history."""
    from datetime import datetime, timedelta

    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.quality import (
        rolling_drift,
    )

    base = datetime(2024, 1, 1)
    rows = [("a", base, 1), ("a", base, 2)] + [
        ("a", base + timedelta(weeks=6), 1),
        ("a", base + timedelta(weeks=6), 2),
    ]
    df = spark.createDataFrame(
        rows, "event_type string, ts timestamp, value bigint"
    )
    out = {
        str(r["week_start"]): r for r in rolling_drift(df, "value").collect()
    }
    assert len(out) == 2
    # the gap exceeds the 4-week window: week 7 sees NO reference
    assert out["2024-02-12"]["n_ref"] == 0
    assert out["2024-02-12"]["drift_defined"] is False


def test_rolling_drift_keeps_a_null_series(spark):
    """A NULL ``group_col`` value is a series of its own: its rows equal
    those of the same data relabelled to a non-NULL value, in the full
    panel and in a refresh restricted to its last week."""
    from datetime import datetime, timedelta

    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.quality import (
        rolling_drift,
        rolling_drift_from_counts,
    )

    base = datetime(2024, 1, 1)  # Monday
    rows = [
        (g, base + timedelta(weeks=w), v)
        for w in range(3)
        for g, vs in (("view", (1, 2, 3 + w)), (None, (w, w + 2, 5, 7 - w)))
        for v in vs
    ]
    last = base.date() + timedelta(weeks=2)

    def panels(label):
        df = spark.createDataFrame(
            [(label if g is None else g, ts, v) for g, ts, v in rows],
            "event_type string, ts timestamp, value bigint",
        )
        counts = df.groupBy(
            "event_type",
            F.date_trunc("week", "ts").cast("date").alias("week"),
            F.col("value").alias("v"),
        ).agg(F.count(F.lit(1)).alias("cnt"))
        out_weeks = spark.createDataFrame(
            [(label, last)], "event_type string, w date"
        )
        return [
            [tuple(r) for r in f.collect()]
            for f in (
                rolling_drift(df, "value"),
                rolling_drift_from_counts(counts, out_weeks=out_weeks),
            )
        ]

    def series(rows, label):
        return sorted(r[1:] for r in rows if r[0] == label)

    null, named = panels(None), panels("zz")
    for got, want, n_weeks in zip(null, named, (3, 1)):
        assert len(series(want, "zz")) == n_weeks
        assert series(got, None) == series(want, "zz")
        assert series(got, "view") == series(want, "view")


def test_rolling_chi2_hand_computed(spark):
    """Rolling weekly categorical drift (round 13): week 1 is a cold
    start; week 2 = [a,b,b,b] vs reference [a,a,a,b] — the chi2_admit
    hand case replayed on the weekly axis: chi2 = 2.0, df = 1. Week 3
    reuses weeks 1+2 as its reference (sum of both)."""
    from datetime import datetime

    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.quality import (
        rolling_chi2,
    )

    w1, w2 = datetime(2024, 1, 1), datetime(2024, 1, 8)
    rows = [("a", w1)] * 3 + [("b", w1)] + [("a", w2)] + [("b", w2)] * 3
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    out = {str(r["week_start"]): r for r in rolling_chi2(df).collect()}
    assert len(out) == 2
    r1 = out["2024-01-01"]
    assert r1["n_cur"] == 4 and r1["n_ref"] == 0
    assert r1["chi2"] is None and r1["df_chi2"] is None
    assert r1["reject_95"] is False and r1["drift_defined"] is False
    r2 = out["2024-01-08"]
    assert r2["n_cur"] == 4 and r2["n_ref"] == 4
    assert r2["chi2"] == 2.0 and r2["df_chi2"] == 1
    assert r2["reject_95"] is False and r2["drift_defined"] is True


def test_rolling_chi2_detects_mix_shift_and_window_slides(spark):
    """Full category separation rejects at 95%; a week past the
    4-week window sees an empty reference again."""
    from datetime import datetime, timedelta

    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.quality import (
        rolling_chi2,
    )

    base = datetime(2024, 1, 1)
    rows = (
        [("en", base)] * 40
        + [("de", base + timedelta(weeks=1))] * 40
        + [("en", base + timedelta(weeks=8))] * 5
    )
    df = spark.createDataFrame(rows, "event_type string, ts timestamp")
    out = {str(r["week_start"]): r for r in rolling_chi2(df).collect()}
    r2 = out["2024-01-08"]
    assert r2["chi2"] == 80.0 and r2["reject_95"] is True
    r3 = out["2024-02-26"]
    assert r3["n_ref"] == 0 and r3["drift_defined"] is False


def test_psi_admit_bootstrap_and_stable_second_batch(spark, tmp_path):
    import math

    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.quality import (
        psi_admit,
    )

    store = str(tmp_path / "psi")
    # batch 1: all mass in bucket 0 (values < 410 with edges [0,4095])
    b = spark.createDataFrame(
        [(v,) for v in (10, 20, 30, 40)], "n_chars bigint"
    )
    r0 = psi_admit(b, store).collect()[0]
    assert r0["n_batch"] == 4 and r0["n_hist"] == 0
    # cold start: p = [5/14, 1/14 x9] vs uniform q = 1/10
    want = round((5 / 14 - 0.1) * math.log((5 / 14) / 0.1), 12) + 9 * round(
        (1 / 14 - 0.1) * math.log((1 / 14) / 0.1), 12
    )
    assert math.isclose(r0["psi"], want, rel_tol=1e-9)

    # identical second batch vs history of itself -> PSI exactly 0
    r1 = psi_admit(b, store).collect()[0]
    assert r1["n_hist"] == 4 and r1["n_batch"] == 4
    assert r1["psi"] == 0.0 and r1["shifted"] is False

    # shifted third batch (all mass in the top bucket) flags
    hi = spark.createDataFrame(
        [(v,) for v in (4000, 4010, 4020, 4030)], "n_chars bigint"
    )
    r2 = psi_admit(hi, store).collect()[0]
    assert r2["n_hist"] == 8
    assert r2["shifted"] is True and r2["psi"] > 0.25


def test_ks_admit_hand_computed(spark, tmp_path):
    """Streaming KS vs a t-digest history (round 12), on values where
    the digest is EXACT (8 distinct unit-weight points at delta=100 →
    one centroid per value, midranks (k−½)/8): a cold-start batch
    seeds the store with NULL statistic; the second batch's sup over
    the union grid is hand-computable.

    Batch 2 = [2, 4, 4, 6] vs history CDF interpolating
    (k, (k−0.5)/8): the max discrepancy is at v=4 right limit —
    |3/4 − 3.5/8| = 0.3125."""
    import math

    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.quality import (
        ks_admit,
    )

    store = str(tmp_path / "ks")
    hist = spark.createDataFrame(
        [(v,) for v in range(1, 9)], "n_chars bigint"
    )
    r0 = ks_admit(hist, store).collect()[0]
    assert r0["n_batch"] == 8 and r0["n_hist"] == 0
    assert r0["ks_stat"] is None and r0["reject_95"] is False
    # the seeded digest preserves total weight exactly
    stored = spark.read.parquet(f"{store}/centroids")
    assert stored.count() == 8
    assert stored.agg({"weight": "sum"}).collect()[0][0] == 8.0

    b = spark.createDataFrame([(2,), (4,), (4,), (6,)], "n_chars bigint")
    r1 = ks_admit(b, store).collect()[0]
    assert r1["n_batch"] == 4 and r1["n_hist"] == 8
    assert math.isclose(r1["ks_stat"], 0.3125, rel_tol=1e-12)
    # crit = 1.358*sqrt(12/32) ≈ 0.83 — far above 0.3125
    assert r1["reject_95"] is False
    # score-before-append: the batch digest landed AFTER scoring
    # (4 unit-weight centroids — the duplicate 4s land in distinct
    # k-space bins at delta=100)
    after = spark.read.parquet(f"{store}/centroids")
    assert after.count() == 12
    assert after.agg({"weight": "sum"}).collect()[0][0] == 12.0


def test_w1_admit_hand_computed(spark, tmp_path):
    """Streaming W1 vs a t-digest history (round 13), on the same
    digest-exact fixture as test_ks_admit_hand_computed (8 distinct
    unit-weight points, delta=100 → one centroid per value, history
    CDF linear between midranks (k−½)/8 clamped at the extremes).

    Batch 2 = [2, 4, 4, 6]: the union-grid hull is [1, 8]; summing
    the per-segment exact integrals (trapezoid where the gap keeps
    sign, the (a²+b²)/(2(|a|+|b|)) split on [2,3] where it crosses):
    0.125 + 0.03125 + 0.125 + 0.25 + 0.125 + 0.25 + 0.125 =
    1.03125."""
    import math

    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.quality import (
        w1_admit,
    )

    store = str(tmp_path / "w1")
    hist = spark.createDataFrame(
        [(v,) for v in range(1, 9)], "n_chars bigint"
    )
    r0 = w1_admit(hist, store).collect()[0]
    assert r0["n_batch"] == 8 and r0["n_hist"] == 0
    assert r0["w1_dist"] is None and r0["w1_defined"] is False
    assert r0["shifted"] is False

    b = spark.createDataFrame([(2,), (4,), (4,), (6,)], "n_chars bigint")
    r1 = w1_admit(b, store, threshold=1.0).collect()[0]
    assert r1["n_batch"] == 4 and r1["n_hist"] == 8
    assert math.isclose(r1["w1_dist"], 1.03125, rel_tol=1e-12)
    assert r1["w1_defined"] is True and r1["shifted"] is True
    # score-before-append + shared-store layout: ks_admit's store
    # contract holds (the two monitors can share one centroid store)
    after = spark.read.parquet(f"{store}/centroids")
    assert after.count() == 12
    assert after.agg({"weight": "sum"}).collect()[0][0] == 12.0


def test_w1_admit_identical_batch_scores_zero(spark, tmp_path):
    """A batch distributed exactly like the (digest-exact) history
    integrates a small but nonzero gap (the midrank convention offsets
    the interpolated CDF by ½/n from the step ECDF) — bounded by
    hull/(2n); and a shift by +1000 scores ≈ 1000."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.quality import (
        w1_admit,
    )

    store = str(tmp_path / "w1_same")
    vals = [(v,) for v in range(0, 1000, 10)]  # 100 points, hull 990
    w1_admit(spark.createDataFrame(vals, "n_chars bigint"), store)
    r = w1_admit(
        spark.createDataFrame(vals, "n_chars bigint"), store
    ).collect()[0]
    # ≤ hull/(2n) = 990/200 = 4.95 for the same sample
    assert r["w1_dist"] is not None and r["w1_dist"] <= 4.95

    store2 = str(tmp_path / "w1_shift")
    w1_admit(spark.createDataFrame(vals, "n_chars bigint"), store2)
    shifted = [(v + 1000,) for v, in vals]
    r2 = w1_admit(
        spark.createDataFrame(shifted, "n_chars bigint"), store2,
        threshold=500.0,
    ).collect()[0]
    assert 900.0 <= r2["w1_dist"] <= 1100.0
    assert r2["shifted"] is True


def test_w1_admit_all_null_batch_still_emits_one_row(spark, tmp_path):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.quality import (
        w1_admit,
    )

    store = str(tmp_path / "w1_null")
    rows = w1_admit(
        spark.createDataFrame([(None,), (None,)], "n_chars bigint"), store
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_batch"] == 0 and r["n_hist"] == 0
    assert r["w1_dist"] is None and r["w1_defined"] is False
    assert r["shifted"] is False


def test_w1_and_ks_admit_share_one_store(spark, tmp_path):
    """The round-13 family contract: w1_admit reads/writes the SAME
    {store}/centroids layout as ks_admit, so one store can back both
    monitors — but each scorer folds the batch in, so sharing one
    store means calling ONE scorer per batch per store (here: seed
    with ks, score the next batch with w1 against ks's history)."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.quality import (
        ks_admit,
        w1_admit,
    )

    store = str(tmp_path / "shared")
    ks_admit(
        spark.createDataFrame([(v,) for v in range(1, 9)], "n_chars bigint"),
        store,
    )
    r = w1_admit(
        spark.createDataFrame([(2,), (4,), (4,), (6,)], "n_chars bigint"),
        store,
    ).collect()[0]
    assert r["n_hist"] == 8 and abs(r["w1_dist"] - 1.03125) < 1e-12


def test_ks_admit_null_values_excluded(spark, tmp_path):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.quality import (
        ks_admit,
    )

    store = str(tmp_path / "ks_null")
    b = spark.createDataFrame(
        [(1,), (2,), (None,), (None,)], "n_chars bigint"
    )
    r = ks_admit(b, store).collect()[0]
    assert r["n_batch"] == 2  # NULLs neither counted nor stored
    assert spark.read.parquet(f"{store}/centroids").agg(
        {"weight": "sum"}
    ).collect()[0][0] == 2.0


def test_ks_admit_detects_shift_and_compaction(spark, tmp_path):
    """A shifted batch must reject at 95%; compact_ks_store re-merges
    the store to ≤2·delta rows preserving total weight, and a
    post-compaction score still rejects."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.quality import (
        compact_ks_store,
        ks_admit,
    )

    store = str(tmp_path / "ks_shift")
    lo = spark.createDataFrame([(v,) for v in range(100)], "n_chars bigint")
    ks_admit(lo, store)
    ks_admit(lo, store)
    hi = spark.createDataFrame(
        [(v,) for v in range(5000, 5100)], "n_chars bigint"
    )
    r = ks_admit(hi, store).collect()[0]
    assert r["n_hist"] == 200 and r["reject_95"] is True
    assert r["ks_stat"] > 0.9
    compact_ks_store(spark, store)
    merged = spark.read.parquet(f"{store}/centroids")
    assert merged.count() <= 200
    assert merged.agg({"weight": "sum"}).collect()[0][0] == 300.0
    r2 = ks_admit(hi, store).collect()[0]
    # history now includes one shifted batch (100 of 300), so the gap
    # narrows but the shift is still flagged
    assert r2["n_hist"] == 300 and r2["reject_95"] is True


def test_psi_admit_clips_out_of_range_values(spark, tmp_path):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.quality import (
        psi_admit,
    )

    store = str(tmp_path / "psi_clip")
    b = spark.createDataFrame([(-5,), (999999,)], "n_chars bigint")
    r = psi_admit(b, store).collect()[0]
    assert r["n_batch"] == 2  # both rows bucketed (0 and 9), none lost


def test_readability_stats_hand_computed(spark):
    import math

    from cloud_based_bi_etl_automation_for_real_estate_company_spark.functions.text import (
        readability_stats,
    )

    # "the cat sat. it ran!" -> 5 words, 2 sentences, vowel groups:
    # e, a, a, i, a = 5 syllables
    df = spark.createDataFrame(
        [(1, "the cat sat. it ran!"), (2, "no punctuation here")],
        "doc_id bigint, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in df.select("doc_id", *readability_stats("text")).collect()
    }
    r1 = rows[1]
    assert r1["n_words"] == 5 and r1["n_sentences"] == 2
    assert r1["n_syllables"] == 5
    want = 206.835 - 1.015 * (5 / 2) - 84.6 * (5 / 5)
    assert math.isclose(r1["flesch"], want, rel_tol=1e-12)
    # unpunctuated text floors sentences at 1 (finite score)
    assert rows[2]["n_sentences"] == 1
    assert rows[2]["flesch"] is not None


def test_w1_drift_point_masses_equal_mean_shift(spark):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.quality import (
        w1_drift,
    )

    # two separated point masses: W1 is exactly the distance between
    # them (|F1 - F2| = 1 on [1, 4) -> 3·1 = 3)
    df = spark.createDataFrame(
        [(1, "g1"), (1, "g1"), (4, "g2"), (4, "g2")],
        "n_chars bigint, source string",
    )
    rows = {r["source"]: r for r in w1_drift(df).collect()}
    assert rows["g1"]["w1_dist"] == 3.0
    assert rows["g2"]["w1_dist"] == 3.0
    assert rows["g1"]["n_source"] == 2 and rows["g1"]["n_rest"] == 2


def test_w1_drift_identical_distributions_zero(spark):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.quality import (
        w1_drift,
    )

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (1, "b"), (2, "b")],
        "n_chars bigint, source string",
    )
    assert all(r["w1_dist"] == 0.0 for r in w1_drift(df).collect())


def test_w1_drift_hand_computed(spark):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.quality import (
        w1_drift,
    )

    # g1 = [1,2,3,4], rest = [2,3,3,5]; grid 1..5, dv = 1 each:
    #   |F1-F2| at 1..4: 1/4, 1/4, 0, 1/4 -> W1 = 3/4
    # integer form: (4 + 4 + 0 + 4) / (4·4) = 12/16
    df = spark.createDataFrame(
        [(1, "g1"), (2, "g1"), (3, "g1"), (4, "g1"),
         (2, "g2"), (3, "g2"), (3, "g2"), (5, "g2")],
        "n_chars bigint, source string",
    )
    rows = {r["source"]: r for r in w1_drift(df).collect()}
    assert rows["g1"]["w1_dist"] == 12.0 / 16.0
    # symmetric by construction (same grid, |.| symmetric)
    assert rows["g2"]["w1_dist"] == 12.0 / 16.0


def test_w1_drift_null_values_excluded(spark):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.quality import (
        w1_drift,
    )

    df = spark.createDataFrame(
        [(1, "g1"), (None, "g1"), (4, "g2"), (None, "g2"), (1, "g1"),
         (4, "g2")],
        "n_chars bigint, source string",
    )
    rows = {r["source"]: r for r in w1_drift(df).collect()}
    # NULLs invisible: identical to the point-mass case
    assert rows["g1"]["n_source"] == 2 and rows["g1"]["w1_dist"] == 3.0


def test_chi2_drift_identical_mix_zero(spark):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.quality import (
        chi2_drift,
    )

    df = spark.createDataFrame(
        [("a", "g1"), ("a", "g1"), ("b", "g1"),
         ("a", "g2"), ("a", "g2"), ("b", "g2")],
        "lang string, source string",
    )
    rows = {r["source"]: r for r in chi2_drift(df).collect()}
    assert rows["g1"]["chi2"] == 0.0
    assert rows["g1"]["df_chi2"] == 1
    assert rows["g1"]["reject_95"] is False


def test_chi2_drift_hand_computed(spark):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.quality import (
        chi2_drift,
    )

    # g1 = [a,a,a,b], g2 = [a,b,b,b]: all E = 2, four (O-E)² = 1 cells
    # -> chi2 = 4·(1/2) = 2.0; integer form D_a = 3·8-4·4 = 8,
    # D_b = -8, s = 64/4 + 64/4 = 32, chi2 = 32/(4·4) = 2
    df = spark.createDataFrame(
        [("a", "g1"), ("a", "g1"), ("a", "g1"), ("b", "g1"),
         ("a", "g2"), ("b", "g2"), ("b", "g2"), ("b", "g2")],
        "lang string, source string",
    )
    rows = {r["source"]: r for r in chi2_drift(df).collect()}
    assert rows["g1"]["chi2"] == 2.0
    assert rows["g1"]["n_source"] == 4 and rows["g1"]["n_rest"] == 4
    # Wilson–Hilferty crit(df=1) ≈ 3.75 > 2 -> not rejected
    assert rows["g1"]["reject_95"] is False


def test_chi2_drift_full_separation_rejects(spark):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.quality import (
        chi2_drift,
    )

    # complete language separation: textbook 2×2 chi2 = n = 20,
    # far above any df=1 critical value
    df = spark.createDataFrame(
        [("a", "g1")] * 10 + [("b", "g2")] * 10,
        "lang string, source string",
    )
    rows = {r["source"]: r for r in chi2_drift(df).collect()}
    assert rows["g1"]["chi2"] == 20.0
    assert rows["g1"]["reject_95"] is True


def test_chi2_drift_null_category_excluded(spark):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.quality import (
        chi2_drift,
    )

    df = spark.createDataFrame(
        [("a", "g1"), ("a", "g1"), (None, "g1"), ("b", "g2"),
         ("b", "g2"), (None, "g2")],
        "lang string, source string",
    )
    rows = {r["source"]: r for r in chi2_drift(df).collect()}
    assert rows["g1"]["n_source"] == 2 and rows["g1"]["n_rest"] == 2


def test_batch_drift_scores_a_null_slice_against_the_rest(spark):
    """A NULL ``group_col`` value is one more slice: its row compares its
    own counts with the rest, like any other slice's. Slice NULL holds
    values {5, 6} and langs {de, en}; the rest holds {1, 2, 3} and
    {en, en, de}."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.quality import (
        chi2_drift,
        ks_drift,
        psi_drift,
        w1_drift,
    )

    df = spark.createDataFrame(
        [("a", 1, "en"), ("a", 2, "en"), ("b", 3, "de"), (None, 5, "de"),
         (None, 6, "en")],
        "source string, n_chars bigint, lang string",
    )

    def null_row(f):
        return next(r for r in f(df).collect() if r["source"] is None)

    ks = null_row(ks_drift)
    assert (ks["n_source"], ks["n_rest"], ks["ks_stat"]) == (2, 3, 1.0)
    assert null_row(w1_drift)["w1_dist"] == 3.5  # disjoint: the mean shift
    # D_de = 1·5 − 2·2 = 1, D_en = 1·5 − 2·3 = −1: (1/2 + 1/3) / (2·3)
    assert abs(null_row(chi2_drift)["chi2"] - 5 / 36) < 1e-12
    # the NULL slice fills the top buckets as slice a fills the bottom
    # ones, so both score the same PSI
    rows = {r["source"]: r["psi"] for r in psi_drift(df).collect()}
    assert rows[None] == rows["a"]


def test_chi2_admit_cold_start_and_hand_computed_second_batch(
    spark, tmp_path
):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.quality import (
        chi2_admit,
    )

    store = str(tmp_path / "chi2_store")
    b0 = spark.createDataFrame(
        [("a",)] * 3 + [("b",)] * 1, "lang string"
    )
    r0 = chi2_admit(b0, store).collect()[0]
    assert r0["n_batch"] == 4 and r0["n_hist"] == 0
    assert r0["chi2"] is None and r0["chi2_defined"] is False
    # batch 1 = [a, b, b, b] vs history [a,a,a,b]: the hand case from
    # chi2_drift — chi2 = 2.0, df = 1
    b1 = spark.createDataFrame(
        [("a",)] * 1 + [("b",)] * 3, "lang string"
    )
    r1 = chi2_admit(b1, store).collect()[0]
    assert r1["n_batch"] == 4 and r1["n_hist"] == 4
    assert r1["chi2"] == 2.0 and r1["df_chi2"] == 1
    assert r1["chi2_defined"] is True and r1["reject_95"] is False


def test_chi2_admit_matches_chi2_drift_on_same_split(spark, tmp_path):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.quality import (
        chi2_admit,
        chi2_drift,
    )

    langs = ["en", "de", "fr", "en", "en", "de", "nl", "en", "fr", "de"]
    rows = [(lang, "batch" if i % 2 else "hist") for i, lang in enumerate(langs)]
    df = spark.createDataFrame(rows, "lang string, source string")
    want = {
        r["source"]: r["chi2"] for r in chi2_drift(df).collect()
    }["batch"]
    store = str(tmp_path / "chi2_store2")
    chi2_admit(df.filter(F.col("source") == "hist"), store)
    got = chi2_admit(
        df.filter(F.col("source") == "batch"), store
    ).collect()[0]
    # two groups: drift's batch-vs-rest IS admit's batch-vs-history
    assert got["chi2"] == want


def test_chi2_admit_detects_category_shift(spark, tmp_path):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.quality import (
        chi2_admit,
    )

    store = str(tmp_path / "chi2_store3")
    chi2_admit(
        spark.createDataFrame([("en",)] * 40, "lang string"), store
    )
    r = chi2_admit(
        spark.createDataFrame([("de",)] * 40, "lang string"), store
    ).collect()[0]
    # full separation: chi2 = n = 80, far past any df=1 critical value
    assert r["chi2"] == 80.0 and r["reject_95"] is True


def test_chi2_admit_null_categories_excluded(spark, tmp_path):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.quality import (
        chi2_admit,
    )

    store = str(tmp_path / "chi2_store4")
    r = chi2_admit(
        spark.createDataFrame([("en",), (None,), ("de",)], "lang string"),
        store,
    ).collect()[0]
    assert r["n_batch"] == 2


def test_chi2_admit_all_null_batch_still_emits_one_row(spark, tmp_path):
    """Round-13 ADVICE regression: a first micro-batch whose cat_col
    is entirely NULL (or an empty trigger file) used to produce ZERO
    output rows — the groupBy over an empty cell frame — so
    stream_drift_gated_ingest's collect()[0] raised IndexError inside
    foreachBatch and the checkpoint replayed the poisoned batch
    forever. The contract is ONE row per batch, always."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.quality import (
        chi2_admit,
    )

    store = str(tmp_path / "chi2_store5")
    rows = chi2_admit(
        spark.createDataFrame([(None,), (None,)], "lang string"), store
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_batch"] == 0 and r["n_hist"] == 0
    assert r["chi2"] is None and r["chi2_defined"] is False
    assert r["df_chi2"] is None
    # the degenerate batch appended no categories — a real batch after
    # it is still a cold start (bootstraps the history, admits)
    r2 = chi2_admit(
        spark.createDataFrame([("en",), ("de",)], "lang string"), store
    ).collect()[0]
    assert r2["n_batch"] == 2 and r2["n_hist"] == 0
    assert r2["chi2_defined"] is False


def test_ks_admit_all_null_batch_still_emits_one_row(spark, tmp_path):
    """Same zero-row hazard, KS member: empty grid (all-NULL batch on
    an empty centroid history) must still yield the one-row-per-batch
    contract."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.quality import (
        ks_admit,
    )

    store = str(tmp_path / "ks_store_null")
    rows = ks_admit(
        spark.createDataFrame([(None,), (None,)], "n_chars bigint"), store
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_batch"] == 0 and r["n_hist"] == 0
    assert r["ks_stat"] is None and r["reject_95"] is False


@pytest.mark.parametrize("batch_rows", [[(None,), (None,)], []])
def test_digest_admits_survive_null_batch_on_seeded_store(
    spark, tmp_path, batch_rows
):
    """Round-14 ADVICE (high): the round-13 zero-row hardening only
    covered the EMPTY-history case — an all-NULL (or zero-row) batch
    arriving AFTER the centroid store is seeded has n_batch = 0 but a
    knot-populated grid, and the plain e_le/e_lt divisions raised
    DIVIDE_BY_ZERO under ANSI (reproduced pre-fix for both members).
    Both monitors must emit their one NULL-stat row and leave the
    store usable for the next healthy batch."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.quality import (
        ks_admit,
        w1_admit,
    )

    seed = spark.createDataFrame(
        [(float(v),) for v in range(100)], "n_chars double"
    )
    nullb = spark.createDataFrame(batch_rows, "n_chars double")

    ks_store = str(tmp_path / "ks")
    ks_admit(seed, ks_store)
    r = ks_admit(nullb, ks_store).collect()
    assert len(r) == 1
    assert r[0]["n_batch"] == 0 and r[0]["n_hist"] == 100
    assert r[0]["ks_stat"] is None and r[0]["reject_95"] is False

    w1_store = str(tmp_path / "w1")
    w1_admit(seed, w1_store)
    r = w1_admit(nullb, w1_store, threshold=5.0).collect()
    assert len(r) == 1
    assert r[0]["n_batch"] == 0 and r[0]["n_hist"] == 100
    assert r[0]["w1_dist"] is None and r[0]["w1_defined"] is False
    assert r[0]["shifted"] is False

    # the poisoned batch must not wedge the store: a shifted batch
    # right after still scores against the ORIGINAL 100-point history
    shifted = spark.createDataFrame(
        [(float(v) + 50,) for v in range(100)], "n_chars double"
    )
    rk = ks_admit(shifted, ks_store).collect()[0]
    assert rk["n_hist"] == 100 and rk["reject_95"] is True
    rw = w1_admit(shifted, w1_store, threshold=5.0).collect()[0]
    assert rw["n_hist"] == 100 and rw["shifted"] is True
