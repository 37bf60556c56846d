"""PageRank operator: hand-computed reference on a tiny graph, plus
partition-invariance of the decimal contribution sums (oracle-checked
end-to-end as x_pagerank)."""

from __future__ import annotations

from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.graph import (
    pagerank,
)


def _ref_pagerank(edges, iterations=3, d=0.85):
    nodes = sorted({s for s, _, _ in edges} | {t for _, t, _ in edges})
    n = len(nodes)
    outw = {}
    for s, _, w in edges:
        outw[s] = outw.get(s, 0.0) + w
    r = {v: 1.0 / n for v in nodes}
    for _ in range(iterations):
        contrib = {}
        for s, t, w in edges:
            c = round(r[s] * w / outw[s], 12)
            contrib[t] = contrib.get(t, 0.0) + c
        r = {v: (1.0 - d) / n + d * contrib.get(v, 0.0) for v in nodes}
    return r


EDGES = [
    ("a", "b", 2.0),
    ("a", "c", 1.0),
    ("b", "c", 1.0),
    ("c", "a", 1.0),
    ("d", "c", 3.0),
]


def test_pagerank_matches_reference(spark):
    df = spark.createDataFrame(EDGES, "src string, dst string, w double")
    got = {r["node"]: r["rank"] for r in pagerank(df, iterations=3).collect()}
    ref = _ref_pagerank(EDGES)
    assert set(got) == set(ref)
    for v in ref:
        assert abs(got[v] - ref[v]) < 1e-12
    # c receives the most mass; d (pure source) has only the teleport share
    assert got["c"] == max(got.values())
    assert got["d"] == min(got.values())


def test_pagerank_partition_invariant(spark):
    df = spark.createDataFrame(EDGES, "src string, dst string, w double")
    one = {r["node"]: r["rank"] for r in pagerank(df.coalesce(1)).collect()}
    many = {r["node"]: r["rank"] for r in pagerank(df.repartition(7)).collect()}
    assert one == many


def test_label_propagation_two_communities(spark):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.graph import (
        label_propagation,
    )

    # two triangles joined by one weak bridge edge
    edges = [
        ("a", "b", 5), ("b", "c", 5), ("a", "c", 5),
        ("x", "y", 5), ("y", "z", 5), ("x", "z", 5),
        ("c", "x", 1),
    ]
    df = spark.createDataFrame(edges, "src string, dst string, w bigint")
    out = {r["node"]: r["label"] for r in label_propagation(df, iterations=3).collect()}
    assert len(out) == 6
    # each triangle converges to its own min label; the bridge's weight-1
    # vote never outvotes the intra-triangle weight-5 majority
    assert out["a"] == out["b"] == out["c"]
    assert out["x"] == out["y"] == out["z"]
    assert out["a"] != out["x"]


def test_label_propagation_partition_invariant(spark):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.graph import (
        label_propagation,
    )

    edges = [
        (f"n{i}", f"n{(i * 7 + 3) % 40}", (i % 5) + 1) for i in range(120)
        if i != (i * 7 + 3) % 40
    ]
    df = spark.createDataFrame(edges, "src string, dst string, w bigint")
    a = sorted(map(tuple, label_propagation(df.repartition(2), 2).collect()))
    b = sorted(map(tuple, label_propagation(df.repartition(17), 2).collect()))
    assert a == b


def test_triangles_hand_computed_and_orientation_invariant(spark):
    """K4 minus one edge has exactly 2 triangles; a star hub has none.
    The degree-ordered plan must emit each triangle once as its
    id-sorted triple regardless of input edge direction or
    duplication."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.graph import (
        triangles,
    )

    edges = [
        # K4 minus (3,4): triangles (1,2,3) and (1,2,4)
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4),
        # star hub 10 with leaves (no triangles)
        (10, 11), (10, 12), (10, 13), (10, 14),
        # reversed + duplicate edges must not change the result
        (3, 1), (2, 1),
    ]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    got = sorted(
        (r["p1"], r["p2"], r["p3"]) for r in triangles(df).collect()
    )
    assert got == [(1, 2, 3), (1, 2, 4)]


def test_kcore_hand_computed(spark):
    """Classic peeling example: a 4-clique with a pendant path. The
    3-core is exactly the clique (each member keeps degree 3); the
    path nodes peel away over successive rounds — including the
    cascade where removing one tail node drops its neighbor below k."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.graph import kcore

    clique = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    tail = [(4, 5), (5, 6), (6, 7)]  # chain: peels in cascading rounds
    df = spark.createDataFrame(clique + tail, "src bigint, dst bigint")
    got = {r["node"]: r["deg"] for r in kcore(df, k=3).collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}
    # 2-core: the chain still peels (endpoints have degree 1), clique stays
    got2 = {r["node"] for r in kcore(df, k=2).collect()}
    assert got2 == {1, 2, 3, 4}


def test_kcore_fixture_converges_within_rounds(spark):
    """The fixed 8-round gate form must BE the k-core on the fixture:
    one extra round changes nothing (fixpoint reached), making the
    unrolled oracle exact rather than approximate."""
    from pyspark.sql import functions as F

    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.graph import kcore
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.plans.measures import t

    l = t(spark, "/root/testdata/sf0.001", "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    r = l.select(F.col("l_orderkey").alias("ok2"), F.col("l_partkey").alias("pb"))
    edges = (
        l.join(r, (F.col("l_orderkey") == F.col("ok2"))
               & (F.col("l_partkey") < F.col("pb")))
        .groupBy(F.col("l_partkey").alias("pa"), "pb")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
    )
    # k=2 is the gate form (round 8: the 3-core is empty at sf0.1, so
    # the bench leg moved to the scale-robust 2-core); also pin the
    # k=3 form the peeling loop was originally built against
    for k in (2, 3):
        r8 = {(x["node"], x["deg"]) for x in
              kcore(edges, k=k, src_col="pa", dst_col="pb", rounds=8).collect()}
        r9 = {(x["node"], x["deg"]) for x in
              kcore(edges, k=k, src_col="pa", dst_col="pb", rounds=9).collect()}
        assert r8 == r9 and len(r8) > 0, k


def test_kcore_nonconvergence_raises_when_required(spark):
    """A long path at k=2 peels only its two endpoints per round, so a
    too-small round budget cannot reach the (empty) fixpoint: the
    silent-superset hazard must turn into a loud error under
    require_convergence, while enough rounds converge to empty (and
    exit early rather than running every budgeted round)."""
    import pytest as _pytest

    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.graph import kcore

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 20)], "src bigint, dst bigint"
    )
    with _pytest.raises(ValueError, match="fixpoint"):
        kcore(path, k=2, rounds=3, require_convergence=True).collect()
    assert kcore(path, k=2, rounds=30, require_convergence=True).count() == 0


def test_kcore_fixpoint_on_final_round_does_not_raise(spark):
    """Round-6 ADVICE: a peel that FIRST lands on the fixpoint exactly
    at the last allowed round has no later round to observe the
    unchanged count — require_convergence must confirm stability with
    one extra degree check instead of raising spuriously. A 5-node
    path at k=2 empties in exactly 2 rounds; a 4-clique + pendant
    reaches its (non-empty) 2-core fixpoint in exactly 1 round."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.graph import kcore

    path5 = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5)], "src bigint, dst bigint"
    )
    assert kcore(path5, k=2, rounds=2, require_convergence=True).count() == 0
    clique = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5)]
    df = spark.createDataFrame(clique, "src bigint, dst bigint")
    got = {r["node"] for r in
           kcore(df, k=2, rounds=1, require_convergence=True).collect()}
    assert got == {1, 2, 3, 4}


def test_copurchase_edges_caps_hot_baskets(spark):
    """Round-9 skew fix: one mega-order must be excluded by
    basket_cap (bounding any task's pair expansion at cap²), while
    normal orders keep exact multiplicity-counting pair semantics."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.graph import (
        copurchase_edges,
    )

    rows = [(1, 10), (1, 20), (1, 30), (2, 10), (2, 20), (2, 20)]
    # order 99 is a 50-line mega-basket over items 100..149
    rows += [(99, 100 + i) for i in range(50)]
    df = spark.createDataFrame(rows, "ok int, item int")
    got = {
        (r["pa"], r["pb"]): r["n"]
        for r in copurchase_edges(
            df, "ok", "item", min_support=1, basket_cap=10
        ).collect()
    }
    # order 99's C(50,2)=1225 pairs are gone; order 2's duplicate
    # item 20 line doubles the (10, 20) contribution from that order
    assert got == {(10, 20): 3, (10, 30): 1, (20, 30): 1}
    # cap-inclusive boundary: exactly cap lines still count
    at_cap = copurchase_edges(
        df.filter("ok = 99").limit(10), "ok", "item",
        min_support=1, basket_cap=10,
    )
    assert at_cap.count() == 45  # C(10,2)


def test_kcore_local_finish_matches_distributed(spark):
    """Round-10: the size-gated local bulk peel must be OUTPUT- and
    CONTRACT-identical to the distributed loop — same surviving
    (node, deg) rows, same bounded-round superset on a deep-peel
    graph, same require_convergence error."""
    import pytest

    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.graph import (
        kcore,
    )

    # clique of 5 (4-core) + a tail that peels away at k=3
    edges = [(i, j) for i in range(5) for j in range(i + 1, 5)]
    edges += [(4, 10), (10, 11), (11, 12)]
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    get = lambda **kw: {
        (r["node"], r["deg"]) for r in kcore(df, 3, **kw).collect()
    }
    assert get() == get(local_finish_max_edges=0)
    assert {n for n, _ in get()} == {0, 1, 2, 3, 4}
    # deep peel at a tight round bound: both paths return the SAME
    # bounded superset (a 12-path at k=2 peels 2 endpoints/round)
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "src bigint, dst bigint"
    )
    bounded = lambda **kw: {
        (r["node"], r["deg"]) for r in kcore(path, 2, rounds=2, **kw).collect()
    }
    assert bounded() == bounded(local_finish_max_edges=0)
    assert bounded()  # non-empty superset after only 2 rounds
    # ... and both raise identically under require_convergence
    for lf in (100_000, 0):
        with pytest.raises(ValueError, match="did not reach a fixpoint"):
            kcore(
                path, 2, rounds=2, require_convergence=True,
                local_finish_max_edges=lf,
            ).collect()


def test_copurchase_lift_hand_computed(spark):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.graph import (
        copurchase_lift,
    )

    # baskets: o1={1,2}, o2={1,2}, o3={1,3}, o4={2}; item 2 listed
    # twice in o1 (dedup to basket grain must ignore the repeat)
    rows = [
        (1, 1), (1, 2), (1, 2),
        (2, 1), (2, 2),
        (3, 1), (3, 3),
        (4, 2),
    ]
    df = spark.createDataFrame(rows, "o bigint, i bigint")
    out = copurchase_lift(df, "o", "i", min_support=2).collect()
    # only (1,2) co-occurs >= 2 times; (1,3) pruned at support 1
    assert len(out) == 1
    r = out[0]
    assert (r["pa"], r["pb"]) == (1, 2)
    assert r["n_both"] == 2 and r["n_a"] == 3 and r["n_b"] == 3
    assert r["support"] == 2 / 4
    assert r["conf_a_to_b"] == 2 / 3
    assert r["lift"] == (2 * 4) / (3 * 3)


def test_copurchase_lift_respects_basket_cap(spark):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.graph import (
        copurchase_lift,
    )

    # a mega-basket (4 items > cap 3) is excluded from pairs AND from
    # the marginals/N population
    rows = [(1, i) for i in range(4)] + [
        (2, 1), (2, 2), (3, 1), (3, 2),
    ]
    df = spark.createDataFrame(rows, "o bigint, i bigint")
    out = copurchase_lift(df, "o", "i", min_support=2, basket_cap=3).collect()
    assert len(out) == 1
    r = out[0]
    # without the mega-basket: N=2, n_1=n_2=2, n_both=2 -> lift 1.0
    assert r["n_both"] == 2 and r["n_a"] == 2 and r["n_b"] == 2
    assert r["lift"] == 1.0 and r["support"] == 1.0


def test_kcore_deep_peel_releases_round_frames(spark):
    """The kcore loop must stay correct with the per-round block
    releases in place: a path graph peels two endpoints per round at
    k=2, exercising several rounds of ``replaces=`` frees before the
    empty fixpoint (all-distributed path forced)."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.graph import (
        kcore,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "src bigint, dst bigint"
    )
    out = kcore(edges, k=2, rounds=8, local_finish_max_edges=0).collect()
    assert out == []  # a path has no 2-core
    tri = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4)], "src bigint, dst bigint"
    )
    rows = sorted(
        (r["node"], r["deg"])
        for r in kcore(tri, k=2, rounds=8, local_finish_max_edges=0).collect()
    )
    assert rows == [(0, 2), (1, 2), (2, 2)]
