"""Similarity-search operator tests: exact top-k correctness vs numpy,
bucketed-ANN containment, near-dup symmetry."""

from __future__ import annotations

import pytest

import math

from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators import (
    similarity as S,
)


def _vecs(spark):
    # strictly-signed dims: zeros sit exactly on the sign-bucket
    # boundary and make bucket membership an accident of the test data
    rows = [
        (0, [1.0, 0.1, 0.1, 0.1]),
        (1, [0.9, 0.2, 0.1, 0.1]),
        (2, [0.1, 1.0, -0.5, 0.2]),
        (3, [-1.0, -0.1, -0.1, -0.1]),
        (4, [0.5, 0.5, 0.1, 0.1]),
    ]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def _cos(a, b):
    d = sum(x * y for x, y in zip(a, b))
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    return d / (na * nb)


def test_brute_force_topk_matches_reference(spark):
    base = _vecs(spark)
    out = S.brute_force_topk(base, base.filter("vec_id = 0"), k=2).collect()
    got = [(r["vec_id"], r["sim"]) for r in sorted(out, key=lambda r: r["rnk"])]
    assert got[0][0] == 1  # nearest neighbour of vec 0
    expected = round(_cos([1.0, 0.1, 0.1, 0.1], [0.9, 0.2, 0.1, 0.1]), 6)
    assert abs(got[0][1] - expected) < 1e-9
    assert got[1][0] == 4


def test_bucketed_ann_multiprobe_candidates(spark):
    base = _vecs(spark)
    out = S.bucketed_ann_topk(base, base.filter("vec_id = 0"), k=5).collect()
    ids = {r["vec_id"] for r in out}
    # query bucket 15; probes = {15, 14, 13, 11, 7}
    assert 3 not in ids  # all-negative vector (bucket 0, Hamming 4) pruned
    assert 2 in ids      # bucket 11 (Hamming 1) reached via multi-probe
    assert 1 in ids and 4 in ids  # same-bucket neighbours


def test_near_dup_pairs_threshold(spark):
    base = _vecs(spark)
    out = S.embedding_near_dup_pairs(base, threshold=0.95)
    pairs = {(r["id_a"], r["id_b"]): r["sim"] for r in out.collect()}
    assert (0, 1) in pairs  # cos ≈ 0.9939
    assert all(v >= 0.95 for v in pairs.values())
    assert all(a < b for a, b in pairs)


def test_ann_recall_vs_bruteforce(spark):
    """Measured recall of the approximate strategies against the exact
    top-k on the real embeddings fixture — the quality metric an ANN
    needs alongside speed. Deterministic data → stable assertion."""
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter("vec_id < 5")
    exact = {
        (r["q_id"], r["vec_id"]) for r in S.brute_force_topk(e, q, k=5).collect()
    }

    def recall(df):
        approx = {(r["q_id"], r["vec_id"]) for r in df.collect()}
        return len(approx & exact) / len(exact)

    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.similarity import (
        bucketed_ann_topk,
        ivf_topk,
        pq_topk,
    )

    r_lsh = recall(bucketed_ann_topk(e, q, k=5))
    r_lsh2 = recall(bucketed_ann_topk(e, q, k=5, tables=2))
    r_ivf = recall(ivf_topk(e, q, k=5))
    r_pq = recall(pq_topk(e, q, k=5))
    # all prune hard; they must still find a nontrivial share of the
    # true neighbours on this fixture
    assert r_lsh >= 0.4, r_lsh   # measured 0.52 multi-probe
    assert r_lsh2 >= 0.7, r_lsh2  # measured 0.80 — OR-amplified 2-table
    assert r_lsh2 > r_lsh         # amplification must actually help
    assert r_ivf >= 0.8, r_ivf   # measured 0.96 single-probe IVF
    assert r_pq >= 0.3, r_pq     # measured 0.40 (m=8, ks=64) — random
    # fixture vectors are the PQ worst case; trained codebooks raise this


def test_kmeans_recovers_planted_clusters(spark):
    """Lloyd's iterations on three well-separated planted blobs must
    land one centroid per blob (assignment purity 1.0), and the
    objective must not increase with more iterations."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cloud_based_bi_etl_automation_for_real_estate_company_spark.functions.vectors import (
        as_double,
        dot,
    )
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.similarity import (
        kmeans_centroids,
    )

    # 3 blobs on orthogonal axes, deterministic jitter; ids interleave
    # blobs so the lowest-k seeding starts from a WRONG split
    rows = []
    for i in range(30):
        blob = i % 3
        v = [0.0] * 6
        v[blob * 2] = 10.0 + (i % 5) * 0.1
        v[blob * 2 + 1] = 1.0 + (i % 7) * 0.05
        rows.append((i, v))
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    def inertia(cents):
        d2 = (
            dot(F.col("__v"), F.col("__v"))
            - 2 * dot(F.col("__v"), F.col("cent_emb"))
            + dot(F.col("cent_emb"), F.col("cent_emb"))
        )
        w = Window.partitionBy("vec_id").orderBy(d2.asc(), F.col("cent_id").asc())
        a = (
            df.select("vec_id", as_double("embedding").alias("__v"))
            .join(F.broadcast(cents))
            .withColumn("__d2", d2)
            .withColumn("__rn", F.row_number().over(w))
            .filter("__rn = 1")
        )
        return a, a.agg(F.sum("__d2")).collect()[0][0]

    c1 = kmeans_centroids(df, k=3, iters=1)
    c4 = kmeans_centroids(df, k=3, iters=4)
    a1, j1 = inertia(c1)
    a4, j4 = inertia(c4)
    assert j4 <= j1 + 1e-9
    # purity: every (blob, centroid) group is the whole blob
    got = a4.select(
        (F.col("vec_id") % 3).alias("blob"), "cent_id"
    ).distinct().collect()
    assert len(got) == 3
    assert len({r["cent_id"] for r in got}) == 3


def test_ivf_trained_centroids_recall(spark):
    """Trained-quantizer IVF on the fixture embeddings: recall@5 vs
    brute force must clear 0.8 at 2 probes. (Not compared against the
    stand-in quantizer: the stand-in's centroids ARE the query vectors
    on this fixture, which centers each query's cell on itself and
    inflates its recall — see q_x_ann_ivf_trained.)"""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.similarity import (
        ivf_topk,
        kmeans_centroids,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter("vec_id < 5")
    exact = {
        (r["q_id"], r["vec_id"]) for r in S.brute_force_topk(e, q, k=5).collect()
    }
    cents = kmeans_centroids(e, k=8, iters=3)
    approx = {
        (r["q_id"], r["vec_id"])
        for r in ivf_topk(e, q, k=5, n_probes=2, centroids=cents).collect()
    }
    assert len(approx & exact) / len(exact) >= 0.8  # measured 0.92


def test_nsw_graph_shape_invariants(spark):
    """Layered NSW build (round 13): (a) every layer-l edge connects
    two nodes whose hash level reaches l (layer nesting); (b) out-
    degree ≤ M per (level, src); (c) upper layers are geometrically
    smaller; (d) no self-edges."""
    from pyspark.sql import functions as F

    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.similarity import (
        _nsw_level,
        nsw_build_graph,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    g = nsw_build_graph(e, M=6, iters=1).localCheckpoint(eager=True)
    assert g.filter("src = dst").count() == 0
    deg = g.groupBy("level", "src").count()
    assert deg.filter("count > 6").count() == 0
    lvl = e.select(
        F.col("vec_id"), _nsw_level("vec_id", 2).alias("lvl")
    )
    for side in ("src", "dst"):
        bad = (
            g.join(lvl, g[side] == lvl["vec_id"])
            .filter(F.col("lvl") < F.col("level"))
            .count()
        )
        assert bad == 0, side
    sizes = {
        r["level"]: r["n"]
        for r in g.groupBy("level")
        .agg(F.countDistinct("src").alias("n"))
        .collect()
    }
    assert sizes[0] > sizes[1] > sizes.get(2, 0)


def test_nsw_topk_recall_and_shape(spark):
    """Beam-searched layered NSW must clear recall@5 ≥ 0.6 overall
    and 0.4 per query vs brute force at the tuned defaults (measured
    0.96/1.0 overall, 0.8 min per query on the fixtures — the gate
    x_ann_hnsw pins the same floor cross-engine). Output shape
    matches the rest of the ANN family; a query never retrieves
    itself."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.similarity import (
        nsw_topk,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter("vec_id < 5")
    exact = {
        (r["q_id"], r["vec_id"])
        for r in S.brute_force_topk(e, q, k=5).collect()
    }
    rows = nsw_topk(e, q, k=5).collect()
    approx = {(r["q_id"], r["vec_id"]) for r in rows}
    assert all(r["q_id"] != r["vec_id"] for r in rows)
    assert {r["q_id"] for r in rows} == {0, 1, 2, 3, 4}
    assert all(1 <= r["rnk"] <= 5 for r in rows)
    assert len(approx & exact) / len(exact) >= 0.6
    per_q: dict[int, list[int]] = {}
    for qq, v in exact:
        per_q.setdefault(qq, [0, 0])[0] += 1
        if (qq, v) in approx:
            per_q[qq][1] += 1
    assert min(h / n for n, h in per_q.values()) >= 0.4


@pytest.mark.slow  # round 16: heavy leg, slow tier (see pytest.ini)
def test_nsw_prebuilt_graph_reused(spark):
    """Passing a prebuilt graph must give the same result as the
    self-building path with identical parameters (the index is a
    plain DataFrame artifact — build once, query many)."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.similarity import (
        nsw_build_graph,
        nsw_topk,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter("vec_id < 3")
    g = nsw_build_graph(e)
    a = sorted(map(tuple, nsw_topk(e, q, k=5, graph=g).collect()))
    b = sorted(map(tuple, nsw_topk(e, q, k=5).collect()))
    assert a == b


@pytest.mark.slow  # round 16: heavy leg, slow tier (see pytest.ini)
def test_nsw_topk_descends_deep_prebuilt_graph(spark):
    """Round-14 ADVICE pin: the descent loop derives its bound from
    the supplied GRAPH's top layer, not the max_level parameter — a
    graph built deeper than the default must traverse its upper
    layers' edges (pre-fix they were entry-point-scored only), so
    searching the same deep graph with any max_level argument returns
    identical rows."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.similarity import (
        nsw_build_graph,
        nsw_topk,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter("vec_id < 3")
    deep = nsw_build_graph(e, max_level=4).localCheckpoint(eager=True)
    assert deep.agg({"level": "max"}).collect()[0][0] >= 3
    a = sorted(map(tuple, nsw_topk(e, q, k=5, graph=deep).collect()))
    b = sorted(
        map(
            tuple,
            nsw_topk(e, q, k=5, graph=deep, max_level=0).collect(),
        )
    )
    assert a == b and len(a) > 0


def _nsw_degree(graph):
    """(max out-degree, max out+in degree, top level) of an NSW graph."""
    from pyspark.sql import functions as F

    ends = graph.select("level", F.col("src").alias("node")).unionByName(
        graph.select("level", F.col("dst").alias("node"))
    )
    out_deg = graph.groupBy("level", "src").count().agg(F.max("count")).first()[0]
    both, top = (
        ends.groupBy("level", "node").count()
        .agg(F.max("count"), F.max("level")).first()
    )
    return out_deg, both, top


def test_nsw_broadcast_guard_reads_graph_degree(spark, monkeypatch):
    """The NSW broadcast guard sizes per-hop state from the graph's own
    max degree and top layer, not from the ``M`` argument: with the
    budget between the two estimates, a graph whose degree exceeds M
    runs unhinted, and its results equal the broadcast run's."""
    from pyspark.sql import functions as F

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter("vec_id < 3")
    graph = S.nsw_build_graph(e, M=8).localCheckpoint(eager=True)
    _, degree, top = _nsw_degree(graph)
    assert degree > 1

    def budget(deg):  # 3 queries, default beam 16 and hops 3
        return 3 * 16 * (deg + 1) * (3 + top + 1)

    hinted = []
    broadcast = F.broadcast
    monkeypatch.setattr(F, "broadcast", lambda df: hinted.append(1) or broadcast(df))
    monkeypatch.setattr(S, "NSW_BROADCAST_MAX_ROWS", budget(1))
    plain = sorted(map(tuple, S.nsw_topk(e, q, k=5, graph=graph, M=1).collect()))
    assert not hinted
    monkeypatch.setattr(S, "NSW_BROADCAST_MAX_ROWS", budget(degree))
    hint = sorted(map(tuple, S.nsw_topk(e, q, k=5, graph=graph, M=1).collect()))
    assert hinted
    assert plain == hint and len(plain) > 0


def test_nsw_broadcast_guard_counts_in_degree(spark, monkeypatch):
    """Each NSW hop walks the edges and their reverses, so a hub that
    many nodes point at fans out by its in-degree. With the budget at
    the out-degree-only estimate of a hub graph, the search runs
    unhinted, and its results equal the broadcast run's."""
    from pyspark.sql import functions as F

    e = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.array(F.sin("id"), F.cos("id"), F.sin(F.col("id") * 2)).alias("embedding"),
    )
    q = e.filter("vec_id < 3")
    # a chain i -> i+1 plus every node -> hub 0: out-degree 2, in-degree
    # of the hub ~ |nodes|
    ids = e.select(F.col("vec_id").alias("src"))
    graph = (
        ids.select("src", (F.col("src") + 1).alias("dst"))
        .filter(F.col("dst") < 200)
        .unionByName(
            ids.filter("src > 0").select("src", F.lit(0).cast("bigint").alias("dst"))
        )
        .select(F.lit(0).alias("level"), "src", "dst", F.lit(0.0).alias("sim"))
        .localCheckpoint(eager=True)
    )
    out_deg, degree, top = _nsw_degree(graph)
    assert (out_deg, top) == (2, 0) and degree > 100

    def budget(deg):  # 3 queries, default beam 16 and hops 3
        return 3 * 16 * (deg + 1) * (3 + top + 1)

    hinted = []
    broadcast = F.broadcast
    monkeypatch.setattr(F, "broadcast", lambda df: hinted.append(1) or broadcast(df))
    monkeypatch.setattr(S, "NSW_BROADCAST_MAX_ROWS", budget(out_deg))
    plain = sorted(map(tuple, S.nsw_topk(e, q, k=5, graph=graph).collect()))
    assert not hinted
    monkeypatch.setattr(S, "NSW_BROADCAST_MAX_ROWS", budget(degree))
    hint = sorted(map(tuple, S.nsw_topk(e, q, k=5, graph=graph).collect()))
    assert hinted
    assert plain == hint and len(plain) > 0


@pytest.mark.slow  # round 16: heavy leg, slow tier (see pytest.ini)
def test_nsw_query_index_plan_bounded(spark, tmp_path):
    """Round-14 pin for the x_ann_hnsw_store gate row: the persisted-
    index SEARCH path's final plan carries at most 2 exchanges (the
    top-k window over the checkpointed visited set — hop-internal
    traffic is truncated behind the per-hop localCheckpoints and
    bounded by beam·2M rows per query by construction) and ZERO
    Python nodes; measured 1 exchange / 0 Python."""
    import re as _re

    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.similarity import (
        nsw_build_graph,
        nsw_index_append,
        nsw_query_index,
        save_nsw_index,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    store = str(tmp_path / "nsw")
    even = e.filter("vec_id % 2 = 0")
    save_nsw_index(even, nsw_build_graph(even), store)
    nsw_index_append(e.filter("vec_id % 2 = 1"), store)
    out = nsw_query_index(spark, store, e.filter("vec_id < 5"), k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert len(_re.findall(r"\bExchange\b", plan)) <= 2, plan[:1500]
    assert "Python" not in plan
    assert out.count() > 0


@pytest.mark.slow  # round 16: heavy leg, slow tier (see pytest.ini)
def test_nsw_index_append_search_then_connect(spark, tmp_path):
    """Round-13 incremental NSW: seed the index from the even half,
    append the odd half in one batch (search-then-connect + reverse
    edges + intra-batch NN-descent), then query the store — recall@5
    vs brute force over the FULL set must clear 0.6 (measured 1.0),
    with truth neighbors drawn from BOTH halves. Compaction re-prunes
    every adjacency to the M cap and keeps recall ≥ 0.6 (measured
    0.92)."""
    from pyspark.sql import functions as F

    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.similarity import (
        compact_nsw_graph,
        nsw_build_graph,
        nsw_index_append,
        nsw_query_index,
        save_nsw_index,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    old, new = e.filter("vec_id % 2 = 0"), e.filter("vec_id % 2 = 1")
    store = str(tmp_path / "nsw")
    save_nsw_index(old, nsw_build_graph(old), store)
    nsw_index_append(new, store)
    # the appended vectors are stored and searchable
    assert spark.read.parquet(f"{store}/vectors").count() == e.count()
    q = e.filter("vec_id < 5")
    truth = {
        (r["q_id"], r["vec_id"])
        for r in S.brute_force_topk(e, q, k=5).collect()
    }
    assert any(v % 2 == 1 for _, v in truth)  # truth spans both halves
    approx = {
        (r["q_id"], r["vec_id"])
        for r in nsw_query_index(spark, store, q, k=5).collect()
    }
    assert len(approx & truth) / len(truth) >= 0.6
    compact_nsw_graph(spark, store, M=12)
    g = spark.read.parquet(f"{store}/graph")
    assert (
        g.groupBy("level", "src").count().agg(F.max("count")).collect()[0][0]
        <= 12
    )
    approx2 = {
        (r["q_id"], r["vec_id"])
        for r in nsw_query_index(spark, store, q, k=5).collect()
    }
    assert len(approx2 & truth) / len(truth) >= 0.6


@pytest.mark.slow  # round 16: heavy leg, slow tier (see pytest.ini)
def test_compact_nsw_graph_refresh_structural_invariants(spark, tmp_path):
    """Round-14: compact_nsw_graph(refresh_iters=1) re-enriches each
    layer's pruned adjacencies with one NN-descent exchange. The
    recall effect is CORPUS-DEPENDENT (measured +0.04 on the sf0.001
    fixture, −0.08 on the x2 soak staging: locally-best edges can
    displace navigation-valuable long-range ones — why HNSW proper
    prunes with the diversity heuristic, see the select="heuristic"
    path), so the pins here are structural: the refreshed graph keeps
    the degree cap, the layer nesting, and a recall above the
    querying floor."""
    import shutil as _shutil

    from pyspark.sql import functions as F

    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.similarity import (
        compact_nsw_graph,
        nsw_build_graph,
        nsw_index_append,
        nsw_query_index,
        save_nsw_index,
    )

    # half-corpus store (seed = %4==0, append = %4==2) keeps this
    # two-compaction test inside the suite's time budget
    e = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).filter("vec_id % 2 = 0")
    q = e.filter("vec_id < 10")
    truth = {
        (r["q_id"], r["vec_id"])
        for r in S.brute_force_topk(e, q, k=5).collect()
    }

    def recall(store):
        got = {
            (r["q_id"], r["vec_id"])
            for r in nsw_query_index(spark, store, q, k=5).collect()
        }
        return len(got & truth) / len(truth)

    # shallow/lean build parameters: the test's subject is the
    # compaction flavors' invariants, not tuned recall — the hop/
    # level loops are latency-bound, so fewer levels and iters keep
    # the two-compaction test inside the suite budget
    seed = str(tmp_path / "seed")
    save_nsw_index(
        e.filter("vec_id % 4 = 0"),
        nsw_build_graph(
            e.filter("vec_id % 4 = 0"), M=6, iters=1, max_level=1
        ),
        seed,
    )
    nsw_index_append(
        e.filter("vec_id % 4 = 2"), seed, M=6, max_level=1, beam=8, hops=2
    )

    refreshed = str(tmp_path / "refreshed")
    heuristic = str(tmp_path / "heuristic")
    for dst in (refreshed, heuristic):
        _shutil.copytree(seed, dst, symlinks=True)
    compact_nsw_graph(spark, refreshed, M=6, refresh_iters=1)
    compact_nsw_graph(spark, heuristic, M=6, select="heuristic")

    recalls = {s: recall(s) for s in (refreshed, heuristic)}
    # both new compaction flavors keep the graph above the gate
    # floor (the plain flavor is pinned by the append test); flavor
    # ordering is corpus-dependent — random fixtures carry no cluster
    # structure for the diversity rule to exploit: at the tuned
    # full-size parameters we measured plain 0.92 / refreshed 0.96 /
    # heuristic 0.84, with the x2 soak inverting refreshed-vs-plain
    assert all(r >= 0.4 for r in recalls.values()), recalls
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.similarity import (
        _nsw_level,
    )

    lvl = e.select(F.col("vec_id"), _nsw_level("vec_id", 1).alias("lvl"))
    for store in (refreshed, heuristic):
        # structural invariants survive both flavors: cap + nesting
        g = spark.read.parquet(f"{store}/graph")
        deg = (
            g.groupBy("level", "src")
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
        )
        assert deg <= 6, store
        for side in ("src", "dst"):
            bad = (
                g.join(lvl, g[side] == lvl["vec_id"])
                .filter(F.col("lvl") < F.col("level"))
                .count()
            )
            assert bad == 0, (store, side)


def test_nsw_index_append_requires_existing_index(spark, tmp_path):
    """Appending to a missing store must fail loudly (the
    ivf_index_append bootstrap contract — an appender must never
    silently build a graph with no layer structure)."""
    import pytest

    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.similarity import (
        nsw_index_append,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    with pytest.raises(FileNotFoundError):
        nsw_index_append(e.limit(5), str(tmp_path / "missing"))


def test_ivf_pq_composed_recall_and_candidate_bound(spark):
    """IVF-PQ must (a) only return candidates from probed lists —
    its results are a subset of plain IVF's candidate space scored
    approximately — and (b) keep nontrivial recall vs exact top-k."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.similarity import (
        brute_force_topk,
        ivf_pq_topk,
        ivf_topk,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter("vec_id < 5")
    exact = {(r["q_id"], r["vec_id"]) for r in brute_force_topk(e, q, k=5).collect()}
    got = ivf_pq_topk(e, q, k=5, n_probes=2).collect()
    pairs = {(r["q_id"], r["vec_id"]) for r in got}
    recall = len(pairs & exact) / len(exact)
    assert recall >= 0.3, recall  # PQ-coded scoring on random vectors
    # candidate space: every returned vec shares a probed bucket with
    # its query — check against the (exactly scored) IVF candidates
    # with a large k so ranking differences can't hide membership
    ivf_all = {
        (r["q_id"], r["vec_id"])
        for r in ivf_topk(e, q, k=10**6, n_probes=2).collect()
    }
    assert pairs <= ivf_all
    # per-query result lists are ranked 1..n without gaps
    by_q = {}
    for r in got:
        by_q.setdefault(r["q_id"], []).append(r["rnk"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_q.values())


def test_refine_is_exact_over_candidates(spark):
    """The refine stage must rank candidates by TRUE cosine: its top-5
    equals brute-force top-5 computed over the same candidate set."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.similarity import (
        ann_refine,
        brute_force_topk,
        ivf_pq_topk,
    )
    from pyspark.sql import functions as F

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter("vec_id < 5")
    cands = ivf_pq_topk(e, q, k=25, n_probes=2).select("q_id", "vec_id")
    got = {
        (r["q_id"], r["rnk"]): r["vec_id"]
        for r in ann_refine(e, q, cands, k=5).collect()
    }
    # exact ranking restricted to each query's candidates
    cand_rows = cands.collect()
    cand_by_q = {}
    for r in cand_rows:
        cand_by_q.setdefault(r["q_id"], set()).add(r["vec_id"])
    exact = brute_force_topk(e, q, k=10**6).collect()
    for qid, members in cand_by_q.items():
        ranked = [
            r["vec_id"]
            for r in sorted(
                (r for r in exact if r["q_id"] == qid and r["vec_id"] in members),
                key=lambda r: (-r["sim"], r["vec_id"]),
            )
        ][:5]
        assert [got[(qid, i + 1)] for i in range(len(ranked))] == ranked


def test_mmr_rerank_diversifies(spark):
    """MMR (λ=0.7) over IVF-PQ candidates: picks k, starts from the
    most relevant, and its selection is strictly more diverse (lower
    mean pairwise cosine) than plain exact top-k when redundancy
    exists; deterministic across runs."""
    import itertools

    import numpy as np

    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.similarity import (
        ann_refine,
        ivf_pq_topk,
        mmr_rerank,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter("vec_id < 3")
    cands = ivf_pq_topk(e, q, k=25, n_probes=2).select("q_id", "vec_id")
    got = mmr_rerank(e, q, cands, k=5, lam=0.7).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["q_id"], []).append((r["rnk"], r["vec_id"]))
    assert all(len(v) == 5 for v in by_q.values())
    # rank 1 must be the exact most-relevant candidate (red=0 at step 1)
    top1 = {
        r["q_id"]: r["vec_id"]
        for r in ann_refine(e, q, cands, k=1).collect()
    }
    for qid, v in by_q.items():
        assert dict(v)[1] == top1[qid]
    # determinism
    again = mmr_rerank(e, q, cands, k=5, lam=0.7).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, again))
    # diversity: mean pairwise cosine of the MMR set <= exact top-5 set
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=float) for r in e.collect()}

    def mean_pair_cos(ids):
        ps = [
            float(
                vecs[a] @ vecs[b]
                / (np.linalg.norm(vecs[a]) * np.linalg.norm(vecs[b]))
            )
            for a, b in itertools.combinations(ids, 2)
        ]
        return sum(ps) / len(ps)

    exact5 = {}
    for r in ann_refine(e, q, cands, k=5).collect():
        exact5.setdefault(r["q_id"], []).append(r["vec_id"])
    diffs = []
    for qid, v in by_q.items():
        mmr_ids = [x for _, x in sorted(v)]
        diffs.append(mean_pair_cos(exact5[qid]) - mean_pair_cos(mmr_ids))
    assert all(d >= -1e-9 for d in diffs)


def test_mmr_negative_redundancy_boosts_anticorrelated(spark):
    """Carbonell & Goldstein literally: a candidate anti-correlated
    with the selected set has a NEGATIVE redundancy term, which raises
    its MMR score above a same-relevance candidate that is orthogonal
    to the selection. With the old 0-floor both tied and the id
    tiebreak picked the wrong one."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.similarity import (
        mmr_rerank,
    )

    # q along +x. cand 1 = (1,1,0)/√2 (rel .707, picked first).
    # cand 2 = +z: rel 0, red 0. cand 3 = -y: rel 0, red = -.707 vs
    # cand 1. MMR step 2: score(2) = 0; score(3) = -0.3·(-.707) ≈ .21
    # so cand 3 must be picked 2nd despite the larger id (the old
    # 0-floor tied them and the id tiebreak picked cand 2).
    base = spark.createDataFrame(
        [
            (1, [1.0, 1.0, 0.0]),
            (2, [0.0, 0.0, 1.0]),
            (3, [0.0, -1.0, 0.0]),
        ],
        "vec_id bigint, embedding array<double>",
    )
    qdf = spark.createDataFrame(
        [(10, [1.0, 0.0, 0.0])], "vec_id bigint, embedding array<double>"
    )
    cands = spark.createDataFrame(
        [(10, 1), (10, 2), (10, 3)], "q_id bigint, vec_id bigint"
    )
    got = sorted(
        (r["rnk"], r["vec_id"])
        for r in mmr_rerank(base, qdf, cands, k=3, lam=0.7).collect()
    )
    assert got == [(1, 1), (2, 3), (3, 2)]


def _pca_corpus(spark, n=60, d=6, seed=7):
    # deterministic anisotropic cloud: variance concentrated on dims
    # 0 and 1 through fixed sinusoidal mixing (no RNG)
    rows = []
    for i in range(n):
        a = math.sin(seed * 0.7 + i) * 3.0
        b = math.cos(seed * 1.3 + 2 * i) * 1.5
        vec = [a, b] + [0.05 * math.sin(i * (j + 2)) for j in range(d - 2)]
        rows.append((i, [float(x) for x in vec]))
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_embed_stats_matches_numpy(spark):
    import numpy as np

    df = _pca_corpus(spark)
    arr = np.array([r["embedding"] for r in df.orderBy("vec_id").collect()])
    stats = {r["dim"]: r for r in S.embed_stats(df).collect()}
    assert len(stats) == arr.shape[1]
    for j in range(arr.shape[1]):
        r = stats[j]
        assert r["n"] == arr.shape[0]
        assert abs(r["mean"] - arr[:, j].mean()) < 1e-6
        assert abs(r["variance"] - arr[:, j].var()) < 1e-6
        assert abs(r["lo"] - arr[:, j].min()) < 1e-6
        assert abs(r["hi"] - arr[:, j].max()) < 1e-6
    # partition invariance: identical moments under re-partitioning
    again = {r["dim"]: r for r in S.embed_stats(df.repartition(13)).collect()}
    assert {k: (v["mean"], v["variance"]) for k, v in stats.items()} == {
        k: (v["mean"], v["variance"]) for k, v in again.items()
    }


def test_pca_fit_recovers_dominant_directions(spark):
    import numpy as np

    df = _pca_corpus(spark)
    comps, evals, mu = S.pca_fit(df, n_components=3)
    arr = np.array([r["embedding"] for r in df.orderBy("vec_id").collect()], dtype=float)
    # eigenvalues descend and match numpy's covariance spectrum
    ref = np.linalg.eigvalsh(np.cov(arr.T, bias=True))[::-1]
    assert evals[0] >= evals[1] >= evals[2] > 0
    for got, want in zip(evals, ref):
        assert abs(got - want) < 1e-5, (got, want)
    # the top-2 PCs span the planted high-variance plane (dims 0/1)
    for comp in comps[:2]:
        energy_01 = comp[0] ** 2 + comp[1] ** 2
        assert energy_01 > 0.95, comps[:2]
    # sign convention: largest-|loading| entry positive
    for comp in comps:
        assert comp[int(np.argmax(np.abs(comp)))] > 0


def test_pca_project_variance_matches_eigenvalues(spark):
    import numpy as np

    df = _pca_corpus(spark)
    comps, evals, mu = S.pca_fit(df, n_components=2)
    proj = S.pca_project(df, comps, mu)
    arr = np.array(
        [(r["pc1"], r["pc2"]) for r in proj.orderBy("vec_id").collect()]
    )
    assert abs(arr[:, 0].var() - evals[0]) < 1e-5
    assert abs(arr[:, 1].var() - evals[1]) < 1e-5
    # projections of centered data have ~zero mean
    assert abs(arr[:, 0].mean()) < 1e-9 and abs(arr[:, 1].mean()) < 1e-9
    # determinism across partitionings (fit + project)
    comps2, evals2, mu2 = S.pca_fit(df.repartition(9), n_components=2)
    assert comps == comps2 and evals == evals2 and mu == mu2


@pytest.mark.slow  # round 16: heavy leg, slow tier (see pytest.ini)
def test_power_iteration_converges_to_eigh_top(spark):
    """The fixed-point power iteration must converge to numpy eigh's
    dominant eigenvector of the SAME quantized covariance it iterates
    (sign-independent cosine ~ 1), stay unit-norm, and be
    deterministic across partitionings — pinning the math the
    x_power_iteration oracle replays round-for-round."""
    import numpy as np

    df = _pca_corpus(spark)
    got = {
        r["dim"]: r["loading"]
        for r in S.power_iteration_top(df, dims=6, iters=25).collect()
    }
    v = np.array([got[j] for j in range(6)])
    assert abs(float(np.linalg.norm(v)) - 1.0) < 1e-6
    arr = np.array([r["embedding"] for r in df.orderBy("vec_id").collect()])
    eq = np.round(arr.astype(np.float64) * 1000.0)
    n = eq.shape[0]
    m = n * (eq.T @ eq) - np.outer(eq.sum(axis=0), eq.sum(axis=0))
    evals, evecs = np.linalg.eigh(m)
    top = evecs[:, -1]
    assert abs(float(v @ top)) > 0.999
    again = {
        r["dim"]: r["loading"]
        for r in S.power_iteration_top(df.repartition(13), dims=6, iters=25).collect()
    }
    assert again == got


def test_rptree_leaves_equi_depth(spark):
    """The tree family's defining property vs sign-LSH: median splits
    give equi-depth leaves regardless of the data distribution — on
    the 500-vector fixture every leaf holds exactly 125, and leaf ids
    cover {0,1,2,3}."""
    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    sizes = {
        r["leaf"]: r["count"]
        for r in S.rptree_leaves(e).groupBy("leaf").count().collect()
    }
    assert set(sizes) == {0, 1, 2, 3}
    assert max(sizes.values()) - min(sizes.values()) <= 1


def test_rptree_leaves_balanced_on_clustered_corpus(spark):
    """The adversarial case for fixed hyperplanes: a corpus where 90%
    of vectors sit in one tight cluster. Sign-LSH would hot-spot one
    bucket; RP-tree median splits still cut it into equal quarters."""
    rows = [(i, [5.0 + (i % 7) * 1e-3, 5.0, 5.0, 5.0]) for i in range(180)]
    rows += [(200 + i, [-5.0, float(i), 1.0, -3.0]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    sizes = {
        r["leaf"]: r["count"]
        for r in S.rptree_leaves(df, dim=4).groupBy("leaf").count().collect()
    }
    assert set(sizes) == {0, 1, 2, 3}
    assert max(sizes.values()) - min(sizes.values()) <= 1


def test_rptree_forest_recall(spark):
    """Forest OR-amplification: each tree prunes 4x, more trees lift
    recall vs the exact top-5 (measured 0.24 / 0.48 / 0.64 for 1/2/3
    trees on the fixture — deterministic directions, stable)."""
    from pyspark.sql import functions as F

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter("vec_id < 5")
    exact = {
        (r["q_id"], r["vec_id"]) for r in S.brute_force_topk(e, q, k=5).collect()
    }

    def recall(trees):
        approx = {
            (r["q_id"], r["vec_id"])
            for r in S.rptree_topk(e, F.col("vec_id") < 5, k=5, trees=trees).collect()
        }
        return len(approx & exact) / len(exact)

    r1, r3 = recall(1), recall(3)
    assert r1 >= 0.15, r1
    assert r3 >= 0.5, r3
    assert r3 > r1  # amplification must actually help


def test_rrf_fuse_hand_computed(spark):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.similarity import (
        rrf_fuse,
    )

    # leg A ranks [d1, d2, d3], leg B ranks [d3, d2, d9]:
    #   d2 = 1/62 + 1/62 = .0322580…, d3 = 1/63 + 1/61 = .0322664…
    #   -> d3 edges out d2; d1 (1/61) beats d9 (1/63)
    a = spark.createDataFrame(
        [("q", 1, 1), ("q", 2, 2), ("q", 3, 3)],
        "query_id string, doc_id bigint, rnk int",
    )
    b = spark.createDataFrame(
        [("q", 3, 1), ("q", 2, 2), ("q", 9, 3)],
        "query_id string, doc_id bigint, rnk int",
    )
    rows = rrf_fuse(a, b, k=4).orderBy("rnk").collect()
    assert [r["doc_id"] for r in rows] == [3, 2, 1, 9]
    assert rows[0]["rrf_score"] == 1.0 / 63 + 1.0 / 61
    # single-leg candidates carry a NULL rank on the missing side
    assert rows[2]["rank_b"] is None and rows[3]["rank_a"] is None
    assert rows[2]["rrf_score"] == 1.0 / 61


def test_rrf_fuse_equal_rank_pair_ties_break_by_id(spark):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.similarity import (
        rrf_fuse,
    )

    # two docs with mirrored (1,2)/(2,1) rank pairs score identically
    # -> deterministic id-ASC tie-break
    a = spark.createDataFrame(
        [("q", 7, 1), ("q", 4, 2)], "query_id string, doc_id bigint, rnk int"
    )
    b = spark.createDataFrame(
        [("q", 4, 1), ("q", 7, 2)], "query_id string, doc_id bigint, rnk int"
    )
    rows = rrf_fuse(a, b, k=2).orderBy("rnk").collect()
    assert [r["doc_id"] for r in rows] == [4, 7]
    assert rows[0]["rrf_score"] == rows[1]["rrf_score"]


def test_rrf_fuse_respects_k_per_query(spark):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.similarity import (
        rrf_fuse,
    )

    a = spark.createDataFrame(
        [("q1", i, i) for i in range(1, 6)] + [("q2", i, i) for i in range(1, 4)],
        "query_id string, doc_id bigint, rnk int",
    )
    b = spark.createDataFrame(
        [("q1", 100, 1)], "query_id string, doc_id bigint, rnk int"
    )
    out = rrf_fuse(a, b, k=3)
    got = {r["query_id"]: r for r in out.groupBy("query_id").count().collect()}
    assert got["q1"]["count"] == 3 and got["q2"]["count"] == 3


def test_nsw_topk_rescore_dedup_matches_antijoin_reference(spark):
    """Round-16 pin for the hop-state restructure: the dedup-based
    visited maintenance (re-score candidates, dropDuplicates on
    bit-identical rows) must return EXACTLY the rows of the r15
    anti-join form — exact-cosine re-scores are deterministic, so the
    visited set (and therefore the frontier trajectory and the final
    top-k) is invariant. The reference loop below IS the r15
    algorithm, replayed over the same prebuilt graph."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.similarity import (
        _sim,
        nsw_build_graph,
        nsw_topk,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q_pred = "vec_id < 4"
    k, beam, hops = 5, 16, 3
    graph = nsw_build_graph(e).localCheckpoint(eager=True)
    new = sorted(
        map(tuple, nsw_topk(e, e.filter(q_pred), k=k, graph=graph).collect())
    )

    # --- r15 reference: anti-join visited maintenance -----------------
    q = e.filter(q_pred).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    bvec = e.select(F.col("vec_id").alias("node"), F.col("embedding").alias("__b"))

    def score(cand):
        return (
            bvec.join(F.broadcast(cand), "node")
            .join(F.broadcast(q), "q_id")
            .filter(F.col("node") != F.col("q_id"))
            .select("q_id", "node", _sim("q_emb", "__b").alias("sim"))
        )

    top_lvl = graph.agg(F.max("level")).collect()[0][0]
    top_nodes = (
        graph.filter(F.col("level") == top_lvl)
        .select(F.col("src").alias("node"))
        .distinct()
    )
    visited = score(
        q.select("q_id").crossJoin(F.broadcast(top_nodes))
    ).localCheckpoint(eager=True)
    wbeam = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("node"))
    for l in range(top_lvl, -1, -1):
        edges = graph.filter(F.col("level") == l).select("src", "dst")
        edges = edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        for _ in range(hops if l == 0 else 1):
            frontier = (
                visited.withColumn("rnk", F.row_number().over(wbeam))
                .filter(F.col("rnk") <= beam)
                .select("q_id", F.col("node").alias("src"))
            )
            cand = (
                F.broadcast(frontier)
                .join(edges, "src")
                .select("q_id", F.col("dst").alias("node"))
                .distinct()
                .join(
                    F.broadcast(visited.select("q_id", "node")),
                    ["q_id", "node"],
                    "left_anti",
                )
            )
            visited = visited.unionByName(score(cand)).localCheckpoint(
                eager=True
            )
    ref = sorted(
        map(
            tuple,
            visited.withColumnRenamed("node", "vec_id")
            .withColumn(
                "rnk",
                F.row_number()
                .over(
                    Window.partitionBy("q_id").orderBy(
                        F.desc("sim"), F.asc("vec_id")
                    )
                )
                .cast("bigint"),
            )
            .filter(F.col("rnk") <= k)
            .collect(),
        )
    )
    assert new == ref and len(new) > 0


def test_nsw_topk_duplicate_edges_invariant(spark):
    """Duplicate directed edges (an at-least-once replayed append)
    must not change search results: duplicate candidates re-score to
    bit-identical rows and dedup away."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.similarity import (
        nsw_build_graph,
        nsw_topk,
    )

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = e.filter("vec_id < 3")
    g = nsw_build_graph(e).localCheckpoint(eager=True)
    dup = g.unionByName(g)
    a = sorted(map(tuple, nsw_topk(e, q, k=5, graph=g).collect()))
    b = sorted(map(tuple, nsw_topk(e, q, k=5, graph=dup).collect()))
    assert a == b and len(a) > 0
