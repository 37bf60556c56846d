"""Similarity search over embedding columns (array<float>).

Two strategies:

- **brute-force top-k** (the exactness baseline): broadcast the (small)
  query set against the base table, cosine via JVM higher-order
  functions, per-query top-k via a window over (sim desc, id). The
  base table never shuffles — only the tiny query side moves. At
  100 TB this is a single scan + broadcast + per-partition partial
  top-k (AQE keeps the window cheap because the partition key is the
  low-cardinality query id; for very large k-lists switch to
  ``RankLimit`` pushdown which Spark applies to rn<=k filters).
- **sign-bucketed ANN** (the scale path): both sides bucketed by the
  sign pattern of leading dimensions (a deterministic random-hyperplane
  LSH with axis-aligned planes); candidates only join within a bucket,
  so the pair space shrinks ~2^bits with recall traded off. The same
  arithmetic is replayable in the SQL oracle.

Similarities accumulate in double and are rounded to 6 dp at the edge
so Spark and the oracle emit bit-identical values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import as_double, cosine, dot, sign_bucket
from . import stores
from .cacheutil import Frames
from .generations import publish
from .partitioning import spread

# NSW search broadcasts its per-hop state while the estimated rows
# (queries × beam × (max out-degree + 1) × hops over every layer) stay
# at or below this; a larger batch is joined unhinted.
NSW_BROADCAST_MAX_ROWS = 4_000_000


def _sim(qcol: str, bcol: str):
    return F.round(cosine(as_double(qcol), as_double(bcol)), 6)


def brute_force_topk(
    base: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query. Returns (q_id, vec_id, sim, rnk)."""
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_emb")
    )
    # cosine against every query is the per-row hot loop — spread the
    # base when the scan under-partitions (single-row-group fixtures)
    b = spread(base.select(F.col(id_col), F.col(vec_col)))
    scored = (
        b.join(F.broadcast(q), F.col(id_col) != F.col("q_id"))
        .select(
            "q_id",
            id_col,
            _sim("q_emb", vec_col).alias("sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= k)
    )


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    query_col: str = "query_id",
    id_col: str = "doc_id",
    k: int = 5,
    c: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) of two
    ranked retrieval lists — the standard recipe for HYBRID search:
    fuse a sparse/lexical leg (BM25, TF-IDF more-like-this) with a
    dense/embedding leg (the x_ann_* family) without score
    calibration, since RRF consumes only the RANKS:
    score(d) = Σ_legs 1/(c + rank_leg(d)), absent-from-a-leg
    contributes 0. ``c = 60`` is the published default.

    Inputs both carry (``query_col``, ``id_col``, rnk) — any extra
    columns are ignored. Returns the fused top-``k`` per query as
    (``query_col``, rnk, ``id_col``, rrf_score, rank_a, rank_b) with
    NULL rank_a/rank_b marking a candidate one leg never surfaced.

    Exactness: ranks are integers, each 1/(c+r) is ONE
    exactly-rounded IEEE division and the fusion is ONE addition —
    deterministic across engines; the output rank orders by the
    score's 12-dp decimal rounding with an ``id_col``-ASC tie-break
    (equal-score candidates are common under RRF since the score only
    depends on the rank pair).

    Spark shape: both legs are top-k lists — |queries|·k rows, never
    corpus-sized — so the fusion is a full-outer join of two slivers
    plus one WindowGroupLimit; the heavy lifting stays in the legs.
    At 100 TB the legs' own pruning (postings join, IVF routing) is
    what bounds this; fusion adds no corpus scan.
    """
    a = ranked_a.select(
        query_col, id_col, F.col("rnk").cast("bigint").alias("rank_a")
    )
    b = ranked_b.select(
        query_col, id_col, F.col("rnk").cast("bigint").alias("rank_b")
    )
    fused = a.join(b, [query_col, id_col], "full_outer").select(
        query_col,
        id_col,
        "rank_a",
        "rank_b",
        (
            F.coalesce(
                F.lit(1.0) / (F.lit(c) + F.col("rank_a")).cast("double"),
                F.lit(0.0),
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(c) + F.col("rank_b")).cast("double"),
                F.lit(0.0),
            )
        ).alias("rrf_score"),
    )
    w = Window.partitionBy(query_col).orderBy(
        F.round(F.col("rrf_score"), 12).cast("decimal(28,12)").desc(),
        F.col(id_col).asc(),
    )
    return (
        fused.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= k)
        .select(query_col, "rnk", id_col, "rrf_score", "rank_a", "rank_b")
    )


def hard_negatives(
    base: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_col: str = "label",
) -> DataFrame:
    """Contrastive hard-negative mining: per query, the ``k``
    most-similar base vectors carrying a DIFFERENT ``group_col`` —
    the would-be false positives that make the highest-value training
    negatives (in-batch negatives are mostly easy; retrieval-mined
    near-misses are what sharpen the margin). Same broadcast-queries /
    single-base-scan shape as :func:`brute_force_topk`; the label
    inequality is part of the join condition so same-class pairs are
    pruned before the similarity arithmetic. Returns
    (q_id, q_label, vec_id, neg_label, sim, rnk)."""
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_emb"),
        F.col(group_col).alias("q_label"),
    )
    b = spread(base.select(F.col(id_col), F.col(vec_col), F.col(group_col)))
    scored = b.join(
        F.broadcast(q), F.col(group_col) != F.col("q_label")
    ).select(
        "q_id",
        "q_label",
        id_col,
        F.col(group_col).alias("neg_label"),
        _sim("q_emb", vec_col).alias("sim"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= k)
    )


def bucketed_ann_topk(
    base: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 4,
    tables: int = 1,
) -> DataFrame:
    """Approximate top-k with **multi-probe, multi-table** sign-LSH:
    a query probes its own bucket plus every Hamming-distance-1
    neighbor (vectors near a hyperplane land on either side, so the
    adjacent buckets hold most of the missed neighbors), in each of
    ``tables`` independent hash tables (sign planes over disjoint
    dimension ranges — OR-amplification: a true neighbor is found if
    ANY table collides, lifting recall from ~0.5 to ~0.8 on the
    fixture at tables× the candidate cost, still a
    2^bits/(tables·(bits+1)) pruning). Same output shape as
    brute_force_topk.
    """
    bucket_tbl = F.posexplode(
        F.array(*[sign_bucket(vec_col, bits, t * bits) for t in range(tables)])
    )
    per_tbl = []
    for t in range(tables):
        b = sign_bucket(vec_col, bits, t * bits)
        per_tbl.append(
            F.array(
                *[
                    F.struct(F.lit(t).alias("tbl"), p.alias("bucket"))
                    for p in (
                        b,
                        *[b.bitwiseXOR(F.lit(1 << i)) for i in range(bits)],
                    )
                ]
            )
        )
    q = (
        queries.select(
            F.col(id_col).alias("q_id"),
            F.col(vec_col).alias("q_emb"),
            F.explode(F.flatten(F.array(*per_tbl))).alias("p"),
        )
        .select(
            "q_id",
            "q_emb",
            F.col("p.tbl").alias("q_tbl"),
            F.col("p.bucket").alias("q_bucket"),
        )
    )
    b = spread(base.select(F.col(id_col), F.col(vec_col))).select(
        F.col(id_col), F.col(vec_col), bucket_tbl.alias("tbl", "bucket")
    )
    scored = (
        b.join(
            F.broadcast(q),
            (F.col("tbl") == F.col("q_tbl"))
            & (F.col("bucket") == F.col("q_bucket"))
            & (F.col(id_col) != F.col("q_id")),
        )
        # a pair can collide in several tables — dedupe before ranking
        .select("q_id", id_col, _sim("q_emb", vec_col).alias("sim"))
        .distinct()
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= k)
    )


def rp_vector(dim: int, a: int, b: int) -> list[float]:
    """Deterministic integer-valued projection direction for RP-tree
    splits: component ``i`` is ``((a*i + b) % 11) - 5`` — small signed
    integers so the dot product is plain double arithmetic both
    engines reproduce bit-for-bit (float→double casts are exact, and
    both Spark's ``aggregate`` and DuckDB's ``list_dot_product`` fold
    left-to-right)."""
    return [float(((a * i + b) % 11) - 5) for i in range(dim)]


def _rp_proj(vec_col: str, direction: list[float]):
    return F.round(
        dot(as_double(vec_col), F.array(*[F.lit(v) for v in direction])), 6
    )


def rptree_directions(dim: int, tree: int) -> tuple[list[float], list[float]]:
    """The two split directions of tree ``tree`` — distinct multipliers
    per tree give the forest its independence (tree 0 = (7,3)/(13,5))."""
    return (
        rp_vector(dim, 7 + 6 * tree, 3 + tree),
        rp_vector(dim, 13 + 6 * tree, 5 + tree),
    )


def rptree_leaves(
    base: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    tree: int = 0,
    mode: str = "exact",
) -> DataFrame:
    """Two-level random-projection-tree partitioning (Dasgupta &
    Freund, STOC 2008 / the Annoy index family): split the corpus at
    the MEDIAN of a random projection, then split each half again on a
    SECOND independent direction — four equal-depth leaves. This is
    the tree family's advantage over sign-LSH bucketing
    (:func:`bucketed_ann_topk`): splits are data-dependent
    equi-depth, so leaves stay balanced no matter how the corpus is
    distributed, where fixed hyperplanes can send 90% of a clustered
    corpus into one hot bucket.

    ``mode`` picks the audit form or the scale form (the
    ``pack_sequences`` convention):

    - ``"exact"`` — rank-splitting via ``ntile`` over the (rounded)
      projection: engine-exact (what the oracle hash needs) but a
      global-sort window.
    - ``"approx"`` — the 100 TB form: the level-1 median comes from
      one ``percentile_approx`` pass, the two level-2 medians from
      one GROUPED ``percentile_approx`` pass keyed by the half; both
      bounded cut frames are broadcast and rows route with map-side
      comparisons (:func:`..bucketing.approx_bucket`) — same tree, no
      global sort. Leaf assignments agree with the exact form except
      for rows tied AT a median (ntile splits ties by id; routing
      sends them all one way) — equivalence- and recall-tested in
      ``tests/test_bucketing.py``.

    Returns ``(id, embedding, leaf)`` with leaf in {0,1,2,3}.
    """
    p1, p2 = rptree_directions(dim, tree)
    proj = base.select(
        F.col(id_col),
        F.col(vec_col),
        _rp_proj(vec_col, p1).alias("__p1"),
        _rp_proj(vec_col, p2).alias("__p2"),
    )
    if mode == "approx":
        from .bucketing import approx_bucket

        halves = approx_bucket(proj, "__p1", 2, bucket_col="__h")
        split2 = approx_bucket(halves, "__p2", 2, keys=["__h"], bucket_col="__h2")
        return split2.select(
            id_col,
            vec_col,
            ((F.col("__h") - 1) * 2 + F.col("__h2") - 1).cast("int").alias("leaf"),
        )
    if mode != "exact":
        raise ValueError(f"mode must be 'exact' or 'approx', got {mode!r}")
    w1 = Window.orderBy("__p1", id_col)
    halves = proj.withColumn("__h", F.ntile(2).over(w1))
    w2 = Window.partitionBy("__h").orderBy("__p2", id_col)
    return halves.select(
        id_col,
        vec_col,
        ((F.col("__h") - 1) * 2 + F.ntile(2).over(w2) - 1)
        .cast("int")
        .alias("leaf"),
    )


def rptree_topk(
    base: DataFrame,
    query_pred,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    trees: int = 1,
    mode: str = "exact",
) -> DataFrame:
    """Approximate top-k via an RP-tree FOREST (the Annoy recipe): each
    query (selected from the base by ``query_pred`` so its leaf
    assignment is its own tree membership) is compared against its
    leaf in each of ``trees`` independent trees — OR-amplification
    over trees lifts recall while each tree still prunes 4×; a pair
    colliding in several trees is deduped before ranking, exactly the
    multi-table pattern of :func:`bucketed_ann_topk`. ``mode`` selects
    the leaf-assignment form (see :func:`rptree_leaves` — ``"approx"``
    is the no-global-sort 100 TB path). Returns
    ``(q_id, vec_id, sim, rnk)``.
    """
    per_tree = [
        rptree_leaves(base, id_col, vec_col, dim, tree=ti, mode=mode).select(
            F.lit(ti).alias("tree"), F.col(id_col), F.col(vec_col), "leaf"
        )
        for ti in range(trees)
    ]
    leaves = per_tree[0]
    for fr in per_tree[1:]:
        leaves = leaves.unionByName(fr)
    q = leaves.filter(query_pred).select(
        F.col("tree").alias("q_tree"),
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q_emb"),
        F.col("leaf").alias("q_leaf"),
    )
    scored = (
        leaves.join(
            F.broadcast(q),
            (F.col("tree") == F.col("q_tree"))
            & (F.col("leaf") == F.col("q_leaf"))
            & (F.col(id_col) != F.col("q_id")),
        )
        .select("q_id", id_col, _sim("q_emb", vec_col).alias("sim"))
        .distinct()
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= k)
    )


def kmeans_centroids(
    base: DataFrame,
    k: int = 8,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed Lloyd's k-means over an embedding column, pure
    DataFrame ops — the trained coarse quantizer for ``ivf_topk``
    (whose round-1 centroids were an honest deterministic stand-in).

    Per iteration: assignment is one broadcast-centroids join + argmin
    window (identical dataflow to IVF assignment itself); the update
    re-averages per (cluster, dimension) via posexplode + hash-agg and
    re-assembles the centroid arrays — two aggregation shuffles over
    O(rows × dim) exploded values, all JVM-side. Deterministic: seeds
    are the ``k`` lowest-id vectors, argmin ties break on cluster id,
    empty clusters retain their previous centroid. Centroids (k tiny
    rows) are localCheckpointed each round so lineage stays flat —
    same pattern as the connected-components loop.

    Returns (cent_id int, cent_emb array<double>). Iterative —> no SQL
    oracle; verified by convergence/recovery tests (test_similarity).
    """
    seeds = (
        base.orderBy(id_col)
        .limit(k)
        .select(F.col(id_col), as_double(vec_col).alias("cent_emb"))
    )
    w = Window.orderBy(id_col)
    with Frames() as frames:
        cents = frames.pin(
            seeds.select((F.row_number().over(w) - 1).alias("cent_id"), "cent_emb"),
            eager=True,
        )
        vecs = spread(base.select(F.col(id_col), as_double(vec_col).alias("__v")))
        return frames.attach(_lloyd(frames, vecs, cents, iters, id_col))


def _lloyd(
    frames: Frames,
    vecs: DataFrame,
    cents: DataFrame,
    iters: int,
    id_col: str,
) -> DataFrame:
    """Lloyd's iteration: ``vecs`` (id, __v) against broadcast ``cents``
    (cent_id, cent_emb). Each round's centroids replace the last in
    ``frames``."""
    for _ in range(iters):
        # ROW-LOCAL argmin over the broadcast centroid array (no
        # |vecs| × k shuffle); the comparator orders (d2, cent_id) asc
        carr = _choices_array(cents, [], ["cent_id", "cent_emb"])
        # F.get (0-based, NULL on out-of-range): element_at(.., 1)
        # throws on an empty choice array under ANSI mode
        best = F.get(
            F.array_sort(
                F.transform(
                    "__choices",
                    lambda c: F.struct(
                        (
                            dot(F.col("__v"), F.col("__v"))
                            - 2 * dot(F.col("__v"), c["cent_emb"])
                            + dot(c["cent_emb"], c["cent_emb"])
                        ).alias("__d2"),
                        c["cent_id"].alias("cent_id"),
                    ),
                ),
                _cmp_score_asc_id_asc("__d2", "cent_id"),
            ),
            F.lit(0),
        )
        assigned = vecs.crossJoin(F.broadcast(carr)).select(
            id_col, "__v", best["cent_id"].alias("cent_id")
        )
        upd = (
            assigned.select("cent_id", F.posexplode("__v").alias("dim", "val"))
            .groupBy("cent_id", "dim")
            .agg(F.avg("val").alias("m"))
            .groupBy("cent_id")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dim", "m"))),
                    lambda s: s["m"],
                ).alias("new_emb")
            )
        )
        cents = frames.pin(
            cents.join(upd, "cent_id", "left").select(
                "cent_id",
                F.coalesce(F.col("new_emb"), F.col("cent_emb")).alias("cent_emb"),
            ),
            eager=True,
            replaces=(cents,),
        )
    return cents


def ivf_topk(
    base: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    n_probes: int = 1,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN: a coarse quantizer assigns every vector to its
    nearest centroid; queries probe their ``n_probes`` nearest
    centroids' inverted lists (n_probes is THE recall/cost dial of IVF
    — each extra probe scans one more list). Default centroids are the
    first ``n_centroids`` base vectors — a deterministic stand-in that
    keeps the SQL oracle replayable; pass ``centroids`` (cent_id,
    cent_emb — e.g. from ``kmeans_centroids``) for a trained
    quantizer, which only swaps the tiny broadcast side. Assignment is
    a broadcast centroids×vectors scoring + windowed arg-top, the
    probe an equi-join on centroid id.
    """
    cents = (
        centroids.select("cent_id", F.col("cent_emb"))
        if centroids is not None
        else base.filter(F.col(id_col) < n_centroids).select(
            F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cent_emb")
        )
    )
    # centroid scoring touches every base row — spread under-partitioned scans
    base = spread(base)

    def assign(df: DataFrame, out: str, top: int) -> DataFrame:
        return _coarse_assign(df, cents, id_col, vec_col, out, top)

    b = assign(base, "bucket", 1)
    q = assign(queries, "q_bucket", n_probes).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_emb"), "q_bucket"
    )
    scored = (
        b.join(
            F.broadcast(q),
            (F.col("bucket") == F.col("q_bucket")) & (F.col(id_col) != F.col("q_id")),
        )
        .select("q_id", id_col, _sim("q_emb", vec_col).alias("sim"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= k)
    )


def _choices_array(
    choices: DataFrame, group_cols: list[str], fields: list[str]
) -> DataFrame:
    """Collapse a small choice table (centroids, codebook) to ONE
    array-of-structs row per group — the broadcastable form that lets
    a per-row arg-top run ROW-LOCALLY (round 15, guide §2.4): the old
    join-then-window form multiplied every corpus row by |choices| and
    SHUFFLED the multiplied frame (vectors included) by row id just to
    pick each row's best choice — a decision that needs no shuffle at
    all. Comparator sorts below replicate the window orderings
    bit-for-bit (incl. NULL/NaN placement), so results are unchanged."""
    agg = F.collect_list(F.struct(*[F.col(f) for f in fields])).alias("__choices")
    return choices.groupBy(*group_cols).agg(agg) if group_cols else choices.agg(agg)


def _cmp_score_desc_id_asc(score_field: str, id_field: str):
    """array_sort comparator == Window.orderBy(desc(score), asc(id)):
    descending score with NaN FIRST (Spark treats NaN as largest) and
    NULL LAST (desc default), ties broken by ascending id."""

    def cmp(a, b):
        sa, sb = a[score_field], b[score_field]
        tie = (
            F.when(a[id_field] < b[id_field], F.lit(-1))
            .when(a[id_field] > b[id_field], F.lit(1))
            .otherwise(F.lit(0))
        )
        return (
            F.when(sa.isNull() & sb.isNull(), tie)
            .when(sa.isNull(), F.lit(1))
            .when(sb.isNull(), F.lit(-1))
            .when(F.isnan(sa) & F.isnan(sb), tie)
            .when(F.isnan(sa), F.lit(-1))
            .when(F.isnan(sb), F.lit(1))
            .when(sa > sb, F.lit(-1))
            .when(sa < sb, F.lit(1))
            .otherwise(tie)
        )

    return cmp


def _cmp_score_asc_id_asc(score_field: str, id_field: str):
    """array_sort comparator == Window.orderBy(asc(score), asc(id)):
    ascending score with NULL FIRST (asc default) and NaN LAST (NaN is
    largest), ties broken by ascending id."""

    def cmp(a, b):
        sa, sb = a[score_field], b[score_field]
        tie = (
            F.when(a[id_field] < b[id_field], F.lit(-1))
            .when(a[id_field] > b[id_field], F.lit(1))
            .otherwise(F.lit(0))
        )
        return (
            F.when(sa.isNull() & sb.isNull(), tie)
            .when(sa.isNull(), F.lit(-1))
            .when(sb.isNull(), F.lit(1))
            .when(F.isnan(sa) & F.isnan(sb), tie)
            .when(F.isnan(sa), F.lit(1))
            .when(F.isnan(sb), F.lit(-1))
            .when(sa < sb, F.lit(-1))
            .when(sa > sb, F.lit(1))
            .otherwise(tie)
        )

    return cmp


def _coarse_assign(
    df: DataFrame,
    cents: DataFrame,
    id_col: str,
    vec_col: str,
    out: str,
    top: int,
) -> DataFrame:
    """Assign each vector to its ``top`` nearest (cosine) centroids —
    the shared routing step of IVF and IVF-PQ. Returns (id_col,
    vec_col, ``out``).

    Round 15: ROW-LOCAL arg-top over the broadcast centroid array
    instead of join-multiply + windowed row_number — the old plan
    shuffled |base| × |centroids| rows (embedding payload included) by
    row id to make a per-row decision; this form has ZERO exchanges
    (guide §2.4 "remove shuffles outright"). The comparator replicates
    the old Window.orderBy(desc(__csim), asc(cent_id)) exactly."""
    arr = _choices_array(cents, [], ["cent_id", "cent_emb"])
    picked = F.slice(
        F.array_sort(
            F.transform(
                "__choices",
                lambda c: F.struct(
                    _sim(c["cent_emb"], F.col(vec_col)).alias("__csim"),
                    c["cent_id"].alias("cent_id"),
                ),
            ),
            _cmp_score_desc_id_asc("__csim", "cent_id"),
        ),
        1,
        top,
    )
    return (
        df.crossJoin(F.broadcast(arr))
        .withColumn("__pick", F.explode(picked))
        .select(df[id_col], df[vec_col], F.col("__pick")["cent_id"].alias(out))
    )


def _pq_subspaces(
    df: DataFrame, idname: str, id_col: str, vec_col: str, m: int, w: int
) -> DataFrame:
    """L2-normalize and split vectors into ``m`` width-``w`` subvectors:
    (idname, sub_j, sub) — shared by PQ encoding, ADC, and training."""
    nvec = F.transform(
        as_double(vec_col),
        lambda x: x / F.sqrt(dot(as_double(vec_col), as_double(vec_col))),
    )
    pe = F.posexplode(F.array(*[F.slice("__n", j * w + 1, w) for j in range(m)]))
    return df.select(F.col(id_col).alias(idname), nvec.alias("__n")).select(
        idname, pe.alias("sub_j", "sub")
    )


def _pq_encode(subs: DataFrame, cb: DataFrame, id_col: str) -> DataFrame:
    """Encode each subvector as its nearest codeword's id (min L2,
    ties to the lower code). Returns (id_col, sub_j, code_id) — the
    m-byte PQ codes.

    Round 15: ROW-LOCAL argmin over the per-subspace broadcast
    codeword array — the old join-multiply + windowed-argmin form
    shuffled |base| × m × ks scored rows by (id, sub_j) to pick each
    subvector's code; this form broadcast-hash-joins the m-row array
    table and picks locally, zero exchanges (guide §2.4). Comparator
    == the old Window.orderBy(asc(__d2), asc(code_id))."""
    cbarr = _choices_array(cb, ["sub_j"], ["code_id", "codeword"])
    best = F.element_at(
        F.array_sort(
            F.transform(
                "__choices",
                lambda c: F.struct(
                    F.round(
                        dot(F.col("sub"), F.col("sub"))
                        - 2 * dot(F.col("sub"), c["codeword"])
                        + dot(c["codeword"], c["codeword"]),
                        9,
                    ).alias("__d2"),
                    c["code_id"].alias("code_id"),
                ),
            ),
            _cmp_score_asc_id_asc("__d2", "code_id"),
        ),
        1,
    )
    return subs.join(F.broadcast(cbarr), "sub_j").select(
        id_col, "sub_j", best["code_id"].alias("code_id")
    )


def _adc_table(qsubs: DataFrame, cb: DataFrame) -> DataFrame:
    """Per-query asymmetric-distance lookup table: subvector·codeword
    partials for every (subspace, codeword), decimal so the later
    group-sum is order-exact. Returns (q_id, q_sub_j, q_code, partial)
    — m × ks tiny rows per query, always broadcast."""
    return qsubs.join(F.broadcast(cb), "sub_j").select(
        "q_id",
        F.col("sub_j").alias("q_sub_j"),
        F.col("code_id").alias("q_code"),
        F.round(dot(F.col("sub"), F.col("codeword")), 12)
        .cast("decimal(24,12)")
        .alias("partial"),
    )


def pq_topk(
    base: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ks: int = 64,
    dim: int = 64,
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """Product-quantization ANN: vectors are L2-normalized, split into
    ``m`` subvectors, and each subvector is encoded as the id of its
    nearest codeword (min L2) — so a vector stores as ``m`` small codes
    instead of ``dim`` floats (the 100 TB play: a 64-dim float vector
    becomes 8 bytes; the scored table scans codes, never raw vectors).
    Search is asymmetric distance computation: the query builds an
    ``m × ks`` lookup table of subvector·codeword partials (tiny,
    broadcast), candidates join on (subspace, code) and group-sum their
    partials into an approximate inner product (= cosine, since
    normalized). Codewords are the first ``ks`` base vectors'
    subvectors — a deterministic k-means stand-in, as in ``ivf_topk``.
    Partials accumulate in DECIMAL so the group-sum is order-exact and
    replayable in the SQL oracle. Output shape matches the other ANN
    strategies: (q_id, vec_id, sim, rnk). Pass ``codebooks`` (sub_j,
    code_id, codeword) to search with a trained quantizer; the default
    slice-seeded stand-in keeps the SQL oracle replayable.
    """
    w = dim // m

    def subspaces(df: DataFrame, idname: str) -> DataFrame:
        return _pq_subspaces(df, idname, id_col, vec_col, m, w)

    cb = (
        codebooks
        if codebooks is not None
        else subspaces(base.filter(F.col(id_col) < ks), "code_id").select(
            "code_id", "sub_j", F.col("sub").alias("codeword")
        )
    )
    # encoding scores every (vector, subspace, codeword) triple — by far
    # the heaviest per-row compute here; spread under-partitioned scans
    codes = _pq_encode(subspaces(spread(base), id_col), cb, id_col)
    adc = _adc_table(subspaces(queries, "q_id"), cb)
    scored = (
        codes.join(
            F.broadcast(adc),
            (F.col("sub_j") == F.col("q_sub_j"))
            & (F.col("code_id") == F.col("q_code"))
            & (F.col(id_col) != F.col("q_id")),
        )
        .groupBy("q_id", id_col)
        .agg(F.round(F.sum("partial").cast("double"), 6).alias("sim"))
    )
    wk = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(wk).cast("bigint"))
        .filter(F.col("rnk") <= k)
    )


def ivf_pq_topk(
    base: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    n_probes: int = 2,
    m: int = 8,
    ks: int = 64,
    dim: int = 64,
    centroids: DataFrame | None = None,
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ composed ANN — the FAISS ``IndexIVFPQ`` structure: a
    coarse quantizer routes every vector to an inverted list, and
    within the probed lists candidates are scored from their PQ codes
    via the query's broadcast ADC table, never from raw vectors.

    This is the genuine 100 TB layout: the searched representation per
    vector is (bucket id + m code bytes), the scan is restricted to
    ``n_probes`` lists per query, and the only non-broadcast join is
    codes ⋈ candidates on the vector id — high-cardinality, uniform.
    Recall dials: ``n_probes`` (routing) × ``ks``/``m`` (quantization
    error). Defaults use the deterministic slice-seeded stand-ins so
    the SQL oracle replays exactly; pass ``centroids`` (from
    ``kmeans_centroids``) and/or ``codebooks`` (sub_j, code_id,
    codeword) for trained quantizers — both only swap tiny broadcast sides.
    Output matches the other ANN strategies: (q_id, vec_id, sim, rnk).
    """
    w = dim // m
    cents = (
        centroids.select("cent_id", "cent_emb")
        if centroids is not None
        else base.filter(F.col(id_col) < n_centroids).select(
            F.col(id_col).alias("cent_id"), F.col(vec_col).alias("cent_emb")
        )
    )
    cb = (
        codebooks
        if codebooks is not None
        else _pq_subspaces(
            base.filter(F.col(id_col) < ks), "code_id", id_col, vec_col, m, w
        ).select("code_id", "sub_j", F.col("sub").alias("codeword"))
    )
    sbase = spread(base)
    b = _coarse_assign(sbase, cents, id_col, vec_col, "bucket", 1).select(
        id_col, "bucket"
    )
    q = _coarse_assign(queries, cents, id_col, vec_col, "q_bucket", n_probes).select(
        F.col(id_col).alias("q_id"), "q_bucket"
    )
    # (q_id, vec_id) candidate pairs: only vectors in a probed list.
    # base buckets are top-1 so a pair can't repeat across probes.
    cand = b.join(
        F.broadcast(q),
        (F.col("bucket") == F.col("q_bucket")) & (F.col(id_col) != F.col("q_id")),
    ).select("q_id", id_col)
    codes = _pq_encode(_pq_subspaces(sbase, id_col, id_col, vec_col, m, w), cb, id_col)
    adc = _adc_table(_pq_subspaces(queries, "q_id", id_col, vec_col, m, w), cb).select(
        F.col("q_id").alias("a_q_id"), "q_sub_j", "q_code", "partial"
    )
    scored = (
        cand.join(codes, id_col)
        .join(
            F.broadcast(adc),
            (F.col("q_id") == F.col("a_q_id"))
            & (F.col("sub_j") == F.col("q_sub_j"))
            & (F.col("code_id") == F.col("q_code")),
        )
        .groupBy("q_id", id_col)
        .agg(F.round(F.sum("partial").cast("double"), 6).alias("sim"))
    )
    wk = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc(id_col))
    return scored.withColumn("rnk", F.row_number().over(wk).cast("bigint")).filter(
        F.col("rnk") <= k
    )


def ann_refine(
    base: DataFrame,
    queries: DataFrame,
    cands: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """FAISS-style refine stage: exact cosine re-rank of an ANN
    stage's candidate (q_id, vec_id) pairs. Raw vectors are joined
    back ONLY for the candidates (|cands| = queries × k' ≪ |base|), so
    the expensive exact arithmetic runs on a vanishing fraction of the
    corpus — the standard coarse→PQ→refine pipeline tail. The base
    join is id-keyed (uniform); query vectors broadcast. Output
    matches the other ANN strategies: (q_id, vec_id, sim, rnk)."""
    bvec = base.select(F.col(id_col), F.col(vec_col).alias("__b"))
    qvec = queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("__q"))
    scored = (
        cands.select("q_id", id_col)
        .join(bvec, id_col)
        .join(F.broadcast(qvec), "q_id")
        .select("q_id", id_col, _sim("__q", "__b").alias("sim"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc(id_col))
    return scored.withColumn("rnk", F.row_number().over(w).cast("bigint")).filter(
        F.col("rnk") <= k
    )


def _nsw_level(id_col: str, max_level: int) -> "F.Column":
    """Deterministic geometric layer assignment (the HNSW level draw,
    derandomized the repo way — xxhash64 instead of RNG so build and
    oracle agree): node reaches layer l with probability 4^-l
    (p = 1/4 ≈ the standard mL = 1/ln M draw at M = 12)."""
    h = F.abs(F.xxhash64(F.col(id_col)))
    # build the when-chain from level 1 UP so the last-applied (and
    # therefore winning) branch is the HIGHEST level a hash reaches —
    # h % 16 == 0 implies h % 4 == 0, and the deepest divisor must win
    out = F.lit(0)
    for l in range(1, max_level + 1):
        out = F.when(h % F.lit(4**l) == 0, F.lit(l)).otherwise(out)
    return out.cast("int")


def _knn_edges(
    frames: Frames,
    sub: DataFrame,
    M: int,
    iters: int,
    id_col: str,
    vec_col: str,
    bits: int,
    tables: int,
) -> DataFrame:
    """Bucketed NN-descent (Dong, Moses & Li 2011) k-NN graph over one
    layer's node set: seed candidate edges from multi-table sign-LSH
    buckets (never all-pairs), then refine ``iters`` rounds by the
    NN-descent exchange — my neighbor's neighbors are my candidates —
    keeping the top-``M`` by cosine per node. Every round is
    spine-bounded: ≤ (2M)² candidates per node, embeddings re-joined
    id-keyed only for NEW pairs; every round is pinned in ``frames``,
    replacing the last (the t21 re-expansion lesson). Returns directed
    edges (src, dst, sim), held by ``frames``."""
    ids = sub.select(F.col(id_col), F.col(vec_col))
    bucket_tbl = F.posexplode(
        F.array(*[sign_bucket(vec_col, bits, t * bits) for t in range(tables)])
    )
    withb = spread(ids).select(
        F.col(id_col), F.col(vec_col), bucket_tbl.alias("tbl", "bucket")
    )
    a = withb.select(
        F.col(id_col).alias("src"), F.col(vec_col).alias("__a"),
        "tbl", "bucket",
    )
    b = withb.select(
        F.col(id_col).alias("dst"), F.col(vec_col).alias("__b"),
        F.col("tbl").alias("tbl_b"), F.col("bucket").alias("bucket_b"),
    )
    scored = (
        a.join(
            b,
            (F.col("tbl") == F.col("tbl_b"))
            & (F.col("bucket") == F.col("bucket_b"))
            & (F.col("src") != F.col("dst")),
        )
        .select("src", "dst", _sim("__a", "__b").alias("sim"))
        .distinct()
    )
    w = Window.partitionBy("src").orderBy(F.desc("sim"), F.asc("dst"))
    edges = frames.pin(
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= M)
        .select("src", "dst", "sim"),
        eager=True,
    )
    return _nn_descent_rounds(frames, edges, ids, M, iters, id_col, vec_col)


def _nn_descent_rounds(
    frames: Frames,
    edges: DataFrame,
    ids: DataFrame,
    M: int,
    iters: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The NN-descent exchange loop (my neighbor's neighbors are my
    candidates), shared by :func:`_knn_edges` (graph BUILD) and
    :func:`compact_nsw_graph`'s ``refresh_iters`` re-enrichment
    (round 14): each round expands neighbor-of-neighbor candidates,
    scores only never-seen pairs id-keyed against ``ids``' vectors,
    and re-prunes to top-``M`` per src. Spine-bounded per round
    (≤ (2M)² candidates per node); each round's pin in ``frames``
    truncates the iterative lineage and replaces the last round's.
    ``edges`` must carry (src, dst, sim)."""
    w = Window.partitionBy("src").orderBy(F.desc("sim"), F.asc("dst"))
    av = ids.select(F.col(id_col).alias("src"), F.col(vec_col).alias("__a"))
    cv = ids.select(F.col(id_col).alias("dst"), F.col(vec_col).alias("__c"))
    for _ in range(iters):
        undirected = edges.select("src", "dst").unionByName(
            edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        cand = (
            undirected.alias("e1")
            .join(
                undirected.alias("e2"),
                F.col("e1.dst") == F.col("e2.src"),
            )
            .select(
                F.col("e1.src").alias("src"), F.col("e2.dst").alias("dst")
            )
            .filter(F.col("src") != F.col("dst"))
            .distinct()
            .join(edges.select("src", "dst"), ["src", "dst"], "left_anti")
        )
        fresh = (
            cand.join(av, "src")
            .join(cv, "dst")
            .select("src", "dst", _sim("__a", "__c").alias("sim"))
        )
        edges = frames.pin(
            edges.unionByName(fresh)
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= M)
            .select("src", "dst", "sim"),
            eager=True,
            replaces=(edges,),
        )
    return edges


def nsw_build_graph(
    base: DataFrame,
    M: int = 12,
    iters: int = 3,
    max_level: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 4,
    tables: int = 3,
    exact_threshold: int = 256,
) -> DataFrame:
    """Layered navigable-small-world index (the HNSW structure,
    Malkov & Yashunin 2016, built BATCH-distributed rather than by
    sequential insertion — the part of HNSW that doesn't parallelize
    is its insert order, so each layer's neighborhood graph is built
    by bucketed NN-descent instead): layer l holds the nodes whose
    deterministic hash draw reaches level l (expected N·4^-l), each
    with its top-``M``-cosine neighbors WITHIN the layer — upper
    layers therefore hold long-range links over sparse subsets, the
    coarse-to-fine routing HNSW searches exploit. Returns edges
    (level, src, dst, sim); feed to :func:`nsw_topk`.

    100 TB: no UNBOUNDED all-pairs anywhere — LSH-bucketed seeding +
    NN-descent keep every round O(N·M²); a layer whose node count is
    at most ``exact_threshold`` (upper layers are geometrically small
    BY CONSTRUCTION — level l holds ~N·4^-l nodes) instead builds its
    EXACT top-M graph with one bounded self-join (≤ threshold² sims,
    cheaper than 4 checkpointed NN-descent rounds and strictly better
    edges). The graph is an id-keyed table that partitions like any
    other (persist it next to the embeddings; rebuild cadence is the
    same trade as compact_minhash_store). The pins the returned graph
    reads are attached to it (``cacheutil.release(result)``)."""
    with Frames() as frames:
        levels = frames.pin(
            base.select(
                F.col(id_col), F.col(vec_col),
                _nsw_level(id_col, max_level).alias("__lvl"),
            ),
            eager=True,
        )
        read = [levels]  # the pins the returned union reads
        # layer sizes: one (max_level+1)-row agg — bounded
        sizes = {
            r["__lvl"]: r["n"]
            for r in levels.groupBy("__lvl").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        out = None
        for l in range(0, max_level + 1):
            sub = levels.filter(F.col("__lvl") >= l)
            n_layer = sum(n for lv, n in sizes.items() if lv >= l)
            if n_layer == 0:
                continue
            if n_layer <= exact_threshold:
                a = sub.select(F.col(id_col).alias("src"), F.col(vec_col).alias("__a"))
                b = sub.select(F.col(id_col).alias("dst"), F.col(vec_col).alias("__b"))
                scored = a.join(b, F.col("src") != F.col("dst")).select(
                    "src", "dst", _sim("__a", "__b").alias("sim")
                )
                w = Window.partitionBy("src").orderBy(F.desc("sim"), F.asc("dst"))
                e = (
                    scored.withColumn("rnk", F.row_number().over(w))
                    .filter(F.col("rnk") <= M)
                    .select("src", "dst", "sim")
                )
            else:
                e = _knn_edges(frames, sub, M, iters, id_col, vec_col, bits, tables)
                read.append(e)
            e = e.select(
                F.lit(l).cast("int").alias("level"), "src", "dst", "sim"
            )
            out = e if out is None else out.unionByName(e)
        return out if out is None else frames.attach(out, *read)


def nsw_topk(
    base: DataFrame,
    queries: DataFrame,
    k: int = 5,
    graph: DataFrame | None = None,
    beam: int = 16,
    hops: int = 3,
    M: int = 12,
    iters: int = 3,
    max_level: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude: DataFrame | None = None,
    pin_graph: bool = True,
) -> DataFrame:
    """Graph ANN search over the layered NSW index: enter at the TOP
    layer (all of its geometrically-few nodes score as entry points),
    then descend — one beam-limited greedy hop per upper layer (the
    HNSW zoom-out phase), ``hops`` beam-search hops at layer 0 — each
    hop expanding the current beam's out-edges, exact-cosine scoring
    candidate (query, node) pairs (re-scores of already-seen pairs are
    bit-identical and dedup away), and keeping the best ``beam`` per
    query as the next frontier. Returns the brute-force-shaped
    (q_id, vec_id, sim, rnk) top-``k`` from everything visited; the
    final visited set it reads is attached to it
    (``cacheutil.release(result)``).

    Spark shape: candidate expansion is frontier ⋈ edges (≤ beam·2M
    rows per query per hop); scoring joins raw vectors id-keyed for
    the candidate sliver only (the ann_refine discipline); each hop's
    visited set is pinned and replaces the last, so the driver loop's
    plan stays flat. Search cost is O(queries · beam · M · hops) —
    independent of N given the graph, the point of graph ANN at
    100 TB. Every per-hop frame bounded by the QUERY batch (frontier,
    candidate sliver, visited keys) is broadcast, so the two N-sized
    tables — edge list and vector store — stream and are never
    shuffled; a batch whose estimated per-hop state exceeds
    ``NSW_BROADCAST_MAX_ROWS`` degrades to planner-chosen joins instead
    of failing on the broadcast cap. The estimate reads the graph's own
    max degree (out plus in: each hop walks the edges both ways) and
    top layer, so a graph grown past ``M`` by appends, or a hub many
    nodes point at, is sized as it is.
    Recall is audited (≥ floor vs brute force) in tests and the
    x_ann_hnsw gate; the trade is recall-vs-scan, never exactness of
    the arithmetic (6-dp cosine, id tie-breaks).

    ``exclude`` (the persisted index's takedown path):
    ids in this frame are dropped from the FINAL top-k but still
    ROUTE — they stay scoreable beam members whose out-edges expand,
    the classic HNSW soft-delete: physically severing a deleted hub's
    edges at query time would disconnect its neighborhood and silently
    crater recall; the physical removal belongs to compact_nsw_graph,
    whose NN-descent refresh re-links around the hole."""
    with Frames() as frames:
        if graph is None:
            graph = frames.own(nsw_build_graph(
                base, M=M, iters=iters, max_level=max_level,
                id_col=id_col, vec_col=vec_col,
            ))
        if pin_graph:
            # derived graphs must be pinned or every hop re-runs the
            # build; STORE-read graphs pass pin_graph=False (a flat
            # parquet scan needs no materialization job per query)
            graph = frames.pin(graph, eager=True)
        # pin the query sliver once: every hop broadcasts it (scoring) and
        # derives per-hop state from it — without the checkpoint each
        # broadcast build re-runs the caller's query-frame lineage
        # (round 16); the pin's own job counts it for the guard below
        q, n_q = frames.pin(
            queries.select(F.col(id_col).alias("q_id"), F.col(vec_col).alias("q_emb")),
            eager=True,
            count=True,
        )
        # enter at the highest NON-EMPTY layer (a tiny corpus may draw no
        # node at max_level); the same 1-row collect reads the graph's
        # max degree for the broadcast guard below: out plus in, since
        # every hop walks the edges and their reverses
        ends = graph.select("level", F.col("src").alias("node")).unionByName(
            graph.select("level", F.col("dst").alias("node"))
        )
        top_lvl, degree = ends.groupBy("level", "node").count().agg(
            F.max("level"), F.max("count")
        ).collect()[0]
        # broadcast-posture guard: everything hinted below is
        # O(n_q · beam · degree · hops) rows; a corpus-sized batch degrades
        # to planner-chosen joins instead of failing on the broadcast cap.
        # The estimate deliberately overcounts (every hop fully fresh).
        est_rows = n_q * beam * ((degree or 0) + 1) * (hops + (top_lvl or 0) + 1)
        hint = F.broadcast if est_rows <= NSW_BROADCAST_MAX_ROWS else (lambda df: df)
        bvec = base.select(F.col(id_col).alias("node"), F.col(vec_col).alias("__b"))

        def score(cand: DataFrame) -> DataFrame:
            # broadcast the candidate sliver so the vector table streams
            # (never shuffled); the sliver carries q_emb, so the query
            # frame is not broadcast again per hop
            return (
                bvec.join(hint(cand), "node")
                .filter(F.col("node") != F.col("q_id"))
                .select("q_id", "node", _sim("q_emb", "__b").alias("sim"), "q_emb")
            )

        top_nodes = graph.filter(F.col("level") == top_lvl).select(
            F.col("src").alias("node")
        ).distinct()
        # visited rows are (q_id, node, sim, q_emb, rnk): scored pairs with
        # the query vector riding along and the beam rank PRE-COMPUTED
        # into the pin, so the next frontier is a filter, not a window
        # re-shuffle. Per hop: ONE shuffle (repartition by q_id, which the
        # dedup aggregate and the rank window both satisfy) and two
        # broadcast builds. One post-union dropDuplicates((q_id, node,
        # sim)) replaces a seen-set anti-join: exact cosine is
        # deterministic, so a re-scored pair is BIT-IDENTICAL to its
        # stored twin (equivalence pinned in test_similarity).
        wbeam = Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc("node"))

        def finish_state(vframe: DataFrame, prev: DataFrame | None) -> DataFrame:
            # the union subsumed every row of the previous hop's state
            return frames.pin(
                vframe.repartition("q_id")
                .dropDuplicates(["q_id", "node", "sim"])
                .withColumn("rnk", F.row_number().over(wbeam)),
                eager=True,
                replaces=(prev,),
            )

        visited = finish_state(score(q.crossJoin(hint(top_nodes))), None)
        # descend from the graph's OWN top layer, not the max_level
        # parameter: a prebuilt graph built deeper would otherwise never
        # expand its upper layers' edges
        for l in range((-1 if top_lvl is None else top_lvl), -1, -1):
            # no edge-level distinct: duplicate directed edges only make
            # duplicate candidates, which dedup away after scoring
            edges = graph.filter(F.col("level") == l).select("src", "dst")
            edges = edges.unionByName(
                edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
            for _ in range(hops if l == 0 else 1):
                frontier = visited.filter(F.col("rnk") <= beam).select(
                    "q_id", F.col("node").alias("src"), "q_emb"
                )
                cand = edges.join(hint(frontier), "src").select(
                    "q_id", F.col("dst").alias("node"), "q_emb"
                )
                visited = finish_state(
                    visited.select("q_id", "node", "sim", "q_emb").unionByName(
                        score(cand)
                    ),
                    visited,
                )
        found = visited
        if exclude is not None:
            # no distinct: duplicate ids cannot change a left_anti join
            found = found.join(
                exclude.select(F.col(id_col).alias("node")), "node", "left_anti"
            )
        return frames.attach(
            found.drop("q_emb")  # internal hop-state column
            .withColumnRenamed("node", id_col)
            .withColumn(
                "rnk",
                F.row_number()
                .over(Window.partitionBy("q_id").orderBy(F.desc("sim"), F.asc(id_col)))
                .cast("bigint"),
            )
            .filter(F.col("rnk") <= k),
            visited,
        )


def save_nsw_index(
    base: DataFrame,
    graph: DataFrame,
    store_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist a layered-NSW index: ``{store}/graph`` (level, src,
    dst, sim) + ``{store}/vectors`` (the raw vectors — graph search
    scores candidates exactly, so the index must carry them). Each
    table is published as its next generation
    (``operators.generations``), vectors first, so a query never reads
    a half-written table."""
    publish(base.select(F.col(id_col), F.col(vec_col)), f"{store_path}/vectors")
    publish(graph, f"{store_path}/graph")


def nsw_index_append(
    new_vectors: DataFrame,
    store_path: str,
    M: int = 12,
    max_level: int = 2,
    beam: int = 16,
    hops: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """STREAMING graph-ANN maintenance (round 13 — the graph sibling of
    ``corpus.bm25_index_append``): fold one micro-batch of new vectors
    into a persisted NSW index by the REAL HNSW insert recipe,
    search-then-connect — each new vector beam-searches the EXISTING
    layer-l graph for its top-``M`` neighbors at every layer its deterministic hash draw
    reaches, and both edge directions append (new→nbr and nbr→new),
    plus LSH-seeded NN-descent edges among the batch itself so
    intra-batch neighbors link without waiting for a rebuild.

    Levels are hash-derived (never stored), so an appended node draws
    the SAME level it would have drawn in a one-shot build. Reverse
    edges can push an old node's out-degree past M — queries only get
    MORE candidates from that (recall up, cost up);
    :func:`compact_nsw_graph` re-prunes to the cap between appends.
    Append-built graphs are not edge-identical to one-shot builds
    (insert order is real in HNSW too) — the contract is the recall
    floor, pinned by the parity test. Raises FileNotFoundError when
    no index exists (an appender bootstrapping from empty would build
    a graph with no long-range layer structure; seed with
    nsw_build_graph + save_nsw_index). At-least-once replays
    duplicate edges — same caveat and upstream remedy as
    bm25_index_append."""
    spark = new_vectors.sparkSession
    graph = stores.read_live(
        spark, store_path, "graph", required="level int, sim double",
        required_names=("src", "dst"), missing_ok=True,
    )
    if graph is None:
        raise FileNotFoundError(
            f"no NSW index at {store_path} — build with "
            "nsw_build_graph + save_nsw_index before appending"
        )
    old_vecs = stores.read_live(
        spark, store_path, "vectors", required_names=(id_col, vec_col)
    )
    with Frames() as frames:
        newv = frames.pin(
            new_vectors.select(
                F.col(id_col), F.col(vec_col),
                _nsw_level(id_col, max_level).alias("__lvl"),
            ),
            eager=True,
        )
        old_lvl = old_vecs.select(
            F.col(id_col), F.col(vec_col),
            _nsw_level(id_col, max_level).alias("__lvl"),
        )
        edges = None
        for l in range(0, max_level + 1):
            nq = newv.filter(F.col("__lvl") >= l).drop("__lvl")
            if nq.isEmpty():
                continue
            old_l = old_lvl.filter(F.col("__lvl") >= l).drop("__lvl")
            graph_l = graph.filter(F.col("level") >= l)
            batch_edges = _knn_edges(
                frames, nq, M, 1, id_col, vec_col, bits=4, tables=3
            ).select(F.lit(l).cast("int").alias("level"), "src", "dst", "sim")
            edges = (
                batch_edges if edges is None else edges.unionByName(batch_edges)
            )
            if old_l.isEmpty() or graph_l.isEmpty():
                continue
            found = frames.own(nsw_topk(
                old_l, nq, k=M, graph=graph_l, beam=beam, hops=hops,
                id_col=id_col, vec_col=vec_col,
            ))
            found = frames.pin(
                found.select(
                    F.lit(l).cast("int").alias("level"),
                    F.col("q_id").alias("src"),
                    F.col(id_col).alias("dst"),
                    "sim",
                ),
                eager=True,
            )
            rev = found.select(
                "level", F.col("dst").alias("src"), F.col("src").alias("dst"),
                "sim",
            )
            edges = edges.unionByName(found).unionByName(rev)
        stores.append(newv.drop("__lvl"), store_path, "vectors")
        if edges is not None:
            stores.append(edges, store_path, "graph")


def nsw_query_index(
    spark,
    store_path: str,
    queries: DataFrame,
    k: int = 5,
    beam: int = 16,
    hops: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query a persisted NSW index: beam-search descent over the
    stored graph, exact-cosine scoring against the stored vectors —
    a corpus ingested one-shot or over many appends serves the same
    query API (bm25_query_store's posture for graph ANN)."""
    # Tombstoned vectors are read, excluded from the top-k, and still
    # route (nsw_topk's soft-delete contract); the physical drop
    # happens at compact_nsw_graph. Tombstones are read first (the
    # stores read-order rule).
    tomb = stores.read_tombstones(spark, store_path, id_col)
    vecs = stores.read_live(
        spark, store_path, "vectors", required_names=(id_col, vec_col)
    )
    graph = stores.read_live(
        spark, store_path, "graph", required="level int, sim double",
        required_names=("src", "dst"),
    )
    # pin_graph=False (round 16): the store graph's lineage is already
    # a flat parquet scan — the eager checkpoint only added one full
    # graph materialization job per query call
    return nsw_topk(
        vecs, queries, k=k, graph=graph, beam=beam, hops=hops,
        id_col=id_col, vec_col=vec_col, exclude=tomb, pin_graph=False,
    )


def nsw_delete(
    ids: DataFrame, store_path: str, id_col: str = "vec_id"
) -> None:
    """Logical delete from the persisted NSW index (:func:`stores.delete`):
    tombstoned ids vanish from :func:`nsw_query_index` results at once
    while still routing (nsw_topk's ``exclude``); the next
    :func:`compact_nsw_graph` drops their vectors and incident edges."""
    stores.delete(ids, store_path, id_col)


def _select_neighbors_heuristic(
    edges: DataFrame,
    vecs: DataFrame,
    M: int,
    id_col: str,
    vec_col: str,
    cap_factor: int = 3,
) -> DataFrame:
    """HNSW SELECT-NEIGHBORS-HEURISTIC (Malkov & Yashunin 2016,
    Algorithm 4) as a set-at-a-time plan, for compaction-time pruning
    (round 14): for each (level, src) adjacency, walk the candidates
    best-first and KEEP one only if it is closer to the node than to
    every already-kept neighbor — the diversity rule that preserves
    long-range navigation edges a plain top-M-by-similarity prune
    collapses into one tight cluster. Remaining slots refill with the
    best pruned candidates (hnswlib's keepPrunedConnections), so
    degree stays M wherever the overflow allows.

    Spark shape, and the 100 TB bound: candidates pre-trim to
    ``cap_factor·M`` per adjacency (one window), so the pairwise
    candidate-similarity frame is ≤ C(cap·M, 2) rows PER NODE
    (≈ 630 at M=12) — two id-keyed vector joins, never corpus².
    The sequential greedy is ONE F.aggregate fold per node over the
    sorted candidate array with a map_from_entries pairwise-sim
    lookup — pure JVM, no Python. ``edges`` carries
    (level, src, dst, sim); returns the same shape pruned to ≤ M."""
    capped = F.lit(cap_factor * M)
    wtrim = Window.partitionBy("level", "src").orderBy(
        F.desc("sim"), F.asc("dst")
    )
    cand = (
        edges.withColumn("rnk", F.row_number().over(wtrim))
        .filter(F.col("rnk") <= capped)
        .select("level", "src", "dst", "sim")
        .localCheckpoint(eager=True)  # feeds the pair frame AND the
        # per-node arrays — score the trimmed set once
    )
    a = cand.select("level", "src", F.col("dst").alias("i"))
    b = cand.select(
        F.col("level").alias("level_b"),
        F.col("src").alias("src_b"),
        F.col("dst").alias("j"),
    )
    pairs = a.join(
        b,
        (F.col("level") == F.col("level_b"))
        & (F.col("src") == F.col("src_b"))
        & (F.col("i") < F.col("j")),
    ).select("level", "src", "i", "j")
    vi = vecs.select(F.col(id_col).alias("i"), F.col(vec_col).alias("__vi"))
    vj = vecs.select(F.col(id_col).alias("j"), F.col(vec_col).alias("__vj"))
    psim = (
        pairs.join(vi, "i")
        .join(vj, "j")
        .select(
            "level",
            "src",
            F.concat_ws(
                "|", F.col("i").cast("string"), F.col("j").cast("string")
            ).alias("key"),
            _sim("__vi", "__vj").alias("ps"),
        )
    )
    pmap = psim.groupBy("level", "src").agg(
        F.map_from_entries(
            F.collect_list(F.struct(F.col("key"), F.col("ps")))
        ).alias("pm")
    )
    arrs = cand.groupBy("level", "src").agg(
        F.array_sort(
            F.collect_list(F.struct((-F.col("sim")).alias("ns"), "dst", "sim"))
        ).alias("cands")
    )

    def pair_key(c, k):
        return F.concat_ws(
            "|",
            F.least(c["dst"], k["dst"]).cast("string"),
            F.greatest(c["dst"], k["dst"]).cast("string"),
        )

    def step(acc, c):
        diverse = F.forall(
            acc,
            # unknown pair (shouldn't occur) → treat as far → keep
            lambda k: F.coalesce(
                F.element_at(F.col("pm"), pair_key(c, k)), F.lit(-2.0)
            )
            < c["sim"],
        )
        return (
            F.when(F.size(acc) >= M, acc)
            .when(diverse, F.concat(acc, F.array(c)))
            .otherwise(acc)
        )

    folded = arrs.join(pmap, ["level", "src"], "left").select(
        "level",
        "src",
        "cands",
        F.aggregate(
            "cands",
            F.slice(F.col("cands"), 1, 0),  # empty, correctly typed
            step,
        ).alias("kept"),
    )
    kept_dsts = F.transform(F.col("kept"), lambda k: k["dst"])
    refill = F.filter(
        F.col("cands"),
        lambda c: ~F.array_contains(kept_dsts, c["dst"]),
    )
    final = F.slice(F.concat(F.col("kept"), refill), 1, M)
    return folded.select(
        "level", "src", F.explode(final).alias("__c")
    ).select(
        "level",
        "src",
        F.col("__c")["dst"].alias("dst"),
        F.col("__c")["sim"].alias("sim"),
    )


def compact_nsw_graph(
    spark,
    store_path: str,
    M: int = 12,
    bytes_per_file: int = 128 << 20,
    refresh_iters: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    select: str = "topm",
) -> None:
    """Store-lifecycle companion to :func:`nsw_index_append`: dedupe
    replayed edges and re-prune every (level, src) adjacency to its
    top-``M`` by similarity (reverse-edge appends deliberately
    overflow the cap), then publish the next generations under
    :func:`stores.compact`'s read-order rule.

    ``select``: ``"topm"`` prunes each (level, src) adjacency to the
    M most-similar neighbors — cheap, but it collapses the adjacency
    toward one tight cluster and drops the long-range edges beam
    search navigates by (recall@5 dipped ~1.0 → ~0.76 right after a
    compaction in the depth soak);
    ``"heuristic"`` prunes with HNSW's diversity rule instead
    (:func:`_select_neighbors_heuristic` — keep a candidate only if
    it is closer to the node than to every already-kept neighbor,
    refill to M with the best pruned), preserving navigability at
    the cost of a bounded pairwise-candidate scoring pass.

    ``refresh_iters``: after pruning, run that many NN-descent
    exchange rounds PER LAYER over the stored vectors
    (neighbor-of-neighbor candidates, id-keyed scoring, same M cap).
    Measure before adopting: it raises LOCAL edge quality but the
    re-prune can displace navigation edges — observed +0.04 recall
    on the sf0.001 store and −0.08 on the x2 soak staging; the
    round-15 depth soaks found NEITHER refresh nor heuristic closes
    the post-compaction dip at scale (both 0.72 at the compaction
    generation, recovering to 0.84–1.0 within one append), so the
    streaming sink defaults to the bare prune. The M cap and layer
    membership are unchanged by either option (candidates stay
    within each layer's node set by construction).

    Tombstoned ids (:func:`nsw_delete`) are made PHYSICAL here: their
    vectors and every incident edge are dropped before the prune, so
    the refresh's NN-descent re-links the neighborhoods around the
    holes; the vectors table is published the same way."""
    def rewrite(live, tomb):
        g = live["graph"].dropDuplicates(["level", "src", "dst"])
        vecs = live["vectors"]
        if tomb is not None:
            # the edge table is keyed by src/dst, not the id column
            g = g.join(
                tomb.select(F.col(id_col).alias("src")), "src", "left_anti"
            ).join(tomb.select(F.col(id_col).alias("dst")), "dst", "left_anti")
            vecs = frames.pin(vecs, eager=True)
        if select == "heuristic":
            pruned = _select_neighbors_heuristic(g, vecs, M, id_col, vec_col)
        else:
            w = Window.partitionBy("level", "src").orderBy(
                F.desc("sim"), F.asc("dst")
            )
            pruned = (
                g.withColumn("rnk", F.row_number().over(w))
                .filter(F.col("rnk") <= M)
                .select("level", "src", "dst", "sim")
            )
        if refresh_iters > 0:
            pruned = frames.pin(pruned, eager=True)
            # bounded scalar collect: one row per populated layer.
            # An EMPTY pruned graph (store compacted before any edge
            # landed) has no layers — skip the refresh and write the
            # empty frame rather than indexing parts[0] (ADVICE r14).
            levels = [
                r["level"]
                for r in pruned.select("level").distinct().collect()
            ]
            parts = []
            for lvl in sorted(levels):
                e = pruned.filter(F.col("level") == lvl).select(
                    "src", "dst", "sim"
                )
                e = _nn_descent_rounds(
                    frames, e, vecs, M, refresh_iters, id_col, vec_col
                )
                parts.append(
                    e.select(
                        F.lit(lvl).cast("int").alias("level"),
                        "src",
                        "dst",
                        "sim",
                    )
                )
            if parts:
                pruned = parts[0]
                for p in parts[1:]:
                    pruned = pruned.unionByName(p)
        out = {"graph": pruned}
        if tomb is not None:  # physical vector drop
            out["vectors"] = vecs
        return out

    # the rewrite's pins live until the publish has written them
    with Frames() as frames:
        stores.compact(
            spark,
            store_path,
            {
                "graph": {
                    "required": "level int, sim double",
                    "required_names": ("src", "dst"),
                },
                "vectors": {"required_names": (id_col, vec_col)},
            },
            rewrite,
            id_col=id_col,
            bytes_per_file=bytes_per_file,
        )


def embedding_near_dup_pairs(
    base: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    bits: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via the bucketed join
    (all-pairs only within a sign bucket). Returns (id_a, id_b, sim).
    """
    withb = base.select(
        F.col(id_col), F.col(vec_col), sign_bucket(vec_col, bits).alias("bucket")
    )
    a = withb.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("emb_a"), "bucket"
    )
    b = withb.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("emb_b"),
        F.col("bucket").alias("bucket_b"),
    )
    return (
        a.join(b, (F.col("bucket") == F.col("bucket_b"))
               & (F.col("id_a") < F.col("id_b")))
        .select("id_a", "id_b", _sim("emb_a", "emb_b").alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def mmr_rerank(
    base: DataFrame,
    queries: DataFrame,
    cands: DataFrame,
    k: int = 5,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance re-rank (Carbonell & Goldstein,
    SIGIR 1998): greedily pick the candidate maximizing
    λ·sim(q, d) − (1−λ)·max_{s∈selected} sim(d, s) — relevance traded
    against redundancy, the standard diversifier on top of an ANN
    stage's top-k'. The redundancy term is the literal max over the
    selected set — a genuinely negative max cosine (candidate
    anti-correlated with everything picked so far) flows through and
    *raises* the MMR score, exactly as the formula reads; only the
    first pick (empty selected set) uses redundancy 0.

    The greedy argmax is inherently sequential per query, so this is
    the documented ``applyInPandas`` escape hatch (same tier as the
    UDTF chunker): each query's candidate group — k' rows, never the
    corpus — is handed to one Arrow batch and diversified with numpy
    in O(k'·k) dot products. Grouping by query id is the only
    shuffle; ties break on (score desc, vec_id asc) so output is
    deterministic. Returns (q_id, vec_id, rnk) with rnk 1..k in
    selection order.

    Cosines are rounded to 6 dp before scoring (the ANN-family
    engine-portability convention): numpy's pairwise-summed dot and a
    SQL engine's sequential list_dot_product differ in the last ulp,
    and the greedy argmax would amplify an ulp into a different
    selection — rounding first makes the whole greedy trajectory
    bit-replayable, which is what lets x_mmr_rerank carry a full
    unrolled-CTE oracle (round 5).
    """
    import numpy as np
    import pandas as pd

    bvec = base.select(F.col(id_col), as_double(vec_col).alias("__b"))
    qvec = queries.select(F.col(id_col).alias("q_id"), as_double(vec_col).alias("__q"))
    grouped = (
        cands.select("q_id", id_col)
        .join(bvec, id_col)
        .join(F.broadcast(qvec), "q_id")
    )

    def _mmr(pdf: pd.DataFrame) -> pd.DataFrame:
        q = np.array(pdf["__q"].iloc[0])
        ids = pdf[id_col].to_numpy()
        mat = np.stack(pdf["__b"].to_numpy())
        norm = np.linalg.norm(mat, axis=1)
        norm[norm == 0] = 1.0
        mat = mat / norm[:, None]
        qn = q / (np.linalg.norm(q) or 1.0)
        rel = np.round(mat @ qn, 6)
        # deterministic candidate order: by relevance desc, id asc
        order = np.lexsort((ids, -rel))
        ids, mat, rel = ids[order], mat[order], rel[order]
        chosen: list[int] = []
        picked = np.zeros(len(ids), dtype=bool)
        red = np.zeros(len(ids))  # max-over-empty-set := 0 for pick 1
        for step in range(min(k, len(ids))):
            score = lam * rel - (1 - lam) * red
            best = min(
                (i for i in range(len(ids)) if not picked[i]),
                key=lambda i: (-score[i], ids[i]),
            )
            chosen.append(best)
            picked[best] = True
            sims = np.round(mat @ mat[best], 6)
            red = sims if step == 0 else np.maximum(red, sims)
        return pd.DataFrame(
            {
                "q_id": pdf["q_id"].iloc[0],
                id_col: ids[chosen],
                "rnk": np.arange(1, len(chosen) + 1, dtype="int64"),
            }
        )

    return grouped.groupBy("q_id").applyInPandas(
        _mmr, schema=f"q_id bigint, {id_col} bigint, rnk bigint"
    )


def embed_stats(
    df: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Per-DIMENSION profile of an embedding column — (dim, n, mean,
    variance, lo, hi) — the column-level health check a vector
    pipeline runs before indexing: dead dimensions (variance ≈ 0),
    scale drift between ingest batches, and un-normalized outliers
    all show up here first.

    posexplode → one hash-agg keyed on the dimension index (d keys,
    map-side partial aggregation collapses the ×d row blow-up inside
    each task, so the exchange carries d rows per task regardless of
    corpus size). Moment sums accumulate in decimal (12 dp) so mean
    and variance are partition-order invariant; variance is the
    population E[x²] − mean² form.
    """
    vals = df.select(
        F.posexplode(as_double(vec_col)).alias("dim", "x")
    ).select(F.col("dim").cast("bigint").alias("dim"), "x")

    def dec(col):
        return F.sum(F.round(col, 12).cast("decimal(28,12)")).cast("double")

    x = F.col("x")
    return (
        vals.groupBy("dim")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dec(x).alias("__sx"),
            dec(x * x).alias("__sxx"),
            F.min("x").alias("lo"),
            F.max("x").alias("hi"),
        )
        .select(
            "dim",
            "n",
            (F.col("__sx") / F.col("n")).alias("mean"),
            (
                F.col("__sxx") / F.col("n")
                - (F.col("__sx") / F.col("n")) * (F.col("__sx") / F.col("n"))
            ).alias("variance"),
            "lo",
            "hi",
        )
    )


def pca_fit(
    df: DataFrame, n_components: int = 4, vec_col: str = "embedding"
):
    """Principal components of an embedding column: the d×d covariance
    matrix is assembled DISTRIBUTED (posexplode the per-row outer
    product into (i, j, x_i·x_j) terms → one hash-agg on d² uniform
    keys with map-side partials, plus the d-key mean pass), then the
    eigendecomposition runs driver-side on the d×d result — the same
    "cluster does the O(N) work, driver does the O(d³) math" split as
    ``kmeans_centroids``, legitimate because d is model-sized (64),
    never data-sized.

    Deterministic: symmetric eigh, components ordered by descending
    eigenvalue, sign fixed so each component's largest-|loading| entry
    is positive. Returns (components: list[list[float]] — rows are
    PCs, explained_var: list[float], mean: list[float]).
    """
    import numpy as np

    vecs = df.select(as_double(vec_col).alias("__v"))
    pairs = vecs.select(
        F.posexplode("__v").alias("i", "xi"), F.col("__v").alias("__v2")
    ).select(
        "i", "xi", F.posexplode("__v2").alias("j", "xj")
    ).filter(F.col("j") >= F.col("i"))

    def dec(col):
        return F.sum(F.round(col, 12).cast("decimal(28,12)")).cast("double")

    gram = pairs.groupBy("i", "j").agg(
        F.count(F.lit(1)).alias("n"), dec(F.col("xi") * F.col("xj")).alias("sxy")
    )
    means = vecs.select(F.posexplode("__v").alias("i", "x")).groupBy("i").agg(
        dec(F.col("x")).alias("sx"), F.count(F.lit(1)).alias("n")
    )
    g = {(r["i"], r["j"]): (r["sxy"], r["n"]) for r in gram.collect()}
    m = {r["i"]: r["sx"] / r["n"] for r in means.collect()}
    d = len(m)
    n = next(iter(g.values()))[1]
    cov = np.zeros((d, d))
    mu = np.array([m[i] for i in range(d)])
    for (i, j), (sxy, _) in g.items():
        cov[i, j] = cov[j, i] = sxy / n - mu[i] * mu[j]
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:n_components]
    comps = []
    for idx in order:
        v = evecs[:, idx]
        if v[np.argmax(np.abs(v))] < 0:
            v = -v
        comps.append([float(x) for x in v])
    return comps, [float(evals[i]) for i in order], [float(x) for x in mu]


def pca_project(
    df: DataFrame,
    components: list[list[float]],
    mean: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Project embeddings onto fitted principal components — the
    dimensionality-reduction map step. Components/mean travel as plan
    constants (model-sized literals, the broadcast-free analogue of a
    broadcast dim); each projection is one JVM-side zip_with dot
    product per component — map-only, zero shuffle at any scale.
    Returns (id_col, pc1..pck).
    """
    centered = F.zip_with(
        as_double(vec_col),
        F.array(*[F.lit(float(x)) for x in mean]),
        lambda a, b: a - b,
    )
    cols = [
        F.aggregate(
            F.zip_with(
                centered,
                F.array(*[F.lit(float(x)) for x in comp]),
                lambda a, b: a * b,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias(f"pc{k + 1}")
        for k, comp in enumerate(components)
    ]
    return df.select(F.col(id_col), *cols)


def power_iteration_top(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dims: int = 64,
    iters: int = 8,
) -> DataFrame:
    """Dominant covariance eigenvector by power iteration, in
    ENGINE-PORTABLE integer fixed-point arithmetic — the eigensolver
    variant a SQL oracle can replay exactly, answering the one
    question ``pca_fit`` (numpy eigh, rows-only by design) leaves
    open: is the distributed eigen-math itself cross-checkable? It is:
    every sum here is an exact integer, every double op (divide,
    sqrt, round) is an IEEE-correctly-rounded function of identical
    inputs, so after any fixed number of iterations both engines hold
    the bit-identical vector — converged or not.

    Pipeline (all DataFrame ops, no driver-side numerics):
      1. quantize embeddings to integers: eq = round(x · 1e3)
      2. exact integer covariance numerator M = n·Σ(eq_i·eq_j) −
         (Σeq_i)(Σeq_j), a d²-key aggregate (the pca_fit shape);
         power iteration is scale-invariant so M's arbitrary scale is
         harmless
      3. normalize M to mq = round(M/max|M| · 1e6) — keeps the
         iterated products inside BIGINT (|mq·vq| ≤ 1e15, summed
         over d = 64 ≤ 6.4e16)
      4. iterate v ← round(M·v / ‖M·v‖ · 1e9) with integer
         matrix-vector products and a decimal-exact norm²
    Start vector is the uniform unit vector (all 125_000_000 =
    round(1e9/√64)), so the trajectory is fully deterministic — no
    random init, no sign convention needed.

    Scale: the d²-key aggregate is the only data-sized pass (one
    shuffle of n·d² products at worst, partially aggregable); the
    iterations touch d² = 4096 rows. Quantization costs ~3 decimal
    digits of input precision — fine for a parity-checkable reference
    eigenvector; production fits stay on ``pca_fit``'s float eigh.
    Returns (dim, loading) with Σ loading² ≈ 1; the last product it
    reads is attached to it (``cacheutil.release(result)``).
    """
    q = df.select(
        F.col(id_col),
        F.posexplode(vec_col).alias("i", "x"),
    ).select(
        id_col,
        "i",
        F.round(F.col("x").cast("double") * F.lit(1000.0))
        .cast("bigint")
        .alias("eq"),
    )
    s = q.groupBy("i").agg(
        F.sum("eq").alias("si"), F.count(F.lit(1)).alias("n")
    )
    mm = (
        q.alias("a")
        .join(q.alias("b"), id_col)
        .groupBy(F.col("a.i").alias("mi"), F.col("b.i").alias("mj"))
        .agg(F.sum(F.col("a.eq") * F.col("b.eq")).alias("sij"))
    )
    sa = s.select(F.col("i").alias("mi"), F.col("si").alias("sa_si"), "n")
    sb = s.select(F.col("i").alias("mj"), F.col("si").alias("sb_si"))
    m = (
        mm.join(sa, "mi")
        .join(sb, "mj")
        .select(
            "mi",
            "mj",
            (F.col("n") * F.col("sij") - F.col("sa_si") * F.col("sb_si")).alias(
                "mm"
            ),
        )
    )
    mx = m.agg(F.max(F.abs("mm")).alias("mx"))
    mq = m.crossJoin(F.broadcast(mx)).select(
        "mi",
        "mj",
        F.round(
            F.col("mm").cast("double") / F.col("mx").cast("double")
            * F.lit(1000000.0)
        )
        .cast("bigint")
        .alias("mq"),
    )
    spark = df.sparkSession
    with Frames() as frames:
        mq = frames.pin(mq, eager=True)  # truncate the moment lineage once
        v = spark.range(dims).select(
            F.col("id").cast("int").alias("i"),
            F.lit(125000000).cast("bigint").alias("vq"),
        )
        w = None
        for _ in range(iters):
            # w is read twice per round (norm² and the update): pin the
            # 64-row product so the plan stays linear in iters
            w = frames.pin(
                mq.join(v, mq["mj"] == v["i"])
                .groupBy(F.col("mi").alias("wi"))
                .agg(F.sum(F.col("mq") * F.col("vq")).alias("wq")),
                eager=True,
                replaces=(w,),
            )
            n2 = w.agg(
                F.sum(
                    F.col("wq").cast("decimal(38,0)")
                    * F.col("wq").cast("decimal(38,0)")
                ).alias("n2")
            )
            v = w.crossJoin(F.broadcast(n2)).select(
                F.col("wi").alias("i"),
                F.round(
                    F.col("wq").cast("double")
                    / F.sqrt(F.col("n2").cast("double"))
                    * F.lit(1000000000.0)
                )
                .cast("bigint")
                .alias("vq"),
            )
        return frames.attach(
            v.select(
                F.col("i").cast("bigint").alias("dim"),
                (F.col("vq").cast("double") / F.lit(1000000000.0)).alias("loading"),
            ),
            w,
        )
