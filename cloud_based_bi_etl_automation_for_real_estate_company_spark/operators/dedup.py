"""Deduplication operators for the training-data-pipeline extension:
exact, MinHash+LSH, SimHash, and n-gram Jaccard near-dup.

Design for 100 TB:

- **exact**: md5(content) → hash-groupBy. One shuffle on the digest
  (uniform by construction — no skew), map-side partial agg.
- **minhash_lsh**: per-doc signature of K md5-min-hashes → banded into
  B band-keys → candidate pairs only join within a band bucket. The
  cross-join never happens; the shuffle key is the band hash. md5 is
  used as the hash family so the DuckDB oracle can replay it exactly.
- **simhash**: 16-bit simhash from per-token md5 bits; near-dups =
  bucket collisions. Bit-twiddling via conv(); no UDFs.
- **ngram_jaccard**: exact Jaccard over word-k-gram shingles via
  explode + self-equi-join on the shingle — the verification baseline
  for the sketch methods. Quadratic only within identical-shingle
  groups, so still shuffle-bounded, but the sketches are the scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import shingles, tokens
from ..session import local_frame
from . import stores
from .cacheutil import Frames


from .partitioning import spread as _spread


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: one surviving (min-id) row per distinct content
    digest, with the duplicate count. Returns (keep_id, content_hash,
    n_copies)."""
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    shingle_k: int = 3,
) -> DataFrame:
    """Per-doc MinHash signature: the hash family is 8-hex-char windows
    of md5(shingle) ‖ md5('x~'+shingle) — ``num_hashes`` (≤16)
    near-independent 32-bit hashes from just TWO md5 evaluations per
    shingle (vs one md5 per hash function), and string-min over a hex
    window is a valid uniform min-hash. Replayable in ANSI SQL for the
    oracle. Output: (id_col, mh_0..mh_{K-1}).
    """
    if num_hashes > 16:
        raise ValueError("hash family provides at most 16 windows")
    sh = _spread(df).select(
        F.col(id_col), F.explode(F.array_distinct(shingles(text_col, shingle_k))).alias("sh")
    )
    hx = F.concat(
        F.md5(F.col("sh")), F.md5(F.concat(F.lit("x~"), F.col("sh")))
    )
    aggs = [
        F.min(F.substring(hx, 8 * i + 1, 8)).alias(f"mh_{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def band_keys(
    sig: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """LSH band keys of a signature table: the md5 of each band's
    concatenated minhash components. Shared by the batch LSH pairs
    and the incremental near-dup store so their bucketing can never
    drift. Returns (id_col, band, key)."""
    rows_per_band = num_hashes // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"mh_{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band"), F.md5(F.concat_ws("|", *parts)).alias("key")
            )
        )
    return sig.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
    precomputed_sig: DataFrame | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH candidate pairs: signature split into ``bands`` bands of
    ``num_hashes/bands`` rows; docs sharing any band key are candidates.
    Returns distinct (id_a, id_b) with id_a < id_b.

    Pairs are generated by grouping ids per (band, key) bucket and
    expanding combinations *within* the bucket array — one aggregation
    shuffle on the band key, instead of a self-join that would
    recompute the whole shingle→signature lineage on both sides. At
    scale the bucket arrays are tiny by design (that's what banding is
    for); a pathological mega-bucket means the band width is too
    narrow, not that the plan should change. ``max_bucket`` (round 12)
    is the defensive bound for unattended pipelines — buckets above it
    are SKIPPED entirely (their pairs never materialize), the same
    population-exclusion trade as the k-core/co-purchase basket cap:
    a b-doc bucket expands to b²/2 pairs, so one poisoned band key
    (boilerplate corpus, adversarial spam) otherwise OOMs the reducer
    holding it. Docs in a skipped bucket can still pair through their
    other bands. Default None preserves exact recall.
    """
    sig = (
        precomputed_sig
        if precomputed_sig is not None
        else minhash_signatures(df, text_col, id_col, num_hashes, shingle_k)
    )
    banded = band_keys(sig, id_col, num_hashes, bands)
    buckets = (
        banded.groupBy("band", "key")
        .agg(F.sort_array(F.collect_set(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket)
    pairs = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (x, i) -> "
                "transform(slice(ids, i + 2, size(ids) - i - 1), "
                "y -> struct(x AS id_a, y AS id_b))))"
            )
        ).alias("p")
    )
    return pairs.select("p.id_a", "p.id_b").distinct()


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
    require_convergence: bool = False,
) -> DataFrame:
    """Resolve near-duplicate *pairs* into duplicate *clusters*:
    connected components by iterative min-label propagation. Every node
    starts labeled with its own id; each round pulls the minimum label
    across its neighbors; at fixpoint every member of a component
    carries the component's smallest id (the canonical doc to keep).

    Each iteration is one shuffle (join on the neighbor key + groupBy
    min), and ``localCheckpoint`` truncates the lineage so the plan
    doesn't grow with iterations. Round count is O(graph diameter) —
    near-dup graphs are overwhelmingly tiny cliques (diameter 1-2), so
    this converges in 2-3 rounds; a web-scale graph with long chains
    would want the large-star/small-star contraction instead, which
    squares the label-propagation distance per round.

    A graph whose DIAMETER exceeds ``max_iter`` silently returns
    partially-propagated labels (two docs in one component keeping
    different cluster_ids — i.e. under-deduplication); pass
    ``require_convergence=True`` for a loud ValueError instead, the
    same contract as :func:`~..graph.kcore`. The star variant below
    is the right tool for long-chain graphs.

    Returns (node, label) = (doc_id, cluster_id) for every doc that
    appears in at least one edge; the final label table it reads is
    attached to it (``operators.cacheutil.release(result)``).
    """
    # materialize the (tiny) edge list once — without this, every
    # iteration's join re-evaluates the upstream pair-generation
    # lineage (for LSH pairs, the whole shingle→signature pipeline)
    with Frames() as frames:
        sym = frames.pin(
            edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).union(
                edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
            ),
            eager=True,
        )
        labels = frames.pin(
            sym.select(F.col("u").alias("node"))
            .distinct()
            .withColumn("label", F.col("node")),
            eager=True,
        )

        def _sum(df: DataFrame) -> int:
            return df.agg(F.sum("label")).collect()[0][0]

        # the label sum is strictly decreasing until fixpoint, so an
        # unchanged sum IS convergence — one cheap scan per round
        # instead of an old-vs-new join
        prev_sum = _sum(labels)
        converged = False
        for _ in range(max_iter):
            nbr = sym.join(labels, sym.v == labels.node).select(
                F.col("u").alias("node"), "label"
            )
            labels = frames.pin(
                labels.union(nbr).groupBy("node").agg(F.min("label").alias("label")),
                eager=True,
                replaces=(labels,),
            )
            cur_sum = _sum(labels)
            if cur_sum == prev_sum:
                converged = True
                break
            prev_sum = cur_sum
        if require_convergence and not converged:
            # a propagation that lands on the fixpoint exactly at round
            # max_iter exits without observing the unchanged sum —
            # confirm with one extra neighbor-min pass before raising
            nbr = sym.join(labels, sym.v == labels.node).select(
                F.col("u").alias("node"), "label"
            )
            nxt = labels.union(nbr).groupBy("node").agg(
                F.min("label").alias("label")
            )
            if _sum(nxt) != prev_sum:
                raise ValueError(
                    f"min-label propagation did not converge within "
                    f"{max_iter} rounds (graph diameter exceeds the bound); "
                    "labels would under-merge components — use "
                    "connected_components_star for long-chain graphs"
                )
        return frames.attach(
            labels.select(
                F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
            ),
            labels,
        )


def _local_cc(cur: DataFrame, spark, id_type) -> DataFrame:
    """Driver-side union-find finish for a BOUNDED edge list — the
    standard last-mile of distributed CC (GraphX/GraphFrames do the
    same): once the star-contracted edge list fits a constant memory
    budget, the remaining O(log d) tiny rounds cost more in job
    launches and exchanges than one collect + union-find. The collect
    here is PROVABLY bounded: the caller gates it on a row count
    (local_finish_max_edges). Output contract identical to the
    distributed fixpoint: (doc_id, cluster_id = component min) for
    every node that appears in the edge list."""
    from pyspark.sql.types import StructField, StructType

    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for row in cur.collect():
        u, v = row[0], row[1]
        parent.setdefault(u, u)
        parent.setdefault(v, v)
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
    comp_min: dict = {}
    for n in parent:
        r = find(n)
        m = comp_min.get(r)
        comp_min[r] = n if m is None or n < m else m
    schema = StructType(
        [
            StructField("doc_id", id_type),
            StructField("cluster_id", id_type),
        ]
    )
    return local_frame(spark, [(n, comp_min[find(n)]) for n in parent], schema)


def local_finish_budget(spark) -> int:
    """Driver-memory-aware edge budget for the size-gated local finish
    (round 11 — replaces the fixed 100k default): scale the collect
    bound to 1% of the driver JVM's max heap at ~100 bytes per
    collected edge row, clamped to [100_000, 2_000_000]. A 1 GiB dev
    driver keeps the old conservative 100k; the 128 GiB bench/driver
    host allows the 2M cap — which converts one more pure-overhead
    distributed round into a few-MB collect on graphs with a fat
    contraction tail. Explicit ``local_finish_max_edges`` values
    (including the soak's 0 = all-distributed) always win; this only
    resolves the ``None`` default. Falls back to 100k when the JVM is
    unreachable (mocked sessions)."""
    try:
        mx = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
        return max(100_000, min(2_000_000, int(mx // 100 // 100)))
    except Exception:
        return 100_000


def connected_components_star(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 20,
    local_finish_max_edges: int | None = None,
) -> DataFrame:
    """Connected components by large-star / small-star contraction —
    the web-scale alternative to plain min-label propagation
    (``connected_components``): each round rewires every node toward
    its neighborhood minimum, roughly squaring the distance a label
    travels, so round count is O(log diameter) instead of
    O(diameter). Same output contract: (doc_id, cluster_id = the
    component's smallest id).

    Per round both stars are one groupBy + one join over the edge
    list; the edge list shrinks toward a star forest and each round's
    pin replaces the last, so lineage stays flat and one round's
    blocks are held. Dedup/self-loop canonicalization happens once per
    ROUND (after both stars): min aggregates are multiplicity-immune
    and each directed edge rewires to at most one output edge, so the
    intermediate can't blow up. Convergence is the exact structural
    fixpoint — the edge list IS a star forest (every child has exactly
    one parent and no parent is also a child; Kiveris et al.'s
    characterization), checked by the SAME keyed agg that computes the
    large star's neighborhood minimum: the flagged symmetrized list
    yields per-node (parent-count, child-count) stats too, pinned once
    and read by the check and both join sides.

    Local finish: star contraction shrinks the edge list
    geometrically, so the LAST rounds are tiny and pure overhead (4
    jobs, ~6 exchanges each). Once the canon list is ≤
    ``local_finish_max_edges`` rows (counted by the pin's own job), one
    driver-side union-find over a provably bounded collect finishes
    the components — GraphX-style CC's last-mile switch. ``None``
    resolves via ``local_finish_budget`` (1% of driver heap at
    ~100 B/edge, clamped to [100k, 2M]); 0 forces the all-distributed
    fixpoint (the CC soak's setting).

    The distributed fixpoint's result reads the final edge list, which
    is attached to it: ``operators.cacheutil.release(result)`` frees it.
    """
    spark = edges.sparkSession
    id_type = edges.schema[src].dataType

    def _canon(df: DataFrame) -> DataFrame:
        # unordered pair normal form, self-loops dropped
        return (
            df.select(
                F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .select(F.col("a").alias("u"), F.col("b").alias("v"))
        )

    def _small_star(cur: DataFrame) -> DataFrame:
        sym = cur.union(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.min("v").alias("mv"))
        mins = mins.select("u", F.least("u", "mv").alias("m"))
        rewired = (
            sym.filter(F.col("v") <= F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # keep each center attached to its minimum so components can't
        # fall apart while rewiring
        anchors = mins.select(F.col("u"), F.col("m").alias("v"))
        return rewired.union(anchors)

    if local_finish_max_edges is None:
        local_finish_max_edges = local_finish_budget(spark)

    with Frames() as frames:
        cur, n_cur = frames.pin(
            _canon(edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))),
            eager=True,
            count=True,
        )
        for _ in range(max_iter):
            if local_finish_max_edges and n_cur <= local_finish_max_edges:
                return _local_cc(cur, spark, id_type)
            # for node n: flag-sum = #canon edges with n as parent (u
            # side), count − flag-sum = #child appearances
            sym = cur.select("u", "v", F.lit(1).alias("pf")).union(
                cur.select(
                    F.col("v").alias("u"), F.col("u").alias("v"), F.lit(0).alias("pf")
                )
            )
            stats = frames.pin(
                sym.groupBy("u").agg(
                    F.min("v").alias("mv"),
                    F.sum("pf").alias("np"),
                    F.count(F.lit(1)).alias("nd"),
                ),
                eager=True,
            )
            # star forest ⟺ no child has 2 parents and no node is both
            # parent and child — an isEmpty over the checkpointed
            # node-sized stats, no extra edge-list pass
            if stats.filter(
                (F.col("nd") - F.col("np") > 1)
                | ((F.col("np") > 0) & (F.col("nd") > F.col("np")))
            ).isEmpty():
                break
            mins = stats.select("u", F.least("u", "mv").alias("m"))
            rewired = (
                sym.filter(F.col("v") > F.col("u"))
                .join(mins, "u")
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
            )
            anchors = mins.select(F.col("u"), F.col("m").alias("v"))
            # pin BETWEEN the stars: the small star reads its input
            # twice, so chaining the stars lazily re-expands the
            # large-star subtree ~4× (43 exchanges/round observed).
            # Mid-round output stays raw (duplicates + self-loops): the
            # small star's symmetrize + min-agg is immune to both. Once
            # mid materialized, cur and stats are dead.
            mid = frames.pin(rewired.union(anchors), eager=True, replaces=(cur, stats))
            cur, n_cur = frames.pin(
                _canon(_small_star(mid)), eager=True, replaces=(mid,), count=True
            )
        # fixpoint is a star forest: every edge points (root=min) ← node
        members = cur.select(
            F.col("v").alias("doc_id"), F.col("u").alias("cluster_id")
        )
        roots = cur.select(F.col("u").alias("doc_id")).distinct().withColumn(
            "cluster_id", F.col("doc_id")
        )
        return frames.attach(
            members.union(roots).groupBy("doc_id").agg(
                F.min("cluster_id").alias("cluster_id")
            ),
            cur,
        )


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 16) -> DataFrame:
    """SimHash fingerprint: per-token md5 → first ``bits`` bits; the
    fingerprint's bit b is 1 iff more tokens have bit b set than not.
    Expressed with higher-order array functions (no UDF): per doc,
    sum (+1/-1) votes per bit over tokens, then reassemble.
    Output: (id_col, simhash bigint).
    """
    tok = _spread(df).select(F.col(id_col), F.explode(tokens(text_col)).alias("tok"))
    # token → integer whose low `bits` bits come from md5 hex prefix
    hx = F.conv(F.substring(F.md5(F.col("tok")), 1, bits // 4), 16, 10).cast("bigint")
    votes = tok.select(
        F.col(id_col),
        *[
            F.when(F.shiftright(hx, i).bitwiseAND(F.lit(1)) == 1, F.lit(1))
            .otherwise(F.lit(-1))
            .alias(f"v_{i}")
            for i in range(bits)
        ],
    )
    summed = votes.groupBy(id_col).agg(
        *[F.sum(f"v_{i}").alias(f"s_{i}") for i in range(bits)]
    )
    fp = F.lit(0).cast("bigint")
    for i in range(bits):
        fp = fp + F.when(F.col(f"s_{i}") > 0, F.lit(2 ** i).cast("bigint")).otherwise(F.lit(0))
    return summed.select(F.col(id_col), fp.alias("simhash"))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.2,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs: explode distinct shingles,
    self-equi-join on the shingle, |A∩B| = join count, |A∪B| = |A|+|B|−∩.
    Returns (id_a, id_b, jaccard) for pairs ≥ threshold.
    """
    sh = _spread(df).select(
        F.col(id_col), F.explode(F.array_distinct(shingles(text_col, shingle_k))).alias("sh")
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a").join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("n_common").cast("double")
             / (F.col("n_a") + F.col("n_b") - F.col("n_common"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def editdist_pairs(
    df: DataFrame,
    name_col: str,
    max_dist: int = 2,
) -> DataFrame:
    """Typo-level near-duplicate KEY pairs by Levenshtein distance —
    the entity-resolution primitive for dirty dimension values
    (vendor/agent/listing names spelled two ways), complementing the
    document-level shingle family: edit distance catches single-token
    corruption that shingle Jaccard under-weights on short strings.

    All-pairs Levenshtein is O(n²); the scale path is multi-pass
    token BLOCKING (Hernández & Stolfo 1995 merge/purge): a pair
    within ``max_dist`` edits of a multi-word name almost always
    leaves at least one word untouched, so candidates are generated by
    self-equi-joins keyed on each word position (one pass per word,
    unioned, deduped). Each block key is a word of the value
    vocabulary — bounded, uniform — and the quadratic work happens
    only inside blocks. Recall caveat (documented, inherent to
    blocking): a pair whose EVERY word was edited is missed; with
    max_dist ≤ 2 on multi-word names that requires splitting the edit
    budget across all words at once.

    Operates on the DISTINCT values of ``name_col`` (dedup keys, not
    rows), returning (name_a, name_b, dist, n_a, n_b) with name_a <
    name_b and the per-value row counts for merge planning.
    """
    vals = df.groupBy(F.col(name_col).alias("name")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    words = vals.select(
        "name", F.posexplode(F.split(F.col("name"), r"\s+")).alias("pos", "w")
    )
    a, b = words.alias("a"), words.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.pos") == F.col("b.pos"))
            & (F.col("a.w") == F.col("b.w"))
            & (F.col("a.name") < F.col("b.name")),
        )
        .select(
            F.col("a.name").alias("name_a"), F.col("b.name").alias("name_b")
        )
        .distinct()
    )
    scored = cand.select(
        "name_a",
        "name_b",
        F.levenshtein("name_a", "name_b").alias("dist"),
    ).filter(F.col("dist") <= max_dist)
    na = vals.select(F.col("name").alias("name_a"), F.col("n_rows").alias("n_a"))
    nb = vals.select(F.col("name").alias("name_b"), F.col("n_rows").alias("n_b"))
    return scored.join(na, "name_a").join(nb, "name_b").select(
        "name_a", "name_b", "dist", "n_a", "n_b"
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    key_col: str,
    window: int = 2,
    max_dist: int = 2,
    block_prefix: int = 15,
) -> DataFrame:
    """Sorted-neighborhood blocking (the OTHER classic merge/purge
    candidate generator, Hernández & Stolfo 1995 §3): sort the
    distinct keys, pair each with its next ``window-1`` neighbors,
    verify by Levenshtein. Complements :func:`editdist_pairs` (word
    blocking) — sorting catches suffix typos that share no word, word
    blocks catch the prefix typos sorting scatters.

    Scale shape: ranks are assigned WITHIN prefix blocks
    (``substring(key, 1, block_prefix)``) so no global sort exists in
    the plan — each block sorts in its own reducer, and neighbors are
    generated by ``window-1`` rank-offset equi-joins (never an
    inequality join). Cross-block neighbors are the documented recall
    loss, exactly the multi-pass-key story of the paper.
    Returns (name_a, name_b, dist) with name_a < name_b by sort order.
    """
    vals = df.select(F.col(key_col).alias("name")).distinct()
    blk = F.substring("name", 1, block_prefix)
    w = Window.partitionBy(blk).orderBy("name")
    ranked = vals.select(
        "name", blk.alias("blk"), F.row_number().over(w).alias("rnk")
    )
    out = None
    for off in range(1, window):
        a = ranked.alias("a")
        b = ranked.select(
            F.col("blk"),
            (F.col("rnk") - off).alias("rnk"),
            F.col("name").alias("name_b"),
        ).alias("b")
        pairs = a.join(b, ["blk", "rnk"]).select(
            F.col("a.name").alias("name_a"), "name_b"
        )
        out = pairs if out is None else out.unionByName(pairs)
    return (
        out.distinct()
        .select(
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").alias("dist"),
        )
        .filter(F.col("dist") <= max_dist)
    )


def winnow_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    w: int = 4,
    min_shared: int = 2,
) -> DataFrame:
    """Near-dup candidate pairs via winnowing fingerprints
    (functions.text.winnow_fingerprints): documents sharing at least
    ``min_shared`` selected hashes. Returns (id_a, id_b, n_shared),
    id_a < id_b.

    The scale shape is the same as the exact n-gram join — explode +
    self-equi-join on the hash — but over the winnowed ~1/w subsample,
    with the winnowing guarantee that any shared token run of length
    ≥ w+k-1 still collides. Quadratic only within identical-fingerprint
    groups; the shuffle key is the (uniform) hash."""
    from ..functions.text import winnow_fingerprints

    fp = _spread(df).select(
        F.col(id_col),
        F.explode(winnow_fingerprints(F.col(text_col), k, w)).alias("fp"),
    )
    a = fp.select(F.col(id_col).alias("id_a"), "fp")
    b = fp.select(F.col(id_col).alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def minhash_estimate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
    threshold: float = 0.0,
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH candidate pairs scored with the MinHash Jaccard *estimate*:
    the fraction of the K signature slots on which the two docs agree
    (an unbiased estimator of true Jaccard). The middle rung of the
    dedup ladder — cheap enough to run on every candidate pair
    (signatures only, no shingle re-expansion), selective enough to
    gate the exact ``ngram_jaccard_pairs`` verification.

    Returns (id_a, id_b, est_jaccard ≥ threshold). The signature table
    is derived ONCE from text and pinned (a lazy local checkpoint — it
    is ~K×8 bytes/doc, orders of magnitude smaller than the corpus), then
    reused for banding and both id-joins; the expensive shingle
    explosion runs a single pass over the text.

    The pinned signature table is attached to the result — long-lived
    sessions free it after the final action via
    ``operators.cacheutil.release(result)``.

    ``max_bucket`` passes through to :func:`minhash_lsh_pairs` — the
    defensive band-bucket bound for degenerate corpora (round 12: the
    curation soak's shared-shingle-pool staging produced 9.1e7
    candidate pairs from 1.2e5 docs; a b-doc bucket is b²/2 pairs, so
    one hot band key OOMs its reducer without the cap).
    """
    with Frames() as frames:
        sig = frames.pin(
            minhash_signatures(df, text_col, id_col, num_hashes, shingle_k),
            eager=False,
        )
        pairs = minhash_lsh_pairs(
            df, text_col, id_col, num_hashes, bands, shingle_k,
            precomputed_sig=sig, max_bucket=max_bucket,
        )
        sa = sig.select(
            F.col(id_col).alias("id_a"), *[F.col(f"mh_{i}").alias(f"a_{i}") for i in range(num_hashes)]
        )
        sb = sig.select(
            F.col(id_col).alias("id_b"), *[F.col(f"mh_{i}").alias(f"b_{i}") for i in range(num_hashes)]
        )
        n_match = sum(
            F.when(F.col(f"a_{i}") == F.col(f"b_{i}"), 1).otherwise(0)
            for i in range(num_hashes)
        )
        return frames.attach(
            pairs.join(sa, "id_a")
            .join(sb, "id_b")
            .select(
                "id_a",
                "id_b",
                (n_match.cast("double") / F.lit(num_hashes)).alias("est_jaccard"),
            )
            .filter(F.col("est_jaccard") >= threshold),
            sig,
        )


def span_dedup(
    df: DataFrame,
    span: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Remove globally repeated ``span``-token spans from every
    document, keeping each distinct span's first occurrence (smallest
    ``(doc_id, span_no)``) — span-level dedup in the spirit of Lee et
    al., "Deduplicating Training Data Makes Language Models Better"
    (arXiv:2107.06499), restated over fixed token tiles instead of
    suffix-array substrings so the whole pass stays declarative.
    Catches repeated boilerplate *inside* otherwise-distinct documents,
    which doc-level dedup (exact/MinHash) cannot.

    Plan shape, and why it holds at 100 TB: tiling is map-side only
    (sequence → explode → slice, zero shuffle); first-occurrence
    marking is ONE window shuffle partitioned by the span text — a
    high-cardinality, near-uniform key, and each partition group is
    the tiny set of copies of one span, so no skew and no global sort
    (a pathological mega-duplicated span would hot-spot its window
    group; the escape is min(struct(doc, span_no)) per span via
    groupBy — partially aggregable, AQE-skew-splittable — joined back,
    at ~3× the shuffle volume in the common mostly-unique case, which
    is why the window form is the default);
    reassembly is ONE groupBy-doc shuffle. Output rows = input docs.

    Returns ``(doc_id, clean_text, n_spans, n_spans_kept)`` where
    ``clean_text`` is the surviving tiles re-joined in order ('' when
    every span of a doc was seen earlier, i.e. the doc is fully
    redundant).
    """
    toks = tokens(text_col)
    n_spans = F.greatest(
        F.lit(1).cast("bigint"), F.ceil(F.size(toks) / F.lit(float(span)))
    )
    tiles = df.select(
        F.col(id_col),
        toks.alias("__toks"),
        F.explode(F.sequence(F.lit(0).cast("bigint"), n_spans - 1)).alias("span_no"),
    ).select(
        id_col,
        "span_no",
        F.array_join(
            F.slice(F.col("__toks"), (F.col("span_no") * span + 1).cast("int"), span),
            " ",
        ).alias("span_text"),
    )
    w = Window.partitionBy("span_text").orderBy(id_col, "span_no")
    marked = tiles.withColumn("__rn", F.row_number().over(w))
    kept = F.when(F.col("__rn") == 1, F.struct("span_no", "span_text"))
    return marked.groupBy(id_col).agg(
        F.array_join(
            F.transform(F.sort_array(F.collect_list(kept)), lambda x: x["span_text"]),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_spans"),
        F.count(F.when(F.col("__rn") == 1, 1)).alias("n_spans_kept"),
    )


def paragraph_dedup(
    df: DataFrame,
    sep: str = r"\n{2,}",
    joiner: str = "\n\n",
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "window",
) -> DataFrame:
    """Corpus-wide PARAGRAPH-level exact dedup (round 14) — the CCNet
    preprocessing step (Wenzek et al., arXiv:1911.00359): split every
    document on ``sep``, keep each distinct (trimmed) paragraph's
    FIRST occurrence (smallest ``(doc_id, pos)``) across the whole
    corpus, drop every other copy, and reassemble the survivors in
    document order. This is the structural sibling of
    :func:`span_dedup`: spans are fixed token tiles (catch shifted
    boilerplate), paragraphs are author-drawn boundaries (catch
    headers/footers/license blocks verbatim-repeated across pages) —
    real pipelines run the paragraph pass first because it is exact
    and cheap.

    Plan shape, and why it holds at 100 TB: the split is map-side
    only; first-occurrence marking is ONE window shuffle partitioned
    by the paragraph text — high-cardinality, near-uniform key, each
    window group just the copies of one paragraph; reassembly is ONE
    groupBy-doc shuffle. Empty paragraphs (whitespace runs) are
    dropped on both sides; a document with NO non-empty paragraph
    drops out of the result — at scale those rows are upstream
    quality-filter fodder, not dedup input.

    ``mode`` (round 15 — the hot-key escape shipped as code, not
    prose): ``"window"`` (default) is the single-shuffle row_number
    form above; ``"agg"`` computes each paragraph's first owner as
    ``groupBy(para).min(struct(doc_id, pos))`` and joins it back —
    the min-agg is PARTIALLY AGGREGABLE (map-side combine collapses a
    mega-duplicated paragraph's copies before the shuffle) and the
    join-back is AQE-skew-splittable, so a boilerplate paragraph
    repeated across half the corpus never funnels through one window
    group, at ~3× the shuffle volume in the common mostly-unique
    case (span_dedup's documented trade). Both modes return
    identical rows (parity-pinned in pytest and by the
    x_paragraph_dedup_agg gate sharing x_paragraph_dedup's oracle).

    Returns ``(doc_id, clean_text, n_paras, n_paras_kept)`` where
    ``clean_text`` re-joins the surviving paragraphs with ``joiner``
    ('' when every paragraph of a doc was seen earlier)."""
    if mode not in ("window", "agg"):
        raise ValueError(f"mode must be 'window' or 'agg', got {mode!r}")
    paras = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "para"),
    ).select(
        id_col,
        F.col("pos").cast("bigint").alias("pos"),
        F.trim(F.col("para")).alias("para"),
    ).filter(F.length("para") > 0)
    if mode == "agg":
        first = paras.groupBy("para").agg(
            F.min(F.struct(F.col(id_col), F.col("pos"))).alias("__first")
        )
        marked = paras.join(first, "para").withColumn(
            "__rn",
            F.when(
                (F.col(id_col) == F.col("__first")[id_col])
                & (F.col("pos") == F.col("__first")["pos"]),
                F.lit(1),
            ).otherwise(F.lit(2)),
        )
    else:
        w = Window.partitionBy("para").orderBy(id_col, "pos")
        marked = paras.withColumn("__rn", F.row_number().over(w))
    kept = F.when(F.col("__rn") == 1, F.struct("pos", "para"))
    return marked.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(kept)), lambda x: x["para"]
            ),
            joiner,
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_paras"),
        F.count(F.when(F.col("__rn") == 1, 1)).alias("n_paras_kept"),
    )


def incremental_paragraph_dedup(
    new_docs: DataFrame,
    store_path: str,
    sep: str = r"\n{2,}",
    joiner: str = "\n\n",
    text_col: str = "text",
    id_col: str = "doc_id",
    sink=None,
) -> DataFrame:
    """STREAMING sibling of :func:`paragraph_dedup` (round 14 — the
    CCNet paragraph pass under continuous ingest): a paragraph
    survives iff its md5 has never been seen in the store NOR earlier
    in this batch (first
    occurrence by ``(doc_id, pos)``, the one-shot rule); documents
    reassemble from survivors; the surviving hashes fold back into
    the store. When batches arrive in ``(doc_id)`` order the drained
    result is IDENTICAL to one-shot paragraph_dedup over the union —
    pinned by the x_paragraph_dedup_drain gate and the parity pytest.
    Out-of-order arrival keeps the dedup guarantee (each distinct
    paragraph survives exactly once) but first-occurrence ownership
    follows arrival, the same documented trade as every
    append-only-store operator here.

    Store: single-column parquet of paragraph hashes at
    ``{store_path}/hashes`` — ~32 bytes per DISTINCT paragraph
    corpus-lifetime, membership = one left-anti join per batch (no
    corpus rescan). Batch cost: the split is
    map-side; anti-join + first-occurrence window shuffle on the hash
    key; one (id, pos) join-back; one reassembly groupBy — all
    batch-sized frames except the store side of the anti-join, which
    shuffles only the batch's hashes against the bucketed store.
    ``sink`` runs BEFORE the store append (the admission family's
    crash contract: an at-least-once retry re-admits — duplicates the
    next batch's anti-join absorbs — rather than recording hashes for
    rows never sunk). Returns the per-doc result
    ``(id_col, clean_text, n_paras, n_paras_kept)`` for every input
    doc with at least one non-empty paragraph."""
    spark = new_docs.sparkSession
    paras = new_docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "para"),
    ).select(
        id_col,
        F.col("pos").cast("bigint").alias("pos"),
        F.trim(F.col("para")).alias("para"),
    ).filter(F.length("para") > 0)
    paras = paras.withColumn("__h", F.md5("para"))
    seen = stores.read_live(
        spark, store_path, "hashes", required="para_hash string",
        missing_ok=True,
    )
    if seen is None:
        seen = local_frame(spark, [], "para_hash string")
    fresh = paras.join(
        seen.select(F.col("para_hash").alias("__h")), "__h", "left_anti"
    )
    w = Window.partitionBy("__h").orderBy(id_col, "pos")
    kept = (
        fresh.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(id_col, "pos", "__h")
        .localCheckpoint(eager=True)  # pin: sink, store append, and
        # the returned frame must all see the identical survivor set
    )
    flagged = paras.join(
        kept.select(id_col, "pos", F.lit(1).alias("__k")),
        [id_col, "pos"],
        "left",
    )
    surv = F.when(F.col("__k") == 1, F.struct("pos", "para"))
    out = flagged.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(surv)), lambda x: x["para"]
            ),
            joiner,
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_paras"),
        F.count(F.when(F.col("__k") == 1, 1)).alias("n_paras_kept"),
    ).localCheckpoint(eager=True)
    if sink is not None:
        sink(out)
    stores.append(
        kept.select(F.col("__h").alias("para_hash")), store_path, "hashes"
    )
    return out


def compact_paragraph_store(
    spark, store_path: str, bytes_per_file: int = 128 << 20
) -> None:
    """Store-lifecycle companion to
    :func:`incremental_paragraph_dedup`: at-least-once replays append
    duplicate hashes (harmless for membership — the anti-join is
    set-semantics — but wasteful); re-write ``{store_path}/hashes``
    DISTINCT through :func:`stores.compact` (no appends meanwhile).
    Membership — and therefore every subsequent batch's result — is
    invariant under compaction (pytest-pinned)."""
    stores.compact(
        spark, store_path, {"hashes": {"required": "para_hash string"}},
        lambda live, _: {"hashes": live["hashes"].distinct()},
        bytes_per_file=bytes_per_file,
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT near-dup pairs: |A∩B| / |A| — the
    Broder containment score. Catches subset duplication (one document
    quoted or embedded inside a larger one) that symmetric Jaccard
    dilutes below any usable threshold when sizes differ. Same plan
    shape as ``ngram_jaccard_pairs`` (shingle-keyed self-equi-join +
    broadcast size joins); directional, so both orientations of a pair
    can appear. Returns (id_a, id_b, containment) where containment =
    |shingles(a) ∩ shingles(b)| / |shingles(a)| ≥ threshold.
    """
    sh = _spread(df).select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles(text_col, shingle_k))).alias("sh"),
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col(f"a.{id_col}") != F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    return (
        inter.join(sa, "id_a")
        .select(
            "id_a",
            "id_b",
            (F.col("n_common").cast("double") / F.col("n_a")).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def sliding_span_dedup(
    df: DataFrame,
    span: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Stride-1 generalization of ``span_dedup``: every k-token
    WINDOW (not just aligned tiles) is checked for global duplication,
    so boilerplate repeated at a different token offset — invisible to
    the tile form — is caught, closing most of the gap to Lee et
    al.'s suffix-array substring dedup while staying declarative.

    First occurrence (smallest (doc_id, window_start)) of each
    distinct window survives; every other occurrence marks its token
    range [w, w+k-1] for removal, and a token survives iff no removal
    interval covers it (coverage is all that matters, so overlapping
    intervals need no island-merging for correctness — at extreme dup
    densities merge them first to bound the per-doc interval array).

    Plan: window explosion is map-side; first-occurrence is ONE
    min(struct) aggregation on the window text (partially aggregable
    — absorbs mega-duplicated windows, unlike a rank window); dup
    marking is one window-text join; interval collection one doc
    groupBy; the rebuild is a map-side higher-order filter (token
    index vs interval array). All shuffle keys uniform. Returns
    (doc_id, clean_text, n_tokens, n_tokens_kept).
    """
    toks = tokens(text_col)
    base = df.select(F.col(id_col), toks.alias("__t"))
    long_enough = base.filter(F.size("__t") >= span)
    wins = long_enough.select(
        F.col(id_col),
        F.col("__t"),
        F.explode(
            F.sequence(F.lit(0).cast("bigint"), (F.size("__t") - span).cast("bigint"))
        ).alias("w"),
    ).select(
        id_col,
        "w",
        F.array_join(
            F.slice(F.col("__t"), (F.col("w") + 1).cast("int"), span), " "
        ).alias("wt"),
    )
    firsts = wins.groupBy("wt").agg(
        F.min(F.struct(F.col(id_col).alias("d"), F.col("w").alias("fw"))).alias("f")
    )
    dups = (
        wins.join(firsts, "wt")
        .filter(~((F.col(id_col) == F.col("f.d")) & (F.col("w") == F.col("f.fw"))))
        .select(id_col, F.col("w").alias("s"), (F.col("w") + span - 1).alias("e"))
    )
    iv = dups.groupBy(id_col).agg(
        F.collect_list(F.struct("s", "e")).alias("__iv")
    )
    joined = base.join(iv, id_col, "left").withColumn(
        "__iv", F.coalesce(F.col("__iv"), F.array().cast("array<struct<s:bigint,e:bigint>>"))
    )
    # fold overlapping/adjacent intervals into islands (map-side array
    # aggregate over the sorted intervals) so the per-token coverage
    # probe stays O(islands) even at extreme duplication density —
    # correctness is identical either way, only the array shrinks
    empty = F.array().cast("array<struct<s:bigint,e:bigint>>")
    merged = F.aggregate(
        F.sort_array(F.col("__iv")),
        empty,
        lambda acc, x: F.when(
            (F.size(acc) == 0) | (x["s"] > F.element_at(acc, -1)["e"] + 1),
            F.concat(acc, F.array(x)),
        ).otherwise(
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["s"].alias("s"),
                        F.greatest(F.element_at(acc, -1)["e"], x["e"]).alias("e"),
                    )
                ),
            )
        ),
    )
    joined = joined.withColumn("__iv", merged)
    kept = F.filter(
        F.col("__t"),
        lambda x, i: ~F.exists(
            F.col("__iv"), lambda v: (i >= v["s"]) & (i <= v["e"])
        ),
    )
    return joined.select(
        id_col,
        F.array_join(kept, " ").alias("clean_text"),
        F.size("__t").cast("bigint").alias("n_tokens"),
        F.size(kept).cast("bigint").alias("n_tokens_kept"),
    )


def fellegi_sunter_pairs(
    df: DataFrame,
    id_col: str,
    block_col: str,
    comparisons,
    top_k: int = 200,
) -> DataFrame:
    """Fellegi–Sunter probabilistic record linkage (JASA 1969) over
    blocked candidate pairs: each field comparison contributes the
    match weight ln(m/u) on agreement and ln((1−m)/(1−u)) on
    disagreement; the pair score is the sum — the classic MDM
    match/possible/non-match scorer that editdist/sorted-neighborhood
    blocking feeds.

    ``comparisons`` is a list of (agree_cond, m, u) where agree_cond
    is a Column over the pair columns suffixed ``_a``/``_b``. The m/u
    parameters enter the plan as constants with the log evaluated
    IN-ENGINE (ln(m/u), not a Python-folded literal) so the oracle's
    double arithmetic matches bit-for-bit. Quadratic work is confined
    inside blocks (merge/purge discipline — same contract as
    editdist_pairs); the top-k rank runs through sharded_topk, so no
    single-partition sort sees the full pair set. Returns
    (id_a, id_b, score, rnk)."""
    from .partitioning import sharded_topk

    if not comparisons:
        raise ValueError("comparisons must be non-empty")
    cols = df.columns
    a = df.select(*[F.col(c).alias(f"{c}_a") for c in cols])
    b = df.select(*[F.col(c).alias(f"{c}_b") for c in cols])
    pairs = a.join(
        b,
        (F.col(f"{block_col}_a") == F.col(f"{block_col}_b"))
        & (F.col(f"{id_col}_a") < F.col(f"{id_col}_b")),
    )
    score = None
    for cond, m, u in comparisons:
        mm, uu = F.lit(float(m)), F.lit(float(u))
        term = F.when(cond, F.log(mm / uu)).otherwise(
            F.log((F.lit(1.0) - mm) / (F.lit(1.0) - uu))
        )
        score = term if score is None else score + term
    scored = pairs.select(
        F.col(f"{id_col}_a").alias("id_a"),
        F.col(f"{id_col}_b").alias("id_b"),
        score.alias("score"),
    )
    return sharded_topk(
        scored,
        k=top_k,
        order_by=[F.desc("score"), F.asc("id_a"), F.asc("id_b")],
    )


def prefix_filter_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    tau_num: int = 3,
    tau_den: int = 5,
) -> DataFrame:
    """EXACT token-set similarity join via prefix filtering (AllPairs /
    PPJoin family — Bayardo et al., WWW 2007; Xiao et al., WWW 2008):
    all pairs with Jaccard ≥ τ, zero false negatives, no all-pairs
    scan. The deterministic complement of MinHash+LSH above: LSH
    trades recall for pruning, the prefix filter prunes and stays
    exact — if J(A,B) ≥ τ, the first |x| − ⌈τ·|x|⌉ + 1 tokens of each
    side in GLOBAL rarity order must share a token, so only documents
    sharing a rare prefix token ever meet. On corpora with a broad
    shared vocabulary (this fixture's templated text) the prefix
    prunes little; on real web text the rarity ordering is the whole
    point — candidates collapse to near-duplicate groups.

    τ is a RATIONAL tau_num/tau_den and every threshold comparison is
    integer arithmetic (⌈τn⌉ = (τ_num·n + τ_den − 1) div τ_den;
    J ≥ τ ⇔ τ_den·|A∩B| ≥ τ_num·|A∪B|) — float ⌈0.6n⌉ differs
    between engines at exact multiples, integer math cannot.

    Spark shape: token-df agg → per-doc rarity rank window → prefix
    explode → token-keyed candidate join (distinct) → one
    intersection-count join → integer filter. Returns
    (id_a, id_b, n_common, n_union, jaccard)."""
    # pinned: tok feeds the df agg, the rarity window, both
    # intersection legs, and the size agg — six references that would
    # each re-run the tokenize+distinct lineage unmaterialized
    # (round-9 plan audit)
    tok = df.select(F.col(id_col).alias("id"),
                    F.explode(tokens(text_col)).alias("tk")).distinct(
                    ).localCheckpoint(eager=True)
    dfreq = tok.groupBy("tk").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("id").orderBy("df", "tk")
    wn = Window.partitionBy("id")
    ranked = tok.join(dfreq, "tk").select(
        "id", "tk",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    plen = (
        F.col("n")
        - F.expr(f"({tau_num} * n + {tau_den} - 1) div {tau_den}")
        + F.lit(1)
    )
    # pinned: both sides of the candidate self-join read pref — one
    # execution of the rarity window instead of two
    pref = ranked.filter(F.col("rn") <= plen).select(
        "id", "tk", "n"
    ).localCheckpoint(eager=True)
    # length filter (standard AllPairs companion): J ≥ τ forces
    # τ·max(|A|,|B|) ≤ min(|A|,|B|) — size-incompatible candidates
    # never reach the (much costlier) intersection-count verify
    cand = (
        pref.join(
            pref.select(
                F.col("id").alias("idb"),
                F.col("tk").alias("tkb"),
                F.col("n").alias("nb_"),
            ),
            (F.col("tk") == F.col("tkb")) & (F.col("id") < F.col("idb")),
        )
        .filter(
            F.lit(tau_num) * F.greatest("n", "nb_")
            <= F.lit(tau_den) * F.least("n", "nb_")
        )
        .select(F.col("id").alias("id_a"), F.col("idb").alias("id_b"))
        .distinct()
    )
    ta = tok.select(F.col("id").alias("id_a"), F.col("tk").alias("tka"))
    tb = tok.select(F.col("id").alias("idb2"), F.col("tk").alias("tkb2"))
    inter = (
        cand.join(ta, "id_a")
        .join(
            tb,
            (F.col("id_b") == F.col("idb2"))
            & (F.col("tka") == F.col("tkb2")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sizes = tok.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    out = (
        inter.join(sizes.select(F.col("id").alias("id_a"),
                                F.col("sz").alias("na")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"),
                           F.col("sz").alias("nb")), "id_b")
        .withColumn("n_union", F.col("na") + F.col("nb") - F.col("n_common"))
        .filter(
            F.lit(tau_den) * F.col("n_common")
            >= F.lit(tau_num) * F.col("n_union")
        )
    )
    return out.select(
        "id_a", "id_b", "n_common", "n_union",
        (F.col("n_common").cast("double") / F.col("n_union").cast("double")
         ).alias("jaccard"),
    )


def duplicate_substring_spans(
    df: DataFrame,
    span: int = 8,
    min_len: int = 15,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Maximal duplicated-substring INVENTORY — the closest relational
    form of Lee et al.'s suffix-array ExactSubstr pass (arXiv:
    2107.06499 §4.1): per document, the maximal token ranges in which
    EVERY length-``span`` window occurs at least twice in the corpus
    (self-repetition included), reported when the range covers at
    least ``min_len`` tokens. A range that a single partner duplicates
    wholesale is exactly such a run, so this is a superset envelope of
    ExactSubstr (windows inside one run may match different partners);
    the suffix array buys memory locality on one machine, not extra
    semantics, which is why the run form is the right 100 TB shape.

    Where ``sliding_span_dedup`` REMOVES duplicated coverage, this
    emits the spans themselves — the audit/measurement half (how much
    boilerplate, where, how long) that decides whether substring
    removal is worth running at all.

    Plan: window explosion is map-side (sequence → slice, zero
    shuffle); global window counts are ONE partially-aggregable
    hash agg on the window text (uniform high-cardinality key);
    duplicated positions come back via one equi-join on that key;
    runs collapse with gaps-and-islands — row_number per doc over
    window start, group on (doc, start − rn) — ONE small per-doc
    window whose groups are each doc's duplicated positions. Output
    rows are per-span, so the result is linear in corpus size even
    when (as in a boilerplate-heavy corpus) most positions are
    duplicated. Returns (doc_id, start_tok, end_tok, span_len),
    token positions 0-based inclusive.
    """
    toks = tokens(text_col)
    base = _spread(df).select(F.col(id_col), toks.alias("__t"))
    wins = base.filter(F.size("__t") >= span).select(
        F.col(id_col),
        F.explode(
            F.sequence(
                F.lit(0).cast("bigint"), (F.size("__t") - span).cast("bigint")
            )
        ).alias("w"),
        F.col("__t"),
    ).select(
        id_col,
        "w",
        F.array_join(
            F.slice(F.col("__t"), (F.col("w") + 1).cast("int"), span), " "
        ).alias("wt"),
    )
    dup_wt = (
        wins.groupBy("wt")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= 2)
        .select("wt")
    )
    pos = wins.join(dup_wt, "wt").select(id_col, "w")
    rn = F.row_number().over(Window.partitionBy(id_col).orderBy("w"))
    isl = pos.withColumn("__g", F.col("w") - rn)
    spans = isl.groupBy(id_col, "__g").agg(
        F.min("w").alias("start_tok"),
        (F.max("w") + span - 1).alias("end_tok"),
    )
    return (
        spans.select(
            id_col,
            "start_tok",
            "end_tok",
            (F.col("end_tok") - F.col("start_tok") + 1).alias("span_len"),
        )
        .filter(F.col("span_len") >= min_len)
    )


def substring_removal(
    df: DataFrame,
    span: int = 8,
    min_len: int = 15,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Maximal-run substring REMOVAL — the acting half of Lee et al.'s
    ExactSubstr pass (arXiv:2107.06499 §4.1), completing the family:
    :func:`duplicate_substring_spans` is the inventory (which runs are
    duplicated), :func:`span_dedup` / the sliding variant remove at
    window granularity (shredding runs mid-phrase); THIS operator
    removes each maximal duplicated run ATOMICALLY, keyed on the run's
    own text — every occurrence of a duplicated run is deleted except
    the globally-first one (smallest ``(doc_id, start_tok)``), and the
    surviving document text is reconstructed around the cuts.

    Semantics note (and why it is the conservative envelope): runs are
    each document's MAXIMAL duplicated ranges, so two documents that
    share boilerplate but extend it differently carry different run
    texts and BOTH survive — under-removal, never over-removal, which
    is the right default before a training run (the window-granular
    sliding variant is the aggressive end of the spectrum).

    Plan shape: span inventory as in :func:`duplicate_substring_spans`
    (map-side window explosion → ONE window-text hash agg → ONE
    equi-join back → per-doc gaps-and-islands window); run text is
    recovered with ONE join of the (small, ≥``min_len``-token) runs
    back to the token arrays; the canonical occurrence is ONE window
    over the run text (high-cardinality key, tiny groups — same skew
    argument as :func:`span_dedup`); removal intervals collect per doc
    (two maximal runs whose duplicated-window islands are separated by
    a gap can still OVERLAP by up to ``span``-2 tokens — the
    higher-order filter below removes their UNION, so overlap is
    handled, and the interval count stays ≤ n_tokens/``span``) and the
    rebuild is a map-side higher-order filter over the token array —
    no explode of kept tokens, no second pass over the corpus.

    Returns ``(doc_id, clean_text, n_tokens, n_tokens_removed,
    n_runs_removed)`` — one row per input document, untouched
    documents included with zero counts.
    """
    toks = tokens(text_col)
    base = _spread(df).select(F.col(id_col), toks.alias("__t"))
    runs = duplicate_substring_spans(
        df, span=span, min_len=min_len, text_col=text_col, id_col=id_col
    )
    rtext = runs.join(base, id_col).select(
        id_col,
        "start_tok",
        "end_tok",
        F.array_join(
            F.slice(
                F.col("__t"),
                (F.col("start_tok") + 1).cast("int"),
                (F.col("end_tok") - F.col("start_tok") + 1).cast("int"),
            ),
            " ",
        ).alias("run_text"),
    )
    wc = Window.partitionBy("run_text").orderBy(id_col, "start_tok")
    removed = (
        rtext.withColumn("__rn", F.row_number().over(wc))
        .filter(F.col("__rn") > 1)
        .select(id_col, "start_tok", "end_tok")
    )
    cuts = removed.groupBy(id_col).agg(
        F.collect_list(F.struct("start_tok", "end_tok")).alias("__cuts")
    )
    joined = base.join(cuts, id_col, "left").select(
        id_col,
        "__t",
        F.coalesce(
            "__cuts", F.array().cast("array<struct<start_tok:bigint,end_tok:bigint>>")
        ).alias("__cuts"),
    )
    indexed = F.zip_with(
        F.sequence(F.lit(0).cast("bigint"), (F.size("__t") - 1).cast("bigint")),
        F.col("__t"),
        lambda i, x: F.struct(i.alias("p"), x.alias("tok")),
    )
    kept = F.filter(
        indexed,
        lambda s: ~F.exists(
            F.col("__cuts"),
            lambda c: (s["p"] >= c["start_tok"]) & (s["p"] <= c["end_tok"]),
        ),
    )
    return joined.select(
        id_col,
        F.array_join(F.transform(kept, lambda s: s["tok"]), " ").alias("clean_text"),
        F.size("__t").cast("bigint").alias("n_tokens"),
        (F.size("__t") - F.size(kept)).cast("bigint").alias("n_tokens_removed"),
        F.size("__cuts").cast("bigint").alias("n_runs_removed"),
    )


def incremental_minhash_dedup(
    new_docs: DataFrame,
    store_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
    eq_num: int = 1,
    eq_den: int = 2,
    sink=None,
) -> DataFrame:
    """Continuous-pipeline NEAR-dup admission — the MinHash sibling of
    :func:`incremental_paragraph_dedup`: admit a new batch's documents
    unless they are near-duplicates of the ALREADY-ADMITTED corpus, without ever
    rescanning that corpus's text. The store keeps only the sketch:
    ONE parquet table of per-doc minhash signatures — O(corpus) small
    rows, the thing that makes per-batch dedup against 100 TB
    feasible. Band keys are RE-DERIVED from the stored signatures
    each batch (``band_keys`` — a map-only projection, no shuffle)
    rather than persisted alongside them: a two-table store can tear
    between appends on a crash, silently hiding admitted docs from
    candidate lookup forever; one table appended by one job commit
    cannot. Candidate lookup is one equi-join on (band, key);
    verification touches signatures, never text.

    Rules, all integer-exact so the SQL oracle can't drift:
      - candidate = shares ≥1 band bucket (store or in-batch);
      - verified near-dup = ≥ ``eq_num/eq_den`` of the signature
        components equal (compared as n_eq·den ≥ num·num_hashes);
      - a new doc is REJECTED if verified against any store doc, or
        against any SMALLER-id doc of its own batch (conservative
        greedy: the smaller partner may itself be rejected — at dup
        densities where that matters you want the batch run through
        full LSH clustering first anyway, and the rule stays
        deterministic without an iterative closure).

    Crash contract matches the siblings: optional ``sink``
    (admitted original rows) runs BEFORE the store append, so a retry
    re-admits rather than silently losing rows. Returns the FLAGGED
    batch: (id_col, admitted, max_eq_store) — max matching components
    against the store (NULL when no store candidate), the evidence
    column an audit dashboard wants.
    """
    spark = new_docs.sparkSession
    sig = minhash_signatures(
        new_docs, text_col, id_col, num_hashes, shingle_k
    ).localCheckpoint(eager=True)
    banded = band_keys(sig, id_col, num_hashes, bands)
    # ONLY a missing store means bootstrap; any other read failure
    # (permissions, transient storage error, corrupt footer) must
    # surface — swallowing it would dedup against an empty store and
    # silently re-admit the whole corpus's duplicates. Typed FS probe,
    # not exception-message matching (round-11 ADVICE).
    # Tombstoned docs stop suppressing new near-dups immediately;
    # their physical rows go at compaction.
    mh_ddl = ", ".join(f"mh_{i} string" for i in range(num_hashes))
    store_sig = stores.read_live(
        spark, store_path, "sigs", id_col, required=mh_ddl,
        required_names=(id_col,), missing_ok=True,
    )
    if store_sig is None:
        # bootstrap schema mirrors the batch's own signature frame so a
        # non-bigint id column types the store correctly from batch one
        # (round-6 ADVICE: never hardcode the id type)
        id_type = sig.schema[id_col].dataType.simpleString()
        store_sig = local_frame(spark, [], f"{id_col} {id_type}, {mh_ddl}")
    store_banded = band_keys(store_sig, id_col, num_hashes, bands)

    def n_eq(a: str, b: str):
        out = F.lit(0)
        for i in range(num_hashes):
            out = out + F.when(
                F.col(f"{a}.mh_{i}") == F.col(f"{b}.mh_{i}"), 1
            ).otherwise(0)
        return out

    verified = F.col("n_eq") * F.lit(eq_den) >= F.lit(eq_num * num_hashes)

    cand_store = (
        banded.alias("n")
        .join(
            store_banded.alias("c"),
            (F.col("n.band") == F.col("c.band")) & (F.col("n.key") == F.col("c.key")),
        )
        .select(
            F.col(f"n.{id_col}").alias("nid"), F.col(f"c.{id_col}").alias("cid")
        )
        .distinct()
    )
    eq_store = (
        cand_store.join(sig.alias("a"), F.col("nid") == F.col(f"a.{id_col}"))
        .join(store_sig.alias("b"), F.col("cid") == F.col(f"b.{id_col}"))
        .select("nid", n_eq("a", "b").alias("n_eq"))
        .groupBy("nid")
        .agg(
            F.max("n_eq").alias("max_eq_store"),
            F.max(F.when(verified, 1).otherwise(0)).alias("dup_store"),
        )
    )
    cand_batch = (
        banded.alias("n")
        .join(
            banded.alias("m"),
            (F.col("n.band") == F.col("m.band"))
            & (F.col("n.key") == F.col("m.key"))
            & (F.col(f"m.{id_col}") < F.col(f"n.{id_col}")),
        )
        .select(
            F.col(f"n.{id_col}").alias("nid"), F.col(f"m.{id_col}").alias("mid")
        )
        .distinct()
    )
    dom_batch = (
        cand_batch.join(sig.alias("a"), F.col("nid") == F.col(f"a.{id_col}"))
        .join(sig.alias("b"), F.col("mid") == F.col(f"b.{id_col}"))
        .select("nid", n_eq("a", "b").alias("n_eq"))
        .filter(verified)
        .select("nid")
        .distinct()
        .withColumn("dom_batch", F.lit(1))
    )
    flagged = (
        new_docs.select(id_col)
        .join(eq_store, F.col(id_col) == F.col("nid"), "left")
        .drop("nid")
        .join(dom_batch, F.col(id_col) == F.col("nid"), "left")
        .drop("nid")
        .select(
            id_col,
            (
                F.coalesce(F.col("dup_store"), F.lit(0)) +
                F.coalesce(F.col("dom_batch"), F.lit(0)) == 0
            ).alias("admitted"),
            "max_eq_store",
        )
        .localCheckpoint(eager=True)
    )
    admitted_ids = flagged.filter("admitted").select(id_col)
    if sink is not None:
        sink(new_docs.join(admitted_ids, id_col, "left_semi"))
    # single-table append: one job commit, no cross-directory tear
    stores.append(
        sig.join(admitted_ids, id_col, "left_semi"), store_path, "sigs"
    )
    return flagged


def soft_dedup_admit(
    new_docs: DataFrame,
    store_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_k: int = 3,
    eq_num: int = 1,
    eq_den: int = 2,
    sink=None,
) -> DataFrame:
    """SOFT-dedup admission (round 11) — the streaming sibling of the
    batch ``soft_dedup=True`` curation mode: every document is
    ADMITTED (near-duplicates carry a down-weight, never a rejection),
    labeled with a near-dup cluster, and weighted 1/|cluster seen so
    far|. The store keeps ONE parquet table
    ``{store_path}/sigs`` = (id, mh_0..K-1, cluster_id): signatures
    for candidate lookup (band keys re-derived per batch, the
    ``incremental_minhash_dedup`` one-table-no-tear rule) plus the
    cluster label each doc was ADMITTED under, which is what makes
    running cluster sizes one groupBy instead of a re-clustering.

    Per batch: signatures → band-bucket candidates against the store
    and within the batch → verified near-dup = signature agreement ≥
    ``eq_num/eq_den`` (integer-exact, same rule as the batch LSH
    estimate's ``est_jaccard ≥ 0.5`` at the defaults) → one star-CC
    over the BATCH-LOCAL edge list (batch docs ↔ store cluster labels,
    batch docs ↔ batch docs — bounded by batch size, never by corpus)
    → cluster = component min, weight = 1/(store members + batch
    members of the cluster).

    The running labels/weights are PROVISIONAL: the store is
    append-only, so when one new doc BRIDGES two existing clusters the
    old rows keep their labels (the new doc takes the merged min) and
    their counts split until :func:`compact_soft_store` — the exact
    re-clustering from signatures alone — reconciles them. That is the
    deliberate trade: exact-at-compaction, one-pass-cheap-while-
    streaming. Crash contract matches the siblings: optional ``sink``
    (admitted rows + cluster/weight) runs BEFORE the store append, so
    an at-least-once retry re-admits rather than silently losing rows.

    Returns (id_col, cluster_id, n_cluster, weight) for the batch.
    """
    spark = new_docs.sparkSession
    sig = minhash_signatures(
        new_docs, text_col, id_col, num_hashes, shingle_k
    ).localCheckpoint(eager=True)
    banded = band_keys(sig, id_col, num_hashes, bands)
    # Same bootstrap-only contract as incremental_minhash_dedup.
    # Tombstoned members leave their clusters logically here;
    # compact_soft_store re-derives labels without them, so
    # counts/weights reconcile at the next compaction.
    mh_ddl = ", ".join(f"mh_{i} string" for i in range(num_hashes))
    store_sig = stores.read_live(
        spark, store_path, "sigs", id_col, required=mh_ddl,
        required_names=(id_col, "cluster_id"), missing_ok=True,
    )
    if store_sig is None:
        id_type = sig.schema[id_col].dataType.simpleString()
        store_sig = local_frame(
            spark, [], f"{id_col} {id_type}, {mh_ddl}, cluster_id {id_type}"
        )
    # The store is referenced three times (band keys, verification
    # join, cluster counts) but deliberately NOT checkpointed: each
    # reference is a plain column-pruned parquet re-scan, which at
    # O(corpus) store size beats copying the whole store to local
    # disk every micro-batch (the incremental_minhash_dedup rule).
    # No read-your-own-append hazard: the store append below only
    # scans `sig` ⋈ `flagged`, and flagged is pinned first.
    store_banded = band_keys(store_sig, id_col, num_hashes, bands)

    def n_eq(a: str, b: str):
        out = F.lit(0)
        for i in range(num_hashes):
            out = out + F.when(
                F.col(f"{a}.mh_{i}") == F.col(f"{b}.mh_{i}"), 1
            ).otherwise(0)
        return out

    verified = F.col("n_eq") * F.lit(eq_den) >= F.lit(eq_num * num_hashes)

    edges_store = (
        banded.alias("n")
        .join(
            store_banded.alias("c"),
            (F.col("n.band") == F.col("c.band")) & (F.col("n.key") == F.col("c.key")),
        )
        .select(
            F.col(f"n.{id_col}").alias("nid"), F.col(f"c.{id_col}").alias("cid")
        )
        .distinct()
        .join(sig.alias("a"), F.col("nid") == F.col(f"a.{id_col}"))
        .join(store_sig.alias("b"), F.col("cid") == F.col(f"b.{id_col}"))
        .select("nid", F.col("b.cluster_id").alias("ccl"), n_eq("a", "b").alias("n_eq"))
        .filter(verified)
        .select(F.col("nid").alias("u"), F.col("ccl").alias("v"))
        .distinct()
    )
    edges_batch = (
        banded.alias("n")
        .join(
            banded.alias("m"),
            (F.col("n.band") == F.col("m.band"))
            & (F.col("n.key") == F.col("m.key"))
            & (F.col(f"m.{id_col}") < F.col(f"n.{id_col}")),
        )
        .select(
            F.col(f"n.{id_col}").alias("nid"), F.col(f"m.{id_col}").alias("mid")
        )
        .distinct()
        .join(sig.alias("a"), F.col("nid") == F.col(f"a.{id_col}"))
        .join(sig.alias("b"), F.col("mid") == F.col(f"b.{id_col}"))
        .select("nid", "mid", n_eq("a", "b").alias("n_eq"))
        .filter(verified)
        .select(F.col("nid").alias("u"), F.col("mid").alias("v"))
    )
    comp = (
        connected_components_star(
            edges_store.union(edges_batch), src="u", dst="v"
        )
        # rename before joining back: id_col is itself "doc_id" in the
        # default contract, which would make the join condition
        # ambiguous
        .select(F.col("doc_id").alias("__node"), F.col("cluster_id").alias("__cl"))
        .localCheckpoint(eager=True)
    )
    assign = (
        new_docs.select(id_col)
        .join(comp, F.col(id_col) == F.col("__node"), "left")
        .select(
            id_col,
            F.coalesce(F.col("__cl"), F.col(id_col)).alias("cluster_id"),
        )
    )
    # running sizes: store members of every OLD cluster label merged
    # into this component + this batch's members
    store_counts = store_sig.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("__n")
    )
    merged_store = (
        comp.join(
            store_counts,
            F.col("__node") == store_counts["cluster_id"],
        )
        .groupBy(F.col("__cl").alias("cluster_id"))
        .agg(F.sum("__n").alias("n_store"))
    )
    batch_counts = assign.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_batch")
    )
    flagged = (
        assign.join(batch_counts, "cluster_id")
        .join(merged_store, "cluster_id", "left")
        .select(
            id_col,
            "cluster_id",
            (F.col("n_batch") + F.coalesce(F.col("n_store"), F.lit(0))).alias(
                "n_cluster"
            ),
        )
        .withColumn(
            "weight", F.round(F.lit(1.0) / F.col("n_cluster"), 9)
        )
        .localCheckpoint(eager=True)
    )
    if sink is not None:
        sink(new_docs.join(flagged, id_col))
    stores.append(
        sig.join(flagged.select(id_col, "cluster_id"), id_col), store_path, "sigs"
    )
    return flagged


def compact_minhash_store(
    spark, store_path: str, bytes_per_file: int = 128 << 20
) -> None:
    """Store-lifecycle companion to :func:`incremental_minhash_dedup`:
    every batch APPENDS one commit's worth of files to
    ``{store_path}/sigs``, so after thousands of batches the store is
    thousands of small files and every candidate lookup pays the
    file-listing + tiny-scan tax. Rewrite the store into
    ⌈size/``bytes_per_file``⌉ right-sized files through
    :func:`stores.compact` (no appends meanwhile). The row set is
    IDENTICAL so candidate lookup across a compaction is invariant
    (pinned by ``tests/test_dedup.py::
    test_minhash_store_compaction_lookup_invariance``) — except rows
    tombstoned by :func:`stores.delete`, which this pass
    physically drops.
    """
    stores.compact(
        spark, store_path, {"sigs": {}}, id_col=lambda df: df.columns[0],
        bytes_per_file=bytes_per_file,
    )


def compact_soft_store(
    spark,
    store_path: str,
    bytes_per_file: int = 128 << 20,
    id_col: str = "doc_id",
    num_hashes: int = 8,
    bands: int = 4,
    eq_num: int = 1,
    eq_den: int = 2,
) -> None:
    """Compaction for the SOFT-dedup store that also RECONCILES the
    provisional admission-time cluster labels: besides rewriting
    ``{store_path}/sigs`` into right-sized files (published as the next
    generation, as :func:`compact_minhash_store` does), every row's
    ``cluster_id`` is replaced by the EXACT label — the
    band-bucket → signature-agreement → star-CC clustering of the
    signatures alone, so a bridge doc that merged
    two clusters after its members were admitted stops splitting their
    running counts. After this, :func:`soft_dedup_admit`'s running
    sizes/labels are exact AS OF the compaction point (later batches
    can of course bridge again — run compaction periodically, between
    appends).

    Cost: one clustering pass over signatures (~K×8 bytes/doc — no
    text anywhere) folded into a rewrite the store needed anyway.
    Candidate-lookup invariance still holds (the id and mh_* columns
    are untouched).
    """
    def relabel(live, _tomb):
        sigs = live["sigs"].localCheckpoint(eager=True)
        bare = sigs.drop("cluster_id")
        cand = minhash_lsh_pairs(
            bare, id_col=id_col, num_hashes=num_hashes, bands=bands,
            precomputed_sig=bare,
        )

        def n_eq(a: str, b: str):
            out = F.lit(0)
            for i in range(num_hashes):
                out = out + F.when(
                    F.col(f"{a}.mh_{i}") == F.col(f"{b}.mh_{i}"), 1
                ).otherwise(0)
            return out

        pairs = (
            cand.join(bare.alias("a"), F.col("id_a") == F.col(f"a.{id_col}"))
            .join(bare.alias("b"), F.col("id_b") == F.col(f"b.{id_col}"))
            .select("id_a", "id_b", n_eq("a", "b").alias("n_eq"))
            .filter(F.col("n_eq") * F.lit(eq_den) >= F.lit(eq_num * num_hashes))
            .select("id_a", "id_b")
        )
        cc = connected_components_star(pairs).select(
            F.col("doc_id").alias("__node"), F.col("cluster_id").alias("__cl")
        )
        relabeled = (
            bare.join(cc, F.col(id_col) == F.col("__node"), "left")
            .withColumn(
                "cluster_id", F.coalesce(F.col("__cl"), F.col(id_col))
            )
            .select(*sigs.columns)
        )
        return {"sigs": relabeled}

    stores.compact(
        spark,
        store_path,
        {"sigs": {
            "required": ", ".join(f"mh_{i} string" for i in range(num_hashes)),
            "required_names": (id_col, "cluster_id"),
        }},
        relabel,
        id_col=id_col,
        bytes_per_file=bytes_per_file,
    )
