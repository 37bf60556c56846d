"""Training-data-pipeline extension queries over the `documents` and
`embeddings` fixtures: dedup family, text analysis, similarity search,
multimodal plumbing.

Same contract as plans.measures: ``q_*`` functions (spark, sf_dir) →
DataFrame, ORACLES maps names → DuckDB SQL with identical column
names/types. Sketch operators whose hash family can't be replayed in
ANSI SQL (SimHash bit votes, frame sampling) are registered without an
oracle — the driver records a rows-only check for those, by design.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text as T
from ..operators import corpus as C
from ..operators import dedup as D
from ..operators import multimodal as M
from ..operators import similarity as S
from .measures import t


# ---------------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------------


def q_x_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content digest (hash-groupBy; uniform shuffle key)."""
    return D.exact_dedup(t(spark, sf_dir, "documents"))


def q_x_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs (md5 hash family → SQL-replayable)."""
    return D.minhash_lsh_pairs(t(spark, sf_dir, "documents"))


def q_x_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH pairs resolved to duplicate clusters (each doc labeled with
    its component's smallest doc_id — the canonical survivor). Runs
    the large-star/small-star contraction (O(log diameter) rounds —
    Kiveris et al., "Connected Components in MapReduce and Beyond"),
    promoted round 9 to be THE headline/bench form since it is the
    algorithm a 100 TB corpus needs; the O(diameter) min-label
    propagation variant stays gated as x_dedup_clusters_minlabel and
    equivalence-tested in tests/test_dedup.py. Oracle is a recursive
    CTE over the same pair set — identical for any correct CC."""
    pairs = D.minhash_lsh_pairs(t(spark, sf_dir, "documents"))
    return D.connected_components_star(pairs)


def q_x_normalized_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over the NORMALIZED content key (lowercase,
    punctuation→space, collapsed whitespace): catches surface-form
    duplicates that byte-exact hashing misses. Reports per-source
    raw-distinct vs normalized-distinct counts — the gap is the
    surface-dup rate normalization recovers. Map-side key derivation,
    one agg shuffle."""
    d = t(spark, sf_dir, "documents")
    keyed = d.select(
        "source",
        F.md5("text").alias("raw_key"),
        F.md5(T.normalize_text("text")).alias("norm_key"),
    )
    return keyed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("raw_key").alias("n_raw_distinct"),
        F.countDistinct("norm_key").alias("n_norm_distinct"),
    )


def q_x_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints. Oracle-checked as of round 4: the bit
    votes are md5-derived (engine-portable), so DuckDB replays the
    full ±1-vote aggregation with shift/mask SQL — earlier rounds
    wrongly classed this rows-only; the pure-Python reference test in
    tests/test_dedup.py stays as a second, independent pin."""
    return D.simhash(t(spark, sf_dir, "documents"))


def q_x_dedup_minhash_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate pairs scored by the MinHash Jaccard estimate
    (signature-agreement fraction) — the cheap gate between LSH
    candidates and exact verification."""
    return D.minhash_estimate_pairs(t(spark, sf_dir, "documents"))


def q_x_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs (the sketch baseline)."""
    return D.ngram_jaccard_pairs(t(spark, sf_dir, "documents"), threshold=0.2)


def q_x_lsh_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality audit: exact word-3-gram Jaccard computed ONLY
    on the LSH candidate pairs (never the all-pairs join — the whole
    point of banding survives into the audit), reported as candidate
    count, count with true Jaccard ≥ 0.2, and precision. This is the
    recurring production health-check that the banding parameters
    still fit the corpus's dup density."""
    d = t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(d)
    sh = d.select(
        "doc_id",
        F.explode(F.array_distinct(T.shingles("text", 3))).alias("sh"),
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    inter = (
        pairs.join(
            sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a")),
            "id_a",
        )
        .join(
            sh.select(F.col("doc_id").alias("id_b2"), F.col("sh").alias("sh_b")),
            (F.col("id_b") == F.col("id_b2")) & (F.col("sh_a") == F.col("sh_b")),
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    scored = (
        pairs.join(inter, ["id_a", "id_b"], "left")
        .join(sizes.select(F.col("doc_id").alias("id_a"),
                           F.col("n_sh").alias("n_a")), "id_a")
        .join(sizes.select(F.col("doc_id").alias("id_b"),
                           F.col("n_sh").alias("n_b")), "id_b")
        .select(
            F.try_divide(
                F.coalesce(F.col("n_common"), F.lit(0)).cast("double"),
                F.col("n_a") + F.col("n_b")
                - F.coalesce(F.col("n_common"), F.lit(0)),
            ).alias("jaccard")
        )
    )
    return scored.agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.count(F.when(F.col("jaccard") >= 0.2, 1)).alias("n_true"),
        F.try_divide(
            F.count(F.when(F.col("jaccard") >= 0.2, 1)), F.count(F.lit(1))
        ).alias("precision"),
    )


def q_x_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The other half of the sketch-health pair (x_lsh_precision):
    RECALL of LSH banding against exact ground truth — what fraction
    of truly-similar pairs (3-gram Jaccard ≥ 0.2) the candidate set
    catches. Ground truth needs the exact pair join, so it runs on a
    bounded audit slice (doc_id < 200), the eval-harness contract: at
    100 TB the audit samples, production banding never pays the exact
    join. Output: n_truth, n_caught, recall."""
    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    # pinned: truth feeds both the semi-join and its own count — the
    # exact pair join must not run twice
    truth = D.ngram_jaccard_pairs(d, threshold=0.2).select(
        "id_a", "id_b"
    ).localCheckpoint(eager=True)
    cands = D.minhash_lsh_pairs(d).select(
        F.col("id_a").alias("c_a"), F.col("id_b").alias("c_b")
    )
    caught = truth.join(
        cands,
        (F.col("id_a") == F.col("c_a")) & (F.col("id_b") == F.col("c_b")),
        "left_semi",
    )
    return truth.agg(F.count(F.lit(1)).alias("n_truth")).crossJoin(
        caught.agg(F.count(F.lit(1)).alias("n_caught"))
    ).select(
        "n_truth",
        "n_caught",
        F.try_divide(F.col("n_caught"), F.col("n_truth")).alias("recall"),
    )


def q_x_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprinting (winnowing / MOSS): pairs
    sharing ≥2 window-min 3-gram hashes — the guaranteed-coverage
    subsampled rung between MinHash sketches and the exact n-gram join."""
    return D.winnow_pairs(t(spark, sf_dir, "documents"), k=3, w=4, min_shared=2)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


def q_x_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality scoring per document."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars_calc"),
        T.token_count("text").alias("n_tokens"),
        T.avg_token_len("text").alias("avg_token_len"),
        T.stopword_count("text").alias("n_stopwords"),
        T.stopword_ratio("text").alias("stopword_ratio"),
    )


def q_x_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting both ways — whitespace and BPE-ish regex split —
    plus their ratio (the tokens-per-word statistic data pipelines use
    to budget sequence lengths)."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        T.token_count("text").alias("n_ws_tokens"),
        T.bpe_token_count("text").alias("n_bpe_tokens"),
        F.try_divide(T.bpe_token_count("text"), T.token_count("text")).alias(
            "bpe_per_word"
        ),
    )


def q_x_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus TF-IDF per source slice (natural-log IDF, N as a 1-row
    broadcast scalar — no driver collect)."""
    return C.tfidf_by_group(t(spark, sf_dir, "documents"))


def q_x_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-5 retrieval (operators/corpus.py: bm25_topk) — the
    scored inverted-index probe on top of the TF-IDF statistics: the
    5 most frequent corpus bigrams become two-term queries, postings
    join against the broadcast query-term list, and each query's
    top-5 documents rank by the exact DECIMAL(28,12) score sum."""
    return C.bm25_topk(t(spark, sf_dir, "documents"))


def q_x_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS drift test (operators/quality.py: ks_drift) —
    each source slice's n_chars distribution vs the rest of the
    corpus, with the sup evaluated in exact integer cross-multiplied
    form so the oracle replays bit-for-bit."""
    from ..operators.quality import ks_drift

    return ks_drift(t(spark, sf_dir, "documents"))


def q_x_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index (operators/quality.py: psi_drift) —
    each source slice's n_chars histogram vs the rest of the corpus
    over 10 global equal-width buckets, add-one smoothed; integer
    bucketing, round-12 decimal term sum."""
    from ..operators.quality import psi_drift

    return psi_drift(t(spark, sf_dir, "documents"))


def q_x_w1_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wasserstein-1 drift distance (operators/quality.py: w1_drift)
    — the integral of each source slice's ECDF gap vs the rest of the
    corpus, in value units; the "how far did lengths move" companion
    to x_ks_drift's sup. Integer cross-multiplied summands, one exact
    division at the end."""
    from ..operators.quality import w1_drift

    return w1_drift(t(spark, sf_dir, "documents"))


def q_x_chi2_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square homogeneity test (operators/quality.py: chi2_drift)
    — each source slice's LANGUAGE mix vs the rest of the corpus; the
    categorical member of the drift family (KS/W1/PSI are numeric,
    JS is token-level). All-integer deviations, round-12 decimal term
    sum, Wilson–Hilferty 95% critical value."""
    from ..operators.quality import chi2_drift

    return chi2_drift(t(spark, sf_dir, "documents"))


def q_x_psi_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver row for the STREAMING drift monitor
    (operators/quality.psi_admit): replay two micro-batches one-shot —
    even doc_ids bootstrap the history, odd doc_ids score against it —
    and emit each batch's PSI row. Store lives in a per-call temp dir
    (the x_incremental_neardup pattern). Frozen edges [0, 4095];
    batch 0 scores against the empty history's uniform add-one
    reference, replayed literally by the oracle."""
    import shutil
    import tempfile

    from ..operators.quality import psi_admit

    d = t(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="spark_graft_psi_drain_")
    try:
        f0 = psi_admit(d.filter(F.col("doc_id") % 2 == 0), tmp)
        f1 = psi_admit(d.filter(F.col("doc_id") % 2 == 1), tmp)
        out = f0.select(
            F.lit(0).cast("bigint").alias("batch"), "*"
        ).unionByName(
            f1.select(F.lit(1).cast("bigint").alias("batch"), "*")
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def q_x_chi2_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver row for the STREAMING categorical drift monitor
    (operators/quality.chi2_admit): replay two micro-batches one-shot
    — even doc_ids bootstrap the category history (cold start: NULL
    statistic, chi2_defined false), odd doc_ids score against it —
    and emit each batch's row. Store in a per-call temp dir; batch
    1's statistic is exactly chi2_drift's collapsed integer form with
    (odd, even) as the two samples, replayed literally by the
    oracle."""
    import shutil
    import tempfile

    from ..operators.quality import chi2_admit

    d = t(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="spark_graft_chi2_drain_")
    try:
        f0 = chi2_admit(d.filter(F.col("doc_id") % 2 == 0), tmp)
        f1 = chi2_admit(d.filter(F.col("doc_id") % 2 == 1), tmp)
        out = f0.select(
            F.lit(0).cast("bigint").alias("batch"), "*"
        ).unionByName(
            f1.select(F.lit(1).cast("bigint").alias("batch"), "*")
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def q_x_bm25_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver row for the INCREMENTAL retrieval index
    (operators/corpus.bm25_index_append / bm25_query_store): replay a
    two-batch ingest one-shot — even doc_ids land first, odd doc_ids
    second, each APPENDING postings to a per-call temp store — then
    retrieve the corpus-bigram query set from the store. Postings are
    disjoint-by-doc and additive, so the store-built index must score
    IDENTICALLY to the one-shot x_bm25 — the oracle is literally the
    x_bm25 SQL. The result is materialized (localCheckpoint) before
    the temp store is deleted."""
    import shutil
    import tempfile

    d = t(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="spark_graft_bm25_drain_")
    try:
        C.bm25_index_append(d.filter(F.col("doc_id") % 2 == 0), tmp)
        C.bm25_index_append(d.filter(F.col("doc_id") % 2 == 1), tmp)
        out = C.bm25_query_store(
            spark, tmp, C.corpus_bigram_queries(d)
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def q_x_bm25_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver row for STORE TAKEDOWNS on the retrieval index (round
    15 — operators/corpus.bm25_delete_docs over the append-only
    tombstone set, operators/stores.delete): index the FULL corpus
    into a per-call temp store, tombstone every doc_id % 7 == 0, then
    retrieve. The tombstone anti-join re-derives N, avgdl and
    doc_freq from the surviving postings, so the post-delete store
    must score IDENTICALLY to a one-shot index over the reduced
    corpus — the oracle is the x_bm25 SQL with the delete predicate
    folded into both corpus scans (queries drawn from the reduced
    corpus's bigrams on both sides)."""
    import shutil
    import tempfile

    d = t(spark, sf_dir, "documents")
    keep = d.filter(F.col("doc_id") % 7 != 0)
    tmp = tempfile.mkdtemp(prefix="spark_graft_bm25_delete_")
    try:
        C.bm25_index_append(d, tmp)
        C.bm25_delete_docs(
            d.filter(F.col("doc_id") % 7 == 0).select("doc_id"), tmp
        )
        out = C.bm25_query_store(
            spark, tmp, C.corpus_bigram_queries(keep)
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def q_x_ann_nsw_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver row for TAKEDOWNS on the persisted graph-ANN index
    (round 15 — operators/similarity.nsw_delete): copy the cached
    two-batch gate store, tombstone every vec_id % 10 == 7, query
    through nsw_query_index. Deleted ids must vanish from the top-k
    (``clean``) while still routing (nsw_topk's soft-delete
    contract), and recall@5 vs brute force over the SURVIVING corpus
    must clear the same 0.4 floor as x_ann_hnsw_store — the oracle is
    the x_ann_hnsw SQL over the reduced base plus the clean flag."""
    import os
    import shutil
    import tempfile

    e = t(spark, sf_dir, "embeddings")
    deleted = e.filter(F.col("vec_id") % 10 == 7).select("vec_id")
    kept = e.join(deleted, "vec_id", "left_anti")
    q = e.filter(F.col("vec_id") < 5)
    src = _nsw_gate_store(spark, sf_dir)
    tmp = os.path.join(
        tempfile.mkdtemp(prefix="spark_graft_nsw_delete_"), "store"
    )
    shutil.copytree(src, tmp, symlinks=True)
    try:
        S.nsw_delete(deleted, tmp)
        approx = (
            S.nsw_query_index(spark, tmp, q, k=5)
            .select(
                F.col("q_id").alias("a_qid"), F.col("vec_id").alias("a_vid")
            )
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(os.path.dirname(tmp), ignore_errors=True)
    truth = S.brute_force_topk(kept, q, k=5).select("q_id", "vec_id")
    hits = truth.join(
        approx,
        (F.col("q_id") == F.col("a_qid"))
        & (F.col("vec_id") == F.col("a_vid")),
        "left",
    )
    n_dirty = approx.join(
        deleted, approx["a_vid"] == deleted["vec_id"]
    ).count()
    return hits.groupBy("q_id").agg(
        F.count(F.lit(1)).alias("n_truth"),
        (
            F.count(F.col("a_vid")).cast("double")
            / F.count(F.lit(1)).cast("double")
            >= 0.4
        ).alias("recall_ok"),
        F.lit(n_dirty == 0).alias("clean"),
    )


def q_x_ks_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver row for the STREAMING KS drift monitor
    (operators/quality.ks_admit): replay two micro-batches one-shot —
    even doc_ids seed the t-digest history, odd doc_ids score against
    it — and audit each batch row. Counts are EXACT (n_batch; n_hist
    because digests preserve total weight), so the oracle pins them
    literally; the KS statistic itself is digest-approximate, so it is
    audited Spark-side in the x_tdigest_drain tolerance form:
    batch 0's statistic must be undefined (cold start), batch 1's must
    sit within 0.02 of the EXACT two-sample KS between the odd and
    even halves (ks_drift on the parity split; delta=500 keeps the
    digest's CDF interpolation error well under the tolerance)."""
    import shutil
    import tempfile

    from ..operators.quality import ks_admit, ks_drift

    d = t(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="spark_graft_ks_drain_")
    try:
        f0 = ks_admit(d.filter(F.col("doc_id") % 2 == 0), tmp, delta=500)
        f1 = ks_admit(d.filter(F.col("doc_id") % 2 == 1), tmp, delta=500)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    exact = (
        ks_drift(
            d.select(
                (F.col("doc_id") % 2).alias("parity"), F.col("n_chars")
            ),
            value_col="n_chars",
            group_col="parity",
        )
        .filter(F.col("parity") == 1)
        .select(F.col("ks_stat").alias("ks_exact"))
    )
    b0 = f0.select(
        F.lit(0).cast("bigint").alias("batch"),
        "n_batch",
        "n_hist",
        F.col("ks_stat").isNotNull().alias("ks_defined"),
        F.lit(True).alias("ks_ok"),
    )
    b1 = f1.join(F.broadcast(exact)).select(
        F.lit(1).cast("bigint").alias("batch"),
        "n_batch",
        "n_hist",
        F.col("ks_stat").isNotNull().alias("ks_defined"),
        (F.abs(F.col("ks_stat") - F.col("ks_exact")) <= F.lit(0.02)).alias(
            "ks_ok"
        ),
    )
    return b0.unionByName(b1)


def q_x_w1_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver row for the STREAMING Wasserstein-1 drift monitor
    (operators/quality.w1_admit, round 13 — completes the admission
    family: batch KS/PSI/W1/chi2 each now have a streaming sibling):
    replay two micro-batches one-shot — even doc_ids seed the
    t-digest history, odd doc_ids score against it. The x_ks_drain
    audit form: counts are EXACT and oracle-pinned; the W1 statistic
    is digest-approximate, so batch 0 must be undefined (cold start)
    and batch 1's value must sit within 2% of the n_chars hull of the
    EXACT parity-split w1_drift (delta=500 → near-singleton centroids
    at gate scale; the residual is the midrank-interpolation offset,
    bounded by hull/(2·n) per side — well under the 2% audit band)."""
    import shutil
    import tempfile

    from ..operators.quality import w1_admit, w1_drift

    d = t(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="spark_graft_w1_drain_")
    try:
        f0 = w1_admit(d.filter(F.col("doc_id") % 2 == 0), tmp, delta=500)
        f1 = w1_admit(d.filter(F.col("doc_id") % 2 == 1), tmp, delta=500)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    exact = (
        w1_drift(
            d.select(
                (F.col("doc_id") % 2).alias("parity"), F.col("n_chars")
            ),
            value_col="n_chars",
            group_col="parity",
        )
        .filter(F.col("parity") == 1)
        .select(F.col("w1_dist").alias("w1_exact"))
    )
    hull = d.filter(F.col("n_chars").isNotNull()).agg(
        (
            F.max("n_chars").cast("double")
            - F.min("n_chars").cast("double")
        ).alias("hull")
    )
    b0 = f0.select(
        F.lit(0).cast("bigint").alias("batch"),
        "n_batch",
        "n_hist",
        F.col("w1_dist").isNotNull().alias("w1_defined"),
        F.lit(True).alias("w1_ok"),
    )
    b1 = f1.join(F.broadcast(exact)).join(F.broadcast(hull)).select(
        F.lit(1).cast("bigint").alias("batch"),
        "n_batch",
        "n_hist",
        F.col("w1_dist").isNotNull().alias("w1_defined"),
        (
            F.abs(F.col("w1_dist") - F.col("w1_exact"))
            <= F.lit(0.02) * F.col("hull")
        ).alias("w1_ok"),
    )
    return b0.unionByName(b1)


def q_x_mlt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF "more like this" (operators/corpus.more_like_this)
    — top-3 related documents per query doc (doc_id % 29 == 0) by
    postings-join cosine with the 0.5·N hot-term bound; the term-space
    sibling of the dense x_ann_* family. Round-12 decimal dot/norm
    sums; one IEEE float expression for the cosine; rank by its 12-dp
    rounding, candidate-id tie-break."""
    d = t(spark, sf_dir, "documents")
    return C.more_like_this(
        d, d.filter(F.col("doc_id") % 29 == 0).select("doc_id")
    )


def q_x_mlt_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver row for STORE-BACKED more-like-this
    (operators/corpus.mlt_query_store, round 13 — the round-12
    verdict's productionization of the materialize-the-index trade):
    replay a two-batch ingest one-shot — even doc_ids append postings
    first, odd doc_ids second (the x_bm25_drain split, same store
    layout) — then score the x_mlt query set (doc_id % 29 == 0) from
    the store. Postings are disjoint-by-doc and additive and the
    store's distinct-doc count equals the NON-NULL-text corpus count
    (round-14 fix: NULL-text docs own no postings, and the one-shot N
    counts text-bearing docs only — mlt_query_store's corrected
    contract), so store-backed MLT must
    rank IDENTICALLY to the one-shot x_mlt — the oracle is literally
    the x_mlt SQL. Materialized before the temp store is deleted."""
    import shutil
    import tempfile

    d = t(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="spark_graft_mlt_drain_")
    try:
        C.bm25_index_append(d.filter(F.col("doc_id") % 2 == 0), tmp)
        C.bm25_index_append(d.filter(F.col("doc_id") % 2 == 1), tmp)
        out = C.mlt_query_store(
            spark, tmp, d.filter(F.col("doc_id") % 29 == 0).select("doc_id")
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def q_x_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval (operators/similarity.py: rrf_fuse) — fuse the
    sparse TF-IDF more-like-this leg (x_mlt's plan, top-10) with the
    dense embedding-cosine leg (x_ann_bruteforce's plan over the same
    % 29 query ids, top-10) by reciprocal-rank fusion, c = 60: the
    calibration-free sparse+dense combiner every modern retrieval
    stack runs. Top-5 per query; NULL leg-ranks mark single-leg
    candidates."""
    d = t(spark, sf_dir, "documents")
    e = t(spark, sf_dir, "embeddings")
    sparse = C.more_like_this(
        d, d.filter(F.col("doc_id") % 29 == 0).select("doc_id"), k=10
    )
    dense = S.brute_force_topk(
        e, e.filter(F.col("vec_id") % 29 == 0), k=10
    ).select(
        F.col("q_id").alias("query_id"),
        F.col("vec_id").alias("doc_id"),
        "rnk",
    )
    return S.rrf_fuse(
        sparse.select("query_id", "doc_id", "rnk"), dense, k=5
    )


def q_x_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document (functions/text.py:
    readability_stats) — vowel-group syllables, terminal-punctuation
    sentences floored at 1, literal score expression tree; map-only,
    fuses into the scan."""
    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", *T.readability_stats("text"))


def q_x_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF·IDF keyphrases (operators/corpus.py:
    doc_keyphrases) — the metadata-enrichment tagger; round-12
    decimal score ordering, term-asc tie break, two-phase
    WindowGroupLimit top-k."""
    return C.doc_keyphrases(t(spark, sf_dir, "documents"))


def q_x_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon divergence of each source's unigram distribution
    vs the rest of the corpus (operators/corpus.py:
    js_divergence_by_group) — the content-level drift metric next to
    the length-level x_ks_drift/x_psi_drift; zero-row-free
    decomposition, round-12 decimal sums."""
    return C.js_divergence_by_group(t(spark, sf_dir, "documents"))


def q_x_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-smoothed (alpha=0.5) per-source sampling weights for
    the training mix."""
    return C.source_mixture(t(spark, sf_dir, "documents"))


def q_x_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source shingle-set Jaccard matrix — leakage check between
    corpus slices before mixing them into a training set."""
    return C.source_overlap(t(spark, sf_dir, "documents"))


def q_x_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing into 512-token training bins, packed
    independently inside 8 md5-hash pack-groups (the scale path — no
    global sort; replayable hash so the oracle agrees)."""
    return C.pack_sequences(
        t(spark, sf_dir, "documents"), budget=512, partitions=8
    )


def q_x_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking (64-token windows, stride 48) — pure
    map-side sequence/explode/slice, zero shuffle."""
    return C.chunk_documents(t(spark, sf_dir, "documents"))


def q_x_chunk_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-aware greedy chunking
    (operators/corpus.chunk_sentences, round 13): whole-sentence
    packing into ≤32-token chunks. The synthetic corpus carries no
    punctuation, so the gate derives a sentence-ful corpus
    deterministically first — a period after every 'batch'/'data'/
    'join' token — giving ~5–15 sentences and 2–4 chunks per doc;
    the oracle replays the same injection and the greedy fold as a
    recursive CTE. Map-only both sides of the derivation; zero
    shuffle in the chunker."""
    d = t(spark, sf_dir, "documents").withColumn(
        "text",
        F.regexp_replace(F.col("text"), r"\b(batch|data|join) ", "$1. "),
    )
    return C.chunk_sentences(d, max_tokens=32)


def q_x_length_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language length winsorization report (exact percentile —
    matches DuckDB quantile_cont; approx_percentile is the 100 TB
    path, tolerance-tested in tests/test_scale_paths.py)."""
    from ..operators.quality import length_clip

    return length_clip(t(spark, sf_dir, "documents"))


def q_x_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (80/10/10 by id modulus —
    replayable and stable across runs; use a content-hash modulus when
    ids are not uniformly distributed), reported per language."""
    d = t(spark, sf_dir, "documents")
    bucket = F.pmod(F.col("doc_id"), F.lit(100))
    split = (
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        d.select("lang", split.alias("split"))
        .groupBy("lang", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def q_x_dedup_clusters_minlabel(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Same duplicate clusters via iterative min-label propagation —
    the O(diameter) simple form, kept registered (renamed from
    x_dedup_clusters_star in round 9 when star contraction became the
    headline x_dedup_clusters) so both algorithms stay under the
    oracle gate; must match the identical recursive CTE."""
    pairs = D.minhash_lsh_pairs(t(spark, sf_dir, "documents"))
    return D.connected_components(pairs)


def q_x_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split (operators/corpus.py:
    cluster_split): the split unit is the near-dup CLUSTER — a plain
    per-doc modulus split puts near-identical documents on opposite
    sides of the train/test boundary (the contamination mode Lee et
    al. 2022 §6 measures); here every doc inherits its cluster's
    canonical id before the modulus, so whole near-dup families land
    in one split by construction. Per-doc assignment output; the
    oracle replays clustering with the recursive reach CTE and the
    identical modulus arithmetic."""
    from ..operators.corpus import cluster_split

    d = t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(d)
    return cluster_split(d, pairs).select("doc_id", "cluster_id", "split")


def q_x_softdedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOFT deduplication: instead of dropping near-duplicates, every
    document gets sampling weight 1/|its near-dup cluster| — total
    probability mass per distinct content stays ~constant while no
    text is discarded (the soft alternative to hard dedup used when
    duplicates carry signal, e.g. quality-correlated repetition).
    Same star-CC clustering as x_cluster_split; singletons weigh 1.
    Weight arithmetic is one double division, rounded 9 dp for the
    cross-engine hash."""
    d = t(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(d)
    cc = D.connected_components_star(pairs).select(
        "doc_id", "cluster_id"
    )
    keyed = d.select("doc_id").join(cc, "doc_id", "left").withColumn(
        "cluster_id", F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    )
    sizes = keyed.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_dups")
    )
    return keyed.join(sizes, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "n_dups",
        F.round(F.lit(1.0) / F.col("n_dups"), 9).alias("weight"),
    )


def q_x_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling: keep 100% of en, 50% of
    zh, 25% of everything else, by content-hash bucket; reported as
    per-language kept counts (map-side filter, no shuffle until the
    final count)."""
    from ..operators.quality import stratified_sample

    d = t(spark, sf_dir, "documents")
    kept = stratified_sample(d, "lang", {"en": 100, "zh": 50}, default_rate=25)
    return kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_kept"))


def q_x_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic + agreement count vs the labeled lang."""
    d = t(spark, sf_dir, "documents")
    return (
        d.select("doc_id", "lang", T.lang_id("text").alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def q_x_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: sorted-token-bag md5 → dup groups."""
    d = t(spark, sf_dir, "documents")
    return (
        d.select("doc_id", T.fingerprint("text").alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_docs"))
    )


def q_x_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: inject deterministic synthetic PII (email, phone,
    URL derived from doc_id) into every document, then count and redact
    each PII class. Hash of the redacted text is compared, proving the
    redactor byte-for-byte against the oracle's regexp chain."""
    d = t(spark, sf_dir, "documents")
    injected = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" Contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@mail.example.com or call +1 555-000-"),
            F.col("doc_id").cast("string"),
            F.lit(" visit https://ex.example/d/"),
            F.col("doc_id").cast("string"),
        ).alias("t"),
    )
    return injected.select(
        "doc_id",
        F.regexp_count("t", F.lit(T.PII_URL)).cast("bigint").alias("n_urls"),
        F.regexp_count("t", F.lit(T.PII_EMAIL)).cast("bigint").alias("n_emails"),
        F.regexp_count("t", F.lit(T.PII_PHONE)).cast("bigint").alias("n_phones"),
        F.md5(T.redact_pii(F.col("t"))).alias("redacted_hash"),
    )


def q_x_card_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Luhn-gated card redaction (functions/text.py:redact_cards):
    every doc gets a deterministic 16-digit card-shaped span
    ('4' + 15 doc_id-derived digits); both engines independently run
    the Luhn checksum and the span is replaced with <CARD> only when
    it validates — proving checksum arithmetic AND the
    extract→filter→fold-replace chain byte-for-byte (a bare regex
    would redact every span; ~10% of these pass Luhn)."""
    d = t(spark, sf_dir, "documents")
    base = F.pmod((F.col("doc_id") + 7) * 1000003, F.lit(10**15))
    card = F.concat(F.lit("4"), F.lpad(base.cast("string"), 15, "0"))
    txt = F.concat(F.lit("pay "), card, F.lit(" now ref 12345"))
    return d.select(
        "doc_id",
        card.alias("card"),
        T.luhn_valid(card).alias("is_valid"),
        T.redact_cards(txt).alias("redacted"),
    )


def q_x_mojibake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-QA gate (round 10, functions/text.py mojibake_count /
    demojibake): detect UTF-8-decoded-as-Latin-1 double-encoding
    signatures ('Ã©', 'â€™', …) and lossy-decode replacement chars,
    and repair the enumerated digraphs with a replace chain — the
    cheap pre-model encoding hygiene pass a web-crawl curation runs.
    Fixture: doc_id % 7 == 3 rows get a mojibake suffix (5 signature
    hits), % 7 == 5 rows get a replacement char; everything is
    length/replace arithmetic, zero regex, zero UDF, and the oracle
    replays it literally."""
    d = t(spark, sf_dir, "documents")
    injected = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 3,
            F.concat(F.col("text"), F.lit(" cafÃ© â€™quoteâ€œ Ã¼ber Ã±")),
        )
        .when(
            F.col("doc_id") % 7 == 5,
            F.concat(F.col("text"), F.lit(" bad�byte")),
        )
        .otherwise(F.col("text"))
        .alias("t"),
    )
    return injected.select(
        "doc_id",
        T.mojibake_count(F.col("t")).alias("n_moji"),
        (T.mojibake_count(F.col("t")) == 0).alias("clean"),
        F.md5(T.demojibake(F.col("t"))).alias("repaired_hash"),
    )


# x_mojibake_full fixture suffixes (escapes, not raw glyphs — NBSP and
# the cp1252 0x80–0x9F block do not survive editors): BROKEN is CLEAN
# round-tripped utf-8→cp1252 per char, plus a double-encoded 'é'
# ('ÃƒÂ©') and a replacement char. Every signature here except 'Ã©'
# and 'Ã +NBSP' is OUTSIDE MOJIBAKE_MAP — the tail the full repair
# exists for.
_MOJI_BROKEN_SFX = (
    " caf\xc3\xa9 \xe2€” \xc5\xa1 \xc3Ÿ \xe2‚\xac"
    " na\xc3\xafve \xc3\xa0 \xc3ƒ\xc2\xa9 bad�byte"
)
_MOJI_CLEAN_SFX = (
    " caf\xe9 — š \xdf € na\xefve \xe0 \xe9 badbyte"
)


def q_x_mojibake_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL mojibake repair gate (round 11, functions/text.py
    demojibake_full): doc_id % 7 == 3 rows get a mis-decoded suffix
    whose signatures are mostly OUTSIDE the enumerated MOJIBAKE_MAP
    (em dash, š, ß, €, ï, a double-encoded é) — the tail the
    map-bounded JVM chain cannot reach. The generic cp1252→UTF-8
    round-trip repair runs as an Arrow-batched pandas_udf on ONLY the
    flagged sliver (filter-first, same pattern as the container
    decodes); the oracle knows the intended clean text by
    construction, so the gate is exact repaired-text parity via md5 —
    not a tolerance audit. Unflagged rows pass through the JVM-only
    branch and hash as their original text."""
    d = t(spark, sf_dir, "documents")
    injected = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 3,
            F.concat(F.col("text"), F.lit(_MOJI_BROKEN_SFX)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    repaired = T.demojibake_full(injected, "text")
    return repaired.select(
        "doc_id",
        (F.col("doc_id") % 7 == 3).alias("flagged"),
        F.md5(F.col("text")).alias("repaired_hash"),
    )


def q_x_url_canon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup key (round 11, functions/text.py
    canonical_url — the cheapest crawl-dedup rung, ahead of any
    content hash): four surface variants of the same logical page
    (host case + default port + fragment; tracker params; param
    order) must collapse to ONE canonical key. Fixture: page =
    doc_id div 4, variant = doc_id % 4 — every 4-doc group shares a
    page, so every canonical key counts exactly its surviving
    variants. Pure JVM string/regex/array expressions (RE2-safe, no
    lookaround) + one window count per canonical key; the oracle
    replays synthesis and every canonicalization rule literally."""
    from pyspark.sql import Window

    d = t(spark, sf_dir, "documents")
    page = F.expr("doc_id div 4")
    h = F.pmod(page, F.lit(5))
    base = F.concat(F.lit("site"), h.cast("string"), F.lit(".com/Page/"),
                    page.cast("string"))
    v = F.pmod(F.col("doc_id"), F.lit(4))
    url = (
        F.when(v == 0, F.concat(F.lit("https://www."), base, F.lit("?a=1&b=2")))
        .when(
            v == 1,
            F.concat(
                F.lit("HTTPS://WWW.SITE"), h.cast("string"),
                F.lit(".COM:443/Page/"), page.cast("string"),
                F.lit("?a=1&b=2#sec"),
            ),
        )
        .when(v == 2, F.concat(F.lit("https://www."), base, F.lit("?b=2&a=1")))
        .otherwise(
            F.concat(
                F.lit("https://www."), base,
                F.lit("?a=1&utm_source=feed&b=2"),
            )
        )
    )
    out = d.select(
        "doc_id", T.canonical_url(url).alias("canon_url")
    )
    return out.select(
        "doc_id",
        "canon_url",
        F.count(F.lit(1))
        .over(Window.partitionBy("canon_url"))
        .alias("n_same"),
    )


def q_x_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals (dup-token / dup-bigram
    ratios, top-token share) per document."""
    from ..operators.quality import repetition_stats

    return repetition_stats(t(spark, sf_dir, "documents"))


def q_x_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination report: docs sharing any word-3-gram
    with the pseudo eval split (doc_id % 50 == 0), with the count of
    shared distinct shingles."""
    from ..operators.quality import contamination_report

    d = t(spark, sf_dir, "documents")
    ev = d.filter(F.col("doc_id") % 50 == 0)
    train = d.filter(F.col("doc_id") % 50 != 0)
    return contamination_report(train, ev)


def q_x_bloom_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination screen — the constant-memory scale
    path of x_decontaminate: the eval split's shingles build an 8 KB
    bitmap (one bounded driver collect, like a k-means codebook), and
    the corpus probe is a ZERO-shuffle map-only pass with the bitmap
    folded into the plan. The oracle replays the identical double-hash
    position math via set membership — bit-set-in-bitmap ≡ position-in
    -set, false positives included, so the hash compare is exact."""
    from ..operators.quality import bloom_build, bloom_probe

    d = t(spark, sf_dir, "documents")
    ev = d.filter(F.col("doc_id") % 50 == 0)
    train = d.filter(F.col("doc_id") % 50 != 0)
    words = bloom_build(ev)
    return bloom_probe(train, words).orderBy("doc_id").limit(500)


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


def q_x_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for query vectors vec_id < 5."""
    e = t(spark, sf_dir, "embeddings")
    return S.brute_force_topk(e, e.filter(F.col("vec_id") < 5), k=5)


def q_x_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profile of the orders fact — null counts,
    distinct cardinality, min/max per column in a single aggregation
    (catalog-stats service). Strings carry min/max so every column
    type shares the report schema."""
    from ..operators.quality import profile_table

    return profile_table(t(spark, sf_dir, "orders"))


def q_x_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card rollup — the datasheet table a curation run
    publishes per (source, lang) slice: doc/token/char volumes, the
    exact-duplicate rate (non-first occurrences of a content hash),
    and mean doc entropy proxy (mean token count). One content-hash
    min-agg joined back + one slice rollup; token counting is
    map-side."""
    d = t(spark, sf_dir, "documents")
    hashed = d.select(
        "doc_id",
        "source",
        "lang",
        "n_chars",
        T.token_count("text").alias("n_tokens"),
        F.md5("text").alias("h"),
    )
    firsts = hashed.groupBy("h").agg(F.min("doc_id").alias("keep_id"))
    flagged = hashed.join(firsts, "h").withColumn(
        "is_dup", (F.col("doc_id") != F.col("keep_id")).cast("int")
    )
    return flagged.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("is_dup").cast("bigint").alias("n_exact_dups"),
        (
            F.sum("is_dup").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("dup_rate"),
        (
            F.sum("n_tokens").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("mean_tokens"),
    )


def q_x_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-health audit: recall@5 of the 2-probe IVF against the
    exact brute-force ground truth, per query — the recurring
    production check that n_probes/centroid counts still fit the
    corpus (pairs with x_lsh_precision on the dedup side). Both
    retrievals run their normal plans; the audit is a truth-side left
    join over 25 rows."""
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    truth = S.brute_force_topk(e, q, k=5).select("q_id", "vec_id")
    approx = S.ivf_topk(e, q, k=5, n_centroids=8, n_probes=2).select(
        F.col("q_id").alias("a_qid"), F.col("vec_id").alias("a_vid")
    )
    hits = truth.join(
        approx,
        (F.col("q_id") == F.col("a_qid")) & (F.col("vec_id") == F.col("a_vid")),
        "left",
    )
    return hits.groupBy("q_id").agg(
        F.count(F.lit(1)).alias("n_truth"),
        F.count(F.col("a_vid")).alias("n_hit"),
        (F.count(F.col("a_vid")).cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "recall_at_5"
        ),
    )


def q_x_nb_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language ID trained in-engine on the
    even-doc split, evaluated on the odd docs: per-true-language doc
    count, correct count, accuracy. Count tables are
    vocabulary-sized; per-doc log-likelihoods decimal-sum 9-dp terms
    (ln-ulp tolerant, partition invariant)."""
    from ..operators.ml import nb_score, nb_train

    d = t(spark, sf_dir, "documents")
    train = d.filter(F.col("doc_id") % 2 == 0)
    test = d.filter(F.col("doc_id") % 2 == 1)
    pred = nb_score(nb_train(train), test)
    truth = test.select("doc_id", F.col("lang").alias("true_lang"))
    return (
        pred.join(truth, "doc_id")
        .groupBy("true_lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                (F.col("pred_cls") == F.col("true_lang")).cast("int")
            ).cast("bigint").alias("n_correct"),
        )
        .select(
            "true_lang",
            "n_docs",
            "n_correct",
            (
                F.col("n_correct").cast("double")
                / F.col("n_docs").cast("double")
            ).alias("accuracy"),
        )
    )


def q_x_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label prediction served from the ANN operator: for query
    vectors vec_id < 25, the majority label among the 5 nearest
    neighbors (cosine, self excluded), with the vote count and the
    true label — the evaluation harness a vector-database classifier
    runs. Composition: brute_force_topk → label join → per-query vote
    count → deterministic argmax (votes desc, label asc)."""
    from pyspark.sql import Window

    e = t(spark, sf_dir, "embeddings")
    nn = S.brute_force_topk(e, e.filter(F.col("vec_id") < 25), k=5)
    labeled = nn.join(
        F.broadcast(e.select("vec_id", "label")), "vec_id"
    )
    votes = labeled.groupBy("q_id", "label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("n_votes"), F.asc("label"))
    pred = (
        votes.withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") == 1)
        .select("q_id", F.col("label").alias("pred_label"), "n_votes")
    )
    truth = e.select(
        F.col("vec_id").alias("q_id"), F.col("label").alias("true_label")
    ).filter(F.col("q_id") < 25)
    return pred.join(truth, "q_id").select(
        "q_id",
        "pred_label",
        "n_votes",
        "true_label",
        (F.col("pred_label") == F.col("true_label")).cast("int").alias("correct"),
    )


def q_x_logreg_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality classifier trained IN-ENGINE: 3 full-batch
    logistic-GD steps predicting lang='en' from (chars/1000,
    tokens/100). Each step is a map-side score + a 3-number decimal
    gradient aggregation; the oracle unrolls the identical arithmetic,
    so distributed training is hash-equal to the single-threaded
    replay — the same determinism recipe as x_pagerank."""
    from ..operators.ml import logreg_train

    d = t(spark, sf_dir, "documents")
    feats = d.select(
        (F.col("lang") == "en").cast("double").alias("y"),
        (F.col("n_chars").cast("double") / F.lit(1000.0)).alias("x1"),
        (T.token_count("text").cast("double") / F.lit(100.0)).alias("x2"),
    )
    return logreg_train(feats, ["x1", "x2"], "y", iterations=3, lr=1.0)


def q_x_calibration(
    spark: SparkSession, sf_dir: str, mode: str = "exact"
) -> DataFrame:
    """Calibration curve for the in-engine logistic classifier
    (x_logreg_quality's model): score every document, decile-bucket by
    predicted probability, and compare mean predicted p against the
    actual positive rate per decile — the reliability diagram every ML
    eval harness draws. Probabilities are 9-dp-rounded BEFORE the
    decile ordering (exp() ulp differences between engines must not
    reorder near-ties) with doc_id as the final tiebreak.
    ``mode="exact"`` buckets with ntile over a corpus-sized global
    sort (the oracle-parity form); ``mode="approx"`` routes through
    approx_percentile cut points (operators/bucketing.approx_bucket)
    with no sort — equivalence-tested in tests/test_bucketing.py."""
    from pyspark.sql import Window

    from ..operators.ml import logreg_score, logreg_train

    d = t(spark, sf_dir, "documents")
    feats = d.select(
        "doc_id",
        (F.col("lang") == "en").cast("double").alias("y"),
        (F.col("n_chars").cast("double") / F.lit(1000.0)).alias("x1"),
        (T.token_count("text").cast("double") / F.lit(100.0)).alias("x2"),
    )
    w = logreg_train(feats, ["x1", "x2"], "y", iterations=3, lr=1.0)
    scored = logreg_score(feats, w, ["x1", "x2"])
    if mode == "approx":
        from ..operators.bucketing import approx_bucket

        dec = approx_bucket(
            scored.select("doc_id", "y", F.round("p", 9).alias("p")),
            "p",
            10,
            bucket_col="decile",
        )
    else:
        dec = scored.select(
            "doc_id",
            "y",
            "p",
            F.ntile(10)
            .over(Window.orderBy(F.round("p", 9), "doc_id"))
            .alias("decile"),
        )
    return dec.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (
            F.sum(F.round("p", 9).cast("decimal(38,9)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("mean_p"),
        F.sum(F.col("y").cast("int")).cast("bigint").alias("n_pos"),
        (
            F.sum(F.col("y").cast("int")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("pos_rate"),
    )


def q_x_nb_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full confusion matrix for the Naive Bayes language classifier
    (x_nb_lang reports only the per-class accuracy diagonal; the
    off-diagonal cells are where a language-ID filter actually leaks
    training data). Same train/test split and scoring pipeline; the
    oracle reuses x_nb_lang's replay with a (true, predicted) rollup
    tail."""
    from ..operators.ml import nb_score, nb_train

    d = t(spark, sf_dir, "documents")
    train = d.filter(F.col("doc_id") % 2 == 0)
    test = d.filter(F.col("doc_id") % 2 == 1)
    pred = nb_score(nb_train(train), test)
    truth = test.select("doc_id", F.col("lang").alias("true_lang"))
    return (
        pred.join(truth, "doc_id")
        .groupBy("true_lang", "pred_cls")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def q_x_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank (3 iterations, d=0.85) over the bipartite
    supplier→customer trade graph (edge weight = line items shipped).
    Hub customers — the ones many suppliers feed — surface with high
    rank. The oracle unrolls the three power iterations as CTEs; the
    rounded-decimal contribution sums make both engines (and any Spark
    partitioning) agree bit-for-bit. Top 100 by rank for a bounded
    gate payload."""
    from ..operators.graph import pagerank

    l = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    edges = (
        l.join(o.select("o_orderkey", "o_custkey"),
               l.l_orderkey == F.col("o_orderkey"))
        .groupBy(
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
            F.concat(F.lit("c"), F.col("o_custkey")).alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    from ..operators.partitioning import sharded_topk

    pr = pagerank(edges, iterations=3, damping=0.85)
    # per-shard WindowGroupLimit pre-prune (≤ 32·100 rows reach the
    # final one-partition rank) — never a full-node-table global sort
    return sharded_topk(pr, k=100, order_by=[F.desc("rank"), F.asc("node")])


def q_x_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities (Raghavan et al. 2007, 2 sync
    rounds) over the undirected supplier↔customer trade graph —
    groups of accounts that trade with the same suppliers collapse
    into one community. Integer vote sums + min-label ties make both
    engines agree exactly; the oracle unrolls the rounds as CTEs."""
    from ..operators.graph import label_propagation

    l = t(spark, sf_dir, "lineitem")
    o = t(spark, sf_dir, "orders")
    edges = (
        l.join(o.select("o_orderkey", "o_custkey"),
               l.l_orderkey == F.col("o_orderkey"))
        .groupBy(
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("src"),
            F.concat(F.lit("c"), F.col("o_custkey")).alias("dst"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
    )
    return label_propagation(edges, iterations=2)


def q_x_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard ≥ 3/5 similarity self-join via prefix filtering
    (operators/dedup.prefix_filter_pairs — the zero-false-negative
    complement of the MinHash/LSH family), summarized per document
    (neighbor count + max similarity) and restricted to the
    doc_id < 500 audit slice (the t13/x_lsh_recall pattern): on this
    synthetic corpus ~96% of documents are τ-neighbors of each other,
    so the MATCHING-PAIR set itself is Θ(n²) — no algorithm beats its
    own output size, and the gate doesn't need the full quadratic
    payload to certify the pipeline. Thresholding is integer rational
    arithmetic, so both engines agree bit-for-bit."""
    pairs = D.prefix_filter_pairs(
        t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500),
        tau_num=3,
        tau_den=5,
    )
    sym = pairs.select(
        F.col("id_a").alias("doc_id"), "jaccard"
    ).unionByName(pairs.select(F.col("id_b").alias("doc_id"), "jaccard"))
    return sym.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_neighbors"),
        F.max("jaccard").alias("max_jaccard"),
    )


def q_x_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle enumeration over the part co-purchase graph (parts
    appearing together in ≥2 orders — the min-support floor is the
    market-basket practice that also prunes the edge list ~30× before
    any wedge work). Uses the degree-ordered orientation in
    operators/graph.py:triangles, so hub parts don't explode the wedge
    join; emits each triangle once as its id-sorted triple, which the
    oracle replays with plain id-ordered enumeration — identical set
    either way. The edge list comes from the shared basket-capped
    builder (operators/graph.py:copurchase_edges) so one mega-order
    can't quadratically dominate a task; the cap excludes nothing at
    fixture basket sizes and is replayed in the oracle."""
    from ..operators.graph import copurchase_edges, triangles

    l = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = copurchase_edges(l, "l_orderkey", "l_partkey", min_support=2)
    return triangles(edges, "pa", "pb")


def q_l28_copurchase_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over the part co-purchase graph
    (operators/graph.py: copurchase_lift): support / confidence /
    lift per repeated item pair, basket-grain counts (distinct
    (order, part) first), marginals and N from the same capped basket
    population as the edge list — the market-basket scoring layer on
    the x_triangles/x_kcore edge builder."""
    from ..operators.graph import copurchase_lift

    l = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    return copurchase_lift(l, "l_orderkey", "l_partkey", min_support=2)


def q_x_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core of the part co-purchase graph (k=2, same edge builder
    as x_triangles): iterative bulk peeling until only nodes with ≥ 2
    surviving co-purchase partners remain — the graph-quality filter
    that strips one-off tails and keeps the dense market backbone.
    k=2 rather than 3 because the repeated-pair (n ≥ 2) graph thins
    as part cardinality scales — the 3-core is empty at sf0.1, and an
    empty bench leg under-measures output materialization (round-7
    verdict); the 2-core is non-empty at every fixture scale. Fixed 8
    peeling rounds so the oracle replays the identical unrolled
    rounds (MATERIALIZED CTEs); convergence within 8 is pinned in
    tests/test_graph.py, so the fixed-round result IS the k-core.
    Edges come from the shared basket-capped builder
    (operators/graph.py:copurchase_edges) — no-op at fixture basket
    sizes, replayed in the oracle, bounds any hot order's pair
    expansion at basket_cap²."""
    from ..operators.graph import copurchase_edges, kcore

    l = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = copurchase_edges(l, "l_orderkey", "l_partkey", min_support=2)
    return kcore(edges, k=2, src_col="pa", dst_col="pb", rounds=8)


def q_x_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (arXiv:2302.03169) with lang='en' as
    the target distribution — the data-selection scorer that upweights
    documents whose hashed-unigram profile matches the target slice.
    One corpus scan; both LMs are bucket-sized broadcasts."""
    return C.dsir_weights(
        t(spark, sf_dir, "documents"), is_target=F.col("lang") == "en"
    )


def q_x_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) layout key over (user_id, value) — the
    multi-dimensional clustering key a clustered write ranges/sorts on
    so parquet min/max stats prune scans on EITHER column. The key is
    pure bit arithmetic; the oracle replays it with shift/mask SQL,
    proving the quantization grid and interleave are engine-exact."""
    from ..operators.layout import interleave_bits, scale_to_bits

    ev = t(spark, sf_dir, "events")
    zkey = interleave_bits(
        [
            scale_to_bits(F.col("user_id"), 0.0, 1000.0, 8),
            scale_to_bits(F.col("value"), 0.0, 500.0, 8),
        ],
        8,
    )
    return (
        ev.select("event_id", zkey.alias("zkey"))
        .orderBy("event_id")
        .limit(1000)
    )


def q_x_hilbert_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert layout key over the same (user_id, value) grid as
    x_zorder_key — the locality-tighter clustering curve (consecutive
    keys are always grid-adjacent cells, so range-partitioned files
    cover compact rectangles; Morton jumps at power-of-two seams).
    The 4-state-machine fold is one constant-array lookup per bit,
    and the oracle replays the identical 8 steps as chained CTEs —
    engine-exact, like the zorder bit replay."""
    from ..operators.layout import hilbert_key, scale_to_bits

    ev = t(spark, sf_dir, "events")
    hk = hilbert_key(
        scale_to_bits(F.col("user_id"), 0.0, 1000.0, 8),
        scale_to_bits(F.col("value"), 0.0, 500.0, 8),
        bits=8,
    )
    return (
        ev.select("event_id", hk.alias("hkey"))
        .orderBy("event_id")
        .limit(1000)
    )


def q_x_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for queries vec_id < 5: top-5 most-similar
    vectors with a different class label."""
    e = t(spark, sf_dir, "embeddings")
    return S.hard_negatives(e, e.filter(F.col("vec_id") < 5), k=5)


def q_x_ann_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-bucketed approximate top-5: multi-probe + two independent
    hash tables (OR-amplification; recall 0.80 vs 0.52 single-table on
    the fixture, still a 2^bits/(2·(bits+1)) candidate pruning)."""
    e = t(spark, sf_dir, "embeddings")
    return S.bucketed_ann_topk(e, e.filter(F.col("vec_id") < 5), k=5, tables=2)


def q_x_ann_rptree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-projection-TREE approximate top-5 (Dasgupta-Freund /
    Annoy family): two median splits on independent projections → four
    equi-depth leaves, search confined to the query's own leaf. The
    tree rung of the ANN ladder — balanced leaves by construction
    where sign-LSH buckets can hot-spot (rank splits are the
    engine-exact audit form; approx_percentile cut points are the
    100 TB routing, see operators/similarity.rptree_leaves)."""
    e = t(spark, sf_dir, "embeddings")
    return S.rptree_topk(e, F.col("vec_id") < 5, k=5)


def q_x_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate top-5: coarse-quantizer assignment +
    2-probe inverted-list search (the other scale path besides
    sign-LSH; n_probes is the recall dial)."""
    e = t(spark, sf_dir, "embeddings")
    return S.ivf_topk(e, e.filter(F.col("vec_id") < 5), k=5, n_probes=2)


def q_x_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization approximate top-5: vectors stored as m=8
    one-byte codes, search via broadcast ADC lookup table + decimal
    group-sum (the memory-compressed scale path)."""
    e = t(spark, sf_dir, "embeddings")
    return S.pq_topk(e, e.filter(F.col("vec_id") < 5), k=5)


def q_x_ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with a TRAINED coarse quantizer — distributed Lloyd's
    k-means (operators/similarity.kmeans_centroids) feeding the same
    probe plan.

    Graduated from rows-only to a RECALL oracle in r5 (the x_ann_recall
    pattern): the learned centroids themselves have no ANSI-SQL replay
    (iterative trainer, same class as x_bpe_train), so the gate row is
    the audit form — per query, the exact brute-force truth size
    (SQL-replayable) and the boolean recall@5 ≥ 0.4. Observed recall
    on the fixtures is 0.6–1.0 (min 3/5 hits at sf0.01), so the 0.4
    floor has a full hit of margin while still failing on any real
    routing/training regression. The raw trained top-k surface,
    convergence, and exact recall values stay pinned in
    tests/test_similarity.py.

    Note the fixture bias when comparing recall to x_ann_ivf: the
    stand-in centroids ARE the query vectors there (vec_id < 8 covers
    the vec_id < 5 queries), centering each query's cell on itself."""
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    truth = S.brute_force_topk(e, q, k=5).select("q_id", "vec_id")
    cents = S.kmeans_centroids(e, k=8, iters=3)
    approx = S.ivf_topk(e, q, k=5, n_probes=2, centroids=cents).select(
        F.col("q_id").alias("a_qid"), F.col("vec_id").alias("a_vid")
    )
    hits = truth.join(
        approx,
        (F.col("q_id") == F.col("a_qid")) & (F.col("vec_id") == F.col("a_vid")),
        "left",
    )
    return hits.groupBy("q_id").agg(
        F.count(F.lit(1)).alias("n_truth"),
        (
            F.count(F.col("a_vid")).cast("double")
            / F.count(F.lit(1)).cast("double")
            >= 0.4
        ).alias("recall_ok"),
    )


def q_x_ann_hnsw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layered-NSW graph ANN (operators/similarity.nsw_build_graph /
    nsw_topk, round 13 — the graph-based index production vector
    search actually runs, completing the family: LSH buckets,
    RP-tree, IVF, PQ, and now HNSW): bucketed NN-descent per layer,
    geometric hash level draw, beam-search descent at query time.

    The x_ann_ivf_trained audit form — the graph build is iterative
    (no ANSI-SQL replay), so the gate row is per-query exact truth
    size + the boolean recall@5 ≥ 0.4 floor. Observed recall at the
    tuned defaults (M=12, iters=3, beam=16, hops=3) is 0.8–1.0 per
    query on both fixtures — two full hits of margin — while any
    routing/level/beam regression (e.g. the inverted level-draw chain
    caught during round-13 development, which zeroes recall) still
    fails it. Raw recall values and graph-shape invariants stay
    pinned in tests/test_similarity.py."""
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    truth = S.brute_force_topk(e, q, k=5).select("q_id", "vec_id")
    approx = S.nsw_topk(e, q, k=5).select(
        F.col("q_id").alias("a_qid"), F.col("vec_id").alias("a_vid")
    )
    hits = truth.join(
        approx,
        (F.col("q_id") == F.col("a_qid")) & (F.col("vec_id") == F.col("a_vid")),
        "left",
    )
    return hits.groupBy("q_id").agg(
        F.count(F.lit(1)).alias("n_truth"),
        (
            F.count(F.col("a_vid")).cast("double")
            / F.count(F.lit(1)).cast("double")
            >= 0.4
        ).alias("recall_ok"),
    )


def _nsw_gate_store(spark: SparkSession, sf_dir: str) -> str:
    """Build-once cache of a PERSISTED two-batch NSW index for the
    x_ann_hnsw_store gate row (round 14 — the r13 verdict's task 2):
    seed from the even vec_ids (nsw_build_graph + save_nsw_index),
    fold the odd half in through the incremental search-then-connect
    path (nsw_index_append) — the production ingest shape. The store
    is keyed by (sf_dir, fixture mtime, build params), so repeated
    gate/driver invocations re-USE the index and the row measures the
    SEARCH path — the r13 x_ann_hnsw row was build-dominated (~34 s
    at sf0.1) because it rebuilt per call; a fixture regeneration
    changes the mtime and rebuilds. Everything in the build is
    deterministic (xxhash level draws, LSH seeds), so a rebuild is
    reproducible.

    Concurrency (round-15 ADVICE close): the build lands in a private
    ``tempfile.mkdtemp`` staging dir and is published with ONE atomic
    ``os.rename`` into the keyed path — two racing drivers each build
    privately and the first rename wins (the loser discards its
    staging copy), so a half-built or mid-append cache can never sit
    behind the _COMPLETE marker. The path is uid-scoped so a shared
    /tmp can't collide across users."""
    import hashlib
    import os
    import shutil
    import tempfile

    fixture = os.path.join(sf_dir, "embeddings.parquet")
    try:
        mtime = int(os.path.getmtime(fixture))
    except OSError:
        mtime = 0
    key = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|{mtime}|M=12|iters=3|lvl=2|2batch".encode()
    ).hexdigest()[:12]
    uid = os.getuid() if hasattr(os, "getuid") else 0
    store = f"/tmp/spark_graft_nsw_store_{uid}_{key}"
    marker = os.path.join(store, "_COMPLETE")
    if os.path.exists(marker):
        return store
    staging = tempfile.mkdtemp(prefix=f"spark_graft_nsw_build_{key}_")
    e = t(spark, sf_dir, "embeddings")
    even = e.filter(F.col("vec_id") % 2 == 0)
    g = S.nsw_build_graph(even)
    S.save_nsw_index(even, g, staging)
    S.nsw_index_append(e.filter(F.col("vec_id") % 2 == 1), staging)
    with open(os.path.join(staging, "_COMPLETE"), "w") as f:
        f.write("ok")
    try:
        os.rename(staging, store)  # atomic publish; first builder wins
    except OSError:
        if os.path.exists(marker):
            # a concurrent builder published first — use theirs
            shutil.rmtree(staging, ignore_errors=True)
        else:
            # stale markerless leftovers (crashed build): replace them
            shutil.rmtree(store, ignore_errors=True)
            try:
                os.rename(staging, store)
            except OSError:
                # lost a second race — fall back to the private copy
                store = staging
    return store


def q_x_ann_hnsw_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STORE-BACKED layered-NSW ANN (operators/similarity.py:
    nsw_query_index over save_nsw_index + nsw_index_append, round 14):
    beam-search the PREBUILT persisted graph — the gate row for the
    query path the persisted-index family actually serves, split out
    from x_ann_hnsw (whose cost is the one-shot build). Same
    recall-shadow form and 0.4 floor as x_ann_hnsw; append-built
    graphs measured 0.92–1.0 recall@5 in the parity tests, so the
    floor keeps two-plus hits of margin while any descent/storage
    regression (e.g. never expanding upper-layer edges of a deep
    stored graph — the round-14 ADVICE fix) still fails it."""
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    truth = S.brute_force_topk(e, q, k=5).select("q_id", "vec_id")
    store = _nsw_gate_store(spark, sf_dir)
    approx = S.nsw_query_index(spark, store, q, k=5).select(
        F.col("q_id").alias("a_qid"), F.col("vec_id").alias("a_vid")
    )
    hits = truth.join(
        approx,
        (F.col("q_id") == F.col("a_qid")) & (F.col("vec_id") == F.col("a_vid")),
        "left",
    )
    return hits.groupBy("q_id").agg(
        F.count(F.lit(1)).alias("n_truth"),
        (
            F.count(F.col("a_vid")).cast("double")
            / F.count(F.lit(1)).cast("double")
            >= 0.4
        ).alias("recall_ok"),
    )


def q_x_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed approximate top-5 (FAISS IndexIVFPQ structure):
    coarse routing to 2 probed lists, PQ-code ADC scoring within them
    — searched bytes per vector = bucket id + 8 codes."""
    e = t(spark, sf_dir, "embeddings")
    return S.ivf_pq_topk(e, e.filter(F.col("vec_id") < 5), k=5, n_probes=2)


def q_x_ann_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full production ANN pipeline tail: IVF-PQ candidates (k'=25)
    exactly re-ranked by true cosine to the final top-5 — the refine
    stage touches raw vectors only for the 25 candidates per query."""
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    cands = S.ivf_pq_topk(e, q, k=25, n_probes=2)
    return S.ann_refine(e, q, cands, k=5)


def q_x_embed_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs within sign buckets. Gate
    threshold 0.4: the fixture's random vectors have no planted
    near-dups (max in-bucket cosine ≈ 0.51), so the production 0.95
    default would make this a vacuous 0-row check."""
    e = t(spark, sf_dir, "embeddings")
    return S.embedding_near_dup_pairs(e, threshold=0.4)


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------


def q_x_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column decode metadata via mapInPandas. doc_id % 5 == 0
    rows carry a REAL minimal MP4 container (with_media_blob), so the
    ISO-BMFF tkhd/mvhd walk runs under the oracle gate — the oracle
    replays those rows' width/height/n_bytes from the builder's
    doc_id arithmetic (fixed 317-byte layout + pad) and the remaining
    rows' stub arithmetic from octet_length."""
    d = M.with_media_blob(t(spark, sf_dir, "documents"))
    return M.decode_metadata(d)


def q_x_video_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full video-metadata decode (operators/multimodal.py:
    decode_video_metadata): the ISO-BMFF mvhd/tkhd/hdlr walk over the
    same mixed fixture as x_multimodal_meta — mp4 rows (doc_id % 5 ==
    0, built by build_minimal_mp4) come back with real duration and
    track classification, fragmented-MP4 media segments (doc_id % 5
    == 1, built by build_minimal_fmp4: styp+sidx+moof, NO moov) come
    back tagged format='mp4-frag' with the sidx-summed duration
    instead of being bucketed as corrupt (round-10), and text rows
    stay honestly NULL with format='unknown'. Oracle replays the
    builder arithmetic."""
    d = M.with_media_blob(t(spark, sf_dir, "documents"), frag_mod=1)
    return M.decode_video_metadata(d)


def q_x_sliding_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stride-1 repeated-window removal — catches boilerplate shifted
    to a different token offset, which tile-aligned span dedup cannot
    see (first occurrence wins; coverage-masked rebuild)."""
    return D.sliding_span_dedup(t(spark, sf_dir, "documents"), span=8)


def q_x_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated-substring inventory (Lee et al. ExactSubstr,
    restated as duplicated-window runs): per doc, token ranges where
    every 8-token window repeats somewhere in the corpus, ≥ 15 tokens
    long — the measurement half of substring dedup (x_sliding_span
    removes coverage; this reports the maximal spans)."""
    return D.duplicate_substring_spans(
        t(spark, sf_dir, "documents"), span=8, min_len=15
    )


def q_x_substring_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-run substring REMOVAL (Lee et al. ExactSubstr's acting
    half): every maximal duplicated run (8-token windows, ≥ 15 tokens)
    is deleted from all but its globally-first occurrence, keyed on
    the run's own text, and the document is rebuilt around the cuts —
    atomic-run granularity, the conservative counterpart of
    x_sliding_span_dedup's window-granular removal. One row per doc
    with the cleaned text and removal accounting."""
    return D.substring_removal(
        t(spark, sf_dir, "documents"), span=8, min_len=15
    )


def q_x_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup admission against a persisted sketch store
    (operators/dedup.incremental_minhash_dedup): even docs bootstrap
    the corpus store (signature + band buckets only — text is never
    re-read), odd docs arrive as the next batch and come back flagged
    (admitted, max_eq_store). Store lives in a per-call temp dir,
    removed before returning, so the query is repeatable. All
    admission arithmetic is integer-exact (n_eq·2 ≥ 8), and the
    oracle replays both batches' rules — including the bootstrap's
    own in-batch dominance — from the shared band/signature CTEs."""
    import shutil
    import tempfile

    d = t(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="spark_graft_incr_neardup_")
    try:
        D.incremental_minhash_dedup(d.filter(F.col("doc_id") % 2 == 0), tmp)
        out = D.incremental_minhash_dedup(
            d.filter(F.col("doc_id") % 2 == 1), tmp
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def q_x_softdedup_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver row for the STREAMING soft-dedup admission (round 11,
    operators/dedup.soft_dedup_admit): replay two
    micro-batches one-shot — even doc_ids bootstrap the store, odd
    doc_ids arrive second — and emit each doc's provisional cluster
    and RUNNING 1/|cluster seen so far| weight. Store lives in a
    per-call temp dir (the x_incremental_neardup pattern), removed
    before returning. All admission arithmetic is integer-exact
    (signature agreement n_eq·2 ≥ 8, cluster = component min), so the
    oracle replays both batches literally: batch-0 internal reach-CTE
    clustering, then batch-1 clustering over (odd ↔ batch-0 cluster
    label, odd ↔ odd) verified edges with running sizes = batch
    members + merged store members."""
    import shutil
    import tempfile

    d = t(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="spark_graft_softdedup_drain_")
    try:
        f0 = D.soft_dedup_admit(d.filter(F.col("doc_id") % 2 == 0), tmp)
        f1 = D.soft_dedup_admit(d.filter(F.col("doc_id") % 2 == 1), tmp)
        out = f0.unionByName(f1)  # both localCheckpointed by admit
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def q_x_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-span removal (8-token tiles, first occurrence wins) —
    catches shared boilerplate inside otherwise-distinct documents."""
    return D.span_dedup(t(spark, sf_dir, "documents"), span=8)


def q_x_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide paragraph-level exact dedup
    (operators/dedup.paragraph_dedup, round 14 — the CCNet
    preprocessing pass): first occurrence of each distinct paragraph
    wins, documents reassembled from the survivors. The synthetic
    corpus has no paragraph breaks, so the gate derives them with the
    chunk_sentences injection (a period after every
    'batch'/'data'/'join' token) and deduplicates on the '. '
    boundary — short segments over a small vocabulary, so the
    cross-document duplicate rate is high and the pass is genuinely
    exercised (not a pass-through)."""
    d = t(spark, sf_dir, "documents").withColumn(
        "text",
        F.regexp_replace(F.col("text"), r"\b(batch|data|join) ", "$1. "),
    )
    return D.paragraph_dedup(d, sep=r"\. ", joiner=". ")


def q_x_paragraph_dedup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paragraph dedup through the HOT-KEY-ESCAPE plan
    (operators/dedup.paragraph_dedup(mode="agg"), round 15 — the r14
    verdict's task 6: the groupBy-min + join form previously only
    documented in the docstring, now executable): first-occurrence
    ownership computed as a partially-aggregable min(struct(doc_id,
    pos)) per paragraph and joined back — map-side combine collapses
    a mega-duplicated paragraph before the shuffle, so the 100 TB
    boilerplate case never funnels through one window group. Same
    injected paragraph boundaries as x_paragraph_dedup, and the
    oracle IS x_paragraph_dedup's SQL verbatim — the two modes must
    be row-identical."""
    d = t(spark, sf_dir, "documents").withColumn(
        "text",
        F.regexp_replace(F.col("text"), r"\b(batch|data|join) ", "$1. "),
    )
    return D.paragraph_dedup(d, sep=r"\. ", joiner=". ", mode="agg")


def q_x_paragraph_dedup_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STORE-BACKED incremental paragraph dedup drained to the gate
    (operators/dedup.incremental_paragraph_dedup, round 14): replay a
    two-batch ingest — doc_ids at or below the range midpoint first,
    the rest second, so arrival order equals the global (doc_id, pos)
    order and first-occurrence ownership matches the one-shot rule —
    then union the per-batch cleaned outputs. The oracle is the
    x_paragraph_dedup SQL VERBATIM (the x_mlt_drain convention): the
    lifetime hash store must make the streamed pass land exactly
    where the one-shot pass does."""
    import shutil
    import tempfile

    d = t(spark, sf_dir, "documents").withColumn(
        "text",
        F.regexp_replace(F.col("text"), r"\b(batch|data|join) ", "$1. "),
    )
    lo, hi = d.agg(F.min("doc_id"), F.max("doc_id")).collect()[0]
    mid = (int(lo) + int(hi)) // 2
    tmp = tempfile.mkdtemp(prefix="spark_graft_paradrain_")
    try:
        first = D.incremental_paragraph_dedup(
            d.filter(F.col("doc_id") <= mid), tmp, sep=r"\. ", joiner=". "
        )
        second = D.incremental_paragraph_dedup(
            d.filter(F.col("doc_id") > mid), tmp, sep=r"\. ", joiner=". "
        )
        out = first.unionByName(second).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def q_x_token_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary frequency-of-frequencies (Zipf spectrum) over the
    corpus — shuffle volume tracks vocabulary, not corpus, size."""
    return C.token_spectrum(t(spark, sf_dir, "documents"))


def q_x_doc_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram entropy (nats) — degenerate/repetitive
    document detector for the curation gate."""
    return C.doc_entropy(t(spark, sf_dir, "documents"))


def q_x_unigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc avg negative log-likelihood under the corpus unigram LM
    (CCNet-style perplexity-proxy quality score)."""
    return C.unigram_nll(t(spark, sf_dir, "documents"))


def q_x_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature mixture weights APPLIED as a deterministic
    content-hash downsample (per-slice audit summary)."""
    return C.mixture_sample(t(spark, sf_dir, "documents"), alpha=0.5)


def q_x_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup pairs (|A∩B|/|A| ≥ 0.5) — the
    subset-duplication detector Jaccard dilutes away."""
    return D.ngram_containment_pairs(t(spark, sf_dir, "documents"), threshold=0.5)


def q_x_bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc NLL under the corpus bigram LM — word-order-sensitive
    quality score (one rung up from x_unigram_nll)."""
    return C.bigram_nll(t(spark, sf_dir, "documents"))


def q_x_backoff_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff (Brants et al. 2007) trigram NLL: count tables
    from the even-doc_id half, odd half scored held-out so the
    backoff ladder actually fires."""
    d = t(spark, sf_dir, "documents")
    return C.stupid_backoff_nll(
        d.filter(F.col("doc_id") % 2 == 1), d.filter(F.col("doc_id") % 2 == 0)
    )


def q_x_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity re-rank (Carbonell & Goldstein 1998), k=5 over
    each query's exact top-25 candidates (the x_mmr_first candidate
    convention; the IVF-PQ → MMR composition stays exercised in
    tests/test_similarity.py).

    Graduated from rows-only in r5: the greedy loop is sequential but
    its step count is FIXED (k=5), so the oracle unrolls the whole
    selection trajectory — per step one redundancy MAX over the
    selected set and one (score DESC, vec_id ASC) argmax — exactly the
    x_bpe_train pattern. Replay is bit-exact because mmr_rerank rounds
    every cosine to 6 dp before scoring (ANN-family convention) and
    the λ arithmetic is the literal expression tree 0.7·rel −
    (1.0 − 0.7)·red in both engines."""
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    cands = S.brute_force_topk(e, q, k=25).select("q_id", "vec_id")
    return S.mmr_rerank(e, q, cands, k=5, lam=0.7)


def _mmr_oracle(k: int = 5) -> str:
    cos = (
        "ROUND(list_dot_product({a}.emb, {b}.emb)"
        " / (sqrt(list_dot_product({a}.emb, {a}.emb))"
        " * sqrt(list_dot_product({b}.emb, {b}.emb))), 6)"
    )
    ctes = [
        """base AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    tq AS (SELECT vec_id AS q_id, emb FROM base WHERE vec_id < 5),
    scored AS (
        SELECT tq.q_id, b.vec_id, """
        + cos.format(a="tq", b="b")
        + """ AS rel
        FROM base b CROSS JOIN tq WHERE b.vec_id <> tq.q_id),
    cand AS (
        SELECT q_id, vec_id, rel FROM (
            SELECT q_id, vec_id, rel,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                                      ORDER BY rel DESC, vec_id ASC) AS rn
            FROM scored)
        WHERE rn <= 25),
    ps AS (
        SELECT ca.q_id, ca.vec_id AS va, cb.vec_id AS vb, """
        + cos.format(a="ea", b="eb")
        + """ AS sim
        FROM cand ca
        JOIN cand cb ON ca.q_id = cb.q_id
        JOIN base ea ON ea.vec_id = ca.vec_id
        JOIN base eb ON eb.vec_id = cb.vec_id),
    s1 AS (
        SELECT q_id, vec_id, 1 AS rnk FROM (
            SELECT q_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                       ORDER BY (0.7 * rel - (1.0 - 0.7) * 0.0) DESC,
                                vec_id ASC) AS rn
            FROM cand)
        WHERE rn = 1),
    sel1 AS (SELECT q_id, vec_id FROM s1)"""
    ]
    for i in range(2, k + 1):
        ctes.append(
            f"""red{i} AS (
        SELECT c.q_id, c.vec_id, c.rel, MAX(ps.sim) AS red
        FROM cand c
        LEFT JOIN sel{i - 1} x
          ON x.q_id = c.q_id AND x.vec_id = c.vec_id
        JOIN sel{i - 1} s ON s.q_id = c.q_id
        JOIN ps ON ps.q_id = c.q_id AND ps.va = c.vec_id
               AND ps.vb = s.vec_id
        WHERE x.vec_id IS NULL
        GROUP BY 1, 2, 3),
    s{i} AS (
        SELECT q_id, vec_id, {i} AS rnk FROM (
            SELECT q_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                       ORDER BY (0.7 * rel - (1.0 - 0.7) * red) DESC,
                                vec_id ASC) AS rn
            FROM red{i})
        WHERE rn = 1),
    sel{i} AS (SELECT q_id, vec_id FROM sel{i - 1}
               UNION ALL SELECT q_id, vec_id FROM s{i})"""
        )
    sel = "\n    UNION ALL\n    ".join(
        f"SELECT q_id, vec_id, CAST(rnk AS BIGINT) AS rnk FROM s{i}"
        for i in range(1, k + 1)
    )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + sel


def q_x_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 PMI collocations (Church & Hanks 1990) over corpus
    bigrams, min pair count 5 — deterministic rank window."""
    return C.collocations(t(spark, sf_dir, "documents"), top_k=20, min_count=5)


def q_x_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge training (Sennrich et al. 2016) over the corpus
    vocabulary — 10 merges, deterministic tie-breaks.

    Graduated from rows-only in r5: the trainer is iterative, but the
    iteration count is FIXED, so the oracle unrolls all 10 rounds as
    chained CTEs — each round one weighted pair count, one
    (n DESC, pair ASC) argmax, and the vocab rewrite replayed with
    plain (non-regex) two-pass consuming `replace`. Three documented
    equivalences make the replay exact: (1) batch>1 acceptance equals
    the sequential trainer (proved by
    test_bpe_batched_training_matches_sequential), (2) the consuming
    rewrite equals Spark's lookaround rewrite whenever every learned
    pair has a != b (pinned for this corpus by
    test_bpe_frozen_artifact_matches_sf001_trainer — a self-pair merge
    would be the one thing the oracle can't replay), (3) an early
    min_count stop would empty the oracle's remaining rounds and fail
    the row-count match loudly rather than silently diverge."""
    return C.bpe_train(t(spark, sf_dir, "documents"), num_merges=10, min_count=2)


def _bpe_train_oracle(rounds: int = 10) -> str:
    ctes = [
        """words AS (
        SELECT UNNEST(string_split(trim(text), ' ')) AS w FROM documents),
    v1 AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS freq,
               array_to_string(string_split(w, ''), ' ') AS s
        FROM words GROUP BY w)"""
    ]
    for i in range(1, rounds + 1):
        ctes.append(
            f"""p{i} AS (
        SELECT freq, string_split(s, ' ') AS tk,
               UNNEST(range(len(string_split(s, ' ')) - 1)) AS j
        FROM v{i}),
    m{i} AS (
        SELECT tk[j + 1] || ' ' || tk[j + 2] AS pair, SUM(freq) AS n
        FROM p{i} GROUP BY 1 HAVING SUM(freq) >= 2
        ORDER BY n DESC, pair ASC LIMIT 1),
    v{i + 1} AS (
        SELECT freq,
               trim(replace(replace(' ' || s || ' ',
                        ' ' || m.pair || ' ',
                        ' ' || replace(m.pair, ' ', '') || ' '),
                    ' ' || m.pair || ' ',
                    ' ' || replace(m.pair, ' ', '') || ' ')) AS s
        FROM v{i} CROSS JOIN m{i} m)"""
        )
    sel = "\n    UNION ALL\n    ".join(
        f"SELECT {i} AS merge_rank, pair, replace(pair, ' ', '') AS merged,"
        f" CAST(n AS BIGINT) AS n FROM m{i}"
        for i in range(1, rounds + 1)
    )
    return "WITH " + ",\n    ".join(ctes) + "\n    " + sel


# The shipped tokenizer artifact: the 10-merge table bpe_train
# learns on the sf0.01 corpus, frozen as a literal — exactly how
# production tokenizers deploy (train once, ship the merge list as
# static config; retraining per query would make tokenization
# corpus-dependent). Every pair has a != b and alnum-only symbols,
# which makes the one-pass lookaround rewrite (bpe_encode) and the
# RE2-portable two-pass consuming rewrite (the DuckDB oracle — RE2
# has no lookbehind) produce the identical tokenization: with a != b
# no two merge sites can share a token, so "merge every site" is
# unambiguous (tests/test_corpus.py pins the precondition).
BPE_MERGES_V1: tuple[tuple[str, str], ...] = (
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
    ("m", "er"), ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"),
)


def _bpe_oracle_rewrite(expr: str) -> str:
    """DuckDB replay of the encode rewrite chain: per merge, the
    space-consuming pattern ' a b ' -> ' ab ' applied TWICE (RE2 lacks
    the zero-width lookarounds Spark uses, and a consuming match eats
    the next site's leading space in runs like 'a b a b'; leftover
    sites after pass 1 are provably isolated, so pass 2 completes)."""
    for a, b in BPE_MERGES_V1:
        one = f"regexp_replace({{}}, ' {a} {b} ', ' {a + b} ', 'g')"
        expr = one.format(one.format(expr))
    return expr


def q_x_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode every document with the shipped BPE_MERGES_V1 merge
    table (per-doc subword counts). Graduated from rows-only in r5:
    with the merge list a plan constant, encoding is a pure regexp
    rewrite chain the DuckDB oracle replays exactly. The train->encode
    composition (learned merges feeding the encoder) stays pinned by
    hand-computed tests in tests/test_corpus.py; only x_bpe_train
    itself remains iterative/rows-only."""
    return C.bpe_encode(t(spark, sf_dir, "documents"), list(BPE_MERGES_V1))


def q_x_hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count rollup: per-(event_type, day) HLL
    sketches unioned up to per-type estimates — facts scanned once,
    any coarser slice answered from kilobytes of sketch state.

    Graduated from rows-only to a TOLERANCE oracle in r5: the
    DataSketches binary state still has no ANSI-SQL replay (DuckDB's
    approx_count_distinct is a different sketch), so the gate row
    carries the exact distinct count (hash-checkable in both engines)
    plus the sketch-health boolean |estimate − exact| ≤ 5%·exact —
    lgK=12 HLL is ~1.6% relative error, and at gate cardinalities the
    sparse representation is near-exact, so 5% is a loose bound that
    still catches any real sketch-path regression. Raw estimates and
    merge-consistency stay pinned in tests/test_scale_paths.py."""
    from ..operators.sketches import distinct_sketch_rollup, merge_distinct_sketches

    ev = t(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    fine = distinct_sketch_rollup(ev, ["event_type", "day"], "user_id")
    est = merge_distinct_sketches(fine, ["event_type"])
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return est.join(exact, "event_type").select(
        "event_type",
        "exact_distinct",
        (
            F.abs(F.col("approx_distinct") - F.col("exact_distinct"))
            <= 0.05 * F.col("exact_distinct")
        ).alias("within_tol"),
    )


def q_x_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al., arXiv:2303.09540): semantic
    deduplication — connected components over embedding-cosine
    near-dup pairs, every vector labeled with its cluster's smallest
    id (the canonical survivor). Pure composition of the bucketed
    near-dup join and the iterative CC resolver: the pair space is
    pruned by sign-buckets BEFORE any clustering, so the CC input is
    the (tiny) edge list, never the vector table."""
    e = t(spark, sf_dir, "embeddings")
    pairs = S.embedding_near_dup_pairs(e, threshold=0.4)
    return D.connected_components(pairs, src="id_a", dst="id_b").select(
        F.col("doc_id").alias("vec_id"), "cluster_id"
    )


# ---------------------------------------------------------------------------
# DuckDB oracles
# ---------------------------------------------------------------------------

_STOP_EN = ", ".join(f"'{w}'" for w in T.STOPWORDS_EN)
_STOP_ES = ", ".join(f"'{w}'" for w in T.STOPWORDS_ES)
_STOP_FR = ", ".join(f"'{w}'" for w in T.STOPWORDS_FR)

# Word-3-gram shingles in DuckDB: tokens t, shingle i = t[i:i+2] (1-based
# inclusive slice) for i in range(1, len-1) — matches functions.text.shingles.
_SHINGLES_CTE = """
    shingled AS (
        SELECT doc_id, UNNEST(list_distinct(CASE WHEN len(toks) >= 3
            THEN list_transform(range(1, len(toks) - 1),
                                i -> array_to_string(toks[i:i+2], ' '))
            ELSE [] END)) AS sh
        FROM (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents)
    )
"""

# RP-tree projection directions as SQL list literals — generated from
# the SAME rp_vector formula the Spark operator uses, so the two sides
# cannot drift.
_RP1 = ", ".join(str(v) for v in S.rp_vector(64, 7, 3))
_RP2 = ", ".join(str(v) for v in S.rp_vector(64, 13, 5))

# minhash signature → banded buckets → candidate pairs, as reusable CTE
# text (shared by the pairs query and the cluster-resolution oracle)
_LSH_PAIRS_CTES = f"""
        {_SHINGLES_CTE},
        hashed AS (
            SELECT doc_id, md5(sh) || md5('x~' || sh) AS hx FROM shingled),
        sig AS (
            SELECT doc_id,
                   MIN(substr(hx, 1, 8)) AS mh_0, MIN(substr(hx, 9, 8)) AS mh_1,
                   MIN(substr(hx, 17, 8)) AS mh_2, MIN(substr(hx, 25, 8)) AS mh_3,
                   MIN(substr(hx, 33, 8)) AS mh_4, MIN(substr(hx, 41, 8)) AS mh_5,
                   MIN(substr(hx, 49, 8)) AS mh_6, MIN(substr(hx, 57, 8)) AS mh_7
            FROM hashed GROUP BY doc_id),
        banded AS (
            SELECT doc_id, 0 AS band, md5(mh_0 || '|' || mh_1) AS key FROM sig
            UNION ALL
            SELECT doc_id, 1, md5(mh_2 || '|' || mh_3) FROM sig
            UNION ALL
            SELECT doc_id, 2, md5(mh_4 || '|' || mh_5) FROM sig
            UNION ALL
            SELECT doc_id, 3, md5(mh_6 || '|' || mh_7) FROM sig),
        pairs AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
"""

_CLUSTERS_ORACLE = f"""
    WITH RECURSIVE {_LSH_PAIRS_CTES},
    edges AS (
        SELECT id_a AS u, id_b AS v FROM pairs
        UNION ALL
        SELECT id_b, id_a FROM pairs),
    reach(node, label) AS (
        SELECT u, u FROM edges
        UNION
        SELECT e.u, r.label FROM edges e JOIN reach r ON r.node = e.v)
    SELECT node AS doc_id, MIN(label) AS cluster_id
    FROM reach GROUP BY node
"""

# IVF-PQ oracle CTE chain (stand-in quantizers), shared by the
# composed search and its exact-refine stage.
_IVFPQ_CTES = """base AS (
            SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        cents AS (
            SELECT vec_id AS cent_id, emb AS cent_emb FROM base WHERE vec_id < 8),
        ranked_assign AS (
            SELECT b.vec_id, c.cent_id,
                   ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
                       ROUND(list_dot_product(b.emb, c.cent_emb)
                             / (sqrt(list_dot_product(b.emb, b.emb))
                                * sqrt(list_dot_product(c.cent_emb, c.cent_emb))), 6) DESC,
                       c.cent_id ASC) AS rn
            FROM base b CROSS JOIN cents c),
        assigned AS (
            SELECT vec_id, cent_id FROM ranked_assign WHERE rn = 1),
        qb AS (
            SELECT vec_id AS q_id, cent_id AS q_bucket
            FROM ranked_assign WHERE vec_id < 5 AND rn <= 2),
        cand AS (
            SELECT qb.q_id, a.vec_id
            FROM assigned a JOIN qb
              ON a.cent_id = qb.q_bucket AND a.vec_id <> qb.q_id),
        nb AS (
            SELECT vec_id,
                   list_transform(embedding::DOUBLE[],
                       x -> x / sqrt(list_dot_product(embedding::DOUBLE[],
                                                      embedding::DOUBLE[]))) AS n
            FROM embeddings),
        subs AS (
            SELECT vec_id, j.sub_j,
                   list_slice(n, j.sub_j*8 + 1, j.sub_j*8 + 8) AS sub
            FROM nb CROSS JOIN (SELECT UNNEST(range(8)) AS sub_j) j),
        cb AS (
            SELECT vec_id AS code_id, sub_j, sub AS codeword
            FROM subs WHERE vec_id < 64),
        codes AS (
            SELECT vec_id, sub_j, code_id FROM (
                SELECT s.vec_id, s.sub_j, c.code_id,
                       ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub_j ORDER BY
                           ROUND(list_dot_product(s.sub, s.sub)
                                 - 2*list_dot_product(s.sub, c.codeword)
                                 + list_dot_product(c.codeword, c.codeword), 9) ASC,
                           c.code_id ASC) AS rn
                FROM subs s JOIN cb c USING (sub_j))
            WHERE rn = 1),
        adc AS (
            SELECT s.vec_id AS q_id, s.sub_j, c.code_id,
                   CAST(ROUND(list_dot_product(s.sub, c.codeword), 12)
                        AS DECIMAL(24,12)) AS partial
            FROM subs s JOIN cb c USING (sub_j) WHERE s.vec_id < 5),
        scored AS (
            SELECT cd.q_id, cd.vec_id,
                   ROUND(CAST(SUM(a.partial) AS DOUBLE), 6) AS sim
            FROM cand cd
            JOIN codes co ON co.vec_id = cd.vec_id
            JOIN adc a ON a.q_id = cd.q_id AND a.sub_j = co.sub_j
                       AND a.code_id = co.code_id
            GROUP BY cd.q_id, cd.vec_id),
        ranked AS (
            SELECT q_id, vec_id, sim,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS BIGINT) AS rnk
            FROM scored)"""

def q_x_trigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jelinek-Mercer interpolated trigram NLL (Chen & Goodman 1999's
    smoothing baseline): counts from the even-doc_id half, odd half
    scored held-out — the normalized counterpart of x_backoff_nll."""
    d = t(spark, sf_dir, "documents")
    return C.interpolated_nll(
        d.filter(F.col("doc_id") % 2 == 1), d.filter(F.col("doc_id") % 2 == 0)
    )


def q_x_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type KMV theta sketch (k=128 minimum hash values) and
    its distinct-user estimate — the engine-portable sketch family
    (md5 hash → the oracle replays it bit-for-bit, unlike the HLL
    binaries in x_hll_rollup)."""
    from ..operators import sketches as K

    ev = t(spark, sf_dir, "events")
    kept = K.kmv_kept(ev, ["event_type"], "user_id", k=128)
    return K.kmv_estimate(kept, ["event_type"], k=128)


def q_x_kmv_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver row for the KMV state fold: run the exact state math —
    JVM-side ``_hash_frac`` then the Python ``_kmv_finalize`` merge —
    as a one-shot batch group-map, emitting the FINAL row per event
    type: (event_type, n_seen, n_kept, theta, estimate). The oracle
    replays the md5 arithmetic relationally, so the Python merge gets
    a full DuckDB hash check. Differs from x_kmv_distinct (the batch
    kmv_kept/kmv_stats plan) in the code under test: this row
    executes the ``_kmv_finalize`` merge."""
    from ..streaming.stateful import kmv_drain_batch

    ev = t(spark, sf_dir, "events")
    return kmv_drain_batch(ev, "event_type", "user_id", k=128)


def q_x_tdigest_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver row for the t-digest state fold: run the per-group math
    (``_tdigest_cluster`` + ``_tdigest_quantile_rows``) as a one-shot
    batch group-map, then audit it in the x_tdigest_quantiles
    tolerance form — per (event_type, q): exact n_seen (hash-checked
    against COUNT(*)), centroids_ok (≤ 2δ bounded state), and rank_ok
    (|rank(est) − q| ≤ max(0.05, 1/n))."""
    from ..streaming.stateful import tdigest_drain_batch

    ev = t(spark, sf_dir, "events")
    d = tdigest_drain_batch(ev, "event_type", "value", delta=100)
    return (
        ev.select("event_type", "value")
        .join(F.broadcast(d), "event_type")
        .groupBy("event_type", "q")
        .agg(
            F.max("n_seen").alias("n_seen"),
            (F.max("n_centroids") <= F.lit(200)).alias("centroids_ok"),
            (
                F.abs(
                    F.sum(
                        F.when(F.col("value") <= F.col("est"), 1).otherwise(0)
                    ).cast("double")
                    / F.count(F.lit(1)).cast("double")
                    - F.col("q")
                )
                <= F.greatest(
                    F.lit(0.05),
                    F.lit(1.0) / F.count(F.lit(1)).cast("double"),
                )
            ).alias("rank_ok"),
        )
    )


def q_x_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set ALGEBRA over two KMV sketches (view vs click
    users): union = merge + re-truncate, intersection = common hashes
    below the joint theta — the kilobyte-artifact answer to 'distinct
    users in BOTH funnels' that HLL cannot give."""
    from ..operators import sketches as K

    ev = t(spark, sf_dir, "events")
    kept = K.kmv_kept(ev, ["event_type"], "user_id", k=128)
    a = kept.filter(F.col("event_type") == "view").select("u")
    b = kept.filter(F.col("event_type") == "click").select("u")
    uni = K.kmv_union(a, b, k=128).select(
        F.lit("union").alias("op"), "n_kept", "estimate"
    )
    inter = K.kmv_intersect(a, b, k=128).select(
        F.lit("intersect").alias("op"),
        F.col("n_common").alias("n_kept"),
        "estimate",
    )
    return uni.union(inter)


def q_x_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis-Spirakis weighted sampling without replacement:
    top-25 docs per language by the u^(1/w) priority key, weight =
    n_chars — the exact-budget counterpart of the Bernoulli
    stratified/mixture samplers."""
    from ..operators import quality as Q

    return Q.weighted_sample(
        t(spark, sf_dir, "documents"),
        weight_col="n_chars",
        k=25,
        strata_col="lang",
    )


def q_x_editdist_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-level near-duplicate key pairs: Levenshtein ≤ 2 between
    distinct part names, candidates via per-word-position blocking
    (merge/purge) — entity resolution for dirty dimension values."""
    return D.editdist_pairs(t(spark, sf_dir, "part"), "p_name", max_dist=2)


def q_x_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MDM survivorship capstone — the full entity-resolution pipeline
    composed end-to-end: word-position blocking → Levenshtein ≤ 2
    scoring (editdist_pairs) → connected-component clustering → one
    GOLDEN RECORD per entity cluster with deterministic survivorship
    rules (canonical id = the cluster's min part key; exact
    min/max/count attribute merges — no order-dependent sums, so the
    whole table is engine-exact). Names map to numeric node ids
    (min p_partkey per name) before clustering — the CC loop's
    label-sum convergence check needs numeric labels. Singleton
    entities survive as their own golden record, giving the complete
    master table a downstream join would consume. Scale: blocking
    bounds the pair work, CC is star contraction (round 10 — O(log d)
    rounds + the size-gated local finish, so an edit-distance chain of
    ANY depth merges into one entity, which min-label's bounded
    propagation could only guarantee by raising), survivorship is one
    hash agg on the cluster key."""
    p = t(spark, sf_dir, "part")
    # star contraction converges on any diameter (no require_
    # convergence knob needed — the bound min-label had to guard with
    # a raise, star simply satisfies), and the local finish makes the
    # post-blocking graph cheap
    cmap = _part_entity_clusters(p)
    joined = p.join(cmap, "p_name")
    return joined.groupBy("cluster_id").agg(
        F.countDistinct("p_name").alias("n_names"),
        F.count(F.lit(1)).alias("n_parts"),
        F.min("p_brand").alias("canonical_brand"),
        F.min("p_retailprice").alias("min_price"),
        F.max("p_retailprice").alias("max_price"),
        F.max("p_size").alias("max_size"),
    )


def q_x_golden_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MDM survivorship, MOST-FREQUENT-VALUE rule (round 11 — the
    x_golden_records sibling real survivorship configs want): per
    entity cluster, each categorical attribute survives as its MODE
    across the cluster's member rows, ties broken by deterministic
    min value so the whole table stays engine-exact. Same blocking →
    Levenshtein → star-CC clustering as x_golden_records; the mode is
    ONE extra grouped count per (cluster, attr, value) — both
    attributes stacked into a single shuffle (stack → groupBy), then a
    per-(cluster, attr) row_number picks the winner. The labeled
    member table feeds two aggregations (base stats + stacked mode
    counts), so it is localCheckpointed once — the round-9 lesson:
    a lazily-shared subtree with the CC loop in its lineage would
    otherwise re-run clustering per reference."""
    p = t(spark, sf_dir, "part")
    cmap = _part_entity_clusters(p)
    joined = (
        p.select("p_name", "p_brand", "p_type")
        .join(cmap, "p_name")
        .localCheckpoint(eager=True)
    )
    base = joined.groupBy("cluster_id").agg(
        F.countDistinct("p_name").alias("n_names"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    stacked = joined.select(
        "cluster_id",
        F.expr(
            "stack(2, 'brand', p_brand, 'type', p_type) AS (attr, val)"
        ),
    )
    cnt = stacked.groupBy("cluster_id", "attr", "val").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id", "attr").orderBy(
        F.col("cnt").desc(), F.col("val").asc()
    )
    modes = (
        cnt.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .groupBy("cluster_id")
        .agg(
            F.max(F.when(F.col("attr") == "brand", F.col("val"))).alias(
                "mode_brand"
            ),
            F.max(F.when(F.col("attr") == "type", F.col("val"))).alias(
                "mode_type"
            ),
        )
    )
    return base.join(modes, "cluster_id")


def q_x_golden_conflicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MDM CONFLICT report (round 12 — the triage view next to the
    x_golden_* survivorship rules): per entity cluster and attribute,
    the cases where member rows DISAGREE — distinct value count, row
    count, the leading value with its support, and the consensus
    fraction a steward reads to decide between auto-merge and manual
    review. Survivorship picks a winner silently; this surfaces what
    it overrode.

    Same blocking → Levenshtein → star-CC chain and stacked
    one-shuffle attribute counts as x_golden_mode; the report adds
    one (cluster, attr) agg + the winner window over the SAME counts
    frame (checkpointed — two consumers). Only conflicted
    (n_values > 1) rows are emitted. The consensus fraction is the
    single double (top support / rows)."""
    from pyspark.sql import Window

    p = t(spark, sf_dir, "part")
    cmap = _part_entity_clusters(p)
    joined = (
        p.select("p_name", "p_brand", "p_type")
        .join(cmap, "p_name")
        .localCheckpoint(eager=True)
    )
    stacked = joined.select(
        "cluster_id",
        F.expr(
            "stack(2, 'brand', p_brand, 'type', p_type) AS (attr, val)"
        ),
    )
    cnt = (
        stacked.groupBy("cluster_id", "attr", "val")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    agg = cnt.groupBy("cluster_id", "attr").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_values"),
        F.sum("cnt").cast("bigint").alias("n_rows"),
    )
    w = Window.partitionBy("cluster_id", "attr").orderBy(
        F.col("cnt").desc(), F.col("val").asc()
    )
    top = (
        cnt.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "cluster_id",
            "attr",
            F.col("val").alias("top_val"),
            F.col("cnt").cast("bigint").alias("top_cnt"),
        )
    )
    return (
        agg.join(top, ["cluster_id", "attr"])
        .filter(F.col("n_values") > 1)
        .select(
            "cluster_id",
            "attr",
            "n_values",
            "n_rows",
            "top_val",
            "top_cnt",
            (
                F.col("top_cnt").cast("double")
                / F.col("n_rows").cast("double")
            ).alias("consensus_frac"),
        )
    )


def q_x_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY against the already-ingested corpus
    (round 12): the fraction of a document's distinct 3-gram shingles
    whose FIRST corpus occurrence (min doc_id — arrival order) is the
    document itself. The diversity dial of curation sampling: a crawl
    slice full of near-zero-novelty documents adds tokens but no new
    content, even when no single pair crosses a dedup threshold.

    Plan: one distinct-shingle explode, one min-agg per shingle
    (shingle-keyed — the same shuffle key family as the dedup
    operators), a join-back, and a doc-keyed agg; documents shorter
    than 3 tokens report 0 shingles and NULL novelty. At 100 TB the
    shingle frame is the same one exact/minhash dedup already
    materialize — novelty rides an existing shuffle shape."""
    d = t(spark, sf_dir, "documents")
    sh = d.select(
        "doc_id",
        F.explode(F.array_distinct(T.shingles("text", 3))).alias("sh"),
    )
    first = sh.groupBy("sh").agg(F.min("doc_id").alias("first_id"))
    per = (
        sh.join(first, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum(
                (F.col("first_id") == F.col("doc_id")).cast("bigint")
            ).cast("bigint").alias("n_novel"),
        )
    )
    return d.select("doc_id").join(per, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_shingles", F.lit(0)).cast("bigint").alias("n_shingles"),
        F.coalesce("n_novel", F.lit(0)).cast("bigint").alias("n_novel"),
        F.try_divide(F.col("n_novel"), F.col("n_shingles")).alias("novelty"),
    )


def _part_entity_clusters(p: DataFrame) -> DataFrame:
    """Shared blocking → Levenshtein ≤ 2 → star-CC chain of the
    x_golden_* family: returns (p_name, cluster_id) with singleton
    names surviving as their own cluster. Names map to numeric node
    ids (min p_partkey per name) before clustering."""
    ids = p.groupBy("p_name").agg(F.min("p_partkey").alias("nid"))
    pairs = D.editdist_pairs(p, "p_name", max_dist=2).select(
        "name_a", "name_b"
    )
    ia = ids.select(F.col("p_name").alias("name_a"), F.col("nid").alias("ida"))
    ib = ids.select(F.col("p_name").alias("name_b"), F.col("nid").alias("idb"))
    id_pairs = pairs.join(ia, "name_a").join(ib, "name_b").select("ida", "idb")
    cc = D.connected_components_star(id_pairs, src="ida", dst="idb")
    return ids.join(
        cc.select(F.col("doc_id").alias("nid"), F.col("cluster_id").alias("__cl")),
        "nid",
        "left",
    ).select(
        "p_name", F.coalesce(F.col("__cl"), F.col("nid")).alias("cluster_id")
    )


def q_x_golden_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MDM survivorship, SOURCE-PRIORITY + RECENCY rule (round 12 —
    the third x_golden_* config real MDM deployments want): per entity
    cluster the golden attributes come from the member row with the
    highest (source_priority, recency) — "prefer source A, else
    newest". Source = the part's brand line (priority: Brand#13 >
    Brand#1x > rest — the curated-feed-beats-bulk-feed config),
    recency = p_partkey (the load-order surrogate; unique, so the
    winner is fully deterministic before any value tie-break).

    The whole rule is ONE expression — max over
    struct(priority, recency, attrs...) in the same hash agg that
    computes the cluster stats (struct max is lexicographic by field
    order) — so priority survivorship adds ZERO shuffles over
    x_golden_records: blocking bounds pair work, star-CC labels, one
    grouped agg emits the golden table. Same shape at 100 TB: the agg
    is map-side partial, the struct is a few dozen bytes per row."""
    p = t(spark, sf_dir, "part")
    cmap = _part_entity_clusters(p)
    prio = (
        F.when(F.col("p_brand") == "Brand#13", F.lit(3))
        .when(F.col("p_brand").startswith("Brand#1"), F.lit(2))
        .otherwise(F.lit(1))
    )
    joined = p.join(cmap, "p_name")
    best = F.max(
        F.struct(
            prio.alias("prio"),
            F.col("p_partkey").alias("recency"),
            F.col("p_brand").alias("brand"),
            F.col("p_type").alias("ptype"),
        )
    ).alias("b")
    return (
        joined.groupBy("cluster_id")
        .agg(
            F.countDistinct("p_name").alias("n_names"),
            F.count(F.lit(1)).alias("n_parts"),
            best,
        )
        .select(
            "cluster_id",
            "n_names",
            "n_parts",
            F.col("b.prio").alias("win_priority"),
            F.col("b.recency").alias("win_partkey"),
            F.col("b.brand").alias("golden_brand"),
            F.col("b.ptype").alias("golden_type"),
        )
    )


def q_x_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood candidate pairs over customer names
    (window 3, Levenshtein <= 2, ranks assigned within 15-char prefix
    blocks — no global sort in the plan): catches the digit-suffix
    near-keys word blocking scatters."""
    return D.sorted_neighborhood_pairs(
        t(spark, sf_dir, "customer"), "c_name", window=3, max_dist=2,
        block_prefix=15,
    )


def q_x_linkage_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter linkage scores over nation-blocked customer
    pairs: segment equality, account-balance proximity (<500) and
    balance band agreement, with fixed (m, u) parameters — the
    probabilistic upgrade of the binary editdist/sorted-neighborhood
    candidates. Top-200 by score (ties → id order)."""
    c = t(spark, sf_dir, "customer")
    comps = [
        (F.col("c_mktsegment_a") == F.col("c_mktsegment_b"), 0.9, 0.2),
        (F.abs(F.col("c_acctbal_a") - F.col("c_acctbal_b")) < 500, 0.7, 0.1),
        (
            F.floor(F.col("c_acctbal_a") / 1000)
            == F.floor(F.col("c_acctbal_b") / 1000),
            0.8,
            0.15,
        ),
    ]
    return D.fellegi_sunter_pairs(
        c, id_col="c_custkey", block_col="c_nationkey",
        comparisons=comps, top_k=200,
    )


def q_x_dd_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDSketch quantiles (Masson et al., VLDB 2019): p50/p95/p99 of
    event value per event type from the mergeable log-bucket sketch —
    α=1% relative-error guarantee, sketch table a few hundred rows
    regardless of corpus size. Fully deterministic (9-dp-rounded log
    bucketing), so the oracle replays the sketch exactly rather than
    tolerance-checking it."""
    from ..operators import sketches as K

    ev = t(spark, sf_dir, "events")
    b = K.dd_buckets(ev, keys=["event_type"], col="value", alpha=0.01)
    return K.dd_quantiles(b, keys=["event_type"], qs=[0.5, 0.95, 0.99],
                          alpha=0.01)


def q_x_tdigest_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-digest quantiles (Dunning & Ertl, arXiv:1902.04023): p50/p95/
    p99 of event value per event type from the mergeable centroid
    sketch — the rank-adaptive complement of x_dd_quantiles (DDSketch
    fixes relative VALUE error; the t-digest fixes RANK error, tight
    at the tails). The learned centroids are data-adaptive floats with
    no ANSI-SQL replay, so the gate row is the tolerance-audit form
    (the x_hll_rollup pattern): per (event_type, q), the exact row
    count (hash-checked) plus the boolean |rank(est) − q| ≤ tol with
    tol = max(0.05, 1/n): a δ=100 digest holds rank error well under
    1%, so the 5% bound only fails on a real sketch regression, while
    the 1/n floor keeps tiny groups honest — with n rows the
    achievable rank granularity is 1/n, so q=0.99 is unattainable
    within 5% for n < 20 regardless of digest health. Exact accuracy,
    shard invariance, and determinism are pinned in
    tests/test_scale_paths.py."""
    from ..operators import sketches as K

    ev = t(spark, sf_dir, "events")
    cent = K.tdigest_centroids(ev, ["event_type"], "value", delta=100)
    est = K.tdigest_quantiles(cent, ["event_type"], [0.5, 0.95, 0.99])
    return (
        ev.select("event_type", "value")
        .join(F.broadcast(est), "event_type")
        .groupBy("event_type", "q")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (
                F.abs(
                    F.sum(
                        F.when(F.col("value") <= F.col("est"), 1).otherwise(0)
                    ).cast("double")
                    / F.count(F.lit(1)).cast("double")
                    - F.col("q")
                )
                <= F.greatest(
                    F.lit(0.05),
                    F.lit(1.0) / F.count(F.lit(1)).cast("double"),
                )
            ).alias("rank_ok"),
        )
    )


def q_x_tdigest_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-table ROLLUP for quantiles (the x_hll_rollup story with
    rank instead of cardinality): per-(event_type, day) t-digests are
    built once, then the per-type p50/p95/p99 come from merging the
    DAILY centroid table (operators/sketches.tdigest_merge) — facts
    are never re-read at query time, which at 100 TB is the
    difference between a dashboard refresh and a table scan. Audit
    form: exact n_rows hash-checked, rank_ok ≤ max(0.05, 1/n) —
    rollup-vs-direct consistency is pinned in
    tests/test_scale_paths.py."""
    from ..operators import sketches as K

    ev = t(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    # daily slices are already small groups — 4 build shards apiece,
    # not the default 32 (which exists for whole-corpus keys), keeps
    # the Arrow group count proportionate
    daily = K.tdigest_centroids(
        ev, ["event_type", "day"], "value", delta=100, n_shards=4
    )
    merged = K.tdigest_merge(daily, ["event_type"], delta=100)
    est = K.tdigest_quantiles(merged, ["event_type"], [0.5, 0.95, 0.99])
    return (
        ev.select("event_type", "value")
        .join(F.broadcast(est), "event_type")
        .groupBy("event_type", "q")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (
                F.abs(
                    F.sum(
                        F.when(F.col("value") <= F.col("est"), 1).otherwise(0)
                    ).cast("double")
                    / F.count(F.lit(1)).cast("double")
                    - F.col("q")
                )
                <= F.greatest(
                    F.lit(0.05),
                    F.lit(1.0) / F.count(F.lit(1)).cast("double"),
                )
            ).alias("rank_ok"),
        )
    )


def q_x_spacesaving_drain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver row for the SpaceSaving heavy-hitter summary (Metwally
    et al. 2005): the one-shot batch drain runs the deterministic fold
    (streaming.stateful._spacesaving_fold), then
    the audit checks the sketch's THEOREMS against exact counts — per
    event_type: exact n_seen and counter count (both hash-checked:
    n_counters = min(m, distinct items)), every true heavy hitter
    (count > n/m) present, and est ≥ true ≥ est − err for every kept
    counter. The summary is m=64 counters per key forever, the
    frequency sibling of the KMV/t-digest state rows."""
    from ..streaming.stateful import spacesaving_drain_batch

    ev = t(spark, sf_dir, "events")
    d = spacesaving_drain_batch(ev, "event_type", "user_id", m=64)
    truth = ev.groupBy(
        "event_type", F.col("user_id").cast("string").alias("item")
    ).agg(F.count(F.lit(1)).alias("true_c"))
    tot = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_rows"))
    kept = d.join(truth, ["event_type", "item"])
    per_key = kept.groupBy("event_type").agg(
        F.max("n_seen").alias("n_seen"),
        F.count(F.lit(1)).alias("n_counters"),
        F.min(
            (F.col("est") >= F.col("true_c"))
            & (F.col("est") - F.col("err") <= F.col("true_c"))
        ).alias("bounds_ok"),
    )
    hh = (
        truth.join(F.broadcast(tot), "event_type")
        .filter(F.col("true_c") * 64 > F.col("n_rows"))
        .join(
            d.select("event_type", "item").withColumn("__kept", F.lit(1)),
            ["event_type", "item"],
            "left",
        )
        .groupBy("event_type")
        .agg(F.min(F.coalesce(F.col("__kept"), F.lit(0))).alias("__allkept"))
    )
    return per_key.join(hh, "event_type", "left").select(
        "event_type",
        "n_seen",
        "n_counters",
        F.coalesce(F.col("__allkept") == 1, F.lit(True)).alias(
            "contains_all_hh"
        ),
        "bounds_ok",
    )


def q_x_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch point queries for the corpus's true top-15
    terms: d=4 x 256 additive counters, estimate = min over rows —
    always >= the true count (collisions only add). The frequency
    sibling of the KMV/HLL cardinality sketches."""
    from ..operators import sketches as K

    occ = t(spark, sf_dir, "documents").select(
        F.explode(T.tokens("text")).alias("term")
    )
    cms = K.cms_build(occ, d=4, width=256)
    freq = occ.groupBy("term").agg(F.count(F.lit(1)).alias("true_count"))
    from ..operators.partitioning import sharded_topk

    top = sharded_topk(
        freq, 15, [F.col("true_count").desc(), F.col("term")],
        rank_col="__rn", shard_cols=["term"],
    ).drop("__rn")
    return K.cms_estimate(cms, top, d=4, width=256)


def q_x_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares Zipf slope/intercept of ln(freq) vs ln(rank) over
    the corpus vocabulary — the one-number frequency-spectrum health
    profile (natural text sits near slope -1)."""
    return C.zipf_fit(t(spark, sf_dir, "documents"))


def q_x_embed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding-column profile (dead dims, scale drift,
    outliers): posexplode -> d-key hash-agg, decimal-exact moments."""
    return S.embed_stats(t(spark, sf_dir, "embeddings"))


def q_x_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA projection of the embedding corpus onto 4 distributed-fit
    principal components (covariance assembled as d^2-key aggregates,
    eigh on the driver-sized d x d result). PERMANENTLY rows-only by
    decision (round 6): numpy eigh has no ANSI-SQL replay, and
    swapping it for a SQL-replayable iterative solver would trade
    eigenbasis fidelity for oracle coverage the catalog already has —
    the Parseval shadow x_pca_invariants checks this query's centering
    and basis orthonormality, and x_power_iteration proves the
    distributed eigen-math itself cross-engine-exact in fixed-point.
    Variance ordering, sign determinism and reconstruction quality are
    pinned in tests/test_similarity.py."""
    e = t(spark, sf_dir, "embeddings")
    comps, _, mu = S.pca_fit(e, n_components=4)
    return S.pca_project(e.filter(F.col("vec_id") < 50), comps, mu)


def q_x_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant covariance eigenvector by 8 rounds of power iteration
    in engine-portable integer fixed-point (see
    operators/similarity.power_iteration_top) — the fully-oracled
    eigensolver row: exact integer covariance numerator, integer
    matrix-vector products, IEEE-deterministic normalize, so the
    DuckDB oracle unrolls the identical 8 rounds as chained CTEs and
    hash-matches every loading bit-for-bit. Convergence toward eigh's
    top eigenvector is pinned separately in tests/test_similarity.py;
    THIS row pins that the distributed eigen-arithmetic cannot drift
    between engines."""
    return S.power_iteration_top(
        t(spark, sf_dir, "embeddings"), dims=64, iters=8
    )


def q_x_pca_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial oracle for the PCA eigendecomposition: fit the FULL
    eigenbasis (n_components = d), project, and emit each row's
    Σ_k pc_k². For a correct orthonormal basis and mean this equals
    ‖x − μ‖² (Parseval), which the oracle computes straight from the
    raw embeddings — rotation- and sign-independent, so it checks the
    centering and the basis orthonormality without replaying eigh in
    SQL. x_pca_project itself stays rows-only (component loadings are
    sign/rotation-convention-specific); this is its SQL-checkable
    shadow."""
    e = t(spark, sf_dir, "embeddings")
    comps, _, mu = S.pca_fit(e, n_components=64)
    proj = S.pca_project(e.filter(F.col("vec_id") < 50), comps, mu)
    sq = None
    for k in range(len(comps)):
        term = F.col(f"pc{k + 1}") * F.col(f"pc{k + 1}")
        sq = term if sq is None else sq + term
    return proj.select("vec_id", F.round(sq, 6).alias("centered_norm_sq"))


def q_x_mmr_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial oracle for MMR: with an empty selected set the first
    greedy pick is pure relevance, so MMR rank-1 over exact top-25
    candidates must equal the global argmax-cosine neighbor (ties →
    lower vec_id) — SQL-expressible even though the full greedy loop
    is not. x_mmr_rerank (k=5 over IVF-PQ candidates) stays rows-only;
    this pins the selection seed against DuckDB."""
    e = t(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5)
    cands = S.brute_force_topk(e, q, k=25).select("q_id", "vec_id")
    return S.mmr_rerank(e, q, cands, k=1, lam=0.7)


# Logistic-GD oracle: three full-batch steps unrolled; w{i} CTEs are
# 1-row weight tables cross-joined into the next step's residuals —
# the same expression tree the DataFrame loop builds.
def _logreg_step(i: int) -> str:
    prev = f"w{i - 1}"
    z = f"({prev}.w0 + {prev}.wx1 * f.x1 + {prev}.wx2 * f.x2)"
    resid = f"(f.y - 1.0 / (1.0 + exp(-{z})))"
    return f""",
        g{i} AS (
            SELECT SUM(CAST(ROUND({resid}, 9) AS DECIMAL(38,9))) AS g0,
                   SUM(CAST(ROUND({resid} * f.x1, 9) AS DECIMAL(38,9))) AS g1,
                   SUM(CAST(ROUND({resid} * f.x2, 9) AS DECIMAL(38,9))) AS g2
            FROM feats f CROSS JOIN {prev}),
        w{i} AS (
            SELECT {prev}.w0 + CAST(1.0 AS DOUBLE) / nn.n * CAST(g{i}.g0 AS DOUBLE) AS w0,
                   {prev}.wx1 + CAST(1.0 AS DOUBLE) / nn.n * CAST(g{i}.g1 AS DOUBLE) AS wx1,
                   {prev}.wx2 + CAST(1.0 AS DOUBLE) / nn.n * CAST(g{i}.g2 AS DOUBLE) AS wx2
            FROM w{i - 1} AS {prev} CROSS JOIN g{i} CROSS JOIN nn)"""


_LOGREG_SQL = (
    """
        WITH feats AS (
            SELECT CASE WHEN lang = 'en' THEN CAST(1.0 AS DOUBLE)
                        ELSE CAST(0.0 AS DOUBLE) END AS y,
                   CAST(n_chars AS DOUBLE) / 1000.0 AS x1,
                   CAST(len(string_split(trim(text), ' ')) AS DOUBLE) / 100.0 AS x2
            FROM documents),
        nn AS (SELECT COUNT(*) AS n FROM feats),
        w0 AS (SELECT CAST(0.0 AS DOUBLE) AS w0, CAST(0.0 AS DOUBLE) AS wx1,
                      CAST(0.0 AS DOUBLE) AS wx2)"""
    + "".join(_logreg_step(i) for i in (1, 2, 3))
    + """
        SELECT w3.w0, w3.wx1 AS w_x1, w3.wx2 AS w_x2,
               CAST(nn.n AS BIGINT) AS n_rows
        FROM w3 CROSS JOIN nn
    """
)


# PageRank oracle: the three power iterations unrolled as CTE pairs
# (contribution agg, rank refresh), generated by the same loop shape
# as the operator so the arithmetic trees match term-for-term.
_PAGERANK_ITERS = "".join(
    f""",
        c{i} AS (
            SELECT e.dst AS node,
                   SUM(CAST(ROUND(r{i - 1}.r * e.w / e.ow, 12)
                            AS DECIMAL(38,12))) AS s
            FROM ew e JOIN r{i - 1} ON e.src = r{i - 1}.node
            GROUP BY 1),
        r{i} AS (
            SELECT nodes.node,
                   (CAST(1.0 AS DOUBLE) - 0.85) / nn.n
                     + 0.85 * CAST(COALESCE(c{i}.s, 0) AS DOUBLE) AS r
            FROM nodes CROSS JOIN nn
            LEFT JOIN c{i} ON nodes.node = c{i}.node)"""
    for i in (1, 2, 3)
)

_PAGERANK_SQL = f"""
        WITH edges AS (
            SELECT 's' || l.l_suppkey AS src, 'c' || o.o_custkey AS dst,
                   CAST(COUNT(*) AS DOUBLE) AS w
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            GROUP BY 1, 2),
        outw AS (SELECT src, SUM(w) AS ow FROM edges GROUP BY 1),
        ew AS (SELECT e.src, e.dst, e.w, o.ow FROM edges e JOIN outw o USING (src)),
        nodes AS (
            SELECT DISTINCT node FROM (
                SELECT src AS node FROM edges
                UNION ALL SELECT dst FROM edges)),
        nn AS (SELECT COUNT(*) AS n FROM nodes),
        r0 AS (
            SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS r
            FROM nodes CROSS JOIN nn){_PAGERANK_ITERS}
        SELECT node, r AS rank,
               CAST(ROW_NUMBER() OVER (ORDER BY r DESC, node ASC) AS BIGINT) AS rnk
        FROM r3 QUALIFY rnk <= 100
    """

_PROFILE_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)

_PROFILE_SQL = "\n        UNION ALL\n".join(
    f"""
        SELECT '{c}' AS "column",
               COUNT(*) AS n_rows,
               CAST(COUNT(*) FILTER (WHERE {c} IS NULL) AS BIGINT) AS n_nulls,
               CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
               CAST(MIN({c}) AS VARCHAR) AS min_val,
               CAST(MAX({c}) AS VARCHAR) AS max_val
        FROM orders"""
    for c in _PROFILE_COLS
)

ORACLES: dict[str, str] = {
    "x_logreg_quality": _LOGREG_SQL,
    "x_profile_table": _PROFILE_SQL,
    "x_pagerank": _PAGERANK_SQL,
    "x_embed_stats": """
        WITH vals AS (
            SELECT p.dim, CAST(e.embedding[p.dim + 1] AS DOUBLE) AS x
            FROM embeddings e
            CROSS JOIN (SELECT UNNEST(range(64)) AS dim) p)
        SELECT dim, COUNT(*) AS n,
               CAST(SUM(CAST(ROUND(x, 12) AS DECIMAL(28,12))) AS DOUBLE)
                   / COUNT(*) AS mean,
               CAST(SUM(CAST(ROUND(x * x, 12) AS DECIMAL(28,12))) AS DOUBLE)
                   / COUNT(*)
                 - (CAST(SUM(CAST(ROUND(x, 12) AS DECIMAL(28,12))) AS DOUBLE)
                    / COUNT(*))
                   * (CAST(SUM(CAST(ROUND(x, 12) AS DECIMAL(28,12))) AS DOUBLE)
                      / COUNT(*)) AS variance,
               MIN(x) AS lo, MAX(x) AS hi
        FROM vals GROUP BY dim
    """,
    "x_normalized_dedup": """
        SELECT source,
               COUNT(*) AS n_docs,
               COUNT(DISTINCT md5(text)) AS n_raw_distinct,
               COUNT(DISTINCT md5(
                   trim(regexp_replace(
                       regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                       ' +', ' ', 'g'))))
                   AS n_norm_distinct
        FROM documents GROUP BY 1
    """,
    "x_dedup_simhash": """
        WITH tok AS (
            SELECT doc_id, UNNEST(string_split(trim(text), ' ')) AS tok
            FROM documents),
        hx AS (
            SELECT doc_id,
                   CAST('0x' || substr(md5(tok), 1, 4) AS BIGINT) AS h
            FROM tok),
        votes AS (
            SELECT doc_id, i.i,
                   SUM(CASE WHEN (h >> i.i) & 1 = 1 THEN 1 ELSE -1 END) AS s
            FROM hx CROSS JOIN (SELECT UNNEST(range(16)) AS i) i
            GROUP BY 1, 2)
        SELECT doc_id,
               CAST(SUM(CASE WHEN s > 0
                             THEN CAST(1 AS BIGINT) << i ELSE 0 END)
                   AS BIGINT) AS simhash
        FROM votes GROUP BY 1
    """,
    "x_dd_quantiles": """
        WITH b AS (
            SELECT event_type,
                   CEIL(ROUND(ln(value)
                        / ln((1.0 + 0.01) / (1.0 - 0.01)), 9)) AS bucket,
                   COUNT(*) AS cnt
            FROM events GROUP BY 1, 2),
        cum AS (
            SELECT event_type, bucket,
                   SUM(cnt) OVER (PARTITION BY event_type ORDER BY bucket
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum,
                   SUM(cnt) OVER (PARTITION BY event_type) AS n
            FROM b),
        qx AS (SELECT UNNEST([CAST(0.5 AS DOUBLE), CAST(0.95 AS DOUBLE),
                              CAST(0.99 AS DOUBLE)]) AS q)
        SELECT event_type, q,
               2.0 * pow((1.0 + 0.01) / (1.0 - 0.01), bucket)
                   / ((1.0 + 0.01) / (1.0 - 0.01) + 1.0) AS est
        FROM (SELECT c.event_type, qx.q, MIN(c.bucket) AS bucket
              FROM cum c CROSS JOIN qx
              WHERE c.cum >= CEIL(qx.q * c.n)
              GROUP BY 1, 2)
    """,
    "x_linkage_score": """
        WITH pairs AS (
            SELECT x.c_custkey AS id_a, y.c_custkey AS id_b,
                   (CASE WHEN x.c_mktsegment = y.c_mktsegment
                         THEN ln(0.9 / 0.2)
                         ELSE ln((1.0 - 0.9) / (1.0 - 0.2)) END
                    + CASE WHEN abs(x.c_acctbal - y.c_acctbal) < 500
                           THEN ln(0.7 / 0.1)
                           ELSE ln((1.0 - 0.7) / (1.0 - 0.1)) END
                    + CASE WHEN floor(x.c_acctbal / 1000)
                                = floor(y.c_acctbal / 1000)
                           THEN ln(0.8 / 0.15)
                           ELSE ln((1.0 - 0.8) / (1.0 - 0.15)) END)
                       AS score
            FROM customer x JOIN customer y
              ON x.c_nationkey = y.c_nationkey
             AND x.c_custkey < y.c_custkey)
        SELECT id_a, id_b, score, rnk FROM (
            SELECT id_a, id_b, score,
                   CAST(ROW_NUMBER() OVER (
                       ORDER BY score DESC, id_a, id_b) AS BIGINT) AS rnk
            FROM pairs)
        WHERE rnk <= 200
    """,
    "x_dsir_weights": """
        WITH occ AS (
            SELECT doc_id, (lang = 'en') AS t,
                   UNNEST(string_split(trim(text), ' ')) AS term
            FROM documents),
        tokb AS (
            SELECT doc_id, t,
                   CAST('0x' || substr(md5(term), 1, 8) AS BIGINT) % 1024
                       AS bucket
            FROM occ),
        per AS (
            SELECT doc_id, bucket, COUNT(*) AS cnt,
                   SUM(CASE WHEN t THEN 1 ELSE 0 END) AS tcnt_doc
            FROM tokb GROUP BY 1, 2),
        raw AS (
            SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS rcnt,
                   CAST(SUM(tcnt_doc) AS BIGINT) AS tcnt
            FROM per GROUP BY 1),
        tot AS (SELECT CAST(SUM(rcnt) AS DOUBLE) AS r_total,
                       CAST(SUM(tcnt) AS DOUBLE) AS t_total FROM raw)
        SELECT per.doc_id,
               CAST(SUM(per.cnt) AS BIGINT) AS n_tokens,
               CAST(SUM(CAST(ROUND(per.cnt * ln(
                       ((raw.tcnt + 1.0) / (tot.t_total + 1024.0))
                       / ((raw.rcnt + 1.0) / (tot.r_total + 1024.0))), 12)
                   AS DECIMAL(28,12))) AS DOUBLE) AS weight
        FROM per JOIN raw USING (bucket) CROSS JOIN tot
        GROUP BY 1
    """,
    "x_label_prop": """
        WITH e0 AS (
            SELECT 's' || l_suppkey AS src, 'c' || o_custkey AS dst,
                   CAST(COUNT(*) AS BIGINT) AS w
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY 1, 2),
        sym AS (SELECT src, dst, w FROM e0
                UNION ALL SELECT dst AS src, src AS dst, w FROM e0),
        l0 AS (SELECT DISTINCT src AS node FROM sym),
        v1 AS (SELECT s.dst, l.node AS label, SUM(s.w) AS v
               FROM sym s JOIN l0 l ON s.src = l.node GROUP BY 1, 2),
        l1 AS (SELECT dst AS node, label FROM (
                   SELECT dst, label,
                          ROW_NUMBER() OVER (PARTITION BY dst
                              ORDER BY v DESC, label ASC) AS rn
                   FROM v1) WHERE rn = 1),
        v2 AS (SELECT s.dst, l.label, SUM(s.w) AS v
               FROM sym s JOIN l1 l ON s.src = l.node GROUP BY 1, 2),
        l2 AS (SELECT dst AS node, label FROM (
                   SELECT dst, label,
                          ROW_NUMBER() OVER (PARTITION BY dst
                              ORDER BY v DESC, label ASC) AS rn
                   FROM v2) WHERE rn = 1)
        SELECT node, label FROM l2
    """,
    "x_pca_invariants": """
        WITH mu AS (
            SELECT p.dim,
                   CAST(SUM(CAST(ROUND(CAST(e.embedding[p.dim + 1] AS DOUBLE),
                                       12) AS DECIMAL(28,12))) AS DOUBLE)
                       / COUNT(*) AS m
            FROM embeddings e
            CROSS JOIN (SELECT UNNEST(range(64)) AS dim) p
            GROUP BY 1),
        vals AS (
            SELECT e.vec_id, p.dim,
                   CAST(e.embedding[p.dim + 1] AS DOUBLE) AS x
            FROM embeddings e
            CROSS JOIN (SELECT UNNEST(range(64)) AS dim) p
            WHERE e.vec_id < 50)
        SELECT v.vec_id,
               ROUND(SUM((v.x - mu.m) * (v.x - mu.m)), 6) AS centered_norm_sq
        FROM vals v JOIN mu USING (dim)
        GROUP BY 1
    """,
    "x_mmr_first": """
        WITH base AS (
            SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        tq AS (SELECT vec_id AS q_id, emb AS q_emb FROM base WHERE vec_id < 5),
        scored AS (
            -- ROUND 6 matches mmr_rerank's r5 rounding: an unrounded
            -- ulp difference here could flip the rank-1 argmax
            SELECT tq.q_id, b.vec_id,
                   ROUND(list_dot_product(tq.q_emb, b.emb)
                       / (sqrt(list_dot_product(tq.q_emb, tq.q_emb))
                          * sqrt(list_dot_product(b.emb, b.emb))), 6) AS sim
            FROM base b CROSS JOIN tq WHERE b.vec_id <> tq.q_id)
        SELECT q_id, vec_id, CAST(1 AS BIGINT) AS rnk
        FROM (SELECT q_id, vec_id,
                     ROW_NUMBER() OVER (PARTITION BY q_id
                                        ORDER BY sim DESC, vec_id ASC) AS rn
              FROM scored)
        WHERE rn = 1
    """,
    "x_cms_heavy_hitters": """
        WITH occ AS (
            SELECT UNNEST(string_split(trim(text), ' ')) AS term
            FROM documents),
        freq AS (SELECT term, COUNT(*) AS true_count FROM occ GROUP BY 1),
        top AS (
            SELECT term, true_count FROM (
                SELECT term, true_count,
                       ROW_NUMBER() OVER (ORDER BY true_count DESC, term) AS rn
                FROM freq)
            WHERE rn <= 15),
        hs AS (SELECT UNNEST(range(4)) AS i),
        cms AS (
            SELECT r.i,
                   CAST(('0x' || substr(md5(CAST(r.i AS VARCHAR) || ':' || o.term),
                                        1, 8)) AS BIGINT) % 256 AS bucket,
                   COUNT(*) AS cnt
            FROM occ o CROSS JOIN hs r GROUP BY 1, 2),
        probes AS (
            SELECT t.term, t.true_count, r.i,
                   CAST(('0x' || substr(md5(CAST(r.i AS VARCHAR) || ':' || t.term),
                                        1, 8)) AS BIGINT) % 256 AS bucket
            FROM top t CROSS JOIN hs r)
        SELECT p.term, p.true_count, MIN(c.cnt) AS cms_count
        FROM probes p JOIN cms c USING (i, bucket)
        GROUP BY 1, 2
    """,
    "x_zipf_fit": """
        WITH freq AS (
            SELECT term, COUNT(*) AS c FROM (
                SELECT UNNEST(string_split(trim(text), ' ')) AS term
                FROM documents)
            GROUP BY 1),
        ranked AS (
            SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, term) AS rank
            FROM freq),
        m AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
                   CAST(SUM(CAST(ROUND(ln(CAST(rank AS DOUBLE)), 12)
                                 AS DECIMAL(28,12))) AS DOUBLE) AS sx,
                   CAST(SUM(CAST(ROUND(ln(CAST(c AS DOUBLE)), 12)
                                 AS DECIMAL(28,12))) AS DOUBLE) AS sy,
                   CAST(SUM(CAST(ROUND(ln(CAST(rank AS DOUBLE))
                                       * ln(CAST(c AS DOUBLE)), 12)
                                 AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
                   CAST(SUM(CAST(ROUND(ln(CAST(rank AS DOUBLE))
                                       * ln(CAST(rank AS DOUBLE)), 12)
                                 AS DECIMAL(28,12))) AS DOUBLE) AS sxx
            FROM ranked)
        SELECT n_terms,
               (n_terms * sxy - sx * sy) / (n_terms * sxx - sx * sx) AS slope,
               (sy - ((n_terms * sxy - sx * sy) / (n_terms * sxx - sx * sx)) * sx)
                   / n_terms AS intercept
        FROM m
    """,

    "x_dedup_exact": """
        SELECT md5(text) AS content_hash,
               MIN(doc_id) AS keep_id,
               COUNT(*) AS n_copies
        FROM documents GROUP BY 1
    """,
    "x_lsh_precision": f"""
        WITH {_LSH_PAIRS_CTES.strip()},
        sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingled GROUP BY 1),
        inter AS (
            SELECT p.id_a, p.id_b, COUNT(*) AS n_common
            FROM pairs p
            JOIN shingled a ON a.doc_id = p.id_a
            JOIN shingled b ON b.doc_id = p.id_b AND b.sh = a.sh
            GROUP BY 1, 2),
        scored AS (
            SELECT CAST(COALESCE(i.n_common, 0) AS DOUBLE)
                   / (sa.n_sh + sb.n_sh - COALESCE(i.n_common, 0)) AS j
            FROM pairs p
            LEFT JOIN inter i USING (id_a, id_b)
            JOIN sz sa ON sa.doc_id = p.id_a
            JOIN sz sb ON sb.doc_id = p.id_b)
        SELECT COUNT(*) AS n_candidates,
               CAST(COUNT(*) FILTER (WHERE j >= 0.2) AS BIGINT) AS n_true,
               CASE WHEN COUNT(*) = 0 THEN NULL
                    ELSE CAST(COUNT(*) FILTER (WHERE j >= 0.2) AS DOUBLE)
                         / COUNT(*) END AS "precision"
        FROM scored
    """,
    "x_dedup_minhash_lsh": f"""
        WITH {_LSH_PAIRS_CTES}
        SELECT id_a, id_b FROM pairs
    """,
    "x_dedup_minhash_est": f"""
        WITH {_LSH_PAIRS_CTES}
        SELECT p.id_a, p.id_b,
               CAST({' + '.join(f'(CASE WHEN a.mh_{i} = b.mh_{i} THEN 1 ELSE 0 END)' for i in range(8))}
                    AS DOUBLE) / 8 AS est_jaccard
        FROM pairs p
        JOIN sig a ON a.doc_id = p.id_a
        JOIN sig b ON b.doc_id = p.id_b
    """,
    "x_incremental_neardup": f"""
        WITH {_LSH_PAIRS_CTES},
        cand AS (
            SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.key = b.key
             AND a.doc_id <> b.doc_id),
        eq AS (
            SELECT c.ida, c.idb,
                   ({' + '.join(f'(CASE WHEN a.mh_{i} = b.mh_{i} THEN 1 ELSE 0 END)' for i in range(8))})
                       AS n_eq
            FROM cand c
            JOIN sig a ON a.doc_id = c.ida
            JOIN sig b ON b.doc_id = c.idb),
        dom_even AS (
            SELECT DISTINCT ida AS doc_id FROM eq
            WHERE ida % 2 = 0 AND idb % 2 = 0 AND idb < ida
              AND n_eq * 2 >= 8),
        store AS (
            SELECT doc_id FROM documents WHERE doc_id % 2 = 0
              AND doc_id NOT IN (SELECT doc_id FROM dom_even)),
        eq_store AS (
            SELECT e.ida AS doc_id, MAX(n_eq) AS max_eq_store,
                   MAX(CASE WHEN n_eq * 2 >= 8 THEN 1 ELSE 0 END) AS dup_store
            FROM eq e JOIN store s ON e.idb = s.doc_id
            WHERE e.ida % 2 = 1
            GROUP BY 1),
        dom_batch AS (
            SELECT DISTINCT ida AS doc_id FROM eq
            WHERE ida % 2 = 1 AND idb % 2 = 1 AND idb < ida
              AND n_eq * 2 >= 8)
        SELECT d.doc_id,
               (COALESCE(es.dup_store, 0)
                + (CASE WHEN db.doc_id IS NULL THEN 0 ELSE 1 END)) = 0
                   AS admitted,
               es.max_eq_store
        FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
        LEFT JOIN eq_store es USING (doc_id)
        LEFT JOIN dom_batch db USING (doc_id)
    """,
    # x_softdedup_drain: literal two-batch replay of the streaming
    # soft-dedup admission — batch 0 (even ids) clusters internally;
    # batch 1 (odd ids) clusters over (odd ↔ batch-0 cluster label,
    # odd ↔ odd) verified edges; running size = batch members +
    # store members of every batch-0 cluster merged into the
    # component. Verified = signature agreement n_eq·2 ≥ 8 (the
    # integer form of est_jaccard ≥ 0.5); both reach CTEs follow the
    # standard edges-both-directions pattern.
    "x_softdedup_drain": f"""
        WITH RECURSIVE {_LSH_PAIRS_CTES},
        cand AS (
            SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb
            FROM banded a JOIN banded b
              ON a.band = b.band AND a.key = b.key
             AND a.doc_id <> b.doc_id),
        ver AS (
            SELECT c.ida, c.idb FROM cand c
            JOIN sig a ON a.doc_id = c.ida
            JOIN sig b ON b.doc_id = c.idb
            WHERE ({' + '.join(f'(CASE WHEN a.mh_{i} = b.mh_{i} THEN 1 ELSE 0 END)' for i in range(8))}) * 2 >= 8),
        e0 AS (
            SELECT ida AS u, idb AS v FROM ver
            WHERE ida % 2 = 0 AND idb % 2 = 0),
        reach0(node, label) AS (
            SELECT u, u FROM e0
            UNION
            SELECT e.u, r.label FROM e0 e JOIN reach0 r ON r.node = e.v),
        cl0 AS (SELECT node, MIN(label) AS cl FROM reach0 GROUP BY 1),
        b0 AS MATERIALIZED (
            SELECT d.doc_id, COALESCE(c.cl, d.doc_id) AS cluster_id
            FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 0) d
            LEFT JOIN cl0 c ON c.node = d.doc_id),
        n0 AS (SELECT cluster_id, COUNT(*) AS n FROM b0 GROUP BY 1),
        es1 AS MATERIALIZED (
            SELECT v.ida AS u, b.cluster_id AS v FROM ver v
            JOIN b0 b ON b.doc_id = v.idb
            WHERE v.ida % 2 = 1),
        e1 AS (
            SELECT u, v FROM es1
            UNION ALL SELECT v, u FROM es1
            UNION ALL
            SELECT ida, idb FROM ver WHERE ida % 2 = 1 AND idb % 2 = 1),
        reach1(node, label) AS (
            SELECT u, u FROM e1
            UNION
            SELECT e.u, r.label FROM e1 e JOIN reach1 r ON r.node = e.v),
        cl1 AS MATERIALIZED (
            SELECT node, MIN(label) AS cl FROM reach1 GROUP BY 1),
        b1 AS MATERIALIZED (
            SELECT d.doc_id, COALESCE(c.cl, d.doc_id) AS cluster_id
            FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
            LEFT JOIN cl1 c ON c.node = d.doc_id),
        nb1 AS (SELECT cluster_id, COUNT(*) AS n_batch FROM b1 GROUP BY 1),
        ns1 AS (
            SELECT c.cl AS cluster_id, COUNT(*) AS n_store
            FROM b0 s JOIN cl1 c ON c.node = s.cluster_id
            GROUP BY 1)
        SELECT b.doc_id, b.cluster_id, n0.n AS n_cluster,
               ROUND(CAST(1 AS DOUBLE) / n0.n, 9) AS weight
        FROM b0 b JOIN n0 USING (cluster_id)
        UNION ALL
        SELECT b.doc_id, b.cluster_id,
               nb1.n_batch + COALESCE(ns1.n_store, 0) AS n_cluster,
               ROUND(CAST(1 AS DOUBLE)
                     / (nb1.n_batch + COALESCE(ns1.n_store, 0)), 9) AS weight
        FROM b1 b
        JOIN nb1 USING (cluster_id)
        LEFT JOIN ns1 USING (cluster_id)
    """,
    "x_dedup_clusters": _CLUSTERS_ORACLE,
    # the star-contraction variant must land on the exact same fixpoint
    "x_dedup_clusters_minlabel": _CLUSTERS_ORACLE,
    # x_cluster_split: the reach-CTE clustering + the x_train_split
    # modulus, taken on the cluster's canonical id (singletons keep
    # their own doc_id) — leakage-safe by construction in both engines
    "x_cluster_split": f"""
        WITH RECURSIVE {_LSH_PAIRS_CTES},
        edges AS (
            SELECT id_a AS u, id_b AS v FROM pairs
            UNION ALL
            SELECT id_b, id_a FROM pairs),
        reach(node, label) AS (
            SELECT u, u FROM edges
            UNION
            SELECT e.u, r.label FROM edges e JOIN reach r ON r.node = e.v),
        cl AS (
            SELECT node AS doc_id, MIN(label) AS cluster_id
            FROM reach GROUP BY node)
        SELECT d.doc_id,
               COALESCE(c.cluster_id, d.doc_id) AS cluster_id,
               CASE WHEN COALESCE(c.cluster_id, d.doc_id) % 100 < 80
                    THEN 'train'
                    WHEN COALESCE(c.cluster_id, d.doc_id) % 100 < 90
                    THEN 'val'
                    ELSE 'test' END AS split
        FROM documents d LEFT JOIN cl c USING (doc_id)
    """,
    "x_lsh_recall": f"""
        WITH docs AS (
            SELECT doc_id, text FROM documents WHERE doc_id < 200),
        {_LSH_PAIRS_CTES.replace("FROM documents", "FROM docs").strip()},
        sz AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingled GROUP BY 1),
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
            FROM shingled a JOIN shingled b
              ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2),
        truth AS (
            SELECT i.id_a, i.id_b
            FROM inter i
            JOIN sz sa ON sa.doc_id = i.id_a
            JOIN sz sb ON sb.doc_id = i.id_b
            WHERE CAST(i.n_common AS DOUBLE)
                  / (sa.n_sh + sb.n_sh - i.n_common) >= 0.2),
        caught AS (
            SELECT t.id_a FROM truth t
            JOIN pairs p ON p.id_a = t.id_a AND p.id_b = t.id_b)
        SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_truth,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM caught) AS n_caught,
               CASE WHEN (SELECT COUNT(*) FROM truth) = 0 THEN NULL
                    ELSE CAST((SELECT COUNT(*) FROM caught) AS DOUBLE)
                         / (SELECT COUNT(*) FROM truth) END AS recall
    """,
    "x_ngram_jaccard": f"""
        WITH {_SHINGLES_CTE},
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingled GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
            FROM shingled a JOIN shingled b
              ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
        SELECT i.id_a, i.id_b,
               CAST(i.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_common) AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.doc_id = i.id_a
        JOIN sizes sb ON sb.doc_id = i.id_b
        WHERE CAST(i.n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - i.n_common) >= 0.2
    """,
    # winnowing: positional (non-distinct) 3-gram hash list, window-of-4
    # minima, distinct selected hashes per doc, pairs sharing >= 2.
    "x_winnow_pairs": """
        WITH toks AS (
            SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
        hs AS (
            SELECT doc_id,
                   list_transform(
                       list_transform(range(1, len(t) - 1),
                                      i -> array_to_string(t[i:i+2], ' ')),
                       x -> substring(md5(x), 1, 8)) AS h
            FROM toks WHERE len(t) >= 3),
        fp AS (
            SELECT doc_id, UNNEST(list_distinct(
                       list_transform(range(1, greatest(2, len(h) - 2)),
                                      i -> list_min(h[i:i+3])))) AS fp
            FROM hs)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
        FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
        HAVING COUNT(*) >= 2
    """,
    "x_text_stats": f"""
        WITH tok AS (
            SELECT doc_id, text, string_split(trim(text), ' ') AS toks
            FROM documents)
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars_calc,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CASE WHEN len(toks) = 0 THEN NULL
                    ELSE CAST(length(trim(text)) - (len(toks) - 1) AS DOUBLE) / len(toks)
               END AS avg_token_len,
               CAST(len(list_filter(toks, x -> x IN ({_STOP_EN}))) AS BIGINT) AS n_stopwords,
               CASE WHEN len(toks) = 0 THEN NULL
                    ELSE CAST(len(list_filter(toks, x -> x IN ({_STOP_EN}))) AS DOUBLE) / len(toks)
               END AS stopword_ratio
        FROM tok
    """,
    "x_token_counts": """
        SELECT doc_id,
               CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_ws_tokens,
               CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))
                    AS BIGINT) AS n_bpe_tokens,
               CASE WHEN len(string_split(trim(text), ' ')) = 0 THEN NULL
                    ELSE CAST(len(regexp_extract_all(text,
                             '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS DOUBLE)
                         / len(string_split(trim(text), ' '))
               END AS bpe_per_word
        FROM documents
    """,
    "x_tfidf": """
        WITH tok AS (
            SELECT doc_id, source,
                   UNNEST(string_split(trim(text), ' ')) AS term
            FROM documents),
        tf AS (SELECT source, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        dfreq AS (
            SELECT term, COUNT(DISTINCT doc_id) AS doc_freq
            FROM tok GROUP BY 1),
        n AS (SELECT COUNT(*) AS n_docs FROM documents)
        SELECT tf.source, tf.term, tf.tf, dfreq.doc_freq,
               tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.doc_freq) AS tfidf
        FROM tf JOIN dfreq USING (term) CROSS JOIN n
    """,
    "x_bm25": """
        WITH tok AS (
            SELECT doc_id, UNNEST(string_split(trim(text), ' ')) AS term
            FROM documents),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        dfreq AS (SELECT term, COUNT(*) AS doc_freq FROM tf GROUP BY 1),
        doclen AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
        scalars AS (
            SELECT COUNT(*) AS sum_dl, COUNT(DISTINCT doc_id) AS n_docs
            FROM tok),
        bg AS (
            SELECT UNNEST(CASE WHEN len(toks) >= 2
                THEN list_transform(range(1, len(toks)),
                                    i -> toks[i] || ' ' || toks[i+1])
                ELSE [] END) AS bg
            FROM (SELECT string_split(trim(text), ' ') AS toks
                  FROM documents)),
        qset AS (
            SELECT bg, COUNT(*) AS cnt FROM bg GROUP BY 1
            ORDER BY cnt DESC, bg ASC LIMIT 5),
        qterms AS (
            SELECT bg AS query, UNNEST(string_split(bg, ' ')) AS term
            FROM qset),
        qstats AS (
            SELECT q.query, q.term, d.doc_freq
            FROM qterms q JOIN dfreq d USING (term)),
        scored AS (
            SELECT s.query, t.doc_id,
                   ln((CAST(c.n_docs - s.doc_freq AS DOUBLE) + 0.5)
                      / (CAST(s.doc_freq AS DOUBLE) + 0.5) + 1.0)
                   * (CAST(t.tf AS DOUBLE) * 2.2)
                   / (CAST(t.tf AS DOUBLE)
                      + 1.2 * (0.25 + 0.75 * (CAST(l.dl AS DOUBLE)
                          / (CAST(c.sum_dl AS DOUBLE)
                             / CAST(c.n_docs AS DOUBLE))))) AS per_term
            FROM tf t
            JOIN qstats s USING (term)
            JOIN doclen l USING (doc_id)
            CROSS JOIN scalars c),
        aggd AS (
            SELECT query, doc_id,
                   SUM(CAST(ROUND(per_term, 12) AS DECIMAL(28,12)))
                       AS score_x
            FROM scored GROUP BY 1, 2)
        SELECT query, rnk, doc_id, CAST(score_x AS DOUBLE) AS score
        FROM (SELECT query, doc_id, score_x,
                     ROW_NUMBER() OVER (PARTITION BY query
                                        ORDER BY score_x DESC, doc_id ASC)
                         AS rnk
              FROM aggd)
        WHERE rnk <= 5
    """,
    "x_ks_drift": """
        WITH counts AS (
            SELECT source, n_chars AS v, COUNT(*) AS cnt
            FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
        totals AS (
            SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_g
            FROM counts GROUP BY 1),
        grand AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM counts),
        allc AS (
            SELECT v, CAST(SUM(cnt) AS BIGINT) AS cnt_all
            FROM counts GROUP BY 1),
        cells AS (
            SELECT t.source, a.v, t.n_g,
                   COALESCE(c.cnt, 0) AS cnt, a.cnt_all
            FROM totals t
            CROSS JOIN allc a
            LEFT JOIN counts c ON c.source = t.source AND c.v = a.v),
        cums AS (
            SELECT source, n_g,
                   CAST(SUM(cnt) OVER (PARTITION BY source ORDER BY v
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_g,
                   CAST(SUM(cnt_all) OVER (PARTITION BY source ORDER BY v
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_all
            FROM cells),
        dmax AS (
            SELECT c.source, c.n_g, g.n,
                   MAX(abs(c.cum_g * (g.n - c.n_g)
                           - (c.cum_all - c.cum_g) * c.n_g)) AS d_int
            FROM cums c CROSS JOIN grand g
            GROUP BY 1, 2, 3)
        SELECT source, n_g AS n_source, (n - n_g) AS n_rest,
               CAST(d_int AS DOUBLE)
               / (CAST(n_g AS DOUBLE) * CAST(n - n_g AS DOUBLE)) AS ks_stat,
               CAST(d_int AS DOUBLE)
               / (CAST(n_g AS DOUBLE) * CAST(n - n_g AS DOUBLE))
               > 1.358 * sqrt(CAST(n AS DOUBLE)
                   / (CAST(n_g AS DOUBLE) * CAST(n - n_g AS DOUBLE)))
                   AS reject_95
        FROM dmax
    """,
    "x_w1_drift": """
        WITH counts AS (
            SELECT source, n_chars AS v, COUNT(*) AS cnt
            FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
        totals AS (
            SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_g
            FROM counts GROUP BY 1),
        grand AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM counts),
        allc AS (
            SELECT v, CAST(SUM(cnt) AS BIGINT) AS cnt_all
            FROM counts GROUP BY 1),
        cells AS (
            SELECT t.source, a.v, t.n_g,
                   COALESCE(c.cnt, 0) AS cnt, a.cnt_all
            FROM totals t
            CROSS JOIN allc a
            LEFT JOIN counts c ON c.source = t.source AND c.v = a.v),
        cums AS (
            SELECT source, n_g,
                   CAST(SUM(cnt) OVER (PARTITION BY source ORDER BY v
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_g,
                   CAST(SUM(cnt_all) OVER (PARTITION BY source ORDER BY v
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_all,
                   CAST(LEAD(v) OVER (PARTITION BY source ORDER BY v)
                        AS BIGINT) - CAST(v AS BIGINT) AS dv
            FROM cells),
        agg AS (
            SELECT c.source, c.n_g, g.n,
                   CAST(SUM(abs(c.cum_g * (g.n - c.n_g)
                                - (c.cum_all - c.cum_g) * c.n_g)
                            * COALESCE(c.dv, 0)) AS BIGINT) AS w1_int
            FROM cums c CROSS JOIN grand g
            GROUP BY 1, 2, 3)
        SELECT source, n_g AS n_source, (n - n_g) AS n_rest,
               CAST(w1_int AS DOUBLE)
               / (CAST(n_g AS DOUBLE) * CAST(n - n_g AS DOUBLE))
                   AS w1_dist
        FROM agg
    """,
    "x_chi2_drift": """
        WITH counts AS (
            SELECT source, lang AS c, COUNT(*) AS cnt
            FROM documents WHERE lang IS NOT NULL GROUP BY 1, 2),
        totals AS (
            SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_g
            FROM counts GROUP BY 1),
        grand AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM counts),
        allc AS (
            SELECT c, CAST(SUM(cnt) AS BIGINT) AS ct
            FROM counts GROUP BY 1),
        ncats AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM allc),
        cells AS (
            SELECT t.source, t.n_g, g.n, a.ct,
                   CAST(COALESCE(c.cnt, 0) AS BIGINT) AS o_g
            FROM totals t
            CROSS JOIN allc a
            LEFT JOIN counts c ON c.source = t.source AND c.c = a.c
            CROSS JOIN grand g),
        agg AS (
            SELECT source, n_g, n,
                   SUM(CAST(ROUND(
                       CAST((o_g * n - n_g * ct) * (o_g * n - n_g * ct)
                            AS DOUBLE) / CAST(ct AS DOUBLE), 12)
                       AS DECIMAL(38,12))) AS s
            FROM cells GROUP BY 1, 2, 3),
        scored AS (
            SELECT a.source, a.n_g, a.n, k.k,
                   CAST(a.s AS DOUBLE)
                   / (CAST(a.n_g AS DOUBLE)
                      * CAST(a.n - a.n_g AS DOUBLE)) AS chi2,
                   CAST(k.k - 1 AS DOUBLE) AS dof,
                   1.0 - 2.0 / (9.0 * GREATEST(CAST(k.k - 1 AS DOUBLE),
                                               1.0))
                   + 1.6448536269514722
                     * sqrt(2.0 / (9.0 * GREATEST(CAST(k.k - 1 AS DOUBLE),
                                                  1.0))) AS wh
            FROM agg a CROSS JOIN ncats k)
        SELECT source, n_g AS n_source, (n - n_g) AS n_rest,
               (k - 1) AS df_chi2, chi2,
               chi2 > dof * wh * wh * wh AS reject_95
        FROM scored
    """,
    "x_chi2_drain": """
        WITH ev AS (
            SELECT lang AS c, CAST(COUNT(*) AS BIGINT) AS n
            FROM documents
            WHERE lang IS NOT NULL AND doc_id % 2 = 0 GROUP BY 1),
        od AS (
            SELECT lang AS c, CAST(COUNT(*) AS BIGINT) AS n
            FROM documents
            WHERE lang IS NOT NULL AND doc_id % 2 = 1 GROUP BY 1),
        b0 AS (
            SELECT CAST(SUM(n) AS BIGINT) AS n_batch,
                   CAST(COUNT(*) AS BIGINT) AS k0
            FROM ev),
        cells AS (
            SELECT COALESCE(o.n, 0) AS cg, COALESCE(e.n, 0) AS ch
            FROM od o FULL OUTER JOIN ev e USING (c)),
        tot AS (
            SELECT CAST(SUM(cg) AS BIGINT) AS nb,
                   CAST(SUM(ch) AS BIGINT) AS nh,
                   CAST(COUNT(*) AS BIGINT) AS k
            FROM cells),
        agg AS (
            SELECT t.nb, t.nh, t.k,
                   SUM(CAST(ROUND(
                       CAST((c.cg * (t.nb + t.nh) - t.nb * (c.cg + c.ch))
                            * (c.cg * (t.nb + t.nh) - t.nb * (c.cg + c.ch))
                            AS DOUBLE)
                       / CAST(c.cg + c.ch AS DOUBLE), 12)
                       AS DECIMAL(38,12))) AS s
            FROM cells c CROSS JOIN tot t
            GROUP BY 1, 2, 3),
        b1 AS (
            SELECT nb, nh, k,
                   CAST(s AS DOUBLE)
                   / (CAST(nb AS DOUBLE) * CAST(nh AS DOUBLE)) AS chi2,
                   CAST(k - 1 AS DOUBLE) AS dof,
                   1.0 - 2.0 / (9.0 * GREATEST(CAST(k - 1 AS DOUBLE), 1.0))
                   + 1.6448536269514722
                     * sqrt(2.0 / (9.0 * GREATEST(CAST(k - 1 AS DOUBLE),
                                                  1.0))) AS wh
            FROM agg)
        SELECT CAST(0 AS BIGINT) AS batch, n_batch,
               CAST(0 AS BIGINT) AS n_hist, (k0 - 1) AS df_chi2,
               CAST(NULL AS DOUBLE) AS chi2, false AS chi2_defined,
               CAST(NULL AS BOOLEAN) AS reject_95
        FROM b0
        UNION ALL
        SELECT CAST(1 AS BIGINT), nb, nh, (k - 1), chi2, true,
               chi2 > dof * wh * wh * wh
        FROM b1
    """,
    "x_js_divergence": """
        WITH tok AS (
            SELECT source, UNNEST(string_split(trim(text), ' ')) AS term
            FROM documents),
        counts AS (
            SELECT source, term, COUNT(*) AS c FROM tok GROUP BY 1, 2),
        tt AS (SELECT term, CAST(SUM(c) AS BIGINT) AS ct
               FROM counts GROUP BY 1),
        gt AS (SELECT source, CAST(SUM(c) AS BIGINT) AS ng
               FROM counts GROUP BY 1),
        g AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM counts),
        cells AS (
            SELECT c.source, c.c, t.ct, s.ng, g.n,
                   CAST(c.c AS DOUBLE) / CAST(s.ng AS DOUBLE) AS p,
                   CAST(t.ct - c.c AS DOUBLE)
                   / CAST(g.n - s.ng AS DOUBLE) AS q
            FROM counts c
            JOIN tt t USING (term)
            JOIN gt s USING (source)
            CROSS JOIN g
            WHERE g.n > s.ng),
        agg AS (
            SELECT source, ng, n,
                   SUM(CAST(ROUND(p * ln(2.0 * p / (p + q)), 12)
                            AS DECIMAL(28,12))) AS A,
                   SUM(CASE WHEN ct > c THEN
                       CAST(ROUND(q * ln(2.0 * q / (p + q)), 12)
                            AS DECIMAL(28,12)) END) AS B,
                   SUM(CAST(ROUND(q, 12) AS DECIMAL(28,12))) AS C
            FROM cells GROUP BY 1, 2, 3)
        SELECT source, ng AS n_tokens, (n - ng) AS n_rest_tokens,
               0.5 * CAST(A AS DOUBLE)
               + 0.5 * (COALESCE(CAST(B AS DOUBLE), 0.0)
                        + ln(2.0) * (1.0 - CAST(C AS DOUBLE)))
                   AS js_divergence
        FROM agg
    """,
    "x_keyphrases": """
        WITH tok AS (
            SELECT doc_id, UNNEST(string_split(trim(text), ' ')) AS term
            FROM documents),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
        dfreq AS (SELECT term, COUNT(*) AS doc_freq FROM tf GROUP BY 1),
        n AS (SELECT COUNT(*) AS n_docs FROM documents),
        scored AS (
            SELECT t.doc_id, t.term,
                   CAST(ROUND(t.tf * ln(CAST(n.n_docs AS DOUBLE)
                                        / d.doc_freq), 12)
                        AS DECIMAL(28,12)) AS score_x
            FROM tf t JOIN dfreq d USING (term) CROSS JOIN n)
        SELECT doc_id, rnk, term, CAST(score_x AS DOUBLE) AS score
        FROM (SELECT doc_id, term, score_x,
                     ROW_NUMBER() OVER (PARTITION BY doc_id
                                        ORDER BY score_x DESC, term ASC)
                         AS rnk
              FROM scored)
        WHERE rnk <= 3
    """,
    "x_readability": """
        SELECT doc_id,
               CAST(len(string_split(trim(text), ' ')) AS BIGINT)
                   AS n_words,
               GREATEST(CAST(1 AS BIGINT),
                        CAST(len(regexp_extract_all(text, '[.!?]+'))
                             AS BIGINT)) AS n_sentences,
               CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                    AS BIGINT) AS n_syllables,
               CAST(206.835 AS DOUBLE)
               - CAST(1.015 AS DOUBLE)
                 * (CAST(len(string_split(trim(text), ' ')) AS DOUBLE)
                    / CAST(GREATEST(1,
                          len(regexp_extract_all(text, '[.!?]+')))
                      AS DOUBLE))
               - CAST(84.6 AS DOUBLE)
                 * (CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                      AS DOUBLE)
                    / CAST(len(string_split(trim(text), ' ')) AS DOUBLE))
                   AS flesch
        FROM documents
    """,
    "x_psi_drain": """
        WITH c0 AS (
            SELECT LEAST(9, GREATEST(0,
                       CAST(n_chars AS BIGINT) * 10 // 4096)) AS bucket,
                   COUNT(*) AS cnt
            FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
        c1 AS (
            SELECT LEAST(9, GREATEST(0,
                       CAST(n_chars AS BIGINT) * 10 // 4096)) AS bucket,
                   COUNT(*) AS cnt
            FROM documents WHERE doc_id % 2 = 1 GROUP BY 1),
        n AS (SELECT (SELECT CAST(SUM(cnt) AS BIGINT) FROM c0) AS n0,
                     (SELECT CAST(SUM(cnt) AS BIGINT) FROM c1) AS n1),
        cells AS (
            SELECT u.bucket, COALESCE(a.cnt, 0) AS cg0,
                   COALESCE(b.cnt, 0) AS cg1
            FROM UNNEST(range(10)) AS u(bucket)
            LEFT JOIN c0 a ON a.bucket = u.bucket
            LEFT JOIN c1 b ON b.bucket = u.bucket),
        stacked AS (
            SELECT 0 AS batch, cg0 AS cg, 0 AS ch, n0 AS n_batch,
                   0 AS n_hist
            FROM cells CROSS JOIN n
            UNION ALL
            SELECT 1, cg1, cg0, n1, n0 FROM cells CROSS JOIN n),
        terms AS (
            SELECT batch, n_batch, n_hist,
                   (CAST(cg + 1 AS DOUBLE) / CAST(n_batch + 10 AS DOUBLE)
                    - CAST(ch + 1 AS DOUBLE) / CAST(n_hist + 10 AS DOUBLE))
                   * ln((CAST(cg + 1 AS DOUBLE)
                         / CAST(n_batch + 10 AS DOUBLE))
                        / (CAST(ch + 1 AS DOUBLE)
                           / CAST(n_hist + 10 AS DOUBLE))) AS term
            FROM stacked),
        agg AS (
            SELECT batch, n_batch, n_hist,
                   CAST(SUM(CAST(ROUND(term, 12) AS DECIMAL(28,12)))
                        AS DOUBLE) AS psi
            FROM terms GROUP BY 1, 2, 3)
        SELECT CAST(batch AS BIGINT) AS batch, n_batch,
               CAST(n_hist AS BIGINT) AS n_hist, psi,
               psi > 0.25 AS shifted
        FROM agg
    """,
    "x_psi_drift": """
        WITH rng AS (
            SELECT CAST(MIN(n_chars) AS BIGINT) AS mn,
                   CAST(MAX(n_chars) AS BIGINT) AS mx
            FROM documents WHERE n_chars IS NOT NULL),
        counts AS (
            SELECT source,
                   (CAST(n_chars AS BIGINT) - r.mn) * 10
                       // (r.mx - r.mn + 1) AS bucket,
                   COUNT(*) AS cnt
            FROM documents CROSS JOIN rng r
            WHERE n_chars IS NOT NULL
            GROUP BY 1, 2),
        totals AS (
            SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_g
            FROM counts GROUP BY 1),
        grand AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM counts),
        allc AS (
            SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS cnt_all
            FROM counts GROUP BY 1),
        cells AS (
            SELECT t.source, t.n_g, g.n,
                   COALESCE(c.cnt, 0) AS c_g,
                   COALESCE(a.cnt_all, 0) AS c_all
            FROM totals t
            CROSS JOIN UNNEST(range(10)) AS u(bucket)
            CROSS JOIN grand g
            LEFT JOIN allc a ON a.bucket = u.bucket
            LEFT JOIN counts c
              ON c.source = t.source AND c.bucket = u.bucket),
        terms AS (
            SELECT source, n_g, n,
                   (CAST(c_g + 1 AS DOUBLE) / CAST(n_g + 10 AS DOUBLE)
                    - CAST(c_all - c_g + 1 AS DOUBLE)
                      / CAST(n - n_g + 10 AS DOUBLE))
                   * ln((CAST(c_g + 1 AS DOUBLE)
                         / CAST(n_g + 10 AS DOUBLE))
                        / (CAST(c_all - c_g + 1 AS DOUBLE)
                           / CAST(n - n_g + 10 AS DOUBLE))) AS term
            FROM cells),
        agg AS (
            SELECT source, n_g, n,
                   CAST(SUM(CAST(ROUND(term, 12) AS DECIMAL(28,12)))
                        AS DOUBLE) AS psi
            FROM terms GROUP BY 1, 2, 3)
        SELECT source, n_g AS n_source, (n - n_g) AS n_rest, psi,
               psi > 0.25 AS shifted
        FROM agg
    """,
    "x_source_mixture": """
        WITH per AS (
            SELECT source, COUNT(*) AS n_docs,
                   CAST(SUM(CAST(len(string_split(trim(text), ' ')) AS BIGINT))
                        AS BIGINT) AS n_tokens
            FROM documents GROUP BY 1),
        tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens FROM per),
        shared AS (
            SELECT source, n_docs, n_tokens,
                   CAST(n_tokens AS DOUBLE) / tot_tokens AS token_share
            FROM per CROSS JOIN tot),
        norm AS (SELECT CAST(SUM(CAST(ROUND(pow(token_share, 0.5), 12)
                              AS DECIMAL(28,12))) AS DOUBLE) AS z FROM shared)
        SELECT source, n_docs, n_tokens, token_share,
               pow(token_share, 0.5) / z AS weight
        FROM shared CROSS JOIN norm
    """,
    "x_ngram_containment": f"""
        WITH {_SHINGLES_CTE},
        sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM shingled GROUP BY doc_id),
        inter AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
            FROM shingled a JOIN shingled b
              ON a.sh = b.sh AND a.doc_id <> b.doc_id
            GROUP BY 1, 2)
        SELECT i.id_a, i.id_b,
               CAST(i.n_common AS DOUBLE) / sa.n_sh AS containment
        FROM inter i JOIN sizes sa ON sa.doc_id = i.id_a
        WHERE CAST(i.n_common AS DOUBLE) / sa.n_sh >= 0.5
    """,
    "x_bigram_nll": """
        WITH bg AS (
            SELECT doc_id, UNNEST(CASE WHEN len(toks) >= 2
                THEN list_transform(range(1, len(toks)),
                                    i -> toks[i] || ' ' || toks[i+1])
                ELSE [] END) AS bg
            FROM (SELECT doc_id, string_split(trim(text), ' ') AS toks
                  FROM documents)),
        per AS (
            SELECT doc_id, bg, COUNT(*) AS cnt FROM bg GROUP BY doc_id, bg),
        btot AS (
            SELECT bg, CAST(SUM(cnt) AS BIGINT) AS cb FROM per GROUP BY bg),
        wtot AS (
            SELECT string_split(bg, ' ')[1] AS w1,
                   CAST(SUM(cb) AS BIGINT) AS cw
            FROM btot GROUP BY 1)
        SELECT p.doc_id,
               CAST(SUM(p.cnt) AS BIGINT) AS n_bigrams,
               - CAST(SUM(CAST(ROUND(p.cnt * ln(CAST(b.cb AS DOUBLE) / w.cw), 12)
                               AS DECIMAL(28,12))) AS DOUBLE)
                 / SUM(p.cnt) AS nll
        FROM per p
        JOIN btot b USING (bg)
        JOIN wtot w ON w.w1 = string_split(p.bg, ' ')[1]
        GROUP BY p.doc_id
    """,
    "x_backoff_nll": """
        WITH toks AS (
            SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
        c3 AS (
            SELECT g3, COUNT(*) AS c3 FROM (
                SELECT UNNEST(CASE WHEN len(t) >= 3
                    THEN list_transform(range(1, len(t) - 1),
                                        i -> array_to_string(t[i:i+2], ' '))
                    ELSE [] END) AS g3
                FROM toks WHERE doc_id % 2 = 0)
            GROUP BY g3),
        c2 AS (
            SELECT g2, COUNT(*) AS c2 FROM (
                SELECT UNNEST(CASE WHEN len(t) >= 2
                    THEN list_transform(range(1, len(t)),
                                        i -> array_to_string(t[i:i+1], ' '))
                    ELSE [] END) AS g2
                FROM toks WHERE doc_id % 2 = 0)
            GROUP BY g2),
        c1 AS (
            SELECT w, COUNT(*) AS c1 FROM (
                SELECT UNNEST(t) AS w FROM toks WHERE doc_id % 2 = 0)
            GROUP BY w),
        ntok AS (SELECT CAST(SUM(c1) AS DOUBLE) AS n_tok FROM c1),
        pos AS (
            SELECT doc_id, g3,
                   array_to_string(string_split(g3, ' ')[1:2], ' ') AS ctx2,
                   array_to_string(string_split(g3, ' ')[2:3], ' ') AS g2,
                   string_split(g3, ' ')[3] AS w3,
                   string_split(g3, ' ')[2] AS w2
            FROM (
                SELECT doc_id, UNNEST(CASE WHEN len(t) >= 3
                    THEN list_transform(range(1, len(t) - 1),
                                        i -> array_to_string(t[i:i+2], ' '))
                    ELSE [] END) AS g3
                FROM toks WHERE doc_id % 2 = 1)),
        scored AS (
            SELECT p.doc_id,
                   COALESCE(CAST(t3.c3 AS DOUBLE) / cx.c2,
                            0.4 * c2b.c2 / u2.c1,
                            (0.4 * 0.4) * u3.c1 / n.n_tok,
                            (0.4 * 0.4) / n.n_tok) AS s
            FROM pos p
            LEFT JOIN c3 t3 USING (g3)
            LEFT JOIN c2 cx ON cx.g2 = p.ctx2
            LEFT JOIN c2 c2b ON c2b.g2 = p.g2
            LEFT JOIN c1 u2 ON u2.w = p.w2
            LEFT JOIN c1 u3 ON u3.w = p.w3
            CROSS JOIN ntok n)
        SELECT doc_id, COUNT(*) AS n_trigrams,
               CAST(SUM(CAST(ROUND(-ln(s), 12) AS DECIMAL(28,12)))
                    AS DOUBLE) / COUNT(*) AS nll
        FROM scored GROUP BY doc_id
    """,
    "x_collocations": """
        WITH bg AS (
            SELECT UNNEST(CASE WHEN len(t) >= 2
                THEN list_transform(range(1, len(t)),
                                    i -> array_to_string(t[i:i+1], ' '))
                ELSE [] END) AS bg
            FROM (SELECT string_split(trim(text), ' ') AS t FROM documents)),
        pair AS (SELECT bg, COUNT(*) AS n_pair FROM bg GROUP BY bg),
        w1 AS (
            SELECT string_split(bg, ' ')[1] AS w, CAST(SUM(n_pair) AS BIGINT) AS n_left
            FROM pair GROUP BY 1),
        w2 AS (
            SELECT string_split(bg, ' ')[2] AS w, CAST(SUM(n_pair) AS BIGINT) AS n_right
            FROM pair GROUP BY 1),
        tot AS (SELECT CAST(SUM(n_pair) AS DOUBLE) AS n_tot FROM pair),
        scored AS (
            SELECT p.bg, p.n_pair, l.n_left, r.n_right,
                   ROUND(ln(p.n_pair * t.n_tot / (l.n_left * r.n_right)), 9) AS pmi
            FROM pair p
            JOIN w1 l ON l.w = string_split(p.bg, ' ')[1]
            JOIN w2 r ON r.w = string_split(p.bg, ' ')[2]
            CROSS JOIN tot t
            WHERE p.n_pair >= 5),
        ranked AS (
            SELECT bg AS bigram, n_pair, n_left, n_right, pmi,
                   CAST(ROW_NUMBER() OVER (ORDER BY pmi DESC, bg ASC) AS BIGINT) AS rnk
            FROM scored)
        SELECT bigram, n_pair, n_left, n_right, pmi, rnk
        FROM ranked WHERE rnk <= 20
    """,
    "x_semdedup": """
        WITH RECURSIVE withb AS (
            SELECT vec_id, embedding::DOUBLE[] AS emb,
                   CAST((CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
                      + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
                      + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
                      + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS INT) AS bucket
            FROM embeddings),
        pairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM withb a JOIN withb b
              ON a.bucket = b.bucket AND a.vec_id < b.vec_id
            WHERE ROUND(list_dot_product(a.emb, b.emb)
                  / (sqrt(list_dot_product(a.emb, a.emb))
                     * sqrt(list_dot_product(b.emb, b.emb))), 6) >= 0.4),
        edges AS (
            SELECT id_a AS u, id_b AS v FROM pairs
            UNION ALL
            SELECT id_b, id_a FROM pairs),
        reach(node, label) AS (
            SELECT u, u FROM edges
            UNION
            SELECT e.u, r.label FROM edges e JOIN reach r ON r.node = e.v)
        SELECT node AS vec_id, MIN(label) AS cluster_id
        FROM reach GROUP BY node
    """,
    "x_mixture_sample": """
        WITH per AS (
            SELECT source, COUNT(*) AS n_docs,
                   CAST(SUM(CAST(len(string_split(trim(text), ' ')) AS BIGINT))
                        AS BIGINT) AS n_tokens
            FROM documents GROUP BY 1),
        tot AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens FROM per),
        shared AS (
            SELECT source, CAST(n_tokens AS DOUBLE) / tot_tokens AS token_share
            FROM per CROSS JOIN tot),
        norm AS (SELECT CAST(SUM(CAST(ROUND(pow(token_share, 0.5), 12)
                              AS DECIMAL(28,12))) AS DOUBLE) AS z FROM shared),
        rates0 AS (
            SELECT source,
                   (pow(token_share, 0.5) / z) / token_share AS r
            FROM shared CROSS JOIN norm),
        rmax AS (SELECT MAX(r) AS m FROM rates0),
        rr AS (SELECT source, r / m AS rate FROM rates0 CROSS JOIN rmax)
        SELECT d.source,
               COUNT(*) AS n_docs,
               COUNT(CASE WHEN CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT)
                               / 4294967296.0 < rate THEN 1 END) AS n_kept,
               MIN(rate) AS rate
        FROM documents d JOIN rr USING (source)
        GROUP BY d.source
    """,
    "x_source_overlap": """
        WITH sh AS (
            SELECT DISTINCT g, sh FROM (
                SELECT source AS g,
                       UNNEST(list_distinct(CASE WHEN len(toks) >= 3
                           THEN list_transform(range(1, len(toks) - 1),
                                               i -> array_to_string(toks[i:i+2], ' '))
                           ELSE [] END)) AS sh
                FROM (SELECT source, string_split(trim(text), ' ') AS toks
                      FROM documents))),
        sizes AS (SELECT g, COUNT(*) AS n_sh FROM sh GROUP BY g),
        inter AS (
            SELECT a.g AS source_a, b.g AS source_b, COUNT(*) AS n_common
            FROM sh a JOIN sh b ON a.sh = b.sh AND a.g < b.g
            GROUP BY 1, 2)
        SELECT i.source_a, i.source_b, i.n_common,
               CAST(i.n_common AS DOUBLE)
                   / (sa.n_sh + sb.n_sh - i.n_common) AS jaccard
        FROM inter i
        JOIN sizes sa ON sa.g = i.source_a
        JOIN sizes sb ON sb.g = i.source_b
    """,
    "x_chunk_documents": """
        WITH base AS (
            SELECT doc_id, string_split(trim(text), ' ') AS toks
            FROM documents),
        ch AS (
            SELECT doc_id, toks,
                   UNNEST(range(0, GREATEST(1,
                       CAST(ceil((len(toks) - 16) / 48.0) AS BIGINT)))) AS chunk_id
            FROM base)
        SELECT doc_id, chunk_id,
               CAST(len(toks[chunk_id * 48 + 1 : chunk_id * 48 + 64]) AS BIGINT)
                   AS n_chunk_tokens,
               array_to_string(toks[chunk_id * 48 + 1 : chunk_id * 48 + 64], ' ')
                   AS chunk_text
        FROM ch
    """,
    # x_chunk_sentences: the greedy whole-sentence fold replayed as a
    # recursive CTE — per-doc sequential by nature, exactly what
    # recursion expresses; same punctuation injection, same boundary
    # regex (delimiter kept, marker = chr(30)), same 32-token budget.
    "x_chunk_sentences": r"""
        WITH RECURSIVE base AS (
            SELECT doc_id,
                   list_filter(
                       string_split(
                           regexp_replace(
                               regexp_replace(text,
                                   '\b(batch|data|join) ', '\1. ', 'g'),
                               '([.!?])\s+', '\1' || chr(30), 'g'),
                           chr(30)),
                       x -> trim(x, ' ') <> '') AS sents
            FROM documents),
        s AS (
            SELECT doc_id, pos, sents[pos] AS sent,
                   CAST(len(string_split(trim(sents[pos], ' '), ' '))
                       AS BIGINT) AS t
            FROM base, UNNEST(range(1, len(sents) + 1)) AS u(pos)
            WHERE len(sents) > 0),
        g AS (
            SELECT doc_id, pos, sent, t,
                   CAST(0 AS BIGINT) AS chunk, t AS fill
            FROM s WHERE pos = 1
            UNION ALL
            SELECT s.doc_id, s.pos, s.sent, s.t,
                   CASE WHEN g.fill + s.t > 32 THEN g.chunk + 1
                        ELSE g.chunk END,
                   CASE WHEN g.fill + s.t > 32 THEN s.t
                        ELSE g.fill + s.t END
            FROM g JOIN s ON s.doc_id = g.doc_id AND s.pos = g.pos + 1)
        SELECT doc_id, chunk AS chunk_id,
               CAST(COUNT(*) AS BIGINT) AS n_sentences,
               CAST(len(string_split(
                   trim(string_agg(sent, ' ' ORDER BY pos), ' '), ' '))
                   AS BIGINT) AS n_chunk_tokens,
               string_agg(sent, ' ' ORDER BY pos) AS chunk_text
        FROM g GROUP BY doc_id, chunk
    """,
    "x_length_clip": """
        WITH q AS (
            SELECT lang,
                   quantile_cont(n_chars, 0.05) AS p_lo,
                   quantile_cont(n_chars, 0.95) AS p_hi,
                   COUNT(*) AS n_total
            FROM documents GROUP BY 1)
        SELECT d.lang, q.p_lo, q.p_hi, q.n_total, COUNT(*) AS n_kept
        FROM documents d JOIN q USING (lang)
        WHERE d.n_chars BETWEEN q.p_lo AND q.p_hi
        GROUP BY 1, 2, 3, 4
    """,
    "x_pack_sequences": """
        WITH base AS (
            SELECT doc_id,
                   CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens,
                   CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                        AS BIGINT) % 8 AS pack_group
            FROM documents)
        SELECT doc_id, n_tokens, pack_group,
               CAST(floor(COALESCE(SUM(n_tokens) OVER (
                        PARTITION BY pack_group ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    / 512) AS BIGINT) AS bin_id
        FROM base
    """,
    "x_stratified_sample": """
        SELECT lang, COUNT(*) AS n_kept
        FROM documents
        WHERE CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 100
              < CASE lang WHEN 'en' THEN 100 WHEN 'zh' THEN 50 ELSE 25 END
        GROUP BY lang
    """,
    "x_train_split": """
        WITH s AS (
            SELECT lang,
                   CASE WHEN doc_id % 100 < 80 THEN 'train'
                        WHEN doc_id % 100 < 90 THEN 'val'
                        ELSE 'test' END AS split
            FROM documents)
        SELECT lang, split, COUNT(*) AS n_docs FROM s GROUP BY 1, 2
    """,
    "x_lang_id": f"""
        WITH scored AS (
            SELECT doc_id, lang,
                   len(list_filter(toks, x -> x IN ({_STOP_EN}))) AS s_en,
                   len(list_filter(toks, x -> x IN ({_STOP_ES}))) AS s_es,
                   len(list_filter(toks, x -> x IN ({_STOP_FR}))) AS s_fr
            FROM (SELECT doc_id, lang, string_split(trim(text), ' ') AS toks
                  FROM documents)),
        pred AS (
            SELECT doc_id, lang,
                   CASE WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
                        WHEN s_es >= s_fr THEN 'es'
                        ELSE 'fr' END AS pred_lang
            FROM scored)
        SELECT lang, pred_lang, COUNT(*) AS n_docs
        FROM pred GROUP BY 1, 2
    """,
    "x_fingerprint": """
        SELECT md5(array_to_string(list_sort(string_split(trim(text), ' ')), ' ')) AS fp,
               MIN(doc_id) AS keep_id,
               COUNT(*) AS n_docs
        FROM documents GROUP BY 1
    """,
    # x_mojibake: identical injection + length/replace counting
    # arithmetic + the same ordered repair chain — literal substrings
    # only, so no regex-engine divergence is possible
    "x_mojibake": """
        WITH inj AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 7 = 3
                        THEN text || ' cafÃ© â€™quoteâ€œ Ã¼ber Ã±'
                        WHEN doc_id % 7 = 5 THEN text || ' bad�byte'
                        ELSE text END AS t
            FROM documents),
        cnt AS (
            SELECT doc_id, t,
                   CAST(
                     (length(t) - length(replace(t, 'â€™', ''))) / 3
                   + (length(t) - length(replace(t, 'â€œ', ''))) / 3
                   + (length(t) - length(replace(t, 'â€“', ''))) / 3
                   + (length(t) - length(replace(t, 'Ã©', ''))) / 2
                   + (length(t) - length(replace(t, 'Ã¨', ''))) / 2
                   + (length(t) - length(replace(t, 'Ã¼', ''))) / 2
                   + (length(t) - length(replace(t, 'Ã±', ''))) / 2
                   + (length(t) - length(replace(t, 'Ã¶', ''))) / 2
                   + (length(t) - length(replace(t, 'Ã ', ''))) / 2
                   + (length(t) - length(replace(t, '�', '')))
                   AS BIGINT) AS n_moji
            FROM inj)
        SELECT doc_id, n_moji, n_moji = 0 AS clean,
               md5(replace(replace(replace(replace(replace(replace(
                   replace(replace(replace(replace(
                   t, 'â€™', '’'), 'â€œ', '“'), 'â€“', '–'), 'Ã©', 'é'),
                   'Ã¨', 'è'), 'Ã¼', 'ü'), 'Ã±', 'ñ'), 'Ã¶', 'ö'),
                   'Ã ', 'à'), '�', '')) AS repaired_hash
        FROM cnt
    """,
    # x_card_redact: DuckDB replays the Luhn sum with list ops over
    # the reversed digit chars (1-based constant-list indexing) and
    # the same conditional literal replace
    "x_card_redact": """
        WITH c AS (
            SELECT doc_id,
                   '4' || lpad(((doc_id + 7) * 1000003 %
                               1000000000000000)::VARCHAR, 15, '0')
                       AS card
            FROM documents),
        lv AS (
            SELECT doc_id, card,
                   list_sum(list_transform(range(16), i ->
                       CASE WHEN i % 2 = 0
                            THEN string_split(reverse(card), '')[i + 1]::INT
                            ELSE CASE
                                WHEN string_split(reverse(card), '')[i + 1]::INT * 2 < 10
                                THEN string_split(reverse(card), '')[i + 1]::INT * 2
                                ELSE string_split(reverse(card), '')[i + 1]::INT * 2 - 9
                            END END)) % 10 = 0 AS is_valid
            FROM c)
        SELECT doc_id, card, is_valid,
               CASE WHEN is_valid
                    THEN 'pay <CARD> now ref 12345'
                    ELSE 'pay ' || card || ' now ref 12345' END AS redacted
        FROM lv
    """,
    # x_softdedup_weights: the reach-CTE clustering + per-cluster
    # count + the identical rounded double division
    "x_softdedup_weights": f"""
        WITH RECURSIVE {_LSH_PAIRS_CTES},
        edges AS (
            SELECT id_a AS u, id_b AS v FROM pairs
            UNION ALL
            SELECT id_b, id_a FROM pairs),
        reach(node, label) AS (
            SELECT u, u FROM edges
            UNION
            SELECT e.u, r.label FROM edges e JOIN reach r ON r.node = e.v),
        cl AS (
            SELECT node AS doc_id, MIN(label) AS cluster_id
            FROM reach GROUP BY node),
        keyed AS (
            SELECT d.doc_id,
                   COALESCE(c.cluster_id, d.doc_id) AS cluster_id
            FROM documents d LEFT JOIN cl c USING (doc_id)),
        sizes AS (
            SELECT cluster_id, COUNT(*) AS n_dups
            FROM keyed GROUP BY cluster_id)
        SELECT k.doc_id, k.cluster_id, s.n_dups,
               ROUND(CAST(1.0 AS DOUBLE) / s.n_dups, 9) AS weight
        FROM keyed k JOIN sizes s USING (cluster_id)
    """,
    "x_pii_redact": """
        WITH pii AS (
            SELECT doc_id,
                   text || ' Contact user' || CAST(doc_id AS VARCHAR)
                        || '@mail.example.com or call +1 555-000-'
                        || CAST(doc_id AS VARCHAR)
                        || ' visit https://ex.example/d/'
                        || CAST(doc_id AS VARCHAR) AS t
            FROM documents)
        SELECT doc_id,
               CAST(len(regexp_extract_all(t, 'https?://\\S+')) AS BIGINT) AS n_urls,
               CAST(len(regexp_extract_all(t,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT)
                   AS n_emails,
               CAST(len(regexp_extract_all(t, '\\+?[0-9][0-9 -]{5,}[0-9]')) AS BIGINT)
                   AS n_phones,
               md5(regexp_replace(regexp_replace(regexp_replace(t,
                   'https?://\\S+', '<URL>', 'g'),
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                   '\\+?[0-9][0-9 -]{5,}[0-9]', '<PHONE>', 'g')) AS redacted_hash
        FROM pii
    """,
    "x_repetition": """
        WITH tok AS (
            SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents),
        big AS (
            SELECT doc_id,
                   CASE WHEN len(toks) >= 2
                        THEN list_transform(range(1, len(toks)),
                                            i -> array_to_string(toks[i:i+1], ' '))
                        ELSE [] END AS bigs
            FROM tok),
        counts AS (
            SELECT doc_id, tok, COUNT(*) AS cnt
            FROM (SELECT doc_id, UNNEST(toks) AS tok FROM tok)
            GROUP BY 1, 2),
        top AS (SELECT doc_id, MAX(cnt) AS max_cnt FROM counts GROUP BY 1)
        SELECT t.doc_id,
               CAST(len(t.toks) AS BIGINT) AS n_tokens,
               CAST(1 AS DOUBLE)
                   - CAST(len(list_distinct(t.toks)) AS DOUBLE) / len(t.toks)
                   AS dup_token_ratio,
               CASE WHEN len(b.bigs) = 0 THEN NULL
                    ELSE CAST(1 AS DOUBLE)
                         - CAST(len(list_distinct(b.bigs)) AS DOUBLE) / len(b.bigs)
               END AS dup_bigram_ratio,
               CAST(p.max_cnt AS DOUBLE) / len(t.toks) AS top_token_frac
        FROM tok t JOIN big b USING (doc_id) JOIN top p USING (doc_id)
    """,
    "x_decontaminate": f"""
        WITH {_SHINGLES_CTE},
        ev AS (SELECT DISTINCT sh FROM shingled WHERE doc_id % 50 = 0),
        tr AS (SELECT doc_id, sh FROM shingled WHERE doc_id % 50 <> 0)
        SELECT tr.doc_id, COUNT(*) AS n_shared
        FROM tr JOIN ev USING (sh)
        GROUP BY 1
    """,
    "x_bloom_decontaminate": f"""
        WITH {_SHINGLES_CTE},
        hashed AS (
            SELECT doc_id, sh,
                   CAST(('0x' || substr(md5(sh), 1, 8)) AS BIGINT) AS h1,
                   CAST(('0x' || substr(md5(sh), 9, 8)) AS BIGINT) * 2 + 1 AS h2
            FROM shingled),
        evpos AS (
            SELECT DISTINCT (h1 + i * h2) % 65536 AS pos
            FROM (SELECT h1, h2 FROM hashed WHERE doc_id % 50 = 0),
                 (SELECT UNNEST([0, 1, 2]) AS i)),
        tr AS (
            SELECT doc_id,
                   ((h1 + 0 * h2) % 65536 IN (SELECT pos FROM evpos)
                    AND (h1 + 1 * h2) % 65536 IN (SELECT pos FROM evpos)
                    AND (h1 + 2 * h2) % 65536 IN (SELECT pos FROM evpos)) AS hit
            FROM hashed WHERE doc_id % 50 <> 0),
        agg AS (
            SELECT doc_id, COUNT(*) AS n_shingles,
                   SUM(CASE WHEN hit THEN 1 ELSE 0 END) AS n_hits
            FROM tr GROUP BY 1)
        SELECT d.doc_id,
               CAST(COALESCE(a.n_shingles, 0) AS BIGINT) AS n_shingles,
               CAST(COALESCE(a.n_hits, 0) AS BIGINT) AS n_hits,
               CASE WHEN COALESCE(a.n_hits, 0) > 0 THEN 1 ELSE 0 END AS flagged
        FROM documents d LEFT JOIN agg a USING (doc_id)
        WHERE d.doc_id % 50 <> 0
        ORDER BY d.doc_id LIMIT 500
    """,
    # Morton-interleave oracle: same quantize-clamp-interleave math as
    # operators/layout.py, written with shift/mask SQL (generated
    # terms: bit j of dim i lands at j*2+i).
    "x_zorder_key": """
        WITH scaled AS (
            SELECT event_id,
                   LEAST(GREATEST(CAST(FLOOR(
                       (CAST(user_id AS DOUBLE) - 0.0) / 1000.0 * 256.0
                   ) AS BIGINT), 0), 255) AS a,
                   LEAST(GREATEST(CAST(FLOOR(
                       (CAST(value AS DOUBLE) - 0.0) / 500.0 * 256.0
                   ) AS BIGINT), 0), 255) AS b
            FROM events)
        SELECT event_id,
               CAST(("""
    + " + ".join(
        f"(((a >> {j}) & 1) << {j * 2}) + (((b >> {j}) & 1) << {j * 2 + 1})"
        for j in range(8)
    )
    + """) AS BIGINT) AS zkey
        FROM scaled ORDER BY event_id LIMIT 1000
    """,
    "x_nb_lang": """
        WITH tok_train AS (
            SELECT lang AS cls, UNNEST(string_split(trim(text), ' ')) AS w
            FROM documents WHERE doc_id % 2 = 0),
        counts AS (SELECT cls, w, COUNT(*) AS c FROM tok_train GROUP BY 1, 2),
        totals AS (SELECT cls, COUNT(*) AS total FROM tok_train GROUP BY 1),
        priors AS (
            SELECT lang AS cls, COUNT(*) AS n_docs
            FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
        vocab AS (SELECT COUNT(DISTINCT w) AS v FROM tok_train),
        nall AS (SELECT SUM(n_docs) AS n_all FROM priors),
        tok_test AS (
            SELECT doc_id, UNNEST(string_split(trim(text), ' ')) AS w
            FROM documents WHERE doc_id % 2 = 1),
        expanded AS (
            SELECT tt.doc_id, tt.w, t.cls, t.total, v.v
            FROM tok_test tt CROSS JOIN totals t CROSS JOIN vocab v),
        scored AS (
            SELECT e.doc_id, e.cls,
                   SUM(CAST(ROUND(ln(CAST(COALESCE(c.c, 0) + 1 AS DOUBLE)
                                     / CAST(e.total + e.v AS DOUBLE)), 9)
                            AS DECIMAL(38,9))) AS ll
            FROM expanded e
            LEFT JOIN counts c ON c.cls = e.cls AND c.w = e.w
            GROUP BY 1, 2),
        wp AS (
            SELECT s.doc_id, s.cls,
                   CAST(s.ll AS DOUBLE)
                     + ln(CAST(p.n_docs AS DOUBLE) / CAST(n.n_all AS DOUBLE))
                     AS logscore
            FROM scored s JOIN priors p ON s.cls = p.cls CROSS JOIN nall n),
        pred AS (
            SELECT doc_id, cls AS pred_cls FROM (
                SELECT doc_id, cls,
                       ROW_NUMBER() OVER (PARTITION BY doc_id
                                          ORDER BY logscore DESC, cls ASC) AS pos
                FROM wp)
            WHERE pos = 1)
        SELECT d.lang AS true_lang,
               COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN p.pred_cls = d.lang THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_correct,
               CAST(SUM(CASE WHEN p.pred_cls = d.lang THEN 1 ELSE 0 END)
                    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS accuracy
        FROM pred p JOIN documents d USING (doc_id)
        GROUP BY 1
    """,
    "x_knn_classify": """
        WITH q AS (
            SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_emb
            FROM embeddings WHERE vec_id < 25),
        scored AS (
            SELECT q.q_id, b.vec_id,
                   ROUND(list_dot_product(q.q_emb, b.embedding::DOUBLE[])
                         / (sqrt(list_dot_product(q.q_emb, q.q_emb))
                            * sqrt(list_dot_product(b.embedding::DOUBLE[],
                                                    b.embedding::DOUBLE[]))), 6) AS sim
            FROM embeddings b CROSS JOIN q
            WHERE b.vec_id <> q.q_id),
        nn AS (
            SELECT q_id, vec_id FROM (
                SELECT q_id, vec_id,
                       ROW_NUMBER() OVER (PARTITION BY q_id
                                          ORDER BY sim DESC, vec_id ASC) AS rnk
                FROM scored)
            WHERE rnk <= 5),
        votes AS (
            SELECT nn.q_id, e.label, COUNT(*) AS n_votes
            FROM nn JOIN embeddings e ON nn.vec_id = e.vec_id
            GROUP BY 1, 2),
        pred AS (
            SELECT q_id, label AS pred_label, n_votes FROM (
                SELECT q_id, label, n_votes,
                       ROW_NUMBER() OVER (PARTITION BY q_id
                                          ORDER BY n_votes DESC, label ASC) AS pos
                FROM votes)
            WHERE pos = 1)
        SELECT p.q_id, p.pred_label, p.n_votes,
               e.label AS true_label,
               CASE WHEN p.pred_label = e.label THEN 1 ELSE 0 END AS correct
        FROM pred p JOIN embeddings e ON p.q_id = e.vec_id
    """,
    "x_hard_negatives": """
        WITH q AS (
            SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_emb, label AS q_label
            FROM embeddings WHERE vec_id < 5),
        scored AS (
            SELECT q.q_id, q.q_label, b.vec_id, b.label AS neg_label,
                   ROUND(list_dot_product(q.q_emb, b.embedding::DOUBLE[])
                         / (sqrt(list_dot_product(q.q_emb, q.q_emb))
                            * sqrt(list_dot_product(b.embedding::DOUBLE[],
                                                    b.embedding::DOUBLE[]))), 6) AS sim
            FROM embeddings b CROSS JOIN q
            WHERE b.label <> q.q_label),
        ranked AS (
            SELECT q_id, q_label, vec_id, neg_label, sim,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS BIGINT) AS rnk
            FROM scored)
        SELECT q_id, q_label, vec_id, neg_label, sim, rnk FROM ranked WHERE rnk <= 5
    """,
    "x_ann_bruteforce": """
        WITH q AS (
            SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_emb
            FROM embeddings WHERE vec_id < 5),
        scored AS (
            SELECT q.q_id, b.vec_id,
                   ROUND(list_dot_product(q.q_emb, b.embedding::DOUBLE[])
                         / (sqrt(list_dot_product(q.q_emb, q.q_emb))
                            * sqrt(list_dot_product(b.embedding::DOUBLE[],
                                                    b.embedding::DOUBLE[]))), 6) AS sim
            FROM embeddings b CROSS JOIN q
            WHERE b.vec_id <> q.q_id),
        ranked AS (
            SELECT q_id, vec_id, sim,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS BIGINT) AS rnk
            FROM scored)
        SELECT q_id, vec_id, sim, rnk FROM ranked WHERE rnk <= 5
    """,
    "x_ann_rptree": f"""
        WITH proj AS (
            SELECT vec_id, embedding::DOUBLE[] AS emb,
                   ROUND(list_dot_product(embedding::DOUBLE[],
                                          [{_RP1}]::DOUBLE[]), 6) AS p1,
                   ROUND(list_dot_product(embedding::DOUBLE[],
                                          [{_RP2}]::DOUBLE[]), 6) AS p2
            FROM embeddings),
        halves AS (
            SELECT vec_id, emb, p2,
                   NTILE(2) OVER (ORDER BY p1, vec_id) AS h
            FROM proj),
        leaves AS (
            SELECT vec_id, emb,
                   CAST((h - 1) * 2
                        + NTILE(2) OVER (PARTITION BY h ORDER BY p2, vec_id)
                        - 1 AS INT) AS leaf
            FROM halves),
        q AS (SELECT vec_id AS q_id, emb AS q_emb, leaf AS q_leaf
              FROM leaves WHERE vec_id < 5),
        scored AS (
            SELECT q.q_id, b.vec_id,
                   ROUND(list_dot_product(q.q_emb, b.emb)
                         / (sqrt(list_dot_product(q.q_emb, q.q_emb))
                            * sqrt(list_dot_product(b.emb, b.emb))), 6) AS sim,
                   b.leaf
            FROM leaves b JOIN q
              ON b.leaf = q.q_leaf AND b.vec_id <> q.q_id),
        ranked AS (
            SELECT q_id, vec_id, sim, leaf,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS BIGINT) AS rnk
            FROM scored)
        SELECT q_id, vec_id, sim, rnk FROM ranked WHERE rnk <= 5
    """,
    "x_ann_bucketed": """
        WITH withb AS (
            SELECT vec_id, embedding::DOUBLE[] AS emb,
                   CAST((CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
                      + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
                      + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
                      + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS INT) AS b0,
                   CAST((CASE WHEN embedding[5] > 0 THEN 1 ELSE 0 END)
                      + (CASE WHEN embedding[6] > 0 THEN 2 ELSE 0 END)
                      + (CASE WHEN embedding[7] > 0 THEN 4 ELSE 0 END)
                      + (CASE WHEN embedding[8] > 0 THEN 8 ELSE 0 END) AS INT) AS b1
            FROM embeddings),
        b AS (
            SELECT vec_id, emb, u.tbl,
                   CASE WHEN u.tbl = 0 THEN b0 ELSE b1 END AS bucket
            FROM withb CROSS JOIN (SELECT UNNEST([0, 1]) AS tbl) u),
        q0 AS (SELECT vec_id AS q_id, emb AS q_emb, b0, b1
               FROM withb WHERE vec_id < 5),
        q AS (
            SELECT q_id, q_emb, 0 AS q_tbl,
                   UNNEST([b0, xor(b0, 1), xor(b0, 2), xor(b0, 4), xor(b0, 8)])
                       AS q_bucket
            FROM q0
            UNION ALL
            SELECT q_id, q_emb, 1 AS q_tbl,
                   UNNEST([b1, xor(b1, 1), xor(b1, 2), xor(b1, 4), xor(b1, 8)])
                       AS q_bucket
            FROM q0),
        scored AS (
            SELECT DISTINCT q.q_id, b.vec_id,
                   ROUND(list_dot_product(q.q_emb, b.emb)
                         / (sqrt(list_dot_product(q.q_emb, q.q_emb))
                            * sqrt(list_dot_product(b.emb, b.emb))), 6) AS sim
            FROM b JOIN q
              ON b.tbl = q.q_tbl AND b.bucket = q.q_bucket
             AND b.vec_id <> q.q_id),
        ranked AS (
            SELECT q_id, vec_id, sim,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS BIGINT) AS rnk
            FROM scored)
        SELECT q_id, vec_id, sim, rnk FROM ranked WHERE rnk <= 5
    """,
    "x_dataset_card": """
        WITH hashed AS (
            SELECT doc_id, source, lang, n_chars,
                   CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens,
                   md5(text) AS h
            FROM documents),
        firsts AS (SELECT h, MIN(doc_id) AS keep_id FROM hashed GROUP BY 1),
        flagged AS (
            SELECT hashed.*, CASE WHEN doc_id <> keep_id THEN 1 ELSE 0 END AS is_dup
            FROM hashed JOIN firsts USING (h))
        SELECT source, lang,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(SUM(is_dup) AS BIGINT) AS n_exact_dups,
               CAST(SUM(is_dup) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS dup_rate,
               CAST(SUM(n_tokens) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_tokens
        FROM flagged GROUP BY 1, 2
    """,
    "x_ann_recall": """
        WITH base AS (
            SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        tq AS (SELECT vec_id AS q_id, emb AS q_emb FROM base WHERE vec_id < 5),
        tscored AS (
            SELECT tq.q_id, b.vec_id,
                   ROUND(list_dot_product(tq.q_emb, b.emb)
                         / (sqrt(list_dot_product(tq.q_emb, tq.q_emb))
                            * sqrt(list_dot_product(b.emb, b.emb))), 6) AS sim
            FROM base b CROSS JOIN tq WHERE b.vec_id <> tq.q_id),
        truth AS (
            SELECT q_id, vec_id FROM (
                SELECT q_id, vec_id,
                       ROW_NUMBER() OVER (PARTITION BY q_id
                                          ORDER BY sim DESC, vec_id ASC) AS rnk
                FROM tscored)
            WHERE rnk <= 5),
        cents AS (
            SELECT vec_id AS cent_id, emb AS cent_emb FROM base WHERE vec_id < 8),
        ranked_assign AS (
            SELECT b.vec_id, b.emb, c.cent_id,
                   ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
                       ROUND(list_dot_product(b.emb, c.cent_emb)
                             / (sqrt(list_dot_product(b.emb, b.emb))
                                * sqrt(list_dot_product(c.cent_emb, c.cent_emb))), 6) DESC,
                       c.cent_id ASC) AS rn
            FROM base b CROSS JOIN cents c),
        assigned AS (
            SELECT vec_id, emb, cent_id FROM ranked_assign WHERE rn = 1),
        ivq AS (
            SELECT vec_id AS q_id, emb AS q_emb, cent_id AS q_bucket
            FROM ranked_assign WHERE vec_id < 5 AND rn <= 2),
        iscored AS (
            SELECT ivq.q_id, b.vec_id,
                   ROUND(list_dot_product(ivq.q_emb, b.emb)
                         / (sqrt(list_dot_product(ivq.q_emb, ivq.q_emb))
                            * sqrt(list_dot_product(b.emb, b.emb))), 6) AS sim
            FROM assigned b JOIN ivq
              ON b.cent_id = ivq.q_bucket AND b.vec_id <> ivq.q_id),
        approx AS (
            SELECT q_id, vec_id FROM (
                SELECT q_id, vec_id,
                       ROW_NUMBER() OVER (PARTITION BY q_id
                                          ORDER BY sim DESC, vec_id ASC) AS rnk
                FROM iscored)
            WHERE rnk <= 5)
        SELECT t.q_id,
               COUNT(*) AS n_truth,
               CAST(COUNT(a.vec_id) AS BIGINT) AS n_hit,
               CAST(COUNT(a.vec_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                   AS recall_at_5
        FROM truth t LEFT JOIN approx a
          ON t.q_id = a.q_id AND t.vec_id = a.vec_id
        GROUP BY 1
    """,
    "x_ann_ivf": """
        WITH base AS (
            SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
        cents AS (
            SELECT vec_id AS cent_id, emb AS cent_emb FROM base WHERE vec_id < 8),
        ranked_assign AS (
            SELECT b.vec_id, b.emb, c.cent_id,
                   ROW_NUMBER() OVER (PARTITION BY b.vec_id ORDER BY
                       ROUND(list_dot_product(b.emb, c.cent_emb)
                             / (sqrt(list_dot_product(b.emb, b.emb))
                                * sqrt(list_dot_product(c.cent_emb, c.cent_emb))), 6) DESC,
                       c.cent_id ASC) AS rn
            FROM base b CROSS JOIN cents c),
        assigned AS (
            SELECT vec_id, emb, cent_id FROM ranked_assign WHERE rn = 1),
        q AS (
            SELECT vec_id AS q_id, emb AS q_emb, cent_id AS q_bucket
            FROM ranked_assign WHERE vec_id < 5 AND rn <= 2),
        scored AS (
            SELECT q.q_id, b.vec_id,
                   ROUND(list_dot_product(q.q_emb, b.emb)
                         / (sqrt(list_dot_product(q.q_emb, q.q_emb))
                            * sqrt(list_dot_product(b.emb, b.emb))), 6) AS sim
            FROM assigned b JOIN q
              ON b.cent_id = q.q_bucket AND b.vec_id <> q.q_id),
        ranked AS (
            SELECT q_id, vec_id, sim,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS BIGINT) AS rnk
            FROM scored)
        SELECT q_id, vec_id, sim, rnk FROM ranked WHERE rnk <= 5
    """,
    "x_ann_pq": """
        WITH nb AS (
            SELECT vec_id,
                   list_transform(embedding::DOUBLE[],
                       x -> x / sqrt(list_dot_product(embedding::DOUBLE[],
                                                      embedding::DOUBLE[]))) AS n
            FROM embeddings),
        subs AS (
            SELECT vec_id, j.sub_j,
                   list_slice(n, j.sub_j*8 + 1, j.sub_j*8 + 8) AS sub
            FROM nb CROSS JOIN (SELECT UNNEST(range(8)) AS sub_j) j),
        cb AS (
            SELECT vec_id AS code_id, sub_j, sub AS codeword
            FROM subs WHERE vec_id < 64),
        codes AS (
            SELECT vec_id, sub_j, code_id FROM (
                SELECT s.vec_id, s.sub_j, c.code_id,
                       ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub_j ORDER BY
                           ROUND(list_dot_product(s.sub, s.sub)
                                 - 2*list_dot_product(s.sub, c.codeword)
                                 + list_dot_product(c.codeword, c.codeword), 9) ASC,
                           c.code_id ASC) AS rn
                FROM subs s JOIN cb c USING (sub_j))
            WHERE rn = 1),
        adc AS (
            SELECT s.vec_id AS q_id, s.sub_j, c.code_id,
                   CAST(ROUND(list_dot_product(s.sub, c.codeword), 12)
                        AS DECIMAL(24,12)) AS partial
            FROM subs s JOIN cb c USING (sub_j) WHERE s.vec_id < 5),
        scored AS (
            SELECT a.q_id, co.vec_id,
                   ROUND(CAST(SUM(a.partial) AS DOUBLE), 6) AS sim
            FROM codes co
            JOIN adc a ON co.sub_j = a.sub_j AND co.code_id = a.code_id
                       AND co.vec_id <> a.q_id
            GROUP BY a.q_id, co.vec_id),
        ranked AS (
            SELECT q_id, vec_id, sim,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS BIGINT) AS rnk
            FROM scored)
        SELECT q_id, vec_id, sim, rnk FROM ranked WHERE rnk <= 5
    """,
    "x_ann_ivf_pq": f"""
        WITH {_IVFPQ_CTES}
        SELECT q_id, vec_id, sim, rnk FROM ranked WHERE rnk <= 5
    """,
    "x_ann_refine": f"""
        WITH {_IVFPQ_CTES},
        cand25 AS (
            SELECT q_id, vec_id FROM ranked WHERE rnk <= 25),
        refined AS (
            SELECT c.q_id, c.vec_id,
                   ROUND(list_dot_product(q.emb, b.emb)
                         / (sqrt(list_dot_product(q.emb, q.emb))
                            * sqrt(list_dot_product(b.emb, b.emb))), 6) AS sim
            FROM cand25 c
            JOIN base b ON b.vec_id = c.vec_id
            JOIN base q ON q.vec_id = c.q_id),
        rranked AS (
            SELECT q_id, vec_id, sim,
                   CAST(ROW_NUMBER() OVER (
                       PARTITION BY q_id ORDER BY sim DESC, vec_id ASC) AS BIGINT) AS rnk
            FROM refined)
        SELECT q_id, vec_id, sim, rnk FROM rranked WHERE rnk <= 5
    """,
    "x_embed_near_dup": """
        WITH withb AS (
            SELECT vec_id, embedding::DOUBLE[] AS emb,
                   CAST((CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
                      + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
                      + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
                      + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS INT) AS bucket
            FROM embeddings)
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               ROUND(list_dot_product(a.emb, b.emb)
                     / (sqrt(list_dot_product(a.emb, a.emb))
                        * sqrt(list_dot_product(b.emb, b.emb))), 6) AS sim
        FROM withb a JOIN withb b
          ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE ROUND(list_dot_product(a.emb, b.emb)
              / (sqrt(list_dot_product(a.emb, a.emb))
                 * sqrt(list_dot_product(b.emb, b.emb))), 6) >= 0.4
    """,
    "x_multimodal_meta": """
        SELECT doc_id,
               CAST(CASE WHEN doc_id % 5 = 0 THEN 317 + doc_id % 256
                    ELSE octet_length(encode(text)) END AS BIGINT)
                   AS n_bytes,
               CAST(CASE WHEN doc_id % 5 = 0 THEN 16 * (1 + doc_id % 64)
                    ELSE 320 + octet_length(encode(text)) % 320 END
                   AS INT) AS width,
               CAST(CASE WHEN doc_id % 5 = 0 THEN 16 * (1 + doc_id % 36)
                    ELSE 240 + octet_length(encode(text)) % 240 END
                   AS INT) AS height,
               CASE WHEN doc_id % 5 = 0 THEN 'mp4' ELSE 'unknown' END
                   AS format
        FROM documents
    """,
    "x_video_meta": """
        SELECT doc_id,
               CAST(CASE WHEN doc_id % 5 = 0 THEN 317 + doc_id % 256
                    WHEN doc_id % 5 = 1 THEN 108 + doc_id % 128
                    ELSE octet_length(encode(text)) END AS BIGINT)
                   AS n_bytes,
               CAST(CASE WHEN doc_id % 5 = 0 THEN 16 * (1 + doc_id % 64)
                    WHEN doc_id % 5 = 1 THEN 0
                    END AS INT) AS width,
               CAST(CASE WHEN doc_id % 5 = 0 THEN 16 * (1 + doc_id % 36)
                    WHEN doc_id % 5 = 1 THEN 0
                    END AS INT) AS height,
               CAST(CASE WHEN doc_id % 5 = 0 THEN 500 + doc_id % 4000
                    WHEN doc_id % 5 = 1 THEN 1000 + doc_id % 3000
                    END AS BIGINT) AS duration_ms,
               CAST(CASE WHEN doc_id % 5 = 0 THEN 1
                    WHEN doc_id % 5 = 1 THEN 0 END AS INT)
                   AS n_video_tracks,
               CAST(CASE WHEN doc_id % 5 IN (0, 1) THEN 0 END AS INT)
                   AS n_audio_tracks,
               CASE WHEN doc_id % 5 = 0 THEN 'isom'
                    WHEN doc_id % 5 = 1 THEN 'msdh' END AS brand,
               CASE WHEN doc_id % 5 = 0 THEN 'mp4'
                    WHEN doc_id % 5 = 1 THEN 'mp4-frag'
                    ELSE 'unknown' END AS format
        FROM documents
    """,
    "x_substring_spans": """
        WITH base AS (
            SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
        wins AS (
            SELECT doc_id, t,
                   UNNEST(range(0, GREATEST(0, len(t) - 7))) AS w
            FROM base),
        wtext AS (
            SELECT doc_id, w,
                   array_to_string(t[w + 1 : w + 8], ' ') AS wt
            FROM wins),
        dupw AS (
            SELECT wt FROM wtext GROUP BY wt HAVING COUNT(*) >= 2),
        pos AS (
            SELECT x.doc_id, x.w,
                   x.w - ROW_NUMBER() OVER (
                       PARTITION BY x.doc_id ORDER BY x.w) AS g
            FROM wtext x JOIN dupw USING (wt))
        SELECT doc_id,
               MIN(w) AS start_tok,
               MAX(w) + 7 AS end_tok,
               MAX(w) + 7 - MIN(w) + 1 AS span_len
        FROM pos GROUP BY doc_id, g
        HAVING MAX(w) + 7 - MIN(w) + 1 >= 15
    """,
    "x_substring_removal": """
        WITH base AS (
            SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
        wins AS (
            SELECT doc_id, t,
                   UNNEST(range(0, GREATEST(0, len(t) - 7))) AS w
            FROM base),
        wtext AS (
            SELECT doc_id, w,
                   array_to_string(t[w + 1 : w + 8], ' ') AS wt
            FROM wins),
        dupw AS (
            SELECT wt FROM wtext GROUP BY wt HAVING COUNT(*) >= 2),
        pos AS (
            SELECT x.doc_id, x.w,
                   x.w - ROW_NUMBER() OVER (
                       PARTITION BY x.doc_id ORDER BY x.w) AS g
            FROM wtext x JOIN dupw USING (wt)),
        runs AS (
            SELECT doc_id, MIN(w) AS s, MAX(w) + 7 AS e
            FROM pos GROUP BY doc_id, g
            HAVING MAX(w) + 7 - MIN(w) + 1 >= 15),
        rtext AS (
            SELECT r.doc_id, r.s, r.e,
                   array_to_string(b.t[r.s + 1 : r.e + 1], ' ') AS rt
            FROM runs r JOIN base b USING (doc_id)),
        ranked AS (
            SELECT doc_id, s, e,
                   ROW_NUMBER() OVER (
                       PARTITION BY rt ORDER BY doc_id, s) AS rn
            FROM rtext),
        rem AS (SELECT doc_id, s, e FROM ranked WHERE rn > 1),
        toksp AS (
            SELECT doc_id,
                   UNNEST(list_transform(range(len(t)),
                          i -> struct_pack(p := i, tok := t[i + 1]))) AS u
            FROM base),
        kept AS (
            SELECT tp.doc_id, (tp.u).tok AS tok, (tp.u).p AS p
            FROM toksp tp
            WHERE NOT EXISTS (
                SELECT 1 FROM rem d
                WHERE d.doc_id = tp.doc_id AND (tp.u).p BETWEEN d.s AND d.e)),
        ncuts AS (
            SELECT doc_id, COUNT(*) AS n_runs FROM rem GROUP BY doc_id)
        SELECT b.doc_id,
               COALESCE(string_agg(k.tok, ' ' ORDER BY k.p), '') AS clean_text,
               CAST(len(b.t) AS BIGINT) AS n_tokens,
               CAST(len(b.t) - COUNT(k.p) AS BIGINT) AS n_tokens_removed,
               CAST(COALESCE(MAX(nc.n_runs), 0) AS BIGINT) AS n_runs_removed
        FROM base b
        LEFT JOIN kept k USING (doc_id)
        LEFT JOIN ncuts nc ON nc.doc_id = b.doc_id
        GROUP BY b.doc_id, len(b.t)
    """,
    "x_sliding_span_dedup": """
        WITH base AS (
            SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
        wins AS (
            SELECT doc_id, t,
                   UNNEST(range(0, GREATEST(0, len(t) - 7))) AS w
            FROM base),
        wtext AS (
            SELECT doc_id, w,
                   array_to_string(t[w + 1 : w + 8], ' ') AS wt
            FROM wins),
        firsts AS (
            SELECT wt, MIN(struct_pack(d := doc_id, fw := w)) AS f
            FROM wtext GROUP BY wt),
        dups AS (
            SELECT x.doc_id, x.w AS s, x.w + 7 AS e
            FROM wtext x JOIN firsts fs USING (wt)
            WHERE NOT (x.doc_id = (fs.f).d AND x.w = (fs.f).fw)),
        toksp AS (
            SELECT doc_id,
                   UNNEST(list_transform(range(len(t)),
                          i -> struct_pack(p := i, tok := t[i + 1]))) AS u
            FROM base),
        kept AS (
            SELECT tp.doc_id, (tp.u).tok AS tok, (tp.u).p AS p
            FROM toksp tp
            WHERE NOT EXISTS (
                SELECT 1 FROM dups d
                WHERE d.doc_id = tp.doc_id AND (tp.u).p BETWEEN d.s AND d.e))
        SELECT b.doc_id,
               COALESCE(string_agg(k.tok, ' ' ORDER BY k.p), '') AS clean_text,
               CAST(len(b.t) AS BIGINT) AS n_tokens,
               COUNT(k.p) AS n_tokens_kept
        FROM base b LEFT JOIN kept k USING (doc_id)
        GROUP BY b.doc_id, len(b.t)
    """,
    "x_span_dedup": """
        WITH base AS (
            SELECT doc_id, string_split(trim(text), ' ') AS toks
            FROM documents),
        tiles AS (
            SELECT doc_id, toks,
                   UNNEST(range(0, GREATEST(1,
                       CAST(ceil(len(toks) / 8.0) AS BIGINT)))) AS span_no
            FROM base),
        marked AS (
            SELECT doc_id, span_no,
                   array_to_string(toks[span_no * 8 + 1 : span_no * 8 + 8],
                                   ' ') AS span_text,
                   row_number() OVER (
                       PARTITION BY array_to_string(
                           toks[span_no * 8 + 1 : span_no * 8 + 8], ' ')
                       ORDER BY doc_id, span_no) AS rn
            FROM tiles)
        SELECT doc_id,
               COALESCE(string_agg(CASE WHEN rn = 1 THEN span_text END,
                                   ' ' ORDER BY span_no), '') AS clean_text,
               COUNT(*) AS n_spans,
               COUNT(CASE WHEN rn = 1 THEN 1 END) AS n_spans_kept
        FROM marked GROUP BY doc_id
    """,
    "x_paragraph_dedup": """
        WITH sepd AS (
            SELECT doc_id,
                   regexp_replace(text, '\\b(batch|data|join) ', '\\1. ',
                                  'g') AS text
            FROM documents),
        parts AS (
            SELECT doc_id, string_split_regex(text, '\\. ') AS ps
            FROM sepd),
        paras AS (
            SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, trim(ps[i]) AS para
            FROM parts, UNNEST(range(1, len(ps) + 1)) AS u(i)),
        marked AS (
            SELECT doc_id, pos, para,
                   row_number() OVER (PARTITION BY para
                                      ORDER BY doc_id, pos) AS rn
            FROM paras WHERE length(para) > 0)
        SELECT doc_id,
               COALESCE(string_agg(CASE WHEN rn = 1 THEN para END, '. '
                                   ORDER BY pos), '') AS clean_text,
               COUNT(*) AS n_paras,
               COUNT(CASE WHEN rn = 1 THEN 1 END) AS n_paras_kept
        FROM marked GROUP BY doc_id
    """,
    "x_token_spectrum": """
        WITH tf AS (
            SELECT term, COUNT(*) AS occurrences FROM (
                SELECT UNNEST(string_split(trim(text), ' ')) AS term
                FROM documents)
            GROUP BY term)
        SELECT occurrences, COUNT(*) AS n_terms
        FROM tf GROUP BY occurrences
    """,
    "x_unigram_nll": """
        WITH per AS (
            SELECT doc_id, term, COUNT(*) AS cnt FROM (
                SELECT doc_id, UNNEST(string_split(trim(text), ' ')) AS term
                FROM documents)
            GROUP BY doc_id, term),
        vocab AS (
            SELECT term, CAST(SUM(cnt) AS DOUBLE) AS gcnt
            FROM per GROUP BY term),
        tot AS (SELECT SUM(gcnt) AS n_total FROM vocab)
        SELECT p.doc_id,
               CAST(SUM(p.cnt) AS BIGINT) AS n_tokens,
               - CAST(SUM(CAST(ROUND(p.cnt * ln(v.gcnt / t.n_total), 12)
                               AS DECIMAL(28,12))) AS DOUBLE)
                 / SUM(p.cnt) AS nll
        FROM per p JOIN vocab v USING (term) CROSS JOIN tot t
        GROUP BY p.doc_id
    """,
    "x_doc_entropy": """
        WITH per AS (
            SELECT doc_id, term, COUNT(*) AS cnt FROM (
                SELECT doc_id, UNNEST(string_split(trim(text), ' ')) AS term
                FROM documents)
            GROUP BY doc_id, term)
        SELECT doc_id,
               CAST(SUM(cnt) AS BIGINT) AS n_tokens,
               ln(CAST(SUM(cnt) AS DOUBLE))
                   - CAST(SUM(CAST(ROUND(cnt * ln(CAST(cnt AS DOUBLE)), 12)
                                   AS DECIMAL(28,12))) AS DOUBLE)
                     / SUM(cnt) AS entropy
        FROM per GROUP BY doc_id
    """,
    "x_trigram_nll": """
        WITH toks AS (
            SELECT doc_id, string_split(trim(text), ' ') AS t FROM documents),
        c3 AS (
            SELECT g3, COUNT(*) AS c3 FROM (
                SELECT UNNEST(CASE WHEN len(t) >= 3
                    THEN list_transform(range(1, len(t) - 1),
                                        i -> array_to_string(t[i:i+2], ' '))
                    ELSE [] END) AS g3
                FROM toks WHERE doc_id % 2 = 0)
            GROUP BY g3),
        c2 AS (
            SELECT g2, COUNT(*) AS c2 FROM (
                SELECT UNNEST(CASE WHEN len(t) >= 2
                    THEN list_transform(range(1, len(t)),
                                        i -> array_to_string(t[i:i+1], ' '))
                    ELSE [] END) AS g2
                FROM toks WHERE doc_id % 2 = 0)
            GROUP BY g2),
        c1 AS (
            SELECT w, COUNT(*) AS c1 FROM (
                SELECT UNNEST(t) AS w FROM toks WHERE doc_id % 2 = 0)
            GROUP BY w),
        ntok AS (SELECT CAST(SUM(c1) AS DOUBLE) AS n_tok FROM c1),
        pos AS (
            SELECT doc_id, g3,
                   array_to_string(string_split(g3, ' ')[1:2], ' ') AS ctx2,
                   array_to_string(string_split(g3, ' ')[2:3], ' ') AS g2,
                   string_split(g3, ' ')[3] AS w3,
                   string_split(g3, ' ')[2] AS w2
            FROM (
                SELECT doc_id, UNNEST(CASE WHEN len(t) >= 3
                    THEN list_transform(range(1, len(t) - 1),
                                        i -> array_to_string(t[i:i+2], ' '))
                    ELSE [] END) AS g3
                FROM toks WHERE doc_id % 2 = 1)),
        scored AS (
            SELECT p.doc_id,
                   0.5  * COALESCE(CAST(t3.c3 AS DOUBLE) / cx.c2, 0.0)
                 + 0.3  * COALESCE(CAST(c2b.c2 AS DOUBLE) / u2.c1, 0.0)
                 + 0.19 * COALESCE(CAST(u3.c1 AS DOUBLE) / n.n_tok, 0.0)
                 + 0.01 / n.n_tok AS p
            FROM pos p
            LEFT JOIN c3 t3 USING (g3)
            LEFT JOIN c2 cx ON cx.g2 = p.ctx2
            LEFT JOIN c2 c2b ON c2b.g2 = p.g2
            LEFT JOIN c1 u2 ON u2.w = p.w2
            LEFT JOIN c1 u3 ON u3.w = p.w3
            CROSS JOIN ntok n)
        SELECT doc_id, COUNT(*) AS n_trigrams,
               CAST(SUM(CAST(ROUND(-ln(p), 12) AS DECIMAL(28,12)))
                    AS DOUBLE) / COUNT(*) AS nll
        FROM scored GROUP BY doc_id
    """,
    "x_kmv_distinct": """
        WITH hashed AS (
            SELECT DISTINCT event_type,
                   CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                        AS BIGINT) / 4294967296.0 AS u
            FROM events),
        kept AS (
            SELECT event_type, u FROM (
                SELECT event_type, u,
                       ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY u) AS rn
                FROM hashed)
            WHERE rn <= 128)
        SELECT event_type,
               COUNT(*) AS n_kept,
               MAX(u) AS theta,
               CASE WHEN COUNT(*) < 128 THEN CAST(COUNT(*) AS DOUBLE)
                    ELSE 127.0 / MAX(u) END AS estimate
        FROM kept GROUP BY event_type
    """,
    "x_kmv_setops": """
        WITH hashed AS (
            SELECT DISTINCT event_type,
                   CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                        AS BIGINT) / 4294967296.0 AS u
            FROM events WHERE event_type IN ('view', 'click')),
        kept AS (
            SELECT event_type, u FROM (
                SELECT event_type, u,
                       ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY u) AS rn
                FROM hashed)
            WHERE rn <= 128),
        a AS (SELECT u FROM kept WHERE event_type = 'view'),
        b AS (SELECT u FROM kept WHERE event_type = 'click'),
        merged AS (
            SELECT u FROM (
                SELECT u, ROW_NUMBER() OVER (ORDER BY u) AS rn
                FROM (SELECT DISTINCT u FROM (SELECT u FROM a UNION ALL SELECT u FROM b)))
            WHERE rn <= 128),
        uni AS (
            SELECT 'union' AS op, COUNT(*) AS n_kept,
                   CASE WHEN COUNT(*) < 128 THEN CAST(COUNT(*) AS DOUBLE)
                        ELSE 127.0 / MAX(u) END AS estimate
            FROM merged),
        thetas AS (
            SELECT LEAST(
                (SELECT CASE WHEN COUNT(*) < 128 THEN 1.0 ELSE MAX(u) END FROM a),
                (SELECT CASE WHEN COUNT(*) < 128 THEN 1.0 ELSE MAX(u) END FROM b)
            ) AS theta),
        inter AS (
            SELECT 'intersect' AS op, COUNT(*) AS n_kept,
                   COUNT(*) / MIN(t.theta) AS estimate
            FROM (SELECT u FROM a INTERSECT SELECT u FROM b) c
            CROSS JOIN thetas t
            WHERE c.u < t.theta)
        SELECT op, n_kept, estimate FROM uni
        UNION ALL
        SELECT op, n_kept, estimate FROM inter
    """,
    "x_priority_sample": """
        WITH keyed AS (
            SELECT lang, doc_id, n_chars,
                   ROUND(POW(CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT)
                             / 4294967296.0,
                             1.0 / CAST(n_chars AS DOUBLE)), 9) AS sample_key
            FROM documents),
        ranked AS (
            SELECT lang, doc_id, n_chars, sample_key,
                   ROW_NUMBER() OVER (PARTITION BY lang
                                      ORDER BY sample_key DESC, doc_id) AS rn
            FROM keyed)
        SELECT lang, doc_id, n_chars, sample_key FROM ranked WHERE rn <= 25
    """,
    "x_sorted_neighborhood": """
        WITH vals AS (SELECT DISTINCT c_name AS name FROM customer),
        ranked AS (
            SELECT name, substr(name, 1, 15) AS blk,
                   ROW_NUMBER() OVER (PARTITION BY substr(name, 1, 15)
                                      ORDER BY name) AS rnk
            FROM vals),
        pairs AS (
            SELECT a.name AS name_a, b.name AS name_b
            FROM ranked a JOIN ranked b
              ON a.blk = b.blk AND b.rnk = a.rnk + 1
            UNION
            SELECT a.name, b.name
            FROM ranked a JOIN ranked b
              ON a.blk = b.blk AND b.rnk = a.rnk + 2)
        SELECT name_a, name_b,
               CAST(levenshtein(name_a, name_b) AS INTEGER) AS dist
        FROM pairs
        WHERE levenshtein(name_a, name_b) <= 2
    """,
    "x_editdist_pairs": """
        WITH vals AS (
            SELECT p_name AS name, COUNT(*) AS n_rows FROM part GROUP BY 1),
        words AS (
            SELECT name, UNNEST(range(len(t))) AS pos, UNNEST(t) AS w
            FROM (SELECT name, string_split_regex(name, '\\s+') AS t FROM vals)),
        cand AS (
            SELECT DISTINCT a.name AS name_a, b.name AS name_b
            FROM words a JOIN words b
              ON a.pos = b.pos AND a.w = b.w AND a.name < b.name),
        scored AS (
            SELECT name_a, name_b,
                   CAST(levenshtein(name_a, name_b) AS INTEGER) AS dist
            FROM cand
            WHERE levenshtein(name_a, name_b) <= 2)
        SELECT s.name_a, s.name_b, s.dist,
               na.n_rows AS n_a, nb.n_rows AS n_b
        FROM scored s
        JOIN vals na ON na.name = s.name_a
        JOIN vals nb ON nb.name = s.name_b
    """,
}


# --- Round-5 graduations out of the rows-only set ------------------------
#
# x_bpe_encode: the full rewrite chain, GENERATED from BPE_MERGES_V1 so
# the SQL can never drift from the frozen artifact the Spark side ships.
ORACLES["x_bpe_encode"] = f"""
    WITH words AS (
        SELECT doc_id, UNNEST(string_split(trim(text), ' ')) AS w
        FROM documents),
    sym AS (
        SELECT doc_id,
               ' ' || trim(regexp_replace(w, '(.)', '\\1 ', 'g')) || ' ' AS s
        FROM words),
    enc AS (
        SELECT doc_id,
               len(string_split(trim({_bpe_oracle_rewrite("s")}), ' ')) AS n
        FROM sym)
    SELECT doc_id,
           COUNT(*) AS n_words,
           CAST(SUM(n) AS BIGINT) AS n_subwords,
           ROUND(CAST(SUM(n) AS DOUBLE) / COUNT(*), 9) AS subwords_per_word
    FROM enc GROUP BY 1
"""

# x_prefix_join: the whole pipeline is relational (rank windows,
# integer rational thresholds), so DuckDB replays it end-to-end.
ORACLES["x_prefix_join"] = """
    WITH tok AS (
        SELECT DISTINCT doc_id AS id,
               UNNEST(string_split(trim(text), ' ')) AS tk
        FROM documents WHERE doc_id < 500),
    dfreq AS (SELECT tk, COUNT(*) AS df FROM tok GROUP BY 1),
    ranked AS (
        SELECT t.id, t.tk,
               ROW_NUMBER() OVER (PARTITION BY id ORDER BY df, tk) AS rn,
               COUNT(*) OVER (PARTITION BY id) AS n
        FROM tok t JOIN dfreq USING (tk)),
    pref AS (
        SELECT id, tk FROM ranked
        WHERE rn <= n - ((3 * n + 4) // 5) + 1),
    cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM pref a JOIN pref b ON a.tk = b.tk AND a.id < b.id),
    inter AS (
        SELECT c.id_a, c.id_b, COUNT(*) AS i
        FROM cand c
        JOIN tok ta ON ta.id = c.id_a
        JOIN tok tb ON tb.id = c.id_b AND tb.tk = ta.tk
        GROUP BY 1, 2),
    sizes AS (SELECT id, COUNT(*) AS sz FROM tok GROUP BY 1),
    pairs AS (
        SELECT id_a, id_b,
               CAST(i AS DOUBLE)
                   / CAST(sa.sz + sb.sz - i AS DOUBLE) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.id = id_a
        JOIN sizes sb ON sb.id = id_b
        WHERE 5 * i >= 3 * (sa.sz + sb.sz - i)),
    sym AS (
        SELECT id_a AS doc_id, jaccard FROM pairs
        UNION ALL
        SELECT id_b AS doc_id, jaccard FROM pairs)
    SELECT doc_id, COUNT(*) AS n_neighbors, MAX(jaccard) AS max_jaccard
    FROM sym GROUP BY 1
"""

# x_triangles: id-ordered enumeration replays the degree-oriented
# Spark plan's output exactly (the triangle SET is orientation-free).
ORACLES["l28_copurchase_lift"] = """
    WITH items AS (
        SELECT DISTINCT l_orderkey AS o, l_partkey AS i FROM lineitem),
    mega AS (SELECT o FROM items GROUP BY 1 HAVING COUNT(*) > 1024),
    b AS (SELECT o, i FROM items
          WHERE o NOT IN (SELECT o FROM mega)),
    edges AS (
        SELECT a.i AS pa, x.i AS pb, CAST(COUNT(*) AS BIGINT) AS n_both
        FROM b a JOIN b x ON a.o = x.o AND a.i < x.i
        GROUP BY 1, 2 HAVING COUNT(*) >= 2),
    marg AS (SELECT i, CAST(COUNT(*) AS BIGINT) AS n_item
             FROM b GROUP BY 1),
    tot AS (SELECT COUNT(DISTINCT o) AS N FROM b)
    SELECT e.pa, e.pb, e.n_both, ma.n_item AS n_a, mb.n_item AS n_b,
           CAST(e.n_both AS DOUBLE) / CAST(t.N AS DOUBLE) AS support,
           CAST(e.n_both AS DOUBLE) / CAST(ma.n_item AS DOUBLE)
               AS conf_a_to_b,
           CAST(e.n_both * t.N AS DOUBLE)
           / CAST(ma.n_item * mb.n_item AS DOUBLE) AS lift
    FROM edges e
    JOIN marg ma ON ma.i = e.pa
    JOIN marg mb ON mb.i = e.pb
    CROSS JOIN tot t
"""

ORACLES["x_triangles"] = """
    WITH mega AS (
        SELECT l_orderkey FROM lineitem GROUP BY 1 HAVING COUNT(*) > 1024),
    li AS (
        SELECT l_orderkey, l_partkey FROM lineitem
        WHERE l_orderkey NOT IN (SELECT l_orderkey FROM mega)),
    pairs AS (
        SELECT a.l_orderkey, a.l_partkey AS pa, b.l_partkey AS pb
        FROM li a
        JOIN li b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
    edges AS (
        SELECT pa, pb FROM pairs GROUP BY pa, pb HAVING COUNT(*) >= 2)
    SELECT e1.pa AS p1, e1.pb AS p2, eb.pb AS p3
    FROM edges e1
    JOIN edges eb ON e1.pb = eb.pa
    JOIN edges ec ON ec.pa = e1.pa AND ec.pb = eb.pb
"""

# x_golden_records: the x_editdist_pairs blocking/scoring CTEs +
# recursive min-label clustering (the _CLUSTERS_ORACLE reach pattern)
# + the survivorship rollup, singletons included via LEFT JOIN.
ORACLES["x_golden_records"] = """
    WITH RECURSIVE vals AS (
        SELECT p_name AS name, COUNT(*) AS n_rows FROM part GROUP BY 1),
    words AS (
        SELECT name, UNNEST(range(len(t))) AS pos, UNNEST(t) AS w
        FROM (SELECT name, string_split_regex(name, '\\s+') AS t FROM vals)),
    cand AS (
        SELECT DISTINCT a.name AS name_a, b.name AS name_b
        FROM words a JOIN words b
          ON a.pos = b.pos AND a.w = b.w AND a.name < b.name),
    scored AS (
        SELECT name_a, name_b FROM cand
        WHERE levenshtein(name_a, name_b) <= 2),
    ids AS (
        SELECT p_name AS name, MIN(p_partkey) AS nid FROM part GROUP BY 1),
    edges AS (
        SELECT ia.nid AS u, ib.nid AS v
        FROM scored s
        JOIN ids ia ON ia.name = s.name_a
        JOIN ids ib ON ib.name = s.name_b
        UNION ALL
        SELECT ib.nid, ia.nid
        FROM scored s
        JOIN ids ia ON ia.name = s.name_a
        JOIN ids ib ON ib.name = s.name_b),
    reach(node, label) AS (
        SELECT u, u FROM edges
        UNION
        SELECT e.u, r.label FROM edges e JOIN reach r ON r.node = e.v),
    cl AS (
        SELECT node AS nid, MIN(label) AS cl FROM reach GROUP BY node),
    cmap AS (
        SELECT i.name, COALESCE(c.cl, i.nid) AS cluster_id
        FROM ids i LEFT JOIN cl c ON c.nid = i.nid)
    SELECT m.cluster_id,
           COUNT(DISTINCT p.p_name) AS n_names,
           COUNT(*) AS n_parts,
           MIN(p.p_brand) AS canonical_brand,
           MIN(p.p_retailprice) AS min_price,
           MAX(p.p_retailprice) AS max_price,
           MAX(p.p_size) AS max_size
    FROM part p JOIN cmap m ON m.name = p.p_name
    GROUP BY 1
"""

# x_golden_mode: the same blocking/clustering CTEs + most-frequent-
# value survivorship — per-(cluster, attr, value) counts, winner by
# (count DESC, value ASC) via QUALIFY row_number. The member table j
# feeds two aggregations, so it is MATERIALIZED (the DuckDB CTE-
# inlining lesson from x_power_iteration).
# x_url_canon: identical URL synthesis + every canonicalization rule
# replayed literally (anchored single-match regexes — DuckDB's
# regexp_replace is first-match-only, which is exactly what the
# anchors need; list_filter/list_sort/array_to_string mirror the
# Spark HOF chain).
ORACLES["x_url_canon"] = """
    WITH synth AS (
        SELECT doc_id,
               CASE doc_id % 4
                 WHEN 0 THEN 'https://www.site' || ((doc_id // 4) % 5)
                      || '.com/Page/' || (doc_id // 4) || '?a=1&b=2'
                 WHEN 1 THEN 'HTTPS://WWW.SITE' || ((doc_id // 4) % 5)
                      || '.COM:443/Page/' || (doc_id // 4) || '?a=1&b=2#sec'
                 WHEN 2 THEN 'https://www.site' || ((doc_id // 4) % 5)
                      || '.com/Page/' || (doc_id // 4) || '?b=2&a=1'
                 ELSE 'https://www.site' || ((doc_id // 4) % 5)
                      || '.com/Page/' || (doc_id // 4)
                      || '?a=1&utm_source=feed&b=2'
               END AS url
        FROM documents),
    parts AS (
        SELECT doc_id,
               lower(regexp_extract(url,
                     '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
               regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', '')
                   AS rest
        FROM synth),
    hp AS (
        SELECT doc_id, scheme, rest,
               lower(regexp_extract(rest, '^([^/?#]*)', 1)) AS hostport
        FROM parts),
    norm AS (
        SELECT doc_id, scheme,
               CASE WHEN scheme = 'https'
                    THEN regexp_replace(hostport, ':443$', '')
                    WHEN scheme = 'http'
                    THEN regexp_replace(hostport, ':80$', '')
                    ELSE hostport END AS host,
               regexp_replace(substr(rest, length(hostport) + 1),
                              '#.*$', '') AS nofrag
        FROM hp),
    pq AS (
        SELECT doc_id, scheme, host,
               CASE WHEN regexp_extract(nofrag, '^([^?]*)', 1) = ''
                    THEN '/'
                    ELSE regexp_extract(nofrag, '^([^?]*)', 1) END AS path,
               CASE WHEN contains(nofrag, '?')
                    THEN regexp_replace(nofrag, '^[^?]*\\?', '')
                    ELSE '' END AS query
        FROM norm),
    canon AS (
        SELECT doc_id,
               scheme || '://' || host || path ||
               CASE WHEN array_to_string(list_sort(list_filter(
                          string_split(query, '&'),
                          p -> p <> '' AND NOT regexp_matches(p,
                              '^(utm_[a-z_]*|fbclid|gclid|msclkid|ref)='))),
                          '&') = ''
                    THEN ''
                    ELSE '?' || array_to_string(list_sort(list_filter(
                          string_split(query, '&'),
                          p -> p <> '' AND NOT regexp_matches(p,
                              '^(utm_[a-z_]*|fbclid|gclid|msclkid|ref)='))),
                          '&') END AS canon_url
        FROM pq)
    SELECT doc_id, canon_url,
           COUNT(*) OVER (PARTITION BY canon_url) AS n_same
    FROM canon
"""

# x_mojibake_full: the oracle cannot run the cp1252 round trip, but it
# does not need to — the fixture's intended clean text is known by
# construction (the injected suffix's pre-corruption form), so the
# check is exact md5 parity of the repaired text, injected and
# untouched rows alike.
ORACLES["x_mojibake_full"] = f"""
    SELECT doc_id,
           doc_id % 7 = 3 AS flagged,
           md5(CASE WHEN doc_id % 7 = 3
                    THEN text || '{_MOJI_CLEAN_SFX}'
                    ELSE text END) AS repaired_hash
    FROM documents
"""

# x_golden_conflicts: the same clustering + stacked-count CTEs as
# x_golden_mode, then the per-(cluster, attr) disagreement report —
# winner by (cnt DESC, val ASC), emitted only where n_values > 1.
ORACLES["x_ngram_novelty"] = f"""
    WITH {_SHINGLES_CTE},
    firsts AS (
        SELECT sh, MIN(doc_id) AS first_id FROM shingled GROUP BY 1),
    per AS (
        SELECT s.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_shingles,
               CAST(SUM(CASE WHEN f.first_id = s.doc_id
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
        FROM shingled s JOIN firsts f USING (sh)
        GROUP BY 1)
    SELECT d.doc_id,
           CAST(COALESCE(p.n_shingles, 0) AS BIGINT) AS n_shingles,
           CAST(COALESCE(p.n_novel, 0) AS BIGINT) AS n_novel,
           CASE WHEN p.n_shingles > 0
                THEN CAST(p.n_novel AS DOUBLE)
                     / CAST(p.n_shingles AS DOUBLE) END AS novelty
    FROM documents d LEFT JOIN per p USING (doc_id)
"""

ORACLES["x_golden_conflicts"] = """
    WITH RECURSIVE vals AS (
        SELECT p_name AS name, COUNT(*) AS n_rows FROM part GROUP BY 1),
    words AS (
        SELECT name, UNNEST(range(len(t))) AS pos, UNNEST(t) AS w
        FROM (SELECT name, string_split_regex(name, '\\s+') AS t FROM vals)),
    cand AS (
        SELECT DISTINCT a.name AS name_a, b.name AS name_b
        FROM words a JOIN words b
          ON a.pos = b.pos AND a.w = b.w AND a.name < b.name),
    scored AS (
        SELECT name_a, name_b FROM cand
        WHERE levenshtein(name_a, name_b) <= 2),
    ids AS (
        SELECT p_name AS name, MIN(p_partkey) AS nid FROM part GROUP BY 1),
    edges AS (
        SELECT ia.nid AS u, ib.nid AS v
        FROM scored s
        JOIN ids ia ON ia.name = s.name_a
        JOIN ids ib ON ib.name = s.name_b
        UNION ALL
        SELECT ib.nid, ia.nid
        FROM scored s
        JOIN ids ia ON ia.name = s.name_a
        JOIN ids ib ON ib.name = s.name_b),
    reach(node, label) AS (
        SELECT u, u FROM edges
        UNION
        SELECT e.u, r.label FROM edges e JOIN reach r ON r.node = e.v),
    cl AS (
        SELECT node AS nid, MIN(label) AS cl FROM reach GROUP BY node),
    cmap AS (
        SELECT i.name, COALESCE(c.cl, i.nid) AS cluster_id
        FROM ids i LEFT JOIN cl c ON c.nid = i.nid),
    j AS MATERIALIZED (
        SELECT m.cluster_id, p.p_name, p.p_brand, p.p_type
        FROM part p JOIN cmap m ON m.name = p.p_name),
    stacked AS (
        SELECT cluster_id, 'brand' AS attr, p_brand AS val FROM j
        UNION ALL
        SELECT cluster_id, 'type', p_type FROM j),
    cnt AS MATERIALIZED (
        SELECT cluster_id, attr, val, COUNT(*) AS cnt
        FROM stacked GROUP BY 1, 2, 3),
    agg AS (
        SELECT cluster_id, attr,
               CAST(COUNT(*) AS BIGINT) AS n_values,
               CAST(SUM(cnt) AS BIGINT) AS n_rows
        FROM cnt GROUP BY 1, 2),
    top AS (
        SELECT cluster_id, attr, val AS top_val,
               CAST(cnt AS BIGINT) AS top_cnt
        FROM cnt
        QUALIFY row_number() OVER (
            PARTITION BY cluster_id, attr
            ORDER BY cnt DESC, val ASC) = 1)
    SELECT a.cluster_id, a.attr, a.n_values, a.n_rows,
           t.top_val, t.top_cnt,
           CAST(t.top_cnt AS DOUBLE) / CAST(a.n_rows AS DOUBLE)
               AS consensus_frac
    FROM agg a JOIN top t USING (cluster_id, attr)
    WHERE a.n_values > 1
"""

ORACLES["x_golden_mode"] = """
    WITH RECURSIVE vals AS (
        SELECT p_name AS name, COUNT(*) AS n_rows FROM part GROUP BY 1),
    words AS (
        SELECT name, UNNEST(range(len(t))) AS pos, UNNEST(t) AS w
        FROM (SELECT name, string_split_regex(name, '\\s+') AS t FROM vals)),
    cand AS (
        SELECT DISTINCT a.name AS name_a, b.name AS name_b
        FROM words a JOIN words b
          ON a.pos = b.pos AND a.w = b.w AND a.name < b.name),
    scored AS (
        SELECT name_a, name_b FROM cand
        WHERE levenshtein(name_a, name_b) <= 2),
    ids AS (
        SELECT p_name AS name, MIN(p_partkey) AS nid FROM part GROUP BY 1),
    edges AS (
        SELECT ia.nid AS u, ib.nid AS v
        FROM scored s
        JOIN ids ia ON ia.name = s.name_a
        JOIN ids ib ON ib.name = s.name_b
        UNION ALL
        SELECT ib.nid, ia.nid
        FROM scored s
        JOIN ids ia ON ia.name = s.name_a
        JOIN ids ib ON ib.name = s.name_b),
    reach(node, label) AS (
        SELECT u, u FROM edges
        UNION
        SELECT e.u, r.label FROM edges e JOIN reach r ON r.node = e.v),
    cl AS (
        SELECT node AS nid, MIN(label) AS cl FROM reach GROUP BY node),
    cmap AS (
        SELECT i.name, COALESCE(c.cl, i.nid) AS cluster_id
        FROM ids i LEFT JOIN cl c ON c.nid = i.nid),
    j AS MATERIALIZED (
        SELECT m.cluster_id, p.p_name, p.p_brand, p.p_type
        FROM part p JOIN cmap m ON m.name = p.p_name),
    base AS (
        SELECT cluster_id,
               COUNT(DISTINCT p_name) AS n_names,
               COUNT(*) AS n_parts
        FROM j GROUP BY 1),
    stacked AS (
        SELECT cluster_id, 'brand' AS attr, p_brand AS val FROM j
        UNION ALL
        SELECT cluster_id, 'type', p_type FROM j),
    cnt AS (
        SELECT cluster_id, attr, val, COUNT(*) AS cnt
        FROM stacked GROUP BY 1, 2, 3),
    winners AS (
        SELECT cluster_id, attr, val FROM cnt
        QUALIFY row_number() OVER (
            PARTITION BY cluster_id, attr
            ORDER BY cnt DESC, val ASC) = 1)
    SELECT b.cluster_id, b.n_names, b.n_parts,
           MAX(CASE WHEN w.attr = 'brand' THEN w.val END) AS mode_brand,
           MAX(CASE WHEN w.attr = 'type' THEN w.val END)
               AS mode_type
    FROM base b JOIN winners w USING (cluster_id)
    GROUP BY 1, 2, 3
"""


# x_golden_priority: the same blocking/clustering CTEs + source-
# priority/recency survivorship — the winner row per cluster by
# (priority DESC, p_partkey DESC) via QUALIFY row_number; p_partkey is
# unique so the winner is deterministic with no value tie-break. The
# member table j is MATERIALIZED (feeds base stats + the winner pick).
ORACLES["x_golden_priority"] = """
    WITH RECURSIVE vals AS (
        SELECT p_name AS name, COUNT(*) AS n_rows FROM part GROUP BY 1),
    words AS (
        SELECT name, UNNEST(range(len(t))) AS pos, UNNEST(t) AS w
        FROM (SELECT name, string_split_regex(name, '\\s+') AS t FROM vals)),
    cand AS (
        SELECT DISTINCT a.name AS name_a, b.name AS name_b
        FROM words a JOIN words b
          ON a.pos = b.pos AND a.w = b.w AND a.name < b.name),
    scored AS (
        SELECT name_a, name_b FROM cand
        WHERE levenshtein(name_a, name_b) <= 2),
    ids AS (
        SELECT p_name AS name, MIN(p_partkey) AS nid FROM part GROUP BY 1),
    edges AS (
        SELECT ia.nid AS u, ib.nid AS v
        FROM scored s
        JOIN ids ia ON ia.name = s.name_a
        JOIN ids ib ON ib.name = s.name_b
        UNION ALL
        SELECT ib.nid, ia.nid
        FROM scored s
        JOIN ids ia ON ia.name = s.name_a
        JOIN ids ib ON ib.name = s.name_b),
    reach(node, label) AS (
        SELECT u, u FROM edges
        UNION
        SELECT e.u, r.label FROM edges e JOIN reach r ON r.node = e.v),
    cl AS (
        SELECT node AS nid, MIN(label) AS cl FROM reach GROUP BY node),
    cmap AS (
        SELECT i.name, COALESCE(c.cl, i.nid) AS cluster_id
        FROM ids i LEFT JOIN cl c ON c.nid = i.nid),
    j AS MATERIALIZED (
        SELECT m.cluster_id, p.p_name, p.p_partkey, p.p_brand, p.p_type,
               CASE WHEN p.p_brand = 'Brand#13' THEN 3
                    WHEN p.p_brand LIKE 'Brand#1%' THEN 2
                    ELSE 1 END AS prio
        FROM part p JOIN cmap m ON m.name = p.p_name),
    base AS (
        SELECT cluster_id,
               COUNT(DISTINCT p_name) AS n_names,
               COUNT(*) AS n_parts
        FROM j GROUP BY 1),
    winners AS (
        SELECT cluster_id, prio, p_partkey, p_brand, p_type FROM j
        QUALIFY row_number() OVER (
            PARTITION BY cluster_id
            ORDER BY prio DESC, p_partkey DESC) = 1)
    SELECT b.cluster_id, b.n_names, b.n_parts,
           w.prio AS win_priority,
           w.p_partkey AS win_partkey,
           w.p_brand AS golden_brand,
           w.p_type AS golden_type
    FROM base b JOIN winners w USING (cluster_id)
"""


def _kcore_oracle(k: int, rounds: int) -> str:
    """Unrolled replay of q_x_kcore's fixed peeling rounds. Every CTE
    MATERIALIZED — each round references the previous edge set three
    times (degree count + two semi-join legs), which inlining would
    re-expand exponentially (the x_power_iteration lesson)."""
    parts = ["""
        WITH mega AS MATERIALIZED (
            SELECT l_orderkey FROM lineitem
            GROUP BY 1 HAVING COUNT(*) > 1024),
        li AS MATERIALIZED (
            SELECT l_orderkey, l_partkey FROM lineitem
            WHERE l_orderkey NOT IN (SELECT l_orderkey FROM mega)),
        co AS MATERIALIZED (
            SELECT a.l_partkey AS pa, b.l_partkey AS pb
            FROM li a
            JOIN li b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2 HAVING COUNT(*) >= 2),
        e0 AS MATERIALIZED (SELECT pa AS a, pb AS b FROM co)"""]
    for i in range(1, rounds + 1):
        parts.append(f""",
        d{i} AS MATERIALIZED (
            SELECT n, COUNT(*) AS deg FROM (
                SELECT a AS n FROM e{i - 1}
                UNION ALL SELECT b FROM e{i - 1}) GROUP BY 1),
        k{i} AS MATERIALIZED (SELECT n FROM d{i} WHERE deg >= {k}),
        e{i} AS MATERIALIZED (
            SELECT e.a, e.b FROM e{i - 1} e
            JOIN k{i} ka ON e.a = ka.n
            JOIN k{i} kb ON e.b = kb.n)""")
    parts.append(f"""
        SELECT node, COUNT(*) AS deg FROM (
            SELECT a AS node FROM e{rounds}
            UNION ALL SELECT b FROM e{rounds}) GROUP BY 1
        HAVING COUNT(*) >= {k}
    """)
    return "".join(parts)


# x_bm25_drain: the incrementally built postings store must retrieve
# exactly what the one-shot index retrieves — same SQL, verbatim.
ORACLES["x_bm25_drain"] = ORACLES["x_bm25"]
# x_bm25_delete: a full-corpus store with doc_id % 7 == 0 tombstoned
# must score IDENTICALLY to a one-shot index over the reduced corpus —
# the oracle IS the x_bm25 SQL with the delete predicate folded into
# both of its corpus scans (tokenization AND bigram query derivation).
ORACLES["x_bm25_delete"] = ORACLES["x_bm25"].replace(
    "FROM documents", "FROM documents WHERE doc_id % 7 <> 0"
)

# x_mlt_drain: the store-built postings must rank identically to the
# one-shot x_mlt (disjoint-by-doc additive postings; store doc count ==
# corpus count under the tokenizer convention) — the oracle IS x_mlt's.
# Registered after ORACLES["x_mlt"] exists (it is defined below).

# x_hybrid_rrf: the x_mlt CTE chain at k=10 (sparse leg) + the
# x_ann_bruteforce chain at k=10 (dense leg), full-outer joined and
# reciprocal-rank fused — CAST(1 AS DOUBLE) for the reciprocal (a bare
# 1.0 literal is DECIMAL in DuckDB), rank by the 12-dp-rounded score.
ORACLES["x_hybrid_rrf"] = """
    WITH tok AS (
        SELECT doc_id, UNNEST(string_split(trim(text), ' ')) AS term
        FROM documents),
    tf AS MATERIALIZED (
        SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    dfreq AS (SELECT term, COUNT(*) AS doc_freq FROM tf GROUP BY 1),
    -- N counts text-bearing docs only (round-14 ADVICE parity
    -- fix): a NULL-text row owns no posting in either engine
    n AS (SELECT COUNT(*) AS n_docs FROM documents
          WHERE text IS NOT NULL),
    w AS MATERIALIZED (
        SELECT t.doc_id, t.term,
               CAST(t.tf AS DOUBLE)
               * ln(CAST(n.n_docs AS DOUBLE) / CAST(d.doc_freq AS DOUBLE))
                   AS w
        FROM tf t JOIN dfreq d USING (term) CROSS JOIN n
        WHERE CAST(d.doc_freq AS DOUBLE)
              <= 0.5 * CAST(n.n_docs AS DOUBLE)),
    norm2 AS MATERIALIZED (
        SELECT doc_id, SUM(CAST(ROUND(w * w, 12) AS DECIMAL(28,12))) AS n2
        FROM w GROUP BY 1),
    qw AS (SELECT doc_id AS query_id, term, w AS wq
           FROM w WHERE doc_id % 29 = 0),
    dots AS (
        SELECT q.query_id, w.doc_id,
               SUM(CAST(ROUND(q.wq * w.w, 12) AS DECIMAL(28,12))) AS dot
        FROM w JOIN qw q USING (term)
        WHERE w.doc_id <> q.query_id
        GROUP BY 1, 2),
    cosd AS (
        SELECT d.query_id, d.doc_id,
               CAST(d.dot AS DOUBLE)
               / sqrt(CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE)) AS cosine
        FROM dots d
        JOIN norm2 a ON a.doc_id = d.query_id
        JOIN norm2 b ON b.doc_id = d.doc_id),
    sparse AS (
        SELECT query_id, doc_id, rnk
        FROM (SELECT query_id, doc_id,
                     CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                         ORDER BY CAST(ROUND(cosine, 12)
                                       AS DECIMAL(28,12)) DESC,
                                  doc_id ASC) AS BIGINT) AS rnk
              FROM cosd)
        WHERE rnk <= 10),
    q AS (
        SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_emb
        FROM embeddings WHERE vec_id % 29 = 0),
    dscored AS (
        SELECT q.q_id, b.vec_id,
               ROUND(list_dot_product(q.q_emb, b.embedding::DOUBLE[])
                     / (sqrt(list_dot_product(q.q_emb, q.q_emb))
                        * sqrt(list_dot_product(b.embedding::DOUBLE[],
                                                b.embedding::DOUBLE[]))), 6)
                   AS sim
        FROM embeddings b CROSS JOIN q
        WHERE b.vec_id <> q.q_id),
    dense AS (
        SELECT q_id AS query_id, vec_id AS doc_id, rnk
        FROM (SELECT q_id, vec_id,
                     CAST(ROW_NUMBER() OVER (PARTITION BY q_id
                         ORDER BY sim DESC, vec_id ASC) AS BIGINT) AS rnk
              FROM dscored)
        WHERE rnk <= 10),
    fused AS (
        SELECT COALESCE(a.query_id, b.query_id) AS query_id,
               COALESCE(a.doc_id, b.doc_id) AS doc_id,
               a.rnk AS rank_a, b.rnk AS rank_b,
               COALESCE(CAST(1 AS DOUBLE)
                        / CAST(60 + a.rnk AS DOUBLE), 0.0)
               + COALESCE(CAST(1 AS DOUBLE)
                          / CAST(60 + b.rnk AS DOUBLE), 0.0) AS rrf_score
        FROM sparse a
        FULL OUTER JOIN dense b
            ON a.query_id = b.query_id AND a.doc_id = b.doc_id)
    SELECT query_id, rnk, doc_id, rrf_score, rank_a, rank_b
    FROM (SELECT query_id, doc_id, rrf_score, rank_a, rank_b,
                 CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY CAST(ROUND(rrf_score, 12)
                                   AS DECIMAL(28,12)) DESC,
                              doc_id ASC) AS BIGINT) AS rnk
          FROM fused)
    WHERE rnk <= 5
"""

# x_mlt: postings-join TF-IDF cosine, literal replay. tf and w are
# each multi-referenced — MATERIALIZED per the CTE-inlining lesson.
ORACLES["x_mlt"] = """
    WITH tok AS (
        SELECT doc_id, UNNEST(string_split(trim(text), ' ')) AS term
        FROM documents),
    tf AS MATERIALIZED (
        SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
    dfreq AS (SELECT term, COUNT(*) AS doc_freq FROM tf GROUP BY 1),
    -- N counts text-bearing docs only (round-14 ADVICE parity
    -- fix): a NULL-text row owns no posting in either engine
    n AS (SELECT COUNT(*) AS n_docs FROM documents
          WHERE text IS NOT NULL),
    w AS MATERIALIZED (
        SELECT t.doc_id, t.term,
               CAST(t.tf AS DOUBLE)
               * ln(CAST(n.n_docs AS DOUBLE) / CAST(d.doc_freq AS DOUBLE))
                   AS w
        FROM tf t JOIN dfreq d USING (term) CROSS JOIN n
        WHERE CAST(d.doc_freq AS DOUBLE)
              <= 0.5 * CAST(n.n_docs AS DOUBLE)),
    norm2 AS MATERIALIZED (
        SELECT doc_id, SUM(CAST(ROUND(w * w, 12) AS DECIMAL(28,12))) AS n2
        FROM w GROUP BY 1),
    qw AS (SELECT doc_id AS query_id, term, w AS wq
           FROM w WHERE doc_id % 29 = 0),
    dots AS (
        SELECT q.query_id, w.doc_id,
               SUM(CAST(ROUND(q.wq * w.w, 12) AS DECIMAL(28,12))) AS dot
        FROM w JOIN qw q USING (term)
        WHERE w.doc_id <> q.query_id
        GROUP BY 1, 2),
    cosd AS (
        SELECT d.query_id, d.doc_id,
               CAST(d.dot AS DOUBLE)
               / sqrt(CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE)) AS cosine
        FROM dots d
        JOIN norm2 a ON a.doc_id = d.query_id
        JOIN norm2 b ON b.doc_id = d.doc_id)
    SELECT query_id, rnk, doc_id, cosine
    FROM (SELECT query_id, doc_id, cosine,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY CAST(ROUND(cosine, 12) AS DECIMAL(28,12))
                         DESC, doc_id ASC) AS rnk
          FROM cosd)
    WHERE rnk <= 3
"""

ORACLES["x_mlt_drain"] = ORACLES["x_mlt"]

# x_ks_drain: constant-spine audit oracle (the x_tdigest_drain form) —
# exact batch/history counts from literal parity COUNTs; the
# approximation booleans are computed Spark-side and must all be true
# (batch 0's statistic undefined on the cold start).
ORACLES["x_ks_drain"] = """
    WITH c AS (
        SELECT CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_even,
               CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_odd
        FROM documents WHERE n_chars IS NOT NULL)
    SELECT CAST(0 AS BIGINT) AS batch, n_even AS n_batch,
           CAST(0 AS BIGINT) AS n_hist,
           false AS ks_defined, true AS ks_ok
    FROM c
    UNION ALL
    SELECT CAST(1 AS BIGINT), n_odd, n_even, true, true FROM c
"""

# x_w1_drain: same constant-spine audit form as x_ks_drain — exact
# parity counts pinned literally, the digest-approximation boolean
# (|w1_admit − exact w1_drift| ≤ 2% of the n_chars hull) computed
# Spark-side and required true; batch 0 undefined on the cold start.
ORACLES["x_w1_drain"] = """
    WITH c AS (
        SELECT CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_even,
               CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_odd
        FROM documents WHERE n_chars IS NOT NULL)
    SELECT CAST(0 AS BIGINT) AS batch, n_even AS n_batch,
           CAST(0 AS BIGINT) AS n_hist,
           false AS w1_defined, true AS w1_ok
    FROM c
    UNION ALL
    SELECT CAST(1 AS BIGINT), n_odd, n_even, true, true FROM c
"""

ORACLES["x_kcore"] = _kcore_oracle(2, 8)

# x_tdigest_quantiles tolerance audit: exact per-(type, q) row counts
# hash-checked; rank_ok asserts the digest's rank error stays ≤ 5%.
ORACLES["x_tdigest_quantiles"] = """
    SELECT event_type, q, COUNT(*) AS n_rows, TRUE AS rank_ok
    FROM events
    CROSS JOIN (SELECT UNNEST([0.5, 0.95, 0.99]::DOUBLE[]) AS q) qs
    GROUP BY 1, 2
"""

def _hilbert_oracle(bits: int) -> str:
    """Chained-CTE replay of q_x_hilbert_key: the same 4-state
    machine, one list-literal lookup per bit, MSB first."""
    from ..operators.layout import HILBERT_DIGIT, HILBERT_NEXT

    dig = "[" + ", ".join(str(v) for v in HILBERT_DIGIT) + "]"
    nxt = "[" + ", ".join(str(v) for v in HILBERT_NEXT) + "]"
    parts = ["""
        WITH scaled AS (
            SELECT event_id,
                   LEAST(GREATEST(CAST(FLOOR(
                       (CAST(user_id AS DOUBLE) - 0.0) / 1000.0 * 256.0
                   ) AS BIGINT), 0), 255) AS a,
                   LEAST(GREATEST(CAST(FLOOR(
                       (CAST(value AS DOUBLE) - 0.0) / 500.0 * 256.0
                   ) AS BIGINT), 0), 255) AS b
            FROM events),
        h0 AS (
            SELECT event_id, a, b, 0 AS st, CAST(0 AS BIGINT) AS d
            FROM scaled)"""]
    step = 0
    for k in range(bits - 1, -1, -1):
        step += 1
        parts.append(f""",
        h{step} AS (
            SELECT event_id, a, b,
                   {nxt}[sel + 1] AS st,
                   d * 4 + CAST({dig}[sel + 1] AS BIGINT) AS d
            FROM (SELECT event_id, a, b, st, d,
                         st * 4 + ((a >> {k}) & 1) * 2 + ((b >> {k}) & 1)
                             AS sel
                  FROM h{step - 1}))""")
    parts.append(f"""
        SELECT event_id, d AS hkey FROM h{step}
        ORDER BY event_id LIMIT 1000
    """)
    return "".join(parts)


ORACLES["x_hilbert_key"] = _hilbert_oracle(8)


def _power_iter_oracle(iters: int) -> str:
    """Unrolled-CTE replay of power_iteration_top (the x_bpe_train
    pattern): exact integer covariance numerator, then ``iters``
    chained matrix-vector/normalize rounds with the identical
    fixed-point arithmetic. DuckDB's SUM(BIGINT) yields HUGEINT, so
    every integer sum is cast back to BIGINT (TYPEHAZARD rule); the
    norm² runs in HUGEINT where Spark uses DECIMAL(38,0) — both exact
    integers, both cast to DOUBLE the same correctly-rounded way."""
    head = """
        WITH q AS MATERIALIZED (
            SELECT e.vec_id, p.i,
                   CAST(ROUND(CAST(e.embedding[p.i + 1] AS DOUBLE) * 1000.0)
                        AS BIGINT) AS eq
            FROM embeddings e
            CROSS JOIN (SELECT UNNEST(range(64)) AS i) p),
        s AS MATERIALIZED (
            SELECT i, CAST(SUM(eq) AS BIGINT) AS si, COUNT(*) AS n
            FROM q GROUP BY i),
        mm AS MATERIALIZED (
            SELECT a.i AS mi, b.i AS mj,
                   CAST(SUM(a.eq * b.eq) AS BIGINT) AS sij
            FROM q a JOIN q b USING (vec_id) GROUP BY 1, 2),
        m AS MATERIALIZED (
            SELECT mi, mj, sa.n * sij - sa.si * sb.si AS mval
            FROM mm JOIN s sa ON mi = sa.i JOIN s sb ON mj = sb.i),
        mx AS MATERIALIZED (SELECT MAX(ABS(mval)) AS mx FROM m),
        mq AS MATERIALIZED (
            SELECT mi, mj,
                   CAST(ROUND(CAST(mval AS DOUBLE) / CAST(mx AS DOUBLE)
                              * 1000000.0) AS BIGINT) AS mq
            FROM m, mx),
        it0 AS MATERIALIZED (
            SELECT UNNEST(range(64)) AS i,
                   CAST(125000000 AS BIGINT) AS vq)"""
    rounds = []
    for k in range(1, iters + 1):
        rounds.append(f""",
        it{k}w AS MATERIALIZED (
            SELECT m.mi AS i, CAST(SUM(m.mq * v.vq) AS BIGINT) AS wq
            FROM mq m JOIN it{k - 1} v ON m.mj = v.i GROUP BY 1),
        it{k}n AS MATERIALIZED (
            SELECT SQRT(CAST(SUM(CAST(wq AS HUGEINT) * wq) AS DOUBLE)) AS nr
            FROM it{k}w),
        it{k} AS MATERIALIZED (
            SELECT i, CAST(ROUND(CAST(wq AS DOUBLE) / nr * 1000000000.0)
                           AS BIGINT) AS vq
            FROM it{k}w, it{k}n)""")
    tail = f"""
        SELECT CAST(i AS BIGINT) AS dim,
               CAST(vq AS DOUBLE) / 1000000000.0 AS loading
        FROM it{iters}
    """
    return head + "".join(rounds) + tail


ORACLES["x_power_iteration"] = _power_iter_oracle(8)

# x_kmv_drain: the streaming KMV state op's drained final rows — the
# x_kmv_distinct md5 replay plus the per-key row count the stream
# accumulates as n_seen.
ORACLES["x_kmv_drain"] = """
    WITH hashed AS (
        SELECT DISTINCT event_type,
               CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                    AS BIGINT) / 4294967296.0 AS u
        FROM events),
    kept AS (
        SELECT event_type, u FROM (
            SELECT event_type, u,
                   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY u) AS rn
            FROM hashed)
        WHERE rn <= 128),
    counts AS (
        -- COUNT(user_id): the op drops NULL values (COUNT DISTINCT
        -- semantics), so n_seen counts non-null rows
        SELECT event_type, COUNT(user_id) AS n_seen FROM events GROUP BY 1)
    SELECT k.event_type,
           c.n_seen,
           COUNT(*) AS n_kept,
           MAX(u) AS theta,
           CASE WHEN COUNT(*) < 128 THEN CAST(COUNT(*) AS DOUBLE)
                ELSE 127.0 / MAX(u) END AS estimate
    FROM kept k JOIN counts c USING (event_type)
    GROUP BY 1, 2
"""

# x_tdigest_drain: tolerance-audit form (the x_tdigest_quantiles
# pattern) — exact n_seen hash-checked, booleans assert bounded state
# and ≤ max(5%, 1/n) rank error of the streaming math's digest.
ORACLES["x_tdigest_drain"] = """
    SELECT event_type, q, COUNT(*) AS n_seen,
           TRUE AS centroids_ok, TRUE AS rank_ok
    FROM events
    CROSS JOIN (SELECT UNNEST([0.5, 0.95, 0.99]::DOUBLE[]) AS q) qs
    GROUP BY 1, 2
"""

# x_spacesaving_drain: the SpaceSaving theorems audited against exact
# counts; n_seen and the counter count are exact hashed values.
ORACLES["x_spacesaving_drain"] = """
    SELECT event_type,
           COUNT(user_id) AS n_seen,
           LEAST(64, COUNT(DISTINCT user_id)) AS n_counters,
           TRUE AS contains_all_hh,
           TRUE AS bounds_ok
    FROM events GROUP BY 1
"""

# x_tdigest_rollup: the daily→type merged digest audited in the same
# tolerance form as the direct build.
ORACLES["x_tdigest_rollup"] = """
    SELECT event_type, q, COUNT(*) AS n_rows, TRUE AS rank_ok
    FROM events
    CROSS JOIN (SELECT UNNEST([0.5, 0.95, 0.99]::DOUBLE[]) AS q) qs
    GROUP BY 1, 2
"""

# x_bpe_train: all 10 training rounds unrolled as chained CTEs (see
# q_x_bpe_train docstring for the three equivalences this rests on).
ORACLES["x_bpe_train"] = _bpe_train_oracle(10)

# x_nb_confusion: x_nb_lang's full replay with a (true, pred) rollup
# tail instead of the accuracy diagonal — derived from the same SQL so
# the scoring pipeline can never drift between the two oracles.
ORACLES["x_nb_confusion"] = ORACLES["x_nb_lang"].rsplit(
    "SELECT d.lang", 1
)[0] + """SELECT d.lang AS true_lang, p.pred_cls,
               COUNT(*) AS n_docs
        FROM pred p JOIN documents d USING (doc_id)
        GROUP BY 1, 2
    """

# x_calibration: the logreg training replay (shared _logreg_step CTEs)
# plus scoring and a 9-dp-rounded decile bucketing tail.
ORACLES["x_calibration"] = (
    """
        WITH feats AS (
            SELECT doc_id,
                   CASE WHEN lang = 'en' THEN CAST(1.0 AS DOUBLE)
                        ELSE CAST(0.0 AS DOUBLE) END AS y,
                   CAST(n_chars AS DOUBLE) / 1000.0 AS x1,
                   CAST(len(string_split(trim(text), ' ')) AS DOUBLE) / 100.0
                       AS x2
            FROM documents),
        nn AS (SELECT COUNT(*) AS n FROM feats),
        w0 AS (SELECT CAST(0.0 AS DOUBLE) AS w0, CAST(0.0 AS DOUBLE) AS wx1,
                      CAST(0.0 AS DOUBLE) AS wx2)"""
    + "".join(_logreg_step(i) for i in (1, 2, 3))
    + """,
        scoredp AS (
            SELECT f.doc_id, f.y,
                   1.0 / (1.0 + exp(-(w3.w0 + w3.wx1 * f.x1
                                      + w3.wx2 * f.x2))) AS p
            FROM feats f CROSS JOIN w3),
        dec AS (
            SELECT doc_id, y, p,
                   CAST(NTILE(10) OVER (ORDER BY ROUND(p, 9), doc_id)
                        AS INTEGER) AS decile
            FROM scoredp)
        SELECT decile, COUNT(*) AS n_docs,
               CAST(SUM(CAST(ROUND(p, 9) AS DECIMAL(38,9))) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS mean_p,
               CAST(SUM(CAST(y AS INTEGER)) AS BIGINT) AS n_pos,
               CAST(SUM(CAST(y AS INTEGER)) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS pos_rate
        FROM dec GROUP BY 1
    """
)

# x_mmr_rerank: the k=5 greedy trajectory unrolled (see q_x_mmr_rerank
# docstring; 6-dp-rounded cosines make the argmaxes engine-exact).
ORACLES["x_mmr_rerank"] = _mmr_oracle(5)

# x_hll_rollup tolerance shadow: exact distinct is hash-checked across
# engines; within_tol asserts the HLL estimate sits within 5% of it.
ORACLES["x_hll_rollup"] = """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_distinct,
           TRUE AS within_tol
    FROM events GROUP BY 1
"""

# x_ann_ivf_trained recall shadow: exact brute-force truth replayed in
# SQL (the x_ann_recall pattern); recall_ok asserts the trained index
# clears the 0.4 floor (observed 0.6-1.0 on the fixtures).
# x_ann_hnsw: same recall-shadow form — exact brute-force truth in SQL,
# recall_ok asserts the graph search clears the 0.4 floor (observed
# 0.8-1.0 per query at the tuned defaults on both fixtures).
ORACLES["x_ann_hnsw"] = """
    WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    tq AS (SELECT vec_id AS q_id, emb AS q_emb FROM base WHERE vec_id < 5),
    tscored AS (
        SELECT tq.q_id, b.vec_id,
               ROUND(list_dot_product(tq.q_emb, b.emb)
                     / (sqrt(list_dot_product(tq.q_emb, tq.q_emb))
                        * sqrt(list_dot_product(b.emb, b.emb))), 6) AS sim
        FROM base b CROSS JOIN tq WHERE b.vec_id <> tq.q_id),
    truth AS (
        SELECT q_id, vec_id FROM (
            SELECT q_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                                      ORDER BY sim DESC, vec_id ASC) AS rnk
            FROM tscored)
        WHERE rnk <= 5)
    SELECT q_id, COUNT(*) AS n_truth, TRUE AS recall_ok
    FROM truth GROUP BY 1
"""

# x_ann_hnsw_store: the store-backed query path must clear the same
# brute-force recall shadow as the one-shot x_ann_hnsw — the oracle is
# literally its SQL (exact truth + TRUE recall_ok).
ORACLES["x_ann_hnsw_store"] = ORACLES["x_ann_hnsw"]
# x_ann_nsw_delete: the tombstoned store's results must clear the
# brute-force recall shadow over the SURVIVING base (deleted ids out
# of both truth and results) and contain zero deleted ids (clean).
ORACLES["x_ann_nsw_delete"] = ORACLES["x_ann_hnsw"].replace(
    "FROM embeddings", "FROM embeddings WHERE vec_id % 10 <> 7"
).replace("TRUE AS recall_ok", "TRUE AS recall_ok, TRUE AS clean")

# x_paragraph_dedup_drain: the two-batch store-backed replay (ordered
# split) must land exactly where the one-shot pass does — the oracle
# is x_paragraph_dedup's SQL verbatim.
ORACLES["x_paragraph_dedup_drain"] = ORACLES["x_paragraph_dedup"]
# x_paragraph_dedup_agg: the hot-key-escape plan (groupBy-min + join)
# must be row-identical to the window form — same oracle.
ORACLES["x_paragraph_dedup_agg"] = ORACLES["x_paragraph_dedup"]

ORACLES["x_ann_ivf_trained"] = """
    WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    tq AS (SELECT vec_id AS q_id, emb AS q_emb FROM base WHERE vec_id < 5),
    tscored AS (
        SELECT tq.q_id, b.vec_id,
               ROUND(list_dot_product(tq.q_emb, b.emb)
                     / (sqrt(list_dot_product(tq.q_emb, tq.q_emb))
                        * sqrt(list_dot_product(b.emb, b.emb))), 6) AS sim
        FROM base b CROSS JOIN tq WHERE b.vec_id <> tq.q_id),
    truth AS (
        SELECT q_id, vec_id FROM (
            SELECT q_id, vec_id,
                   ROW_NUMBER() OVER (PARTITION BY q_id
                                      ORDER BY sim DESC, vec_id ASC) AS rnk
            FROM tscored)
        WHERE rnk <= 5)
    SELECT q_id, COUNT(*) AS n_truth, TRUE AS recall_ok
    FROM truth GROUP BY 1
"""


def q_x_global_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus-wide total-order ranking WITHOUT a single-task
    window (operators/ranking.py:global_row_number — approx cut-point
    routing, per-bucket windows, broadcast offsets): every order
    ranked by (o_totalprice, o_orderkey). The oracle is the
    single-task definition, so the parallel decomposition is
    hash-proven bit-equal over the full table — unlike the bucketing
    mode= forms, which are approximate by design, this one has no
    tolerance to hide behind."""
    from ..operators.ranking import global_row_number

    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    return global_row_number(
        o, "o_totalprice", tiebreaks=["o_orderkey"], rank_col="rn"
    ).select("o_orderkey", "rn")


ORACLES["x_global_rank"] = """
    SELECT o_orderkey,
           CAST(row_number() OVER (ORDER BY o_totalprice, o_orderkey)
                AS BIGINT) AS rn
    FROM orders
"""


def q_x_suffix_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed suffix array by prefix doubling
    (operators/suffixes.py — Manber–Myers via the Flick & Aluru
    dataflow; ranking with bucket-routed global_row_number, no
    single-task sort). Gate form runs the bounded audit slice
    (10 docs × 200 chars); the oracle is the DEFINITION — row_number
    over suffix strings — so the O(log n) construction is
    differential-tested against a direct sort."""
    from ..operators.suffixes import suffix_array

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 10)
    return suffix_array(d, max_chars=200)


def q_x_suffix_lcp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr's exact character-level duplicate signal: LCP of
    each suffix with its suffix-array predecessor, kept where ≥ 15 —
    every emitted (doc, pos, lcp) marks lcp characters that occur
    verbatim elsewhere in the slice (Lee et al. 2107.06499 §4.1, the
    exact complement of x_substring_spans's token windows)."""
    from ..operators.suffixes import duplicated_suffix_lcp

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 10)
    return duplicated_suffix_lcp(d, min_len=15, max_chars=200)


_SUFFIX_BASE_SQL = """
    WITH sl AS (
        SELECT doc_id, substr(text, 1, 200) AS t
        FROM documents WHERE doc_id < 10),
    p AS (
        SELECT doc_id, CAST(u.i AS BIGINT) AS pos,
               substr(t, CAST(u.i AS INT) + 1) AS suf
        FROM sl, UNNEST(range(length(t))) AS u(i))
"""

ORACLES["x_suffix_array"] = _SUFFIX_BASE_SQL + """
    SELECT doc_id, pos,
           CAST(row_number() OVER (ORDER BY suf, doc_id, pos) AS BIGINT)
               AS sa_rank
    FROM p
"""

def q_x_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap (operators/quality.py:domain_cap —
    the C4/RefinedWeb curation step): at most 10 documents per
    source, longest-first with doc_id tie-break; WindowGroupLimit
    prunes map-side so the shuffle carries caps, not the corpus."""
    from ..operators.quality import domain_cap

    d = t(spark, sf_dir, "documents")
    return domain_cap(d, 10).select("doc_id", "source", "rk")


ORACLES["x_domain_cap"] = """
    SELECT doc_id, source, rk FROM (
        SELECT doc_id, source,
               CAST(row_number() OVER (
                   PARTITION BY source
                   ORDER BY n_chars DESC, doc_id ASC) AS BIGINT) AS rk
        FROM documents)
    WHERE rk <= 10
"""


def q_x_suffix_lcp_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME duplicated-substring signal computed through the
    100 TB rank-array path (duplicated_suffix_lcp mode='ranks' —
    greedy descent over the doubling history, no suffix string
    materialized) against the SAME definitional oracle as
    x_suffix_lcp: the driver gate hash-proves the scale form, not
    just the audit form."""
    from ..operators.suffixes import duplicated_suffix_lcp

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 10)
    return duplicated_suffix_lcp(d, min_len=15, max_chars=200, mode="ranks")


def q_x_suffix_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-exact ExactSubstr removal over the audit slice
    (operators/suffixes.py:suffix_removal — LCP spans → per-doc
    interval union → map-side char-array rebuild; the SA-first copy
    of every duplicated block survives). One row per slice document
    with the rebuilt text and removal counts; the oracle replays
    spans, gaps-and-islands union, and the rebuild in SQL."""
    from ..operators.suffixes import suffix_removal

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 10)
    return suffix_removal(d, min_len=15, max_chars=200)


ORACLES["x_suffix_removal"] = _SUFFIX_BASE_SQL + """,
    sa AS (
        SELECT doc_id, pos, suf,
               row_number() OVER (ORDER BY suf, doc_id, pos) AS rnk
        FROM p),
    adj AS (
        SELECT doc_id, pos, suf, lag(suf) OVER (ORDER BY rnk) AS prev
        FROM sa),
    l AS (
        SELECT doc_id, pos,
               CASE WHEN prev IS NULL
                         OR least(length(suf), length(prev)) = 0 THEN 0
                    ELSE COALESCE(
                        list_min(list_filter(
                            range(1, least(length(suf), length(prev)) + 1),
                            i -> suf[CAST(i AS INT)] <> prev[CAST(i AS INT)]))
                            - 1,
                        least(length(suf), length(prev)))
               END AS lcp
        FROM adj),
    spans AS (
        SELECT doc_id, pos AS s, pos + lcp AS e FROM l WHERE lcp >= 15),
    brk AS (
        SELECT doc_id, s, e,
               CASE WHEN s > max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    THEN 1 ELSE 0 END AS b
        FROM spans),
    grp AS (
        SELECT doc_id, s, e,
               SUM(b) OVER (PARTITION BY doc_id ORDER BY s, e) AS g
        FROM brk),
    mrg AS (
        SELECT doc_id, g, min(s) AS s, max(e) AS e
        FROM grp GROUP BY doc_id, g),
    pchars AS (
        SELECT doc_id, CAST(u.i AS BIGINT) AS pch,
               t[CAST(u.i AS INT) + 1] AS ch
        FROM sl, UNNEST(range(length(t))) AS u(i)),
    kept AS (
        SELECT pc.doc_id, pc.pch, pc.ch
        FROM pchars pc
        WHERE NOT EXISTS (
            SELECT 1 FROM mrg m
            WHERE m.doc_id = pc.doc_id AND pc.pch >= m.s AND pc.pch < m.e)),
    agg AS (
        SELECT doc_id, string_agg(ch, '' ORDER BY pch) AS clean_text,
               count(*) AS n_kept
        FROM kept GROUP BY doc_id),
    nsp AS (SELECT doc_id, count(*) AS n_spans FROM mrg GROUP BY doc_id)
    SELECT sl.doc_id,
           COALESCE(a.clean_text, '') AS clean_text,
           CAST(length(sl.t) AS BIGINT) AS n_chars,
           CAST(length(sl.t) - COALESCE(a.n_kept, 0) AS BIGINT)
               AS n_chars_removed,
           CAST(COALESCE(nsp.n_spans, 0) AS BIGINT) AS n_spans
    FROM sl LEFT JOIN agg a USING (doc_id) LEFT JOIN nsp USING (doc_id)
"""


ORACLES["x_suffix_lcp"] = _SUFFIX_BASE_SQL + """,
    sa AS (
        SELECT doc_id, pos, suf,
               row_number() OVER (ORDER BY suf, doc_id, pos) AS rnk
        FROM p),
    adj AS (
        SELECT doc_id, pos, suf, lag(suf) OVER (ORDER BY rnk) AS prev
        FROM sa),
    l AS (
        SELECT doc_id, pos,
               CASE WHEN prev IS NULL
                         OR least(length(suf), length(prev)) = 0 THEN 0
                    ELSE COALESCE(
                        list_min(list_filter(
                            range(1, least(length(suf), length(prev)) + 1),
                            i -> suf[CAST(i AS INT)] <> prev[CAST(i AS INT)]))
                            - 1,
                        least(length(suf), length(prev)))
               END AS lcp
        FROM adj)
    SELECT doc_id, pos, CAST(lcp AS BIGINT) AS lcp
    FROM l WHERE lcp >= 15
"""


ORACLES["x_suffix_lcp_ranks"] = ORACLES["x_suffix_lcp"]


def q_x_suffix_removal_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x_suffix_removal recomputed END-TO-END through the 100 TB LCP
    path (``lcp_mode="ranks"`` — greedy descent over the doubling
    history, no suffix string ever materialized) against the SAME
    full-replay oracle: the driver gate hash-proves the whole removal
    pipeline in its scale form, not just the LCP leg
    (x_suffix_lcp_ranks)."""
    from ..operators.suffixes import suffix_removal

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 10)
    return suffix_removal(d, min_len=15, max_chars=200, lcp_mode="ranks")


ORACLES["x_suffix_removal_ranks"] = ORACLES["x_suffix_removal"]


def q_x_calibration_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gate row for x_calibration's 100 TB form: the same
    trained scores decile-routed through approx_bucket (no global
    sort), then tie-robust rank-audited per decile
    (operators/bucketing.bucket_rank_audit) — exact document count
    hash-checked, rank_ok only fails on a real sketch regression.
    Identical-feature documents produce tied 9-dp scores, which the
    audit's one-sided bounds absorb by construction."""
    from ..operators.bucketing import approx_bucket, bucket_rank_audit
    from ..operators.ml import logreg_score, logreg_train

    d = t(spark, sf_dir, "documents")
    feats = d.select(
        "doc_id",
        (F.col("lang") == "en").cast("double").alias("y"),
        (F.col("n_chars").cast("double") / F.lit(1000.0)).alias("x1"),
        (T.token_count("text").cast("double") / F.lit(100.0)).alias("x2"),
    )
    w = logreg_train(feats, ["x1", "x2"], "y", iterations=3, lr=1.0)
    scored = logreg_score(feats, w, ["x1", "x2"])
    # pinned: the audit references dec several times; unmaterialized,
    # each reference re-expands the train+score+bucket chain
    dec = approx_bucket(
        scored.select("doc_id", F.round("p", 9).alias("p")),
        "p",
        10,
        bucket_col="decile",
    ).localCheckpoint(eager=True)
    return bucket_rank_audit(dec, "p", 10, bucket_col="decile")


ORACLES["x_calibration_approx"] = """
    SELECT CAST(u.i + 1 AS INT) AS decile,
           (SELECT COUNT(*) FROM documents) AS n_total,
           TRUE AS rank_ok
    FROM UNNEST(range(10)) AS u(i)
"""


QUERIES = {
    "x_suffix_array": q_x_suffix_array,
    "x_suffix_lcp": q_x_suffix_lcp,
    "x_global_rank": q_x_global_rank,
    "x_suffix_removal": q_x_suffix_removal,
    "x_suffix_lcp_ranks": q_x_suffix_lcp_ranks,
    "x_suffix_removal_ranks": q_x_suffix_removal_ranks,
    "x_calibration_approx": q_x_calibration_approx,
    "x_domain_cap": q_x_domain_cap,
    "x_dedup_exact": q_x_dedup_exact,
    "x_dedup_minhash_lsh": q_x_dedup_minhash_lsh,
    "x_lsh_precision": q_x_lsh_precision,
    "x_lsh_recall": q_x_lsh_recall,
    "x_dedup_minhash_est": q_x_dedup_minhash_est,
    "x_dedup_clusters": q_x_dedup_clusters,
    "x_dedup_clusters_minlabel": q_x_dedup_clusters_minlabel,
    "x_dedup_simhash": q_x_dedup_simhash,
    "x_ngram_jaccard": q_x_ngram_jaccard,
    "x_winnow_pairs": q_x_winnow_pairs,
    "x_text_stats": q_x_text_stats,
    "x_token_counts": q_x_token_counts,
    "x_tfidf": q_x_tfidf,
    "x_bm25": q_x_bm25,
    "x_bm25_drain": q_x_bm25_drain,
    "x_bm25_delete": q_x_bm25_delete,
    "x_ann_nsw_delete": q_x_ann_nsw_delete,
    "x_ks_drain": q_x_ks_drain,
    "x_w1_drain": q_x_w1_drain,
    "x_mlt": q_x_mlt,
    "x_mlt_drain": q_x_mlt_drain,
    "x_hybrid_rrf": q_x_hybrid_rrf,
    "x_ks_drift": q_x_ks_drift,
    "x_w1_drift": q_x_w1_drift,
    "x_chi2_drift": q_x_chi2_drift,
    "x_psi_drift": q_x_psi_drift,
    "x_psi_drain": q_x_psi_drain,
    "x_chi2_drain": q_x_chi2_drain,
    "x_readability": q_x_readability,
    "x_keyphrases": q_x_keyphrases,
    "x_js_divergence": q_x_js_divergence,
    "x_pack_sequences": q_x_pack_sequences,
    "x_length_clip": q_x_length_clip,
    "x_chunk_documents": q_x_chunk_documents,
    "x_chunk_sentences": q_x_chunk_sentences,
    "x_source_overlap": q_x_source_overlap,
    "x_source_mixture": q_x_source_mixture,
    "x_train_split": q_x_train_split,
    "x_cluster_split": q_x_cluster_split,
    "x_softdedup_weights": q_x_softdedup_weights,
    "x_stratified_sample": q_x_stratified_sample,
    "x_lang_id": q_x_lang_id,
    "x_fingerprint": q_x_fingerprint,
    "x_pii_redact": q_x_pii_redact,
    "x_card_redact": q_x_card_redact,
    "x_mojibake": q_x_mojibake,
    "x_mojibake_full": q_x_mojibake_full,
    "x_url_canon": q_x_url_canon,
    "x_repetition": q_x_repetition,
    "x_decontaminate": q_x_decontaminate,
    "x_bloom_decontaminate": q_x_bloom_decontaminate,
    "x_ann_bruteforce": q_x_ann_bruteforce,
    "x_hard_negatives": q_x_hard_negatives,
    "x_zorder_key": q_x_zorder_key,
    "x_pagerank": q_x_pagerank,
    "x_logreg_quality": q_x_logreg_quality,
    "x_knn_classify": q_x_knn_classify,
    "x_nb_lang": q_x_nb_lang,
    "x_ann_recall": q_x_ann_recall,
    "x_dataset_card": q_x_dataset_card,
    "x_profile_table": q_x_profile_table,
    "x_ann_bucketed": q_x_ann_bucketed,
    "x_ann_rptree": q_x_ann_rptree,
    "x_ann_ivf": q_x_ann_ivf,
    "x_ann_ivf_trained": q_x_ann_ivf_trained,
    "x_ann_hnsw": q_x_ann_hnsw,
    "x_ann_hnsw_store": q_x_ann_hnsw_store,
    "x_ann_pq": q_x_ann_pq,
    "x_ann_ivf_pq": q_x_ann_ivf_pq,
    "x_ann_refine": q_x_ann_refine,
    "x_embed_near_dup": q_x_embed_near_dup,
    "x_multimodal_meta": q_x_multimodal_meta,
    "x_video_meta": q_x_video_meta,
    "x_paragraph_dedup": q_x_paragraph_dedup,
    "x_paragraph_dedup_agg": q_x_paragraph_dedup_agg,
    "x_paragraph_dedup_drain": q_x_paragraph_dedup_drain,
    "x_span_dedup": q_x_span_dedup,
    "x_token_spectrum": q_x_token_spectrum,
    "x_doc_entropy": q_x_doc_entropy,
    "x_unigram_nll": q_x_unigram_nll,
    "x_mixture_sample": q_x_mixture_sample,
    "x_semdedup": q_x_semdedup,
    "x_hll_rollup": q_x_hll_rollup,
    "x_backoff_nll": q_x_backoff_nll,
    "x_mmr_rerank": q_x_mmr_rerank,
    "x_collocations": q_x_collocations,
    "x_bpe_train": q_x_bpe_train,
    "x_bpe_encode": q_x_bpe_encode,
    "x_sliding_span_dedup": q_x_sliding_span_dedup,
    "x_substring_spans": q_x_substring_spans,
    "x_substring_removal": q_x_substring_removal,
    "x_ngram_containment": q_x_ngram_containment,
    "x_bigram_nll": q_x_bigram_nll,
    "x_trigram_nll": q_x_trigram_nll,
    "x_kmv_distinct": q_x_kmv_distinct,
    "x_kmv_drain": q_x_kmv_drain,
    "x_power_iteration": q_x_power_iteration,
    "x_hilbert_key": q_x_hilbert_key,
    "x_incremental_neardup": q_x_incremental_neardup,
    "x_softdedup_drain": q_x_softdedup_drain,
    "x_tdigest_rollup": q_x_tdigest_rollup,
    "x_spacesaving_drain": q_x_spacesaving_drain,
    "x_kcore": q_x_kcore,
    "x_golden_records": q_x_golden_records,
    "x_golden_mode": q_x_golden_mode,
    "x_golden_conflicts": q_x_golden_conflicts,
    "x_ngram_novelty": q_x_ngram_novelty,
    "x_golden_priority": q_x_golden_priority,
    "x_tdigest_drain": q_x_tdigest_drain,
    "x_kmv_setops": q_x_kmv_setops,
    "x_priority_sample": q_x_priority_sample,
    "x_editdist_pairs": q_x_editdist_pairs,
    "x_sorted_neighborhood": q_x_sorted_neighborhood,
    "x_cms_heavy_hitters": q_x_cms_heavy_hitters,
    "x_zipf_fit": q_x_zipf_fit,
    "x_embed_stats": q_x_embed_stats,
    "x_pca_project": q_x_pca_project,
    "x_pca_invariants": q_x_pca_invariants,
    "x_mmr_first": q_x_mmr_first,
    "x_label_prop": q_x_label_prop,
    "x_dsir_weights": q_x_dsir_weights,
    "x_linkage_score": q_x_linkage_score,
    "x_dd_quantiles": q_x_dd_quantiles,
    "x_tdigest_quantiles": q_x_tdigest_quantiles,
    "x_triangles": q_x_triangles,
    "l28_copurchase_lift": q_l28_copurchase_lift,
    "x_prefix_join": q_x_prefix_join,
    "x_calibration": q_x_calibration,
    "x_nb_confusion": q_x_nb_confusion,
    "x_normalized_dedup": q_x_normalized_dedup,
}
