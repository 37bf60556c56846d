"""Declarative data-quality expectations — the analytic analog of the
reference's runtime guards (HTTP status checks, whitelist, idempotent
inserts; SURVEY.md §5 "runtime guards").

Each expectation is a (name, predicate) pair; ``check`` evaluates ALL
of them in ONE aggregation pass over the data (conditional counts —
no per-rule scans) and returns a tidy violations report.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from . import stores
from .cacheutil import Frames


def not_null(col: str) -> tuple[str, Column]:
    return (f"not_null_{col}", F.col(col).isNotNull())


def unique_key(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Key-uniqueness report: keys with duplicate rows and their counts
    (one hash-agg shuffle)."""
    return (
        df.groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .filter(F.col("n_rows") > 1)
    )


def in_set(col: str, allowed: Sequence[str]) -> tuple[str, Column]:
    return (f"in_set_{col}", F.col(col).isin(*allowed) | F.col(col).isNull())


def in_range(col: str, lo, hi) -> tuple[str, Column]:
    return (
        f"in_range_{col}",
        (F.col(col) >= lo) & (F.col(col) <= hi) | F.col(col).isNull(),
    )


def references(df: DataFrame, col: str, dim: DataFrame, dim_col: str) -> DataFrame:
    """Referential-integrity report: orphan foreign-key values.
    Broadcast the dimension keys; anti-join finds violations."""
    keys = dim.select(F.col(dim_col).alias(col)).distinct()
    return (
        df.select(col)
        .filter(F.col(col).isNotNull())
        .join(F.broadcast(keys), col, "left_anti")
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


def check(df: DataFrame, expectations: Sequence[tuple[str, Column]]) -> DataFrame:
    """Evaluate every expectation in one pass; returns
    (expectation, n_violations, n_rows)."""
    aggs = [
        F.count(F.when(~pred, 1)).alias(name) for name, pred in expectations
    ]
    aggs.append(F.count(F.lit(1)).alias("__total"))
    row = df.agg(*aggs).collect()[0]
    spark = df.sparkSession
    data = [(name, int(row[name]), int(row["__total"])) for name, _ in expectations]
    return spark.createDataFrame(
        data, "expectation string, n_violations bigint, n_rows bigint"
    )


def stratified_sample(
    df: DataFrame,
    class_col: str,
    rates: dict[str, int],
    content_col: str = "text",
    default_rate: int = 100,
) -> DataFrame:
    """Deterministic stratified sampling for dataset curation: keep
    ``rates[class]`` percent of each class (e.g. downsample an
    over-represented language), selected by a *content-hash* bucket —
    ``md5(content) mod 100`` — so membership is stable across runs,
    machines, and partitionings (no RNG seeds to ship), and re-running
    on grown data keeps previously selected rows selected. The rate
    map travels as a broadcast join, the bucket is one JVM-side md5 —
    no shuffle at all: at 100 TB this is a pure map-side filter.
    """
    spark = df.sparkSession
    rate_df = spark.createDataFrame(
        list(rates.items()), f"{class_col} string, __rate int"
    )
    bucket = F.pmod(
        F.conv(F.substring(F.md5(F.col(content_col)), 1, 8), 16, 10).cast("bigint"),
        F.lit(100),
    )
    return (
        df.join(F.broadcast(rate_df), class_col, "left")
        .filter(bucket < F.coalesce(F.col("__rate"), F.lit(default_rate)))
        .drop("__rate")
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    strata_col: str | None = None,
    content_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement, top-k per
    stratum — Efraimidis & Spirakis (IPL 2006) A-Res: each row draws a
    priority key u^(1/w) from a uniform u and its weight w, and the k
    largest keys form an exact weighted sample. The classic use is
    quality-weighted corpus subsetting (sample documents proportional
    to a quality score or token count) where a Bernoulli rate can't
    hit an exact budget.

    The uniform comes from the content hash (same RNG-free membership
    contract as ``stratified_sample``), so the sample is stable across
    runs and partitionings. The key is rounded to 9 dp BEFORE ranking
    (with the id as tie-break) so the ordering is engine-portable; the
    per-stratum top-k is a rank-filtered window, which Spark executes
    as a map-side WindowGroupLimit — each task forwards only its local
    top-k, so the shuffle carries O(strata·k) rows, not the corpus.

    Returns (strata_col?, id_col, weight_col, sample_key), the k
    highest-priority rows per stratum.
    """
    u = F.conv(F.substring(F.md5(F.col(content_col)), 1, 8), 16, 10).cast(
        "double"
    ) / F.lit(4294967296.0)
    key = F.round(
        F.pow(u, F.lit(1.0) / F.col(weight_col).cast("double")), 9
    ).alias("sample_key")
    part = [strata_col] if strata_col else []
    w = Window.partitionBy(*part).orderBy(
        F.col("sample_key").desc(), F.col(id_col)
    )
    return (
        df.select(*part, id_col, weight_col, key)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition quality signals per document:
    ``dup_token_ratio`` (1 − distinct/total tokens), ``dup_bigram_ratio``
    (same over word 2-grams; NULL when < 2 tokens), and
    ``top_token_frac`` (share of the single most frequent token) —
    the standard filters for boilerplate / keyword-stuffed pages.

    The array ratios are pure column expressions (no shuffle); the
    top-token share needs per-token counts, done as explode →
    two-level hash-agg on (id, token) then (id) — both shuffles key on
    the doc id, so AQE coalesces them and there is no skew by
    construction (one doc's tokens land in one group).
    """
    from ..functions import text as T

    toks = T.tokens(text_col)
    bigs = T.shingles(text_col, 2)
    base = df.select(
        F.col(id_col),
        F.size(toks).cast("bigint").alias("n_tokens"),
        (F.lit(1.0) - F.try_divide(F.size(F.array_distinct(toks)), F.size(toks))).alias(
            "dup_token_ratio"
        ),
        F.when(
            F.size(bigs) > 0,
            F.lit(1.0) - F.try_divide(F.size(F.array_distinct(bigs)), F.size(bigs)),
        ).alias("dup_bigram_ratio"),
        toks.alias("__toks"),
    )
    top = (
        base.select(id_col, F.explode("__toks").alias("tok"))
        .groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy(id_col)
        .agg(F.max("cnt").alias("__max_cnt"))
    )
    return (
        base.drop("__toks")
        .join(top, id_col)
        .withColumn(
            "top_token_frac", F.try_divide(F.col("__max_cnt"), F.col("n_tokens"))
        )
        .drop("__max_cnt")
    )


def contamination_report(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Benchmark decontamination: for every training document, count
    how many of its distinct word ``k``-gram shingles also appear in
    the evaluation corpus. Docs in the report are contaminated and
    should be dropped (``decontaminate``) before training.

    Scale shape: the eval side is a benchmark — thousands of docs, not
    terabytes — so its distinct-shingle set is broadcast and the check
    is a map-side semi-join over the training corpus; the only shuffle
    is the final per-doc count, keyed on the doc id.
    """
    from ..functions.text import shingles

    ev_sh = eval_df.select(
        F.explode(F.array_distinct(shingles(text_col, k))).alias("sh")
    ).distinct()
    tr_sh = train.select(
        F.col(id_col), F.explode(F.array_distinct(shingles(text_col, k))).alias("sh")
    )
    return (
        tr_sh.join(F.broadcast(ev_sh), "sh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Drop training docs sharing any word-``k``-gram with the eval
    corpus (left-anti against the contamination report)."""
    flagged = contamination_report(train, eval_df, text_col, id_col, k).select(id_col)
    return train.join(flagged, id_col, "left_anti")


def profile_table(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """One-pass column profiler: (column, n_rows, n_nulls, n_distinct,
    min_val, max_val) per column, long format — the table-stats
    service every catalog/quality dashboard needs.

    All measures for all columns compute in a SINGLE aggregation over
    one scan (Spark expands the multi-distinct into one Expand + agg —
    still one pass of the fact table, no per-column jobs); min/max are
    projected to strings so heterogeneous column types share one
    report schema. The unpivot to long form happens on the 1-row
    aggregate, not the data."""
    names = list(cols or df.columns)
    aggs = []
    for c in names:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"{c}__nulls"),
            F.count_distinct(F.col(c)).alias(f"{c}__distinct"),
            F.min(F.col(c)).cast("string").alias(f"{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"{c}__max"),
        ]
    one = df.agg(*aggs)
    rows = [
        F.struct(
            F.lit(c).alias("column"),
            F.col(f"{c}__rows").alias("n_rows"),
            F.col(f"{c}__nulls").alias("n_nulls"),
            F.col(f"{c}__distinct").alias("n_distinct"),
            F.col(f"{c}__min").alias("min_val"),
            F.col(f"{c}__max").alias("max_val"),
        )
        for c in names
    ]
    return one.select(F.explode(F.array(*rows)).alias("p")).select("p.*")


# Bloom word size: 16-bit words keep every value positive and small
# enough that the in-lambda bit test can use exact double division
# (higher-order-function lambdas can't call shiftright with a column
# shift amount, and 2^b division is bit-exact for b < 16).
_BLOOM_WORD = 16


def _bloom_hashes(sh: Column) -> tuple[Column, Column]:
    """Two independent 32-bit hashes from ONE md5 per shingle (h2
    forced odd so the double-hash stride cycles the whole table —
    Kirsch & Mitzenmacher 2006 composite hashing g_i = h1 + i·h2)."""
    d = F.md5(sh)
    h1 = F.conv(F.substring(d, 1, 8), 16, 10).cast("bigint")
    h2 = F.conv(F.substring(d, 9, 8), 16, 10).cast("bigint") * 2 + 1
    return h1, h2


def bloom_build(
    eval_df: DataFrame,
    text_col: str = "text",
    m_bits: int = 1 << 16,
    k_hashes: int = 3,
    shingle_k: int = 3,
) -> list[int]:
    """Build a Bloom filter over the eval corpus's distinct word
    ``shingle_k``-gram shingles; returns the bitmap as
    ``m_bits / 16`` small positive ints, ready to broadcast as a plan
    constant into :func:`bloom_probe`.

    This is the scale path of :func:`contamination_report`: the
    broadcast-join form ships the full distinct-shingle set (GBs for a
    large eval suite) to every task, while the Bloom bitmap is a FIXED
    ``m_bits/8`` bytes (8 KB at the default) no matter how many
    benchmarks are in it, traded against a quantifiable false-positive
    rate (~(set_fraction)^k — over-flagging only, never missing real
    contamination). The aggregation collects at most ``m_bits``
    distinct positions to the driver — a bounded build artifact like a
    k-means codebook, not data."""
    from ..functions.text import shingles

    sh = eval_df.select(
        F.explode(F.array_distinct(shingles(text_col, shingle_k))).alias("sh")
    )
    h1, h2 = _bloom_hashes(F.col("sh"))
    pos = sh.select(
        F.explode(
            F.array(*[F.pmod(h1 + i * h2, F.lit(m_bits)) for i in range(k_hashes)])
        ).alias("pos")
    ).distinct()
    words = [0] * (m_bits // _BLOOM_WORD)
    for row in pos.collect():
        p = row["pos"]
        words[p // _BLOOM_WORD] |= 1 << (p % _BLOOM_WORD)
    return words


def bloom_probe(
    corpus: DataFrame,
    words: list[int],
    text_col: str = "text",
    id_col: str = "doc_id",
    m_bits: int = 1 << 16,
    k_hashes: int = 3,
    shingle_k: int = 3,
) -> DataFrame:
    """Per-document contamination screen against a Bloom bitmap from
    :func:`bloom_build`: (id, n_shingles, n_hits, flagged).

    Entirely map-side — the bitmap folds into the plan as a constant
    array and the per-shingle membership test runs inside a
    higher-order ``filter`` lambda, so the probe adds ZERO shuffles to
    the corpus scan (the join-based report shuffles candidates). The
    bit test is ``(word div 2^b) mod 2`` on 16-bit words — exact, and
    expressible with plain column arithmetic inside the lambda."""
    from ..functions.text import shingles

    bits = F.array(*[F.lit(w) for w in words])

    def bit_on(pos: Column) -> Column:
        word = F.element_at(
            bits, (F.floor(pos / _BLOOM_WORD) + 1).cast("int")
        )
        b = F.pmod(pos, F.lit(_BLOOM_WORD)).cast("double")
        return F.pmod(F.floor(word / F.pow(F.lit(2.0), b)), F.lit(2)) == 1

    def hit(sh: Column) -> Column:
        h1, h2 = _bloom_hashes(sh)
        cond = bit_on(F.pmod(h1, F.lit(m_bits)))
        for i in range(1, k_hashes):
            cond = cond & bit_on(F.pmod(h1 + i * h2, F.lit(m_bits)))
        return cond

    shs = F.array_distinct(shingles(text_col, shingle_k))
    return corpus.select(
        F.col(id_col),
        F.size(shs).cast("bigint").alias("n_shingles"),
        F.size(F.filter(shs, hit)).cast("bigint").alias("n_hits"),
    ).select(
        id_col,
        "n_shingles",
        "n_hits",
        (F.col("n_hits") > 0).cast("int").alias("flagged"),
    )


def length_clip(
    df: DataFrame,
    value_col: str = "n_chars",
    class_col: str = "lang",
    lo: float = 0.05,
    hi: float = 0.95,
    exact: bool = True,
) -> DataFrame:
    """Per-class winsorization report: the [p_lo, p_hi] percentile band
    of ``value_col`` and how many rows survive clipping to it — the
    standard outlier filter for document length before training.

    ``exact=True`` uses ``percentile`` (linear interpolation, matches
    DuckDB ``quantile_cont`` bit-for-bit — the oracle path); it buffers
    each class's values on one reducer, fine for per-class cardinality
    up to ~10⁸. At 100 TB switch ``exact=False`` for
    ``approx_percentile`` (GK sketch, mergeable map-side, bounded
    memory at any scale).

    Returns (class_col, p_lo, p_hi, n_total, n_kept). The percentile
    table is tiny (one row per class) and joins back broadcast.
    """
    fn = "percentile" if exact else "approx_percentile"
    q = df.groupBy(class_col).agg(
        F.expr(f"{fn}({value_col}, {lo})").cast("double").alias("p_lo"),
        F.expr(f"{fn}({value_col}, {hi})").cast("double").alias("p_hi"),
        F.count(F.lit(1)).alias("n_total"),
    )
    return (
        df.join(F.broadcast(q), class_col)
        .filter(
            (F.col(value_col) >= F.col("p_lo")) & (F.col(value_col) <= F.col("p_hi"))
        )
        .groupBy(class_col, "p_lo", "p_hi", "n_total")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )


def quality_gate(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The composite training-data quality filter (same thresholds the
    oracle-checked ``x_quality_filter`` reports retention for): length,
    token count, mean token length, stopword presence. Pure column
    arithmetic — fuses into the scan."""
    from ..functions import text as T

    return df.filter(
        (F.length(text_col) >= 50)
        & (T.token_count(text_col) >= 10)
        & (T.avg_token_len(text_col) >= 2.0)
        & (T.avg_token_len(text_col) <= 12.0)
        & (T.stopword_ratio(text_col) >= 0.01)
    )


def domain_cap(
    df: DataFrame,
    max_per_domain: int,
    domain_col: str = "source",
    order_by: Sequence[Column | str] | None = None,
    rank_col: str = "rk",
) -> DataFrame:
    """Per-domain document cap — the web-curation step (C4, RefinedWeb,
    Gopher all apply one) that stops a handful of boilerplate-heavy
    hosts from owning the training mixture: keep at most
    ``max_per_domain`` documents per ``domain_col``, chosen by
    ``order_by`` priority (default: longest ``n_chars`` first, doc_id
    tie-break — deterministic under any partitioning).

    Plan shape: one rank-filtered window per domain. The rank filter
    is a WindowGroupLimit — each task prunes to its local top
    ``max_per_domain`` per domain BEFORE the exchange, so the shuffle
    carries O(domains x cap x tasks) candidate rows, not the corpus;
    domain skew (one host with 30% of the crawl — the scenario the
    cap exists for) therefore bounds the skewed reducer at cap rows,
    not at the domain's share of the corpus. Returns the surviving
    rows with their priority rank appended."""
    order = list(order_by) if order_by is not None else [
        F.col("n_chars").desc(), F.col("doc_id").asc(),
    ]
    w = Window.partitionBy(domain_col).orderBy(*order)
    return (
        df.withColumn(rank_col, F.row_number().over(w).cast("bigint"))
        .filter(F.col(rank_col) <= max_per_domain)
    )


def ks_drift(
    df: DataFrame,
    value_col: str = "n_chars",
    group_col: str = "source",
    alpha_coeff: float = 1.358,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov drift test per corpus slice: for
    every ``group_col`` value g, compare the empirical distribution of
    ``value_col`` inside g against the REST of the corpus, and report
    the KS statistic D = sup_v |ECDF_g(v) − ECDF_rest(v)| plus the
    alpha=0.05 rejection flag (critical value c(α)·sqrt((n1+n2)/
    (n1·n2)), c(0.05)=1.358) — the distribution-shift gate a training
    pipeline runs when a new crawl slice lands.

    Exactness: both ECDFs are step functions that only change at
    observed values, so D is evaluated on the distinct-value grid, and
    the sup comparison runs in INTEGER cross-multiplied form
    max |cum_g·n_rest − cum_rest·n_g| (one exact division at the very
    end) — no float accumulation, so the oracle replays bit-for-bit.

    Spark shape: one (group,value) count agg, a per-value corpus agg,
    one BOUNDED grid×groups broadcast expansion (|distinct values| ×
    |groups| rows — value grids are histogram-sized, groups are corpus
    slices, both orders of magnitude below row count at any SF), a
    group-partitioned cumulative window, and one max agg. Nothing in
    the plan ever re-scans the corpus. Products stay in BIGINT — at
    corpora past ~3·10⁹ rows switch the cross-multiply to
    DECIMAL(38,0) (n²·cum can overflow 2⁶³).
    """
    # NULL values would inflate n_g through counts/totals while never
    # matching the (group, value) join-back, and the two engines sort
    # NULLS on opposite ends of the cumulative window — exclude them
    # up front (round-11 ADVICE); a NULL measurement carries no
    # distribution information either way
    df = df.filter(F.col(value_col).isNotNull())
    # referenced four times below (totals, grand, allc, cells) and
    # only groups×distinct-values rows — checkpoint so the corpus
    # scan runs once (PERF.md round 9)
    counts = (
        df.groupBy(group_col, value_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    totals = counts.groupBy(group_col).agg(
        F.sum("cnt").cast("bigint").alias("n_g")
    )
    grand = counts.agg(F.sum("cnt").cast("bigint").alias("n"))
    allc = counts.groupBy(value_col).agg(
        F.sum("cnt").cast("bigint").alias("cnt_all")
    )
    cells = (
        totals.crossJoin(F.broadcast(allc))
        .join(
            counts,
            [group_col, value_col],
            "left",
        )
        .select(
            group_col,
            value_col,
            "n_g",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
            "cnt_all",
        )
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy(value_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cums = cells.select(
        group_col,
        "n_g",
        F.sum("cnt").over(w).cast("bigint").alias("cum_g"),
        F.sum("cnt_all").over(w).cast("bigint").alias("cum_all"),
    )
    d_int = F.abs(
        F.col("cum_g") * (F.col("n") - F.col("n_g"))
        - (F.col("cum_all") - F.col("cum_g")) * F.col("n_g")
    )
    dmax = (
        cums.join(F.broadcast(grand))
        .groupBy(group_col, "n_g", "n")
        .agg(F.max(d_int).alias("d_int"))
    )
    n1 = F.col("n_g").cast("double")
    n2 = (F.col("n") - F.col("n_g")).cast("double")
    ks = F.col("d_int").cast("double") / (n1 * n2)
    crit = F.lit(alpha_coeff) * F.sqrt(F.col("n").cast("double") / (n1 * n2))
    return dmax.select(
        group_col,
        F.col("n_g").alias("n_source"),
        (F.col("n") - F.col("n_g")).alias("n_rest"),
        ks.alias("ks_stat"),
        (ks > crit).alias("reject_95"),
    )


def psi_drift(
    df: DataFrame,
    value_col: str = "n_chars",
    group_col: str = "source",
    n_buckets: int = 10,
) -> DataFrame:
    """Population Stability Index per corpus slice — the monitoring
    industry's standard drift score, the KS test's coarse-but-
    interpretable sibling: bucket ``value_col`` into ``n_buckets``
    equal-width bins over the GLOBAL [min, max] range, and for every
    ``group_col`` value g compute
    PSI_g = Σ_i (p_i − q_i)·ln(p_i/q_i), p = g's bucket share,
    q = rest-of-corpus share, both add-one smoothed so empty buckets
    stay finite. Conventional reading: <0.1 stable, >0.25 shifted —
    the ``shifted`` flag uses 0.25.

    Exactness: bucket ids are INTEGER arithmetic ((v−min)·B div
    (max−min+1) — floor division on non-negatives, identical in both
    engines), counts are integers, and the only floats are the final
    shares and ln terms, summed as round-12 DECIMAL(28,12).

    Spark shape: one (group,bucket) count agg off a map-side bucket
    projection (global min/max ride a 1-row broadcast), a bounded
    groups×buckets spine, and one sum per group. Returns
    (``group_col``, n_source, n_rest, psi, shifted).
    """
    # same NULL exclusion as ks_drift: a NULL value would count toward
    # n_g but land in no bucket, skewing every share
    df = df.filter(F.col(value_col).isNotNull())
    rng = df.agg(
        F.min(value_col).cast("bigint").alias("mn"),
        F.max(value_col).cast("bigint").alias("mx"),
    )
    bucketed = df.join(F.broadcast(rng)).select(
        group_col,
        (
            (F.col(value_col).cast("bigint") - F.col("mn"))
            * F.lit(n_buckets)
        ).alias("__num"),
        (F.col("mx") - F.col("mn") + F.lit(1)).alias("__den"),
    )
    # referenced four times below (totals, grand, allc, cells) and
    # only groups×buckets rows — checkpoint so the corpus scan runs
    # once (PERF.md round 9)
    counts = (
        bucketed.select(
            group_col, F.expr("__num DIV __den").alias("bucket")
        )
        .groupBy(group_col, "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    totals = counts.groupBy(group_col).agg(
        F.sum("cnt").cast("bigint").alias("n_g")
    )
    grand = counts.agg(F.sum("cnt").cast("bigint").alias("n"))
    allc = counts.groupBy("bucket").agg(
        F.sum("cnt").cast("bigint").alias("cnt_all")
    )
    spine = totals.crossJoin(
        F.broadcast(
            df.sparkSession.range(0, n_buckets).select(
                F.col("id").alias("bucket")
            )
        )
    )
    cells = (
        spine.join(F.broadcast(allc), "bucket", "left")
        .join(counts, [group_col, "bucket"], "left")
        .join(F.broadcast(grand))
        .select(
            group_col,
            "n_g",
            "n",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("c_g"),
            F.coalesce(F.col("cnt_all"), F.lit(0)).alias("c_all"),
        )
    )
    nb = F.lit(n_buckets)
    p = (F.col("c_g") + F.lit(1)).cast("double") / (
        F.col("n_g") + nb
    ).cast("double")
    q = (F.col("c_all") - F.col("c_g") + F.lit(1)).cast("double") / (
        F.col("n") - F.col("n_g") + nb
    ).cast("double")
    term = (p - q) * F.log(p / q)
    out = cells.groupBy(group_col, "n_g", "n").agg(
        F.sum(F.round(term, 12).cast("decimal(28,12)"))
        .cast("double")
        .alias("psi")
    )
    return out.select(
        group_col,
        F.col("n_g").alias("n_source"),
        (F.col("n") - F.col("n_g")).alias("n_rest"),
        "psi",
        (F.col("psi") > F.lit(0.25)).alias("shifted"),
    )


def w1_drift(
    df: DataFrame,
    value_col: str = "n_chars",
    group_col: str = "source",
) -> DataFrame:
    """Wasserstein-1 (earth mover's) drift distance per corpus slice:
    for every ``group_col`` value g, W1 between ``value_col``'s
    distribution inside g and the REST of the corpus. Completes the
    drift family's geometry: KS (:func:`ks_drift`) is the sup of the
    ECDF gap — sensitive to one sharp local shift; W1 is its INTEGRAL
    ∫|F_g − F_rest| dv — the average shift in value units, the number
    a pipeline alerts on when "how far did lengths move" matters more
    than "did they move at all".

    Exactness: both ECDFs are step functions constant between observed
    values, so the integral is the exact finite sum
    Σ_i |F_g(v_i) − F_rest(v_i)|·(v_{i+1} − v_i) over the sorted
    distinct-value grid (the last grid point contributes 0 since both
    CDFs are 1 there). The summand runs in INTEGER cross-multiplied
    form |cum_g·n_rest − cum_rest·n_g|·Δv with ONE exact division by
    n_g·n_rest at the end — no float accumulation, the oracle replays
    bit-for-bit. The cross-multiply and its sum accumulate in
    DECIMAL(38,0) (round-13 ADVICE: a BIGINT sum wraps SILENTLY past
    ~10⁹ rows × wide value ranges while the DuckDB oracle — HUGEINT —
    would not; decimal on the grid-sized frame costs nothing and
    overflow now fails loudly instead of returning a wrong w1_dist).

    Spark shape: IDENTICAL to ks_drift — one (group,value) count agg,
    a bounded grid×groups broadcast expansion, one group-partitioned
    cumulative window (which also serves the lead(Δv) step — same
    partition, same order, ONE window exchange), and one sum agg.
    Returns (``group_col``, n_source, n_rest, w1_dist).
    """
    # same NULL exclusion as ks_drift (round-11 ADVICE): NULLs carry
    # no distribution information and break the cumulative window's
    # cross-engine ordering
    df = df.filter(F.col(value_col).isNotNull())
    counts = (
        df.groupBy(group_col, value_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    totals = counts.groupBy(group_col).agg(
        F.sum("cnt").cast("bigint").alias("n_g")
    )
    grand = counts.agg(F.sum("cnt").cast("bigint").alias("n"))
    allc = counts.groupBy(value_col).agg(
        F.sum("cnt").cast("bigint").alias("cnt_all")
    )
    cells = (
        totals.crossJoin(F.broadcast(allc))
        .join(counts, [group_col, value_col], "left")
        .select(
            group_col,
            value_col,
            "n_g",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
            "cnt_all",
        )
    )
    w = Window.partitionBy(group_col).orderBy(value_col)
    cums = cells.select(
        group_col,
        "n_g",
        F.sum("cnt")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("cum_g"),
        F.sum("cnt_all")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("cum_all"),
        (
            F.lead(F.col(value_col).cast("bigint")).over(w)
            - F.col(value_col).cast("bigint")
        ).alias("dv"),
    )
    # the last grid point (NULL lead) contributes 0 — keep the row via
    # coalesce instead of filtering so a degenerate single-value grid
    # still emits its group with W1 = 0
    term = (
        F.abs(
            F.col("cum_g").cast("decimal(38,0)") * (F.col("n") - F.col("n_g"))
            - (F.col("cum_all") - F.col("cum_g")).cast("decimal(38,0)")
            * F.col("n_g")
        )
        * F.coalesce(F.col("dv"), F.lit(0))
    )
    agg = (
        cums.join(F.broadcast(grand))
        .groupBy(group_col, "n_g", "n")
        .agg(F.sum(term).cast("decimal(38,0)").alias("w1_int"))
    )
    return agg.select(
        group_col,
        F.col("n_g").alias("n_source"),
        (F.col("n") - F.col("n_g")).alias("n_rest"),
        (
            F.col("w1_int").cast("double")
            / (
                F.col("n_g").cast("double")
                * (F.col("n") - F.col("n_g")).cast("double")
            )
        ).alias("w1_dist"),
    )


def chi2_drift(
    df: DataFrame,
    cat_col: str = "lang",
    group_col: str = "source",
) -> DataFrame:
    """Chi-square homogeneity drift test per corpus slice, over a
    CATEGORICAL column — the discrete sibling of ks_drift/psi_drift
    (which compare numeric distributions): for every ``group_col``
    value g, test whether g's ``cat_col`` mix (e.g. language mix)
    differs from the REST of the corpus. The classic two-sample
    chi-square: χ² = Σ_{c,s} (O_sc − E_sc)²/E_sc over categories c and
    the two samples s ∈ {g, rest}, E_sc = n_s·ct_c/n.

    Exactness: both samples' deviations share one integer numerator —
    (O_g,c·n − n_g·ct_c) = −(O_rest,c·n − n_rest·ct_c) — so the
    statistic collapses to χ² = Σ_c D_c²/ct_c / (n_g·n_rest) with
    D_c = O_g,c·n − n_g·ct_c all-integer (the two samples' E-scaled
    squares share D_c² and their 1/(n·n_g)+1/(n·n_rest) weights sum
    to exactly 1/(n_g·n_rest)). D_c² stays under 2⁵³ at any
    tested SF (exact as a double); each per-category division is one
    exactly-rounded IEEE op, summed as round-12 DECIMAL(38,12), then one
    final scale — the oracle replays bit-for-bit. Past ~3·10⁷ rows
    per slice move D_c² to DECIMAL(38,0).

    The 95% rejection flag uses the Wilson–Hilferty cube approximation
    of the chi-square critical value at df = (#categories − 1):
    crit ≈ df·(1 − 2/(9df) + z₀.₉₅·√(2/(9df)))³ — closed-form in both
    engines, accurate to ~3 decimal places for df ≥ 1, and evaluated
    identically from the same integers on both sides.

    Spark shape: one (group,category) count agg (category
    cardinalities are vocabulary-sized, orders below row count), a
    bounded groups×categories broadcast spine so absent categories
    count as 0, and one sum per group. Nothing re-scans the corpus.
    Returns (``group_col``, n_source, n_rest, df_chi2, chi2,
    reject_95).
    """
    # NULL categories are excluded like NULL values in ks/psi/w1: a
    # NULL would inflate n_g while belonging to no category cell
    df = df.filter(F.col(cat_col).isNotNull())
    counts = (
        df.groupBy(group_col, cat_col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    totals = counts.groupBy(group_col).agg(
        F.sum("cnt").cast("bigint").alias("n_g")
    )
    grand = counts.agg(F.sum("cnt").cast("bigint").alias("n"))
    allc = counts.groupBy(cat_col).agg(
        F.sum("cnt").cast("bigint").alias("ct")
    )
    n_cats = allc.agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    cells = (
        totals.crossJoin(F.broadcast(allc))
        .join(counts, [group_col, cat_col], "left")
        .join(F.broadcast(grand))
        .select(
            group_col,
            "n_g",
            "n",
            "ct",
            F.coalesce(F.col("cnt"), F.lit(0)).cast("bigint").alias("o_g"),
        )
    )
    d = F.col("o_g") * F.col("n") - F.col("n_g") * F.col("ct")
    term = (d * d).cast("double") / F.col("ct").cast("double")
    agg = cells.groupBy(group_col, "n_g", "n").agg(
        F.sum(F.round(term, 12).cast("decimal(38,12)"))
        .cast("double")
        .alias("s")
    )
    chi2 = F.col("s") / (
        F.col("n_g").cast("double")
        * (F.col("n") - F.col("n_g")).cast("double")
    )
    dof = (F.col("k") - F.lit(1)).cast("double")
    # dofc floors the WH divisor at 1 so a single-category corpus
    # (df = 0, chi2 exactly 0, test undefined) evaluates without an
    # ANSI divide-by-zero; crit keeps the true dof factor, so df = 0
    # yields crit = 0 and the flag stays false
    dofc = F.greatest(dof, F.lit(1.0))
    wh = F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * dofc) + F.lit(
        1.6448536269514722
    ) * F.sqrt(F.lit(2.0) / (F.lit(9.0) * dofc))
    crit = dof * wh * wh * wh
    return (
        agg.join(F.broadcast(n_cats))
        .select(
            group_col,
            F.col("n_g").alias("n_source"),
            (F.col("n") - F.col("n_g")).alias("n_rest"),
            (F.col("k") - F.lit(1)).alias("df_chi2"),
            chi2.alias("chi2"),
            (chi2 > crit).alias("reject_95"),
        )
    )


def rolling_drift(
    df: DataFrame,
    value_col: str,
    time_col: str = "ts",
    group_col: str = "event_type",
    ref_weeks: int = 4,
    n_buckets: int = 10,
) -> DataFrame:
    """ROLLING drift series (round 13 — the monitoring-dashboard view
    the point-in-time family lacks): for every (series, week) cell,
    compare that week's ``value_col`` distribution against the
    TRAILING ``ref_weeks``-week reference window of the SAME series,
    emitting KS, W1 and PSI side by side — the per-week drift panel a
    data-quality dashboard plots, where the batch ks/psi/w1_drift
    operators answer only "does slice g differ from the rest, now".

    ``value_col`` must be INTEGRAL (pre-grain a continuous measure
    with floor/round — the caller owns the graining, exactly as
    ks_drift assumes a discrete grid): all three statistics then run
    in the family's exact integer/decimal cross-multiplied forms and
    the oracle replays bit-for-bit. Weeks are Monday-truncated
    (``date_trunc('week')``), and the reference for week w is weeks
    [w−ref_weeks, w−1] — weeks with an EMPTY reference (the series'
    first week(s), or a gap longer than the window) emit their row
    with NULL statistics and ``drift_defined`` false rather than
    vanishing (the every-cell-reported invariant the round-13 ADVICE
    fix restored for the batch report).

    Spark shape — the count-spine discipline of the family: ONE
    fact-scan aggregation to (series, week, v) counts; the rolling
    reference is that spine EXPLODED ref_weeks times on the week axis
    (bounded ×``ref_weeks`` row growth, never fact-sized) and
    re-aggregated; cur/ref align on a full-outer (series, w, v) join;
    one (series, w)-partitioned ordered window carries cum counts AND
    the Δv lead for W1 (same partition, same order — one window
    exchange); KS/W1 reduce in the final agg, and PSI folds the same
    cells to ``n_buckets`` equal-width buckets over the GLOBAL value
    hull (psi_drift's frozen-edge convention, add-one smoothing,
    12-dp decimal term sums). Every frame after the first agg is
    spine-sized; at 100 TB the only fact-scan is the first groupBy.
    Returns (``group_col``, week_start, n_cur, n_ref, ks_stat,
    w1_dist, psi, drift_defined)."""
    if ref_weeks < 1:
        raise ValueError("need ref_weeks >= 1")
    counts = df.filter(
        F.col(value_col).isNotNull() & F.col(time_col).isNotNull()
    ).groupBy(
        F.col(group_col),
        F.date_trunc("week", F.col(time_col)).cast("date").alias("week"),
        F.col(value_col).cast("bigint").alias("v"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return rolling_drift_from_counts(
        counts, group_col=group_col, ref_weeks=ref_weeks, n_buckets=n_buckets
    )


def rolling_drift_from_counts(
    counts: DataFrame,
    group_col: str = "event_type",
    ref_weeks: int = 4,
    n_buckets: int = 10,
    out_weeks: DataFrame | None = None,
) -> DataFrame:
    """:func:`rolling_drift` body starting from the (``group_col``,
    week, v, cnt) COUNT SPINE instead of the facts (round 15 — the
    incremental streaming dashboard's entry point): an incremental
    sink maintains the spine as per-batch additive deltas and merges
    them with one spine-sized groupBy, so the panel refresh never
    rescans the fact table at all. ``counts`` must be aggregated to
    UNIQUE (group, week, v) keys (the caller owns the merge).

    ``out_weeks``: optional (``group_col``, w) frame restricting which
    panel cells are COMPUTED — the incremental refresh passes the
    batch's touched weeks plus their ``ref_weeks`` forward horizon and
    upserts the result into the published panel. The reference side
    still draws on the FULL spine (a restricted week needs its trailing
    weeks' counts), and the PSI hull stays global, so restricted rows
    are bit-identical to the same rows of an unrestricted run.

    ``counts`` is read several times, so it is pinned once; the pin is
    attached to the result (``cacheutil.release(result)`` frees it)."""
    if ref_weeks < 1:
        raise ValueError("need ref_weeks >= 1")
    g = group_col
    with Frames() as frames:
        counts = frames.pin(counts, eager=True)
        weeks = counts.select(g, F.col("week").alias("w")).distinct()
        if out_weeks is not None:
            weeks = weeks.join(out_weeks, [g, "w"], "left_semi")
        hull = counts.agg(
            F.min("v").alias("lo"), F.max("v").alias("hi")
        )
        ref = (
            counts.select(
                g,
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.lit(ref_weeks)),
                        lambda k: F.date_add(F.col("week"), (k * 7).cast("int")),
                    )
                ).alias("w"),
                "v",
                "cnt",
            )
            .groupBy(g, "w", "v")
            .agg(F.sum("cnt").alias("ref"))
        )
        cur = counts.select(g, F.col("week").alias("w"), "v", F.col("cnt").alias("cur"))
        cells = (
            cur.join(ref, [g, "w", "v"], "full_outer")
            .join(weeks, [g, "w"], "left_semi")
            .select(
                g,
                "w",
                "v",
                F.coalesce(F.col("cur"), F.lit(0)).cast("bigint").alias("cur"),
                F.coalesce(F.col("ref"), F.lit(0)).cast("bigint").alias("ref"),
            )
        )
        win = Window.partitionBy(g, "w").orderBy("v")
        seq = win.rowsBetween(Window.unboundedPreceding, 0)
        tot = win.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        cums = cells.select(
            g,
            "w",
            "v",
            F.sum("cur").over(seq).cast("bigint").alias("cum_cur"),
            F.sum("ref").over(seq).cast("bigint").alias("cum_ref"),
            F.sum("cur").over(tot).cast("bigint").alias("n_cur"),
            F.sum("ref").over(tot).cast("bigint").alias("n_ref"),
            (F.lead("v").over(win) - F.col("v")).alias("dv"),
            "cur",
            "ref",
        )
        d_int = F.abs(
            F.col("cum_cur").cast("decimal(38,0)") * F.col("n_ref")
            - F.col("cum_ref").cast("decimal(38,0)") * F.col("n_cur")
        )
        ksw1 = cums.groupBy(g, "w", "n_cur", "n_ref").agg(
            F.max(d_int).alias("ks_int"),
            F.sum(d_int * F.coalesce(F.col("dv"), F.lit(0)))
            .cast("decimal(38,0)")
            .alias("w1_int"),
        )
        # PSI leg: same cells folded to frozen global equal-width buckets
        nb = F.lit(n_buckets)
        # integer DIV (the psi_admit/psi_drift edge convention — no float
        # in the bucket id); v ≥ lo always, so no negative truncation case
        bucket = F.least(
            F.lit(n_buckets - 1).cast("bigint"),
            F.expr(f"(v - lo) * {n_buckets} DIV (hi - lo + 1)"),
        )
        bsums = (
            cells.join(F.broadcast(hull))
            .groupBy(g, "w", bucket.alias("bucket"))
            .agg(
                F.sum("cur").cast("bigint").alias("bc"),
                F.sum("ref").cast("bigint").alias("br"),
            )
        )
        bspine = weeks.crossJoin(
            F.broadcast(
                counts.sparkSession.range(0, n_buckets).select(
                    F.col("id").alias("bucket")
                )
            )
        )
        bcells = bspine.join(bsums, [g, "w", "bucket"], "left").select(
            g,
            "w",
            F.coalesce(F.col("bc"), F.lit(0)).cast("bigint").alias("bc"),
            F.coalesce(F.col("br"), F.lit(0)).cast("bigint").alias("br"),
        )
        btot = bcells.groupBy(g, "w").agg(
            F.sum("bc").cast("bigint").alias("tc"),
            F.sum("br").cast("bigint").alias("tr"),
        )
        p = (F.col("bc") + F.lit(1)).cast("double") / (F.col("tc") + nb).cast(
            "double"
        )
        q = (F.col("br") + F.lit(1)).cast("double") / (F.col("tr") + nb).cast(
            "double"
        )
        psi = (
            bcells.join(btot, [g, "w"])
            .groupBy(g, "w", "tc", "tr")
            .agg(
                F.sum(F.round((p - q) * F.log(p / q), 12).cast("decimal(28,12)"))
                .cast("double")
                .alias("psi")
            )
            .select(g, "w", "psi")
        )
        defined = (F.col("n_cur") > 0) & (F.col("n_ref") > 0)
        denom = F.col("n_cur").cast("double") * F.col("n_ref").cast("double")
        return frames.attach(
            ksw1.join(psi, [g, "w"])
            .select(
                g,
                F.col("w").alias("week_start"),
                "n_cur",
                "n_ref",
                F.when(defined, F.col("ks_int").cast("double") / denom).alias(
                    "ks_stat"
                ),
                F.when(defined, F.col("w1_int").cast("double") / denom).alias(
                    "w1_dist"
                ),
                F.when(defined, F.col("psi")).alias("psi"),
                defined.alias("drift_defined"),
            ),
            counts,
        )


def rolling_chi2(
    df: DataFrame,
    cat_col: str = "event_type",
    time_col: str = "ts",
    ref_weeks: int = 4,
) -> DataFrame:
    """ROLLING categorical drift series (round 13 — the chi-square
    member of :func:`rolling_drift`'s weekly panel): for every week,
    test whether that week's ``cat_col`` mix (e.g. the event-type or
    language composition) differs from the TRAILING ``ref_weeks``-week
    reference — the "did the traffic mix shift this week" monitor,
    where rolling_drift watches a numeric distribution per series.

    Same collapsed two-sample integer form as chi2_drift/chi2_admit
    with (week, reference window) as the two samples:
    χ² = Σ_c D_c²/ct_c / (n_cur·n_ref), D_c = o_c·n − n_cur·ct_c, all
    integer over the week∪reference category union (12-dp decimal
    term sums), one division at the end — the oracle replays
    bit-for-bit. Wilson–Hilferty 95% flag, df = k−1 over categories
    present (floored at 1 in the divisor only). Weeks with an empty
    reference report NULL statistics with ``drift_defined`` false —
    the every-cell-reported invariant of the family.

    Spark shape: one fact-scan (week, category) count agg; the
    reference is that spine exploded ``ref_weeks``× on the week axis
    and re-aggregated (bounded growth, never fact-sized); one
    (week, category)-grain join + one week-grain agg. Returns
    (week_start, n_cur, n_ref, df_chi2, chi2, reject_95,
    drift_defined)."""
    if ref_weeks < 1:
        raise ValueError("need ref_weeks >= 1")
    counts = df.filter(
        F.col(cat_col).isNotNull() & F.col(time_col).isNotNull()
    ).groupBy(
        F.date_trunc("week", F.col(time_col)).cast("date").alias("week"),
        F.col(cat_col).alias("c"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    return rolling_chi2_from_counts(counts, ref_weeks=ref_weeks)


def rolling_chi2_from_counts(
    counts: DataFrame,
    ref_weeks: int = 4,
    out_weeks: DataFrame | None = None,
) -> DataFrame:
    """:func:`rolling_chi2` body starting from the (week, c, cnt)
    COUNT SPINE (round 15 — see :func:`rolling_drift_from_counts`):
    ``counts`` must be aggregated to unique (week, c) keys;
    ``out_weeks`` (a single-column ``w`` frame) restricts which weeks'
    panel rows are computed, while the reference side still draws on
    the full spine — restricted rows are bit-identical to the same
    rows of an unrestricted run (no global coupling in the chi2
    panel, unlike the numeric panel's PSI hull). The pinned ``counts``
    is attached to the result, as in :func:`rolling_drift_from_counts`."""
    if ref_weeks < 1:
        raise ValueError("need ref_weeks >= 1")
    with Frames() as frames:
        counts = frames.pin(counts, eager=True)
        weeks = counts.select(F.col("week").alias("w")).distinct()
        if out_weeks is not None:
            weeks = weeks.join(out_weeks, ["w"], "left_semi")
        ref = (
            counts.select(
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.lit(ref_weeks)),
                        lambda k: F.date_add(F.col("week"), (k * 7).cast("int")),
                    )
                ).alias("w"),
                "c",
                "cnt",
            )
            .groupBy("w", "c")
            .agg(F.sum("cnt").alias("ref"))
        )
        cur = counts.select(
            F.col("week").alias("w"), "c", F.col("cnt").alias("cur")
        )
        cells = (
            cur.join(ref, ["w", "c"], "full_outer")
            .join(weeks, ["w"], "left_semi")
            .select(
                "w",
                F.coalesce(F.col("cur"), F.lit(0)).cast("bigint").alias("cg"),
                F.coalesce(F.col("ref"), F.lit(0)).cast("bigint").alias("ch"),
            )
        )
        tot = cells.groupBy("w").agg(
            F.sum("cg").cast("bigint").alias("n_cur"),
            F.sum("ch").cast("bigint").alias("n_ref"),
            F.count(F.lit(1)).cast("bigint").alias("k"),
        )
        n = F.col("n_cur") + F.col("n_ref")
        # the cross-multiplied residual squares in DECIMAL(38,0) — d ~ n²,
        # so d² in BIGINT would wrap past n ≈ 55k rows/week (the round-13
        # w1_drift ADVICE lesson applied at birth); decimal holds to 1e19
        d = (
            F.col("cg") * n - F.col("n_cur") * (F.col("cg") + F.col("ch"))
        ).cast("decimal(38,0)")
        term = F.round(
            (d * d).cast("double") / (F.col("cg") + F.col("ch")).cast("double"),
            12,
        ).cast("decimal(38,12)")
        chi2 = F.try_divide(
            F.col("s"),
            F.col("n_cur").cast("double") * F.col("n_ref").cast("double"),
        )
        dof = (F.col("k") - F.lit(1)).cast("double")
        dofc = F.greatest(dof, F.lit(1.0))
        wh = F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * dofc) + F.lit(
            1.6448536269514722
        ) * F.sqrt(F.lit(2.0) / (F.lit(9.0) * dofc))
        crit = dof * wh * wh * wh
        defined = (F.col("n_cur") > 0) & (F.col("n_ref") > 0)
        return frames.attach(
            cells.join(tot, "w")
            .groupBy("w", "n_cur", "n_ref", "k")
            .agg(F.sum(term).cast("double").alias("s"))
            .select(
                F.col("w").alias("week_start"),
                "n_cur",
                "n_ref",
                F.when(defined, F.col("k") - F.lit(1)).alias("df_chi2"),
                F.when(defined, chi2).alias("chi2"),
                F.coalesce(
                    F.when(defined, chi2 > crit), F.lit(False)
                ).alias("reject_95"),
                defined.alias("drift_defined"),
            ),
            counts,
        )


def psi_admit(
    batch_df: DataFrame,
    store_path: str,
    value_col: str = "n_chars",
    lo: int = 0,
    hi: int = 4095,
    n_buckets: int = 10,
) -> DataFrame:
    """STREAMING drift monitor — the per-micro-batch counterpart of
    :func:`psi_drift`: score each arriving batch's ``value_col``
    histogram against the HISTORY accumulated in
    ``{store_path}/hist`` (one tiny (bucket, cnt) parquet table,
    appended per batch), then fold the batch into the history. The
    data-quality tripwire a crawl-ingestion pipeline runs before
    admitting a slice: a shifted batch flags BEFORE it pollutes the
    corpus statistics.

    Bucket edges are FROZEN ([``lo``, ``hi``] equal-width, outside
    values clipped into the end buckets) — streaming PSI must compare
    against fixed edges or every batch would re-bucket history.
    Same add-one smoothing and round-12 decimal term sum as
    psi_drift; the first batch scores against an empty history
    (every q_i = 1/n_buckets — a well-defined uniform reference,
    document the cold-start in the caller's alerting).

    The score row is computed (and checkpointed) BEFORE the store
    append — the sink-before-append crash contract of the admission
    family. Store growth is one aggregated row-set (≤ ``n_buckets``
    rows) per batch; no compaction needed at any realistic cadence.
    Returns one row: (n_batch, n_hist, psi, shifted), a checkpoint
    attached to itself (``cacheutil.release(result)`` frees it).
    """
    spark = batch_df.sparkSession
    width = hi - lo + 1
    nb = F.lit(n_buckets)
    # integer DIV (truncates toward zero, but the clamp absorbs the
    # only negative case — values below lo land in bucket 0 either way)
    bucket = F.least(
        F.lit(n_buckets - 1).cast("bigint"),
        F.greatest(
            F.lit(0).cast("bigint"),
            F.expr(
                f"(CAST({value_col} AS BIGINT) - {lo}) * {n_buckets} "
                f"DIV {width}"
            ),
        ),
    )
    with Frames() as frames:
        bcounts = frames.pin(
            batch_df.filter(F.col(value_col).isNotNull())
            .select(bucket.alias("bucket"))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("cnt")),
            eager=True,
        )
        # only a missing store means bootstrap; any real read failure raises
        hist = stores.read_live(
            spark, store_path, "hist", required="bucket bigint, cnt bigint",
            missing_ok=True,
        )
        if hist is None:
            hist = spark.createDataFrame([], "bucket bigint, cnt bigint")
        hcounts = hist.groupBy("bucket").agg(
            F.sum("cnt").cast("bigint").alias("ch")
        )
        spine = spark.range(0, n_buckets).select(F.col("id").alias("bucket"))
        cells = (
            spine.join(bcounts.withColumnRenamed("cnt", "cg"), "bucket", "left")
            .join(hcounts, "bucket", "left")
            .select(
                F.coalesce(F.col("cg"), F.lit(0)).alias("cg"),
                F.coalesce(F.col("ch"), F.lit(0)).alias("ch"),
            )
        )
        tot = cells.agg(
            F.sum("cg").cast("bigint").alias("n_batch"),
            F.sum("ch").cast("bigint").alias("n_hist"),
        )
        p = (F.col("cg") + F.lit(1)).cast("double") / (
            F.col("n_batch") + nb
        ).cast("double")
        q = (F.col("ch") + F.lit(1)).cast("double") / (
            F.col("n_hist") + nb
        ).cast("double")
        term = (p - q) * F.log(p / q)
        out = frames.pin(
            cells.join(F.broadcast(tot))
            .groupBy("n_batch", "n_hist")
            .agg(
                F.sum(F.round(term, 12).cast("decimal(28,12)"))
                .cast("double")
                .alias("psi")
            )
            .select(
                "n_batch",
                "n_hist",
                "psi",
                (F.col("psi") > F.lit(0.25)).alias("shifted"),
            ),
            eager=True,
        )
        bcounts.write.mode("append").parquet(f"{store_path}/hist")
        return frames.attach(out)


def chi2_admit(
    batch_df: DataFrame,
    store_path: str,
    cat_col: str = "lang",
) -> DataFrame:
    """STREAMING categorical drift monitor — the per-micro-batch
    counterpart of :func:`chi2_drift` and the categorical member of
    the admission family (psi_admit buckets numerics, ks_admit
    sketches numerics; this one tests a CATEGORY mix, e.g. the
    language distribution of an arriving crawl slice): score each
    batch's ``cat_col`` counts against the HISTORY accumulated in
    ``{store_path}/cats`` (one tiny (c, cnt) parquet table, appended
    per batch), then fold the batch in.

    The statistic is the same collapsed two-sample form as
    chi2_drift with (batch, history) as the two samples:
    χ² = Σ_c D_c²/ct_c / (n_batch·n_hist), D_c = o_c·n − n_batch·ct_c
    all-integer over the batch∪history category union, round-12
    decimal term sum, one try_divide at the end — so the cold start
    (empty history) yields a NULL statistic with ``chi2_defined``
    false rather than a fabricated reference (unlike PSI, chi-square
    has no natural uniform fallback). The 95% flag uses the same
    Wilson–Hilferty critical value as chi2_drift (df floored at 1
    inside the divisor; df = k−1 over categories present).

    Crash contract: the score row is computed and checkpointed
    BEFORE the store append (sink-before-append, like the rest of
    the family). Store growth is one aggregated row-set (≤ distinct
    categories) per batch. Returns one row:
    (n_batch, n_hist, df_chi2, chi2, chi2_defined, reject_95), a
    checkpoint attached to itself (``cacheutil.release(result)``).
    """
    spark = batch_df.sparkSession
    with Frames() as frames:
        bcounts = frames.pin(
            batch_df.filter(F.col(cat_col).isNotNull())
            .select(F.col(cat_col).alias("c"))
            .groupBy("c")
            .agg(F.count(F.lit(1)).alias("cnt")),
            eager=True,
        )
        # only a missing store means bootstrap; any real read failure raises
        hist = stores.read_live(
            spark, store_path, "cats", required="c string, cnt bigint",
            missing_ok=True,
        )
        if hist is None:
            hist = spark.createDataFrame([], "c string, cnt bigint")
        hcounts = hist.groupBy("c").agg(F.sum("cnt").cast("bigint").alias("ch"))
        cells = (
            bcounts.withColumnRenamed("cnt", "cg")
            .join(hcounts, "c", "full_outer")
            .select(
                F.coalesce(F.col("cg"), F.lit(0)).cast("bigint").alias("cg"),
                F.coalesce(F.col("ch"), F.lit(0)).cast("bigint").alias("ch"),
            )
        )
        tot = cells.agg(
            F.sum("cg").cast("bigint").alias("n_batch"),
            F.sum("ch").cast("bigint").alias("n_hist"),
            F.count(F.lit(1)).cast("bigint").alias("k"),
        )
        n = F.col("n_batch") + F.col("n_hist")
        d = F.col("cg") * n - F.col("n_batch") * (F.col("cg") + F.col("ch"))
        term = F.round(
            (d * d).cast("double")
            / (F.col("cg") + F.col("ch")).cast("double"),
            12,
        ).cast("decimal(38,12)")
        chi2 = F.try_divide(
            F.col("s"),
            F.col("n_batch").cast("double") * F.col("n_hist").cast("double"),
        )
        dof = (F.col("k") - F.lit(1)).cast("double")
        dofc = F.greatest(dof, F.lit(1.0))
        wh = F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * dofc) + F.lit(
            1.6448536269514722
        ) * F.sqrt(F.lit(2.0) / (F.lit(9.0) * dofc))
        crit = dof * wh * wh * wh
        # round-13 ADVICE fix: the output row derives from two ALWAYS-
        # one-row global aggregates (tot × term-sum) instead of a groupBy
        # over ``cells`` — a batch whose cat_col is all NULL on an empty
        # history produces zero cells, and the old groupBy then emitted
        # ZERO rows, so a caller's collect()[0] raised IndexError (inside
        # a foreachBatch, the checkpoint replayed the poisoned batch
        # forever). Degenerate row: n_batch=n_hist=0,
        # df_chi2 NULL, chi2 NULL, chi2_defined false (admit).
        ssum = (
            cells.join(F.broadcast(tot))
            .agg(F.sum(term).cast("double").alias("s"))
        )
        out = frames.pin(
            tot.select(
                F.coalesce(F.col("n_batch"), F.lit(0)).alias("n_batch"),
                F.coalesce(F.col("n_hist"), F.lit(0)).alias("n_hist"),
                "k",
            )
            .join(F.broadcast(ssum))
            .select(
                "n_batch",
                "n_hist",
                F.when(F.col("k") > 0, F.col("k") - F.lit(1)).alias("df_chi2"),
                chi2.alias("chi2"),
                (
                    (F.col("n_batch") > 0) & (F.col("n_hist") > 0)
                ).alias("chi2_defined"),
                (chi2 > crit).alias("reject_95"),
            ),
            eager=True,
        )
        bcounts.write.mode("append").parquet(f"{store_path}/cats")
        return frames.attach(out)


def _digest_scored_grid(
    batch_df: DataFrame,
    store_path: str,
    value_col: str,
    delta: int,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Shared batch-ECDF-vs-centroid-history grid for the digest-backed
    admission monitors (:func:`ks_admit` and round-13's
    :func:`w1_admit` integrate different functionals over the SAME
    evaluation grid): union the batch's distinct values with the
    history's centroid knots, interpolate the history CDF over
    centroid MIDPOINT ranks (the tdigest_quantiles query convention,
    inverted and clamped at the extreme midranks), and carry both
    one-sided batch-ECDF limits. Returns
    ``(scored, tot, w_tot, sig)``: the per-grid-row frame with
    columns (v, is_knot, cnt, cum_le, fh, e_le, e_lt, n_batch,
    w_hist), the 1-row batch count, the 1-row history weight, and the
    batch's OWN centroid set — which the CALLER must append to
    ``{store_path}/centroids`` AFTER its score row is materialized
    (the family's score-before-append crash contract)."""
    from .sketches import tdigest_centroids

    spark = batch_df.sparkSession
    clean = batch_df.filter(F.col(value_col).isNotNull())
    # the batch digest appends AFTER scoring; built here so the schema
    # exists for the cold-start branch too
    sig = tdigest_centroids(clean, [], value_col, delta=delta)
    hist = stores.read_live(
        spark, store_path, "centroids", required="mean double, weight double",
        missing_ok=True,
    )
    if hist is None:
        hist = spark.createDataFrame([], "mean double, weight double")

    counts = (
        clean.groupBy(F.col(value_col).cast("double").alias("v"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # centroid knots with midpoint ranks; sorted by (mean, weight) —
    # the canonical t-digest order
    wseq = Window.orderBy("mean", "weight").rowsBetween(
        Window.unboundedPreceding, 0
    )
    knots = hist.select(
        F.col("mean").alias("v"),
        (F.sum("weight").over(wseq) - F.col("weight") / F.lit(2.0)).alias(
            "mid"
        ),
    )
    grid = counts.select(
        "v", "cnt", F.lit(None).cast("double").alias("mid"),
        F.lit(0).alias("is_knot"),
    ).unionByName(
        knots.select(
            "v", F.lit(None).cast("bigint").alias("cnt"), "mid",
            F.lit(1).alias("is_knot"),
        )
    )
    # one ordered pass: knots sort BEFORE a batch value at the same v,
    # so that batch row interpolates to exactly the knot's mid
    order = Window.orderBy("v", F.col("is_knot").desc())
    seq = order.rowsBetween(Window.unboundedPreceding, 0)
    rev = order.rowsBetween(1, Window.unboundedFollowing)
    g = grid.select(
        "v",
        "is_knot",
        F.sum(F.coalesce(F.col("cnt"), F.lit(0))).over(seq).alias("cum_le"),
        F.last(F.when(F.col("is_knot") == 1, F.col("mid")), True)
        .over(seq)
        .alias("pm"),
        F.last(F.when(F.col("is_knot") == 1, F.col("v")), True)
        .over(seq)
        .alias("pv"),
        F.first(F.when(F.col("is_knot") == 1, F.col("mid")), True)
        .over(rev)
        .alias("nm"),
        F.first(F.when(F.col("is_knot") == 1, F.col("v")), True)
        .over(rev)
        .alias("nv"),
        F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
    )
    tot = clean.agg(F.count(F.lit(1)).alias("n_batch"))
    w_tot = hist.agg(
        F.coalesce(F.sum("weight"), F.lit(0.0)).alias("w_hist")
    )
    fh_raw = (
        F.when(F.col("pm").isNull(), F.col("nm"))  # below first knot
        .when(F.col("nm").isNull(), F.col("pm"))  # above last knot
        .when(F.col("nv") == F.col("pv"), F.col("pm"))
        .otherwise(
            F.col("pm")
            + (F.col("v") - F.col("pv"))
            / (F.col("nv") - F.col("pv"))
            * (F.col("nm") - F.col("pm"))
        )
    )
    # try_divide throughout (round-14, ADVICE): an all-NULL batch
    # arriving AFTER the store is seeded has n_batch = 0 but a
    # knot-populated grid, and ANSI mode raises DIVIDE_BY_ZERO on the
    # plain divisions — NULL stats flow to the callers' *_defined /
    # reject_95 gates instead (same contract as the empty-history
    # side, where w_hist = 0 NULLs fh)
    scored = (
        g.join(F.broadcast(tot))
        .join(F.broadcast(w_tot))
        .withColumn("fh", F.try_divide(fh_raw, F.col("w_hist")))
        .withColumn(
            "e_le",
            F.try_divide(
                F.col("cum_le").cast("double"), F.col("n_batch")
            ),
        )
        .withColumn(
            "e_lt",
            F.try_divide(
                (F.col("cum_le") - F.col("cnt")).cast("double"),
                F.col("n_batch"),
            ),
        )
    )
    return scored, tot, w_tot, sig


def ks_admit(
    batch_df: DataFrame,
    store_path: str,
    value_col: str = "n_chars",
    delta: int = 100,
    alpha_coeff: float = 1.358,
) -> DataFrame:
    """STREAMING Kolmogorov–Smirnov drift monitor — the fine-grained
    companion of :func:`psi_admit` (round 12: the batch pair is KS+PSI,
    so the streaming admission pair should be too): score each arriving
    batch's ``value_col`` ECDF against a COMPACT t-digest history at
    ``{store_path}/centroids`` (per-batch centroid sets from
    operators/sketches.tdigest_centroids, appended — never raw values,
    so the store is O(2δ) rows per batch at ANY batch size), then fold
    the batch's own digest into the history. Same
    score-before-append crash contract as the admission family.

    Statistic: D = sup |ECDF_batch(v) − CDF_hist(v)| evaluated on the
    union grid of the batch's distinct values and the history's
    centroid means. CDF_hist linearly interpolates cumulative weight
    over centroid MIDPOINT ranks — the same query convention as
    tdigest_quantiles, inverted (value→rank instead of rank→value),
    clamped to the extreme centroids' midranks. Both one-sided ECDF
    limits are checked at batch values (a step function's sup needs
    v⁻), and the left limit at pure centroid knots; between
    consecutive union-grid points both functions are linear, so the
    sup over the real line IS the max over these evaluations (of the
    approximated CDF — the digest itself is within O(1/δ) of the true
    history ECDF mid-distribution, best near the median, the
    documented t-digest bound). Rejection uses the same c(α)·
    sqrt((n1+n2)/(n1·n2)) critical value as :func:`ks_drift` with
    n2 = the history's total weight (EXACT — digests preserve total
    weight).

    Spark shape: one grid union (batch distinct-value counts +
    broadcast-small centroid table), ONE ordered window carrying the
    interpolation knots (no broadcast-nested-loop range join), one max
    agg. The window is unpartitioned but grid-sized — batch distinct
    values + O(2δ·batches-since-compaction) centroids, never the raw
    corpus. Cold start: the first batch has no reference — it returns
    (n_batch, 0, NULL, false) and seeds the store; alert on the NULL
    upstream if cold-start admission must be manual.

    Returns one row: (n_batch, n_hist, ks_stat, reject_95). Compaction:
    :func:`compact_ks_store` re-merges the centroid store in a quiet
    window; the merged digest is a (deterministic) re-clustering, so scores
    across a compaction agree within digest accuracy, not bitwise.
    """
    scored, tot, w_tot, sig = _digest_scored_grid(
        batch_df, store_path, value_col, delta
    )
    fh = F.col("fh")
    e_le = F.col("e_le")
    e_lt = F.col("e_lt")
    d = F.greatest(F.abs(e_le - fh), F.abs(e_lt - fh))
    # GLOBAL max agg + 1-row scalar joins (round-13: the chi2_admit
    # zero-row hardening applied family-wide) — a batch whose
    # value_col is all NULL on an empty history has an EMPTY grid, and
    # a groupBy over it would emit zero rows, breaking the
    # one-row-per-batch contract callers' collect()[0] relies on
    maxd = scored.agg(F.max(d).alias("ks_stat"))
    out = (
        tot.join(F.broadcast(w_tot))
        .join(F.broadcast(maxd))
        .select(
            "n_batch",
            F.round("w_hist", 0).cast("bigint").alias("n_hist"),
            F.when(
                (F.col("w_hist") > 0) & (F.col("n_batch") > 0),
                F.col("ks_stat"),
            ).alias("ks_stat"),
            # try_divide: n_batch = 0 (all-NULL batch on a seeded
            # store) would DIVIDE_BY_ZERO under ANSI before the
            # coalesce(False) could mask it
            F.coalesce(
                (F.col("w_hist") > 0)
                & (
                    F.col("ks_stat")
                    > F.lit(alpha_coeff)
                    * F.sqrt(
                        F.try_divide(
                            F.col("n_batch") + F.col("w_hist"),
                            F.col("n_batch") * F.col("w_hist"),
                        )
                    )
                ),
                F.lit(False),
            ).alias("reject_95"),
        )
        .localCheckpoint(eager=True)
    )
    sig.write.mode("append").parquet(f"{store_path}/centroids")
    return out


def compact_ks_store(
    spark, store_path: str, delta: int = 100,
    bytes_per_file: int = 128 << 20,
) -> None:
    """Store-lifecycle companion to :func:`ks_admit`: re-merge the
    appended per-batch centroid sets into one ≤2δ-row digest via
    tdigest_merge under the :func:`stores.compact` quiet-window
    contract. Total weight is preserved exactly; subsequent KS scores
    agree within digest accuracy (a merge is a deterministic
    re-clustering, not a row-identical rewrite — the documented
    t-digest trade)."""
    from .sketches import tdigest_merge

    stores.compact(
        spark, store_path,
        {"centroids": {"required": "mean double, weight double"}},
        lambda live, _: {
            "centroids": tdigest_merge(live["centroids"], [], delta=delta)
        },
        bytes_per_file=bytes_per_file,
    )


def w1_admit(
    batch_df: DataFrame,
    store_path: str,
    value_col: str = "n_chars",
    delta: int = 100,
    threshold: float | None = None,
) -> DataFrame:
    """STREAMING Wasserstein-1 drift monitor (round 13 — completes the
    admission-family symmetry: batch KS/PSI/W1/chi2 now all have a
    streaming sibling): score each arriving batch's ``value_col``
    ECDF against the SAME compact t-digest centroid history
    :func:`ks_admit` maintains at ``{store_path}/centroids`` — the
    two monitors can share one store, KS reading the sup gap and W1
    the area between the curves. Same score-before-append crash
    contract; store growth is O(2δ) rows per batch at any batch size;
    :func:`compact_ks_store` serves both.

    Statistic: W1 = ∫ |ECDF_batch(v) − CDF_hist(v)| dv over the hull
    of the union grid (batch distinct values + centroid means —
    outside the hull the digest CDF is clamped, so the documented
    integration domain is the hull, matching the batch-mode
    :func:`w1_drift`'s finite-grid integral). Between consecutive
    grid points the batch ECDF is CONSTANT and the digest CDF LINEAR,
    so the gap is linear and each segment integrates exactly: with
    endpoint gaps a, b and width Δv the piece is Δv·(|a|+|b|)/2 when
    a·b ≥ 0 and Δv·(a²+b²)/(2(|a|+|b|)) when the gap crosses zero
    inside the segment (|a−b| = |a|+|b| there). One lead() on the
    grid window the shared builder already orders — no extra
    exchange vs ks_admit.

    W1 carries ``value_col``'s units, so there is no distribution-free
    critical value (unlike KS): ``threshold`` is the caller's alert
    level in those units; ``shifted`` is always false when it is
    None. Cold start (empty history): w1_dist NULL, w1_defined false,
    the batch seeds the store — alert upstream on the NULL if manual
    cold-start admission is required. Zero-row-proof like the whole
    family post-round-13: global aggs + 1-row scalar joins, ONE row
    out per batch always — (n_batch, n_hist, w1_dist, w1_defined,
    shifted), a checkpoint attached to itself
    (``cacheutil.release(result)``)."""
    scored, tot, w_tot, sig = _digest_scored_grid(
        batch_df, store_path, value_col, delta
    )
    order = Window.orderBy("v", F.col("is_knot").desc())
    seg = scored.select(
        "v",
        "is_knot",
        (F.col("e_le") - F.col("fh")).alias("a"),
        (F.col("e_le") - F.lead("fh").over(order)).alias("b"),
        (F.lead("v").over(order) - F.col("v")).alias("dv"),
    )
    piece = F.col("dv") * F.when(
        F.col("a") * F.col("b") >= 0,
        (F.abs("a") + F.abs("b")) / F.lit(2.0),
    ).otherwise(
        (F.col("a") * F.col("a") + F.col("b") * F.col("b"))
        / (F.lit(2.0) * (F.abs("a") + F.abs("b")))
    )
    # the last grid row (NULL lead) contributes nothing; sum(NULL-safe)
    # via coalesce keeps a single-point grid's W1 = 0 rather than NULL
    w1 = seg.agg(
        F.sum(F.coalesce(piece, F.lit(0.0))).alias("w1_raw")
    )
    with Frames() as frames:
        out = frames.pin(
            tot.join(F.broadcast(w_tot))
            .join(F.broadcast(w1))
            .select(
                "n_batch",
                F.round("w_hist", 0).cast("bigint").alias("n_hist"),
                # gated on BOTH sides being populated (round-14, ADVICE):
                # an all-NULL batch on a seeded store integrates NULL gaps
                # to a misleading 0.0 — report NULL and let w1_defined
                # carry the verdict
                F.when(
                    (F.col("w_hist") > 0) & (F.col("n_batch") > 0),
                    F.col("w1_raw"),
                ).alias("w1_dist"),
                ((F.col("w_hist") > 0) & (F.col("n_batch") > 0)).alias(
                    "w1_defined"
                ),
                (
                    F.coalesce(
                        F.when(
                            (F.col("w_hist") > 0) & (F.col("n_batch") > 0),
                            F.col("w1_raw"),
                        )
                        > F.lit(threshold),
                        F.lit(False),
                    )
                    if threshold is not None
                    else F.lit(False)
                ).alias("shifted"),
            ),
            eager=True,
        )
        sig.write.mode("append").parquet(f"{store_path}/centroids")
        return frames.attach(out)
