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

from ..session import local_frame
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
    return local_frame(
        spark, data, "expectation string, n_violations bigint, n_rows bigint"
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
    rate_df = local_frame(
        spark, list(rates.items()), f"{class_col} string, __rate int"
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


def _two_sample(cells: DataFrame, keys: Sequence[str]) -> DataFrame:
    """The exact two-sample drift statistics, written once for every
    exact monitor in this module (batch, rolling and admission).

    ``cells`` is a zero-filled count grid (``keys``…, axis, cur, ref):
    one row per key and axis point, where ``cur`` and ``ref`` are the
    two samples' counts at that point. The axis column's name picks
    the statistic:

    - ``v``, an ordered value grid: the KS and W1 numerators. Both
      ECDFs step only at grid points, so with running counts C_cur and
      C_ref the scaled gap is |C_cur·n_ref − C_ref·n_cur|, in
      DECIMAL(38,0). ``ks_int`` is its max and ``w1_int`` the sum of
      gap·Δv (Δv = next v − v as BIGINT, 0 at the last point). Then
      KS = ks_int/(n_cur·n_ref) and W1 = w1_int/(n_cur·n_ref): one
      division at the end.
    - ``bucket``, every bucket of the key present: ``psi``, the
      add-one-smoothed Σ (p−q)·ln(p/q), with p = (cur+1)/(n_cur+B),
      q = (ref+1)/(n_ref+B) and B the key's bucket count. Each term is
      rounded to DECIMAL(28,12), so the sum does not depend on order.
    - ``c``, every category present in either sample: χ² of the 2×k
      table, Σ D²/(cur+ref) / (n_cur·n_ref) with n = n_cur + n_ref and
      D = cur·n − n_cur·(cur+ref) in DECIMAL(38,0). The terms are
      rounded to DECIMAL(38,12); ``s`` is their sum, ``k`` the number
      of categories, ``chi2`` is NULL when a sample is empty, and
      ``reject_95`` compares it with the Wilson–Hilferty 95% critical
      value df·(1 − 2/(9df) + z₀.₉₅·√(2/(9df)))³ at df = k − 1 (the
      divisor floored at 1, so df = 0 gives a critical value of 0).

    Returns one row per key with ``n_cur``, ``n_ref`` and the axis's
    columns; with no ``keys``, exactly one row, even over an empty
    grid (NULL sums, k = 0). Every count stays an exact integer and
    the only floats are per-term ratios, so the DuckDB oracles replay
    each value bit for bit."""
    keys = list(keys)
    axis = cells.columns[len(keys)]
    cur, ref = F.col("cur"), F.col("ref")
    order = Window.partitionBy(*keys).orderBy(axis)
    whole = order.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    n_cur, n_ref = F.sum(cur).over(whole), F.sum(ref).over(whole)
    if axis == "v":
        upto = order.rowsBetween(Window.unboundedPreceding, 0)
        gap = F.abs(
            F.sum(cur).over(upto).cast("decimal(38,0)") * n_ref
            - F.sum(ref).over(upto).cast("decimal(38,0)") * n_cur
        )
        v = F.col("v").cast("bigint")
        terms = [gap.alias("gap"), (F.lead(v).over(order) - v).alias("dv")]
        stats = [
            F.max("gap").alias("ks_int"),
            F.sum(F.col("gap") * F.coalesce("dv", F.lit(0)))
            .cast("decimal(38,0)")
            .alias("w1_int"),
        ]
    elif axis == "bucket":
        nb = F.count(F.lit(1)).over(whole)
        p = (cur + F.lit(1)).cast("double") / (n_cur + nb).cast("double")
        q = (ref + F.lit(1)).cast("double") / (n_ref + nb).cast("double")
        term = F.round((p - q) * F.log(p / q), 12).cast("decimal(28,12)")
        terms = [term.alias("t")]
        stats = [F.sum("t").cast("double").alias("psi")]
    else:
        d = cur.cast("decimal(38,0)") * (n_cur + n_ref) - n_cur.cast(
            "decimal(38,0)"
        ) * (cur + ref)
        term = F.round((d * d).cast("double") / (cur + ref).cast("double"), 12)
        terms = [term.cast("decimal(38,12)").alias("t")]
        stats = [F.sum("t").cast("double").alias("s"), F.count(F.lit(1)).alias("k")]
    out = (
        cells.select(*keys, "cur", "ref", *terms)
        .groupBy(*keys)
        .agg(F.sum("cur").alias("n_cur"), F.sum("ref").alias("n_ref"), *stats)
    )
    if axis != "c":
        return out
    dof = (F.col("k") - F.lit(1)).cast("double")
    dofc = F.greatest(dof, F.lit(1.0))
    wh = F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * dofc) + F.lit(
        1.6448536269514722
    ) * F.sqrt(F.lit(2.0) / (F.lit(9.0) * dofc))
    return out.withColumn("chi2", F.try_divide(F.col("s"), _pairs())).withColumn(
        "reject_95", F.col("chi2") > dof * wh * wh * wh
    )


def _pairs() -> Column:
    """n_cur·n_ref in DOUBLE: the one divisor of the integer statistics."""
    return F.col("n_cur").cast("double") * F.col("n_ref").cast("double")


def _per_slice(
    df: DataFrame,
    group_col: str,
    axis: Column,
    name: str,
    *cols: Column | str,
    points: DataFrame | None = None,
) -> DataFrame:
    """The batch monitors: score every slice of ``group_col`` against
    the rest of the corpus. The (slice, ``axis``) counts of ``df`` are
    pinned; each slice gets a :func:`_two_sample` grid row (axis
    column ``name``) at every point seen in any slice, or at every row
    of ``points`` when given, with ref = all slices' count − cur.
    Returns (``group_col``, n_source, n_rest, *``cols``), the pin
    attached (``cacheutil.release(result)`` frees it)."""
    with Frames() as frames:
        counts = frames.pin(
            df.groupBy(group_col, axis.alias(name)).agg(F.count(F.lit(1)).alias("cnt")),
            eager=True,
        )
        allc = counts.groupBy(name).agg(F.sum("cnt").alias("tot"))
        zero = (
            counts.select(group_col)
            .distinct()
            .crossJoin(F.broadcast(allc.select(name) if points is None else points))
            .withColumn("cnt", F.lit(0).cast("bigint"))
        )
        cells = (
            counts.unionByName(zero)
            .groupBy(group_col, name)
            .agg(F.sum("cnt").alias("cur"))
            .join(F.broadcast(allc), name, "left")
            .select(
                group_col, name, "cur",
                (F.coalesce("tot", F.lit(0)) - F.col("cur")).alias("ref"),
            )
        )
        return frames.attach(
            _two_sample(cells, [group_col]).select(
                group_col,
                F.col("n_cur").alias("n_source"),
                F.col("n_ref").alias("n_rest"),
                *cols,
            ),
            counts,
        )


def _join_null_safe(
    left: DataFrame, right: DataFrame, keys: Sequence[str], how: str
) -> DataFrame:
    """``left.join(right, keys, how)`` with a NULL key equal to a NULL
    key, so a NULL series keeps its rows. ``how`` is inner, left or
    left_semi; the key columns come from ``left``."""
    tmp = {k: f"__r_{k}" for k in keys}
    right = right.select(
        *[F.col(k).alias(t) for k, t in tmp.items()],
        *[c for c in right.columns if c not in tmp],
    )
    cond = [F.col(k).eqNullSafe(F.col(t)) for k, t in tmp.items()]
    return left.join(right, cond, how).drop(*tmp.values())


def _trailing(
    counts: DataFrame,
    keys: Sequence[str],
    axis: str,
    ref_weeks: int,
    out_weeks: DataFrame | None,
) -> DataFrame:
    """The rolling monitors' :func:`_two_sample` grid: each week w of
    each series against the summed counts of its trailing weeks
    [w − ``ref_weeks``, w − 1]. ``counts`` is (``keys``…, week,
    ``axis``, cnt) with unique keys; the grid is (``keys``…, w,
    ``axis``, cur, ref). ``out_weeks`` (``keys``…, w) restricts the
    weeks returned; their reference still reads every week. A NULL
    key is a series of its own.

    Each count row is shifted to weeks +0…+``ref_weeks``: shift 0 is
    its week's ``cur``, the others its later weeks' ``ref``, and one
    grouped sum aligns both samples."""
    keys = list(keys)
    weeks = counts.select(*keys, F.col("week").alias("w")).distinct()
    if out_weeks is not None:
        weeks = _join_null_safe(weeks, out_weeks, [*keys, "w"], "left_semi")
    k = F.col("k")
    shifted = counts.select(
        *keys, "week", axis, "cnt",
        F.explode(F.sequence(F.lit(0), F.lit(ref_weeks))).alias("k"),
    ).select(
        *keys,
        F.date_add(F.col("week"), (k * 7).cast("int")).alias("w"),
        axis,
        F.when(k == 0, F.col("cnt")).alias("cur"),
        F.when(k > 0, F.col("cnt")).alias("ref"),
    )
    grid = shifted.groupBy(*keys, "w", axis).agg(
        F.sum("cur").alias("cur"), F.sum("ref").alias("ref")
    )
    return _join_null_safe(grid, weeks, [*keys, "w"], "left_semi").select(
        *keys,
        "w",
        axis,
        F.coalesce("cur", F.lit(0)).cast("bigint").alias("cur"),
        F.coalesce("ref", F.lit(0)).cast("bigint").alias("ref"),
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

    NULL values are excluded (they carry no distribution information).
    D is exact on the distinct-value grid (:func:`_two_sample`, ``v``
    axis; pinned counts as in :func:`_per_slice`). Returns
    (``group_col``, n_source, n_rest, ks_stat, reject_95).
    """
    ks = F.col("ks_int").cast("double") / _pairs()
    crit = F.lit(alpha_coeff) * F.sqrt(
        (F.col("n_cur") + F.col("n_ref")).cast("double") / _pairs()
    )
    return _per_slice(
        df.filter(F.col(value_col).isNotNull()), group_col, F.col(value_col), "v",
        ks.alias("ks_stat"), (ks > crit).alias("reject_95"),
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

    NULL values are excluded. Bucket ids are integer arithmetic
    ((v−min)·B div (max−min+1)), the same in both engines; the sum is
    :func:`_two_sample`'s ``bucket`` axis over all ``n_buckets``
    buckets. Returns (``group_col``, n_source, n_rest, psi, shifted).
    """
    df = df.filter(F.col(value_col).isNotNull())
    rng = df.agg(
        F.min(value_col).cast("bigint").alias("mn"),
        F.max(value_col).cast("bigint").alias("mx"),
    )
    bucketed = df.join(F.broadcast(rng)).select(
        group_col,
        ((F.col(value_col).cast("bigint") - F.col("mn")) * F.lit(n_buckets)).alias(
            "__num"
        ),
        (F.col("mx") - F.col("mn") + F.lit(1)).alias("__den"),
    )
    return _per_slice(
        bucketed, group_col, F.expr("__num DIV __den"), "bucket",
        "psi", (F.col("psi") > F.lit(0.25)).alias("shifted"),
        points=df.sparkSession.range(0, n_buckets).select(F.col("id").alias("bucket")),
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

    NULL values are excluded. Both ECDFs are step functions, so the
    integral is the exact finite sum over the sorted distinct-value
    grid (:func:`_two_sample`, ``v`` axis, Δv in BIGINT units; a
    single-value grid gives W1 = 0). Returns (``group_col``,
    n_source, n_rest, w1_dist).
    """
    return _per_slice(
        df.filter(F.col(value_col).isNotNull()), group_col, F.col(value_col), "v",
        (F.col("w1_int").cast("double") / _pairs()).alias("w1_dist"),
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
    the two samples s ∈ {g, rest}, E_sc = n_s·ct_c/n, in the collapsed
    integer form of :func:`_two_sample`'s ``c`` axis, with its
    Wilson–Hilferty 95% flag at df = (#categories in the corpus − 1).

    NULL categories are excluded; a category absent from g counts 0
    there. Returns (``group_col``, n_source, n_rest, df_chi2, chi2,
    reject_95).
    """
    return _per_slice(
        df.filter(F.col(cat_col).isNotNull()), group_col, F.col(cat_col), "c",
        (F.col("k") - F.lit(1)).alias("df_chi2"),
        # a plain division, as ks_drift's and w1_drift's: a corpus of one
        # slice has no rest, and the batch family raises there
        (F.col("s") / _pairs()).alias("chi2"),
        "reject_95",
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
    fact-scan aggregation to (series, week, v) counts; that spine is
    EXPLODED to weeks +0…+ref_weeks (bounded ×(``ref_weeks``+1) row
    growth, never fact-sized) and ONE grouped sum aligns each week's
    cur with its trailing ref (a NULL series is a series of its own);
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

    KS and W1 are :func:`_two_sample` over the week-vs-trailing grid;
    PSI is the same cells folded to ``n_buckets`` equal-width buckets
    over the GLOBAL value hull. ``counts`` is read several times, so
    it is pinned once; the pin is attached to the result
    (``cacheutil.release(result)`` frees it)."""
    if ref_weeks < 1:
        raise ValueError("need ref_weeks >= 1")
    g = group_col
    with Frames() as frames:
        counts = frames.pin(counts, eager=True)
        cells = _trailing(counts, [g], "v", ref_weeks, out_weeks)
        hull = counts.agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
        # integer DIV (psi_drift's edge convention); v ≥ lo always
        bucket = F.least(
            F.lit(n_buckets - 1).cast("bigint"),
            F.expr(f"(v - lo) * {n_buckets} DIV (hi - lo + 1)"),
        )
        folded = (
            cells.join(F.broadcast(hull))
            .groupBy(g, "w", bucket.alias("bucket"))
            .agg(F.sum("cur").alias("bc"), F.sum("ref").alias("br"))
        )
        buckets = counts.sparkSession.range(0, n_buckets).select(
            F.col("id").alias("bucket")
        )
        grid = cells.select(g, "w").distinct().crossJoin(F.broadcast(buckets))
        bcells = _join_null_safe(grid, folded, [g, "w", "bucket"], "left").select(
            g, "w", "bucket",
            F.coalesce("bc", F.lit(0)).cast("bigint").alias("cur"),
            F.coalesce("br", F.lit(0)).cast("bigint").alias("ref"),
        )
        psi = _two_sample(bcells, [g, "w"]).select(g, "w", "psi")
        defined = (F.col("n_cur") > 0) & (F.col("n_ref") > 0)
        return frames.attach(
            _join_null_safe(_two_sample(cells, [g, "w"]), psi, [g, "w"], "inner")
            .select(
                g,
                F.col("w").alias("week_start"),
                "n_cur",
                "n_ref",
                F.when(defined, F.col("ks_int").cast("double") / _pairs()).alias(
                    "ks_stat"
                ),
                F.when(defined, F.col("w1_int").cast("double") / _pairs()).alias(
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

    Spark shape: one fact-scan (week, category) count agg; that spine
    exploded to weeks +0…+``ref_weeks`` (bounded growth, never
    fact-sized) and summed once per (week, category) into cur and
    ref; one week-grain agg. Returns
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
    panel, unlike the numeric panel's PSI hull). χ² is
    :func:`_two_sample`'s ``c`` axis over the week∪reference
    categories; a week with an empty reference keeps its row with NULL
    statistics and ``drift_defined`` false. The pinned ``counts`` is
    attached to the result, as in :func:`rolling_drift_from_counts`."""
    if ref_weeks < 1:
        raise ValueError("need ref_weeks >= 1")
    with Frames() as frames:
        counts = frames.pin(counts, eager=True)
        st = _two_sample(_trailing(counts, [], "c", ref_weeks, out_weeks), ["w"])
        defined = (F.col("n_cur") > 0) & (F.col("n_ref") > 0)
        return frames.attach(
            st.select(
                F.col("w").alias("week_start"),
                "n_cur",
                "n_ref",
                F.when(defined, F.col("k") - F.lit(1)).alias("df_chi2"),
                F.when(defined, F.col("chi2")).alias("chi2"),
                F.coalesce(F.when(defined, F.col("reject_95")), F.lit(False)).alias(
                    "reject_95"
                ),
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
    The score is :func:`_two_sample`'s ``bucket`` axis, as in
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
            hist = local_frame(spark, [], "bucket bigint, cnt bigint")
        cells = (
            spark.range(0, n_buckets)
            .select(F.col("id").alias("bucket"))
            .join(bcounts.withColumnRenamed("cnt", "cur"), "bucket", "left")
            .join(
                hist.groupBy("bucket").agg(F.sum("cnt").cast("bigint").alias("ref")),
                "bucket",
                "left",
            )
            .select(
                "bucket",
                F.coalesce("cur", F.lit(0)).alias("cur"),
                F.coalesce("ref", F.lit(0)).alias("ref"),
            )
        )
        out = frames.pin(
            _two_sample(cells, []).select(
                F.col("n_cur").alias("n_batch"),
                F.col("n_ref").alias("n_hist"),
                "psi",
                (F.col("psi") > F.lit(0.25)).alias("shifted"),
            ),
            eager=True,
        )
        stores.append(bcounts, store_path, "hist")
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

    The statistic is chi2_drift's (:func:`_two_sample`'s ``c`` axis)
    with (batch, history) as the two samples, over the
    batch∪history category union. The cold start (empty history)
    yields a NULL statistic with ``chi2_defined`` false rather than a
    fabricated reference (unlike PSI, chi-square has no natural
    uniform fallback). An all-NULL batch on an empty history still
    returns its row: n_batch = n_hist = 0, df_chi2, chi2 and
    reject_95 NULL, chi2_defined false.

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
            hist = local_frame(spark, [], "c string, cnt bigint")
        cells = (
            bcounts.withColumnRenamed("cnt", "cur")
            .join(
                hist.groupBy("c").agg(F.sum("cnt").cast("bigint").alias("ref")),
                "c",
                "full_outer",
            )
            .select(
                "c",
                F.coalesce("cur", F.lit(0)).cast("bigint").alias("cur"),
                F.coalesce("ref", F.lit(0)).cast("bigint").alias("ref"),
            )
        )
        n_batch = F.coalesce("n_cur", F.lit(0))
        n_hist = F.coalesce("n_ref", F.lit(0))
        out = frames.pin(
            _two_sample(cells, []).select(
                n_batch.alias("n_batch"),
                n_hist.alias("n_hist"),
                F.when(F.col("k") > 0, F.col("k") - F.lit(1)).alias("df_chi2"),
                "chi2",
                ((n_batch > 0) & (n_hist > 0)).alias("chi2_defined"),
                "reject_95",
            ),
            eager=True,
        )
        stores.append(bcounts, store_path, "cats")
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
        hist = local_frame(spark, [], "mean double, weight double")

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

    Returns one row: (n_batch, n_hist, ks_stat, reject_95), a
    checkpoint attached to itself (``cacheutil.release(result)``). Compaction:
    :func:`compact_ks_store` re-merges the centroid store between
    appends; the merged digest is a (deterministic) re-clustering, so scores
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
    with Frames() as frames:
        out = frames.pin(
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
            ),
            eager=True,
        )
        stores.append(sig, store_path, "centroids")
        return frames.attach(out)


def compact_ks_store(
    spark, store_path: str, delta: int = 100,
    bytes_per_file: int = 128 << 20,
) -> None:
    """Store-lifecycle companion to :func:`ks_admit`: re-merge the
    appended per-batch centroid sets into one ≤2δ-row digest via
    tdigest_merge through :func:`stores.compact` (no appends
    meanwhile). Total weight is preserved exactly; subsequent KS scores
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
        stores.append(sig, store_path, "centroids")
        return frames.attach(out)
