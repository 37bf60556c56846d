"""Distributed suffix array + LCP — the exact-substring backbone of
Lee et al.'s ExactSubstr deduplication (arXiv:2107.06499 §4.1),
round 7's completion of the family: ``duplicate_substring_spans``
approximates duplicated runs with fixed token windows; the suffix
array finds EXACT character-level duplicated substrings of any
length with no window quantization.

Construction is prefix doubling (Manber–Myers; the distributed
formulation of Flick & Aluru, SC 2015): every suffix carries a rank
for its first ``2^j`` characters; one round joins each position to
its ``+2^j`` neighbor's rank and dense-re-ranks the pair — packed
into one bigint ``r1*(n+1)+r2`` while ``n`` is below the pack-safe
bound (floor(sqrt(2^63))-1 ≈ 3.04e9 positions ≈ 3 GB of text), and
via the two-column :func:`..ranking.global_dense_rank_pair` above it
(the packed key would silently wrap with ANSI off) — O(log maxlen)
rounds, each a keyed shuffle, with dense ranking bucket-routed, NO
single-task global sort anywhere. Convergence: each
round's rank partition strictly refines or is final, so an unchanged
distinct-rank count is the fixpoint (identical cross-doc suffixes
keep equal dense ranks forever — correct, they ARE equal) and a
count equal to the row count means all suffixes already distinct.

Suffix order semantics match plain string comparison of the per-doc
suffixes (binary/codepoint order — equal in Spark and DuckDB for the
fixtures' ASCII; a missing right-rank packs as 0, so a prefix sorts
before its extensions exactly like string compare). The DuckDB oracle
replays the whole thing as ``row_number() OVER (ORDER BY
substr(text, pos+1), doc_id, pos)`` — the differential test that the
O(log n) distributed construction equals the definition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .cacheutil import Frames
from .ranking import global_dense_rank, global_dense_rank_pair, global_row_number

# Largest total suffix-position count n for which the doubling-round
# key ``rank*(n+1)+coalesce(r2,0)`` (rank, r2 <= n) stays below 2^63:
# (n+1)^2 - 1 < 2^63  =>  n <= floor(sqrt(2^63)) - 1. Beyond it the
# packed bigint would wrap silently (ANSI off) and corrupt ranks, so
# the round switches to the two-column pair rank instead.
_PACK_SAFE_N = 3_037_000_498


def _char_array(text):
    """Char array of ``text`` with the empty case correct: Spark's
    ``split('', '')`` returns ``['']`` (one phantom element), where
    the suffix-array definition (and the DuckDB oracle's
    ``range(length(t))``) has NO suffixes for length-0 text."""
    return F.when(F.length(text) > 0, F.split(text, "")).otherwise(
        F.array().cast("array<string>")
    )


def _suffix_chars(
    df: DataFrame, text_col: str, id_col: str, max_chars: int | None
) -> DataFrame:
    text = F.col(text_col)
    if max_chars is not None:
        text = F.substring(text, 1, max_chars)
    return df.select(
        F.col(id_col),
        F.posexplode(_char_array(text)).alias("pos", "__ch"),
    ).select(id_col, F.col("pos").cast("bigint").alias("pos"), "__ch")


def suffix_ranks(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_chars: int | None = None,
    n_buckets: int | None = None,
    keep_history: bool = False,
    pair_rank: bool | None = None,
):
    """Dense corpus-wide suffix ranks by prefix doubling: returns
    ``(id, pos, rank)`` where equal ranks mean IDENTICAL suffixes
    (cross-document included) and rank order is suffix string order.
    Every round is pinned (it is read twice per round) and replaces the
    last; the result holds the final table (with ``keep_history``,
    every level's) until ``cacheutil.release(result)``. The only
    driver-side values are the max suffix length, the convergence
    scalar, and the ALPHABET.

    Round 0 uses the classic pack-w shortcut: the distinct characters
    are a bounded artifact (collected, dense-ranked driver-side into
    a broadcast literal map), and the first ``w`` char ranks pack
    into one base-(A+1) bigint — not with w-1 self-joins but with one
    explode+sum (each position contributes its rank, scaled, to the
    ``w`` windows that contain it; absent tail positions contribute 0
    exactly like the doubling rounds' missing-rank-as-0). One shuffle
    buys a starting prefix of ``w`` ∈ {8,4,2,1} (largest with
    (A+1)^w < 2^62), cutting log2(w)+1 dense-rank rounds. A corpus
    with >10k distinct characters falls back to w=1 codepoint ranks
    map-side (no collect hazard — the alphabet read is capped).

    ``keep_history=True`` returns ``(final_frame, [(L, frame), ...])``
    — every doubling level's rank table with the prefix length L it
    resolves, the input to the rank-array LCP mode of
    :func:`duplicated_suffix_lcp`. Early convergence exits stay valid
    for that consumer: once the partition stops refining, every
    still-equal pair is a pair of IDENTICAL suffixes (handled by the
    final-rank shortcut), and every separated pair's LCP is below the
    last level, which the greedy descent can always express.

    ``pair_rank`` controls the doubling-round key form: ``None``
    (default) packs ``(rank, r2)`` into one bigint while the position
    count is <= ``_PACK_SAFE_N`` and switches to the overflow-safe
    two-column :func:`..ranking.global_dense_rank_pair` above it;
    ``True``/``False`` force one form (tests differential-check the
    two produce identical ranks)."""
    chars = _suffix_chars(df, text_col, id_col, max_chars)
    alpha = sorted(
        r[0] for r in chars.select("__ch").distinct().limit(10001).collect()
    )
    if not alpha:
        empty = chars.select(
            id_col, "pos", F.lit(None).cast("bigint").alias("rank")
        )
        return (empty, []) if keep_history else empty
    A = len(alpha)
    if A > 10000:
        # huge alphabet: codepoint ranks map-side, no packing (the
        # doubling rounds' base is n+1 and never depends on A)
        ranked0 = chars.select(
            id_col, "pos", F.ascii("__ch").cast("bigint").alias("__r0")
        )
        w = 1
    else:
        w = next(wi for wi in (8, 4, 2, 1) if (A + 1) ** wi < 2 ** 62)
        rmap = F.create_map(
            *[x for i, c in enumerate(alpha) for x in (F.lit(c), F.lit(i + 1))]
        )
        ranked0 = chars.select(
            id_col, "pos", rmap[F.col("__ch")].cast("bigint").alias("__r0")
        )
    if w == 1:
        key0 = ranked0.withColumnRenamed("__r0", "__key")
    else:
        scaled = ranked0.select(
            id_col,
            F.explode(
                F.array(*[
                    F.struct(
                        (F.col("pos") - F.lit(j)).alias("pos"),
                        (F.col("__r0") * F.lit((A + 1) ** (w - 1 - j))).alias("v"),
                    )
                    for j in range(w)
                ])
            ).alias("__s"),
        ).select(id_col, F.col("__s.pos").alias("pos"), F.col("__s.v").alias("v"))
        key0 = (
            scaled.filter(F.col("pos") >= 0)
            .groupBy(id_col, "pos")
            .agg(F.sum("v").alias("__key"))
        )
    with Frames() as frames:
        cur = frames.pin(
            global_dense_rank(key0, "__key", rank_col="rank", n_buckets=n_buckets)
            .select(id_col, "pos", "rank"),
            eager=True,
        )
        history = [(w, cur)]
        stats = cur.agg(
            F.count(F.lit(1)).alias("n"),
            F.max("rank").alias("r"),
            F.max(F.col("pos")).alias("p"),
        ).collect()[0]
        n, prev_r = stats["n"], stats["r"]
        maxlen = (stats["p"] or 0) + 1
        use_pack = (n <= _PACK_SAFE_N) if pair_rank is None else (not pair_rank)
        k = w
        while prev_r is not None and prev_r < n and k < maxlen:
            shifted = cur.select(
                id_col,
                (F.col("pos") - F.lit(k)).alias("pos"),
                F.col("rank").alias("__r2"),
            )
            paired = cur.join(shifted, [id_col, "pos"], "left")
            if use_pack:
                keyed = paired.withColumn(
                    "__key",
                    F.col("rank") * F.lit(n + 1) + F.coalesce(F.col("__r2"), F.lit(0)),
                )
                reranked = global_dense_rank(
                    keyed, "__key", rank_col="__nr", n_buckets=n_buckets
                )
            else:
                # pair rank orders (rank asc, __r2 asc nulls first) —
                # exactly the packed key's order, since coalesce(r2,0)=0
                # sorts before every real rank >= 1
                reranked = global_dense_rank_pair(
                    paired, "rank", "__r2", rank_col="__nr", n_buckets=n_buckets
                )
            # history levels stay held for the LCP descent
            cur = frames.pin(
                reranked.select(id_col, "pos", F.col("__nr").alias("rank")),
                eager=True,
                replaces=() if keep_history else (cur,),
            )
            new_r = cur.agg(F.max("rank")).collect()[0][0]
            if new_r == prev_r:  # partition stopped refining: fixpoint
                break
            history.append((2 * k, cur))
            prev_r = new_r
            k *= 2
        if keep_history:
            return frames.attach(cur, cur, *(f for _, f in history)), history
        return frames.attach(cur)


def suffix_array(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_chars: int | None = None,
    n_buckets: int | None = None,
) -> DataFrame:
    """The suffix array proper: ``(id, pos, sa_rank)`` with sa_rank a
    total 1-based order — suffix string order, identical suffixes
    tie-broken by ``(id, pos)`` (the oracle's ORDER BY). One exact
    :func:`global_row_number` over the dense ranks."""
    r = suffix_ranks(df, text_col, id_col, max_chars, n_buckets)
    return global_row_number(
        r, "rank", tiebreaks=[id_col, "pos"], rank_col="sa_rank",
        n_buckets=n_buckets,
    ).select(id_col, "pos", "sa_rank")


def _lcp_expr(aa, bb):
    """Longest-common-prefix length of two CHAR-ARRAY columns,
    map-side: first mismatching 1-based index minus one, else the
    shorter length. Takes pre-split arrays, not strings — a split
    inside the lambda body would re-evaluate per element (O(len²)
    per pair). Guard the empty case (Spark's sequence(1,0) would
    count DOWN)."""
    m = F.least(F.size(aa), F.size(bb))
    mismatch = F.filter(
        F.sequence(F.lit(1), m),
        lambda i: F.element_at(aa, i.cast("int"))
        != F.element_at(bb, i.cast("int")),
    )
    return F.when(m >= 1, F.coalesce(F.array_min(mismatch) - 1, m)).otherwise(
        F.lit(0)
    ).cast("bigint")


def duplicated_suffix_lcp(
    df: DataFrame,
    min_len: int = 15,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_chars: int | None = None,
    n_buckets: int | None = None,
    mode: str = "strings",
) -> DataFrame:
    """ExactSubstr's core signal from the suffix array: for every
    suffix, the longest common prefix with its SA-predecessor; an LCP
    ≥ ``min_len`` means the first ``lcp`` characters at ``(id, pos)``
    appear somewhere else in the corpus VERBATIM — the exact
    character-level analogue of ``duplicate_substring_spans``'s
    token-window runs. Returns ``(id, pos, lcp)`` filtered to
    ``lcp >= min_len``. The neighbor join is an equi-join on
    sa_rank = sa_rank+1; ``mode`` picks how LCP itself is computed:

    - ``"strings"`` — rebuild the two suffix strings and scan
      map-side (audit form: per-pair work O(suffix length), per-pair
      MEMORY O(suffix length) — fine at a bounded slice, quadratic
      per document at corpus scale).
    - ``"ranks"`` — the 100 TB form: greedy descent over the
      prefix-doubling rank tables the construction already built
      (``suffix_ranks(keep_history=True)``). Identical suffixes
      short-circuit on final-rank equality; otherwise each level L
      (descending) adds L to the LCP iff both positions carry equal
      level-L ranks at offset ``pos+lcp`` — two keyed left joins per
      level, O(log maxlen) levels — and the sub-``w`` remainder is a
      bounded (≤ w-1 chars) substring compare. No suffix string is
      ever materialized. Equivalence with "strings" is pinned in
      ``tests/test_suffixes.py``."""
    if mode == "ranks":
        return _lcp_via_ranks(df, min_len, text_col, id_col, max_chars, n_buckets)
    if mode != "strings":
        raise ValueError(f"mode must be 'strings' or 'ranks', got {mode!r}")
    sa = suffix_array(df, text_col, id_col, max_chars, n_buckets)
    text = F.col(text_col)
    if max_chars is not None:
        text = F.substring(text, 1, max_chars)
    docs = df.select(F.col(id_col), text.alias("__txt"))
    suf = sa.join(docs, id_col).select(
        id_col,
        "pos",
        "sa_rank",
        F.split(F.expr("substring(__txt, pos + 1)"), "").alias("__sufa"),
    )
    prev = suf.select(
        (F.col("sa_rank") + 1).alias("sa_rank"), F.col("__sufa").alias("__preva")
    )
    return (
        suf.join(prev, "sa_rank")
        .withColumn("lcp", _lcp_expr(F.col("__sufa"), F.col("__preva")))
        .filter(F.col("lcp") >= min_len)
        .select(id_col, "pos", "lcp")
    )


def _lcp_via_ranks(
    df: DataFrame,
    min_len: int,
    text_col: str,
    id_col: str,
    max_chars: int | None,
    n_buckets: int | None,
) -> DataFrame:
    """Rank-array LCP (see :func:`duplicated_suffix_lcp` mode docs)."""
    final, hist = suffix_ranks(
        df, text_col, id_col, max_chars, n_buckets, keep_history=True
    )
    if not hist:
        return final.select(id_col, "pos", F.col("rank").alias("lcp")).limit(0)
    w = hist[0][0]
    sa = global_row_number(
        final, "rank", tiebreaks=[id_col, "pos"], rank_col="sa_rank",
        n_buckets=n_buckets,
    )
    a = sa.select(
        F.col(id_col).alias("__ida"),
        F.col("pos").alias("__pa"),
        F.col("rank").alias("__fa"),
        "sa_rank",
    )
    b = sa.select(
        (F.col("sa_rank") + 1).alias("sa_rank"),
        F.col(id_col).alias("__idb"),
        F.col("pos").alias("__pb"),
        F.col("rank").alias("__fb"),
    )
    frame = a.join(b, "sa_rank").withColumn("__lcp", F.lit(0).cast("bigint"))
    for i, (L, tbl) in enumerate(reversed(hist)):
        ta = tbl.select(
            F.col(id_col).alias(f"__ja{i}"),
            F.col("pos").alias(f"__qa{i}"),
            F.col("rank").alias(f"__ra{i}"),
        )
        tb = tbl.select(
            F.col(id_col).alias(f"__jb{i}"),
            F.col("pos").alias(f"__qb{i}"),
            F.col("rank").alias(f"__rb{i}"),
        )
        frame = (
            frame.join(
                ta,
                (F.col("__ida") == F.col(f"__ja{i}"))
                & (F.col("__pa") + F.col("__lcp") == F.col(f"__qa{i}")),
                "left",
            )
            .join(
                tb,
                (F.col("__idb") == F.col(f"__jb{i}"))
                & (F.col("__pb") + F.col("__lcp") == F.col(f"__qb{i}")),
                "left",
            )
            .withColumn(
                "__lcp",
                F.col("__lcp")
                + F.when(
                    F.col(f"__ra{i}").isNotNull()
                    & (F.col(f"__ra{i}") == F.col(f"__rb{i}")),
                    F.lit(L),
                ).otherwise(F.lit(0)),
            )
            .drop(f"__ja{i}", f"__qa{i}", f"__ra{i}", f"__jb{i}", f"__qb{i}", f"__rb{i}")
        )
    text = F.col(text_col)
    if max_chars is not None:
        text = F.substring(text, 1, max_chars)
    docs_a = df.select(F.col(id_col).alias("__ida"), text.alias("__ta"))
    docs_b = df.select(F.col(id_col).alias("__idb"), text.alias("__tb"))
    frame = frame.join(docs_a, "__ida").join(docs_b, "__idb")
    if w > 1:
        resid = _lcp_expr(
            _char_array(F.expr(f"substring(__ta, __pa + __lcp + 1, {w - 1})")),
            _char_array(F.expr(f"substring(__tb, __pb + __lcp + 1, {w - 1})")),
        )
    else:
        resid = F.lit(0).cast("bigint")
    lcp = F.when(
        F.col("__fa") == F.col("__fb"), F.length("__ta") - F.col("__pa")
    ).otherwise(F.col("__lcp") + resid)
    return (
        frame.withColumn("lcp", lcp.cast("bigint"))
        .filter(F.col("lcp") >= min_len)
        .select(F.col("__ida").alias(id_col), F.col("__pa").alias("pos"), "lcp")
    )


def suffix_removal(
    df: DataFrame,
    min_len: int = 15,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_chars: int | None = None,
    n_buckets: int | None = None,
    lcp_mode: str = "strings",
) -> DataFrame:
    """Character-exact ExactSubstr REMOVAL (Lee et al. 2107.06499
    §4.1 acting half, suffix-array grade): every character covered by
    a ≥ ``min_len`` duplicated block is deleted EXCEPT the block's
    SA-first occurrence — :func:`duplicated_suffix_lcp` flags
    ``[pos, pos+lcp)`` for each suffix whose SA-predecessor shares
    the prefix (adjacent LCP is sufficient: the common prefix of any
    two suffixes is the min of adjacent LCPs between them), so the
    predecessor chain's head keeps its copy. The token-window
    analogue is ``dedup.substring_removal``; this one has no window
    quantization and no minimum-run granularity beyond ``min_len``.

    Plan shape: LCP spans → per-doc gaps-and-islands interval union
    (partitioned window over the spans only — spans-sized, not
    corpus-sized) → bounded per-doc cut list collected into an array
    → map-side higher-order rebuild over the char array (the
    ``substring_removal`` rebuild at character grain). Returns one
    row per input document:
    ``(id, clean_text, n_chars, n_chars_removed, n_spans)`` with
    untouched documents at zero counts. ``lcp_mode`` passes through
    to :func:`duplicated_suffix_lcp` (``"ranks"`` = the
    no-string-materialization 100 TB span discovery)."""
    spans = duplicated_suffix_lcp(
        df, min_len, text_col, id_col, max_chars, n_buckets, mode=lcp_mode
    ).select(id_col, F.col("pos").alias("s"), (F.col("pos") + F.col("lcp")).alias("e"))
    w_prev = (
        Window.partitionBy(id_col)
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = Window.partitionBy(id_col).orderBy("s", "e")
    merged = (
        spans.withColumn(
            "__brk",
            F.when(F.col("s") > F.max("e").over(w_prev), 1).otherwise(0),
        )
        .withColumn("__grp", F.sum("__brk").over(w_run))
        .groupBy(id_col, "__grp")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
    )
    cuts = merged.groupBy(id_col).agg(
        F.collect_list(F.struct("s", "e")).alias("__cuts")
    )
    text = F.col(text_col)
    if max_chars is not None:
        text = F.substring(text, 1, max_chars)
    base = df.select(F.col(id_col), _char_array(text).alias("__t"))
    joined = base.join(cuts, id_col, "left").select(
        id_col,
        "__t",
        F.coalesce(
            "__cuts", F.array().cast("array<struct<s:bigint,e:bigint>>")
        ).alias("__cuts"),
    )
    # guard the empty doc: sequence(0, -1) counts DOWN in Spark
    indexed = F.when(
        F.size("__t") > 0,
        F.zip_with(
            F.sequence(F.lit(0).cast("bigint"), (F.size("__t") - 1).cast("bigint")),
            F.col("__t"),
            lambda i, x: F.struct(i.alias("p"), x.alias("ch")),
        ),
    ).otherwise(F.array().cast("array<struct<p:bigint,ch:string>>"))
    kept = F.filter(
        indexed,
        lambda st: ~F.exists(
            F.col("__cuts"),
            lambda c: (st["p"] >= c["s"]) & (st["p"] < c["e"]),
        ),
    )
    return joined.select(
        id_col,
        F.array_join(F.transform(kept, lambda st: st["ch"]), "").alias("clean_text"),
        F.size("__t").cast("bigint").alias("n_chars"),
        (F.size("__t") - F.size(kept)).cast("bigint").alias("n_chars_removed"),
        F.size("__cuts").cast("bigint").alias("n_spans"),
    )
