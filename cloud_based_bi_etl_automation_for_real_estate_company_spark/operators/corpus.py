"""Corpus-level analytics for the training-data-pipeline extension:
TF-IDF term weighting and cross-source shingle-overlap (contamination
between corpus slices).

Design for 100 TB:

- **tfidf_by_group**: two aggregations over the exploded token stream
  (term frequency per group, document frequency per term), both with
  map-side partial aggregation on uniform hash keys; the corpus size
  N is a 1-row broadcast scalar, never a driver collect. Vocabulary
  joins are term-keyed — high-cardinality and uniform, so no skew.
- **source_overlap**: the pairwise Jaccard matrix between corpus
  slices, computed from the *distinct* (group, shingle) set. The
  self-join key is the shingle (high cardinality); per-group sizes
  are a tiny aggregate joined broadcast-style. Output is O(groups²),
  input shuffle is O(distinct shingles) — no doc×doc blow-up.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import shingles, tokens
from ..session import local_frame
from . import stores
from .cacheutil import Frames


def tfidf_by_group(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    group_col: str = "source",
) -> DataFrame:
    """Term weights per corpus slice: for every (group, term),
    tf = term occurrences in the group's documents, doc_freq = number
    of distinct documents (corpus-wide) containing the term, and
    tfidf = tf · ln(N / doc_freq) with N the corpus document count.

    Returns (group_col, term, tf, doc_freq, tfidf). Natural-log IDF,
    no smoothing — replayable exactly in ANSI SQL for the oracle.
    """
    tok = df.select(
        F.col(id_col), F.col(group_col), F.explode(tokens(text_col)).alias("term")
    )
    tf = tok.groupBy(group_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    doc_freq = (
        tok.select(id_col, "term")
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
    )
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        tf.join(doc_freq, "term")
        .join(F.broadcast(n_docs))
        .select(
            group_col,
            "term",
            "tf",
            "doc_freq",
            (
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("doc_freq"))
            ).alias("tfidf"),
        )
    )


def pack_sequences(
    df: DataFrame,
    budget: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    partitions: int | None = None,
    ntokens_col: str | None = None,
) -> DataFrame:
    """Greedy sequence packing: assign each document to a training bin
    of ``budget`` tokens, filling bins in document order — the step
    that turns a curated corpus into fixed-length training sequences.

    bin = floor(running_token_count_before_doc / budget), i.e. a doc
    opens a new bin when the previous docs have already filled the
    current one (docs longer than the budget take bins alone; we never
    split a doc — the trailing overflow is the packer's fill loss,
    visible in the per-bin token totals).

    Returns (id_col, n_tokens, bin_id). A single global ordering is a
    total sort; at 100 TB pass ``partitions`` to pack independently
    within md5-hash pack-groups instead — bins are then
    (pack_group, bin_id) pairs, each group sorts locally after one
    hash shuffle, and no stage ever sees the global order. The group
    hash is md5-derived (not Spark's murmur3) so the assignment is
    replayable in the SQL oracle and stable across engines.

    ``ntokens_col`` reuses an already-computed token count instead of
    re-tokenizing ``text_col`` — callers that chunked upstream pass
    the chunker's own count so bin accounting can never drift from the
    reported chunk sizes (re-splitting joined text disagrees on empty
    tokens from consecutive separators).
    """
    from pyspark.sql import Window

    n_tok = (
        F.col(ntokens_col).cast("bigint")
        if ntokens_col is not None
        else F.size(tokens(text_col)).cast("bigint")
    )
    base = df.select(F.col(id_col), n_tok.alias("n_tokens"))
    if partitions is None:
        w = Window.orderBy(id_col).rowsBetween(Window.unboundedPreceding, -1)
        before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        return base.select(
            id_col,
            "n_tokens",
            F.floor(before / F.lit(budget)).alias("bin_id"),
        )
    grp = F.pmod(
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10
        ).cast("bigint"),
        F.lit(partitions),
    )
    w = (
        Window.partitionBy("pack_group")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return base.withColumn("pack_group", grp).select(
        id_col,
        "n_tokens",
        "pack_group",
        F.floor(before / F.lit(budget)).alias("bin_id"),
    )


def chunk_documents(
    df: DataFrame,
    window: int = 64,
    stride: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Context-window chunking: split each document into overlapping
    token spans of ``window`` tokens every ``stride`` tokens (overlap =
    window − stride) — the step that shapes long documents into model
    context windows, keeping the overlap so no span boundary loses
    bidirectional context.

    Pure built-in expressions (sequence → explode → slice): the chunk
    count is ceil((n − overlap)/stride) (min 1), so the last chunk may
    be short rather than a token ever being dropped. Map-side only —
    zero shuffle at any scale; output rows ≈ input tokens / stride.
    """
    if not 0 < stride <= window:
        raise ValueError("need 0 < stride <= window")
    overlap = window - stride
    toks = tokens(text_col)
    n_chunks = F.greatest(
        F.lit(1).cast("bigint"),
        F.ceil((F.size(toks) - F.lit(overlap)) / F.lit(float(stride))),
    )
    base = df.select(
        F.col(id_col),
        toks.alias("__toks"),
        F.explode(F.sequence(F.lit(0).cast("bigint"), n_chunks - 1)).alias(
            "chunk_id"
        ),
    )
    piece = F.slice(
        F.col("__toks"), (F.col("chunk_id") * stride + 1).cast("int"), window
    )
    return base.select(
        id_col,
        "chunk_id",
        F.size(piece).cast("bigint").alias("n_chunk_tokens"),
        F.array_join(piece, " ").alias("chunk_text"),
    )


_SENT_BOUNDARY = r"([.!?])\s+"
# US (unit separator) — a control char no tokenizable text contains;
# the post-delimiter split marker in both engines (chr(30) in SQL)
_SENT_MARK = "\x1e"


def chunk_sentences(
    df: DataFrame,
    max_tokens: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SENTENCE-AWARE chunking (round 13 — the boundary-preserving
    sibling of :func:`chunk_documents`): split each document at
    sentence boundaries (a ``.``/``!``/``?`` followed by whitespace)
    and pack CONSECUTIVE WHOLE sentences greedily into chunks of at
    most ``max_tokens`` whitespace tokens — the chunking an LLM data
    pipeline actually runs, where a context window should never cut a
    sentence in half. Packing is the classic greedy rule: a sentence
    joins the open chunk unless that would exceed the budget, in
    which case it OPENS the next chunk — so a single sentence longer
    than ``max_tokens`` still lands whole in its own (oversized)
    chunk rather than ever being split; no overlap, no token dropped
    or duplicated (pinned by the reassembly property test).

    Spark shape: map-only, ZERO shuffle at any scale — the boundary
    regex is one ``regexp_replace`` (delimiter kept via ``$1`` +
    US-separator marker, so the split consumes only the inter-sentence
    whitespace), the greedy pack is ONE ``F.aggregate`` fold over the
    per-doc sentence-length array (sequential by nature, but the
    sequence is per-document and row-local — exactly what
    higher-order functions are for), and chunk assembly indexes the
    parallel (sentence, chunk-id) arrays back together. Documents
    with no non-empty sentence (empty/whitespace text) emit no rows
    — unlike chunk_documents' min-1 contract, a sentence chunker has
    nothing boundary-preserving to emit for them. Assembly is
    O(sentences × chunks) per doc; pair with length_clip upstream for
    pathological mega-documents. Returns (``id_col``, chunk_id,
    n_sentences, n_chunk_tokens, chunk_text)."""
    if max_tokens <= 0:
        raise ValueError("need max_tokens > 0")
    B = F.lit(max_tokens).cast("bigint")
    sents = F.filter(
        F.split(
            F.regexp_replace(F.col(text_col), _SENT_BOUNDARY, "$1" + _SENT_MARK),
            _SENT_MARK,
        ),
        lambda s: F.trim(s) != F.lit(""),
    )
    tcounts = F.transform(
        sents, lambda s: F.size(F.split(F.trim(s), " ")).cast("bigint")
    )
    zero = F.lit(0).cast("bigint")
    overflow = lambda acc, tc: (acc["fill"] > zero) & (acc["fill"] + tc > B)
    ids = F.aggregate(
        tcounts,
        F.struct(
            zero.alias("chunk"),
            zero.alias("fill"),
            F.array().cast("array<bigint>").alias("ids"),
        ),
        lambda acc, tc: F.struct(
            F.when(overflow(acc, tc), acc["chunk"] + 1)
            .otherwise(acc["chunk"])
            .alias("chunk"),
            F.when(overflow(acc, tc), tc)
            .otherwise(acc["fill"] + tc)
            .alias("fill"),
            F.concat(
                acc["ids"],
                F.array(
                    F.when(overflow(acc, tc), acc["chunk"] + 1).otherwise(
                        acc["chunk"]
                    )
                ),
            ).alias("ids"),
        ),
        lambda acc: acc["ids"],
    )
    base = df.select(
        F.col(id_col), sents.alias("__sents"), ids.alias("__ids")
    ).filter(F.size("__sents") > 0)
    sent_id = lambda i: F.element_at(
        F.col("__ids"), (i + F.lit(1)).cast("int")
    )
    chunks = F.transform(
        F.sequence(zero, F.element_at("__ids", -1)),
        lambda k: F.struct(
            k.alias("chunk_id"),
            F.size(F.filter(F.col("__ids"), lambda c: c == k))
            .cast("bigint")
            .alias("n_sentences"),
            F.array_join(
                F.filter(F.col("__sents"), lambda s, i: sent_id(i) == k), " "
            ).alias("chunk_text"),
        ),
    )
    return base.select(
        id_col, F.explode(chunks).alias("__ch")
    ).select(
        id_col,
        F.col("__ch.chunk_id").alias("chunk_id"),
        F.col("__ch.n_sentences").alias("n_sentences"),
        F.size(F.split(F.trim(F.col("__ch.chunk_text")), " "))
        .cast("bigint")
        .alias("n_chunk_tokens"),
        F.col("__ch.chunk_text").alias("chunk_text"),
    )


def source_mixture(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    alpha: float = 0.5,
) -> DataFrame:
    """Temperature-smoothed sampling weights per corpus slice: the
    multinomial mixture used to rebalance heterogeneous sources in a
    training mix — w_s ∝ p_s^alpha with p_s the slice's token share
    (alpha=1 keeps natural proportions, alpha→0 flattens toward
    uniform, upsampling small high-quality slices).

    Returns (group_col, n_docs, n_tokens, token_share, weight) with
    weights summing to 1. One aggregation shuffle on the group key;
    the corpus totals are a 1-row broadcast scalar.
    """
    per = df.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens(text_col)).cast("bigint")).alias("n_tokens"),
    )
    tot = per.agg(F.sum("n_tokens").alias("tot_tokens"))
    shared = per.join(F.broadcast(tot)).select(
        group_col,
        "n_docs",
        "n_tokens",
        (F.col("n_tokens").cast("double") / F.col("tot_tokens")).alias("token_share"),
    )
    # decimal-accumulated normalizer: associative, so z is identical
    # under any partitioning of the (possibly many) slice rows
    norm = shared.agg(
        F.sum(
            F.round(F.pow(F.col("token_share"), F.lit(alpha)), 12).cast(
                "decimal(28,12)"
            )
        )
        .cast("double")
        .alias("z")
    )
    return shared.join(F.broadcast(norm)).select(
        group_col,
        "n_docs",
        "n_tokens",
        "token_share",
        (F.pow(F.col("token_share"), F.lit(alpha)) / F.col("z")).alias("weight"),
    )


def source_overlap(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    shingle_k: int = 3,
) -> DataFrame:
    """Pairwise shingle-set Jaccard between corpus slices — the
    standard check for leakage/duplication *across* sources before
    mixing them into a training set.

    Returns (source_a, source_b, n_common, jaccard) for every slice
    pair sharing at least one word-k-gram, with source_a < source_b.
    Zero-overlap pairs are absent by construction (inner join).

    The distinct (group, shingle) set feeds three consumers (both
    self-join sides and the size aggregate), so it is pinned — one
    shingle explosion over the text instead of three. The pin is
    attached to the result; long-lived sessions free it after the
    final action via ``operators.cacheutil.release(result)``.
    """
    with Frames() as frames:
        sh = frames.pin(
            df.select(
                F.col(group_col).alias("g"),
                F.explode(F.array_distinct(shingles(text_col, shingle_k))).alias("sh"),
            ).distinct(),
            eager=False,
        )
        sizes = sh.groupBy("g").agg(F.count(F.lit(1)).alias("n_sh"))
        inter = (
            sh.alias("a")
            .join(sh.alias("b"), "sh")
            .filter(F.col("a.g") < F.col("b.g"))
            .groupBy(F.col("a.g").alias("source_a"), F.col("b.g").alias("source_b"))
            .agg(F.count(F.lit(1)).alias("n_common"))
        )
        return frames.attach(
            inter.join(F.broadcast(sizes).withColumnRenamed("g", "source_a"), "source_a")
            .withColumnRenamed("n_sh", "n_a")
            .join(F.broadcast(sizes).withColumnRenamed("g", "source_b"), "source_b")
            .withColumnRenamed("n_sh", "n_b")
            .select(
                "source_a",
                "source_b",
                "n_common",
                (
                    F.col("n_common").cast("double")
                    / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
                ).alias("jaccard"),
            ),
            sh,
        )


def token_spectrum(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Frequency-of-frequencies over the corpus vocabulary: how many
    distinct terms occur exactly ``occurrences`` times. The standard
    Zipf/heap diagnostic for a training mix — a healthy natural-text
    corpus shows a long power-law tail of hapaxes; template or
    machine-generated slices collapse the spectrum.

    Two hash aggregations (term counts, then count-of-counts), both
    with map-side partial aggregation; the second input is one row per
    distinct term, so shuffle volume drops with vocabulary, not corpus,
    size. Returns (occurrences, n_terms).
    """
    term_freq = (
        df.select(F.explode(tokens(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("occurrences"))
    )
    return term_freq.groupBy("occurrences").agg(F.count(F.lit(1)).alias("n_terms"))


def doc_entropy(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document unigram (Shannon) entropy in nats — a cheap quality
    signal: near-zero entropy flags degenerate/repetitive documents
    (one token over and over), abnormally high entropy flags
    gibberish; both are standard cut lines in corpus curation.

    Computed as H = ln(n) − Σ c·ln(c) / n over per-doc term counts
    (algebraically equal to −Σ p·ln p, but needs only two aggregates).
    Two doc-keyed shuffles, map-side combined; no driver math. The
    c·ln(c) terms accumulate in DECIMAL (each term rounded to 12 dp
    map-side) so the sum is associative — identical under any
    partitioning, like dsum for money.
    Returns (doc_id, n_tokens, entropy).
    """
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
    per = tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("cnt"))
    n = F.sum("cnt")
    term = F.round(F.col("cnt") * F.log(F.col("cnt").cast("double")), 12).cast(
        "decimal(28,12)"
    )
    return per.groupBy(id_col).agg(
        n.cast("bigint").alias("n_tokens"),
        (F.log(n.cast("double")) - F.sum(term).cast("double") / n).alias(
            "entropy"
        ),
    )


def unigram_nll(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document average negative log-likelihood under the corpus's
    own unigram LM — the declarative analogue of CCNet's LM-perplexity
    quality score (Wenzek et al., arXiv:1911.00359, with the 5-gram
    KenLM replaced by unigram stats so the whole pass is relational):
    nll(d) = −(1/|d|) Σᵢ ln(count(termᵢ)/N). Unlike ``doc_entropy``
    (doc-internal), this ranks documents against the corpus-wide
    distribution: low = stereotypical text, high = rare-token noise.

    The LM itself is derived from the per-(doc,term) counts — one
    extra term-keyed aggregation, no second corpus scan; N is a 1-row
    broadcast scalar; the scoring join is term-keyed (high-cardinality,
    uniform). Returns (doc_id, n_tokens, nll).
    """
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
    per = tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("cnt"))
    vocab = per.groupBy("term").agg(F.sum("cnt").alias("gcnt"))
    total = vocab.agg(F.sum("gcnt").cast("double").alias("n_total"))
    term = F.round(
        F.col("cnt") * F.log(F.col("gcnt") / F.col("n_total")), 12
    ).cast("decimal(28,12)")
    return (
        per.join(vocab, "term")
        .join(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.sum("cnt").cast("bigint").alias("n_tokens"),
            (-F.sum(term).cast("double") / F.sum("cnt")).alias("nll"),
        )
    )


def mixture_sample(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    alpha: float = 0.5,
    mixture: DataFrame | None = None,
) -> DataFrame:
    """APPLY the ``source_mixture`` temperature weights as a
    deterministic downsample — the step that turns computed mixture
    proportions into an actual training set. Each slice's keep-rate is
    (weight/token_share) scaled so the most-upweighted slice keeps
    everything (downsample-only; upsampling is an epoch-repeat concern,
    not a filter). Membership is a content-hash fraction against the
    rate — stable across runs/partitionings, no RNG, same contract as
    ``stratified_sample``.

    The rate table is slices-sized and broadcast; the filter itself is
    map-side (one md5 per doc). Returns the per-slice audit summary
    (group_col, n_docs, n_kept, rate).

    Pass ``mixture`` (a precomputed ``source_mixture`` result — e.g.
    the audit artifact a pipeline already materialized) to skip the
    weight-computation scan: the corpus is then read exactly ONCE,
    which is the 100 TB path.
    """
    # the slices-sized mixture table is referenced more than once by
    # the rate normalization — pin the internally-computed form so the
    # corpus-wide token-share scan behind it runs exactly once
    mix = (
        mixture
        if mixture is not None
        else source_mixture(df, text_col, group_col, alpha).localCheckpoint(
            eager=True
        )
    )
    rates = _mixture_rates(mix, group_col)
    frac = _content_frac(text_col)
    return (
        df.join(F.broadcast(rates), group_col)
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(frac < F.col("rate"), 1)).alias("n_kept"),
            F.min("rate").alias("rate"),
        )
    )


def _mixture_rates(mix: DataFrame, group_col: str) -> DataFrame:
    """(group, rate) keep-rate table from a ``source_mixture`` result:
    weight/token_share scaled so the most-upweighted slice keeps
    everything (downsample-only)."""
    rates = mix.select(
        group_col, (F.col("weight") / F.col("token_share")).alias("__r")
    )
    rmax = rates.agg(F.max("__r").alias("__rmax"))
    return rates.join(F.broadcast(rmax)).select(
        group_col, (F.col("__r") / F.col("__rmax")).alias("rate")
    )


def _content_frac(text_col: str):
    """Deterministic [0,1) fraction from the content hash — the same
    RNG-free membership contract as ``stratified_sample``."""
    return F.conv(F.substring(F.md5(F.col(text_col)), 1, 8), 16, 10).cast(
        "double"
    ) / F.lit(4294967296.0)


def mixture_apply(
    df: DataFrame,
    mixture: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Filter ``df`` down to the rows a precomputed ``source_mixture``
    keeps — the row-level counterpart of ``mixture_sample``'s audit
    summary, and the single-scan 100 TB path: the mixture table is a
    slices-sized artifact (typically materialized once per corpus
    build), its rate table is broadcast, and the filter is map-side
    (one md5 per doc), so the corpus itself is scanned exactly once.
    Same deterministic content-hash membership as ``mixture_sample``,
    so ``n_kept`` in the audit equals ``mixture_apply(...).count()``
    per slice. Returns ``df``'s rows/schema unchanged, filtered.
    """
    rates = _mixture_rates(mixture, group_col)
    return (
        df.join(F.broadcast(rates), group_col)
        .filter(_content_frac(text_col) < F.col("rate"))
        .select(*df.columns)
    )


def bigram_nll(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document average negative log-likelihood under the corpus
    BIGRAM LM — one order up from ``unigram_nll``, the next rung
    toward CCNet's 5-gram KenLM score: p(w₂|w₁) = c(w₁w₂)/c(w₁·) with
    both counts taken over the corpus's bigram positions (no
    smoothing — every scored bigram exists in the corpus by
    construction, so the likelihood is finite). Sensitive to unnatural
    word ORDER, which unigram stats cannot see.

    Same dataflow shape as unigram_nll: per-(doc,bigram) counts feed
    the bigram totals, context totals derive from the bigram totals
    (vocabulary-sized, not corpus-sized), and the scoring joins are
    bigram-/context-keyed — uniform high-cardinality keys. Documents
    with fewer than two tokens emit no row. Returns (doc_id,
    n_bigrams, nll).
    """
    bg = df.select(F.col(id_col), F.explode(shingles(text_col, 2)).alias("bg"))
    per = bg.groupBy(id_col, "bg").agg(F.count(F.lit(1)).alias("cnt"))
    btot = per.groupBy("bg").agg(F.sum("cnt").alias("cb"))
    wtot = (
        btot.withColumn("w1", F.split(F.col("bg"), " ")[0])
        .groupBy("w1")
        .agg(F.sum("cb").alias("cw"))
    )
    return (
        per.join(btot, "bg")
        .withColumn("w1", F.split(F.col("bg"), " ")[0])
        .join(wtot, "w1")
        .groupBy(id_col)
        .agg(
            F.sum("cnt").cast("bigint").alias("n_bigrams"),
            (
                -F.sum(
                    F.round(
                        F.col("cnt")
                        * F.log(F.col("cb").cast("double") / F.col("cw")),
                        12,
                    ).cast("decimal(28,12)")
                ).cast("double")
                / F.sum("cnt")
            ).alias("nll"),
        )
    )


def stupid_backoff_nll(
    score_df: DataFrame,
    train_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.4,
) -> DataFrame:
    """Held-out trigram scoring with STUPID BACKOFF (Brants et al.,
    "Large Language Models in Machine Translation", EMNLP 2007) — the
    deliberately unnormalized backoff that made web-scale LMs
    trainable as pure count tables, i.e. exactly the relational shape
    a Spark pipeline wants:

        S(w3|w1w2) = c(w1w2w3)/c(w1w2)            if trigram seen
                   = α · c(w2w3)/c(w2)            else if bigram seen
                   = α² · c(w3)/N                 else if unigram seen
                   = α² · 1/N                     else (OOV floor)

    Counts come from ``train_df`` ONLY; ``score_df`` documents are
    scored per trigram position and averaged into -ln S. Scoring a
    held-out split is what makes the backoff branches live — a model
    scored on its own training text never backs off.

    Dataflow: three count tables off one exploded pass over the train
    corpus, then three left joins from the score side's trigram
    positions on uniform text keys; the α ladder is a coalesce chain.
    The -ln S terms accumulate in decimal (12 dp) so the per-doc
    score is partition-order invariant. Returns (doc_id, n_trigrams,
    nll).
    """
    joined = _trigram_count_join(score_df, train_df, text_col, id_col)
    s = F.coalesce(
        F.col("c3").cast("double") / F.col("cctx"),
        F.lit(alpha) * F.col("c2") / F.col("c1ctx"),
        F.lit(alpha * alpha) * F.col("c1w") / F.col("n_tok"),
        F.lit(alpha * alpha) / F.col("n_tok"),
    )
    term = F.round(-F.log(s), 12).cast("decimal(28,12)")
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_trigrams"),
        (F.sum(term).cast("double") / F.count(F.lit(1))).alias("nll"),
    )


def _trigram_count_join(
    score_df: DataFrame, train_df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Shared scaffold for the held-out trigram scorers: trigram /
    bigram / unigram count tables off the train corpus, left-joined
    onto the score side's trigram positions. Columns: c3 (trigram
    count), cctx (its w1w2 context), c2/c1ctx (the w2w3 bigram and its
    w2 context), c1w (w3 unigram), n_tok (train token total). All join
    keys are uniform high-cardinality text keys; n_tok is a 1-row
    broadcast."""
    def grams(df: DataFrame, k: int, out: str) -> DataFrame:
        return df.select(F.col(id_col), F.explode(shingles(text_col, k)).alias(out))

    tri_c = grams(train_df, 3, "g3").groupBy("g3").agg(F.count(F.lit(1)).alias("c3"))
    bi_c = grams(train_df, 2, "g2").groupBy("g2").agg(F.count(F.lit(1)).alias("c2"))
    uni = train_df.select(F.explode(tokens(text_col)).alias("w"))
    uni_c = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c1"))
    n_total = uni_c.agg(F.sum("c1").cast("double").alias("n_tok"))

    pos = grams(score_df, 3, "g3").select(
        id_col,
        "g3",
        F.array_join(F.slice(F.split(F.col("g3"), " "), 1, 2), " ").alias("ctx2"),
        F.array_join(F.slice(F.split(F.col("g3"), " "), 2, 2), " ").alias("g2"),
        F.split(F.col("g3"), " ")[2].alias("w3"),
        F.split(F.col("g3"), " ")[1].alias("w2"),
    )
    return (
        pos.join(tri_c, "g3", "left")
        .join(bi_c.select(F.col("g2").alias("ctx2"), F.col("c2").alias("cctx")), "ctx2", "left")
        .join(bi_c, "g2", "left")
        .join(uni_c.select(F.col("w").alias("w2"), F.col("c1").alias("c1ctx")), "w2", "left")
        .join(uni_c.select(F.col("w").alias("w3"), F.col("c1").alias("c1w")), "w3", "left")
        .join(F.broadcast(n_total))
    )


def interpolated_nll(
    score_df: DataFrame,
    train_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lambdas: tuple[float, float, float, float] = (0.5, 0.3, 0.19, 0.01),
) -> DataFrame:
    """Held-out trigram scoring under JELINEK-MERCER linear
    interpolation (Jelinek & Mercer 1980; the smoothing baseline in
    Chen & Goodman 1999) — the normalized counterpart of
    ``stupid_backoff_nll``: instead of falling THROUGH the order
    ladder, every order always contributes:

        P(w3|w1w2) = λ3·c(w1w2w3)/c(w1w2·) + λ2·c(w2w3)/c(w2·)
                   + λ1·c(w3)/N            + λ0/N

    with Σλ = 1, so P is a proper distribution (the λ0/N uniform
    floor makes every score finite, OOV included). Unseen numerators
    contribute 0 rather than triggering a branch, which is why the
    interpolated form ranks fluent-but-novel text differently from
    backoff: it still credits the lower orders even when the trigram
    IS seen.

    Same single-scaffold dataflow as stupid backoff (three count
    tables, three left joins, decimal-accumulated -ln P terms).
    Counts come from ``train_df`` only. Returns (doc_id, n_trigrams,
    nll).
    """
    l3, l2, l1, l0 = lambdas
    joined = _trigram_count_join(score_df, train_df, text_col, id_col)
    zero = F.lit(0.0)
    p = (
        F.lit(l3) * F.coalesce(F.col("c3").cast("double") / F.col("cctx"), zero)
        + F.lit(l2) * F.coalesce(F.col("c2").cast("double") / F.col("c1ctx"), zero)
        + F.lit(l1) * F.coalesce(F.col("c1w").cast("double") / F.col("n_tok"), zero)
        + F.lit(l0) / F.col("n_tok")
    )
    term = F.round(-F.log(p), 12).cast("decimal(28,12)")
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_trigrams"),
        (F.sum(term).cast("double") / F.count(F.lit(1))).alias("nll"),
    )


def collocations(
    df: DataFrame,
    text_col: str = "text",
    top_k: int = 20,
    min_count: int = 5,
) -> DataFrame:
    """Top-k collocations by pointwise mutual information over corpus
    bigrams: PMI = ln(c₁₂·N / (c₁·c₂)) with N the bigram-position
    count — the classic phrase/term-of-art extractor (Church & Hanks
    1990), and the signal tokenizer builders use to pick merge
    candidates. ``min_count`` suppresses the PMI bias toward rare
    pairs.

    Counts derive from one exploded pass (bigram totals; both unigram
    context tables come from the bigram table, vocabulary-sized). The
    top-k is rank-windowed on (PMI desc, bigram asc) so output is
    deterministic; before the final unpartitioned rank window, an
    exact per-hash-bucket top-k prune (any global top-k row is also
    top-k within its bucket) caps the single-partition sort at
    ``256·top_k`` rows regardless of vocabulary size, so the 100 TB
    path never sorts the full scored-bigram table on one task.
    Returns (bigram, n_pair, n_left, n_right, pmi).
    """
    bg = df.select(F.explode(shingles(text_col, 2)).alias("bg"))
    pair = bg.groupBy("bg").agg(F.count(F.lit(1)).alias("n_pair"))
    w1 = (
        pair.withColumn("w", F.split(F.col("bg"), " ")[0])
        .groupBy("w")
        .agg(F.sum("n_pair").alias("n_left"))
    )
    w2 = (
        pair.withColumn("w", F.split(F.col("bg"), " ")[1])
        .groupBy("w")
        .agg(F.sum("n_pair").alias("n_right"))
    )
    n_total = pair.agg(F.sum("n_pair").cast("double").alias("n_tot"))
    scored = (
        pair.filter(F.col("n_pair") >= min_count)
        .withColumn("w1", F.split(F.col("bg"), " ")[0])
        .withColumn("w2", F.split(F.col("bg"), " ")[1])
        .join(w1.select(F.col("w").alias("w1"), "n_left"), "w1")
        .join(w2.select(F.col("w").alias("w2"), "n_right"), "w2")
        .join(F.broadcast(n_total))
        .select(
            "bg",
            "n_pair",
            "n_left",
            "n_right",
            F.round(
                F.log(
                    F.col("n_pair")
                    * F.col("n_tot")
                    / (F.col("n_left") * F.col("n_right"))
                ),
                9,
            ).alias("pmi"),
        )
    )
    from pyspark.sql import Window

    bucket_w = Window.partitionBy(F.pmod(F.hash("bg"), F.lit(256))).orderBy(
        F.desc("pmi"), F.asc("bg")
    )
    pruned = (
        scored.withColumn("__brnk", F.row_number().over(bucket_w))
        .filter(F.col("__brnk") <= top_k)
        .drop("__brnk")
    )
    rw = Window.orderBy(F.desc("pmi"), F.asc("bg"))
    return (
        pruned.withColumn("rnk", F.row_number().over(rw).cast("bigint"))
        .filter(F.col("rnk") <= top_k)
        .select(F.col("bg").alias("bigram"), "n_pair", "n_left", "n_right", "pmi", "rnk")
    )


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 10,
    min_count: int = 2,
    batch: int = 16,
) -> DataFrame:
    """Learn byte-pair-encoding merges over the corpus (Sennrich,
    Haddow & Birch, ACL 2016) with the word-frequency table as the
    working set — the standard subword-tokenizer trainer, expressed
    as iterative DataFrame ops.

    The working set is the DISTINCT-word table weighted by frequency
    (vocabulary-sized — at 100 TB this is the classic trick that makes
    BPE training tractable: the corpus is scanned once for word
    counts, every merge iteration then runs over the vocabulary).
    Per ROUND (not per merge): one weighted pair-count aggregation,
    one ``batch``-row top-k collect, and a map-side regexp rewrite
    chain applying every merge the round accepted; each round's
    working set replaces the last (one ``cacheutil.Frames`` scope),
    keeping lineage flat and one round's blocks held. Ties break on (count desc,
    pair asc) so the learned merge list is deterministic.

    Batching is EXACT, not approximate: a round accepts the sorted
    prefix of pairs that (a) share no symbol with — and don't
    textually equal the merged output of — an earlier acceptance in
    the round, and (b) have counts strictly above both the first
    interacting pair's count and the smallest collected count (the
    bound on everything unseen). Merging can only decrease an
    interacting pair's count and any newly created pair is bounded by
    an interacting one, so each accepted pair is provably the
    sequential argmax at its step — same merge table as ``batch=1``,
    ~``batch``× fewer driver round-trips at real vocab sizes.

    Returns (merge_rank, pair, merged, n) — the ordered merge table a
    tokenizer applies. Iterative → rows-only gate class.
    """
    merges, _ = _bpe_train_rounds(df, text_col, num_merges, min_count, batch)
    spark = df.sparkSession
    return local_frame(
        spark, merges, "merge_rank int, pair string, merged string, n bigint"
    )


def _bpe_train_rounds(
    df: DataFrame,
    text_col: str,
    num_merges: int,
    min_count: int,
    batch: int,
) -> tuple[list[tuple[int, str, str, int]], int]:
    """(merge table, number of aggregation rounds run) — split out so
    tests can assert batching reduces driver round-trips without
    changing the learned merges."""
    import re as _re

    batch = max(1, batch)
    words = (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    with Frames() as frames:
        cur = frames.pin(
            words.select("freq", F.concat_ws(" ", F.split(F.col("w"), "")).alias("s")),
            eager=True,
        )
        merges: list[tuple[int, str, str, int]] = []
        rounds = 0
        while len(merges) < num_merges:
            rounds += 1
            pair_counts = (
                cur.select(
                    "freq", F.explode(shingles(F.col("s"), 2)).alias("pair")
                )
                .groupBy("pair")
                .agg(F.sum("freq").alias("n"))
            )
            top = (
                pair_counts.orderBy(F.desc("n"), F.asc("pair"))
                .limit(batch)
                .collect()
            )
            if not top or top[0]["n"] < min_count:
                break
            # greedy non-interacting prefix: symbols seen in accepted
            # pairs plus their merged outputs (a later pair touching a
            # merged STRING could gain count mid-batch — exclude it)
            seen: set[str] = set()
            accepted: list[tuple[str, int]] = []
            bound = None  # count of the first interacting pair
            hit_min = False
            for r in top:
                a, b = r["pair"].split(" ")
                if int(r["n"]) < min_count:
                    hit_min = True
                    break
                if a in seen or b in seen:
                    bound = int(r["n"])
                    break
                accepted.append((r["pair"], int(r["n"])))
                seen.update((a, b, a + b))
            # everything not collected is bounded by the smallest
            # collected count; fold it into the dominance bound
            if len(top) == batch and not hit_min and bound is None:
                bound = int(top[-1]["n"])
            if bound is not None:
                safe = [p for p in accepted if p[1] > bound]
                # the global top-1 is the exact argmax unconditionally
                accepted = safe if safe else accepted[:1]
            accepted = accepted[: num_merges - len(merges)]
            col = F.col("s")
            for pair, n in accepted:
                a, b = pair.split(" ")
                pat = f"(^|(?<= )){_re.escape(a)} {_re.escape(b)}($|(?= ))"
                # replacement escaping: backslash first, then $ (group refs)
                repl = (a + b).replace("\\", "\\\\").replace("$", "\\$")
                col = F.regexp_replace(col, pat, repl)
                merges.append((len(merges) + 1, pair, a + b, n))
            cur = frames.pin(cur.withColumn("s", col), eager=True, replaces=(cur,))
            # no explicit early-stop on hit_min: merges can CREATE pairs
            # above min_count, so the next round's aggregation decides
        return merges, rounds


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply an ordered BPE merge list (as learned by ``bpe_train``)
    to tokenize text into subwords — the encode half of the tokenizer
    loop, and the REAL subword counter behind the `bpe-ish regex`
    estimate in x_token_counts.

    Encoding is a chain of ``len(merges)`` map-side regexp rewrites
    over per-word symbol strings — a single projection fused into the
    scan (the merge list is a plan constant, exactly how a production
    tokenizer ships its vocab); the only shuffle is the final
    doc-keyed count aggregation.
    Returns (id_col, n_words, n_subwords, subwords_per_word).
    """
    import re as _re

    word = F.explode(tokens(text_col))
    sym = F.concat_ws(" ", F.split(F.col("__w"), ""))
    out = df.select(F.col(id_col), word.alias("__w")).select(
        id_col, sym.alias("__s")
    )
    col = F.col("__s")
    for a, b in merges:
        pat = f"(^|(?<= )){_re.escape(a)} {_re.escape(b)}($|(?= ))"
        repl = (a + b).replace("\\", "\\\\").replace("$", "\\$")
        col = F.regexp_replace(col, pat, repl)
    encoded = out.select(id_col, F.size(F.split(col, " ")).alias("__n"))
    return encoded.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("__n").cast("bigint").alias("n_subwords"),
        F.round(F.sum("__n") / F.count(F.lit(1)), 9).alias("subwords_per_word"),
    )


def zipf_fit(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Zipf's-law fit of the corpus frequency spectrum: least-squares
    slope/intercept of ln(freq) against ln(rank) — the one-number
    corpus health profile (natural language sits near slope −1;
    boilerplate-heavy or synthetic corpora drift off it; Piantadosi
    2014 reviews the regularities). Complements ``token_spectrum``
    (the raw curve) with the fitted summary a pipeline can threshold.

    One exploded pass → vocabulary counts; the rank assignment is a
    vocabulary-sized global sort window (same documented scale bound
    as the collocations rank — vocabulary, not corpus, and at 100 TB
    a min-count floor keeps it tight); the regression itself is one
    closed-form aggregate with decimal-accumulated moment sums, so
    the fit is partition-order invariant. Returns one row (n_terms,
    slope, intercept).
    """
    freq = df.select(F.explode(tokens(text_col)).alias("term")).groupBy(
        "term"
    ).agg(F.count(F.lit(1)).alias("c"))
    ranked = freq.select(
        "c",
        F.row_number()
        .over(Window.orderBy(F.col("c").desc(), F.col("term")))
        .alias("rank"),
    )
    x = F.log(F.col("rank").cast("double"))
    y = F.log(F.col("c").cast("double"))
    def dec(col):
        return F.sum(F.round(col, 12).cast("decimal(28,12)")).cast("double")
    moments = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        dec(x).alias("sx"),
        dec(y).alias("sy"),
        dec(x * y).alias("sxy"),
        dec(x * x).alias("sxx"),
    )
    n = F.col("n_terms").cast("double")
    slope = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        n * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return moments.select(
        "n_terms",
        slope.alias("slope"),
        ((F.col("sy") - slope * F.col("sx")) / n).alias("intercept"),
    )


def dsir_weights(
    df: DataFrame,
    is_target,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 1024,
) -> DataFrame:
    """DSIR-style importance weights (Data Selection via Importance
    Resampling, Xie et al., arXiv:2302.03169): score every document by
    how much more likely its hashed unigram features are under the
    TARGET distribution than under the raw corpus —

        w(d) = Σ_{tokens} ln( p_target(h(tok)) / p_raw(h(tok)) )

    with features hashed into ``n_buckets`` buckets (md5-derived, the
    repo's engine-portable hash — not murmur3) and add-one smoothing
    on both sides so unseen buckets stay finite. High weight = looks
    like the target slice; resampling by w is the DSIR selection step
    (compose with ``priority_sample``).

    Scale shape: ONE corpus scan builds the per-(doc, bucket) counts;
    both LMs derive from that table by re-aggregation (bucket-keyed,
    ≤ n_buckets rows each — broadcast back); the scoring join is
    bucket-keyed and uniform BY CONSTRUCTION (the hash spreads hot
    vocabulary across buckets, so no vocabulary-skew hot keys). The
    per-(doc,bucket) log terms round at 12 dp into DECIMAL before the
    per-doc sum — partition-order invariant and oracle-replayable
    (the unigram_nll convention). ``is_target`` is a boolean Column
    evaluated on the input row (e.g. ``F.col('lang') == 'en'``).
    Returns (doc_id, n_tokens, weight)."""
    feat = F.pmod(
        F.conv(F.substring(F.md5(F.col("term")), 1, 8), 16, 10).cast("bigint"),
        F.lit(n_buckets),
    )
    tok = df.select(
        F.col(id_col),
        is_target.alias("__t"),
        F.explode(tokens(text_col)).alias("term"),
    ).select(id_col, "__t", feat.alias("bucket"))
    per = tok.groupBy(id_col, "bucket").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.when(F.col("__t"), 1).otherwise(0)).alias("tcnt_doc"),
    )
    raw = per.groupBy("bucket").agg(
        F.sum("cnt").cast("bigint").alias("rcnt"),
        F.sum("tcnt_doc").cast("bigint").alias("tcnt"),
    )
    totals = raw.agg(
        F.sum("rcnt").cast("double").alias("r_total"),
        F.sum("tcnt").cast("double").alias("t_total"),
    )
    b = F.lit(float(n_buckets))
    log_ratio = F.log(
        ((F.col("tcnt") + F.lit(1.0)) / (F.col("t_total") + b))
        / ((F.col("rcnt") + F.lit(1.0)) / (F.col("r_total") + b))
    )
    term = F.round(F.col("cnt") * log_ratio, 12).cast("decimal(28,12)")
    return (
        per.join(F.broadcast(raw), "bucket")
        .join(F.broadcast(totals))
        .groupBy(id_col)
        .agg(
            F.sum("cnt").cast("bigint").alias("n_tokens"),
            F.sum(term).cast("double").alias("weight"),
        )
    )


def cluster_split(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    train_pct: int = 80,
    val_pct: int = 10,
    cc: DataFrame | None = None,
) -> DataFrame:
    """LEAKAGE-SAFE train/val/test split: the split unit is the
    near-duplicate CLUSTER, not the document. A plain per-doc modulus
    split (x_train_split) puts two near-identical documents on
    opposite sides of the train/test boundary, silently leaking
    training text into evaluation — the contamination mode dataset
    audits (The Pile, C4 dedup reports, Lee et al. 2022 §6) call out.
    Here every document inherits its cluster's canonical id
    (connected components over the near-dup ``pairs``; singletons key
    by their own id), and the split modulus is taken on THAT key, so
    a whole near-dup family lands in one split by construction.

    Clustering uses the O(log d) star contraction — pairs chains of
    any depth cannot straddle the boundary, which the min-label loop
    could not guarantee past its round bound. Spark shape: the CC
    rounds (keyed aggs over the checkpointed pair list) + one
    broadcast-size left join back to the corpus + a map-side modulus;
    the corpus itself is scanned once. Returns ``df``'s rows with
    ``cluster_id`` and ``split`` appended.

    ``cc`` short-circuits the clustering with precomputed components
    (``(doc_id, cluster_id)`` rows) — callers that already ran star
    CC over the same pairs (run_curation_pipeline's soft-dedup path)
    pass it to avoid a second fixpoint loop.
    """
    if cc is None:
        from .dedup import connected_components_star

        cc = connected_components_star(pairs, src=src_col, dst=dst_col)
    cc = cc.select(F.col("doc_id").alias(id_col), "cluster_id")
    keyed = df.join(cc, id_col, "left").withColumn(
        "cluster_id", F.coalesce(F.col("cluster_id"), F.col(id_col))
    )
    bucket = F.pmod(F.col("cluster_id"), F.lit(100))
    return keyed.withColumn(
        "split",
        F.when(bucket < train_pct, F.lit("train"))
        .when(bucket < train_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("test")),
    )


def _bm25_score_postings(
    tf: DataFrame,
    qterms: DataFrame,
    id_col: str = "doc_id",
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Shared BM25 scoring core over a POSTINGS frame — the piece
    :func:`bm25_topk` (one-shot corpus) and :func:`bm25_query_store`
    (incrementally built store) have in common. ``tf`` is the inverted
    index (``id_col``, term, tf); ``qterms`` is the query-term list
    (query, term) — a query term appearing twice contributes twice
    (query-side tf weighting). Document stats all DERIVE from the
    postings (dl = Σ tf per doc; N, Σ|d| as a 1-row broadcast), so an
    incremental store needs exactly ONE table.

    Spark shape — this IS the distributed inverted index probe:

    - joining ``tf`` against the BROADCAST query-term list touches
      only postings of query terms — the scan never materializes
      scores for the rest of the vocabulary;
    - ``doc_freq`` derives from ``tf`` (one term-keyed agg) and is
      likewise filtered through the broadcast query terms before the
      scoring join, so the surviving frame is queries×postings sized;
    - top-k per query is one rank-filtered window partitioned by
      query, which Spark plans as a TWO-PHASE WindowGroupLimit —
      hot-term postings shuffle at most k rows per task per query.

    Cross-engine exactness: per-term scores are rounded to 12 dp and
    summed as DECIMAL(28,12) (associativity-proof, the x_bigram_nll
    pattern); the rank orders by that exact decimal (DESC, doc id
    ASC), so the oracle's QUALIFY row_number replays bit-for-bit.
    Returns (query, rnk, ``id_col``, score).
    """
    from pyspark.sql import Window

    # round 15 (guide §2.3): restrict the doc_freq aggregation to the
    # postings of QUERY terms before aggregating — the docstring's
    # "filtered through the broadcast query terms" promise, previously
    # only true of the scoring join: the old form aggregated the FULL
    # vocabulary (a |vocab|-row shuffle) and then discarded everything
    # but the query terms. Inner-join-then-agg counts identically for
    # every surviving term.
    # the build side is the FULL qterms frame (not a .select("term")
    # projection) so this BroadcastExchange canonicalizes identically
    # to qstats' broadcast below and Spark REUSES one build — a
    # projected build side would re-execute the caller's query-term
    # derivation (a corpus scan in the one-shot gates) a second time.
    # Each build scans the caller's query frame: one built on the
    # driver with session.local_frame is a JVM local relation, while a
    # createDataFrame(list) frame costs a Python-worker task per
    # partition per scan
    dfreq = (
        tf.join(F.broadcast(qterms), "term", "left_semi")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
    )
    # explicit isnotnull(id): the scoring join pushes exactly this
    # filter into ITS doclen subtree, so carrying it here makes the two
    # doclen references canonically identical and AQE reuses ONE
    # exchange+scan for both (without it, the scalars-side subtree
    # differs by the pushed filter and re-scans the postings). Every
    # ingest path requires non-null doc ids, so no row is affected;
    # a hand-crafted store with NULL-id postings would now exclude
    # them from sum_dl as it always did from n_docs and retrieval.
    doclen = (
        tf.filter(F.col(id_col).isNotNull())
        .groupBy(id_col)
        .agg(F.sum("tf").cast("bigint").alias("dl"))
    )
    # round 16 (guide §2.4): derive the corpus scalars FROM the doclen
    # aggregate instead of a second full-postings pass — Σ tf over
    # postings ≡ Σ dl over doclen and count_distinct(doc) ≡ count of
    # doclen rows (exact integer sums, so values are bit-identical).
    # The old form paid one extra full scan of the postings AND a
    # two-phase distinct aggregation carrying doc ids; this one is a
    # count over the already-aggregated node-sized frame, and the
    # doc-keyed exchange under doclen is shared with the scoring join
    # via ReusedExchange.
    scalars = doclen.agg(
        F.sum("dl").cast("bigint").alias("sum_dl"),
        # count(id_col), not count(1): the old count_distinct(id_col)
        # excluded a NULL id group, count(col) replicates that exactly
        F.count(F.col(id_col)).alias("n_docs"),
    )
    qstats = F.broadcast(qterms).join(dfreq, "term")

    scored = (
        tf.join(F.broadcast(qstats), "term")
        .join(doclen, id_col)
        .join(F.broadcast(scalars))
    )
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    idf = F.log(
        ((F.col("n_docs") - F.col("doc_freq")).cast("double") + F.lit(0.5))
        / (F.col("doc_freq").cast("double") + F.lit(0.5))
        + F.lit(1.0)
    )
    tf_d = F.col("tf").cast("double")
    per_term = (idf * (tf_d * F.lit(k1 + 1.0))) / (
        tf_d
        + F.lit(k1)
        * (F.lit(1.0 - b) + F.lit(b) * (F.col("dl").cast("double") / avgdl))
    )
    agg = scored.groupBy("query", id_col).agg(
        F.sum(F.round(per_term, 12).cast("decimal(28,12)")).alias("score_x")
    )
    w = Window.partitionBy("query").orderBy(
        F.desc("score_x"), F.asc(id_col)
    )
    return (
        agg.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            "query",
            "rnk",
            id_col,
            F.col("score_x").cast("double").alias("score"),
        )
    )


def corpus_bigram_queries(
    df: DataFrame, text_col: str = "text", n_queries: int = 5
) -> DataFrame:
    """The self-contained default query set for BM25 surfaces: the
    ``n_queries`` most frequent word bigrams of the corpus (ties →
    lexicographically smallest), each a two-term query. Returns one
    ``query`` string column."""
    bg = df.select(F.explode(shingles(text_col, 2)).alias("bg"))
    return (
        bg.groupBy("bg")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("bg"))
        .limit(n_queries)
        .select(F.col("bg").alias("query"))
    )


def bm25_topk(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_queries: int = 5,
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    queries: DataFrame | None = None,
) -> DataFrame:
    """BM25 scored retrieval (Robertson & Zaragoza 2009): top-``k``
    documents per query under Okapi BM25 with the standard
    idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1) and tf saturation
    tf·(k1+1)/(tf + k1·(1 − b + b·|d|/avgdl)).

    ``queries`` (round 12 — the real-use generalization): an optional
    DataFrame with one ``query`` string column; each query is split
    on whitespace into terms (a repeated term contributes per
    occurrence). When omitted, the query set is derived
    deterministically from the corpus itself so the surface is
    self-contained and replayable: the ``n_queries`` most frequent
    word bigrams (ties → lexicographically smallest)
    (:func:`corpus_bigram_queries`).

    Plan/exactness notes live on :func:`_bm25_score_postings` — the
    shared scorer this wraps around the one-shot postings agg.
    Returns (query, rnk, ``id_col``, score).
    """
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
    tf = tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    if queries is None:
        queries = corpus_bigram_queries(df, text_col, n_queries)
    qterms = queries.select(
        "query", F.explode(F.split("query", " ")).alias("term")
    )
    return _bm25_score_postings(tf, qterms, id_col, k, k1, b)


def bm25_index_append(
    new_docs: DataFrame,
    store_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """STREAMING retrieval-index maintenance (round 12): fold one
    micro-batch of documents into the persistent BM25 postings store
    at ``{store_path}/postings`` — one parquet table
    (``id_col``, term, tf), appended per batch, following the
    append-only minhash-store pattern (README.md:34's incremental
    sync posture: new rows land as they arrive, retrieval stays
    current without corpus rebuilds).

    The store holds ONLY postings — doc length, avgdl, N and doc_freq
    all derive from it at query time (dl = Σ tf per doc), so a batch
    is ONE atomic-per-commit append with no cross-table consistency
    hazard (a two-table store could crash between the postings and
    doc-stats appends and serve a half-indexed doc forever).
    Token-less documents produce no postings and are invisible to
    retrieval AND to N/avgdl — identical to the one-shot
    :func:`bm25_topk`, whose scalars also derive from the token
    stream. At-least-once replays of the SAME batch would double its
    tf rows — dedup batch ids upstream or re-run
    :func:`compact_bm25_store` after a known replay.

    Store growth is O(distinct (doc, term)) per batch; postings are
    term-skew-free on disk (hash-partitioned parquet) and
    :func:`compact_bm25_store` right-sizes the file count between
    appends."""
    tok = new_docs.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("term")
    )
    tf = tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    stores.append(tf, store_path, "postings")


def bm25_query_store(
    spark,
    store_path: str,
    queries: DataFrame,
    id_col: str = "doc_id",
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Retrieve top-``k`` documents per query from the incrementally
    built postings store (:func:`bm25_index_append`). Exactly the
    one-shot scorer over the store's postings — a corpus ingested in
    any number of batches scores IDENTICALLY to the same corpus
    indexed one-shot (postings are disjoint-by-doc and additive;
    pinned by the x_bm25_drain gate and the compaction-invariance
    test). Each query-time doc-stats agg is map-side partial over a
    column-pruned store scan — no state beyond the postings table."""
    tf = _live_postings(spark, store_path, id_col)
    qterms = queries.select(
        "query", F.explode(F.split("query", " ")).alias("term")
    )
    return _bm25_score_postings(tf, qterms, id_col, k, k1, b)


def _live_postings(spark, store_path: str, id_col: str) -> DataFrame:
    """The postings store minus tombstoned docs: deleted docs vanish
    from retrieval AND from every query-time statistic (N, avgdl and
    doc_freq re-derive from the filtered postings), so a post-delete
    query is IDENTICAL to one over a store never containing the doc —
    the x_bm25_delete gate pins that against the one-shot SQL over the
    reduced corpus."""
    return stores.read_live(
        spark, store_path, "postings", id_col,
        required="term string, tf bigint", required_names=(id_col,),
    )


# Logical delete from the BM25/MLT postings store: tombstoned docs drop
# out of both retrieval surfaces (and their statistics) at the next
# query; compact_bm25_store makes the delete physical.
bm25_delete_docs = stores.delete


def compact_bm25_store(
    spark, store_path: str, bytes_per_file: int = 128 << 20
) -> None:
    """Store-lifecycle companion to :func:`bm25_index_append`: rewrite
    ``{store_path}/postings`` into right-sized files through
    :func:`stores.compact` (queries may run meanwhile, appends may
    not). The row set is IDENTICAL,
    so retrieval across a compaction is invariant (test-pinned) —
    except postings tombstoned by :func:`bm25_delete_docs`, which this
    pass physically drops."""
    stores.compact(
        spark, store_path, {"postings": {}},
        id_col=lambda df: df.columns[0], bytes_per_file=bytes_per_file,
    )


def more_like_this(
    df: DataFrame,
    query_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    max_df_frac: float = 0.5,
) -> DataFrame:
    """Sparse-vector "more like this" retrieval (round 12): for each
    query document, the top-``k`` OTHER documents by TF-IDF cosine,
    computed through the postings join — the term-space sibling of
    the dense x_ann_* family and the classic related-content /
    near-duplicate-triage query. ``query_docs`` is a one-column
    (``id_col``) frame; weights are tf·ln(N/df) with terms of
    document frequency above ``max_df_frac``·N EXCLUDED — the hot-term
    bound real MLT implementations apply, which is also what keeps the
    candidate expansion skew-safe at scale (a stopword-grade term
    would otherwise pair every query doc with the whole corpus).

    Spark shape: the query-side postings are a broadcast sliver
    (|query docs| × terms-per-doc rows); the corpus-side postings join
    them term-keyed, so the pair frame is bounded by the query docs'
    posting lists, never corpus². Norms are one doc-keyed agg reused
    via broadcast for the query side. Top-k per query is the
    rank-filtered window → two-phase WindowGroupLimit. The weighted
    postings frame feeds THREE consumers (norms, query sliver, dots) —
    it is pinned (a lazy local checkpoint) so the corpus scan + tf/df
    aggs run once, not three times (the minhash_estimate_pairs idiom,
    freed the same way via cacheutil.release(result); 32 → 13
    exchanges). At 100 TB that is the materialize-the-index trade
    every IR system makes — O(postings) executor storage against two
    saved corpus passes.

    Cross-engine exactness: dot products and squared norms are
    12-dp-rounded DECIMAL(28,12) sums (associativity-proof); the
    cosine is ONE float expression over those exact inputs
    (dot/sqrt(nq²·nd²) — IEEE-correctly-rounded in both engines), and
    the rank orders by its 12-dp rounding (ties → candidate id ASC).
    Returns (query_id, rnk, ``id_col``, cosine).
    """
    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
    tf = tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    # N counts docs that can own a posting (round-14, ADVICE):
    # tokens(NULL) is NULL and explode drops the row, so a NULL-text
    # doc contributes no posting — counting it in N here while the
    # postings STORE (built through the same tokenizer) cannot see it
    # would diverge IDF between more_like_this and mlt_query_store on
    # corpora containing NULL text
    n_docs = df.filter(F.col(text_col).isNotNull()).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    return _mlt_score_postings(tf, n_docs, query_docs, id_col, k, max_df_frac)


def _mlt_score_postings(
    tf: DataFrame,
    n_docs: DataFrame,
    query_docs: DataFrame,
    id_col: str,
    k: int,
    max_df_frac: float,
) -> DataFrame:
    """Shared TF-IDF cosine scorer over a (``id_col``, term, tf)
    postings frame — the MLT analogue of :func:`_bm25_score_postings`
    (round 13): :func:`more_like_this` feeds it the one-shot token
    agg, :func:`mlt_query_store` the incrementally built store.
    ``n_docs`` is a 1-row (n_docs) frame — passed in because the two
    callers derive it differently (corpus count vs distinct store
    docs; identical under the tokenizer convention, see
    mlt_query_store). Plan/exactness notes on more_like_this."""
    with Frames() as frames:
        dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
        w = frames.pin(
            tf.join(dfreq, "term")
            .join(F.broadcast(n_docs))
            .filter(
                F.col("doc_freq").cast("double")
                <= F.lit(max_df_frac) * F.col("n_docs").cast("double")
            )
            .select(
                id_col,
                "term",
                (
                    F.col("tf").cast("double")
                    * F.log(
                        F.col("n_docs").cast("double")
                        / F.col("doc_freq").cast("double")
                    )
                ).alias("w"),
            ),
            eager=False,
        )
        norm2 = w.groupBy(id_col).agg(
            F.sum(
                F.round(F.col("w") * F.col("w"), 12).cast("decimal(28,12)")
            ).alias("n2")
        )
        qw = (
            w.join(query_docs.select(id_col), id_col, "left_semi")
            .select(
                F.col(id_col).alias("query_id"),
                "term",
                F.col("w").alias("wq"),
            )
        )
        dots = (
            w.join(F.broadcast(qw), "term")
            .filter(F.col(id_col) != F.col("query_id"))
            .groupBy("query_id", id_col)
            .agg(
                F.sum(
                    F.round(F.col("wq") * F.col("w"), 12).cast("decimal(28,12)")
                ).alias("dot")
            )
        )
        nq = norm2.select(
            F.col(id_col).alias("query_id"), F.col("n2").alias("nq2")
        )
        cos = (
            dots.join(F.broadcast(nq), "query_id")
            .join(norm2, id_col)
            .select(
                "query_id",
                id_col,
                (
                    F.col("dot").cast("double")
                    / F.sqrt(
                        F.col("nq2").cast("double") * F.col("n2").cast("double")
                    )
                ).alias("cosine"),
            )
        )
        rank_key = F.round(F.col("cosine"), 12).cast("decimal(28,12)")
        win = Window.partitionBy("query_id").orderBy(
            rank_key.desc(), F.col(id_col).asc()
        )
        return frames.attach(
            cos.withColumn("rnk", F.row_number().over(win))
            .filter(F.col("rnk") <= k)
            .select("query_id", "rnk", id_col, "cosine"),
            w,
        )


def mlt_query_store(
    spark,
    store_path: str,
    query_docs: DataFrame,
    id_col: str = "doc_id",
    k: int = 3,
    max_df_frac: float = 0.5,
) -> DataFrame:
    """"More like this" retrieval from the incrementally built BM25
    postings store (round 13 — the round-12 verdict's
    productionization of :func:`more_like_this`): score TF-IDF cosine
    top-``k`` against ``{store_path}/postings``
    (:func:`bm25_index_append`) instead of re-tokenizing the corpus —
    the two corpus passes the one-shot path persists away are simply
    never taken, and one store now serves BOTH retrieval surfaces
    (BM25 and MLT read the same postings; the stored rows are
    format-identical).

    IDF weights are still derived at query time (N and doc_freq
    change with every append, so they cannot be baked into the
    store); the per-call persist is therefore the weighted sliver,
    fed from a column-pruned store scan rather than a corpus
    tokenize. ``n_docs`` = distinct store docs — IDENTICAL to the
    one-shot path's NON-NULL-text corpus count: ``split(trim(text),
    ' ')`` yields one empty-string term even for empty text, so every
    text-bearing doc owns ≥1 posting, while tokens(NULL) is NULL and
    explode DROPS the row — more_like_this therefore counts only
    text-bearing docs in N (round-14 ADVICE fix; pinned by the
    store≡one-shot parity test, its NULL-text variant, and the
    x_mlt_drain gate, whose oracle is literally the x_mlt SQL). Same
    hot-term bound, decimal dot/norm sums, and rank convention as
    more_like_this."""
    tf = _live_postings(spark, store_path, id_col)
    n_docs = tf.agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
    return _mlt_score_postings(tf, n_docs, query_docs, id_col, k, max_df_frac)


def doc_keyphrases(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Per-document keyphrase extraction: each document's top-``k``
    terms by doc-level TF·IDF (tf = occurrences in the doc,
    idf = ln(N/df) — same natural-log/no-smoothing convention as
    :func:`tfidf_by_group`) — the metadata-enrichment step that tags
    corpus documents for routing, sampling audits and index facets.

    Spark shape: the (doc,term) tf agg feeds both the doc_freq rollup
    (term-keyed) and the scoring join; N rides a 1-row broadcast. The
    per-doc top-k is a rank-filtered window → TWO-PHASE
    WindowGroupLimit, so each task forwards at most k rows per doc.
    Cross-engine exactness: scores round to 12 dp DECIMAL before the
    rank ordering (ties → term ascending), so the oracle's QUALIFY
    replays exactly. Returns (``id_col``, rnk, term, score).
    """
    from pyspark.sql import Window

    tok = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
    tf = tok.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
    n_docs = df.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = tf.join(dfreq, "term").join(F.broadcast(n_docs))
    score = F.round(
        F.col("tf")
        * F.log(F.col("n_docs").cast("double") / F.col("doc_freq")),
        12,
    ).cast("decimal(28,12)")
    w = Window.partitionBy(id_col).orderBy(
        F.desc("score_x"), F.asc("term")
    )
    return (
        scored.withColumn("score_x", score)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            id_col,
            "rnk",
            "term",
            F.col("score_x").cast("double").alias("score"),
        )
    )


def js_divergence_by_group(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """Jensen–Shannon divergence between each corpus slice's unigram
    distribution and the REST of the corpus — the distribution
    distance corpus-mixing work reports (bounded [0, ln 2], symmetric,
    finite even on disjoint vocabularies — everything KL is not).
    Complements x_ks_drift/x_psi_drift, which compare LENGTHS; this
    compares CONTENT.

    Zero-row-free decomposition (never materializes the group×vocab
    grid): with p the slice's term probability and q the rest's,

        JS = ½·Σ_{t∈s} p·ln(2p/(p+q))
           + ½·[ Σ_{t∈s, q>0} q·ln(2q/(p+q)) + ln 2 · (1 − Σ_{t∈s} q) ]

    — terms absent from the slice contribute exactly q·ln 2, and their
    total rest-mass is 1 − Σ_{t∈s} q, so one pass over the slice's own
    (group, term) rows (plus the term totals) covers the whole
    vocabulary. p and q are exact integer ratios; every summand is
    rounded to 12 dp and accumulated in DECIMAL(28,12), so the oracle
    replays bit-for-bit.

    Spark shape: one (group,term) count agg, a term-keyed totals agg
    joined back (uniform high-cardinality key), group totals + N on a
    broadcast, one grouped decimal sum per slice. Slices covering the
    whole corpus (n_rest = 0) are dropped. Returns
    (group_col, n_tokens, n_rest_tokens, js_divergence).
    """
    tok = df.select(
        F.col(group_col), F.explode(tokens(text_col)).alias("term")
    )
    counts = (
        tok.groupBy(group_col, "term")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    term_tot = counts.groupBy("term").agg(
        F.sum("c").cast("bigint").alias("ct")
    )
    grp_tot = counts.groupBy(group_col).agg(
        F.sum("c").cast("bigint").alias("ng")
    )
    grand = counts.agg(F.sum("c").cast("bigint").alias("n"))
    cells = (
        counts.join(term_tot, "term")
        .join(F.broadcast(grp_tot), group_col)
        .join(F.broadcast(grand))
    )
    p = F.col("c").cast("double") / F.col("ng").cast("double")
    q = (F.col("ct") - F.col("c")).cast("double") / (
        F.col("n") - F.col("ng")
    ).cast("double")
    dec = lambda x: F.round(x, 12).cast("decimal(28,12)")
    a_term = dec(p * F.log(F.lit(2.0) * p / (p + q)))
    b_term = F.when(
        F.col("ct") > F.col("c"), dec(q * F.log(F.lit(2.0) * q / (p + q)))
    )
    agg = (
        cells.filter(F.col("n") > F.col("ng"))
        .groupBy(group_col, "ng", "n")
        .agg(
            F.sum(a_term).alias("A"),
            F.sum(b_term).alias("B"),
            F.sum(dec(q)).alias("C"),
        )
    )
    js = F.lit(0.5) * F.col("A").cast("double") + F.lit(0.5) * (
        F.coalesce(F.col("B").cast("double"), F.lit(0.0))
        + F.log(F.lit(2.0)) * (F.lit(1.0) - F.col("C").cast("double"))
    )
    return agg.select(
        group_col,
        F.col("ng").alias("n_tokens"),
        (F.col("n") - F.col("ng")).alias("n_rest_tokens"),
        js.alias("js_divergence"),
    )
