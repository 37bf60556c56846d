"""ST1–ST5 — the real-time webhook path as Structured Streaming.

Reference behavior being reproduced (SURVEY.md §2.7):
- at-least-once input with provider retries (try_count/has_succeeded
  columns, reference README.md:77–80) → exactly-once *effect* via
  dedup on event id (ON CONFLICT DO NOTHING, webhook_app.py:48);
- no late-data dropping — events accepted whenever they arrive, with
  both arrival time (received_at) and event time kept
  (webhook_app.py:54,56); the watermark exists only to bound dedup
  state, set generously;
- idempotent partitioned sink (foreachBatch + parquet append keyed
  dedup) replacing connection-per-event inserts (webhook_app.py:38).

State sizing at scale: dropDuplicates keeps one record per event id
inside the watermark horizon; with a 1-hour horizon and ~1k events/s
that is ~3.6M keys of state per office — trivially partitioned across
executors by the id hash. ``stream_silver`` sizes that state to the
cluster's cores (see its docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators.cacheutil import Frames
from ..sources.webhook import (
    project_silver,
    read_webhook_json,
    unwrap_events,
    write_silver,
)


def stream_silver(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    checkpoint: str,
    watermark: str = "1 hour",
    available_now: bool = True,
    raw: DataFrame | None = None,
) -> StreamingQuery:
    """readStream → whitelist/unwrap/project → watermark + dedup(id)
    → foreachBatch partitioned write.

    ``available_now=True`` drains all available input then stops —
    the batch-equivalent trigger used by tests and the 8×/day refresh
    cadence of the reference's dashboards (README.md:513); pass False
    for a continuously running micro-batch stream.

    ``raw`` swaps the file source for any streaming frame with the
    raw-webhook schema — e.g. ``sources.webhook.rate_webhook_source``
    (the live push adapter) or a Kafka value stream parsed the same
    way; every stage after the source is shared.

    State sizing: the dedup state store has one partition per shuffle
    partition, and the checkpoint pins that count for the query's
    lifetime. A query started on a NEW checkpoint gets
    ``sparkContext.defaultParallelism`` partitions — one state task
    per core per micro-batch, instead of the batch-query width of
    ``spark.sql.shuffle.partitions`` (tens of near-empty tasks on a
    webhook-sized batch). A query restarted on an EXISTING checkpoint
    keeps the count recorded in its offset log, which Spark restores
    over the session value. The session conf is only overridden while
    the query starts (the stream clones the session then) and is
    restored before this returns; a query another thread plans on the
    same session during that window sees the core count too.
    """
    if raw is None:
        raw = read_webhook_json(spark, in_path, streaming=True)
    silver = (
        project_silver(unwrap_events(raw))
        .withWatermark("received_at", watermark)
        .dropDuplicates(["id"])
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch is at-least-once; the append is made effectively
        # idempotent by the upstream dedup + downstream latest-per-key
        # reads (operators.snapshot), mirroring conflict-skip semantics.
        write_silver(batch_df, out_path)

    writer = silver.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    key = "spark.sql.shuffle.partitions"
    caller = spark.conf.get(key)
    spark.conf.set(key, str(spark.sparkContext.defaultParallelism))
    try:
        return writer.start()
    finally:
        spark.conf.set(key, caller)


def stream_dedup_documents(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    store_path: str,
    checkpoint: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Continuous corpus ingestion with *content* dedup across the
    stream's whole lifetime: each micro-batch is admitted through
    ``operators.dedup.incremental_dedup``, whose persistent hash store
    remembers every content hash ever seen — unlike
    ``dropDuplicates`` + watermark, whose state (and therefore dedup
    guarantee) is bounded by the watermark horizon. The store is a
    hash-only parquet (~32 B/doc), so "all history" stays cheap at
    100 TB of corpus while the membership check is one left-anti join
    per batch.
    """
    from ..operators.dedup import incremental_dedup

    raw = (
        spark.readStream.schema("doc_id bigint, text string")
        .json(in_path)
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # output written BEFORE the hash-store append (see
        # incremental_dedup's crash-safety contract): a retried batch
        # can duplicate rows but can never lose them
        incremental_dedup(
            batch_df,
            store_path,
            sink=lambda adm: adm.write.mode("append").parquet(out_path),
        )

    writer = raw.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_paragraph_dedup(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    store_path: str,
    checkpoint: str,
    sep: str = r"\n{2,}",
    joiner: str = "\n\n",
    available_now: bool = True,
    compact_every: int | None = None,
) -> StreamingQuery:
    """Continuous CCNet paragraph-level dedup (round 14 — the
    paragraph sibling of :func:`stream_dedup_documents`): each
    micro-batch runs ``operators.dedup.incremental_paragraph_dedup``
    against the lifetime paragraph-hash store, writing the cleaned
    per-doc rows (clean_text reassembled from first-occurrence
    paragraphs) BEFORE the hash append — the family's crash contract.
    When input files arrive in doc_id order the drained output equals
    one-shot paragraph_dedup over the union (the
    x_paragraph_dedup_drain gate's construction); out-of-order
    arrival keeps each distinct paragraph surviving exactly once with
    arrival-order ownership. Optional in-sink compaction every
    ``compact_every`` batches dedupes replayed hashes (membership
    invariant, pytest-pinned)."""
    from ..operators.dedup import (
        compact_paragraph_store,
        incremental_paragraph_dedup,
    )

    raw = (
        spark.readStream.schema("doc_id bigint, text string")
        .json(in_path)
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        incremental_paragraph_dedup(
            batch_df,
            store_path,
            sep=sep,
            joiner=joiner,
            sink=lambda adm: adm.write.mode("append").parquet(out_path),
        )
        if compact_every is not None and (batch_id + 1) % compact_every == 0:
            compact_paragraph_store(spark, store_path)

    writer = raw.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_soft_dedup_documents(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    store_path: str,
    checkpoint: str,
    schema: str = "doc_id bigint, text string, lang string, "
    "source string, n_chars bigint",
    available_now: bool = True,
    compact_every: int | None = None,
) -> StreamingQuery:
    """Streaming SOFT dedup (round 11) — the foreachBatch counterpart
    of ``run_curation_pipeline(soft_dedup=True)``: near-duplicate
    documents are never dropped; each micro-batch is labeled with its
    near-dup cluster and a RUNNING 1/|cluster so far| weight via
    ``operators.dedup.soft_dedup_admit``, whose one-table signature
    store (signatures + admission-time cluster label) makes the
    running size one groupBy per batch — no text rescan, no
    re-clustering of history. Batch rows + (cluster_id, n_cluster,
    weight) append to ``out_path``.

    The running weights are PROVISIONAL by design (append-only store:
    a bridging doc merges clusters going forward, not retroactively);
    ``operators.dedup.soft_dedup_finalize`` reconciles the store into
    the exact batch-pipeline labels/weights — the artifact a training
    run ships. Batch-parity with the curation pipeline's soft mode is
    pinned in tests/test_streaming.py.

    ``compact_every=N`` runs ``operators.dedup.compact_soft_store``
    after every Nth batch: foreachBatch is sequential, so the inside
    of the sink IS the quiet window the compaction swap needs, and the
    label rewrite re-synchronizes the store's provisional labels to
    the exact clustering — bounding how stale running weights can get
    without paying a finalize per batch (tiny-file growth is bounded
    as a side effect). Leave it None for an external compaction
    cadence."""
    from ..operators.dedup import compact_soft_store, soft_dedup_admit

    raw = spark.readStream.schema(schema).json(in_path)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # output written BEFORE the store append (the incremental_dedup
        # crash-safety contract): a retried batch can duplicate rows
        # but can never lose them
        soft_dedup_admit(
            batch_df,
            store_path,
            sink=lambda adm: adm.write.mode("append").parquet(out_path),
        )
        if compact_every is not None and (batch_id + 1) % compact_every == 0:
            compact_soft_store(spark, store_path)

    writer = raw.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_embeddings_index(
    spark: SparkSession,
    in_path: str,
    store_path: str,
    checkpoint: str,
    schema: str = "vec_id bigint, embedding array<float>, label string",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """Streaming ANN-index maintenance (round 12) — the foreachBatch
    wrapper over ``operators.similarity.ivf_index_append``: each
    micro-batch of new embedding vectors is routed to its nearest
    FROZEN centroid and appended to the persisted IVF index's
    bucket-partitioned inverted lists, so similarity search stays
    current under continuous ingest without a corpus re-index — the
    dense-retrieval counterpart of the BM25 postings sink.

    Contract mirrors the admission family: the index must already
    exist (build_ivf_index + save_ivf_index seed it — appends never
    bootstrap a quantizer), the quantizer never re-trains inside the
    stream, and exactly-once is delegated to the checkpoint (a
    replayed batch duplicates list rows; dedup upstream or rebuild in
    a quiet window). Batch-ingest parity with a one-shot build under
    the same centroids is pinned in tests/test_similarity.py."""
    from ..operators.similarity import ivf_index_append

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.json(in_path)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        ivf_index_append(batch_df, store_path)

    writer = raw.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_nsw_index(
    spark: SparkSession,
    in_path: str,
    store_path: str,
    checkpoint: str,
    schema: str = "vec_id bigint, embedding array<float>, label string",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    compact_every: int | None = None,
    compact_refresh_iters: int = 0,
) -> StreamingQuery:
    """Streaming GRAPH-ANN index maintenance (round 13 — the NSW leg
    of the index-ingest family: BM25 postings, IVF lists, and now the
    neighbor graph all stay current under continuous ingest): each
    micro-batch of new embedding vectors folds into the persisted NSW
    index by search-then-connect (``similarity.nsw_index_append``),
    with optional in-sink compaction every ``compact_every`` batches
    re-pruning reverse-edge degree overflow (the stream is the quiet
    window — foreachBatch is sequential, so no append races it).

    ``compact_refresh_iters`` (round 15 — the r14 verdict's task 3,
    resolved AGAINST the refresh): each in-sink compaction runs that
    many post-prune NN-descent rounds per layer
    (``compact_nsw_graph(refresh_iters=)``). The round-15 depth soaks
    measured that neither the refresh nor the heuristic select closes
    the post-compaction recall dip at scale (0.72 at the compaction
    generation in BOTH, vs 0.76 bare at x8 — the r14 one-shot
    0.92→0.96 improvement did not generalize), while the refresh
    costs extra NN-descent exchanges per layer; the dip recovers to
    0.84–1.0 within one append generation in every configuration, so
    the DEFAULT stays the bare prune (0). See PERF.md round 15.

    Contract mirrors the family: the index must already exist
    (nsw_build_graph + save_nsw_index seed it — appends never
    bootstrap the layer structure), levels are hash-derived so
    streamed nodes draw the same level as a one-shot build, and
    exactly-once is delegated to the checkpoint (a replayed batch
    duplicates edges; compaction dedupes them)."""
    from ..operators.similarity import compact_nsw_graph, nsw_index_append

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.json(in_path)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        nsw_index_append(batch_df, store_path)
        if compact_every is not None and (batch_id + 1) % compact_every == 0:
            compact_nsw_graph(
                spark, store_path, refresh_iters=compact_refresh_iters
            )

    writer = raw.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_bm25_index(
    spark: SparkSession,
    in_path: str,
    store_path: str,
    checkpoint: str,
    schema: str = "doc_id bigint, text string, lang string, "
    "source string, n_chars bigint",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    compact_every: int | None = None,
) -> StreamingQuery:
    """Streaming lexical-index maintenance (round 12) — the foreachBatch
    wrapper over ``corpus.bm25_index_append``, completing the
    retrieval-ingest pair with :func:`stream_embeddings_index`: each
    micro-batch of documents folds its postings into the persistent
    BM25 store, so ``corpus.bm25_query_store`` serves scores that
    include everything ingested so far. Postings are disjoint-by-doc
    and additive, so any batching yields exactly the one-shot index
    (the x_bm25_drain gate's invariant). ``compact_every=N``
    right-sizes the postings files after every Nth batch inside the
    sink — foreachBatch is sequential, so the sink IS the compaction's
    quiet window (the stream_soft_dedup_documents idiom).
    Exactly-once is the checkpoint's job; a replayed batch would
    double its tf rows (same caveat and remedies as
    bm25_index_append)."""
    from ..operators.corpus import bm25_index_append, compact_bm25_store

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.json(in_path)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        bm25_index_append(batch_df, store_path)
        if compact_every is not None and (batch_id + 1) % compact_every == 0:
            compact_bm25_store(spark, store_path)

    writer = raw.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_drift_gated_ingest(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    quarantine_path: str,
    store_path: str,
    checkpoint: str,
    schema: str = "doc_id bigint, text string, lang string, "
    "source string, n_chars bigint",
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    w1_threshold: float | None = None,
) -> StreamingQuery:
    """Drift-GATED ingestion (round 12) — the admission family composed
    into an executable gate: every micro-batch of documents is scored
    against the accumulated history (numeric PSI over n_chars via
    ``quality.psi_admit`` + categorical chi-square over lang via
    ``quality.chi2_admit``) and ROUTED — a batch either side flags
    lands in ``quarantine_path`` instead of ``out_path``, so a
    mis-crawled slice never reaches the corpus, while both score rows
    append to ``{store_path}/monitor`` as the alerting artifact
    (batch id, both statistics, the route taken).

    Reference-contract split, stated deliberately: the MONITOR's
    history tracks everything OBSERVED (quarantined batches included —
    the admit operators' score-before-append contract already orders
    score vs fold-in correctly), while the GATE protects the CORPUS
    (out_path only receives clean batches). Excluding quarantined
    data from the reference would instead let one bad slice's
    absence bias every later comparison window.

    Cold start admits by construction: PSI's empty history is the
    well-defined uniform reference and chi-square's cold start is
    explicitly undefined (``chi2_defined`` false → no rejection), so
    the first batch seeds both histories. foreachBatch is sequential,
    so the admit calls and the routed write are one atomic batch
    step under the checkpoint.

    ``w1_threshold`` (round 13) arms an optional THIRD scorer:
    Wasserstein-1 over n_chars vs a t-digest centroid history
    (quality.w1_admit) — value-units distance that catches a slow
    location drift PSI's 10 coarse buckets smear into noise; a batch
    whose W1 exceeds the threshold quarantines like the other flags,
    and the monitor row carries (w1_dist, w1_shifted) either way
    (NULLs when disarmed). W1's cold start is undefined → admits.

    DISARMED BY DEFAULT, deliberately (round 14 — the r13 verdict
    asked for the contract to be decided and written down): W1
    carries ``value_col``'s units, so unlike PSI's distribution-free
    0.25 and chi-square's critical value there is NO defensible
    universal default — any baked-in number would be a silent
    policy decision about someone else's column scale. Operators
    that want the location-drift guard pass a threshold in their own
    units (the e2e test's PSI-blind +200-char shift shows why they
    should); threshold=None keeps the scorer entirely un-run and
    both monitor columns NULL, pinned by the disarmed-schema test.

    Monitor schema evolution: round 13 widened the monitor row from 8
    to 10 columns (w1_dist, w1_shifted), and an upgraded stream
    resuming on an older store APPENDS 10-column files next to
    8-column ones — parquet infers from one footer unless told to
    merge, so consumers must read the monitor through
    :func:`read_monitor` (mergeSchema=true; old rows surface NULL W1
    columns) rather than a bare spark.read.parquet."""
    import os

    from pyspark.sql import functions as F

    from ..operators.quality import chi2_admit, psi_admit, w1_admit

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.json(in_path)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        # the batch feeds the scorers + the routed write — pin it so
        # the source JSON parse runs once; the batch's pins (and the
        # scorers' checkpointed score rows) are freed when it ends
        with Frames() as frames:
            b = frames.pin(batch_df, eager=True)
            psi_row = frames.own(
                psi_admit(b, os.path.join(store_path, "psi"))
            ).collect()[0]
            chi_row = frames.own(
                chi2_admit(b, os.path.join(store_path, "chi2"))
            ).collect()[0]
            shifted = bool(psi_row["shifted"]) or bool(
                chi_row["reject_95"] or False
            )
            # optional third scorer: Wasserstein-1 vs a t-digest history
            # catches slow location drift PSI's coarse buckets smear;
            # armed by a threshold, cold start (w1 NULL) admits
            w1_val, w1_shift = None, None
            if w1_threshold is not None:
                w1_row = frames.own(
                    w1_admit(
                        b, os.path.join(store_path, "w1"), threshold=w1_threshold
                    )
                ).collect()[0]
                w1_val = w1_row["w1_dist"]
                w1_shift = bool(w1_row["shifted"])
                shifted = shifted or w1_shift
            spark.createDataFrame(
                [
                    (
                        batch_id,
                        psi_row["n_batch"],
                        psi_row["psi"],
                        bool(psi_row["shifted"]),
                        chi_row["chi2"],
                        bool(chi_row["chi2_defined"]),
                        chi_row["reject_95"],
                        w1_val,
                        w1_shift,
                        "quarantine" if shifted else "out",
                    )
                ],
                "batch_id bigint, n_batch bigint, psi double, "
                "psi_shifted boolean, lang_chi2 double, chi2_defined boolean, "
                "lang_reject_95 boolean, w1_dist double, w1_shifted boolean, "
                "route string",
            ).write.mode("append").parquet(os.path.join(store_path, "monitor"))
            dest = quarantine_path if shifted else out_path
            b.withColumn("__batch_id", F.lit(batch_id)).write.mode(
                "append"
            ).parquet(dest)

    writer = raw.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _write_batch_partition(
    df: DataFrame, path: str, batch_id: int
) -> None:
    """Replay-idempotent micro-batch write (round-15 ADVICE close):
    every batch owns the ``__batch_id=<n>`` partition and lands it
    with DYNAMIC partition overwrite — a foreachBatch retry of the
    same batch overwrites its own partition instead of
    double-appending, so the sink converges under replay with no
    upstream exactly-once assumption."""
    from pyspark.sql import functions as F

    (
        df.withColumn("__batch_id", F.lit(batch_id).cast("bigint"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__batch_id")
        .parquet(path)
    )


def drift_dashboard_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    batch_id: int,
    gold_path: str,
    ref_weeks: int = 4,
    n_buckets: int = 10,
    refresh: bool = True,
    prefix: str = "gold_",
) -> dict[str, DataFrame] | None:
    """One micro-batch step of the INCREMENTAL drift dashboard (round
    15 — the r14 verdict's task 2): land the batch, fold its counts
    into the spine state, refresh only the touched panel weeks.

    1. Silver: the batch's rows land in their own ``__batch_id``
       partition with dynamic overwrite (replay-idempotent — the
       round-14 ADVICE flag on the append form).
    2. Spine deltas: the batch is aggregated to the SAME count grains
       the panels are built from — (event_type, week, floor(value))
       for the numeric panel, (week, event_type) for the mix panel —
       and each delta lands in ``panel_state/{num,cat}_counts`` under
       its ``__batch_id`` partition (dynamic overwrite again, so a
       replayed batch's counts fold in exactly once). Counts are
       additive, so the merged spine ≡ the one-shot spine over the
       accumulated corpus; the panels NEVER rescan silver.
    3. Refresh (see :func:`refresh_drift_panels_incremental`):
       recompute only the weeks the unpublished batches touched plus
       their ``ref_weeks`` forward reference horizon, upsert into the
       published generation.

    Returns the published frames (None when ``refresh`` is False —
    the ``refresh_every`` thinning)."""
    import os

    from pyspark.sql import functions as F

    with Frames() as frames:
        # the batch feeds three writes; freed once they landed
        b = frames.pin(batch_df, eager=True)
        _write_batch_partition(
            b, os.path.join(gold_path, "events_silver"), batch_id
        )
        week = F.date_trunc("week", F.col("ts")).cast("date").alias("week")
        num_delta = (
            b.withColumn("value", F.floor("value"))
            .filter(F.col("value").isNotNull() & F.col("ts").isNotNull())
            .groupBy(
                F.col("event_type"),
                week,
                F.col("value").cast("bigint").alias("v"),
            )
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        _write_batch_partition(
            num_delta,
            os.path.join(gold_path, "panel_state", "num_counts"),
            batch_id,
        )
        cat_delta = (
            b.filter(F.col("event_type").isNotNull() & F.col("ts").isNotNull())
            .groupBy(week, F.col("event_type").alias("c"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        _write_batch_partition(
            cat_delta,
            os.path.join(gold_path, "panel_state", "cat_counts"),
            batch_id,
        )
    if refresh:
        return refresh_drift_panels_incremental(
            spark,
            gold_path,
            batch_id,
            ref_weeks=ref_weeks,
            n_buckets=n_buckets,
            prefix=prefix,
        )
    return None


def refresh_drift_panels_incremental(
    spark: SparkSession,
    gold_path: str,
    upto_batch_id: int,
    ref_weeks: int = 4,
    n_buckets: int = 10,
    prefix: str = "gold_",
) -> dict[str, DataFrame]:
    """Touched-weeks-only panel refresh over the count-spine state
    (round 15 — the r14 verdict's task 2: the round-14 sink recomputed
    BOTH panels over the FULL silver history every micro-batch; at a
    100 TB silver that is a per-trigger full scan). The panels are
    (event_type, week)-keyed and a batch appending week w can only
    change the rows of weeks [w, w+ref_weeks] (w's own cur side plus
    the trailing windows that reference it), so:

    - merge the per-batch count deltas into the spine (one spine-sized
      groupBy — the ONLY aggregation; silver facts are never read);
    - touched = distinct weeks of delta partitions with
      ``__batch_id`` > the last PUBLISHED batch (crash between publish
      and state-file write only widens the touched set — correct,
      never stale);
    - recompute exactly touched × [0..ref_weeks] forward weeks via
      ``rolling_drift_from_counts(out_weeks=...)`` /
      ``rolling_chi2_from_counts(out_weeks=...)`` and UPSERT into the
      published generation (anti-join the old rows, union the new).

    GLOBAL-COUPLING ESCAPE: the numeric panel's PSI buckets span the
    global value hull; a batch that EXTENDS the hull moves every
    week's bucket edges, so the refresh compares the merged spine's
    hull against the published one and falls back to a full panel
    recompute when it changed (or on first publish) — still
    spine-sized, never a fact rescan. The published hull + batch
    horizon live in ``panel_state/published.json`` (written with
    tmp + os.replace after both panels publish)."""
    import json
    import os

    from pyspark.sql import functions as F

    from ..operators.generations import read_current, write_generation
    from ..operators.quality import (
        rolling_chi2_from_counts,
        rolling_drift_from_counts,
    )

    state = os.path.join(gold_path, "panel_state")
    pub_file = os.path.join(state, "published.json")
    prior = None
    if os.path.exists(pub_file):
        with open(pub_file) as f:
            prior = json.load(f)

    def _state(sub: str, schema: str) -> DataFrame:
        # a batch with zero qualifying rows writes no files; surface
        # an empty typed frame instead of UNABLE_TO_INFER_SCHEMA
        p = os.path.join(state, sub)
        try:
            return spark.read.schema(schema).parquet(p)
        except Exception:
            return spark.createDataFrame([], schema)

    num_raw = _state(
        "num_counts",
        "event_type string, week date, v bigint, cnt bigint, "
        "__batch_id bigint",
    )
    cat_raw = _state(
        "cat_counts",
        "week date, c string, cnt bigint, __batch_id bigint",
    )
    # the state pins are freed once both panels are published
    with Frames() as frames:
        num = frames.pin(
            num_raw.groupBy("event_type", "week", "v").agg(F.sum("cnt").alias("cnt")),
            eager=True,
        )
        cat = cat_raw.groupBy("week", "c").agg(F.sum("cnt").alias("cnt"))
        hrow = num.agg(F.min("v").alias("lo"), F.max("v").alias("hi")).collect()[0]
        lo, hi = hrow["lo"], hrow["hi"]
        lo = int(lo) if lo is not None else None
        hi = int(hi) if hi is not None else None
        incremental = (
            prior is not None and prior["lo"] == lo and prior["hi"] == hi
        )

        if incremental:
            last = int(prior["batch_id"])
            horizon = F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(ref_weeks)),
                    lambda k: F.date_add(F.col("week"), (k * 7).cast("int")),
                )
            ).alias("w")
            aff_num = frames.pin(
                num_raw.filter(F.col("__batch_id") > last)
                .select("event_type", horizon)
                .distinct(),
                eager=True,
            )
            aff_cat = frames.pin(
                cat_raw.filter(F.col("__batch_id") > last).select(horizon).distinct(),
                eager=True,
            )
            old_drift = read_current(spark, os.path.join(gold_path, "drift_panel"))
            drift = old_drift.join(
                aff_num,
                old_drift["event_type"].eqNullSafe(aff_num["event_type"])
                & (old_drift["week_start"] == aff_num["w"]),
                "left_anti",
            ).unionByName(
                rolling_drift_from_counts(
                    num,
                    ref_weeks=ref_weeks,
                    n_buckets=n_buckets,
                    out_weeks=aff_num,
                )
            )
            old_mix = read_current(spark, os.path.join(gold_path, "mix_panel"))
            mix = old_mix.join(
                aff_cat, old_mix["week_start"] == aff_cat["w"], "left_anti"
            ).unionByName(
                rolling_chi2_from_counts(
                    cat, ref_weeks=ref_weeks, out_weeks=aff_cat
                )
            )
        else:
            drift = rolling_drift_from_counts(
                num, ref_weeks=ref_weeks, n_buckets=n_buckets
            )
            mix = rolling_chi2_from_counts(cat, ref_weeks=ref_weeks)

        out: dict[str, DataFrame] = {}
        for name, df in (("drift_panel", drift), ("mix_panel", mix)):
            path = os.path.join(gold_path, name)
            write_generation(df, path)
            cur = read_current(spark, path)
            cur.createOrReplaceTempView(f"{prefix}{name}")
            out[name] = cur
    tmp = pub_file + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"batch_id": upto_batch_id, "lo": lo, "hi": hi}, f)
    os.replace(tmp, pub_file)
    return out


def stream_drift_dashboard(
    spark: SparkSession,
    in_path: str,
    gold_path: str,
    checkpoint: str,
    schema: str = "event_id bigint, ts timestamp, user_id bigint, "
    "event_type string, value double",
    ref_weeks: int = 4,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    refresh_every: int = 1,
) -> StreamingQuery:
    """STREAM-FRESH drift panels (round 14 — the r13 verdict's task 3;
    round 15 INCREMENTALIZED per the r14 verdict's task 2): each
    micro-batch of events lands in its own silver partition, folds its
    counts into the ``panel_state`` spine stores, and refreshes ONLY
    the touched weeks of the rolling KS/W1/PSI numeric panel and the
    weekly categorical mix panel — see :func:`drift_dashboard_batch` /
    :func:`refresh_drift_panels_incremental`. Both panels publish
    behind the generation manifest, so a dashboard reading mid-stream
    sees old-or-new, never a mix. ``refresh_every`` thins the refresh
    to every Nth batch (the silver + spine writes still land every
    batch; the next refresh folds every unpublished batch's weeks in).

    Stream-vs-batch parity is pinned end-to-end by the pytest that
    streams micro-batches and diffs the gold tables row-for-row
    against a one-shot refresh_drift_dashboard over the full input,
    and cross-engine by the t25 gate (oracle = t22's SQL verbatim).
    Replay safety: every write is partition-owned by ``__batch_id``
    with dynamic overwrite, so a replayed batch overwrites itself and
    the panels converge (no upstream exactly-once assumption — the
    round-14 ADVICE flag on the plain-append form)."""

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.json(in_path)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        drift_dashboard_batch(
            spark,
            batch_df,
            batch_id,
            gold_path,
            ref_weeks=ref_weeks,
            refresh=(batch_id + 1) % refresh_every == 0,
        )

    writer = raw.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_monitor(spark: SparkSession, store_path: str) -> DataFrame:
    """Read the drift-gated-ingest monitor table SCHEMA-MERGED
    (round-14 ADVICE): the monitor path accumulates appends across
    code versions, and round 13 widened the row from 8 to 10 columns
    (w1_dist, w1_shifted) — without mergeSchema, parquet infers the
    schema from a single footer and silently drops either the new
    columns or the old rows' view of them depending on which file it
    samples. Old rows surface NULL in the W1 columns, which is also
    their correct meaning (the scorer wasn't armed when they were
    written). Read through the shared guarded reader
    (operators.stores.read_store) with the 8 round-12-era columns
    pinned name+type — the family-wide close of the same hazard."""
    import os

    from ..operators.stores import read_store

    return read_store(
        spark,
        os.path.join(store_path, "monitor"),
        required="batch_id bigint, n_batch bigint, psi double, "
        "psi_shifted boolean, lang_chi2 double, chi2_defined boolean, "
        "lang_reject_95 boolean, route string",
    )


def stream_dedup_within_watermark(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    checkpoint: str,
    id_col: str = "event_id",
    ts_col: str = "ts",
    watermark: str = "1 hour",
    available_now: bool = True,
) -> StreamingQuery:
    """The WATERMARK-BOUNDED dedup variant (S8 for at-least-once
    sources): ``dropDuplicatesWithinWatermark`` keeps per-id state only
    until the watermark passes the id's event time, so state size is
    bounded by the lateness horizon instead of the stream's lifetime —
    the right trade when retries are near-in-time redeliveries (the
    reference's webhook double-fires, webhook_app.py:48) rather than
    long-range content duplicates. Complements
    ``stream_dedup_documents``: bounded state + bounded guarantee
    there, all-history guarantee + hash-store cost here.
    """
    raw = (
        spark.readStream.schema(
            f"{id_col} bigint, {ts_col} timestamp, value double"
        ).json(in_path)
    )
    deduped = raw.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        [id_col]
    )
    writer = (
        deduped.writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_static_enrich(
    events: DataFrame,
    dim: DataFrame,
    on: list[str] | str,
    how: str = "left",
    broadcast_dim: bool = True,
) -> DataFrame:
    """Stream–static enrichment join (the streaming sibling of the
    batch j3_enriched_events): a streaming frame joined to a BATCH
    dimension. Snapshot semantics: a file-backed static side pins its
    FILE LISTING when the DataFrame is created, so dim rows appended
    mid-stream are NOT visible for the life of the query (pinned in
    tests/test_streaming.py) — use :func:`stream_enrich_refreshing`
    for the slowly-changing "enrich with the CURRENT account/agent
    table" pattern. The dim broadcasts by default (stream-side rows never
    shuffle for the join); pass broadcast_dim=False when the
    dimension is genuinely too large, which makes each micro-batch a
    shuffled join of THAT BATCH only — still bounded by batch size,
    never by stream history. Drained-stream == batch-join parity is
    pinned in tests/test_streaming.py."""
    from pyspark.sql import functions as F

    d = F.broadcast(dim) if broadcast_dim else dim
    return events.join(d, on, how)


def stream_enrich_refreshing(
    events: DataFrame,
    read_dim,
    on: list[str] | str,
    sink,
    checkpoint: str,
    how: str = "left",
    broadcast_dim: bool = True,
    available_now: bool = True,
) -> StreamingQuery:
    """Stream–static enrichment against a REFRESHING dimension — the
    variant :func:`stream_static_enrich`'s docstring promises: a
    parquet-backed static side pins its FILE LISTING when the
    DataFrame is created, so dim rows appended mid-stream are
    invisible to the plain join for the life of the query. Here the
    dimension is re-read inside ``foreachBatch`` — ``read_dim`` is a
    zero-arg callable (e.g. ``lambda: spark.read.parquet(dim_path)``)
    invoked PER MICRO-BATCH, so each batch joins against the
    dimension's files as of THAT batch — the slowly-changing
    account/agent table pattern (the reference re-reads its CRM table
    per run, Lead_Ingestion_CRM_SQLite.py's refresh loop; this is the
    streaming equivalent).

    ``sink(enriched_df, batch_id)`` receives each enriched batch —
    foreachBatch's at-least-once semantics are the caller's to absorb,
    same contract as every other sink in this module. The dim
    broadcasts by default; the join is a batch join of one
    micro-batch, so cost is bounded by batch size, never stream
    history. Snapshot-vs-refreshing divergence is pinned in
    tests/test_streaming.py."""
    from pyspark.sql import functions as F

    def run(batch_df: DataFrame, batch_id: int) -> None:
        d = read_dim()
        if broadcast_dim:
            d = F.broadcast(d)
        sink(batch_df.join(d, on, how), batch_id)

    writer = events.writeStream.foreachBatch(run).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
