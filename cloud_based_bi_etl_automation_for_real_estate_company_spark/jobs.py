"""End-to-end pipeline jobs — the composition layer that replaces the
reference's cron-ish operational loop (backfill script + webhook
receiver + 8×/day Power BI refresh, reference README.md:511–513).

``refresh_gold`` is the scheduled batch: silver event log → current
snapshot → every dashboard measure materialized as gold parquet + SQL
views. Each refresh recomputes the snapshot from all of silver, once,
pins it, and replaces the published gold tables in full.

``run_backfill_merge`` is the U2/J4 flow: merge a historical bulk load
with live silver, latest-per-key, write the snapshot.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

from .operators.cacheutil import Frames
from .operators.generations import publish
from .operators.snapshot import upsert_merge
from .plans import gold
from .schemas import SILVER_EVENT_SCHEMA

# The published snapshot's column order: lead_id, the other event
# columns, event, then account (its partition column, read back last).
_SNAPSHOT_COLUMNS = (
    ["lead_id"]
    + [f.name for f in SILVER_EVENT_SCHEMA
       if f.name not in ("lead_id", "account", "event")]
    + ["event", "account"]
)


def refresh_gold(
    spark: SparkSession,
    silver_path: str,
    gold_path: str,
    prefix: str = "gold_",
) -> dict[str, DataFrame]:
    """The 8×/day dashboard refresh.

    Silver is read with ``schemas.SILVER_EVENT_SCHEMA`` (no
    schema-inference job) and its ``__batch_id`` bookkeeping column is
    dropped. The lead snapshot is built from it once — one shuffle, see
    ``gold.lead_snapshot`` — and pinned; the snapshot table and the
    seven measure tables (funnel, conversion_rates, sales_totals,
    agent_table, agent_ranking, monthly_trend, detail_listing) are then
    all published concurrently from that pin, one pool thread each, so
    the silver scan and the snapshot window run once per refresh, not
    once per table. Every pool job runs in the caller's job group,
    description and tags. The result dict keeps the builders' order
    (the snapshot first), a failed table re-raises its exception, and
    the pin is freed before this returns: every returned frame reads
    its published files.

    Every table is published as a full replacement, the next
    generation behind its link (``operators.generations``): an account
    whose leads are all deleted loses its snapshot partition instead
    of keeping a stale one that every measure would then count. A
    concurrent reader of one table sees the old table or the new one,
    never a partial one; across tables it can see a mix of old and new
    while the refresh runs, but every new one is computed from the
    same snapshot. Each table is read back with the schema just
    written (no schema-inference job)."""
    silver = spark.read.schema(SILVER_EVENT_SCHEMA).parquet(silver_path)
    builders = {
        "lead_snapshot": lambda snap: snap,
        "funnel": gold.funnel,
        "conversion_rates": gold.conversion_rates,
        "sales_totals": gold.sales_totals,
        "agent_table": gold.agent_table,
        "agent_ranking": gold.agent_ranking,
        "monthly_trend": gold.monthly_trend,
        "detail_listing": gold.detail_listing,
    }
    with Frames() as frames:
        snap = frames.pin(
            gold.lead_snapshot(silver.select(*_SNAPSHOT_COLUMNS)), eager=True
        )

        @inheritable_thread_target(spark)
        def build(name: str) -> DataFrame:
            partition_by = ["account"] if name == "lead_snapshot" else None
            return publish(
                builders[name](snap), os.path.join(gold_path, name),
                f"{prefix}{name}", partition_by,
            )

        with ThreadPoolExecutor(len(builders)) as pool:
            return dict(zip(builders, pool.map(build, builders)))


def run_backfill_merge(
    backfill: DataFrame, live: DataFrame, out_path: str
) -> DataFrame:
    """U2/J4 — one-time history merge: bulk-loaded backfill ∪ live
    stream → last-write-wins snapshot (reference README.md:149),
    published as a full replacement of ``out_path`` (as
    :func:`refresh_gold` publishes its snapshot)."""
    merged = upsert_merge(backfill, live, ["lead_id"], ["received_at", "id"])
    return publish(merged, out_path, partition_by=["account"])


def run_curation_pipeline(
    spark: SparkSession,
    sf_dir: str,
    out_path: str,
    entropy_gate: tuple[float, float] | None = None,
    span_dedup_spans: int | None = None,
    mixture_alpha: float | None = None,
    substring_min_len: int | None = None,
    domain_cap_per_source: int | None = None,
    sort_output_by: str | None = None,
    soft_dedup: bool = False,
    full_mojibake_repair: bool = False,
    drift_report: bool = False,
    lsh_max_bucket: int | None = None,
) -> DataFrame:
    """End-to-end training-data curation — the composition the
    individual oracle-checked operators exist for:

    0. encoding hygiene (mojibake digraph repair + replacement-char
       strip — map-only replace chain, so mis-decoded crawls of the
       same document hash together at the dedup stages);
    1. quality gate (map-side column filter, fuses into the scan);
    2. repetition gate (Gopher-style dup-token/bigram thresholds);
    3. exact dedup (one content-hash groupBy; canonical = min doc_id);
    4. near-dup pruning (MinHash→LSH candidates, gated to signature
       agreement ≥ 0.5 so band-collision false positives never merge
       clusters → connected components; only the cluster
       representative survives);
    5. benchmark decontamination (broadcast eval shingle set,
       left-anti on overlap);
    6. PII redaction (map-only regexp chain on the survivors);
    7. stratified downsampling (content-hash bucket, map-side);
    8. deterministic train/val/test split;
    9. write partitioned by split (dynamic partition overwrite).

    Stage order is deliberate for scale: the cheap map-side gates run
    first so the shuffling stages (3, 4) see the smallest possible
    input; the near-dup stage — the only quadratic-ish one — runs on
    already exactly-deduped text; redaction runs last-but-one so the
    regexes only touch rows that will actually be written.

    Optional stages (off by default, so the pinned default output is
    stable): ``entropy_gate=(lo, hi)`` drops degenerate/gibberish
    documents by unigram entropy between the repetition gate and
    dedup; ``span_dedup_spans=k`` rewrites text with globally repeated
    k-token spans removed (and drops fully-redundant documents)
    BEFORE exact dedup, since cleaning changes content hashes.
    ``mixture_alpha=a`` adds a temperature-``a`` source-mixture
    rebalance between redaction and the stratified sample: the
    per-slice ``source_mixture`` audit is MATERIALIZED to
    ``{out_path}__mixture_audit`` (the artifact a corpus build keeps
    for provenance) and fed back through ``mixture_apply``, so the
    rebalance pass itself scans the corpus exactly once — the
    single-scan 100 TB path, plan-asserted in
    tests/test_curation.py. ``substring_min_len=L`` rewrites text
    with CHARACTER-exact duplicated blocks ≥ L chars removed
    (operators/suffixes.suffix_removal — the SA-grade alternative to
    ``span_dedup_spans``; same pipeline position, before exact dedup,
    since cleaning changes content hashes; mutually exclusive with
    ``span_dedup_spans``). ``domain_cap_per_source=k`` caps each
    source at its k longest SURVIVING documents (C4/RefinedWeb
    practice) right after decontamination — the cap counts unique,
    clean content, not crawl duplicates — and before redaction, so
    the regexes only touch capped survivors. ``sort_output_by=col``
    writes each split directory with operators/ranking.sorted_write
    instead of the plain partitioned write: output files TILE the
    column (globally sorted layout), so downstream range reads over
    the curated corpus prune to O(1) files via the layout manifest —
    the write-side half of the file-skipping story.
    ``soft_dedup=True`` switches stage 4 from hard pruning to SOFT
    deduplication: near-duplicates are RETAINED with sampling weight
    1/|near-dup cluster| (the x_softdedup_weights semantics — used
    when duplicates carry signal), and — because retained near-dups
    make the per-doc modulus split leak near-identical text across
    the train/test boundary — stage 8 splits by the near-dup CLUSTER
    via operators/corpus.cluster_split, reusing the components
    already computed here. A whole near-dup family lands in one
    split by construction (tested in test_curation.py).
    ``full_mojibake_repair=True`` upgrades stage 0 from the enumerated
    digraph chain to the generic cp1252→UTF-8 round-trip repair
    (pandas_udf over ONLY the detector-flagged rows — see
    functions/text.demojibake_full).
    ``drift_report=True`` materializes a per-source distribution-shift
    report over the ARRIVING corpus (post-encoding-hygiene, before any
    gate drops rows — the point where a mis-crawled slice should trip
    an alert, not after curation has partially masked it) to
    ``{out_path}__drift_report``: the two-sample KS statistic and the
    PSI score of each source's n_chars distribution against the rest
    of the corpus (operators/quality.ks_drift / psi_drift), one row
    per source with both rejection flags.
    """
    from pyspark.sql import functions as F

    from .operators.dedup import (
        connected_components_star,
        exact_dedup,
        minhash_estimate_pairs,
    )
    from .functions.text import redact_pii
    from .operators.quality import (
        decontaminate,
        quality_gate,
        repetition_stats,
        stratified_sample,
    )
    from .plans.measures import t

    d = t(spark, sf_dir, "documents")
    # stage 0 (round 10): encoding hygiene — repair double-encoding
    # mojibake digraphs and strip replacement chars BEFORE any hash is
    # taken, so the same document crawled once clean and once
    # mis-decoded dedups together. Default path is the map-only replace
    # chain (fuses into the scan; x_mojibake oracle-gates the
    # arithmetic). ``full_mojibake_repair=True`` (round 11) swaps in
    # the generic cp1252→UTF-8 round-trip repair for rows the detector
    # flags — an Arrow-batched pandas_udf that sees ONLY the flagged
    # sliver (functions/text.demojibake_full; x_mojibake_full
    # oracle-gates the repair). INSTEAD of, not after, the chain: the
    # chain would consume the in-map digraphs that make a mixed row
    # flag, hiding its out-of-map tail from the full repair's gate.
    if full_mojibake_repair:
        from .functions.text import demojibake_full

        d = demojibake_full(d, "text")
    else:
        from .functions.text import demojibake

        d = d.withColumn("text", demojibake(F.col("text")))
    if drift_report:
        from .operators.quality import chi2_drift, ks_drift, psi_drift, w1_drift

        # numeric family over n_chars (KS sup + W1 integral + PSI
        # buckets) plus the categorical language-mix test — one row
        # per source with every score and flag side by side
        ks_drift(d).join(
            psi_drift(d), ["source", "n_source", "n_rest"]
        ).join(
            w1_drift(d), ["source", "n_source", "n_rest"]
        ).join(
            # chi2's n_source counts lang-not-null rows (vs n_chars
            # for the numeric family) — keep only its scores to avoid
            # a silent count collision on the join keys
            # LEFT join (round-13 ADVICE): a source whose rows all
            # have NULL lang yields no chi2 row (NULL categories are
            # filtered) — an inner join would silently drop that
            # source's ENTIRE report row including its KS/W1/PSI
            # stats; left keeps the numeric row with NULL chi2 fields
            chi2_drift(d).select(
                "source",
                "df_chi2",
                F.col("chi2").alias("lang_chi2"),
                F.col("reject_95").alias("lang_reject_95"),
            ),
            ["source"],
            "left",
        ).write.mode("overwrite").parquet(out_path + "__drift_report")
    gated = quality_gate(d)
    repetitive = (
        repetition_stats(gated)
        .filter(
            (F.col("dup_token_ratio") > 0.9)
            | (F.coalesce(F.col("dup_bigram_ratio"), F.lit(0.0)) > 0.9)
        )
        .select("doc_id")
    )
    gated = gated.join(repetitive, "doc_id", "left_anti")
    if entropy_gate is not None:
        from .operators.corpus import doc_entropy

        lo, hi = entropy_gate
        ok = (
            doc_entropy(gated)
            .filter((F.col("entropy") >= lo) & (F.col("entropy") <= hi))
            .select("doc_id")
        )
        gated = gated.join(ok, "doc_id", "left_semi")
    if span_dedup_spans is not None and substring_min_len is not None:
        raise ValueError(
            "span_dedup_spans and substring_min_len are alternative "
            "cleaning stages — pass one"
        )
    if span_dedup_spans is not None or substring_min_len is not None:
        if span_dedup_spans is not None:
            from .operators.dedup import span_dedup

            cleaned = span_dedup(gated, span=span_dedup_spans)
        else:
            from .operators.suffixes import suffix_removal

            cleaned = suffix_removal(gated, min_len=substring_min_len)
        cleaned = cleaned.select("doc_id", F.col("clean_text").alias("__clean"))
        gated = (
            gated.join(cleaned, "doc_id")
            .withColumn("text", F.col("__clean"))
            .drop("__clean")
            .filter(F.length("text") > 0)
        )
    canon = exact_dedup(gated).select(F.col("keep_id").alias("doc_id"))
    uniq = gated.join(canon, "doc_id", "left_semi")
    # lsh_max_bucket: the defensive band-bucket bound for unattended
    # runs over degenerate corpora (one bucket = b^2/2 pairs; docs in a
    # skipped mega-bucket still pair through their other bands);
    # default None keeps exact recall.
    # One scope owns every frame the pipeline materializes: freed after
    # the final write, or on the error path.
    with Frames() as frames:
        near = frames.own(minhash_estimate_pairs(
            uniq, threshold=0.5, max_bucket=lsh_max_bucket
        ))
        near_pairs = near.select("id_a", "id_b")
        # Both dedup modes cluster with star contraction: it converges
        # on any chain diameter, where min-label propagation would
        # silently under-merge a drifting-text CHAIN (shipping
        # duplicates into the training set).
        components = frames.own(connected_components_star(near_pairs)).select(
            "doc_id", "cluster_id"
        )
        if soft_dedup:
            # KEEP near-dups (soft dedup): no pruning here — the
            # components are reused below both as the leakage-safe split
            # key and as the 1/|cluster| weight key. Weights are
            # assigned at the END, over the documents that actually
            # survive decontamination + sampling, so per-cluster
            # probability mass in the DELIVERED corpus sums to exactly 1.
            pruned = uniq
        else:
            losers = components.filter(
                F.col("doc_id") != F.col("cluster_id")
            ).select("doc_id")
            pruned = uniq.join(losers, "doc_id", "left_anti")
        # pseudo eval split: the held-out benchmark the training set must
        # not leak (same doc_id % 50 convention as x_decontaminate)
        eval_docs = d.filter(F.col("doc_id") % 50 == 0)
        # 8-gram overlap, not 3-gram: long shingles keep the false-positive
        # rate of common phrases near zero (the usual 8–13-gram practice)
        pruned = decontaminate(
            pruned.filter(F.col("doc_id") % 50 != 0), eval_docs, k=8
        )
        if domain_cap_per_source is not None:
            from .operators.quality import domain_cap

            pruned = domain_cap(
                pruned.withColumn("__len", F.length("text")),
                domain_cap_per_source,
                order_by=[F.col("__len").desc(), F.col("doc_id").asc()],
            ).drop("__len", "rk")
        pruned = pruned.withColumn("text", redact_pii(F.col("text")))
        if mixture_alpha is not None:
            from .operators.corpus import mixture_apply, source_mixture

            audit_path = out_path + "__mixture_audit"
            source_mixture(pruned, alpha=mixture_alpha).write.mode(
                "overwrite"
            ).parquet(audit_path)
            pruned = mixture_apply(pruned, spark.read.parquet(audit_path))
        sampled = stratified_sample(
            pruned, "lang", {"en": 100, "zh": 50}, default_rate=50
        )
        if soft_dedup:
            from .operators.corpus import cluster_split

            # near-dups were RETAINED above — a per-doc modulus would put
            # two near-identical documents on opposite sides of the
            # train/test boundary. Split by the near-dup CLUSTER instead
            # (corpus.cluster_split), reusing the components star CC
            # already produced, then weight each doc 1/|cluster ∩ final
            # corpus|. The labeled frame is referenced twice (size agg +
            # join-back), so pin it once.
            labeled = frames.pin(
                cluster_split(sampled, near_pairs, cc=components), eager=False
            )
            sizes = labeled.groupBy("cluster_id").agg(
                F.count(F.lit(1)).alias("__n_dups")
            )
            curated = (
                labeled.join(sizes, "cluster_id")
                .withColumn("weight", F.round(F.lit(1.0) / F.col("__n_dups"), 9))
                .drop("__n_dups")
            )
        else:
            # losers were dropped at the near-dup stage, so no surviving
            # pair of near-identical docs exists to straddle the boundary
            # and the cheap per-doc modulus is leakage-safe here
            bucket = F.pmod(F.col("doc_id"), F.lit(100))
            curated = sampled.withColumn(
                "split",
                F.when(bucket < 80, F.lit("train"))
                .when(bucket < 90, F.lit("val"))
                .otherwise(F.lit("test")),
            )
        if sort_output_by is not None:
            from .operators.ranking import sorted_write

            # sorted_write runs ~2 actions per split (cuts aggregate +
            # write); without a pin the whole curation lineage — exact
            # dedup, connected components, decontamination — recomputes
            # each time (only the MinHash signatures are pinned). One eager
            # pin materializes it once.
            curated = frames.pin(curated, eager=True)
            for split in ("train", "val", "test"):
                part = curated.filter(F.col("split") == split).drop("split")
                sorted_write(
                    part,
                    sort_output_by,
                    os.path.join(out_path, f"split={split}"),
                    tiebreaks=(["doc_id"] if sort_output_by != "doc_id" else ()),
                )
        else:
            curated.write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy("split").parquet(out_path)
    return spark.read.parquet(out_path)


def refresh_drift_dashboard(
    spark: SparkSession,
    events: DataFrame,
    gold_path: str,
    ref_weeks: int = 4,
    prefix: str = "gold_",
) -> dict[str, DataFrame]:
    """Materialize the rolling drift PANEL as gold tables (round 13 —
    the refresh_gold posture applied to the monitoring family): the
    numeric per-(series, week) KS/W1/PSI panel
    (quality.rolling_drift over integer-floored event values) and the
    weekly categorical mix panel (quality.rolling_chi2 over
    event_type), each published as a generation
    (generations.publish) — dashboards read old-or-new, never a
    mid-rewrite mix, and both frames are week-grain-small so the full
    rewrite is the right trade. Registers ``{prefix}drift_panel`` /
    ``{prefix}mix_panel`` temp views like the BI gold layer. Returns
    the published frames."""
    from pyspark.sql import functions as F

    from .operators.quality import rolling_chi2, rolling_drift

    # the panels' count pins are freed once both are published
    with Frames() as frames:
        drift = frames.own(rolling_drift(
            events.withColumn("value", F.floor("value")), "value", ref_weeks=ref_weeks
        ))
        mix = frames.own(rolling_chi2(events, ref_weeks=ref_weeks))
        return {
            name: publish(df, os.path.join(gold_path, name), f"{prefix}{name}")
            for name, df in (("drift_panel", drift), ("mix_panel", mix))
        }
