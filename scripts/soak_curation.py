"""Composed curation-pipeline soak (round 12 — VERDICT r11 item 4):
the individual stages are component-soaked (CC, triangles, skew,
t-digest, suffixes), but ``jobs.run_curation_pipeline`` END-TO-END
never had its own blow-up curve. Run the full default pipeline at
1x / 8x / 27x document scale (scripts/soak.py's key-offset,
word-rotated staging — dup density stays ~constant), record

- per-FRONTIER wall times: each cumulative stage frontier (gates ->
  exact dedup -> near-dup prune -> decontaminate -> redact) is
  materialized separately, so frontier deltas bound each stage's
  marginal cost (cumulative recompute included — lineage is shared,
  so the delta OVERSTATES the marginal stage; a super-linear delta is
  therefore a conservative alarm, not a false negative);
- the end-to-end wall (single run, with the partitioned write);
- per-scale shuffle/spill peaks parsed from the Spark EVENT LOG
  (stage-completed accumulables: total + max single-stage shuffle
  write, total shuffle read, memory/disk spill) — the "would this
  spill at 1000 executors" evidence the wall clock alone hides.

Usage: python scripts/soak_curation.py [scales...]   (default: 1 8 27)
Prints one JSON line; paste the table into PERF.md.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EVENT_DIR = "/tmp/spark_graft_curation_soak_events"
# the permuted staging makes every doc a near-random sample of the
# fixture's shared shingle pool, which degenerates minhash banding
# into giant collision buckets (x27: 9.1e7 candidate pairs from
# 1.2e5 docs, OOM at the default 8g heap). The soak therefore runs
# the pipeline WITH the round-12 defensive bucket cap — which is
# itself the "fix or documented bound" this soak exists to produce.
LSH_MAX_BUCKET = 64
OUT_DIR = "/tmp/spark_graft_curation_soak_out"


def get_soak_spark():
    """Repo-tuned session with event logging overlaid (must be set
    before the JVM starts — run the soak in a fresh process)."""
    shutil.rmtree(EVENT_DIR, ignore_errors=True)
    os.makedirs(EVENT_DIR, exist_ok=True)
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.session import get_spark

    return get_spark(
        "curation-soak",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{EVENT_DIR}",
            "spark.eventLog.compress": "false",
        },
    )


def stage_permuted(spark, n_copies: int) -> str:
    """Stage like scripts/soak.py but with each document copy's tokens
    PERMUTED by a per-(copy, doc) hash sort (not rotated): rotation
    preserves all but O(rot) shingles, so LSH collapses the copies
    right back to 1x and the post-dedup stages never see scale. The
    hash permutation randomizes the shingle set per copy (Jaccard ~ 0
    between copies), so survivor cardinality — and therefore
    decontamination, redaction and sampling — scales with the corpus,
    which is what this soak exists to measure.

    The sort key MUST include doc_id: keying on (token, copy) alone
    canonicalizes every doc in a copy to one global token order, so
    any two docs sharing most vocabulary become near-identical —
    quadratic near-dup cliques that OOM the CC leg (observed at x27
    before the fix). With the doc-dependent key each doc gets its own
    permutation; the trade is that base-corpus EXACT dup pairs
    (same text, different ids) stop being near-dups in copies i > 0,
    so dup density shrinks toward copy 0's share — fine for a
    stage-scaling soak, wrong for a dup-recall soak (soak.py's
    rotation covers that)."""
    from pyspark.sql import functions as F

    from soak import KEY_COLS, SINGLE_COPY, _copy
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.plans.measures import t

    src = "/root/testdata/sf0.1"
    dst = f"/tmp/spark_graft_curation_soak_stage/x{n_copies}"
    marker = os.path.join(dst, "_STAGED")
    if os.path.exists(marker):
        return dst
    for name in list(KEY_COLS) + list(SINGLE_COPY):
        base = t(spark, src, name)
        if name in SINGLE_COPY:
            out = base
        else:
            parts = []
            for i in range(n_copies):
                p = _copy(base, name, i)
                if name == "documents" and i > 0:
                    p = p.withColumn(
                        "text",
                        F.array_join(
                            F.expr(
                                "transform(array_sort(transform("
                                f"split(trim(text), ' '), x -> struct("
                                f"md5(concat(x, '#', '{i}', '#', "
                                f"CAST(doc_id AS STRING))) AS k, x AS v)"
                                ")), s -> s.v)"
                            ),
                            " ",
                        ),
                    )
                parts.append(p)
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
        out.repartition(32).write.mode("overwrite").parquet(
            os.path.join(dst, f"{name}.parquet")
        )
    with open(marker, "w") as f:
        f.write(str(n_copies))
    return dst


def frontier_times(spark, sf_dir: str) -> dict[str, float]:
    """Materialize each cumulative stage frontier of the DEFAULT
    pipeline composition (mirrors jobs.run_curation_pipeline stage
    order; counts force execution)."""
    from pyspark.sql import functions as F

    from cloud_based_bi_etl_automation_for_real_estate_company_spark.functions.text import demojibake, redact_pii
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.dedup import (
        connected_components_star,
        exact_dedup,
        minhash_estimate_pairs,
    )
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.cacheutil import release
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.quality import (
        decontaminate,
        quality_gate,
        repetition_stats,
        stratified_sample,
    )
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.plans.measures import t

    walls: dict[str, float] = {}
    rows: dict[str, int] = {}

    def clock(name, df):
        t0 = time.time()
        rows[name] = df.count()
        walls[name] = round(time.time() - t0, 2)
        return df

    d = t(spark, sf_dir, "documents").withColumn(
        "text", demojibake(F.col("text"))
    )
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
    clock("f1_gates", gated)
    canon = exact_dedup(gated).select(F.col("keep_id").alias("doc_id"))
    uniq = gated.join(canon, "doc_id", "left_semi")
    clock("f2_exact_dedup", uniq)
    near = minhash_estimate_pairs(
        uniq, threshold=0.5, max_bucket=LSH_MAX_BUCKET
    )
    losers = (
        connected_components_star(near.select("id_a", "id_b"))
        .filter(F.col("doc_id") != F.col("cluster_id"))
        .select("doc_id")
    )
    pruned = uniq.join(losers, "doc_id", "left_anti")
    clock("f3_near_dedup", pruned)
    eval_docs = d.filter(F.col("doc_id") % 50 == 0)
    pruned = decontaminate(
        pruned.filter(F.col("doc_id") % 50 != 0), eval_docs, k=8
    )
    clock("f4_decontaminate", pruned)
    final = stratified_sample(
        pruned.withColumn("text", redact_pii(F.col("text"))),
        "lang",
        {"en": 100, "zh": 50},
        default_rate=50,
    )
    clock("f5_redact_sample", final)
    release(near)
    return {"walls_s": walls, "rows": rows}


def parse_eventlog(t_lo: float, t_hi: float) -> dict:
    """Aggregate stage-completed shuffle/spill accumulables for stages
    submitted inside [t_lo, t_hi] (epoch seconds)."""
    tot = {"shuffle_write_b": 0, "shuffle_read_b": 0,
           "mem_spill_b": 0, "disk_spill_b": 0,
           "max_stage_shuffle_write_b": 0, "n_stages": 0}
    keymap = {
        "internal.metrics.shuffle.write.bytesWritten": "shuffle_write_b",
        "internal.metrics.shuffle.read.localBytesRead": "shuffle_read_b",
        "internal.metrics.shuffle.read.remoteBytesRead": "shuffle_read_b",
        "internal.metrics.memoryBytesSpilled": "mem_spill_b",
        "internal.metrics.diskBytesSpilled": "disk_spill_b",
    }
    # Spark 4 writes a rolling event-log DIRECTORY (eventlog_v2_*)
    files = [
        fp
        for fp in glob.glob(os.path.join(EVENT_DIR, "**", "*"), recursive=True)
        if os.path.isfile(fp) and "appstatus" not in os.path.basename(fp)
    ]
    for fp in files:
        with open(fp, errors="replace") as f:
            for line in f:
                if '"SparkListenerStageCompleted"' not in line:
                    continue
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                info = ev.get("Stage Info", {})
                sub = info.get("Submission Time")
                if sub is None or not (t_lo * 1000 <= sub <= t_hi * 1000):
                    continue
                tot["n_stages"] += 1
                sw = 0
                for acc in info.get("Accumulables", []):
                    k = keymap.get(acc.get("Name", ""))
                    if k:
                        v = int(acc.get("Value", 0))
                        tot[k] += v
                        if k == "shuffle_write_b":
                            sw += v
                if sw > tot["max_stage_shuffle_write_b"]:
                    tot["max_stage_shuffle_write_b"] = sw
    return tot


def main() -> None:
    scales = [int(x) for x in sys.argv[1:]] or [1, 8, 27]
    spark = get_soak_spark()
    spark.sparkContext.setLogLevel("ERROR")
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.jobs import run_curation_pipeline

    report = {}
    for n in scales:
        print(f"## staging x{n}", file=sys.stderr, flush=True)
        sf_dir = stage_permuted(spark, n)
        out = os.path.join(OUT_DIR, f"x{n}")
        shutil.rmtree(out, ignore_errors=True)
        print(f"## frontiers x{n}", file=sys.stderr, flush=True)
        fr = frontier_times(spark, sf_dir)
        print(f"## e2e x{n}: {fr}", file=sys.stderr, flush=True)
        t0 = time.time()
        run_curation_pipeline(
            spark, sf_dir, out, lsh_max_bucket=LSH_MAX_BUCKET
        ).count()
        e2e = round(time.time() - t0, 2)
        print(f"## e2e x{n} done {e2e}s", file=sys.stderr, flush=True)
        # event-log flush lag: give the listener bus a beat
        time.sleep(2)
        metrics = parse_eventlog(t0, time.time())
        report[f"x{n}"] = {
            "end_to_end_s": e2e,
            **fr,
            "e2e_stage_metrics": metrics,
        }
    base = report.get("x1", {}).get("end_to_end_s")
    for k, v in report.items():
        v["e2e_ratio_vs_1x"] = (
            round(v["end_to_end_s"] / base, 2) if base else None
        )
    print(json.dumps({
        "metric": "curation_soak",
        "lsh_max_bucket": LSH_MAX_BUCKET,
        "scales": report,
    }))


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    main()
