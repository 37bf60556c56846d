"""Round 15 — shared guarded store reader (the r14 verdict's task 4).

``read_monitor`` got a mergeSchema reader in round 14 when the
monitor row widened from 8 to 10 columns; every OTHER lifetime store
(minhash/soft sigs, paragraph hashes, BM25 postings, NSW
graph/vectors, PSI hist / chi2 cats / KS-W1 centroids, IVF lists) was
still read bare — one old-footer sample and a later-added column
silently vanishes, or worse, a compaction rewrite destroys it
permanently. ``stores.read_store`` closes the hazard family-wide:
mergeSchema unions every footer (additive evolution surfaces
NULL-backfilled columns), ``required`` pins name+type of the columns
the math depends on, ``required_names`` pins presence of caller-typed
columns. These tests pin, per store family:

- a widened store (old-schema files + new-schema files side by side)
  reads back with ALL columns, old rows NULL-backfilled;
- the operator on top of the widened store still computes correctly;
- a type change / missing required column raises loudly with the
  observed schema in the message.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.stores import (
    read_store,
)


def test_read_store_merges_and_guards(spark, tmp_path):
    p = str(tmp_path / "store")
    spark.createDataFrame([(1, "a")], "id bigint, x string").write.mode(
        "append"
    ).parquet(p)
    # widened writer: new column lands next to the old files
    spark.createDataFrame(
        [(2, "b", 9.5)], "id bigint, x string, extra double"
    ).write.mode("append").parquet(p)
    df = read_store(spark, p, required="id bigint, x string")
    assert set(df.columns) == {"id", "x", "extra"}
    got = {r["id"]: r["extra"] for r in df.collect()}
    assert got == {1: None, 2: 9.5}
    # missing required column → loud
    with pytest.raises(ValueError, match="missing column nope"):
        read_store(spark, p, required="nope bigint")
    # type change → loud, message carries the observed schema
    with pytest.raises(ValueError, match="expected double, store has string"):
        read_store(spark, p, required="id bigint, x double")
    # presence-only guard for caller-typed columns
    with pytest.raises(ValueError, match="missing column vec"):
        read_store(spark, p, required_names=("id", "vec"))


def test_minhash_store_survives_widening(spark, tmp_path):
    """The sigs store gains a column (a future writer adds e.g. a
    shard tag): incremental_minhash_dedup keeps working and the old
    rows' signatures still dedup against the new batch."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.dedup import (
        incremental_minhash_dedup,
    )

    store = str(tmp_path / "mh")
    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    other = (
        "completely different content about spark shuffles and parquet " * 5
    )
    d1 = spark.createDataFrame([(1, base)], "doc_id bigint, text string")
    out1 = {
        r["doc_id"]: r["admitted"]
        for r in incremental_minhash_dedup(d1, store).collect()
    }
    assert out1 == {1: True}
    # simulate a WIDER writer version appending to the same store
    sigs = spark.read.parquet(f"{store}/sigs")
    sigs.withColumn("doc_id", F.col("doc_id") + 100).withColumn(
        "shard", F.lit("s0")
    ).write.mode("append").parquet(f"{store}/sigs")
    # near-dup of stored doc 1 must still be caught on the mixed store
    d2 = spark.createDataFrame(
        [(2, base + " tail"), (3, other)], "doc_id bigint, text string"
    )
    out2 = {
        r["doc_id"]: r["admitted"]
        for r in incremental_minhash_dedup(d2, store).collect()
    }
    assert out2 == {2: False, 3: True}


def test_paragraph_store_survives_widening(spark, tmp_path):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.dedup import (
        compact_paragraph_store,
        incremental_paragraph_dedup,
    )

    store = str(tmp_path / "para")
    d1 = spark.createDataFrame(
        [(1, "alpha beta\n\ngamma")], "doc_id bigint, text string"
    )
    incremental_paragraph_dedup(d1, store)
    # widened hash row from a future writer
    spark.createDataFrame(
        [("ffffffffffffffffffffffffffffffff", 7)],
        "para_hash string, seen_batch bigint",
    ).write.mode("append").parquet(f"{store}/hashes")
    d2 = spark.createDataFrame(
        [(2, "gamma\n\ndelta")], "doc_id bigint, text string"
    )
    out = incremental_paragraph_dedup(d2, store)
    assert {r["clean_text"] for r in out.collect()} == {"delta"}
    # compaction must KEEP the widened column (mergeSchema on the
    # compaction read is load-bearing)
    compact_paragraph_store(spark, store)
    cols = set(spark.read.parquet(f"{store}/hashes").columns)
    assert cols == {"para_hash", "seen_batch"}


def test_bm25_store_survives_widening(spark, tmp_path):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.corpus import (
        bm25_index_append,
        bm25_query_store,
        compact_bm25_store,
    )

    store = str(tmp_path / "bm25")
    docs = spark.createDataFrame(
        [(1, "spark shuffle join"), (2, "spark broadcast join")],
        "doc_id bigint, text string",
    )
    bm25_index_append(docs, store)
    spark.createDataFrame(
        [(3, "spark", 1, "web")],
        "doc_id bigint, term string, tf bigint, source string",
    ).write.mode("append").parquet(f"{store}/postings")
    q = spark.createDataFrame([("spark join",)], "query string")
    got = bm25_query_store(spark, store, q, k=3)
    assert got.count() == 3  # all three docs score for 'spark'
    compact_bm25_store(spark, store)
    assert "source" in spark.read.parquet(f"{store}/postings").columns


def test_drift_state_stores_guarded(spark, tmp_path):
    """PSI hist / chi2 cats / KS centroids: a type-drifted store fails
    LOUDLY at the next admit instead of scoring garbage."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.quality import (
        ks_admit,
        psi_admit,
    )

    store = str(tmp_path / "drift")
    b = spark.createDataFrame(
        [(i % 50,) for i in range(40)], "n_chars bigint"
    )
    psi_admit(b, f"{store}/psi")
    ks_admit(b, f"{store}/ks")
    # corrupt the hist with a type-changed cnt column
    spark.createDataFrame([(1, "oops")], "bucket bigint, cnt string").write.mode(
        "overwrite"
    ).parquet(f"{store}/psi/hist")
    with pytest.raises(ValueError, match="cnt"):
        psi_admit(b, f"{store}/psi")
    # widened centroid store still scores
    spark.createDataFrame(
        [(1.0, 1.0, "gen2")], "mean double, weight double, writer string"
    ).write.mode("append").parquet(f"{store}/ks/centroids")
    row = ks_admit(b, f"{store}/ks").collect()[0]
    assert row["ks_stat"] is not None


def test_nsw_store_survives_widening(spark, tmp_path):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.similarity import (
        compact_nsw_graph,
        nsw_build_graph,
        nsw_index_append,
        nsw_query_index,
        save_nsw_index,
    )

    store = str(tmp_path / "nsw")
    base = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .filter(F.col("vec_id") < 60)
        .localCheckpoint(eager=True)
    )
    seed = base.filter(F.col("vec_id") % 2 == 0)
    save_nsw_index(seed, nsw_build_graph(seed), store)
    # widened graph rows from a future writer version
    spark.createDataFrame(
        [(0, 0, 2, 0.5, 77)],
        "level int, src bigint, dst bigint, sim double, gen bigint",
    ).write.mode("append").parquet(f"{store}/graph")
    nsw_index_append(base.filter(F.col("vec_id") % 2 == 1), store)
    q = base.filter(F.col("vec_id") < 2)
    assert nsw_query_index(spark, store, q, k=3).count() > 0
    # NSW compaction re-DERIVES the pruned adjacency (level/src/dst/
    # sim are the whole payload), so extra columns don't survive it —
    # but the mixed-footer read must not break the prune or the query
    compact_nsw_graph(spark, store, refresh_iters=1)
    assert nsw_query_index(spark, store, q, k=3).count() > 0
