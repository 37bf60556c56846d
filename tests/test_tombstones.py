"""Round 15 — store takedown family (tombstones over the append-only
lifetime stores: stores.delete / stores.read_tombstones +
bm25_delete_docs, nsw_delete).

The append-only stores had no delete path: a takedown
(right-to-be-forgotten, licensing removal) at 100 TB cannot rewrite a
multi-TB postings/signature/graph store inline. The design is the
Delta/Iceberg delete-file split: deletions land as an append-only
``{store}/tombstones`` id set, every reader anti-joins it (the doc
vanishes from results AND derived statistics immediately), and the
store's compaction makes the delete physical and clears the set —
crash anywhere in between leaves only no-op tombstones.

Pinned here, per store family:
- post-delete query ≡ a store never containing the doc (the strong
  statistics claim: N / avgdl / doc_freq re-derive from survivors);
- deletion is replay-idempotent (same ids appended twice);
- compaction physically drops the rows, clears tombstones, and the
  query answer is invariant across the compaction;
- minhash: a deleted doc stops suppressing new near-duplicates (the
  takedown semantics — a fresh copy of removed content is a fresh
  admit, not a duplicate of a ghost);
- NSW: deleted ids vanish from top-k while still ROUTING pre-compact
  (HNSW soft delete), and post-compact the vectors are physically
  gone with the NN-descent refresh re-linking around the holes.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators import stores
from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.corpus import (
    bm25_delete_docs,
    bm25_index_append,
    bm25_query_store,
    compact_bm25_store,
    corpus_bigram_queries,
    mlt_query_store,
)
from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.dedup import (
    compact_minhash_store,
    incremental_minhash_dedup,
)
from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.similarity import (
    brute_force_topk,
    compact_nsw_graph,
    nsw_build_graph,
    nsw_delete,
    nsw_query_index,
    save_nsw_index,
)

SF_DIR = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(
        tuple(
            round(v, 9) if isinstance(v, float) else v for v in r
        )
        for r in df.collect()
    )


def test_bm25_delete_matches_reduced_one_shot(spark, tmp_path):
    d = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .localCheckpoint(eager=True)
    )
    keep = d.filter(F.col("doc_id") % 7 != 0)
    q = corpus_bigram_queries(keep).localCheckpoint(eager=True)

    full = str(tmp_path / "full")
    bm25_index_append(d, full)
    bm25_delete_docs(d.filter(F.col("doc_id") % 7 == 0).select("doc_id"), full)
    reduced = str(tmp_path / "reduced")
    bm25_index_append(keep, reduced)

    got = _rows(bm25_query_store(spark, full, q, k=5))
    want = _rows(bm25_query_store(spark, reduced, q, k=5))
    assert got == want and len(got) > 0

    # replay the SAME delete (at-least-once feed) — answer unchanged
    bm25_delete_docs(d.filter(F.col("doc_id") % 7 == 0).select("doc_id"), full)
    assert _rows(bm25_query_store(spark, full, q, k=5)) == want

    # MLT reads the same store through the same tombstone filter
    qd = keep.filter(F.col("doc_id") < 30).select("doc_id")
    got_m = _rows(mlt_query_store(spark, full, qd, k=3))
    want_m = _rows(mlt_query_store(spark, reduced, qd, k=3))
    assert got_m == want_m and len(got_m) > 0

    # compaction: physical drop, tombstones cleared, answer invariant
    compact_bm25_store(spark, full)
    assert stores.read_tombstones(spark, full, "doc_id") is None
    left = spark.read.parquet(f"{full}/postings")
    assert left.filter(F.col("doc_id") % 7 == 0).count() == 0
    assert _rows(bm25_query_store(spark, full, q, k=5)) == want


def test_tombstone_broadcast_keys_on_size(spark, tmp_path, monkeypatch):
    """The tombstone set is broadcast into every anti-join while its
    on-disk size is under the module constant; above it the frame is
    unhinted, and the answer is the same either way."""
    d = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 60)
        .localCheckpoint(eager=True)
    )
    store = str(tmp_path / "s")
    bm25_index_append(d, store)
    bm25_delete_docs(d.filter(F.col("doc_id") % 7 == 0).select("doc_id"), store)
    q = corpus_bigram_queries(d.filter(F.col("doc_id") % 7 != 0))

    def anti_joins(df):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return [l for l in plan.splitlines() if "Join LeftAnti" in l]

    hinted = bm25_query_store(spark, store, q, k=5)
    assert anti_joins(hinted)
    assert all("rightHint=(strategy=broadcast)" in l for l in anti_joins(hinted))
    want = _rows(hinted)

    monkeypatch.setattr(stores, "TOMBSTONE_BROADCAST_MAX_BYTES", 1)
    plain = bm25_query_store(spark, store, q, k=5)
    assert anti_joins(plain)
    assert not any("strategy=broadcast" in l for l in anti_joins(plain))
    assert _rows(plain) == want and len(want) > 0


def test_minhash_delete_readmits_fresh_copy(spark, tmp_path):
    store = str(tmp_path / "mh")
    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    d1 = spark.createDataFrame([(1, base)], "doc_id bigint, text string")
    assert incremental_minhash_dedup(d1, store).collect()[0]["admitted"]
    d2 = spark.createDataFrame(
        [(2, base + " tail")], "doc_id bigint, text string"
    )
    assert not incremental_minhash_dedup(d2, store).collect()[0]["admitted"]

    # take down BOTH admitted ids: a fresh near-copy is a fresh admit
    stores.delete(
        spark.createDataFrame([(1,), (2,)], "doc_id bigint"), store
    )
    d3 = spark.createDataFrame(
        [(3, base + " coda")], "doc_id bigint, text string"
    )
    assert incremental_minhash_dedup(d3, store).collect()[0]["admitted"]

    # compaction drops the tombstoned signatures physically; doc 3's
    # signature survives and still suppresses its near-dups
    compact_minhash_store(spark, store)
    assert stores.read_tombstones(spark, store, "doc_id") is None
    ids = {r["doc_id"] for r in spark.read.parquet(f"{store}/sigs").collect()}
    assert ids == {3}
    d4 = spark.createDataFrame(
        [(4, base + " encore")], "doc_id bigint, text string"
    )
    assert not incremental_minhash_dedup(d4, store).collect()[0]["admitted"]


def test_soft_store_delete(spark, tmp_path):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.dedup import (
        compact_soft_store,
        soft_dedup_admit,
    )
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.stores import (
        read_live,
    )

    store = str(tmp_path / "soft")
    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    out = soft_dedup_admit(
        spark.createDataFrame(
            [(1, base), (2, base + " tail")], "doc_id bigint, text string"
        ),
        store,
    ).collect()
    # both landed in one cluster
    got = {r["doc_id"]: r for r in out}
    assert got[1]["cluster_id"] == got[2]["cluster_id"]
    assert got[1]["n_cluster"] == got[2]["n_cluster"] == 2

    stores.delete(
        spark.createDataFrame([(1,)], "doc_id bigint"), store
    )
    # the live store holds the survivor only
    live = read_live(spark, store, "sigs", id_col="doc_id")
    assert {r["doc_id"] for r in live.collect()} == {2}
    # a new near-copy clusters with the SURVIVOR only: running size 2
    # (members {2, 3}) — a broken tombstone filter would count the
    # ghost and report 3
    out3 = soft_dedup_admit(
        spark.createDataFrame([(3, base + " coda")], "doc_id bigint, text string"),
        store,
    ).collect()[0]
    assert out3["n_cluster"] == 2

    compact_soft_store(spark, store)
    assert stores.read_tombstones(spark, store, "doc_id") is None
    ids = {r["doc_id"] for r in spark.read.parquet(f"{store}/sigs").collect()}
    assert ids == {2, 3}


def test_nsw_delete_soft_then_physical(spark, tmp_path):
    store = str(tmp_path / "nsw")
    base = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .filter(F.col("vec_id") < 120)
        .localCheckpoint(eager=True)
    )
    save_nsw_index(base, nsw_build_graph(base), store)
    deleted = base.filter(F.col("vec_id") % 10 == 7).select("vec_id")
    kept = base.join(deleted, "vec_id", "left_anti")
    nsw_delete(deleted, store)
    q = base.filter(F.col("vec_id") < 3)

    # soft delete: excluded from top-k, recall vs the SURVIVING corpus
    got = nsw_query_index(spark, store, q, k=5).localCheckpoint(eager=True)
    del_ids = {r["vec_id"] for r in deleted.collect()}
    assert not ({r["vec_id"] for r in got.collect()} & del_ids)
    truth = {
        (r["q_id"], r["vec_id"])
        for r in brute_force_topk(kept, q, k=5).collect()
    }
    hits = {(r["q_id"], r["vec_id"]) for r in got.collect()} & truth
    assert len(hits) / len(truth) >= 0.4

    # physical delete at compaction (+ NN-descent re-link), tombstones
    # cleared, results still clean and recall holds
    compact_nsw_graph(spark, store, refresh_iters=1)
    assert stores.read_tombstones(spark, store, "vec_id") is None
    vec_ids = {
        r["vec_id"] for r in spark.read.parquet(f"{store}/vectors").collect()
    }
    assert not (vec_ids & del_ids) and vec_ids == {
        r["vec_id"] for r in kept.collect()
    }
    g = spark.read.parquet(f"{store}/graph")
    assert g.filter(
        F.col("src").isin(*del_ids) | F.col("dst").isin(*del_ids)
    ).count() == 0
    got2 = nsw_query_index(spark, store, q, k=5)
    assert not ({r["vec_id"] for r in got2.collect()} & del_ids)
    hits2 = {(r["q_id"], r["vec_id"]) for r in got2.collect()} & truth
    assert len(hits2) / len(truth) >= 0.4
