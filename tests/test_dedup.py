"""Dedup-family operator tests: SimHash vs a pure-Python reference,
MinHash-LSH recall on known duplicates, Jaccard correctness."""

from __future__ import annotations

import pytest

import hashlib

from pyspark.sql import functions as F

from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators import dedup as D


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over the sleepy dog"),  # near dup
        (4, "completely different content about spark engines"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_exact_dedup_groups(spark):
    out = D.exact_dedup(_docs(spark))
    groups = {r["keep_id"]: r["n_copies"] for r in out.collect()}
    assert groups[1] == 2  # docs 1,2 collapse
    assert groups[3] == 1
    assert groups[4] == 1


def test_minhash_lsh_finds_exact_and_near_dups(spark):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_lsh_pairs(_docs(spark)).collect()
    }
    assert (1, 2) in pairs  # identical docs always collide in every band
    assert all(a < b for a, b in pairs)


def test_minhash_estimate_scores_candidates(spark):
    out = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in D.minhash_estimate_pairs(_docs(spark)).collect()
    }
    assert out[(1, 2)] == 1.0  # identical docs agree on every slot
    # estimates live on the K-slot grid and inside [0, 1]
    assert all(round(v * 8) == v * 8 and 0 <= v <= 1 for v in out.values())
    # thresholding keeps only the fully-agreeing pair
    kept = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_estimate_pairs(_docs(spark), threshold=0.9).collect()
    }
    assert kept == {(1, 2)}


def test_ngram_jaccard_values(spark):
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(_docs(spark), threshold=0.1).collect()
    }
    assert out[(1, 2)] == 1.0
    # 9-token docs → 7 distinct shingles each; the changed token sits in
    # the last 2 windows → 5 shared shingles; j = 5 / (7 + 7 - 5)
    assert abs(out[(1, 3)] - 5 / 9) < 1e-12


def _simhash_py(text: str, bits: int = 16) -> int:
    votes = [0] * bits
    for tok in text.strip().split(" "):
        h = int(hashlib.md5(tok.encode()).hexdigest()[: bits // 4], 16)
        for i in range(bits):
            votes[i] += 1 if (h >> i) & 1 else -1
    return sum(1 << i for i in range(bits) if votes[i] > 0)


def test_simhash_matches_python_reference(spark):
    out = {r["doc_id"]: r["simhash"] for r in D.simhash(_docs(spark)).collect()}
    rows = {r["doc_id"]: r["text"] for r in _docs(spark).collect()}
    for doc_id, text in rows.items():
        assert out[doc_id] == _simhash_py(text), doc_id
    # near-identical docs land close in Hamming distance
    ham = bin(out[1] ^ out[3]).count("1")
    assert ham <= 6
    assert out[1] == out[2]


def test_connected_components_chain_and_clique(spark):
    # chain 10-11-12-13 (diameter 3 forces >1 propagation round),
    # clique {20,21,22}, isolated pair {30,31}
    edges = spark.createDataFrame(
        [(10, 11), (11, 12), (12, 13), (20, 21), (20, 22), (21, 22), (30, 31)],
        "id_a bigint, id_b bigint",
    )
    out = {r["doc_id"]: r["cluster_id"] for r in D.connected_components(edges).collect()}
    assert out == {
        10: 10, 11: 10, 12: 10, 13: 10,
        20: 20, 21: 20, 22: 20,
        30: 30, 31: 30,
    }


@pytest.mark.slow  # round 16: heavy leg, slow tier (see pytest.ini)
def test_star_contraction_equivalent_to_propagation(spark):
    """large-star/small-star must produce identical components to
    simple min-label propagation on random graphs (chains, cliques,
    forests — seeded, so deterministic)."""
    import random

    for seed in (7, 21, 99):
        rng = random.Random(seed)
        nodes = list(range(100))
        es = {
            (min(a, b), max(a, b))
            for a, b in (
                (rng.choice(nodes), rng.choice(nodes)) for _ in range(60)
            )
            if a != b
        }
        # add a long chain to force multi-round convergence
        es |= {(i, i + 1) for i in range(200, 215)}
        edges = spark.createDataFrame(
            sorted(es), "id_a bigint, id_b bigint"
        )
        simple = {
            (r["doc_id"], r["cluster_id"])
            for r in D.connected_components(edges).collect()
        }
        star = {
            (r["doc_id"], r["cluster_id"])
            for r in D.connected_components_star(edges).collect()
        }
        assert star == simple, seed


def test_spread_is_conditional(spark):
    """VERDICT round 1 item 6: under-partitioned inputs repartition to
    the default parallelism; already-well-partitioned inputs pass
    through with no exchange added."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.partitioning import (
        spread,
    )

    par = spark.sparkContext.defaultParallelism
    narrow = spark.createDataFrame(
        [(i, f"t {i}") for i in range(10)], "doc_id bigint, text string"
    ).coalesce(1)
    wide = spark.range(1000).repartition(par + 4)
    s_narrow, s_wide = spread(narrow), spread(wide)
    assert s_narrow.rdd.getNumPartitions() == par
    assert "Exchange RoundRobinPartitioning" in s_narrow._jdf.queryExecution().executedPlan().toString()
    assert s_wide is wide  # identity — no new exchange for the scale path


def test_winnow_fingerprints_hand_computed(spark):
    """Winnowing invariants on a tiny doc: selected hashes are a subset
    of the shingle hashes, at most n_shingles - w + 1 of them, and the
    same text always selects the same set."""
    from pyspark.sql import functions as F

    from cloud_based_bi_etl_automation_for_real_estate_company_spark.functions.text import (
        shingles,
        winnow_fingerprints,
    )

    df = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f g h"), (3, "x y"), (4, "")],
        "doc_id bigint, text string",
    )
    rows = {
        r["doc_id"]: (r["fp"], r["all_h"])
        for r in df.select(
            "doc_id",
            winnow_fingerprints("text", k=3, w=4).alias("fp"),
            F.transform(
                shingles("text", 3), lambda s: F.substring(F.md5(s), 1, 8)
            ).alias("all_h"),
        ).collect()
    }
    fp1, all1 = rows[1]
    assert set(fp1) <= set(all1)          # subset of shingle hashes
    assert 1 <= len(fp1) <= len(all1) - 3  # ≤ n - w + 1 windows
    assert rows[2][0] == fp1               # deterministic
    assert rows[3][0] == [] and rows[4][0] == []  # < k tokens → empty


def test_winnow_pairs_finds_shared_run(spark):
    """The winnowing guarantee: two docs sharing a token run of length
    ≥ w + k - 1 (= 6 here) must share at least one fingerprint; with a
    long shared run they clear min_shared=2, while an unrelated doc
    pairs with nobody."""
    shared = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [
            (1, "intro words " + shared),
            (2, shared + " closing remark here"),
            (3, "completely different content about spark plans only"),
        ],
        "doc_id bigint, text string",
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in D.winnow_pairs(df, k=3, w=4, min_shared=2).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2
    assert not any(3 in p for p in pairs)


def test_span_dedup_removes_repeated_tiles(spark):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.dedup import (
        span_dedup,
    )

    # span=2 tiles: doc 1 = [a b][c d]; doc 2 repeats [a b] then has
    # its own [e f]; doc 3 is entirely doc 1's content (fully redundant).
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b e f"), (3, "a b c d")],
        "doc_id bigint, text string",
    )
    rows = {r["doc_id"]: r for r in span_dedup(df, span=2).collect()}
    assert rows[1]["clean_text"] == "a b c d"
    assert rows[1]["n_spans"] == 2 and rows[1]["n_spans_kept"] == 2
    assert rows[2]["clean_text"] == "e f"
    assert rows[2]["n_spans"] == 2 and rows[2]["n_spans_kept"] == 1
    assert rows[3]["clean_text"] == ""
    assert rows[3]["n_spans_kept"] == 0


def test_span_dedup_within_doc_and_tile_order(spark):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.dedup import (
        span_dedup,
    )

    # a doc repeating its own tile drops the later copy; surviving
    # tiles rejoin in original order; trailing partial tile kept.
    df = spark.createDataFrame(
        [(7, "a b a b c d e")], "doc_id bigint, text string"
    )
    row = span_dedup(df, span=2).collect()[0]
    assert row["clean_text"] == "a b c d e"
    assert row["n_spans"] == 4 and row["n_spans_kept"] == 3


def test_paragraph_dedup_first_occurrence_wins(spark):
    """Round-14 CCNet paragraph pass: first (doc_id, pos) occurrence
    of each distinct trimmed paragraph survives corpus-wide; docs
    reassemble survivors in original order; whitespace-only
    paragraphs drop; a fully redundant doc keeps '' with
    n_paras_kept = 0."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.dedup import (
        paragraph_dedup,
    )

    df = spark.createDataFrame(
        [
            (1, "alpha beta\n\ngamma\n\nalpha beta"),  # self-repeat
            (2, "gamma\n\ndelta"),  # gamma seen in doc 1
            (3, "alpha beta\n\ngamma"),  # fully redundant
            (4, "  \n\n epsilon \n\n"),  # whitespace paras drop
        ],
        "doc_id bigint, text string",
    )
    rows = {r["doc_id"]: r for r in paragraph_dedup(df).collect()}
    assert rows[1]["clean_text"] == "alpha beta\n\ngamma"
    assert rows[1]["n_paras"] == 3 and rows[1]["n_paras_kept"] == 2
    assert rows[2]["clean_text"] == "delta"
    assert rows[2]["n_paras"] == 2 and rows[2]["n_paras_kept"] == 1
    assert rows[3]["clean_text"] == "" and rows[3]["n_paras_kept"] == 0
    assert rows[4]["clean_text"] == "epsilon"
    assert rows[4]["n_paras"] == 1 and rows[4]["n_paras_kept"] == 1


def test_paragraph_dedup_global_invariants(spark):
    """Every distinct paragraph survives exactly once corpus-wide,
    and the plan carries exactly TWO exchanges (window by paragraph
    text + reassembly groupBy) — no extra shuffle creeps in."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.dedup import (
        paragraph_dedup,
    )

    df = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .withColumn(
            "text",
            F.regexp_replace(
                F.col("text"), r"\b(batch|data|join) ", "$1. "
            ),
        )
    )
    out = paragraph_dedup(df, sep=r"\. ", joiner=". ")
    kept = out.agg(F.sum("n_paras_kept")).collect()[0][0]
    distinct_paras = (
        df.select(
            F.explode(F.split(F.col("text"), r"\. ")).alias("p")
        )
        .select(F.trim("p").alias("p"))
        .filter(F.length("p") > 0)
        .distinct()
        .count()
    )
    assert kept == distinct_paras
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re as _re

    n_exchanges = len(_re.findall(r"\bExchange\b", plan))
    assert n_exchanges <= 2, plan[:2000]


def test_paragraph_dedup_agg_mode_parity(spark):
    """Round-15 (r14 verdict task 6): the hot-key-escape plan
    (mode='agg' — groupBy-min(struct) + join-back, partially
    aggregable so a mega-duplicated paragraph combines map-side) must
    return EXACTLY the window form's rows, including on a corpus where
    one paragraph dominates (the case the escape exists for)."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.dedup import (
        paragraph_dedup,
    )

    # fixture corpus with injected boundaries
    df = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).withColumn(
        "text",
        F.regexp_replace(F.col("text"), r"\b(batch|data|join) ", "$1. "),
    )
    want = sorted(
        map(tuple, paragraph_dedup(df, sep=r"\. ", joiner=". ").collect())
    )
    got = sorted(
        map(
            tuple,
            paragraph_dedup(df, sep=r"\. ", joiner=". ", mode="agg").collect(),
        )
    )
    assert got == want
    # mega-duplicated paragraph: one boilerplate para in EVERY doc,
    # interleaved with unique ones — ownership ties broken identically
    hot = spark.createDataFrame(
        [
            (i, f"unique {i} head\n\nBOILERPLATE FOOTER\n\nunique {i} tail")
            for i in range(200)
        ],
        "doc_id bigint, text string",
    )
    want_h = sorted(map(tuple, paragraph_dedup(hot).collect()))
    got_h = sorted(map(tuple, paragraph_dedup(hot, mode="agg").collect()))
    assert got_h == want_h
    import pytest as _pytest

    with _pytest.raises(ValueError):
        paragraph_dedup(hot, mode="nope")


def test_incremental_paragraph_dedup_ordered_equals_one_shot(spark, tmp_path):
    """Round-14 streaming promotion of the CCNet pass: two batches in
    doc_id order through the lifetime hash store must land exactly
    where one-shot paragraph_dedup lands (same first-occurrence
    owner, same reassembly, same counts)."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.dedup import (
        incremental_paragraph_dedup,
        paragraph_dedup,
    )

    rows = [
        (1, "alpha beta\n\ngamma\n\nalpha beta"),
        (2, "gamma\n\ndelta"),
        (3, "alpha beta\n\ngamma"),
        (4, "delta\n\nepsilon"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    store = str(tmp_path / "para_store")
    got = (
        incremental_paragraph_dedup(df.filter("doc_id <= 2"), store)
        .unionByName(
            incremental_paragraph_dedup(df.filter("doc_id > 2"), store)
        )
        .collect()
    )
    want = paragraph_dedup(df).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_incremental_paragraph_dedup_store_and_compaction(spark, tmp_path):
    """The store holds one hash per SURVIVING paragraph; a replayed
    (at-least-once) batch appends duplicate hashes without changing
    membership; compact_paragraph_store dedupes the rows and the next
    batch's result is invariant. Out-of-order arrival still keeps
    every distinct paragraph surviving exactly once (arrival-order
    ownership — the documented trade)."""
    from pyspark.sql import functions as F

    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.dedup import (
        compact_paragraph_store,
        incremental_paragraph_dedup,
    )

    store = str(tmp_path / "para_store")
    b1 = spark.createDataFrame(
        [(10, "p one\n\np two")], "doc_id bigint, text string"
    )
    b2 = spark.createDataFrame(
        [(5, "p two\n\np three")], "doc_id bigint, text string"
    )
    r1 = incremental_paragraph_dedup(b1, store).collect()
    assert r1[0]["n_paras_kept"] == 2
    # replay batch 1 (at-least-once): nothing admitted, store rows dup
    replay = incremental_paragraph_dedup(b1, store).collect()
    assert replay[0]["n_paras_kept"] == 0 and replay[0]["clean_text"] == ""
    hashes = spark.read.parquet(f"{store}/hashes")
    assert hashes.count() == 2 and hashes.distinct().count() == 2
    # out-of-order: doc 5 arrives AFTER doc 10 — 'p two' stays owned
    # by doc 10 (arrival order), 'p three' is new
    r2 = {r["doc_id"]: r for r in incremental_paragraph_dedup(b2, store).collect()}
    assert r2[5]["clean_text"] == "p three"
    assert r2[5]["n_paras"] == 2 and r2[5]["n_paras_kept"] == 1
    compact_paragraph_store(spark, store)
    after = spark.read.parquet(f"{store}/hashes")
    assert after.count() == 3  # deduped, membership intact
    # membership invariant post-compaction: everything already seen
    b3 = spark.createDataFrame(
        [(99, "p one\n\np three")], "doc_id bigint, text string"
    )
    r3 = incremental_paragraph_dedup(b3, store).collect()[0]
    assert r3["n_paras_kept"] == 0


def test_containment_asymmetry(spark):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.dedup import (
        ngram_containment_pairs,
    )

    # doc 2 is fully contained in doc 1 (every 3-gram of 2 appears in
    # 1) but doc 1 is much bigger, so only the 2→1 direction crosses
    # the 0.5 threshold — the case symmetric Jaccard misses.
    df = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j k l m n o p"),
            (2, "c d e f g"),
        ],
        "doc_id bigint, text string",
    )
    rows = {(r["id_a"], r["id_b"]): r["containment"]
            for r in ngram_containment_pairs(df, threshold=0.5).collect()}
    assert rows == {(2, 1): 1.0}


def test_span_dedup_global_invariants(spark):
    """Every distinct span survives exactly once corpus-wide:
    sum(n_spans_kept) == count of distinct span texts; and no doc
    keeps more spans than it has."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.dedup import (
        span_dedup,
    )
    from pyspark.sql import functions as F

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = span_dedup(df, span=8)
    agg = out.agg(
        F.sum("n_spans_kept").alias("kept"), F.sum("n_spans").alias("total")
    ).collect()[0]
    toks = F.split(F.trim(F.col("text")), " ")
    n_spans = F.greatest(
        F.lit(1).cast("bigint"), F.ceil(F.size(toks) / F.lit(8.0))
    )
    distinct_spans = (
        df.select(
            F.explode(F.sequence(F.lit(0).cast("bigint"), n_spans - 1)).alias("i"),
            toks.alias("t"),
        )
        .select(
            F.array_join(
                F.slice(F.col("t"), (F.col("i") * 8 + 1).cast("int"), 8), " "
            ).alias("s")
        )
        .distinct()
        .count()
    )
    assert agg["kept"] == distinct_spans
    assert agg["kept"] <= agg["total"]
    bad = out.filter(F.col("n_spans_kept") > F.col("n_spans")).count()
    assert bad == 0


def test_sliding_span_dedup_catches_shifted_boilerplate(spark):
    """The case the tile form misses: identical 8-token boilerplate at
    DIFFERENT offsets. Tile dedup sees different tiles; sliding dedup
    removes the later copy."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.dedup import (
        sliding_span_dedup,
        span_dedup,
    )

    boiler = "b1 b2 b3 b4 b5 b6 b7 b8"
    df = spark.createDataFrame(
        [
            (1, f"{boiler} u1 u2"),          # boiler at offset 0
            (2, f"v1 {boiler} v2"),          # same boiler at offset 1
        ],
        "doc_id bigint, text string",
    )
    slide = {r["doc_id"]: r for r in sliding_span_dedup(df, span=8).collect()}
    assert slide[1]["clean_text"] == f"{boiler} u1 u2"   # first occurrence kept
    assert slide[2]["clean_text"] == "v1 v2"             # shifted copy removed
    assert slide[2]["n_tokens_kept"] == 2
    # the tile form cannot see it (tiles are offset-aligned)
    tile = {r["doc_id"]: r for r in span_dedup(df, span=8).collect()}
    assert tile[2]["n_spans_kept"] == tile[2]["n_spans"]


def test_sliding_span_dedup_short_docs_pass_through(spark):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.dedup import (
        sliding_span_dedup,
    )

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c")], "doc_id bigint, text string"
    )
    rows = {r["doc_id"]: r for r in sliding_span_dedup(df, span=8).collect()}
    # shorter than the window: untouched (exact dedup handles these)
    assert rows[1]["clean_text"] == "a b c" and rows[2]["clean_text"] == "a b c"
    assert all(r["n_tokens_kept"] == 3 for r in rows.values())


def test_sliding_span_dedup_dense_overlap(spark):
    """Heavily overlapping removal intervals (every window of the
    second doc duplicates the first) still mask correctly after the
    islands fold: the entire later copy is removed."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.dedup import (
        sliding_span_dedup,
    )

    text = " ".join(f"t{i}" for i in range(20))
    df = spark.createDataFrame(
        [(1, text), (2, text)], "doc_id bigint, text string"
    )
    rows = {r["doc_id"]: r for r in sliding_span_dedup(df, span=8).collect()}
    assert rows[1]["clean_text"] == text
    assert rows[2]["clean_text"] == "" and rows[2]["n_tokens_kept"] == 0


def test_editdist_pairs_blocking_and_counts(spark):
    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate(
            ["red widget", "red widgit", "red widget",  # typo pair + dup row
             "blue bolt", "blu bolt",                     # typo in word 1
             "green gear",                                # no neighbor
             "rad widgit"]                                # both words edited
        )],
        "id bigint, name string",
    )
    out = {(r["name_a"], r["name_b"]): r for r in D.editdist_pairs(df, "name").collect()}
    assert ("red widget", "red widgit") in out
    assert ("blu bolt", "blue bolt") in out
    pair = out[("red widget", "red widgit")]
    assert pair["dist"] == 1 and pair["n_a"] == 2 and pair["n_b"] == 1
    # "rad widgit" still pairs with "red widgit" through the shared
    # second word…
    assert ("rad widgit", "red widgit") in out
    # …but the documented blocking recall caveat holds: the pair with
    # EVERY word edited ("rad widgit" vs "red widget", dist 2) shares
    # no (position, word) block key and is missed
    assert ("rad widgit", "red widget") not in out
    # distance cap respected
    assert all(r["dist"] <= 2 for r in out.values())


def test_editdist_pairs_partition_invariant(spark):
    rows = [(i, f"name{i % 9} tail{i % 4}") for i in range(60)]
    df = spark.createDataFrame(rows, "id bigint, name string")
    a = sorted(map(tuple, D.editdist_pairs(df.repartition(2), "name").collect()))
    b = sorted(map(tuple, D.editdist_pairs(df.repartition(11), "name").collect()))
    assert a == b


def test_fellegi_sunter_hand_computed(spark):
    import math
    from pyspark.sql import functions as F
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.dedup import (
        fellegi_sunter_pairs,
    )

    rows = [
        (1, "b1", "X", 100.0),
        (2, "b1", "X", 150.0),   # agrees with 1 on both fields
        (3, "b1", "Y", 5000.0),  # disagrees with both
        (4, "b2", "X", 100.0),   # different block: never paired with 1
    ]
    df = spark.createDataFrame(rows, "id bigint, blk string, seg string, bal double")
    comps = [
        (F.col("seg_a") == F.col("seg_b"), 0.9, 0.2),
        (F.abs(F.col("bal_a") - F.col("bal_b")) < 500, 0.7, 0.1),
    ]
    out = {
        (r["id_a"], r["id_b"]): r["score"]
        for r in fellegi_sunter_pairs(
            df, id_col="id", block_col="blk", comparisons=comps, top_k=10
        ).collect()
    }
    # only intra-block pairs exist
    assert set(out) == {(1, 2), (1, 3), (2, 3)}
    agree_both = math.log(0.9 / 0.2) + math.log(0.7 / 0.1)
    disagree_both = math.log((1.0 - 0.9) / (1.0 - 0.2)) + math.log(
        (1.0 - 0.7) / (1.0 - 0.1)
    )
    assert abs(out[(1, 2)] - agree_both) < 1e-12
    assert abs(out[(1, 3)] - disagree_both) < 1e-12
    assert out[(1, 2)] > out[(2, 3)] > out[(1, 3)] or out[(2, 3)] == out[(1, 3)]


def test_prefix_filter_pairs_exact_vs_bruteforce(spark):
    """Prefix filtering must return EXACTLY the Jaccard ≥ 3/5 pairs a
    brute-force python check finds — no false negatives (the filter
    theorem) and no false positives (the verify stage). Includes a
    pair sitting exactly ON the threshold (J = 3/5 with |A|=5 — the
    ⌈0.6·5⌉ float-vs-integer hazard the rational arithmetic exists
    for) and token multisets (duplicate tokens collapse to sets)."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.dedup import (
        prefix_filter_pairs,
    )

    docs = [
        (1, "a b c d e"),        # J(1,2) = 4/6 = 0.667 ≥ 0.6
        (2, "a b c d x"),
        (3, "a b c d e f g"),    # J(1,3) = 5/7 ≈ 0.714 ≥ 0.6
        (4, "p q r s"),          # J(4,5): |∩|=3, |∪|=5 → exactly 3/5
        (5, "p q r u p p"),      # dup tokens collapse: {p,q,r,u}
        (6, "z z z"),            # singleton set, no neighbors
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = {
        (r["id_a"], r["id_b"]): (r["n_common"], r["n_union"], r["jaccard"])
        for r in prefix_filter_pairs(df).collect()
    }
    sets = {i: set(t.split()) for i, t in docs}
    expect = {}
    for a in sets:
        for b in sets:
            if a < b:
                i = len(sets[a] & sets[b])
                u = len(sets[a] | sets[b])
                if 5 * i >= 3 * u:
                    expect[(a, b)] = (i, u, i / u)
    assert got == expect
    assert (4, 5) in got and got[(4, 5)][2] == 0.6  # boundary pair kept


def test_duplicate_substring_spans_hand_computed(spark):
    """Maximal-run extraction: a 20-token substring shared across two
    docs yields one maximal span per doc covering exactly its token
    range; a 10-token shared run stays below min_len=15; a 16-token
    phrase repeated WITHIN one doc emits both occurrences as separate
    spans."""
    S = [f"s{i}" for i in range(20)]          # long shared run
    S2 = [f"p{i}" for i in range(10)]         # short shared run
    S3 = [f"r{i}" for i in range(16)]         # self-repeated phrase
    docs = [
        (1, " ".join([f"a{i}" for i in range(5)] + S + [f"b{i}" for i in range(5)])),
        (2, " ".join([f"c{i}" for i in range(5)] + S + [f"d{i}" for i in range(5)])),
        (3, " ".join(S2 + [f"e{i}" for i in range(10)])),
        (4, " ".join([f"f{i}" for i in range(10)] + S2)),
        (5, " ".join(S3 + [f"g{i}" for i in range(4)] + S3)),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = {
        (r["doc_id"], r["start_tok"], r["end_tok"], r["span_len"])
        for r in D.duplicate_substring_spans(df, span=8, min_len=15).collect()
    }
    assert got == {
        (1, 5, 24, 20),   # S occupies tokens 5..24 in doc 1
        (2, 5, 24, 20),
        (5, 0, 15, 16),   # first S3 copy
        (5, 20, 35, 16),  # second S3 copy after 4 filler tokens
    }


def test_substring_removal_hand_computed(spark):
    """Atomic-run removal: doc 2 loses its copy of the 20-token run S
    (doc 1 is globally first), doc 5's in-doc repeat loses the second
    occurrence, short-run docs 3/4 and canonical holders pass through
    untouched with zero counts."""
    S = [f"s{i}" for i in range(20)]
    S2 = [f"p{i}" for i in range(10)]
    S3 = [f"r{i}" for i in range(16)]
    docs = [
        (1, " ".join([f"a{i}" for i in range(5)] + S + [f"b{i}" for i in range(5)])),
        (2, " ".join([f"c{i}" for i in range(5)] + S + [f"d{i}" for i in range(5)])),
        (3, " ".join(S2 + [f"e{i}" for i in range(10)])),
        (4, " ".join([f"f{i}" for i in range(10)] + S2)),
        (5, " ".join(S3 + [f"g{i}" for i in range(4)] + S3)),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    rows = {r["doc_id"]: r for r in D.substring_removal(df, span=8, min_len=15).collect()}
    assert set(rows) == {1, 2, 3, 4, 5}
    # canonical holder untouched
    assert rows[1]["clean_text"] == docs[0][1]
    assert rows[1]["n_tokens_removed"] == 0 and rows[1]["n_runs_removed"] == 0
    # doc 2's copy of S removed atomically; surroundings survive
    assert rows[2]["clean_text"] == " ".join(
        [f"c{i}" for i in range(5)] + [f"d{i}" for i in range(5)]
    )
    assert rows[2]["n_tokens_removed"] == 20 and rows[2]["n_runs_removed"] == 1
    # short shared run (< min_len): both docs untouched
    assert rows[3]["n_tokens_removed"] == 0 and rows[4]["n_tokens_removed"] == 0
    assert rows[3]["clean_text"] == docs[2][1]
    # in-doc repeat: first occurrence survives, second cut
    assert rows[5]["clean_text"] == " ".join(S3 + [f"g{i}" for i in range(4)])
    assert rows[5]["n_tokens_removed"] == 16 and rows[5]["n_runs_removed"] == 1


def test_substring_removal_conservative_envelope(spark):
    """The documented under-removal property: when documents duplicate
    OVERLAPPING extents, their maximal runs carry different texts and
    every occurrence survives (runs are keyed on their own full text;
    nothing is shredded mid-run)."""
    U = [f"u{i}" for i in range(30)]
    docs = [
        (1, " ".join(U)),          # maximal run = all 30 tokens
        (2, " ".join(U[:20])),     # run text = tokens 0..19
        (3, " ".join(U[10:])),     # run text = tokens 10..29
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    rows = {r["doc_id"]: r for r in D.substring_removal(df, span=8, min_len=15).collect()}
    for i, text in docs:
        assert rows[i]["clean_text"] == text
        assert rows[i]["n_tokens_removed"] == 0
        assert rows[i]["n_runs_removed"] == 0


def test_incremental_minhash_dedup_across_batches(spark, tmp_path):
    """Near-dup admission against the sketch store: bootstrap admits
    the batch-internal survivor only; the next batch is rejected
    against STORE near-dups and in-batch smaller-id near-dups but
    admits fresh content; the store grows, so a third batch
    duplicating batch-2 content is rejected too. The sink receives
    admitted rows only."""
    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    other = "completely different content about spark shuffles and parquet row groups " * 5
    third = "yet another unrelated corpus fragment with its own vocabulary entirely " * 5
    store = str(tmp_path / "neardup_store")
    b1 = spark.createDataFrame(
        [(10, base), (12, base + " tail"), (14, other)],
        "doc_id bigint, text string",
    )
    f1 = {r["doc_id"]: r["admitted"] for r in
          D.incremental_minhash_dedup(b1, store).collect()}
    assert f1 == {10: True, 12: False, 14: True}  # 12 dominated by 10
    sunk = []
    b2 = spark.createDataFrame(
        [(21, base + " extra"),        # near-dup of stored 10 -> reject
         (23, third),                  # fresh -> admit
         (25, third + " suffix")],     # near-dup of smaller 23 -> reject
        "doc_id bigint, text string",
    )
    f2rows = D.incremental_minhash_dedup(
        b2, store, sink=lambda df: sunk.extend(r["doc_id"] for r in df.collect())
    ).collect()
    f2 = {r["doc_id"]: r["admitted"] for r in f2rows}
    assert f2 == {21: False, 23: True, 25: False}
    assert sunk == [23]
    # rejected-vs-store rows carry the evidence column
    eq21 = {r["doc_id"]: r["max_eq_store"] for r in f2rows}[21]
    assert eq21 is not None and eq21 * 2 >= 8
    # store grew with 23's sketch: a copy of `third` now rejects
    b3 = spark.createDataFrame(
        [(31, third + " more")], "doc_id bigint, text string"
    )
    f3 = {r["doc_id"]: r["admitted"] for r in
          D.incremental_minhash_dedup(b3, store).collect()}
    assert f3 == {31: False}


def test_minhash_store_compaction_lookup_invariance(spark, tmp_path):
    """compact_minhash_store rewrites the append-grown sigs table into
    fewer right-sized files; a subsequent batch must see IDENTICAL
    admission flags and evidence columns through the compacted store
    (the candidate-lookup invariance the lifecycle job promises)."""
    import glob
    import shutil

    base = "shared boilerplate paragraph repeated across batches many times over " * 5
    fresh = "totally novel subject matter with distinct vocabulary choices " * 5
    a = str(tmp_path / "store_a")
    b1 = spark.createDataFrame([(1, base), (2, fresh)], "doc_id bigint, text string")
    b2 = spark.createDataFrame(
        [(11, fresh + " coda"), (12, "more new words about columnar file layouts " * 5)],
        "doc_id bigint, text string",
    )
    D.incremental_minhash_dedup(b1, a).collect()
    D.incremental_minhash_dedup(b2, a).collect()
    b = str(tmp_path / "store_b")
    shutil.copytree(a, b, symlinks=True)
    files_before = len(glob.glob(f"{b}/sigs/*.parquet"))
    D.compact_minhash_store(spark, b)
    files_after = len(glob.glob(f"{b}/sigs/*.parquet"))
    assert files_after < files_before, (files_before, files_after)
    assert not glob.glob(f"{b}/sigs__*")  # no generation debris
    # same store rows, just fewer files
    rows_a = sorted(map(tuple, spark.read.parquet(f"{a}/sigs").collect()))
    rows_b = sorted(map(tuple, spark.read.parquet(f"{b}/sigs").collect()))
    assert rows_a == rows_b
    probe = spark.createDataFrame(
        [(21, base + " tail"), (22, fresh), (23, "never seen anywhere prose " * 5)],
        "doc_id bigint, text string",
    )
    fa = sorted(map(tuple, D.incremental_minhash_dedup(probe, a).collect()))
    fb = sorted(map(tuple, D.incremental_minhash_dedup(probe, b).collect()))
    assert fa == fb


def test_incremental_minhash_dedup_string_ids(spark, tmp_path):
    """Round-6 ADVICE: a non-bigint id column must work from the very
    first (bootstrap) batch — the empty store's schema derives from
    the incoming signature frame, so the append and the next batch's
    join agree on the id type."""
    text = "one single document body with enough words to shingle cleanly " * 5
    store = str(tmp_path / "str_store")
    b1 = spark.createDataFrame(
        [("doc-a", text), ("doc-b", "different material entirely here " * 5)],
        "doc_id string, text string",
    )
    f1 = {r["doc_id"]: r["admitted"] for r in
          D.incremental_minhash_dedup(b1, store).collect()}
    assert f1 == {"doc-a": True, "doc-b": True}
    assert dict(spark.read.parquet(f"{store}/sigs").dtypes)["doc_id"] == "string"
    b2 = spark.createDataFrame(
        [("doc-c", text + " tail")], "doc_id string, text string"
    )
    f2 = {r["doc_id"]: r["admitted"] for r in
          D.incremental_minhash_dedup(b2, store).collect()}
    assert f2 == {"doc-c": False}


def test_golden_records_pipeline_hand_computed(spark):
    """The MDM composition (blocking -> editdist -> CC -> survivorship)
    on a hand-built dimension: two typo-variants of one entity merge
    into one golden record carrying min/max merged attributes and the
    min part key as cluster id; the unrelated entity survives as its
    own singleton record."""
    from pyspark.sql import functions as F

    rows = [
        (10, "acme widget red", "B1", 5, 10.0),
        (11, "acme widget rex", "B2", 7, 12.0),   # 1 edit from the first
        (12, "zeta gadget blue", "B3", 3, 8.0),
    ]
    p = spark.createDataFrame(
        rows, "p_partkey bigint, p_name string, p_brand string, "
              "p_size int, p_retailprice double"
    )
    ids = p.groupBy("p_name").agg(F.min("p_partkey").alias("nid"))
    pairs = D.editdist_pairs(p, "p_name", max_dist=2).select("name_a", "name_b")
    ia = ids.select(F.col("p_name").alias("name_a"), F.col("nid").alias("ida"))
    ib = ids.select(F.col("p_name").alias("name_b"), F.col("nid").alias("idb"))
    cc = D.connected_components(
        pairs.join(ia, "name_a").join(ib, "name_b").select("ida", "idb"),
        src="ida", dst="idb",
    )
    cmap = ids.join(
        cc.select(F.col("doc_id").alias("nid"), F.col("cluster_id").alias("cl")),
        "nid", "left",
    ).select("p_name", F.coalesce("cl", "nid").alias("cluster_id"))
    golden = {
        r["cluster_id"]: (r["n"], r["brand"], r["maxp"])
        for r in p.join(cmap, "p_name")
        .groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("p_brand").alias("brand"),
            F.max("p_retailprice").alias("maxp"),
        )
        .collect()
    }
    assert golden == {10: (2, "B1", 12.0), 12: (1, "B3", 8.0)}


def test_lsh_max_bucket_skips_mega_bucket(spark):
    """The defensive bucket cap (round 12): identical docs all land in
    the same band buckets; with max_bucket below the clique size the
    buckets are skipped and no pair materializes, while small buckets
    are untouched (pair recall for the small pair preserved)."""
    rows = [(i, "alpha beta gamma delta epsilon zeta", "s") for i in range(10)]
    rows += [(100, "one two three four five six", "s"),
             (101, "one two three four five six", "s")]
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, source string"
    )
    uncapped = D.minhash_lsh_pairs(df)
    assert uncapped.count() == 45 + 1  # 10-clique + the small pair
    capped = D.minhash_lsh_pairs(df, max_bucket=5)
    got = [(r["id_a"], r["id_b"]) for r in capped.collect()]
    assert got == [(100, 101)]


def test_golden_priority_survivorship_hand_computed(spark, tmp_path):
    """Source-priority/recency survivorship (round 12): in a cluster
    holding a HIGH-priority source row (Brand#13) that is OLDER than a
    newer low-priority row, priority must win; in a cluster with no
    priority source, recency (max p_partkey) must win. Exercises the
    registered q_x_golden_priority end-to-end off a tiny part table."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.plans.extensions import (
        q_x_golden_priority,
    )

    rows = [
        # cluster A: the Brand#13 row is the OLDEST member — priority
        # beats the newer Brand#55 row
        (10, "acme widget red", "Brand#13", "T-a", 5, 10.0),
        (11, "acme widget rex", "Brand#55", "T-b", 7, 12.0),
        (12, "acme widget rev", "Brand#21", "T-c", 7, 12.0),
        # cluster B: no priority source — newest (max key) wins
        (20, "zeta gadget blue", "Brand#41", "T-d", 3, 8.0),
        (21, "zeta gadget blur", "Brand#55", "T-e", 4, 9.0),
    ]
    p = spark.createDataFrame(
        rows, "p_partkey bigint, p_name string, p_brand string, "
              "p_type string, p_size int, p_retailprice double"
    )
    p.write.parquet(str(tmp_path / "part.parquet"))
    got = {
        r["cluster_id"]: (
            r["n_parts"], r["win_priority"], r["win_partkey"],
            r["golden_brand"], r["golden_type"],
        )
        for r in q_x_golden_priority(spark, str(tmp_path)).collect()
    }
    assert got == {
        10: (3, 3, 10, "Brand#13", "T-a"),
        20: (2, 1, 21, "Brand#55", "T-e"),
    }


def test_round6_ops_partition_invariant(spark):
    """Determinism under re-partitioning for the round-6 operators:
    substring spans, k-core, and the golden-record map must be
    bit-identical when the input arrives in 13 shuffled partitions."""
    from pyspark.sql import functions as F

    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.graph import kcore

    S = [f"s{i}" for i in range(20)]
    docs = [
        (1, " ".join([f"a{i}" for i in range(5)] + S)),
        (2, " ".join([f"b{i}" for i in range(5)] + S)),
        (3, " ".join(f"c{i}" for i in range(30))),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    spans = lambda d: {
        tuple(r) for r in D.duplicate_substring_spans(d, span=8, min_len=15).collect()
    }
    assert spans(df) == spans(df.repartition(13))

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6)],
        "src bigint, dst bigint",
    )
    core = lambda e: {tuple(r) for r in kcore(e, k=3).collect()}
    assert core(edges) == core(edges.repartition(7))


def test_compact_minhash_store_rejects_remote_store(spark, tmp_path):
    """ADVICE r7: a table is replaced by a local link flip — a
    non-local store URI must raise BEFORE any rewrite happens (no
    orphaned generation directory on an object store)."""
    import pytest

    with pytest.raises(ValueError, match="local filesystem"):
        D.compact_minhash_store(spark, "s3://bucket/minhash-store")


def test_connected_components_require_convergence(spark):
    """Round-9: min-label propagation on a path whose diameter exceeds
    max_iter silently under-merges — require_convergence must raise
    loudly; the star variant converges in O(log d) rounds on the same
    graph and labels every node with the path head."""
    import pytest

    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "id_a bigint, id_b bigint"
    )
    with pytest.raises(ValueError, match="did not converge"):
        connected_components(path, max_iter=5, require_convergence=True)
    # silent default: returns labels, provably under-merged
    part = connected_components(path, max_iter=5)
    assert part.select("cluster_id").distinct().count() > 1
    # star: same graph, full merge within the default bound
    star = connected_components_star(path)
    got = {r["doc_id"]: r["cluster_id"] for r in star.collect()}
    assert set(got) == set(range(31)) and set(got.values()) == {0}
    # converged propagation does not raise under the strict flag
    ok = connected_components(
        spark.createDataFrame([(1, 2), (2, 3)], "id_a bigint, id_b bigint"),
        require_convergence=True,
    )
    assert {r["cluster_id"] for r in ok.collect()} == {1}


def test_star_cc_local_finish_matches_distributed(spark):
    """Round-10: the size-gated driver-side union-find finish must be
    OUTPUT-IDENTICAL to the all-distributed star fixpoint — same
    (doc_id, cluster_id=component min) rows on a graph mixing cliques,
    a long path, and singleton-free isolated pairs."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.dedup import (
        connected_components_star,
    )

    edges = (
        [(i, i + 1) for i in range(40)]  # path: component min 0
        + [(100 + i, 100 + j) for i in range(4) for j in range(i + 1, 4)]
        + [(200, 201), (300, 301), (301, 302), (50, 25)]  # merges into path
        + [(999, 999)]  # self-loop on an otherwise-absent node
    )
    df = spark.createDataFrame(edges, "id_a bigint, id_b bigint")
    local = {
        (r["doc_id"], r["cluster_id"])
        for r in connected_components_star(df).collect()
    }
    dist = {
        (r["doc_id"], r["cluster_id"])
        for r in connected_components_star(
            df, local_finish_max_edges=0
        ).collect()
    }
    assert local == dist
    # spot semantics: the 100-clique labels to 100, the pair to 200
    lab = dict(local)
    assert lab[103] == 100 and lab[201] == 200 and lab[302] == 300
    assert lab[50] == 0 and 999 not in lab  # self-loop contributes no node


def test_local_finish_budget_resolution(spark):
    """Round-11: the local-finish collect bound resolves from driver
    heap when left at None (clamped [100k, 2M]); explicit values --
    including the soak's all-distributed 0 -- are always honored."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.dedup import (
        local_finish_budget,
    )

    b = local_finish_budget(spark)
    assert 100_000 <= b <= 2_000_000
    # and it tracks the actual JVM heap: recompute the expected clamp
    mx = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
    assert b == max(100_000, min(2_000_000, int(mx // 100 // 100)))


@pytest.mark.slow  # round 16: heavy leg, slow tier (see pytest.ini)
def test_soft_store_compaction_invariance(spark, tmp_path):
    """Round-11: compact_minhash_store rewrites whatever schema lives
    under {store}/sigs -- the soft store's extra cluster_id column
    included -- and the exact labels compact_soft_store derives are
    invariant across that compaction."""
    import glob
    import shutil

    base = "shared boilerplate paragraph repeated across batches many times over " * 5
    fresh = "totally novel subject matter with distinct vocabulary choices " * 5
    a = str(tmp_path / "soft_a")
    b1 = spark.createDataFrame([(1, base), (2, fresh)], "doc_id bigint, text string")
    b2 = spark.createDataFrame(
        [(11, base + " tail"), (12, "more new words about columnar layouts " * 5)],
        "doc_id bigint, text string",
    )
    D.soft_dedup_admit(b1, a)
    D.soft_dedup_admit(b2, a)
    b = str(tmp_path / "soft_b")
    shutil.copytree(a, b, symlinks=True)
    files_before = len(glob.glob(f"{b}/sigs/*.parquet"))
    D.compact_minhash_store(spark, b)
    assert len(glob.glob(f"{b}/sigs/*.parquet")) < files_before
    rows_a = sorted(map(tuple, spark.read.parquet(f"{a}/sigs").collect()))
    rows_b = sorted(map(tuple, spark.read.parquet(f"{b}/sigs").collect()))
    assert rows_a == rows_b

    def labels(p):
        D.compact_soft_store(spark, p)
        return {
            r["doc_id"]: r["cluster_id"]
            for r in spark.read.parquet(f"{p}/sigs").collect()
        }

    # the near-dup pair (1, 11) shares one cluster; 2 and 12 are singletons
    assert labels(a) == labels(b) == {1: 1, 11: 1, 2: 2, 12: 12}


@pytest.mark.slow  # round 16: heavy leg, slow tier (see pytest.ini)
def test_compact_soft_store_reconciles_bridged_labels(spark, tmp_path):
    """Round-11: compact_soft_store rewrites the soft store's
    PROVISIONAL admission-time cluster labels to the exact star-CC
    labels. Fixture (deterministic under the md5 hash family): A and B
    are unrelated, C = A||B bridges them — admitted per-batch, A and B
    land in different clusters and C takes the merged min, but B's
    STORED row keeps its stale label, splitting running counts. After
    compaction a fourth A-duplicate sees the true running size 4."""
    A = " ".join(f"a3w{i}" for i in range(12))
    B = " ".join(f"b3w{i}" for i in range(12))
    C = A + " " + B
    store = str(tmp_path / "soft")
    D.soft_dedup_admit(
        spark.createDataFrame([(1, A)], "doc_id bigint, text string"), store
    )
    D.soft_dedup_admit(
        spark.createDataFrame([(2, B)], "doc_id bigint, text string"), store
    )
    f3 = D.soft_dedup_admit(
        spark.createDataFrame([(3, C)], "doc_id bigint, text string"), store
    ).collect()
    # C verified against both stored clusters -> merged min label 1
    assert f3[0]["cluster_id"] == 1 and f3[0]["n_cluster"] == 3
    stored = {
        r["doc_id"]: r["cluster_id"]
        for r in spark.read.parquet(f"{store}/sigs").collect()
    }
    # the stale provisional label: B still carries its own cluster
    assert stored == {1: 1, 2: 2, 3: 1}

    # WITHOUT compaction an A-dup undercounts its cluster (store rows
    # labeled 1 are only {1, 3})
    probe = str(tmp_path / "probe")
    import shutil

    shutil.copytree(store, probe, symlinks=True)
    f4_stale = D.soft_dedup_admit(
        spark.createDataFrame([(4, A)], "doc_id bigint, text string"), probe
    ).collect()
    assert f4_stale[0]["n_cluster"] == 3  # 1, 3 + itself — undercount

    D.compact_soft_store(spark, store)
    stored2 = {
        r["doc_id"]: r["cluster_id"]
        for r in spark.read.parquet(f"{store}/sigs").collect()
    }
    assert stored2 == {1: 1, 2: 1, 3: 1}
    # and the post-compaction admit sees the exact running size
    f4 = D.soft_dedup_admit(
        spark.createDataFrame([(4, A)], "doc_id bigint, text string"), store
    ).collect()
    assert f4[0]["cluster_id"] == 1 and f4[0]["n_cluster"] == 4
    assert f4[0]["weight"] == 0.25
