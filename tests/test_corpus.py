"""Unit tests for corpus-level analytics: TF-IDF term weighting and
cross-source shingle overlap (oracle-checked end-to-end as x_tfidf /
x_source_overlap; these pin hand-computed values on tiny corpora)."""

from __future__ import annotations

import math

from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators import (
    corpus as C,
)

DOCS = "doc_id bigint, text string, source string"


def test_tfidf_hand_computed(spark):
    # 4 docs, 2 sources. "rare" appears in 1 doc; "the" in all 4.
    df = spark.createDataFrame(
        [
            (1, "the cat", "web"),
            (2, "the the dog", "web"),
            (3, "the rare", "books"),
            (4, "the cat", "books"),
        ],
        DOCS,
    )
    rows = {
        (r["source"], r["term"]): r
        for r in C.tfidf_by_group(df, group_col="source").collect()
    }
    # "the": df=4, N=4 → idf=0 → tfidf 0 everywhere, tf still counted
    assert rows[("web", "the")]["tf"] == 3
    assert rows[("web", "the")]["tfidf"] == 0.0
    # "rare": tf=1 in books, df=1 → 1·ln(4)
    r = rows[("books", "rare")]
    assert r["doc_freq"] == 1
    assert math.isclose(r["tfidf"], math.log(4.0))
    # "cat": df=2 corpus-wide even though split across sources
    assert rows[("web", "cat")]["doc_freq"] == 2
    assert math.isclose(rows[("books", "cat")]["tfidf"], math.log(2.0))
    assert ("books", "dog") not in rows


def test_pack_sequences_global(spark):
    # budget 4; docs of 3,3,2,5 tokens in id order → cum-before
    # 0,3,6,8 → bins 0,0,1,2; the 5-token doc overflows its bin alone
    df = spark.createDataFrame(
        [(1, "a b c", "s"), (2, "d e f", "s"), (3, "g h", "s"),
         (4, "i j k l m", "s")],
        DOCS,
    )
    out = {r["doc_id"]: r["bin_id"] for r in C.pack_sequences(df, budget=4).collect()}
    assert out == {1: 0, 2: 0, 3: 1, 4: 2}


def test_pack_sequences_partitioned_is_local(spark):
    # per-group packing: bins restart per pack_group, every doc lands
    # in exactly one (group, bin), and group totals cover all docs
    df = spark.createDataFrame(
        [(i, "w " * (i % 7 + 1), "s") for i in range(40)], DOCS
    )
    out = C.pack_sequences(df, budget=8, partitions=4).collect()
    assert len(out) == 40
    assert {r["pack_group"] for r in out} <= set(range(4))
    for g in {r["pack_group"] for r in out}:
        bins = sorted(r["bin_id"] for r in out if r["pack_group"] == g)
        assert bins[0] == 0  # each group starts its own bin 0


def test_chunk_documents_windows_and_overlap(spark):
    # window 4, stride 3 (overlap 1): 6 tokens → ceil((6-1)/3) = 2
    # chunks: [t1..t4], [t4..t6] — token t4 appears in both
    df = spark.createDataFrame([(1, "a b c d e f", "s")], DOCS)
    out = sorted(
        (r["chunk_id"], r["n_chunk_tokens"], r["chunk_text"])
        for r in C.chunk_documents(df, window=4, stride=3).collect()
    )
    assert out == [(0, 4, "a b c d"), (1, 3, "d e f")]
    # short doc → exactly one (short) chunk, nothing dropped
    short = spark.createDataFrame([(2, "x y", "s")], DOCS)
    rows = C.chunk_documents(short, window=4, stride=3).collect()
    assert len(rows) == 1 and rows[0]["chunk_text"] == "x y"
    # no token is ever lost: concat of stride-starts covers the doc
    df2 = spark.createDataFrame([(3, " ".join(f"t{i}" for i in range(10)), "s")], DOCS)
    chunks = C.chunk_documents(df2, window=4, stride=2).collect()
    covered = set()
    for r in chunks:
        covered.update(r["chunk_text"].split(" "))
    assert covered == {f"t{i}" for i in range(10)}


def test_source_mixture_weights(spark):
    # tokens: web=9 (3 docs), books=1 → shares .9/.1; alpha=.5 weights
    # ∝ sqrt(share): .75/.25 after normalizing
    df = spark.createDataFrame(
        [(1, "a b c", "web"), (2, "d e f", "web"), (3, "g h i", "web"),
         (4, "j", "books")],
        DOCS,
    )
    out = {r["source"]: r for r in C.source_mixture(df, alpha=0.5).collect()}
    assert out["web"]["n_docs"] == 3 and out["web"]["n_tokens"] == 9
    assert math.isclose(out["web"]["token_share"], 0.9)
    z = math.sqrt(0.9) + math.sqrt(0.1)
    assert math.isclose(out["web"]["weight"], math.sqrt(0.9) / z)
    assert math.isclose(sum(r["weight"] for r in out.values()), 1.0)
    # alpha=1 keeps natural proportions
    nat = {r["source"]: r["weight"] for r in C.source_mixture(df, alpha=1.0).collect()}
    assert math.isclose(nat["web"], 0.9)


def test_source_overlap_jaccard(spark):
    # a: shingles {x y z, y z w}; b: {x y z}; c: {p q r} (no overlap)
    df = spark.createDataFrame(
        [
            (1, "x y z w", "a"),
            (2, "x y z", "b"),
            (3, "p q r", "c"),
        ],
        DOCS,
    )
    out = {
        (r["source_a"], r["source_b"]): r
        for r in C.source_overlap(df, group_col="source").collect()
    }
    assert set(out) == {("a", "b")}  # zero-overlap pairs absent
    r = out[("a", "b")]
    assert r["n_common"] == 1
    assert math.isclose(r["jaccard"], 1 / 2)  # |{xyz}| / |{xyz, yzw}|


def test_source_overlap_dedups_within_source(spark):
    # duplicate shingles inside one source must not inflate sizes
    df = spark.createDataFrame(
        [(1, "x y z", "a"), (2, "x y z", "a"), (3, "x y z", "b")],
        DOCS,
    )
    r = C.source_overlap(df, group_col="source").collect()[0]
    assert (r["n_common"], r["jaccard"]) == (1, 1.0)


def test_pack_sequences_ntokens_col(spark):
    """An upstream-provided token count overrides re-tokenization, so
    bin accounting follows the caller's numbers exactly."""
    df = spark.createDataFrame(
        [(1, "a b", 4), (2, "c d", 4), (3, "e f", 4)],
        "doc_id bigint, text string, n bigint",
    )
    out = {
        r["doc_id"]: (r["n_tokens"], r["bin_id"])
        for r in C.pack_sequences(df, budget=8, ntokens_col="n").collect()
    }
    # with n=4 each, budget 8: docs 1,2 fill bin 0, doc 3 opens bin 1
    assert out == {1: (4, 0), 2: (4, 0), 3: (4, 1)}


def test_source_overlap_cache_released(spark):
    """The pinned shingle set outlives the operator (the result reads
    it lazily) and release(result) frees its blocks."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.cacheutil import (
        release,
    )

    jsc = spark.sparkContext._jsc
    df = spark.createDataFrame(
        [(1, "x y z w", "a"), (2, "x y z", "b")], DOCS
    )
    before = set(jsc.getPersistentRDDs().keySet())
    out = C.source_overlap(df, group_col="source")
    out.collect()
    pinned = set(jsc.getPersistentRDDs().keySet()) - before
    assert pinned
    release(out)
    assert not (pinned & set(jsc.getPersistentRDDs().keySet()))
    release(out)  # already released: no-op


def test_token_spectrum_counts(spark):
    # "a" ×3, "b" ×2, "c" ×1, "d" ×1 → spectrum {1: 2 terms, 2: 1, 3: 1}
    df = spark.createDataFrame(
        [(1, "a a b", "s"), (2, "a b c d", "s")], DOCS
    )
    got = {r["occurrences"]: r["n_terms"] for r in C.token_spectrum(df).collect()}
    assert got == {1: 2, 2: 1, 3: 1}


def test_doc_entropy_uniform_and_degenerate(spark):
    df = spark.createDataFrame(
        [
            (1, "a b c d", "s"),  # uniform over 4 → ln(4)
            (2, "x x x x", "s"),  # degenerate → 0
            (3, "a a b b", "s"),  # uniform over 2 → ln(2)
        ],
        DOCS,
    )
    rows = {r["doc_id"]: r for r in C.doc_entropy(df).collect()}
    assert rows[1]["n_tokens"] == 4
    assert math.isclose(rows[1]["entropy"], math.log(4.0))
    assert math.isclose(rows[2]["entropy"], 0.0, abs_tol=1e-12)
    assert math.isclose(rows[3]["entropy"], math.log(2.0))


def test_unigram_nll_hand_computed(spark):
    # corpus: "a" ×4, "b" ×2, "z" ×2 of N=8 → p(a)=.5, p(b)=.25, p(z)=.25
    df = spark.createDataFrame(
        [(1, "a a b a", "s"), (2, "a b z z", "s")], DOCS
    )
    rows = {r["doc_id"]: r for r in C.unigram_nll(df).collect()}
    ln = math.log
    # doc 1: -(3·ln .5 + 1·ln .25)/4 ; doc 2: -(ln .5 + ln .25 + 2·ln .25)/4
    assert math.isclose(rows[1]["nll"], -(3 * ln(0.5) + ln(0.25)) / 4)
    assert math.isclose(rows[2]["nll"], -(ln(0.5) + 3 * ln(0.25)) / 4)
    assert rows[1]["nll"] < rows[2]["nll"]  # rarer tokens → higher nll


def test_mixture_sample_rates_and_determinism(spark):
    # one dominant source, one small: alpha=0.5 upweights the small
    # slice, so the small slice keeps rate 1.0 and the big one < 1
    rows = [(i, f"tok{i} a b c d e f g h", "big") for i in range(40)]
    rows += [(100 + i, f"zz{i} a b", "small") for i in range(4)]
    df = spark.createDataFrame(rows, DOCS)
    out = {r["source"]: r for r in C.mixture_sample(df, alpha=0.5).collect()}
    assert out["small"]["rate"] == 1.0
    assert out["small"]["n_kept"] == out["small"]["n_docs"] == 4
    assert 0 < out["big"]["rate"] < 1
    assert 0 < out["big"]["n_kept"] <= out["big"]["n_docs"] == 40
    # deterministic: identical second run
    again = {r["source"]: r for r in C.mixture_sample(df, alpha=0.5).collect()}
    assert {k: (v["n_kept"], v["rate"]) for k, v in out.items()} == {
        k: (v["n_kept"], v["rate"]) for k, v in again.items()
    }


def test_bigram_nll_orders_scrambled_text(spark):
    # same unigrams, different order: the corpus-frequent ordering
    # scores lower NLL than the scrambled one — unigram_nll can't
    # tell them apart
    rows = [(i, "the cat sat on the mat", "s") for i in range(5)]
    rows.append((100, "mat the on sat cat the", "s"))
    df = spark.createDataFrame(rows, DOCS)
    uni = {r["doc_id"]: r["nll"] for r in C.unigram_nll(df).collect()}
    bi = {r["doc_id"]: r["nll"] for r in C.bigram_nll(df).collect()}
    assert abs(uni[0] - uni[100]) < 1e-12
    assert bi[100] > bi[0]


def test_mixture_sample_accepts_precomputed_weights(spark):
    rows = [(i, f"tok{i} a b c d e f g h", "big") for i in range(40)]
    rows += [(100 + i, f"zz{i} a b", "small") for i in range(4)]
    df = spark.createDataFrame(rows, DOCS)
    mix = C.source_mixture(df, alpha=0.5)
    direct = sorted(map(tuple, C.mixture_sample(df, alpha=0.5).collect()))
    reused = sorted(
        map(tuple, C.mixture_sample(df, alpha=0.5, mixture=mix).collect())
    )
    assert direct == reused


def test_stupid_backoff_ladder_branches(spark):
    import math

    train = spark.createDataFrame([(0, "a b c a b c", "s")], DOCS)
    score = spark.createDataFrame(
        [
            (1, "a b c", "s"),    # trigram seen: S = c3/c2 = 2/2 = 1
            (3, "b c c", "s"),    # backoff to unigram: S = 0.16*c1(c)/N
            (5, "x y z", "s"),    # full OOV floor: S = 0.16/N
        ],
        DOCS,
    )
    rows = {r["doc_id"]: r for r in C.stupid_backoff_nll(score, train).collect()}
    n = 6.0  # train tokens
    assert math.isclose(rows[1]["nll"], 0.0, abs_tol=1e-9)
    assert math.isclose(rows[3]["nll"], -math.log(0.4 * 0.4 * 2 / n), rel_tol=1e-9)
    assert math.isclose(rows[5]["nll"], -math.log(0.4 * 0.4 / n), rel_tol=1e-9)
    # rarer continuations must score strictly worse
    assert rows[1]["nll"] < rows[3]["nll"] < rows[5]["nll"]


def test_collocations_pmi_hand_computed(spark):
    # "new york" appears 6× and its parts appear nowhere else:
    # PMI = ln(6·N/(6·6)) = ln(N/6); "of the" (6×) from frequent parts
    # scores lower. N = total bigram positions.
    text_ny = "new york " * 6            # 6 "new york" + 5 "york new"
    text_of = "of the " * 6
    df = spark.createDataFrame(
        [(1, text_ny.strip(), "s"), (2, text_of.strip(), "s")], DOCS
    )
    rows = {r["bigram"]: r for r in C.collocations(df, top_k=10, min_count=5).collect()}
    n_tot = 22.0  # 11 bigram positions per doc
    ny = rows["new york"]
    assert ny["n_pair"] == 6 and ny["n_left"] == 6 and ny["n_right"] == 6
    assert math.isclose(ny["pmi"], round(math.log(6 * n_tot / 36), 9))
    assert rows["new york"]["pmi"] == rows["of the"]["pmi"]  # symmetric corpus
    # rank deterministic: tie broken by bigram asc
    assert rows["new york"]["rnk"] < rows["of the"]["rnk"]


def test_bpe_train_learns_frequent_pairs_first(spark):
    # words: "abab" ×3, "abc" ×2 → chars: "a b a b"(3), "a b c"(2)
    # merge 1: (a,b) count 3+3+2=8 → "ab"; then "ab ab"(3), "ab c"(2)
    # merge 2: (ab,ab) count 3 → "abab"; merge 3: (ab,c) count 2
    df = spark.createDataFrame(
        [(1, "abab abab abab abc abc", "s")], DOCS
    )
    got = [
        (r["merge_rank"], r["pair"], r["merged"], r["n"])
        for r in C.bpe_train(df, num_merges=5, min_count=2)
        .orderBy("merge_rank")
        .collect()
    ]
    assert got == [
        (1, "a b", "ab", 8),
        (2, "ab ab", "abab", 3),
        (3, "ab c", "abc", 2),
    ]


def test_bpe_encode_applies_learned_merges(spark):
    df = spark.createDataFrame(
        [(1, "abab abab abab abc abc", "s")], DOCS
    )
    merges = [
        (r["pair"].split(" ")[0], r["pair"].split(" ")[1])
        for r in C.bpe_train(df, num_merges=5, min_count=2)
        .orderBy("merge_rank")
        .collect()
    ]
    # merges: (a,b) -> ab; (ab,ab) -> abab; (ab,c) -> abc
    row = C.bpe_encode(df, merges).collect()[0]
    # "abab" ×3 → 1 subword each; "abc" ×2 → 1 subword each
    assert row["n_words"] == 5 and row["n_subwords"] == 5
    # fewer merges → more subwords (monotone compression)
    row1 = C.bpe_encode(df, merges[:1]).collect()[0]
    assert row1["n_subwords"] > row["n_subwords"]
    # no merges → one subword per character
    row0 = C.bpe_encode(df, []).collect()[0]
    assert row0["n_subwords"] == sum(len(w) for w in "abab abab abab abc abc".split())


def test_bpe_handles_regex_special_symbols(spark):
    # tokens containing regex metacharacters must merge literally
    df = spark.createDataFrame([(1, "$a $a $a", "s")], DOCS)
    merges = [
        (r["pair"].split(" ")[0], r["pair"].split(" ")[1])
        for r in C.bpe_train(df, num_merges=2, min_count=2)
        .orderBy("merge_rank")
        .collect()
    ]
    assert merges and merges[0] == ("$", "a")
    row = C.bpe_encode(df, merges).collect()[0]
    assert row["n_words"] == 3 and row["n_subwords"] == 3  # "$a" one subword


def test_bpe_batched_training_matches_sequential(spark):
    """batch>1 is an exact optimization: identical merge table to the
    batch=1 sequential trainer on real fixture text, with strictly
    fewer aggregation rounds (the driver round-trips VERDICT flagged)."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.corpus import (
        _bpe_train_rounds,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(200)
    seq, seq_rounds = _bpe_train_rounds(docs, "text", 12, 2, 1)
    bat, bat_rounds = _bpe_train_rounds(docs, "text", 12, 2, 16)
    assert bat == seq
    assert len(seq) == 12
    assert seq_rounds == 12 and bat_rounds < seq_rounds


def test_bpe_batched_interacting_pairs_defer(spark):
    # counts: (a,b)=8, (b,a)=3, (b,c)=2 — (b,a) and (b,c) interact
    # with the accepted (a,b), so round 1 must emit ONLY (a,b) and
    # later rounds pick up (ab,ab) / (ab,c) exactly as sequential
    df = spark.createDataFrame([(1, "abab abab abab abc abc", "s")], DOCS)
    got = [
        (r["merge_rank"], r["pair"], r["merged"], r["n"])
        for r in C.bpe_train(df, num_merges=5, min_count=2, batch=8)
        .orderBy("merge_rank")
        .collect()
    ]
    assert got == [
        (1, "a b", "ab", 8),
        (2, "ab ab", "abab", 3),
        (3, "ab c", "abc", 2),
    ]


def test_interpolated_nll_hand_computed(spark):
    import math

    train = spark.createDataFrame([(0, "a b c a b c", "s")], DOCS)
    score = spark.createDataFrame(
        [
            (1, "a b c", "s"),  # trigram seen: every order contributes
            (5, "x y z", "s"),  # full OOV: only the uniform floor
        ],
        DOCS,
    )
    rows = {
        r["doc_id"]: r for r in C.interpolated_nll(score, train).collect()
    }
    n = 6.0  # train tokens
    # doc 1, trigram "a b c": c3/cctx=2/2, c2("b c")/c1("b")=2/2, c1("c")/N=2/6
    p_seen = 0.5 * 1.0 + 0.3 * 1.0 + 0.19 * (2 / n) + 0.01 / n
    assert math.isclose(rows[1]["nll"], -math.log(p_seen), rel_tol=1e-9)
    # doc 5: all numerators unseen -> uniform floor only
    assert math.isclose(rows[5]["nll"], -math.log(0.01 / n), rel_tol=1e-9)
    assert rows[1]["nll"] < rows[5]["nll"]


def test_interpolated_vs_backoff_credits_lower_orders(spark):
    # A seen trigram under backoff scores c3/cctx alone; interpolation
    # mixes in the lower orders, so the two ladders rank differently
    # by construction — but both must be finite on full OOV.
    train = spark.createDataFrame([(0, "a b c a b c", "s")], DOCS)
    score = spark.createDataFrame([(1, "q r s", "s")], DOCS)
    bo = C.stupid_backoff_nll(score, train).collect()[0]["nll"]
    jm = C.interpolated_nll(score, train).collect()[0]["nll"]
    import math

    assert math.isfinite(bo) and math.isfinite(jm)
    # the JM uniform floor (0.01/N) is harsher than backoff's a^2/N
    assert jm > bo


def test_interpolated_nll_partition_invariant(spark):
    rows = [(i, f"alpha beta gamma delta tok{i % 7} beta gamma", "s") for i in range(30)]
    df = spark.createDataFrame(rows, DOCS)
    tr = df.filter("doc_id % 2 = 1")
    sc = df.filter("doc_id % 2 = 0")
    a = sorted(map(tuple, C.interpolated_nll(sc.repartition(2), tr.repartition(3)).collect()))
    b = sorted(map(tuple, C.interpolated_nll(sc.repartition(13), tr.repartition(1)).collect()))
    assert a == b


def test_dsir_weights_favor_target_distribution(spark):
    from pyspark.sql import functions as F
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.corpus import (
        dsir_weights,
    )

    rows = []
    for i in range(20):
        rows.append((i, "the quick brown fox jumps over dogs", "en"))
    for i in range(20, 40):
        rows.append((i, "el rapido zorro marron salta perros", "es"))
    # held-out docs of each style, labeled neutrally
    rows.append((100, "quick brown fox jumps", "xx"))
    rows.append((101, "rapido zorro marron salta", "xx"))
    df = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    out = {
        r["doc_id"]: r["weight"]
        for r in dsir_weights(df, is_target=F.col("lang") == "en").collect()
    }
    # en-styled held-out doc scores above the es-styled one
    assert out[100] > out[101]
    # and the target slice itself scores above the off-target slice
    assert min(out[i] for i in range(20)) > max(out[i] for i in range(20, 40))


def test_dsir_weights_partition_invariant(spark):
    from pyspark.sql import functions as F
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.corpus import (
        dsir_weights,
    )

    rows = [
        (i, " ".join(f"w{(i * j) % 50}" for j in range(1, 12)),
         "en" if i % 3 == 0 else "es")
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    tgt = F.col("lang") == "en"
    a = sorted(map(tuple, dsir_weights(df.repartition(2), tgt).collect()))
    b = sorted(map(tuple, dsir_weights(df.repartition(19), tgt).collect()))
    assert a == b


def test_bpe_frozen_artifact_preconditions(spark):
    """BPE_MERGES_V1's full-oracle replay (plans/extensions.py) uses a
    two-pass CONSUMING rewrite in DuckDB (RE2 has no lookbehind) while
    Spark keeps the one-pass lookaround chain; the two agree exactly
    iff every pair has a != b (no self-overlapping merge sites) and
    symbols are regex-inert. Pin both preconditions, and pin the
    equivalence on the adversarial consecutive-site run the consuming
    form handles in its second pass."""
    import re

    from cloud_based_bi_etl_automation_for_real_estate_company_spark.plans.extensions import (
        BPE_MERGES_V1,
    )

    for a, b in BPE_MERGES_V1:
        assert a != b, (a, b)
        assert re.fullmatch(r"[a-z0-9]+", a) and re.fullmatch(r"[a-z0-9]+", b)
    # consecutive sites: "erer..." — pass 1 of a consuming rewrite
    # merges alternating sites only; the lookaround chain merges all.
    # bpe_encode (lookaround) must yield the fully-merged count that
    # the oracle's two passes also reach.
    df = spark.createDataFrame([(1, "erererer dd", "s")], DOCS)
    row = C.bpe_encode(df, [("e", "r")]).collect()[0]
    assert row["n_words"] == 2
    assert row["n_subwords"] == 4 + 2  # er×4 + d,d


def test_bpe_frozen_artifact_matches_sf001_trainer(spark):
    """The shipped artifact is bpe_train's sf0.01 output; on sf0.001
    the learned SET of merges matches (rank order differs with corpus
    statistics — that's why the artifact is frozen, not retrained)."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.plans.extensions import (
        BPE_MERGES_V1,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    learned = {
        tuple(r["pair"].split(" "))
        for r in C.bpe_train(docs, num_merges=10, min_count=2).collect()
    }
    assert learned == set(BPE_MERGES_V1)


def test_cluster_split_is_leakage_safe(spark):
    """Round-9: every near-dup pair must land in ONE split (the whole
    point), chains included — doc 79 pulls docs 80/81 into 'train'
    because the cluster keys by its min id (79 % 100 < 80), while a
    per-doc modulus would have put them in 'val'. Singletons key by
    their own id."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.corpus import (
        cluster_split,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in (79, 80, 81, 85, 95, 3)],
        "doc_id bigint, text string",
    )
    # chain 79-80-81 (diameter 2), pair (85, 95), singleton 3
    pairs = spark.createDataFrame(
        [(79, 80), (80, 81), (85, 95)], "id_a bigint, id_b bigint"
    )
    out = {r["doc_id"]: r for r in cluster_split(docs, pairs).collect()}
    assert {out[i]["split"] for i in (79, 80, 81)} == {"train"}
    assert {out[i]["cluster_id"] for i in (79, 80, 81)} == {79}
    assert out[85]["split"] == out[95]["split"] == "val"
    assert out[3]["cluster_id"] == 3 and out[3]["split"] == "train"
    # no pair straddles splits — assert directly over the edge list
    sp = cluster_split(docs, pairs).select("doc_id", "split")
    a = sp.withColumnRenamed("doc_id", "id_a").withColumnRenamed(
        "split", "sa"
    )
    b = sp.withColumnRenamed("doc_id", "id_b").withColumnRenamed(
        "split", "sb"
    )
    straddle = pairs.join(a, "id_a").join(b, "id_b").filter("sa <> sb")
    assert straddle.count() == 0


def test_bm25_hand_computed(spark):
    # Corpus engineered so "b c" is the unambiguous top bigram (3
    # occurrences) and the remaining bigrams tie at 1 — lexicographic
    # tie-break picks them deterministically. n_queries=1 isolates
    # the "b c" query for a hand-computed check.
    df = spark.createDataFrame(
        [
            (1, "b c b c", "s"),  # tf(b)=2, tf(c)=2, dl=4
            (2, "b c x", "s"),    # tf(b)=1, tf(c)=1, dl=3
            (3, "x y z", "s"),    # no query terms
        ],
        DOCS,
    )
    out = C.bm25_topk(df, n_queries=1, k=3).collect()
    # only docs 1 and 2 contain b/c → 2 result rows for the 1 query
    assert all(r["query"] == "b c" for r in out)
    assert [r["doc_id"] for r in out] == [1, 2]
    assert [r["rnk"] for r in out] == [1, 2]

    import math

    n, sum_dl = 3, 10
    avgdl = sum_dl / n

    def per_term(tf, dfreq, dl):
        idf = math.log((n - dfreq + 0.5) / (dfreq + 0.5) + 1.0)
        return round(
            idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl))),
            12,
        )

    # doc 1: b and c each tf=2, df=2, dl=4 — score is the 2-term sum
    want1 = per_term(2, 2, 4) + per_term(2, 2, 4)
    got1 = [r["score"] for r in out if r["doc_id"] == 1][0]
    assert math.isclose(got1, want1, rel_tol=1e-9)
    # ranking: doc 1 (higher tf, shorter-normalized) beats doc 2
    got2 = [r["score"] for r in out if r["doc_id"] == 2][0]
    assert got1 > got2


def test_bm25_k_caps_and_tie_break(spark):
    # Two docs with IDENTICAL text tie exactly on score — rank must
    # break by doc_id ascending, and k=1 keeps only the smaller id.
    df = spark.createDataFrame(
        [(5, "p q", "s"), (4, "p q", "s"), (9, "p q r", "s")],
        DOCS,
    )
    out = C.bm25_topk(df, n_queries=1, k=1).collect()
    assert len(out) == 1
    assert out[0]["doc_id"] == 4 and out[0]["rnk"] == 1


def test_bm25_external_queries(spark):
    """The externalized query path (round 12): a caller-supplied query
    DataFrame drives retrieval; a repeated query term contributes per
    occurrence (query-side tf weighting), and multi-word queries span
    any number of terms (the corpus-bigram default is always 2)."""
    df = spark.createDataFrame(
        [(1, "a b c d", "s"), (2, "a a x y", "s"), (3, "x y z w", "s")],
        DOCS,
    )
    q = spark.createDataFrame([("a",), ("a b c",)], "query string")
    out = C.bm25_topk(df, queries=q, k=3).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query"], []).append(r["doc_id"])
    # "a" matches docs 1 and 2; "a b c" matches 1 (all terms) and 2 (a)
    assert by_q["a"] == [2, 1] or by_q["a"] == [1, 2]
    assert set(by_q["a b c"]) == {1, 2}
    # 3-term query: doc 1's score must be a 3-term sum > doc 2's 1-term
    s = {(r["query"], r["doc_id"]): r["score"] for r in out}
    assert s[("a b c", 1)] > s[("a b c", 2)]
    # repeated-term query doubles the per-term contribution
    q2 = spark.createDataFrame([("a a",), ("a",)], "query string")
    s2 = {
        (r["query"], r["doc_id"]): r["score"]
        for r in C.bm25_topk(df, queries=q2, k=3).collect()
    }
    import math

    assert math.isclose(
        s2[("a a", 1)], 2 * s2[("a", 1)], rel_tol=1e-9
    )


def test_bm25_store_matches_one_shot_and_survives_compaction(spark, tmp_path):
    """Incremental-postings contract (round 12): a corpus ingested in
    two batches through bm25_index_append must retrieve EXACTLY what
    the one-shot bm25_topk retrieves, and compact_bm25_store must not
    change a single row (row-set-identical rewrite)."""
    rows = [
        (i, f"w{i % 7} w{(i * 3) % 7} common term w{i % 5}", "s")
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, DOCS)
    store = str(tmp_path / "bm25_store")
    C.bm25_index_append(df.filter("doc_id % 2 = 0"), store)
    C.bm25_index_append(df.filter("doc_id % 2 = 1"), store)
    queries = C.corpus_bigram_queries(df, n_queries=3)
    want = sorted(
        map(tuple, C.bm25_topk(df, n_queries=3).collect())
    )
    got = sorted(
        map(tuple, C.bm25_query_store(spark, store, queries).collect())
    )
    assert got == want
    C.compact_bm25_store(spark, store)
    after = sorted(
        map(tuple, C.bm25_query_store(spark, store, queries).collect())
    )
    assert after == want
    # compaction rewrote the layout, not the rows
    import os

    assert os.readlink(f"{store}/postings") == ".postings-gen-1"


def test_more_like_this_hand_computed(spark):
    """Sparse TF-IDF cosine MLT (round 12): identical-content sibling
    scores cosine 1 at rank 1; partial-overlap docs rank by the exact
    weight arithmetic; docs sharing ONLY a hot term (df > N/2) never
    pair. Expected values recomputed in-test with the same 12-dp
    rounding the operator applies."""
    import math

    rows = [
        (10, "x y z", "s"),
        (11, "x y z", "s"),
        (12, "x y", "s"),
        (13, "z w", "s"),
        # filler: unique terms, so x/y stay under the df <= N/2 bound
        (20, "f1", "s"), (21, "f2", "s"), (22, "f3", "s"), (23, "f4", "s"),
    ]
    df = spark.createDataFrame(rows, DOCS)
    q = spark.createDataFrame([(10,)], "doc_id bigint")
    out = C.more_like_this(df, q, k=3).collect()
    assert [r["doc_id"] for r in out] == [11, 12, 13]
    assert [r["rnk"] for r in out] == [1, 2, 3]

    n = 8
    wx = math.log(n / 3)  # x, y: df 3 (docs 10, 11, 12)
    wz = math.log(n / 3)  # z: df 3 (docs 10, 11, 13)
    ww = math.log(n / 1)  # w: df 1
    r12 = lambda v: round(v, 12)
    n2_q = r12(wx * wx) + r12(wx * wx) + r12(wz * wz)
    cos11 = (r12(wx * wx) + r12(wx * wx) + r12(wz * wz)) / math.sqrt(
        n2_q * n2_q
    )
    n2_12 = r12(wx * wx) + r12(wx * wx)
    cos12 = (r12(wx * wx) + r12(wx * wx)) / math.sqrt(n2_q * n2_12)
    n2_13 = r12(wz * wz) + r12(ww * ww)
    cos13 = r12(wz * wz) / math.sqrt(n2_q * n2_13)
    got = {r["doc_id"]: r["cosine"] for r in out}
    assert math.isclose(got[11], cos11, rel_tol=1e-9) and got[11] == 1.0
    assert math.isclose(got[12], cos12, rel_tol=1e-9)
    assert math.isclose(got[13], cos13, rel_tol=1e-9)


def test_more_like_this_hot_term_bound(spark):
    """A term in more than max_df_frac of the corpus is excluded from
    the weight space entirely — docs sharing only it never pair (the
    skew bound: a stopword can't fan a query doc out to the corpus)."""
    rows = [
        (0, "a b", "s"),
        (1, "a c", "s"),   # shares only hot 'a' with doc 0
        (2, "a d", "s"),
        (3, "b e", "s"),   # shares kept 'b'
    ]
    df = spark.createDataFrame(rows, DOCS)
    q = spark.createDataFrame([(0,)], "doc_id bigint")
    out = C.more_like_this(df, q, k=4).collect()
    # 'a' has df 3 > 0.5*4 — only doc 3 (via 'b', df 2) pairs
    assert [r["doc_id"] for r in out] == [3]


def test_chunk_sentences_hand_computed(spark):
    """Greedy whole-sentence packing: a sentence joins the open chunk
    unless that would exceed the budget; an oversized sentence lands
    whole in its own chunk; no sentence is ever split."""
    rows = [
        (1, "One two three. Four five. Six seven eight nine. Ten."),
        (2, "No boundary here just words"),
        (3, ""),
        (4, "   "),
        (5, "A! B? C. D. E. F."),
        (6, "This single sentence is way too long for the budget ok."),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = C.chunk_sentences(df, max_tokens=5).collect()
    got = {
        (r["doc_id"], r["chunk_id"]): (
            r["n_sentences"], r["n_chunk_tokens"], r["chunk_text"]
        )
        for r in out
    }
    assert got == {
        # 3 + 2 fills the budget exactly; the 4-token sentence opens
        # chunk 1 and "Ten." (1) still fits there
        (1, 0): (2, 5, "One two three. Four five."),
        (1, 1): (2, 5, "Six seven eight nine. Ten."),
        # no boundary → one sentence → one chunk
        (2, 0): (1, 5, "No boundary here just words"),
        # 5 single-token sentences fill chunk 0; the 6th opens chunk 1
        (5, 0): (5, 5, "A! B? C. D. E."),
        (5, 1): (1, 1, "F."),
        # oversized single sentence: whole, own chunk, never split
        (6, 0): (1, 11, "This single sentence is way too long for the budget ok."),
    }
    # empty and whitespace-only docs emit no rows
    assert not any(r["doc_id"] in (3, 4) for r in out)


def test_chunk_sentences_reassembly_and_budget_properties(spark):
    """(a) Boundary preservation: joining a doc's chunk_texts in
    chunk order reproduces the sentence stream exactly — no token
    lost, duplicated, or reordered (the property chunk_documents'
    overlap intentionally breaks). (b) Budget: every chunk is within
    max_tokens unless it holds a single oversized sentence."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(13)
    words = ["alpha", "beta", "gamma", "delta", "eps"]
    docs = []
    doc_sents: dict[int, list[str]] = {}
    for doc_id in range(40):
        sents = []
        for _ in range(rng.randint(1, 12)):
            n = rng.randint(1, 14)
            sents.append(
                " ".join(rng.choice(words) for _ in range(n))
                + rng.choice([".", "!", "?"])
            )
        doc_sents[doc_id] = sents
        docs.append((doc_id, " ".join(sents)))
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    B = 10

    def greedy(sents: list[str]) -> list[list[str]]:
        chunks: list[list[str]] = []
        fill = 0
        for s in sents:
            t = len(s.split(" "))
            if chunks and fill + t <= B:
                chunks[-1].append(s)
                fill += t
            else:
                chunks.append([s])
                fill = t
        return chunks

    out = C.chunk_sentences(df, max_tokens=B).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == {d for d, _ in docs}
    for doc_id, text in docs:
        chunks = sorted(by_doc[doc_id], key=lambda r: r["chunk_id"])
        assert [c["chunk_id"] for c in chunks] == list(range(len(chunks)))
        # boundary preservation — the full reassembly round-trips
        assert " ".join(c["chunk_text"] for c in chunks) == text
        # exact greedy agreement with an independent Python replay
        want = greedy(doc_sents[doc_id])
        assert [c["chunk_text"] for c in chunks] == [
            " ".join(w) for w in want
        ]
        assert [c["n_sentences"] for c in chunks] == [len(w) for w in want]
        for c in chunks:
            assert c["n_chunk_tokens"] == len(c["chunk_text"].split(" "))
            assert c["n_chunk_tokens"] <= B or c["n_sentences"] == 1
    # zero shuffle: the whole operator is map-side
    plan = (
        C.chunk_sentences(df, max_tokens=B)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_mlt_query_store_equals_one_shot(spark, tmp_path):
    """Round-13 parity pin: MLT scored from the incrementally built
    BM25 postings store (two appends) must rank AND score identically
    to one-shot more_like_this over the same corpus — postings are
    disjoint-by-doc additive, and the store's distinct-doc count
    equals the corpus count under the tokenizer convention (every
    doc, even empty-text, owns ≥1 posting)."""
    from pyspark.sql import functions as F

    rows = [
        (10, "x y z", "s"),
        (11, "x y z", "s"),
        (12, "x y", "s"),
        (13, "z w", "s"),
        (14, "", "s"),  # empty text → one ''-term posting, counted in N
        (20, "f1", "s"), (21, "f2", "s"), (22, "f3", "s"), (23, "f4", "s"),
    ]
    df = spark.createDataFrame(rows, DOCS)
    q = spark.createDataFrame([(10,), (13,)], "doc_id bigint")
    store = str(tmp_path / "mlt_store")
    C.bm25_index_append(df.filter(F.col("doc_id") % 2 == 0), store)
    C.bm25_index_append(df.filter(F.col("doc_id") % 2 == 1), store)
    want = sorted(map(tuple, C.more_like_this(df, q, k=3).collect()))
    got = sorted(
        map(tuple, C.mlt_query_store(spark, store, q, k=3).collect())
    )
    assert got == want and len(got) > 0
    # one store serves both retrieval surfaces: BM25 still reads it
    assert (
        C.bm25_query_store(
            spark, store, spark.createDataFrame([("x y",)], "query string")
        ).count()
        > 0
    )


def test_mlt_query_store_equals_one_shot_with_null_text(spark, tmp_path):
    """Round-14 ADVICE pin: a NULL-text doc owns NO posting
    (tokens(NULL) is NULL and explode drops the row), so it must be
    excluded from N on BOTH paths — more_like_this counts only
    text-bearing docs, matching the store's distinct-doc count. The
    pre-fix one-shot path counted NULL rows via count(*), diverging
    IDF from the store path on exactly this corpus."""
    from pyspark.sql import functions as F

    rows = [
        (10, "x y z", "s"),
        (11, "x y z", "s"),
        (12, "x y", "s"),
        (13, "z w", "s"),
        (14, None, "s"),  # NULL text → no posting, excluded from N
        (15, "", "s"),  # empty text → one ''-term posting, in N
        (20, "f1", "s"), (21, "f2", "s"), (22, "f3", "s"),
    ]
    df = spark.createDataFrame(rows, DOCS)
    q = spark.createDataFrame([(10,), (13,)], "doc_id bigint")
    store = str(tmp_path / "mlt_null")
    C.bm25_index_append(df.filter(F.col("doc_id") % 2 == 0), store)
    C.bm25_index_append(df.filter(F.col("doc_id") % 2 == 1), store)
    want = sorted(map(tuple, C.more_like_this(df, q, k=3).collect()))
    got = sorted(
        map(tuple, C.mlt_query_store(spark, store, q, k=3).collect())
    )
    assert got == want and len(got) > 0
    # N on both paths = the 8 text-bearing docs, not the 9 rows
    n_store = (
        spark.read.parquet(f"{store}/postings")
        .select("doc_id")
        .distinct()
        .count()
    )
    assert n_store == 8


def test_mlt_query_store_invariant_under_compaction(spark, tmp_path):
    """compact_bm25_store rewrites the postings row-identically, so
    store-backed MLT must return byte-identical results across a
    compaction (BM25 already pins this; MLT shares the store)."""
    rows = [
        (10, "x y z", "s"),
        (11, "x y z", "s"),
        (12, "x y", "s"),
        (13, "z w", "s"),
        (20, "f1", "s"), (21, "f2", "s"),
    ]
    df = spark.createDataFrame(rows, DOCS)
    q = spark.createDataFrame([(10,)], "doc_id bigint")
    store = str(tmp_path / "mlt_c")
    C.bm25_index_append(df, store)
    before = sorted(map(tuple, C.mlt_query_store(spark, store, q).collect()))
    C.compact_bm25_store(spark, store)
    after = sorted(map(tuple, C.mlt_query_store(spark, store, q).collect()))
    assert before == after and len(before) > 0


def test_bm25_plan_has_no_cartesian(spark):
    df = spark.createDataFrame(
        [(1, "a b a b", "s"), (2, "a b c", "s")], DOCS
    )
    plan = C.bm25_topk(df)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # the scalar/query-side joins must all broadcast
    assert "BroadcastNestedLoopJoin LeftOuter" not in plan
    # top-k must run as the two-phase WindowGroupLimit (partial per
    # task before the exchange, final after) — hot-term postings
    # shuffle at most k rows per task per query
    assert plan.count("WindowGroupLimit") == 2


def test_doc_keyphrases_hand_computed(spark):
    import math

    # "rare" (df=1) must outrank "the" (df=3, idf=0) in doc 3; ties
    # at idf 0 break by term ascending
    df = spark.createDataFrame(
        [
            (1, "the cat", "s"),
            (2, "the dog", "s"),
            (3, "the rare rare gem", "s"),
        ],
        DOCS,
    )
    out = C.doc_keyphrases(df, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append((r["rnk"], r["term"], r["score"]))
    top3 = sorted(by_doc[3])
    # doc 3: rare (tf=2, df=1 -> 2·ln3), gem (tf=1, df=1 -> ln3), the (0)
    assert top3[0][1] == "rare"
    assert math.isclose(top3[0][2], round(2 * math.log(3), 12), rel_tol=1e-12)
    assert top3[1][1] == "gem"
    # doc 1: both terms of doc 1 -> cat (ln 3) then the (0)
    assert [t for _, t, _ in sorted(by_doc[1])] == ["cat", "the"]
    assert all(len(v) <= 2 for v in by_doc.values())


def test_doc_keyphrases_two_phase_topk_plan(spark):
    df = spark.createDataFrame([(1, "a b c", "s"), (2, "b c d", "s")], DOCS)
    plan = C.doc_keyphrases(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("WindowGroupLimit") == 2
    assert "CartesianProduct" not in plan


def test_js_divergence_identical_and_disjoint(spark):
    import math

    # identical distributions -> JS = 0; disjoint vocab -> JS = ln 2
    df_same = spark.createDataFrame(
        [(1, "a b", "s1"), (2, "a b", "s2")], DOCS
    )
    rows = {
        r["source"]: r["js_divergence"]
        for r in C.js_divergence_by_group(df_same).collect()
    }
    assert all(abs(v) < 1e-12 for v in rows.values())

    df_disj = spark.createDataFrame(
        [(1, "a a b", "s1"), (2, "x y z", "s2")], DOCS
    )
    rows = {
        r["source"]: r["js_divergence"]
        for r in C.js_divergence_by_group(df_disj).collect()
    }
    assert all(math.isclose(v, math.log(2.0), rel_tol=1e-9) for v in rows.values())


def test_js_divergence_matches_scipy_style_reference(spark):
    import math
    from collections import Counter

    docs = [
        (1, "a a b c", "s1"),
        (2, "b c c d", "s1"),
        (3, "a d d e e", "s2"),
        (4, "c e f", "s2"),
        (5, "f f a b", "s3"),
    ]
    df = spark.createDataFrame(docs, DOCS)
    got = {
        r["source"]: (r["n_tokens"], r["js_divergence"])
        for r in C.js_divergence_by_group(df).collect()
    }

    all_counts = Counter()
    per = {}
    for _, text, src in docs:
        c = Counter(text.split())
        per.setdefault(src, Counter()).update(c)
        all_counts.update(c)

    def js(pc, qc):
        np_, nq = sum(pc.values()), sum(qc.values())
        out = 0.0
        for t in set(pc) | set(qc):
            p = pc[t] / np_
            q = qc[t] / nq
            m = (p + q) / 2
            if p:
                out += 0.5 * p * math.log(p / m)
            if q:
                out += 0.5 * q * math.log(q / m)
        return out

    for src, cnt in per.items():
        rest = all_counts - cnt
        want = js(cnt, rest)
        assert math.isclose(got[src][1], want, rel_tol=1e-9), src
        assert got[src][0] == sum(cnt.values())
