"""Frame lifetimes (operators.cacheutil): every materialized frame is
pinned, replaced and released through one owner.

- the ``Frames`` scope frees what it holds on exit (error path too),
  ``replaces=`` frees the last round only after the next one
  materialized, ``attach``/``release`` hand a result's pins to the
  caller;
- leak regression: each converted operator, run on a small input and
  collected, leaves no RDD it persisted behind once ``release(result)``
  ran, and neither does the bench runner's step over a builder. Every
  frame a checkpoint returns stays referenced until the assertion (the
  ``pins`` fixture), so JVM GC cannot unpersist a leaked checkpoint
  first and a leak always fails; GC can only remove persisted RDDs, so
  a run that frees its pins always passes;
- guard: outside cacheutil.py the package never persists/unpersists,
  never calls ``localCheckpoint()`` without an explicit ``eager=``, and
  never takes a name from cacheutil that it does not define.
"""

from __future__ import annotations

import ast
import pathlib

import pytest
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame

from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators import (
    cacheutil,
)
from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.cacheutil import (
    Frames,
    release,
)

PKG = (
    pathlib.Path(__file__).resolve().parent.parent
    / "cloud_based_bi_etl_automation_for_real_estate_company_spark"
)


def _persisted(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


@pytest.fixture
def pins(monkeypatch) -> list:
    """Every frame ``localCheckpoint`` returns during the test, held
    until the test ends."""
    held = []
    checkpoint = DataFrame.localCheckpoint

    def held_checkpoint(self, *args, **kwargs):
        held.append(checkpoint(self, *args, **kwargs))
        return held[-1]

    monkeypatch.setattr(DataFrame, "localCheckpoint", held_checkpoint)
    return held


def _is_persisted(spark, df) -> bool:
    rdd_id = df._jdf.queryExecution().analyzed().rdd().id()
    return spark.sparkContext._jsc.getPersistentRDDs().containsKey(rdd_id)


def test_scope_frees_blocks_and_release_tolerates_noncheckpoint(spark):
    """Leaving the scope drops a pinned frame's blocks; release on None
    or on a plain (non-checkpointed) frame is a harmless no-op."""
    df = spark.range(1000).withColumn("v", F.col("id") * 2)
    with Frames() as frames:
        ck = frames.pin(df, eager=True)
        assert ck.count() == 1000
        assert _is_persisted(spark, ck)
    assert not _is_persisted(spark, ck)
    # independent computation is unaffected
    assert df.count() == 1000
    release(None)
    release(df)


def test_scope_frees_on_error_path(spark):
    df = spark.range(10)
    with pytest.raises(RuntimeError):
        with Frames() as frames:
            ck = frames.pin(df, eager=True)
            raise RuntimeError("boom")
    assert not _is_persisted(spark, ck)


def test_replaces_frees_after_materializing_and_needs_eager(spark):
    with Frames() as frames:
        a = frames.pin(spark.range(10), eager=True)
        b = frames.pin(a.withColumn("x", F.col("id") + 1), eager=True, replaces=(a,))
        assert not _is_persisted(spark, a)
        assert _is_persisted(spark, b)
        assert b.agg(F.sum("x")).collect()[0][0] == 55
        with pytest.raises(ValueError):
            frames.pin(b, eager=False, replaces=(b,))
        # a frame another scope holds is left alone
        with Frames() as other:
            outside = other.pin(spark.range(5), eager=True)
            frames.pin(b, eager=True, replaces=(outside, None))
            assert _is_persisted(spark, outside)
        assert not _is_persisted(spark, outside)


def test_attach_hands_pins_to_the_result_and_own_takes_them_back(spark):
    with Frames() as frames:
        ck = frames.pin(spark.range(10), eager=True)
        result = frames.attach(ck.filter(F.col("id") > 4), ck)
        with pytest.raises(ValueError):
            frames.attach(result, spark.range(3))
    assert _is_persisted(spark, ck)  # outlived its scope
    assert result.count() == 5
    release(result)
    assert not _is_persisted(spark, ck)
    with Frames() as frames:
        ck2 = frames.pin(spark.range(10), eager=True)
        result2 = frames.attach(ck2)
    with Frames() as caller:
        caller.own(result2)
        assert _is_persisted(spark, ck2)
    assert not _is_persisted(spark, ck2)
    release(result2)  # nothing left: no-op


def _edges(spark):
    # a triangle with a tail plus a 4-path: several peel/contract rounds
    return spark.createDataFrame(
        [(0, 1, 1), (1, 2, 1), (2, 0, 1), (2, 3, 1), (3, 4, 1),
         (10, 11, 1), (11, 12, 1), (12, 13, 1), (13, 14, 1)],
        "src bigint, dst bigint, w bigint",
    )


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "a completely different sentence about spark"),
            (4, "a completely different sentence about spark jobs"),
            (5, "banana bandana banana"),
        ],
        "doc_id bigint, text string",
    )


def _vectors(spark, n=40, dim=6):
    import random

    rng = random.Random(7)
    return spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(n)],
        "vec_id bigint, embedding array<double>",
    )


def _run_label_propagation(spark):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.graph import (
        label_propagation,
    )

    return label_propagation(_edges(spark), iterations=4)


def _run_kcore(spark):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.graph import (
        kcore,
    )

    return kcore(_edges(spark), k=2, local_finish_max_edges=0)


def _run_cc_star(spark):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.dedup import (
        connected_components_star,
    )

    return connected_components_star(
        _edges(spark), src="src", dst="dst", local_finish_max_edges=0
    )


def _run_kmeans(spark):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.similarity import (
        kmeans_centroids,
    )

    return kmeans_centroids(_vectors(spark), k=3, iters=3)


def _run_power_iteration(spark):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.similarity import (
        power_iteration_top,
    )

    return power_iteration_top(_vectors(spark), dims=6, iters=6)


def _run_bpe(spark):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.corpus import (
        _bpe_train_rounds,
    )

    merges, rounds = _bpe_train_rounds(_docs(spark), "text", 3, 1, 1)
    assert rounds >= 3
    return None  # driver-side merge table: nothing to collect


def _run_suffix_ranks(spark):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.suffixes import (
        suffix_ranks,
    )

    return suffix_ranks(_docs(spark), max_chars=12)


def _run_suffix_ranks_history(spark):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.suffixes import (
        suffix_ranks,
    )

    final, hist = suffix_ranks(_docs(spark), keep_history=True)
    assert len(hist) > 1
    for _, level in hist:
        level.collect()
    return final


def _run_nsw_topk(spark):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.similarity import (
        nsw_topk,
    )

    # 300 nodes: layer 0 is above the builder's exact_threshold (256),
    # so the graph build runs the LSH seed + NN-descent rounds too
    e = _vectors(spark, n=300, dim=16)  # sign-LSH reads 12 dims
    return nsw_topk(e, e.filter(F.col("vec_id") < 3), k=3, M=3, iters=1, hops=2)


def _run_minhash_estimate_pairs(spark):
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.dedup import (
        minhash_estimate_pairs,
    )

    return minhash_estimate_pairs(_docs(spark))


LEAK_CASES = {
    "label_propagation": _run_label_propagation,
    "kcore": _run_kcore,
    "connected_components_star": _run_cc_star,
    "kmeans_centroids": _run_kmeans,
    "power_iteration_top": _run_power_iteration,
    "bpe_train_rounds": _run_bpe,
    "suffix_ranks": _run_suffix_ranks,
    "suffix_ranks_keep_history": _run_suffix_ranks_history,
    "nsw_topk": _run_nsw_topk,
    "minhash_estimate_pairs": _run_minhash_estimate_pairs,
}


@pytest.mark.parametrize("name", sorted(LEAK_CASES))
def test_operator_leaves_no_persisted_rdds(spark, pins, name):
    before = _persisted(spark)
    result = LEAK_CASES[name](spark)
    if result is not None:
        result.collect()
    release(result)
    assert pins
    assert not _persisted(spark) - before


def test_drift_gated_drain_frees_per_batch_pins(spark, pins, tmp_path):
    """The admission gate's per-batch step over three batches: pin the
    batch, score it with psi_admit, chi2_admit, ks_admit and w1_admit,
    and own their score rows in the batch's scope. Nothing stays
    persisted, though every score frame is still referenced: only an
    explicit free, not JVM GC, can pass the check."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.quality import (
        chi2_admit,
        ks_admit,
        psi_admit,
        w1_admit,
    )

    store = str(tmp_path / "store")
    before = _persisted(spark)
    scores = []
    for b in range(3):
        batch = spark.createDataFrame(
            [(b * 10 + i, i * 410 + 100, "en" if i % 3 else "de") for i in range(10)],
            "doc_id bigint, n_chars bigint, lang string",
        )
        with Frames() as frames:
            pinned = frames.pin(batch, eager=True)
            scores += [
                frames.own(psi_admit(pinned, f"{store}/psi")),
                frames.own(chi2_admit(pinned, f"{store}/chi2")),
                frames.own(ks_admit(pinned, f"{store}/ks")),
                frames.own(w1_admit(pinned, f"{store}/w1", threshold=500.0)),
            ]
            for score in scores[-4:]:
                score.collect()
    assert not _persisted(spark) - before


def test_drift_dashboard_batches_free_count_pins(spark, pins, tmp_path):
    """Three incremental drift-dashboard batches publish their panels
    and leave no checkpoint of the count spine behind: the panels'
    ``counts`` pins are owned by the refresh and freed after publish.
    Every batch, its panels and every pin stay referenced until the
    check."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.streaming.pipeline import (
        drift_dashboard_batch,
    )

    gold = str(tmp_path / "gold")
    before = _persisted(spark)
    held = []
    for b in range(3):
        batch = spark.createDataFrame(
            [
                (b * 100 + i, f"2024-0{b + 1}-0{i % 7 + 1} 00:00:00", i,
                 "view" if i % 2 else "click", float(i % 13))
                for i in range(40)
            ],
            "event_id bigint, ts string, user_id bigint, event_type string, "
            "value double",
        ).withColumn("ts", F.to_timestamp("ts"))
        out = drift_dashboard_batch(spark, batch, b, gold)
        assert out["drift_panel"].count() > 0 and out["mix_panel"].count() > 0
        held.append((batch, out))
    assert pins
    assert not _persisted(spark) - before


def test_refresh_gold_frees_its_snapshot_pin(spark, pins, webhook_corpus, tmp_path):
    """``refresh_gold`` pins the lead snapshot once and publishes every
    table from it; the pin is freed before it returns. Every returned
    frame and the pin stay referenced until the check."""
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.jobs import (
        refresh_gold,
    )
    from cloud_based_bi_etl_automation_for_real_estate_company_spark.sources.webhook import (
        ingest_batch,
    )

    path, _ = webhook_corpus
    silver = str(tmp_path / "silver")
    ingest_batch(spark, path, silver)
    before = _persisted(spark)
    out = refresh_gold(spark, silver, str(tmp_path / "gold"))
    for df in out.values():
        df.collect()
    assert pins
    assert _persisted(spark) == before


def test_bench_runner_releases_the_builders_pins(spark, pins):
    """``bench.time_leg`` (the HEADLINE loop's step) releases what the
    builder's result still holds: x_label_prop attaches its last
    label checkpoint to the result it returns."""
    import __spark_entry__
    import bench

    before = _persisted(spark)
    _, rows = bench.time_leg(
        __spark_entry__.queries()["x_label_prop"], spark, "/root/testdata/sf0.001"
    )
    assert rows > 0 and pins
    assert len(_persisted(spark)) == len(before)


SURFACE = {n for n in dir(cacheutil) if not n.startswith("__")}

# The (module, top-level def) sites in operators/ that still call
# localCheckpoint directly instead of pinning through a Frames scope,
# each with what it pins. Moving a site to Frames removes its entry;
# no site may be added.
BARE_CHECKPOINTS = {
    ("corpus", "js_divergence_by_group"): "(group, term) counts read four times",
    ("corpus", "mixture_sample"): "the internally built mixture table",
    ("dedup", "compact_soft_store"): "live signatures read by the relabel pass",
    ("dedup", "incremental_minhash_dedup"): "batch signatures; the flagged batch",
    ("dedup", "incremental_paragraph_dedup"): "survivor set and output the sink sees",
    ("dedup", "prefix_filter_pairs"): "token set and prefix set, each multi-read",
    ("dedup", "soft_dedup_admit"): "signatures, components and the assignment",
    ("graph", "copurchase_lift"): "cap-bounded baskets read twice",
    ("graph", "pagerank"): "node set and weighted edges of the loop",
    ("graph", "triangles"): "the two fan-out points of the triangle plan",
    ("ml", "logreg_train"): "training rows re-read by every gradient step",
    ("similarity", "_select_neighbors_heuristic"): "trimmed candidate edges",
    ("timeseries", "acf_integer"): "centered series read three times",
    ("timeseries", "seasonal_decompose_daily"): "full 7-day windows read twice",
    ("timeseries", "theil_sen_slope"): "bucket-grain input read three times",
    ("timeseries", "xcorr_integer"): "centered pair read three times",
}


def _bare_checkpoints(src: str, module: str) -> set[tuple[str, str]]:
    """(module, top-level def) of every direct localCheckpoint call."""
    return {
        (module, top.name)
        for top in ast.parse(src).body
        for node in ast.walk(top)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "localCheckpoint"
    }


def _violations(src: str, name: str) -> list[str]:
    """Lifetime calls that bypass cacheutil, and names taken from
    cacheutil that it does not define (the removed helpers included)."""
    out = []
    for node in ast.walk(ast.parse(src, name)):
        where = f"{name}:{getattr(node, 'lineno', 0)}"
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute):
            attr = node.func.attr
            if attr in ("persist", "unpersist"):
                out.append(f"{where} .{attr}(")
            if attr == "localCheckpoint" and not any(
                k.arg == "eager" for k in node.keywords
            ):
                out.append(f"{where} localCheckpoint() without eager=")
        if isinstance(node, ast.ImportFrom) and (node.module or "").endswith(
            "cacheutil"
        ):
            out += [
                f"{where} imports {a.name}"
                for a in node.names
                if a.name not in SURFACE
            ]
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id == "cacheutil"
            and node.attr not in SURFACE
        ):
            out.append(f"{where} uses {node.attr}")
    return out


def test_frame_lifetimes_go_through_cacheutil():
    files = [p for p in sorted(PKG.rglob("*.py")) if p.name != "cacheutil.py"]
    assert len(files) > 20
    bad = [
        v
        for p in files
        for v in _violations(p.read_text(), str(p.relative_to(PKG.parent)))
    ]
    assert not bad, "\n".join(bad)
    bare = {
        site
        for p in sorted((PKG / "operators").glob("*.py"))
        if p.name != "cacheutil.py"
        for site in _bare_checkpoints(p.read_text(), p.stem)
    }
    assert bare == set(BARE_CHECKPOINTS), (
        f"unlisted: {sorted(bare - set(BARE_CHECKPOINTS))}; "
        f"gone (drop the entry): {sorted(set(BARE_CHECKPOINTS) - bare)}"
    )


def test_guard_catches_each_pattern():
    src = (
        "from .operators.cacheutil import Frames, forget_frames\n"
        "df.persist()\n"
        "df.unpersist()\n"
        "df.localCheckpoint()\n"
        "df.localCheckpoint(eager=True)\n"
        "cacheutil.release(df)\n"
        "cacheutil.drop_frames(df)\n"
    )
    found = sorted(v.split(" ", 1)[1] for v in _violations(src, "probe.py"))
    assert found == sorted([
        "imports forget_frames",
        ".persist(",
        ".unpersist(",
        "localCheckpoint() without eager=",
        "uses drop_frames",
    ])
