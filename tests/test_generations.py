"""One way to replace a table: a generation behind a symlink.

- The publisher (``operators.generations.publish``) keeps the current
  generation and the one before it, refuses a plain directory and a
  non-local URI before writing anything, and overwrites a crashed
  publish's leftover whole.
- Readers resolve the link before they list, so a frame built before a
  replacement reads its own generation after it: a ``read_live`` BM25
  frame across ``compact_bm25_store``, and queries run in a loop
  during the compaction.
- Link targets are relative, so a store moved whole still queries and
  compacts at its new path.
- An AST scan (no Spark) keeps every ``mode("overwrite")`` of the
  package at the allowed sites: an overwrite through a published path
  would replace the link with a plain directory.
"""

from __future__ import annotations

import ast
import collections
import os
import pathlib
import tempfile
import threading

import pytest
from conftest import SF_DIR
from pyspark.sql import functions as F

from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators import (
    stores,
)
from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.corpus import (
    bm25_delete_docs,
    bm25_index_append,
    bm25_query_store,
    compact_bm25_store,
    corpus_bigram_queries,
)
from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.generations import (
    publish,
)
from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.similarity import (
    brute_force_topk,
    compact_nsw_graph,
    nsw_build_graph,
    nsw_index_append,
    nsw_query_index,
    save_nsw_index,
)
from cloud_based_bi_etl_automation_for_real_estate_company_spark.session import (
    read_parquet,
)

PKG = (
    pathlib.Path(__file__).resolve().parent.parent
    / "cloud_based_bi_etl_automation_for_real_estate_company_spark"
)


def _hidden(parent) -> list[str]:
    return sorted(n for n in os.listdir(parent) if n.startswith("."))


# -- the publisher ------------------------------------------------------------


def test_three_publishes_leave_two_generations(spark, tmp_path):
    tbl = str(tmp_path / "t")
    for n in (10, 20, 30):
        publish(spark.range(n), tbl + "/")  # a trailing slash is the same table
    assert os.readlink(tbl) == ".t-gen-2"
    assert _hidden(tmp_path) == [".t-gen-1", ".t-gen-2"]
    assert read_parquet(spark, tbl).count() == 30


def test_publish_refuses_a_plain_directory_and_a_remote_uri(spark, tmp_path):
    plain = tmp_path / "plain"
    spark.range(3).write.parquet(str(plain))
    before = sorted(os.listdir(tmp_path)), sorted(os.listdir(plain))
    with pytest.raises(ValueError, match="plain directory"):
        publish(spark.range(5), str(plain))
    assert (sorted(os.listdir(tmp_path)), sorted(os.listdir(plain))) == before
    with pytest.raises(ValueError, match="not a local filesystem path"):
        publish(spark.range(5), f"hdfs://namenode:8020{tmp_path}/remote")
    assert sorted(os.listdir(tmp_path)) == before[0]


def test_a_crashed_publish_is_overwritten_whole(spark, tmp_path):
    tbl = str(tmp_path / "t")
    publish(spark.range(4), tbl)
    # a publish that wrote part of generation 1 and died before the flip
    spark.range(100, 107).write.parquet(str(tmp_path / ".t-gen-1"))
    assert read_parquet(spark, tbl).count() == 4
    publish(spark.range(2), tbl)
    assert os.readlink(tbl) == ".t-gen-1"
    assert sorted(r.id for r in read_parquet(spark, tbl).collect()) == [0, 1]


# -- readers across a replacement --------------------------------------------


def _docs(spark, n):
    return (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < n)
        .localCheckpoint(eager=True)
    )


def _rows(df):
    return sorted(
        tuple(round(v, 9) if isinstance(v, float) else v for v in r)
        for r in df.collect()
    )


def _live_postings(spark, store):
    return stores.read_live(
        spark, store, "postings", "doc_id",
        required="term string, tf bigint", required_names=("doc_id",),
    )


def test_a_store_frame_built_before_compaction_reads_after_it(spark, tmp_path):
    """List, replace, execute: the frame keeps reading the generations
    it resolved (postings and tombstones), which the compaction
    retains."""
    d = _docs(spark, 80)
    store = str(tmp_path / "bm25")
    bm25_index_append(d, store)
    bm25_delete_docs(d.filter(F.col("doc_id") % 5 == 0).select("doc_id"), store)
    want = _rows(_live_postings(spark, store))
    frame = _live_postings(spark, store)
    compact_bm25_store(spark, store)
    assert _rows(frame) == want and want
    assert os.readlink(f"{store}/postings") == ".postings-gen-1"
    assert os.readlink(f"{store}/tombstones") == ".tombstones-gen-1"
    assert not any(r[0] % 5 == 0 for r in want)
    assert _rows(_live_postings(spark, store)) == want


def test_queries_during_compaction_see_one_answer(spark, tmp_path):
    """Queries in a loop while another thread compacts: never an empty
    result, a deleted doc or a changed ranking."""
    d = _docs(spark, 120)
    store = str(tmp_path / "bm25")
    bm25_index_append(d.filter(F.col("doc_id") < 60), store)
    bm25_index_append(d.filter(F.col("doc_id") >= 60), store)
    deleted = d.filter(F.col("doc_id") % 7 == 0).select("doc_id")
    bm25_delete_docs(deleted, store)
    gone = {r.doc_id for r in deleted.collect()}
    q = corpus_bigram_queries(d.filter(F.col("doc_id") % 7 != 0)).limit(8)
    q = q.localCheckpoint(eager=True)
    first = bm25_query_store(spark, store, q, k=5)
    want = _rows(first)
    assert want and not {r["doc_id"] for r in first.collect()} & gone

    errors: list[BaseException] = []

    def run():
        try:
            compact_bm25_store(spark, store)
        except BaseException as e:  # re-raised on the test thread
            errors.append(e)

    compactor = threading.Thread(target=run)
    compactor.start()
    n = 0
    while compactor.is_alive() or n < 2:
        assert _rows(bm25_query_store(spark, store, q, k=5)) == want, n
        n += 1
    compactor.join(timeout=600)
    assert not compactor.is_alive()
    assert not errors, errors
    assert os.readlink(f"{store}/postings") == ".postings-gen-1"
    assert _rows(bm25_query_store(spark, store, q, k=5)) == want


def test_a_moved_store_queries_and_compacts(spark, tmp_path):
    """A store built in a staging directory and renamed whole keeps
    working at its new path: every link target is relative."""
    e = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .filter(F.col("vec_id") < 120)
        .localCheckpoint(eager=True)
    )
    even = e.filter(F.col("vec_id") % 2 == 0)
    staging = tempfile.mkdtemp(dir=tmp_path)
    save_nsw_index(even, nsw_build_graph(even), staging)
    nsw_index_append(e.filter(F.col("vec_id") % 2 == 1), staging)
    store = str(tmp_path / "moved")
    os.rename(staging, store)
    assert os.readlink(f"{store}/vectors") == ".vectors-gen-0"

    q = e.filter(F.col("vec_id") < 4)
    truth = {(r.q_id, r.vec_id) for r in brute_force_topk(e, q, k=5).collect()}

    def recall():
        got = {
            (r.q_id, r.vec_id)
            for r in nsw_query_index(spark, store, q, k=5).collect()
        }
        return len(got & truth) / len(truth)

    assert recall() >= 0.4
    compact_nsw_graph(spark, store)
    assert os.readlink(f"{store}/graph") == ".graph-gen-1"
    assert read_parquet(spark, f"{store}/vectors").count() == 120
    assert recall() >= 0.4


# -- one writer replaces a table ---------------------------------------------

# (module, top-level def) of each allowed mode("overwrite"): the
# publisher's generation write, silver's batch-owned partition
# overwrite, and the three curation outputs; plus the two writers whose
# mode is a parameter: the curation outputs' sorted layout and JDBC
OVERWRITE_SITES = [
    ("jobs", "run_curation_pipeline"),
    ("jobs", "run_curation_pipeline"),
    ("jobs", "run_curation_pipeline"),
    ("operators/generations", "publish"),
    ("operators/ranking", "sorted_write"),
    ("sources/sinks", "write_jdbc"),
    ("sources/webhook", "write_silver"),
]


def _overwrite_sites(src: str, module: str) -> list[tuple[str, str]]:
    """(module, top-level def) of every ``.mode(...)`` call that may
    overwrite: a literal ``"overwrite"`` or a mode that is not a
    literal."""
    return sorted(
        (module, getattr(top, "name", "<module>"))
        for top in ast.parse(src).body
        for node in ast.walk(top)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "mode"
        and node.args
        and (
            not isinstance(node.args[0], ast.Constant)
            or node.args[0].value == "overwrite"
        )
    )


def test_overwrite_is_called_only_at_the_allowed_sites():
    sites = collections.Counter(
        site
        for p in sorted(PKG.rglob("*.py"))
        for site in _overwrite_sites(
            p.read_text(), p.relative_to(PKG).with_suffix("").as_posix()
        )
    )
    assert sorted(sites.elements()) == OVERWRITE_SITES, sorted(sites.elements())


def test_overwrite_scan_finds_each_call():
    src = (
        "def f(df):\n    df.write.mode('overwrite').parquet('p')\n"
        "    df.write.mode(\n        'overwrite'\n    ).parquet('q')\n"
        "    df.write.mode('append').parquet('r')\n"
        "def g(df, mode):\n    df.write.mode(mode).parquet('s')\n"
        "x = d.write.mode('overwrite')\n"
    )
    assert _overwrite_sites(src, "m") == [
        ("m", "<module>"), ("m", "f"), ("m", "f"), ("m", "g")
    ]
