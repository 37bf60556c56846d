"""``dashboard`` workload: the BI read path, with the search index
written beside it.

One closed-loop client runs passes in a fixed order. A pass is what a
dashboard page refresh costs:

1. the store write step: append the next slice of documents to the
   BM25 postings store (``bm25_index_append``) and tombstone two live
   documents (``bm25_delete_docs``);
2. one tile per leg in ``LEGS`` (a subset of ``bench.HEADLINE``), each
   timed as builder call + ``collect()``, so every output column is
   computed and shipped to the client;
3. one search tile, ``bm25_query_store``, which reads the postings
   beside the tombstones just written.

Set-up writes seeded fixtures into a fresh directory of the run, builds
the postings store from half of ``documents`` (``STORE_BUILDS`` times
into fresh directories; the median build counts) and runs
``WARMUP_PASSES`` untimed passes.
"""

from __future__ import annotations

import glob
import math
import os
import statistics
import sys
import time
import traceback

import numpy as np

import datagen
from run import median
from spans import attribute_jobs, catalyst_ms, job_totals, parse_event_log, subtree_jobs

# Four HEADLINE legs, as many as the per-run time budget allows: a
# star join with eager construction jobs (l2), the BI rollup grid (a8),
# vector search (x_ann_bruteforce) and an iterative graph loop with
# many eager jobs (x_kcore).
LEGS = (
    "l2_revenue_by_nation",
    "a8_rollup_agent_table",
    "x_ann_bruteforce",
    "x_kcore",
)
WARMUP_PASSES = 1
MIN_TIMED_PASSES = 2
STORE_BUILDS = 3
APPEND_DOCS = 8  # documents appended to the store per pass
DELETE_DOCS = 2  # documents tombstoned per pass
N_TEXT_QUERIES = 10
TOP_K = 5
ROUND = 6

LAYER_PREFIXES = ("plans.", "leg.", "catalyst.", "exec.", "session.", "corpus.", "store.")


def canon(cols, rows) -> list[tuple]:
    """Order-insensitive canonical form of a result: columns sorted by
    name, doubles rounded, rows sorted (``scripts/check_oracle.py``)."""

    def c(v):
        if isinstance(v, float):
            return "nan" if math.isnan(v) else round(v, ROUND)
        return v

    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(c(r[i]) for i in idx) for r in rows), key=repr)


class Dashboard:
    def __init__(self, run):
        import __spark_entry__
        from bench import HEADLINE

        if not set(LEGS) <= set(HEADLINE):
            raise ValueError(f"not headline legs: {set(LEGS) - set(HEADLINE)}")
        self.run = run
        self.tr = run.tracer
        self.queries = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()
        self.rng = np.random.default_rng(run.seed)
        self.results: dict[str, list] = {leg: [] for leg in LEGS}  # (columns, rows)
        self.search: list[dict] = []  # per pass: results + tombstones then
        self.passes: list[dict] = []  # {"span", "timed", "tiles": {name: s}}
        self.persisted_rdds = 0

    # -- set-up ---------------------------------------------------------
    def setup(self) -> float:
        run = self.run
        tables = datagen.make_tables(run.seed, 0.25 if run.tiny else 1.0)
        self.docs_py = tables["documents"].to_pydict()
        self.data = run.path("data")
        datagen.write_tables(tables, self.data)

        t0 = time.perf_counter()
        spark = run.start_spark()
        self.tr.spark = spark
        session_s = time.perf_counter() - t0

        from pyspark.sql import functions as F
        from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.corpus import (
            bm25_index_append,
        )
        from cloud_based_bi_etl_automation_for_real_estate_company_spark.plans.measures import t

        # the store is built several times into fresh directories and the
        # median build counts; the last one is used
        n_doc = len(self.docs_py["doc_id"])
        self.indexed = n_doc // 2
        self.doc_frame = t(spark, self.data, "documents")
        build_s = []
        for i in range(STORE_BUILDS):
            self.store = run.path(f"bm25-{i}")
            t1 = time.perf_counter()
            bm25_index_append(
                self.doc_frame.filter(F.col("doc_id") < self.indexed), self.store
            )
            build_s.append(time.perf_counter() - t1)

        # a fixed query set: 3-token queries cut from indexed documents
        picks = self.rng.choice(self.indexed, N_TEXT_QUERIES, replace=False)
        texts = self.docs_py["text"]
        self.q_text = spark.createDataFrame(
            [(" ".join(texts[i].split()[:3]),) for i in picks], "query string"
        )
        self.tombstoned: set[int] = set()

        t3 = time.perf_counter()
        for _ in range(WARMUP_PASSES):
            self.one_pass(timed=False)
        warmup_s = time.perf_counter() - t3
        self.setup_parts = {
            "session_s": session_s,
            "store_build_s": median(build_s),
            "warmup_s": warmup_s,
        }
        return sum(self.setup_parts.values())

    # -- one pass ---------------------------------------------------------
    def tile(self, fn) -> float | None:
        """Run one tile, recording success as one operation; returns its
        latency in seconds, or None when it raised."""
        t0 = time.perf_counter()
        try:
            fn()
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.run.op(False)
            return None
        self.run.op(True)
        return time.perf_counter() - t0

    def one_pass(self, timed: bool) -> None:
        from pyspark.sql import functions as F
        from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.corpus import (
            bm25_delete_docs,
            bm25_index_append,
            bm25_query_store,
        )

        spark, tr = self.run.spark, self.tr
        n_doc = len(self.docs_py["doc_id"])
        lo, hi = self.indexed, min(n_doc, self.indexed + APPEND_DOCS)
        live = sorted(set(range(hi)) - self.tombstoned)
        doomed = [int(i) for i in self.rng.choice(live, DELETE_DOCS, replace=False)]
        rec = {"timed": timed, "tiles": {}, "writes": {}}
        with tr.span("pass", timed=timed) as ps:
            rec["span"] = ps
            with tr.span("write"):
                with tr.span("corpus.bm25_append"):
                    rec["writes"]["append"] = self.tile(
                        lambda: bm25_index_append(
                            self.doc_frame.filter(
                                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
                            ),
                            self.store,
                        ),
                    )
                self.indexed = hi
                with tr.span("corpus.bm25_delete"):
                    rec["writes"]["delete"] = self.tile(
                        lambda: bm25_delete_docs(
                            spark.createDataFrame([(i,) for i in doomed], "doc_id bigint"),
                            self.store,
                        ),
                    )
                self.tombstoned.update(doomed)
            for leg in LEGS:
                with tr.span(f"leg.{leg}") as ls:
                    out = {}

                    def go(leg=leg, out=out):
                        with tr.span("build"):
                            out["df"] = self.queries[leg](spark, self.data)
                        with tr.span("action"):
                            out["rows"] = out["df"].collect()

                    rec["tiles"][leg] = self.tile(go)
                    if "rows" in out:
                        self.results[leg].append((out["df"].columns, out["rows"]))
                        if tr.enabled:
                            ls["catalyst"] = tr.note(lambda: catalyst_ms(out["df"]))
            found = {"tombstoned": set(self.tombstoned), "live_upto": self.indexed}
            with tr.span("corpus.bm25_query"):
                def go():
                    df = bm25_query_store(spark, self.store, self.q_text, k=TOP_K)
                    found["bm25_query"] = (df.columns, df.collect())

                rec["tiles"]["bm25_query"] = self.tile(go)
            self.search.append(found)
        if tr.enabled:
            self.persisted_rdds = tr.note(
                lambda: int(spark.sparkContext._jsc.getPersistentRDDs().size())
            )
        self.passes.append(rec)

    # -- correctness --------------------------------------------------------
    def verify(self) -> None:
        import duckdb
        from cloud_based_bi_etl_automation_for_real_estate_company_spark.operators.corpus import (
            bm25_topk,
        )
        from cloud_based_bi_etl_automation_for_real_estate_company_spark.session import TABLES
        from pyspark.sql import functions as F

        run = self.run
        if run.inject_wrong:
            cols, rows = self.results[LEGS[0]][-1]
            self.results[LEGS[0]][-1] = (cols, rows[1:])
        con = duckdb.connect()
        for name in TABLES:
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM "
                f"read_parquet('{self.data}/{name}.parquet')"
            )
        for leg in LEGS:
            rel = con.sql(self.oracles[leg])
            want = canon(list(rel.columns), rel.fetchall())
            bad = sum(1 for res in self.results[leg] if canon(*res) != want)
            run.check(f"oracle:{leg}", bad == 0)
            run.failed += bad  # a wrong result is a failed operation
        # no tombstoned document is ever returned
        leaks = 0
        for found in self.search:
            if "bm25_query" in found:
                cols, rows = found["bm25_query"]
                i = cols.index("doc_id")
                leaks += sum(1 for r in rows if r[i] in found["tombstoned"])
        run.check("store:no_tombstoned_results", leaks == 0)
        # the last BM25 answer equals the one-shot scorer over live docs
        last = self.search[-1]
        live = self.doc_frame.filter(
            (F.col("doc_id") < last["live_upto"])
            & ~F.col("doc_id").isin(sorted(last["tombstoned"]))
        )
        ref = bm25_topk(live, queries=self.q_text, k=TOP_K)
        ok = "bm25_query" in last and canon(ref.columns, ref.collect()) == canon(
            *last["bm25_query"]
        )
        run.check("store:bm25_equals_one_shot", ok)
        if not ok or leaks:
            run.failed += 1

    # -- metrics ------------------------------------------------------------
    def metrics(self, setup_s: float) -> dict:
        timed = [p for p in self.passes if p["timed"]]
        # each tile's median over the timed passes, averaged over the
        # tiles: a median of all tiles together would pick whichever tile
        # happens to sit in the middle of the page's latency ranking
        per_tile = [
            median(p["tiles"][name] for p in timed if p["tiles"][name] is not None)
            for name in timed[0]["tiles"]
        ]
        return {
            "setup_s": setup_s,
            "cycle_s": median(p["span"]["end"] - p["span"]["start"] for p in timed),
            "latency_p50_s": statistics.fmean(per_tile),
        }


def run(run) -> dict:
    d = Dashboard(run)
    run.state = d
    setup_s = d.setup()
    t0 = time.perf_counter()
    n = 0
    while n < MIN_TIMED_PASSES or time.perf_counter() - t0 < run.seconds:
        d.one_pass(timed=True)
        n += 1
    print("# setup " + " ".join(f"{k}={v:.2f}" for k, v in d.setup_parts.items()), file=sys.stderr)
    for kind in ("writes", "tiles"):
        for name in d.passes[0][kind]:
            ts = [p[kind][name] for p in d.passes]
            print(
                f"# {name}: " + " ".join("-" if x is None else f"{x:.2f}" for x in ts),
                file=sys.stderr,
            )
    d.verify()
    d.store_stats = store_stats(d.store)
    return d.metrics(setup_s)


def store_stats(store: str) -> dict:
    import pyarrow.parquet as pq

    files = glob.glob(os.path.join(store, "postings", "*.parquet"))
    tomb = glob.glob(os.path.join(store, "tombstones", "*.parquet"))
    total = sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(store, "**", "*"), recursive=True)
        if os.path.isfile(p)
    )
    n_tomb = sum(pq.read_metadata(p).num_rows for p in tomb)
    return {
        "store.postings_files": float(len(files)),
        "store.bytes": float(total),
        "store.tombstones": float(n_tomb),
    }


def layers(run, e2e: dict) -> dict:
    """Per-layer metrics of the timed passes, medians over passes."""
    d = run.state
    spans = run.tracer.spans
    attribute_jobs(spans, parse_event_log(run.path("eventlog")))
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)

    def dur(s):
        return s["end"] - s["start"]

    per_pass: list[dict] = []
    for p in d.passes:
        if not p["timed"]:
            continue
        m: dict[str, float] = {}
        acc = {k: 0.0 for k in ("build_s", "build_jobs", "action_s", "analysis",
                                "optimization", "planning")}
        action_jobs: list[dict] = []
        for s in children.get(p["span"]["id"], []):
            if s["name"].startswith("leg."):
                leg = s["name"][4:]
                for c in children.get(s["id"], []):
                    jobs = subtree_jobs(spans, c)
                    if c["name"] == "build":
                        m[f"leg.{leg}.build_s"] = dur(c)
                        m[f"leg.{leg}.build_jobs"] = float(len(jobs))
                        acc["build_s"] += dur(c)
                        acc["build_jobs"] += len(jobs)
                    elif c["name"] == "action":
                        m[f"leg.{leg}.action_s"] = dur(c)
                        acc["action_s"] += dur(c)
                        action_jobs.extend(jobs)
                for phase, ms in (s.get("catalyst") or {}).items():
                    acc[phase] += ms
            elif s["name"].startswith("corpus."):
                m[f"{s['name']}_s"] = dur(s)
                m[f"{s['name']}.jobs"] = float(len(subtree_jobs(spans, s)))
            elif s["name"] == "write":
                for c in children.get(s["id"], []):
                    m[f"{c['name']}_s"] = dur(c)
                    m[f"{c['name']}.jobs"] = float(len(subtree_jobs(spans, c)))
        ex = job_totals(action_jobs)
        m.update(
            {
                "plans.build_s": acc["build_s"],
                "plans.build_jobs": acc["build_jobs"],
                "catalyst.analysis_ms": acc["analysis"],
                "catalyst.optimization_ms": acc["optimization"],
                "catalyst.planning_ms": acc["planning"],
                "exec.action_s": acc["action_s"],
                "exec.action_jobs": ex["jobs"],
                "exec.stages": ex["stages"],
                "exec.tasks": ex["tasks"],
                "exec.run_ms": ex["run_ms"],
                "exec.cpu_ms": ex["cpu_ms"],
                "exec.gc_ms": ex["gc_ms"],
                "exec.shuffle_read_bytes": ex["shuffle_read_bytes"],
                "exec.shuffle_write_bytes": ex["shuffle_write_bytes"],
                "exec.spill_bytes": ex["spill_bytes"],
            }
        )
        per_pass.append(m)
    out = {k: median(m[k] for m in per_pass if k in m) for k in per_pass[0]}
    out.update(d.store_stats)
    out["session.persisted_rdds"] = float(d.persisted_rdds)
    out["trace.cycle_s"] = e2e["cycle_s"]
    out["trace.bookkeeping_s"] = run.tracer.bookkeeping_s / len(d.passes)
    return out
