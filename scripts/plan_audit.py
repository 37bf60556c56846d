"""Full-catalog plan audit: build every
declared query's DataFrame and scan its formatted physical plan for
anti-patterns:

- BatchEvalPython / ArrowEvalPython / MapInPandas / MapInArrow nodes
  (the Python boundary, guide section 4)
- CartesianProduct / BroadcastNestedLoopJoin (guide section 3)
- physical Exchange count (shuffle count, guide section 2)
- join strategies in play (SortMergeJoin vs Broadcast/ShuffledHash)
- parquet scans whose PushedFilters is empty while the query filters

Emits one TSV row per query: name, exchanges, python_nodes,
cartesian, nested_loop, smj, bhj, shj, scans, build_s.

Usage: python scripts/plan_audit.py [sf_dir] [out_tsv]
"""

from __future__ import annotations

import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cloud_based_bi_etl_automation_for_real_estate_company_spark.session import get_spark
import __spark_entry__ as entrymod


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    out_fp = sys.argv[2] if len(sys.argv) > 2 else "/tmp/plan_audit.tsv"
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    rows = []
    for name, fn in qs.items():
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            err = ""
        except Exception as e:
            plan = ""
            err = str(e)[:120].replace("\n", " ").replace("\t", " ")
        el = round(time.time() - t0, 2)
        # count only numbered physical operators, not prose mentions
        ops = re.findall(r"^\s*[*]?\(?\d*\)?\s*([A-Za-z]+[A-Za-z0-9]*)", plan, re.M)
        # anchor on the numbered operator header of the formatted
        # details section ("(12) Exchange"), which appears exactly once
        # per physical operator; an unanchored pattern would also count
        # ReusedExchange nodes as shuffles, so reuse is reported apart
        n_ex = len(re.findall(r"^\(\d+\)\s+Exchange\b", plan, re.M))
        n_reuse = len(
            re.findall(r"^\(\d+\)\s+ReusedExchange\b", plan, re.M)
        )
        n_py = sum(
            plan.count(t)
            for t in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas",
                      "MapInArrow", "FlatMapGroupsInPandas")
        )
        row = dict(
            name=name,
            exchanges=n_ex,
            python=n_py,
            cartesian=plan.count("CartesianProduct"),
            bnlj=plan.count("BroadcastNestedLoopJoin"),
            smj=plan.count("SortMergeJoin"),
            bhj=plan.count("BroadcastHashJoin"),
            shj=plan.count("ShuffledHashJoin"),
            reused=n_reuse,
            scans=plan.count("Scan parquet"),
            build_s=el,
            err=err,
        )
        rows.append(row)
        print(
            f"{name}\tex={n_ex}\tpy={n_py}\tcart={row['cartesian']}"
            f"\tbnlj={row['bnlj']}\tsmj={row['smj']}\t{el}s\t{err}",
            flush=True,
        )
    cols = list(rows[0].keys())
    with open(out_fp, "w") as f:
        f.write("\t".join(cols) + "\n")
        for r in rows:
            f.write("\t".join(str(r[c]) for c in cols) + "\n")
    print(f"wrote {out_fp} ({len(rows)} rows)")
    spark.stop()


if __name__ == "__main__":
    main()
