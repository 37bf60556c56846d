"""Dump `explain('formatted')` for the bench headline queries (and
any extra names given) into plans/<subdir>/<name>_<tag>.txt — the
before/after plan evidence for an optimization change.

Usage: python scripts/plan_dump.py <subdir> <tag> [name ...]
  subdir: output directory under plans/ (e.g. r16)
  tag: 'before' or 'after'
  names: default = bench HEADLINE set
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from cloud_based_bi_etl_automation_for_real_estate_company_spark.session import get_spark
import __spark_entry__ as entrymod
from bench import HEADLINE, stage_fixtures


def main() -> None:
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    subdir = sys.argv[1]
    tag = sys.argv[2] if len(sys.argv) > 2 else "before"
    names = sys.argv[3:] or list(HEADLINE)
    out_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", subdir)
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("plan-dump")
    spark.sparkContext.setLogLevel("ERROR")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf_dir = stage_fixtures(spark, sf_dir)
    qs = entrymod.queries()
    for name in names:
        fn = qs[name]
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            )
        except Exception as e:  # record the failure, keep going
            plan = f"ERROR building plan: {e}"
        fp = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(fp, "w") as f:
            f.write(plan)
        n_ex = plan.count("Exchange")
        n_py = plan.count("EvalPython") + plan.count("MapInPandas") + plan.count("MapInArrow")
        print(f"{name}: exchanges~{n_ex} python_nodes={n_py} -> {fp}")
    spark.stop()


if __name__ == "__main__":
    main()
