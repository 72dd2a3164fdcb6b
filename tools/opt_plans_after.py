"""Capture `.explain("formatted")` after-plans for the r18-optimized
queries into plans/r18/<name>_after.txt.

Eagerly-materializing registry fns (the dedup family) would show only a
checkpoint scan, so for those this captures the LAZY internal pipeline
the registry fn materializes — the plan the optimization claims are
about. Run: python tools/opt_plans_after.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sql_data_warehouse_and_analytics_project_spark.registry import all_queries
from sql_data_warehouse_and_analytics_project_spark.session import get_spark

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r18")


def explain_str(df) -> str:
    return df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    spark = get_spark("opt_plans_after")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(OUT, exist_ok=True)
    qs = all_queries()

    from sql_data_warehouse_and_analytics_project_spark.operators import dedup as D
    from sql_data_warehouse_and_analytics_project_spark.operators import (
        multimodal as MM,
    )

    docs = D._docs(spark, SF)

    # lazy internal pipelines for the eagerly-materializing queries
    # (the checkpoints inside still fire while building — that is the
    # pipeline's real shape)
    lazy = {
        "dedup_minhash_lsh": lambda: D.minhash_lsh_pairs(docs),
        "dedup_simhash": lambda: D.simhash_pairs(docs),
        "dedup_cdc_chunks": lambda: D.cdc_dup_stats(docs),
        "dedup_image_phash": lambda: MM.phash_pairs(MM.phash_signatures(spark, SF)),
    }
    for name, fn in lazy.items():
        with open(os.path.join(OUT, f"{name}_after.txt"), "w") as fh:
            fh.write(explain_str(fn()))
        print(name, flush=True)

    for name in [
        "er_fuzzy_customer_pairs",
        "q05_magnitude",
        "eval_mann_whitney_ab",
        "olap_abc_parts",
        "retrieval_bm25_indexed",
        "events_active_users_sketch",
    ]:
        df = qs[name].fn(spark, SF)
        with open(os.path.join(OUT, f"{name}_after.txt"), "w") as fh:
            fh.write(explain_str(df))
        print(name, flush=True)


if __name__ == "__main__":
    main()
