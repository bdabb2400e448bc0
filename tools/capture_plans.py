"""Capture .explain("formatted") for the headline queries into
plans/$SPARK_GRAFT_PLANS_ROUND/<name>_<tag>.txt (default r18; no
execution except what builders do themselves).
Usage: python tools/capture_plans.py <tag> [names...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TAG = sys.argv[1] if len(sys.argv) > 1 else "before"
ONLY = sys.argv[2:]

HEADLINE = [
    "tpch_q1", "tpch_q3", "tpch_q5", "tpch_q6", "tpch_q18",
    "agg_grouping_sets", "join_broadcast_dim", "topn",
    "win_topn_per_group", "dedup_exact", "dedup_minhash_lsh",
    "ann_cosine_topk", "text_quality_score", "pipeline_corpus_dedup",
    "stream_tumbling_agg",
    # the shared-CTE twins (frontend.split_shared_ctes)
    "sql_tpcds_q4", "sql_tpcds_q11", "sql_tpcds_q23", "sql_tpcds_q47",
    "sql_tpcds_q57", "sql_tpcds_q64", "sql_tpcds_q74",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    from presto_0_235_spark.session import build_session
    from presto_0_235_spark.queries.registry import all_queries

    spark = build_session(
        app_name="capture-plans",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus) if cpus.isdigit() else 8,
    )
    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r18"))
    os.makedirs(plans_dir, exist_ok=True)
    registered = all_queries()
    for name in (ONLY or HEADLINE):
        q = registered.get(name)
        if q is None:
            print("skip", name)
            continue
        df = q.builder(spark, sf_dir)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution
            .ExplainMode.fromString("formatted"))
        with open(os.path.join(plans_dir, f"{name}_{TAG}.txt"), "w") as f:
            f.write(plan)
        print("wrote", name)
    spark.stop()


if __name__ == "__main__":
    main()
