"""Round-17 measurement harness (guide §1: measure first).

For every headline bench query: capture .explain("formatted") to
plans/r17/<name>_<tag>.txt, and split the wall clock into BUILD
(builder() call: catalog reads + plan construction, driver-side) vs
EXEC (noop-sink write) for three runs each, plus job/stage counts so
plan-shape changes (extra AQE rounds, extra jobs) are attributable,
and the Janino compilations and compile time each run paid (Spark's
CodegenMetrics / CodeGenerator.compileTime): after the first run a
query whose classes stay in the codegen cache compiles nothing, so a
non-zero warm count flags a cache too small for the working set.

Usage: python tools/profile_bench.py [tag]     (tag default: before)
Writes plans/r17/*_<tag>.txt and prints one JSON line per query.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TAG = sys.argv[1] if len(sys.argv) > 1 else "before"
ONLY = [a for a in sys.argv[2:] if a]

HEADLINE = [
    "tpch_q1", "tpch_q3", "tpch_q5", "tpch_q6", "tpch_q18",
    "agg_grouping_sets", "join_broadcast_dim", "topn",
    "win_topn_per_group", "dedup_exact", "dedup_minhash_lsh",
    "ann_cosine_topk", "text_quality_score", "pipeline_corpus_dedup",
    "stream_tumbling_agg",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")

    from presto_0_235_spark.session import build_session
    from presto_0_235_spark.queries.registry import all_queries

    spark = build_session(
        app_name="profile-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus) if cpus.isdigit() else 8,
    )
    sc = spark.sparkContext
    codegen = spark._jvm.org.apache.spark.sql.catalyst.expressions.codegen
    compile_hist = (spark._jvm.org.apache.spark.metrics.source
                    .CodegenMetrics.METRIC_COMPILATION_TIME())

    def compile_stats() -> tuple[int, int]:
        """(classes compiled, total compile ns) since the JVM started."""
        return (compile_hist.getCount(),
                codegen.CodeGenerator.compileTime())
    plans_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans", os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r18"))
    os.makedirs(plans_dir, exist_ok=True)

    registered = all_queries()
    names = ONLY or HEADLINE
    results = {}
    for name in names:
        q = registered.get(name)
        if q is None:
            continue
        sc.setJobDescription(f"{name} [{TAG}]")

        def next_job_id() -> int:
            v = sc._jsc.sc().dagScheduler().nextJobId()
            return v if isinstance(v, int) else v.get()

        builds, execs, jobs, compiles, compile_ms = [], [], [], [], []
        df = None
        for i in range(3):
            c0, ns0 = compile_stats()
            t0 = time.perf_counter()
            df = q.builder(spark, sf_dir)
            t1 = time.perf_counter()
            j0 = next_job_id()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            j1 = next_job_id()
            c1, ns1 = compile_stats()
            builds.append(round(t1 - t0, 4))
            execs.append(round(t2 - t1, 4))
            jobs.append(j1 - j0)
            compiles.append(c1 - c0)
            compile_ms.append(round((ns1 - ns0) / 1e6, 1))
        # capture the formatted plan of the last-built DataFrame
        try:
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution
                .ExplainMode.fromString("formatted"))
        except Exception:
            import contextlib, io
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            plan = buf.getvalue()
        with open(os.path.join(plans_dir, f"{name}_{TAG}.txt"), "w") as f:
            f.write(plan)
        rec = {
            "build": builds, "exec": execs, "jobs_per_run": jobs,
            "compiles_per_run": compiles, "compile_ms_per_run": compile_ms,
            "best_total": round(min(b + e for b, e in
                                    zip(builds[1:], execs[1:])), 4),
        }
        results[name] = rec
        print(json.dumps({"query": name, **rec}), flush=True)
        sc.setJobDescription(None)
    total = round(sum(r["best_total"] for r in results.values()), 4)
    print(json.dumps({"tag": TAG, "total_best": total}))
    spark.stop()


if __name__ == "__main__":
    main()
