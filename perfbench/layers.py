"""Per-layer measurement for traced runs.

Layers follow the engine's modules: session, catalog, sql.frontend
("frontend"), queries (builders), plan, exec, operators, sources and
streaming. ``install`` wraps each layer's public functions before the
session is built; ``after_query`` gathers the counters of one traced
query outside its timed region; ``finish`` turns spans and counters
into the per-layer metrics and writes the span file.
"""

from __future__ import annotations

import json
import os
import statistics
import threading

from perfbench import metrics
from perfbench.tracing import Tracer, layer_of, layer_self_times
from perfbench.workloads import CORPUS, INGEST

LAYERS = ("bench", "session", "catalog", "frontend", "queries", "plan",
          "exec", "operators", "sources", "streaming")
CODECS = ("pagefile_zstd", "avro", "rcfile", "parquet")
CLASS_P50 = CORPUS + INGEST
# Result pairs of dedup_minhash_lsh at or above this Jaccard similarity
# count as verified near-duplicates.
NEAR_DUP_JACCARD = 0.5


def _arg(args, kwargs, i, key):
    return kwargs[key] if key in kwargs else (args[i] if len(args) > i else None)


def install(run) -> Tracer:
    """Wrap every layer's public functions; returns the tracer."""
    from pyspark.sql import readwriter

    from presto_0_235_spark import catalog, session
    from presto_0_235_spark.operators import dedup, similarity, text
    from presto_0_235_spark.queries.registry import all_queries
    from presto_0_235_spark.sources import avro, pagefile, rcfile
    from presto_0_235_spark.sql import frontend
    from presto_0_235_spark.streaming import engine

    all_queries()  # import every query module so its bindings get wrapped
    tr = Tracer()
    tr.patch(session, "ensure_session_defaults", "session.ensure_defaults")
    tr.patch(session, "warmup_python_workers", "session.warmup")
    tr.patch(catalog, "load_table", "catalog.load_table")
    tr.patch(catalog, "register_views", "catalog.register_views")
    tr.patch(frontend, "presto_to_spark_sql", "frontend.translate")
    tr.patch(frontend, "run_sql", "frontend.run_sql")
    # keep the candidate pairs of the LSH self-join for the precision count
    lsh = dedup.lsh_candidate_pairs
    run.lsh_candidates = {}

    def lsh_candidate_pairs(*args, **kwargs):
        out = lsh(*args, **kwargs)
        if tr.qid is not None:
            run.lsh_candidates[tr.qid] = out
        return out

    tr.patch(dedup, "lsh_candidate_pairs",
             "operators.dedup.lsh_candidate_pairs", around=lsh_candidate_pairs)
    for mod in (dedup, text, similarity):
        tr.patch_module_functions(
            mod, "operators." + mod.__name__.rsplit(".", 1)[1])

    def path_info(args, kwargs):
        return {"path": _arg(args, kwargs, 1, "path")}

    def pagefile_codec(args, kwargs):
        return ("zstd" if _arg(args, kwargs, 2, "compression") == "zstd"
                else "none")

    tr.patch(pagefile, "write_pagefile_dataframe",
             lambda a, k: "sources.pagefile%s.write" % (
                 "_zstd" if pagefile_codec(a, k) == "zstd" else ""),
             path_info)
    tr.patch(pagefile, "read_pagefile_dataframe",
             lambda a, k: "sources.pagefile%s.read" % (
                 "_zstd" if "zstd" in os.path.basename(
                     str(_arg(a, k, 1, "path"))) else ""))
    tr.patch(avro, "write_avro_dataframe", "sources.avro.write", path_info)
    tr.patch(avro, "read_avro_dataframe", "sources.avro.read")
    tr.patch(rcfile, "write_rcfile_dataframe", "sources.rcfile.write",
             path_info)
    tr.patch(rcfile, "read_rcfile_dataframe", "sources.rcfile.read")
    tr.patch(readwriter.DataFrameWriter, "parquet", "sources.parquet.write",
             path_info)
    tr.patch(readwriter.DataFrameReader, "parquet",
             lambda a, k: ("catalog.parquet_read"
                           if tr.parent_name() == "catalog.load_table"
                           else "sources.parquet.read"))
    tr.patch(engine, "read_events_stream", "streaming.read_stream")
    tr.patch(engine, "run_to_batch", "streaming.run")
    return tr


class _StreamProgress:
    """Collects micro-batch progress of every streaming query."""

    def __init__(self):
        from pyspark.sql.streaming import StreamingQueryListener

        self.lock = threading.Lock()
        self.by_query: dict[str, list] = {}
        outer = self

        class Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                commit = sum(op.commitTimeMs for op in p.stateOperators)
                rows = sum(op.numRowsTotal for op in p.stateOperators)
                with outer.lock:
                    outer.by_query.setdefault(str(p.id), []).append(
                        (commit, rows))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self.listener = Listener()


def attach(run) -> None:
    """Register the streaming listener on the built session."""
    run.stream_progress = _StreamProgress()
    run.spark.streams.addListener(run.stream_progress.listener)


def after_query(run, rec: dict, df, rows) -> None:
    """Counters of one traced query, gathered after its timed region."""
    from presto_0_235_spark.plans import explain_analyze

    sc = run.sc
    qid = rec["qid"]
    rec["exec"] = metrics.job_group_stats(sc, qid)
    rec["cached_bytes"] = metrics.cached_bytes(sc)
    rec["temp_views"] = sum(1 for t in run.sessions[0].catalog.listTables()
                            if t.isTemporary)
    sinks = []
    for s in run.tracer.spans:
        if (s.qid == qid and s.info and layer_of(s.name) == "sources"
                and s.name.endswith(".write") and s.info.get("path")):
            nbytes, nfiles = metrics.dir_bytes_and_files(s.info["path"])
            sinks.append((s.name.split(".")[1], nbytes, nfiles, len(rows)))
    rec["sinks"] = sinks
    cand = run.lsh_candidates.pop(qid, None)
    if cand is not None and rec["class"] == "dedup_minhash_lsh":
        rec["lsh"] = (sum(1 for r in rows if r["jac"] >= NEAR_DUP_JACCARD),
                      cand.count())
    seen = run.__dict__.setdefault("explained", set())
    if rec["class"] not in seen:
        seen.add(rec["class"])
        ops: dict[int, str] = {}
        scanned = 0
        for r in explain_analyze(run.sessions[0], df).collect():
            ops[r.op_id] = r.operator
            if "Scan" in r.operator and r.metric == "numOutputRows":
                scanned += r.value
        names = list(ops.values())
        rec["plan"] = {
            "operators": len(names),
            "exchanges": sum("Exchange" in n for n in names),
            "broadcasts": sum("BroadcastExchange" in n for n in names),
            "rows_examined_per_row_returned": scanned / max(1, len(rows)),
        }


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def finish(run) -> None:
    """Compute ``run.layer_metrics`` and write the span file."""
    tr = run.tracer
    measured = run.samples[run.warm_samples:]
    traced = [r for r in measured if r["traced"] and r["ok"]]
    untraced = [r for r in measured if not r["traced"] and r["ok"]]
    qids = {r["qid"] for r in traced}
    spans = [s for s in tr.spans if s.end > 0]
    by_name: dict[str, list] = {}
    for s in spans:
        if s.qid in qids or s.qid is None:
            by_name.setdefault(s.name, []).append(s)

    def durs(name, in_queries=True):
        return [s.end - s.start for s in by_name.get(name, ())
                if (s.qid is not None) == in_queries]

    def per_query(name):
        return len(durs(name)) / max(1, len(traced))

    m: dict[str, tuple[float, str]] = {}
    n_q = max(1, len(traced))
    # session
    m["session.build_s"] = (run.layer.get("session.build_s", 0.0), "s")
    m["session.warmup_s"] = (sum(durs("session.warmup", False)), "s")
    m["session.ensure_defaults_ms"] = (
        sum(durs("session.ensure_defaults")) * 1000 / n_q, "ms")
    m["session.ensure_defaults_calls"] = (
        per_query("session.ensure_defaults"), "count")
    m["session.temp_views"] = (traced[-1]["temp_views"] if traced else 0,
                               "count")
    # catalog
    loads = durs("catalog.load_table")
    reads = len(durs("catalog.parquet_read"))
    m["catalog.load_table_calls"] = (len(loads) / n_q, "count")
    m["catalog.parquet_reads"] = (reads, "count")
    m["catalog.memo_hit_ratio"] = (
        1.0 - reads / len(loads) if loads else 0.0, "ratio")
    m["catalog.load_table_ms"] = (_mean(loads) * 1000, "ms")
    m["catalog.register_views_ms"] = (
        run.layer.get("catalog.register_views_ms", 0.0), "ms")
    # sql.frontend
    m["frontend.translate_ms"] = (
        _mean(durs("frontend.translate")) * 1000, "ms")
    m["frontend.run_sql_ms"] = (_mean(durs("frontend.run_sql")) * 1000, "ms")
    m["frontend.statements"] = (per_query("frontend.run_sql"), "count")
    # queries, plan
    m["queries.build_s"] = (_median(durs("queries.build")), "s")
    m["plan.optimize_ms"] = (_median(durs("plan.optimize")) * 1000, "ms")
    plans = [r["plan"] for r in traced if "plan" in r]
    for key in ("operators", "exchanges", "broadcasts",
                "rows_examined_per_row_returned"):
        m[f"plan.{key}"] = (_mean(p[key] for p in plans),
                            "ratio" if key.startswith("rows") else "count")
    # exec
    ex = [r["exec"] for r in traced]
    cpu_s = sum(e["executor_cpu_ns"] for e in ex) / 1e9
    wall = sum(r["latency_s"] for r in traced)
    m["exec.s"] = (_median(durs("exec.collect")), "s")
    for key in ("jobs", "stages", "tasks"):
        m[f"exec.{key}"] = (_mean(e[key] for e in ex), "count")
    for key, src in (("shuffle_write_mb", "shuffle_write_bytes"),
                     ("shuffle_read_mb", "shuffle_read_bytes"),
                     ("spill_mb", "spill_bytes")):
        m[f"exec.{key}"] = (_mean(e[src] for e in ex) / 2**20, "MB")
    m["exec.executor_run_s"] = (
        _mean(e["executor_run_ms"] for e in ex) / 1000, "s")
    m["exec.executor_cpu_s"] = (cpu_s / n_q, "s")
    m["exec.cpu_utilization"] = (
        cpu_s / (wall * run.cores) if wall else 0.0, "ratio")
    m["exec.gc_ms"] = (_mean(e["gc_ms"] for e in ex), "ms")
    m["exec.cached_mb"] = (
        traced[-1]["cached_bytes"] / 2**20 if traced else 0.0, "MB")
    m["exec.result_rows"] = (_mean(r["rows"] for r in traced), "count")
    # operators
    lsh = [r["lsh"] for r in traced if "lsh" in r]
    m["operators.dedup.lsh_candidate_precision"] = (
        sum(v for v, _ in lsh) / max(1, sum(c for _, c in lsh)), "ratio")
    m["operators.calls"] = (
        sum(1 for s in spans if s.qid in qids
            and layer_of(s.name) == "operators") / n_q, "count")
    for name in CLASS_P50:
        m[f"class.{name}.p50_s"] = (
            _median(r["latency_s"] for r in untraced if r["class"] == name),
            "s")
    # sources
    sinks = [s for r in traced for s in r.get("sinks", ())]
    for codec in CODECS:
        m[f"sources.{codec}.write_s"] = (
            _mean(durs(f"sources.{codec}.write")), "s")
        m[f"sources.{codec}.read_s"] = (
            _mean(durs(f"sources.{codec}.read")), "s")
        mine = [s for s in sinks if s[0] == codec]
        m[f"sources.{codec}.bytes_per_row"] = (
            sum(s[1] for s in mine) / max(1, sum(s[3] for s in mine)),
            "B/row")
    m["sources.bytes_written"] = (sum(s[1] for s in sinks), "B")
    m["sources.files_written"] = (sum(s[2] for s in sinks), "count")
    m["sources.stored_bytes_per_row"] = (
        sum(s[1] for s in sinks) / max(1, sum(s[3] for s in sinks)), "B/row")
    # streaming: the listener sees every streaming query of the run, the
    # untraced rounds' too, which run the same replays
    runs = durs("streaming.run")
    with run.stream_progress.lock:
        queries = list(run.stream_progress.by_query.values())
    m["streaming.run_s"] = (_mean(runs), "s")
    m["streaming.batches"] = (_mean(len(q) for q in queries), "count")
    m["streaming.state_commit_ms"] = (
        _mean(sum(c for c, _ in q) for q in queries), "ms")
    m["streaming.state_rows"] = (
        _mean(q[-1][1] for q in queries if q), "count")
    # self time per layer, and how much of each latency it accounts for
    selfs = layer_self_times(spans)
    for layer in LAYERS:
        m[f"self.{layer}.ms"] = (
            sum(selfs[q].get(layer, 0.0) for q in qids) * 1000 / n_q, "ms")
    gap = max((abs(sum(selfs[r["qid"]].values()) - r["latency_s"])
               for r in traced), default=0.0)
    m["trace.unaccounted_ms"] = (gap * 1000, "ms")
    t_lat = [r["latency_s"] for r in traced]
    u_lat = [r["latency_s"] for r in untraced]
    both = bool(t_lat and u_lat)
    m["trace.latency_p50_s"] = (
        metrics.hd_quantile(t_lat, 0.5) if t_lat else 0.0, "s")
    for q in (50, 90):
        m[f"trace.overhead_p{q}_ms"] = (
            (metrics.hd_quantile(t_lat, q / 100)
             - metrics.hd_quantile(u_lat, q / 100)) * 1000 if both else 0.0,
            "ms")
    m["trace.spans"] = (len(spans), "count")
    m["bench.warmup_s"] = (run.layer.get("bench.warmup_s", 0.0), "s")
    run.layer_metrics = m

    path = os.path.join(run.work_dir,
                        f"spans-{run.workload.name}-{run.args.seed}.jsonl")
    tr.dump(path)
    keep = ("qid", "class", "round", "traced", "ok", "latency_s", "rows",
            "cached_bytes", "temp_views")
    with open(path, "a") as f:
        for r in run.samples:
            f.write(json.dumps({"query": {k: r[k] for k in keep if k in r}})
                    + "\n")
    print(f"# spans and per-query records: {path}")
