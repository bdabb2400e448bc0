"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload sql_frontdoor --seed 1 --seconds 12 \
        --trace 0

Run from the root of a checkout. The run builds the engine's session on
local[<cores>], generates its tables (cached under .perfbench/), warms
every query class once, then measures closed-loop rounds of the
workload for about ``--seconds`` seconds (a fixed number of rounds,
see workloads.Workload.round_s). Every result is checked
against DuckDB running the class's oracle SQL on the same tables.

``--trace 0`` prints the end-to-end metrics (Harrell-Davis median and
90th-percentile latency, throughput, peak memory, set-up time).
``--trace 1`` alternates
untraced and traced rounds, records spans around every layer's public
functions, writes them to .perfbench/spans-<workload>-<seed>.jsonl and
prints the per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import datagen, metrics, procs  # noqa: E402
from perfbench.oracle import Oracle, value_hash  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    WORKLOADS, query_classes, round_order,
)

DATA_SEED = 42
# Heap for the single local JVM (driver plus executor threads); the
# engine's 16g default is sized for sf1 and exceeds what a shared
# 16 GB machine can give one benchmark process. The heap is committed
# and touched at start-up, so peak_rss_mb does not swing with when
# the collector chose to grow the heap, and moves only with memory
# outside it (off-heap buffers, metaspace, Python driver and workers).
DRIVER_MEM = "3g"
HEAP_OPTS = f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
# Before measuring, every class runs once on this many concurrent
# clients: the round only has to load classes, compile generated code
# and warm the JIT, and concurrency halves its wall time.
WARMUP_CLIENTS = 4


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Run:
    """State of one benchmark run: session, clients, samples, counters."""

    def __init__(self, args, work_dir: str):
        self.args = args
        self.workload = WORKLOADS[args.workload]
        self.work_dir = work_dir
        self.scratch = tempfile.mkdtemp(prefix="run-", dir=work_dir)
        self.tracer = None
        self.samples: list[dict] = []  # one per attempted query
        self.failures: list[str] = []
        self.layer: dict = {}
        self._lock = threading.Lock()
        self._qseq = 0

    # -- set-up -----------------------------------------------------------
    def setup(self) -> None:
        harness_s = 0.0
        t = time.perf_counter()
        data_root = os.path.join(self.work_dir, "data")
        self.data_dir = datagen.ensure_dataset(
            data_root, self.workload.sf, DATA_SEED)
        harness_s += time.perf_counter() - t

        if self.args.trace:
            from perfbench import layers

            self.tracer = layers.install(self)
        from presto_0_235_spark.session import build_session

        cores = len(os.sched_getaffinity(0))
        t = time.perf_counter()
        self.spark = build_session(
            app_name=f"perfbench-{self.workload.name}",
            master=f"local[{cores}]",
            shuffle_partitions=cores,
            extra_conf={
                "spark.driver.extraJavaOptions": HEAP_OPTS,
                "spark.local.dir": self.scratch,
                "spark.sql.warehouse.dir":
                    os.path.join(self.scratch, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.layer["session.build_s"] = time.perf_counter() - t
        if self.tracer is not None:
            from perfbench import layers

            layers.attach(self)
        self.cores = cores
        self.sc = self.spark.sparkContext
        self.classes = query_classes(self.workload, self.scratch)

        t = time.perf_counter()
        oracle = Oracle(self.data_dir, self.data_dir + ".oracle.json")
        self.expected = {n: oracle.expect(n, c.oracle_sql)
                         for n, c in self.classes.items()}
        oracle.save()
        harness_s += time.perf_counter() - t

        if self.workload.clients == 1:
            self.sessions = [self.spark]
        else:
            self.sessions = [self.spark.newSession()
                             for _ in range(self.workload.clients)]
        from presto_0_235_spark.catalog import load_tables, register_views

        if any(n.startswith("sql_") for n in self.classes):
            t = time.perf_counter()
            for s in self.sessions:
                register_views(s, self.data_dir)
            self.layer["catalog.register_views_ms"] = (
                (time.perf_counter() - t) * 1000 / len(self.sessions))
        else:
            load_tables(self.spark, self.data_dir, self.workload.tables)
        self.setup_s = metrics.process_age_s() - harness_s
        self.sc.setLogLevel("ERROR")

    # -- one query ----------------------------------------------------------
    def run_query(self, client: int, name: str, round_no: int,
                  traced: bool) -> None:
        spark = self.sessions[client]
        cls = self.classes[name]
        with self._lock:
            self._qseq += 1
            qid = f"q{self._qseq}"
        self.sc.setJobGroup(qid, name)
        rec = {"qid": qid, "class": name, "round": round_no,
               "traced": traced, "ok": False, "latency_s": None}
        tr = self.tracer if traced else None
        try:
            if tr is not None:
                tr.qid = qid
                root = tr.begin("bench.query")
            t0 = time.perf_counter()
            if tr is not None:
                idx = tr.begin("queries.build")
                df = cls.build(spark, self.data_dir)
                tr.end(idx)
                idx = tr.begin("plan.optimize")
                df._jdf.queryExecution().executedPlan()
                tr.end(idx)
                idx = tr.begin("exec.collect")
                rows = df.collect()
                tr.end(idx)
            else:
                df = cls.build(spark, self.data_dir)
                rows = df.collect()
            t1 = time.perf_counter()
            if tr is not None:
                tr.end(root)
                tr.qid = None
            rec["latency_s"] = t1 - t0
            rec["rows"] = len(rows)
            n_exp, h_exp = self.expected[name]
            rec["ok"] = (len(rows) == n_exp
                         and value_hash(df.columns, rows) == h_exp)
            if not rec["ok"]:
                self._fail(f"{name}: result differs from oracle "
                           f"({len(rows)} rows, expected {n_exp})")
            if tr is not None:
                from perfbench import layers

                layers.after_query(self, rec, df, rows)
        except Exception as ex:  # noqa: BLE001 - a failed query is a sample
            if tr is not None:
                tr.abort()
            self._fail(f"{name}: {type(ex).__name__}: {ex}"[:400])
            traceback.print_exc(file=sys.stderr)
        with self._lock:
            self.samples.append(rec)

    def _fail(self, msg: str) -> None:
        with self._lock:
            self.failures.append(msg)
        print(f"FAIL {msg}", file=sys.stderr, flush=True)

    # -- rounds -------------------------------------------------------------
    def run_round(self, round_no: int, traced: bool,
                  clients: int | None = None) -> None:
        """Run every class once, in seeded order, on the clients; each
        client takes the next class as soon as its previous one returns
        (closed loop)."""
        queue = list(reversed(round_order(self.workload, self.args.seed,
                                          round_no)))
        if self.tracer is not None:
            self.tracer.enabled = traced

        def client(i: int) -> None:
            while True:
                with self._lock:
                    if not queue:
                        return
                    name = queue.pop()
                self.run_query(i, name, round_no, traced)

        clients = clients or self.workload.clients
        if clients == 1:
            client(0)
        else:
            threads = [threading.Thread(target=client,
                                        args=(i % len(self.sessions),))
                       for i in range(clients)]
            for th in threads:
                th.start()
            for th in threads:
                th.join()

    def measure(self, sampler: metrics.RssSampler) -> None:
        t = time.perf_counter()
        self.run_round(0, traced=False, clients=WARMUP_CLIENTS)
        self.layer["bench.warmup_s"] = time.perf_counter() - t
        self.warm_samples = len(self.samples)
        # peak_rss_mb covers the measured rounds only: the concurrent
        # warm-up forks extra Python workers whose transient peak would
        # swing from run to run
        sampler.reset()

        # The same number of whole rounds every run: a time limit would
        # cut a round short or flip the count between runs, and later
        # rounds run warmer than the first. A traced run alternates
        # untraced and traced rounds, at least one of each.
        rounds = max(1, round(self.args.seconds / self.workload.round_s))
        if self.args.trace:
            rounds = max(2, rounds)
        start = time.perf_counter()
        for round_no in range(1, rounds + 1):
            self.run_round(round_no,
                           traced=bool(self.args.trace) and round_no % 2 == 0)
        self.window_s = time.perf_counter() - start
        self.rounds = rounds

    # -- results ------------------------------------------------------------
    def end_to_end(self, measured: list[dict]) -> dict:
        lat = [r["latency_s"] for r in measured if r["ok"]]
        done = sum(1 for r in measured if r["ok"])
        return {
            "latency_p50_s": (metrics.hd_quantile(lat, 0.5), "s"),
            "latency_p90_s": (metrics.hd_quantile(lat, 0.9), "s"),
            "throughput_qps": (done / self.window_s, "queries/s"),
            "peak_rss_mb": (self.peak_rss_mb, "MB"),
            "setup_s": (self.setup_s, "s"),
        }

    def close(self) -> bool:
        """Stop the session, the JVM and every process they started, and
        remove the scratch directory. False if a process would not
        stop."""
        try:
            if hasattr(self, "spark"):
                self.spark.stop()
        finally:
            stopped = procs.stop_all()
            shutil.rmtree(self.scratch, ignore_errors=True)
        return stopped


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "presto_0_235_spark")):
        print(f"no engine package presto_0_235_spark under {ROOT}; run "
              "from the root of a full checkout", file=sys.stderr)
        return 2
    # a termination request unwinds through the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    procs.become_subreaper()
    work_dir = os.path.join(ROOT, ".perfbench")
    os.makedirs(work_dir, exist_ok=True)
    sampler = metrics.RssSampler().start()
    run = Run(args, work_dir)
    # Everything the engine and its Python workers write goes under
    # the run's scratch directory inside the checkout.
    os.environ["TMPDIR"] = run.scratch
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = run.scratch
    # every JVM the launcher starts: temp files in the scratch directory,
    # no hsperfdata files in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={run.scratch} -XX:-UsePerfData")
    os.environ["SPARK_GRAFT_WARMUP"] = "1"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    try:
        run.setup()
        run.measure(sampler)
        run.peak_rss_mb = sampler.stop()
        if run.tracer is not None:
            from perfbench import layers

            run.tracer.enabled = False
            layers.finish(run)
    finally:
        sampler.stop()
        stopped = run.close()
    if not stopped:
        return 1

    measured = run.samples[run.warm_samples:]
    attempted = len(run.samples)
    failed = sum(1 for r in run.samples if not r["ok"])
    if args.trace:
        values = run.layer_metrics
    else:
        values = run.end_to_end(measured)
    out = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in values.items()},
    }
    print(f"# {args.workload}: {run.rounds} rounds, {len(measured)} "
          f"measured queries in {run.window_s:.2f} s, warm-up "
          f"{run.layer['bench.warmup_s']:.2f} s, failed_ratio "
          f"{failed / attempted:.4f}")
    per_class: dict[str, list[float]] = {}
    for r in measured:
        if r["ok"]:
            per_class.setdefault(r["class"], []).append(r["latency_s"])
    print("# class medians (s): " + ", ".join(
        f"{n}={statistics.median(v):.3f}" for n, v in sorted(
            per_class.items(), key=lambda kv: statistics.median(kv[1]))))
    for msg in run.failures[:20]:
        print(f"# FAIL {msg}")
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
