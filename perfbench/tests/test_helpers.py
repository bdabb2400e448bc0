"""Self-tests of the benchmark's helpers; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime
import decimal
import os
import random
import statistics
import subprocess
import sys
import time
import types

import pytest

from perfbench import datagen, metrics, procs, steady
from perfbench.oracle import value_hash
from perfbench.tracing import Span, Tracer, layer_self_times, self_times
from perfbench.workloads import WORKLOADS, round_order


# -- percentile choice ------------------------------------------------------
def test_hd_quantile_basic_properties():
    assert metrics.hd_quantile([5, 5, 5, 5], 0.9) == pytest.approx(5)
    assert metrics.hd_quantile([1, 2, 3], 0.5) == pytest.approx(2)
    rng = random.Random(3)
    xs = [rng.random() for _ in range(20)]
    qs = [metrics.hd_quantile(xs, q) for q in (0.1, 0.5, 0.9)]
    assert min(xs) <= qs[0] <= qs[1] <= qs[2] <= max(xs)
    big = [rng.random() for _ in range(2000)]
    assert metrics.hd_quantile(big, 0.9) == pytest.approx(
        statistics.quantiles(big, n=10)[-1], abs=0.01)
    with pytest.raises(ValueError):
        metrics.hd_quantile([], 0.5)


def test_hd_median_does_not_jump_when_classes_swap():
    # Two rounds of a nine-class mix with a gap at the median: moving
    # one sample across the gap moves the single order statistic by the
    # whole gap, the Harrell-Davis median by well under half of it.
    base = [0.1, 0.2, 0.25, 0.4, 0.6, 0.65, 0.7, 0.8, 1.0] * 2
    moved = list(base)
    moved[base.index(0.6)] = 0.39
    jump = abs(statistics.median(moved) - statistics.median(base))
    hd = abs(metrics.hd_quantile(moved, 0.5) - metrics.hd_quantile(base, 0.5))
    assert hd < jump / 2


def test_steady_spread_uses_statistics_quantiles():
    med, q1, q3, sp = steady.spread([1.0, 2.0, 3.0, 4.0, 5.0])
    assert (q1, med, q3) == tuple(statistics.quantiles([1, 2, 3, 4, 5], n=4))
    assert sp == pytest.approx((q3 - q1) / med)


# -- self-time arithmetic ---------------------------------------------------
def test_self_time_subtracts_union_of_children_clipped_to_parent():
    spans = [
        Span("bench.query", 0.0, 10.0, None, "q1"),
        Span("queries.build", 1.0, 3.0, 0, "q1"),
        Span("plan.optimize", 2.0, 5.0, 0, "q1"),  # overlaps its sibling
        Span("exec.collect", 8.0, 12.0, 0, "q1"),  # ends after the parent
        Span("catalog.load_table", 1.5, 2.0, 1, "q1"),
    ]
    selfs = self_times(spans)
    assert selfs[0] == pytest.approx(10 - (4 + 2))
    assert selfs[1] == pytest.approx(2 - 0.5)
    assert selfs[4] == pytest.approx(0.5)


def test_layer_self_times_account_for_root_duration():
    spans = [
        Span("bench.query", 0.0, 4.0, None, "q1"),
        Span("queries.build", 0.5, 2.0, 0, "q1"),
        Span("session.ensure_defaults", 0.6, 0.7, 1, "q1"),
        Span("exec.collect", 2.0, 3.9, 0, "q1"),
        Span("session.warmup", 5.0, 6.0, None, None),  # outside queries
    ]
    per_layer = layer_self_times(spans)
    assert set(per_layer) == {"q1"}
    assert sum(per_layer["q1"].values()) == pytest.approx(4.0)
    assert per_layer["q1"]["session"] == pytest.approx(0.1)
    assert per_layer["q1"]["bench"] == pytest.approx(0.6)


def test_tracer_rebinds_from_imports_and_restores():
    def f(x):
        return x + 1

    a = types.ModuleType("presto_0_235_spark.perfbench_test_a")
    b = types.ModuleType("presto_0_235_spark.perfbench_test_b")
    a.f = f
    b.g = f  # as ``from a import f as g`` would bind it
    sys.modules[a.__name__], sys.modules[b.__name__] = a, b
    try:
        tr = Tracer()
        tr.patch(a, "f", "catalog.f")
        tr.qid = "q1"
        assert b.g(1) == 2 and a.f(2) == 3
        assert [s.name for s in tr.spans] == ["catalog.f", "catalog.f"]
        assert all(s.qid == "q1" and s.end >= s.start for s in tr.spans)
        tr.enabled = False
        b.g(1)
        assert len(tr.spans) == 2
        tr.unpatch()
        assert a.f is f and b.g is f
    finally:
        del sys.modules[a.__name__], sys.modules[b.__name__]


# -- result hashing ---------------------------------------------------------
def test_value_hash_ignores_row_and_column_order():
    rows = [(1, "x", 2.5), (2, None, 0.0)]
    h = value_hash(["a", "b", "c"], rows)
    assert h == value_hash(["a", "b", "c"], list(reversed(rows)))
    assert h == value_hash(["c", "a", "b"], [(r[2], r[0], r[1]) for r in rows])
    assert h != value_hash(["a", "b", "c"], [(1, "x", 2.5), (2, None, 1.0)])
    assert h != value_hash(["a", "b", "d"], rows)


def test_value_hash_canonicalizes_engine_types():
    dec = value_hash(["v"], [(decimal.Decimal("1.50"),)])
    assert dec == value_hash(["v"], [(1.5,)])
    assert value_hash(["v"], [(-0.0,)]) == value_hash(["v"], [(0.0,)])
    assert value_hash(["v"], [(float("nan"),)]) == value_hash(
        ["v"], [(float("nan"),)])
    d = datetime.date(2024, 1, 2)
    assert value_hash(["d"], [(d,)]) == value_hash(["d"], [("2024-01-02",)])
    assert value_hash(["l"], [([1.0, 2.0],)]) == value_hash(
        ["l"], [((1.0, 2.0),)])


# -- workload generator and data --------------------------------------------
def test_round_order_is_a_seeded_permutation():
    w = WORKLOADS["sql_frontdoor"]
    first = round_order(w, 7, 1)
    assert sorted(first) == sorted(w.classes)
    assert first == round_order(w, 7, 1)
    assert any(round_order(w, s, 1) != first for s in range(8, 20))


def test_datagen_is_deterministic_and_typed():
    t1 = datagen.generate_tables(0.001, 5)
    t2 = datagen.generate_tables(0.001, 5)
    assert set(t1) == set(datagen.TABLES)
    for name in datagen.TABLES:
        assert t1[name].equals(t2[name]), name
    assert str(t1["orders"].schema.field("o_orderdate").type) == "timestamp[us]"
    assert str(t1["embeddings"].schema.field("embedding").type) == \
        "list<item: float>"
    assert t1["lineitem"].num_rows == 6000
    docs = t1["documents"].column("text").to_pylist()
    assert any(d.endswith(" dup") for d in docs)


def test_process_tree_rss_counts_this_process():
    assert metrics.tree_rss_bytes(os.getpid()) > 0
    assert 0 < metrics.process_age_s() < 24 * 3600


# -- process clean-up -------------------------------------------------------
def test_stop_all_ends_children_and_grandchildren():
    child = subprocess.Popen(["sh", "-c", "sleep 60 & sleep 60"])
    for _ in range(100):
        if len(procs.descendants(os.getpid())) >= 2:
            break
        time.sleep(0.02)
    assert child.pid in procs.descendants(os.getpid())
    assert procs.stop_all(grace_s=2.0)
    assert procs.descendants(os.getpid()) == []
    assert child.poll() is not None
