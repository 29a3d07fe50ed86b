"""Self-test of the status-store counter reader (counters.py).

- A stage whose shuffle output a later job reuses is counted once.
- Two runs of the same code on the same inputs give identical jobs,
  stages, tasks, input bytes and shuffle bytes, on the CLI pipelines
  and on the queries of ``batch_mix``.
- Without ``unpersist_all()`` between runs a query reads the previous
  run's cache and runs fewer jobs: the reason every pass releases it.
- One extra ``count()``, injected by wrapping a layer function here (the
  package is untouched), shows in the counters alone.

Starts one Spark session; takes a few minutes. Run alone (no other JVM):
    python3 -m pytest perfbench/tests/test_counters.py -q
"""

from __future__ import annotations

import argparse
import operator
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT, os.path.join(ROOT, "tools")]

import airline  # noqa: E402
import querymix  # noqa: E402
import run  # noqa: E402
from counters import COUNTER_KEYS, StatusCounters  # noqa: E402
from spans import Tracer  # noqa: E402


@pytest.fixture(scope="module")
def bench(tmp_path_factory):
    args = argparse.Namespace(workload="batch_mix", seed=3, seconds=0, trace=1)
    b = run.Bench(args, str(tmp_path_factory.mktemp("work")))
    b.run_setup(warm=0)
    yield b
    b.spark.stop()


@pytest.fixture(scope="module")
def csvs(bench):
    paths = airline.prepare(bench.path("inputs"), 3)
    airline.run_pass(bench.rec, paths, bench.path("lake-warm"))  # warm, untraced
    return paths


def _traced(bench, tag, fn):
    """Run fn() as one traced pass; return (tracer, fn's result)."""
    tracer = Tracer(bench.spark, StatusCounters(bench.spark), tag)
    tracer.pass_no = 0
    tracer.install()
    bench.rec.tracer = tracer
    try:
        res = fn()
    finally:
        bench.rec.tracer = None
        tracer.uninstall()
    tracer.collect_counters()
    return tracer, res


def _airline_counters(bench, csvs, tag) -> dict:
    tracer, res = _traced(bench, tag, lambda: airline.run_pass(bench.rec, csvs, bench.path(f"lake-{tag}")))
    out = {}
    for c in airline.COMMANDS:
        top = next(s for s in tracer.spans if s.name == f"cli.{c}")
        inc = tracer.inclusive(top)
        out.update({f"{c}.{k}": inc[k] for k in COUNTER_KEYS})
    return out


def test_reused_shuffle_stage_counted_once(bench):
    sc = bench.spark.sparkContext
    counters = StatusCounters(bench.spark)
    rdd = sc.parallelize(range(1000), 4).map(lambda x: (x % 7, 1)).reduceByKey(operator.add)
    sc.setJobGroup("test-reuse", "reuse")
    try:
        rdd.collect()
        rdd.collect()  # its map stage is skipped: the shuffle output is reused
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    got = counters.read("test-reuse")
    assert got["jobs"] == 2
    assert got["stages"] == 3
    assert got["tasks"] == 12


def test_airline_counters_repeat_exactly(bench, csvs):
    first = _airline_counters(bench, csvs, "rep1")
    second = _airline_counters(bench, csvs, "rep2")
    assert first == second
    assert first["mart.jobs"] > 0 and first["compensation.shuffle_write_bytes"] > 0


def test_query_counters_repeat_exactly(bench):
    sf = querymix.prepare(bench.path("sf"), 3)
    querymix.run_pass(bench.rec, bench.spark, sf, 0)  # warm, untraced

    def counters(tag):
        tracer, _ = _traced(bench, tag, lambda: querymix.run_pass(bench.rec, bench.spark, sf, 0))
        out = {}
        for s in tracer.spans:
            if s.parent is None:
                inc = tracer.inclusive(s)
                out.update({f"{s.name}.{k}": inc[k] for k in COUNTER_KEYS})
        return out

    first, second = counters("q1"), counters("q2")
    assert first == second
    assert first["queries.q24.exec.shuffle_write_bytes"] > 0


def test_cache_reuse_without_unpersist(bench):
    from dataflow_python_etl_spark.operators.dedup import unpersist_all
    from dataflow_python_etl_spark.queries import QUERIES

    sf = querymix.prepare(bench.path("sf-cache"), 4)
    q24 = QUERIES["q24_ngram_jaccard_pairs"].fn
    sc = bench.spark.sparkContext
    counters = StatusCounters(bench.spark)

    def jobs(group):
        sc.setJobGroup(group, group)
        try:
            q24(bench.spark, sf).count()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return counters.read(group)["jobs"]

    unpersist_all()
    steady = jobs("cache-1")
    reused = jobs("cache-2")  # the caches of cache-1 are still registered
    unpersist_all()
    again = jobs("cache-3")
    unpersist_all()
    assert reused < steady == again


def test_injected_count_is_flagged_by_counters(bench, csvs, monkeypatch):
    from dataflow_python_etl_spark.operators import mart

    base = _airline_counters(bench, csvs, "base")
    build_mart = mart.build_mart

    def build_and_count(*args, **kwargs):
        df = build_mart(*args, **kwargs)
        df.count()
        return df

    monkeypatch.setattr(mart, "build_mart", build_and_count)
    injected = _airline_counters(bench, csvs, "injected")
    changed = {k for k in base if base[k] != injected[k]}
    assert injected["mart.jobs"] > base["mart.jobs"]
    assert changed and all(k.startswith("mart.") for k in changed)
