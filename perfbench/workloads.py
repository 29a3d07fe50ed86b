"""The workloads as run by run.py.

Each returns (end-to-end metrics, per-layer metrics, check problems,
tracer or None). The measured pass is the workload's first on its
inputs after set-up: the CLI commands and queries run once each in the
session, as a user's command does, and a stream's first two
micro-batches. Per-layer metrics whose layer a workload does not call
are left out, and run.py reports them as 0.
"""

from __future__ import annotations

import statistics
import sys
import uuid

import airline
import querymix
import stream
from counters import StatusCounters
from spans import Tracer


def _tracer(b):
    if not b.args.trace:
        return None
    return Tracer(b.spark, StatusCounters(b.spark), uuid.uuid4().hex[:8])


def batch_mix(b):
    """One pass: the three CLI pipelines into a fresh warehouse, then
    each query of ``querymix.NAMES`` (build, then action)."""
    csvs = airline.prepare(b.path("csv-inputs"), b.args.seed)
    sf = querymix.prepare(b.path("query-inputs"), b.args.seed)
    b.run_setup()

    def one_pass(k):
        res = airline.run_pass(b.rec, csvs, b.path(f"lake{k}"))
        res["cli_wall"] = res["wall"]
        res.update(querymix.run_pass(b.rec, b.spark, sf, b.args.seed * 1000 + k))
        res["wall"] = res["cli_wall"] + res["setsim"] + res["driver"]
        return res

    tracer = _tracer(b)
    passes = b.measure(one_pass, tracer)
    e2e, layer = b.common(passes, tracer)
    for c in airline.COMMANDS:
        layer[f"etl.{c}_s"] = statistics.median([r["walls"][c] for r in passes])
    layer["etl.rows_per_s"] = airline.SIZES["n_venta"] / statistics.median(
        [r["cli_wall"] for r in passes])
    layer["queries.setsim_s"] = statistics.median([r["setsim"] for r in passes])
    layer["queries.driver_s"] = statistics.median([r["driver"] for r in passes])
    last = passes[-1]
    problems = airline.check(csvs, last["warehouse"], last["today"])
    problems += querymix.check(last["outputs"], sf)
    if tracer is not None:
        layer.update(airline.layers(tracer, passes))
        layer.update(querymix.layers(tracer, passes))
    return e2e, layer, problems, tracer


def stream_ingest(b):
    """One pass: the next two micro-batches through both streaming sinks
    (the first pass starts both queries)."""
    docs = stream.prepare(b.path("inputs"), b.args.seed)
    b.run_setup()
    sinks = stream.Sinks(b.spark, docs, b.path("sinks"), "pb_bands")
    n = stream.BATCH_DOCS
    per = stream.BATCHES_PER_PASS

    def one_pass(k):
        fed = [sinks.feed(b.rec, (per * k + i) * n, (per * k + i + 1) * n) for i in range(per)]
        return {"batches": fed, **{key: sum(f[key] for f in fed) for key in ("wall", "dedup", "index")}}

    try:
        tracer = _tracer(b)
        passes = b.measure(one_pass, tracer, max_passes=stream.N_BATCHES // per)
        e2e, layer = b.common(passes, tracer)
        for kind in ("dedup", "index"):
            layer[f"streaming.{kind}.docs_per_s"] = per * n / statistics.median(
                [r[kind] for r in passes])
        if tracer is not None:
            layer.update(stream.layers(sinks, tracer.counters, passes))
        problems = sinks.check()
    finally:
        sinks.stop()
    return e2e, layer, problems, tracer


RUN = {"batch_mix": batch_mix, "stream_ingest": stream_ingest}
