"""The query half of ``batch_mix``: registry queries in two halves.

``SETSIM`` queries are execution/shuffle-bound set-similarity joins
(build well under a second, many shuffle stages); ``DRIVER`` queries
are plan-build/scheduling-bound. Each query runs as the user would:
``fn(spark, sf_dir)`` (the build), then ``.collect()`` (the action;
the results are a few hundred rows but q10's 15,000), both timed, in a
seed-shuffled order per pass. A build-side change should move the
driver half and leave the set-similarity half flat; a shuffle-side
change the reverse.

The output check compares the rows a pass collected with each query's
registry oracle (``QUERIES[name].oracle``) run by DuckDB over the same
parquet files, as ``tools/check_oracle.py`` does, outside the timed
region; checking the measured results saves running every query once
more per run.
"""

from __future__ import annotations

import os
import random
import statistics

import duckdb

import gen

SETSIM = ("q24_ngram_jaccard_pairs",)
DRIVER = ("q01_pricing_summary", "q10_compensation")
NAMES = SETSIM + DRIVER
TABLES = ("lineitem", "orders", "customer", "documents")
# The row counts of the sf0.1 test data (15,000 customers, 150,000
# orders, 600,000 lineitem rows, 5,000 documents); calibrate.py compares
# the generated tables with it.
SIZES = {"n_customer": 15_000, "n_docs": 5_000}


def short(name: str) -> str:
    return name.split("_")[0]


def prepare(root: str, seed: int) -> str:
    return gen.write_star_tables(os.path.join(root, "sf"), seed, **SIZES)


def run_pass(rec, spark, sf_dir: str, order_seed: int) -> dict:
    """Run every query once, build then action, in a shuffled order.
    Returns {name: (build_s, exec_s)}, the wall of each half and the
    total, and {name: (columns, rows)} of every query that ran."""
    from dataflow_python_etl_spark.operators.dedup import unpersist_all
    from dataflow_python_etl_spark.queries import QUERIES

    names = list(NAMES)
    random.Random(order_seed).shuffle(names)
    walls, outputs = {}, {}
    for name in names:
        q = short(name)
        df = rec.op(f"queries.{q}.build", "queries", QUERIES[name].fn, spark, sf_dir)
        build_s, exec_s = rec.last, 0.0
        if df is not None:
            rows = rec.op(f"queries.{q}.exec", "queries", df.collect, unit=False)
            exec_s = rec.last
            if rows is not None:
                outputs[name] = ([c.lower() for c in df.columns], [tuple(r) for r in rows])
        unpersist_all()
        walls[name] = (build_s, exec_s)
    half = {h: sum(sum(walls[n]) for n in names_)
            for h, names_ in (("setsim", SETSIM), ("driver", DRIVER))}
    return {"queries": walls, "wall": half["setsim"] + half["driver"], "outputs": outputs, **half}


def layers(tracer, traced: list) -> dict:
    """Per query, median over the traced passes: build and action walls,
    the jobs run eagerly inside ``fn()`` (build_jobs), all its jobs, and
    its shuffle bytes."""
    rows: dict[str, list] = {}
    for r in traced:
        spans = tracer.in_pass(r["k"])
        for name in NAMES:
            q = short(name)
            build = next(s for s in spans if s.name == f"queries.{q}.build")
            run = [s for s in spans if s.name == f"queries.{q}.exec"]
            b_inc = tracer.inclusive(build)
            e_inc = tracer.inclusive(run[0]) if run else None
            for key, value in (
                ("build_s", build.wall),
                ("build_jobs", b_inc["jobs"]),
                ("exec_s", run[0].wall if run else 0.0),
                ("jobs", b_inc["jobs"] + (e_inc["jobs"] if e_inc else 0)),
                ("shuffle_write_bytes",
                 b_inc["shuffle_write_bytes"] + (e_inc["shuffle_write_bytes"] if e_inc else 0)),
            ):
                rows.setdefault(f"queries.{q}.{key}", []).append(value)
    return {k: statistics.median(v) for k, v in rows.items()}


def check(outputs: dict, sf_dir: str) -> list[str]:
    """Compare the collected ``outputs`` ({name: (columns, rows)}) with
    each query's oracle; return the problems found. A query without
    output already counted as a failed operation."""
    from check_oracle import value_hash

    from dataflow_python_etl_spark.queries import QUERIES

    con = duckdb.connect()
    problems = []
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        for name, (s_cols, s_rows) in outputs.items():
            cur = con.execute(QUERIES[name].oracle)
            d_cols = [d[0].lower() for d in cur.description]
            d_rows = cur.fetchall()
            if sorted(s_cols) != sorted(d_cols):
                problems.append(f"{name}: columns {s_cols} != oracle {d_cols}")
            elif len(s_rows) != len(d_rows):
                problems.append(f"{name}: rows {len(s_rows)} != oracle {len(d_rows)}")
            elif value_hash(s_rows, s_cols) != value_hash(d_rows, d_cols):
                problems.append(f"{name}: value hash differs from the oracle")
    finally:
        con.close()
    return problems
