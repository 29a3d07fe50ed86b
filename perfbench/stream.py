"""``stream_ingest``: the two production streaming sinks, batch by batch.

Documents arrive as monotone ``doc_id`` micro-batches, each written as
ONE parquet file into the sink's file-source directory (atomic
visibility), and ``processAllAvailable()`` is timed per batch:
first through ``stream_dedup_ingest`` (probe-then-append against the
growing corpus and its bucketed band index, watermark replay guard),
then the same batch through ``stream_docs_to_search_index``
(append-only postings). The sinks get separate source directories, so
one sink's batch never runs inside the other's timed region.

The output check keeps ``bench_streaming.py``'s growth contract:
band-index rows = 8 x corpus survivors after every batch, postings rows
strictly increase, the search stats count every fed document, and the
sinks' guard state stays <= 4 KB.
"""

from __future__ import annotations

import os
import statistics

from bench_streaming import DEDUP_BANDS_PER_DOC, _pq_count
from bench_streaming import _sidecar_bytes as _state_bytes

import gen

# The sf0.1 document count (5,000) in 8 batches, as the planning probe
# fed them; a dedup batch costs about the same at 100, 250 and 625
# documents (README.md), so larger batches cost no run time.
BATCH_DOCS = 625
N_BATCHES = 8
BATCHES_PER_PASS = 2  # the first starts the queries, the second probes a corpus
STATE_LIMIT = 4096
SCHEMA = "doc_id long, text string"


def prepare(root: str, seed: int) -> str:
    return gen.write_documents(root, seed, BATCH_DOCS * N_BATCHES)


class Sinks:
    """Both sinks over their own source directories under ``base``."""

    def __init__(self, spark, docs_path: str, base: str, table: str):
        self.spark = spark
        self.docs = spark.read.parquet(docs_path).select("doc_id", "text")
        self.base = base
        self.table = table
        self.src = {k: os.path.join(base, f"in_{k}") for k in ("dedup", "index")}
        self.corpus = os.path.join(base, "corpus")
        self.bands = os.path.join(base, "bands")
        self.postings = os.path.join(base, "postings")
        self.queries = {}
        self.fed = 0
        self.batches = 0
        self.history = []  # per batch: corpus rows, band rows, postings rows, state bytes

    def _start(self, kind: str):
        from dataflow_python_etl_spark.streaming.pipeline import (
            stream_dedup_ingest,
            stream_docs_to_search_index,
        )

        stream = self.spark.readStream.schema(SCHEMA).parquet(self.src[kind])
        ckpt = os.path.join(self.base, f"ckpt_{kind}")
        if kind == "dedup":
            return stream_dedup_ingest(stream, self.corpus, self.bands, ckpt,
                                       index_table=self.table, index_buckets=32,
                                       replay_guard="watermark")
        return stream_docs_to_search_index(stream, self.postings, ckpt)

    def feed(self, rec, lo: int, hi: int) -> dict:
        """Feed doc ids [lo, hi) to each sink in turn, timing each batch;
        return the walls and each sink's progress report of the batch."""
        batch = self.docs.where((self.docs.doc_id >= lo) & (self.docs.doc_id < hi))
        first = self.batches == 0
        out = {}
        for kind in ("dedup", "index"):
            batch.coalesce(1).write.mode("overwrite" if first else "append").parquet(self.src[kind])
            rec.op(f"streaming.{kind}.batch", "streaming.pipeline", self._process, kind)
            out[kind] = rec.last
            done = [p for p in self.progress(kind) if p["numInputRows"] > 0]
            out[f"{kind}_progress"] = done[-1] if done else None
        self.fed += hi - lo
        self.batches += 1
        self.history.append((_pq_count(self.corpus), _pq_count(self.bands), _pq_count(self.postings),
                             _state_bytes(self.corpus), _state_bytes(self.postings)))
        out["batch"] = self.batches - 1
        out["wall"] = out["dedup"] + out["index"]
        return out

    def _process(self, kind: str) -> None:
        if kind not in self.queries:
            self.queries[kind] = self._start(kind)
        self.queries[kind].processAllAvailable()

    def progress(self, kind: str) -> list[dict]:
        return list(self.queries[kind].recentProgress) if kind in self.queries else []

    def stop(self) -> None:
        for q in self.queries.values():
            q.stop()
        self.queries = {}
        self.spark.sql(f"DROP TABLE IF EXISTS {self.table}")

    def check(self) -> list[str]:
        from dataflow_python_etl_spark.operators.search import load_search_stats

        problems = []
        for k, (corpus, bands, postings, s1, s2) in enumerate(self.history):
            if bands != DEDUP_BANDS_PER_DOC * corpus:
                problems.append(f"batch {k}: band rows {bands} != {DEDUP_BANDS_PER_DOC} x {corpus} survivors")
            if max(s1, s2) > STATE_LIMIT:
                problems.append(f"batch {k}: sink state {max(s1, s2)} B > {STATE_LIMIT} B")
        rows = [h[2] for h in self.history]
        if any(b <= a for a, b in zip(rows, rows[1:])):
            problems.append(f"postings rows not strictly increasing: {rows}")
        n = load_search_stats(self.postings)["n_docs"]
        if n != self.fed:
            problems.append(f"search stats count {n} docs, fed {self.fed}")
        return problems


def layers(sinks: Sinks, counters, passes: list) -> dict:
    """Per sink (``dedup``, ``index``), median over the traced batches:
    batch wall; addBatch, queryPlanning and walCommit from the query's
    progress report; jobs and shuffle bytes of the batch (status store,
    the query's run-id job group, jobs described ``batch = <id>``); rows
    the batch added to the corpus (dedup) or the postings (index). After
    the last batch: band-index or postings rows, and the sink's guard
    state. ``flat_ratio``: last batch wall over the median of all."""
    out = {}
    fed = [f for r in passes for f in r["batches"]]
    for kind, rows_col, state_col, index_col in (("dedup", 0, 3, 1), ("index", 2, 4, 2)):
        rows: dict[str, list] = {}
        for f in fed:
            p = f[f"{kind}_progress"]
            jobs = [j for j in counters.jobs(p["runId"])
                    if (j.get("description") or "").rstrip().endswith(f"batch = {p['batchId']}")]
            tot = counters.totals(jobs)
            i = f["batch"]
            added = sinks.history[i][rows_col] - (sinks.history[i - 1][rows_col] if i else 0)
            for key, value in (
                ("batch_p50_s", f[kind]),
                ("add_batch_s", p["durationMs"].get("addBatch", 0) / 1000.0),
                ("query_planning_s", p["durationMs"].get("queryPlanning", 0) / 1000.0),
                ("wal_commit_s", p["durationMs"].get("walCommit", 0) / 1000.0),
                ("jobs_per_batch", tot["jobs"]),
                ("shuffle_write_bytes", tot["shuffle_write_bytes"]),
                ("rows_out", added),
            ):
                rows.setdefault(key, []).append(value)
        for key, vals in rows.items():
            out[f"streaming.{kind}.{key}"] = statistics.median(vals)
        out[f"streaming.{kind}.index_rows"] = sinks.history[-1][index_col]
        out[f"streaming.{kind}.state_bytes"] = max(h[state_col] for h in sinks.history)
        walls = [f[kind] for f in fed]
        out[f"streaming.{kind}.flat_ratio"] = walls[-1] / statistics.median(walls)
    return out
