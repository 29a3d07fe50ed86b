"""Streaming event analytics: watermarked windowed aggregation and
stateful sessionization over an ``events``-shaped stream.

The reference is batch-only (SURVEY.md §1.1/§2.3); this module is the
Structured Streaming twin of queries q31_stream_windows (tumbling/
hopping) and q32_sessionize. The batch versions are oracle-verified; these share the
same aggregation expressions, so the streaming correctness burden is
the windowing/watermark plumbing, covered by tests/test_streaming.py
using a file source + one processAllAvailable micro-batch.

Scale notes: state for the windowed agg is bounded by the watermark
(late events beyond 10 min are dropped); sessionization uses
``applyInPandasWithState`` with per-user state and event-time timeout
— per-key state, shuffled by user_id, no driver involvement.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-based event stream (one parquet/json drop per micro-batch).
    On a real deployment this would be a Kafka source; the
    transformation chain below is source-agnostic.

    ``max_files_per_trigger`` caps each micro-batch: without it, batch 0
    of a recovery/backfill is the ENTIRE backlog in one batch — one
    giant shuffle and (for the CDC sink) one giant upsert. Set it so a
    batch's state delta fits executor memory at the deployed scale.
    """
    reader = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def rate_event_stream(
    spark: SparkSession,
    rows_per_batch: int = 1000,
    advance_ms_per_batch: int = 60_000,
) -> DataFrame:
    """Synthetic unbounded ``events``-shaped stream from the built-in
    ``rate-micro-batch`` source — exercises the trigger/backpressure
    path that a file source (whose batches are whatever files appear)
    cannot: every trigger emits exactly ``rows_per_batch`` rows and
    advances event time by ``advance_ms_per_batch``, so watermark
    progression and state eviction happen deterministically.

    The generated columns are pure JVM expressions over the source's
    (timestamp, value) — no Python in the per-row path.
    """
    rate = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", rows_per_batch)
        .option("startTimestamp", 0)
        .option("advanceMillisPerBatch", advance_ms_per_batch)
        .load()
    )
    return rate.select(
        F.col("value").alias("event_id"),
        F.col("timestamp").alias("ts"),
        F.pmod(F.col("value"), F.lit(100)).alias("user_id"),
        F.element_at(
            F.array(F.lit("view"), F.lit("click"), F.lit("purchase")),
            (F.pmod(F.col("value"), F.lit(3)) + 1).cast("int"),
        ).alias("event_type"),
        (F.pmod(F.col("value") * 37, F.lit(1000)) / 10.0).alias("value"),
        F.to_json(F.struct(F.col("value").alias("seq"))).alias("props"),
    )


def windowed_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Tumbling-window count/sum per event_type with late-data bound.

    Streaming twin of q31_stream_windows (tumbling branch) (same agg expressions).
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total_value",
        )
    )


def sessionized(events: DataFrame, gap: str = "5 minutes") -> DataFrame:
    """Session windows per user via the built-in session_window —
    state bounded by watermark; streaming twin of q32_sessionize."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("session_value"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


def run_to_memory_sink(stream_df: DataFrame, name: str) -> None:
    """Drain all available input into an in-memory table (tests)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .start()
    )
    q.processAllAvailable()
    q.stop()


def _start(
    stream_df: DataFrame, apply_batch, checkpoint: str, output_mode: str = "append"
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """Start ``apply_batch`` as the ``foreachBatch`` sink of every
    ``stream_*`` here. foreachBatch is AT-LEAST-once through the
    checkpoint — a restart replays the last uncommitted batch — so every
    write a sink makes is per-key idempotent or a partition overwrite."""
    return (
        stream_df.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
        .start()
    )


def _overwrite_partitions(
    df: DataFrame, path: str, *cols: str, batch_id: int | None = None
) -> None:
    """The per-batch write: DYNAMIC partition overwrite of ``cols``
    (then ``ingest_batch=<batch_id>`` when given), so a replayed batch
    rewrites exactly its own partitions instead of duplicating them."""
    if batch_id is not None:
        df, cols = df.withColumn("ingest_batch", F.lit(batch_id)), (*cols, "ingest_batch")
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*cols)
        .parquet(path)
    )


def _read_json(path: str):
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def _write_json_atomic(path: str, obj) -> None:
    """tmp + ``os.replace``: a reader sees the old or the new file,
    never a torn one."""
    tmp = path + ".__tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def stream_upsert_to_table(
    stream_df: DataFrame,
    table_path: str,
    key_cols: list[str],
    checkpoint: str,
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """Streaming CDC: upsert each micro-batch into a parquet table via
    ``foreachBatch`` + the batch MERGE operator.

    ``foreachBatch`` gives exactly-once-per-batch semantics through the
    checkpoint (a replayed batch re-applies the same upsert, which is
    idempotent by key), and reuses ALL batch operators — the streaming
    twin of the reference's truncate-reload sink, but incremental.
    """
    from dataflow_python_etl_spark.operators.upsert import upsert_table

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        deduped = batch_df.dropDuplicates(key_cols)
        _guard_missing_table(table_path, batch_id)
        if not os.path.exists(table_path):
            deduped.write.parquet(table_path)
        else:
            upsert_table(spark, table_path, deduped, key_cols)

    return _start(stream_df, apply_batch, checkpoint, "update")


def _guard_missing_table(table_path: str, batch_id: int) -> None:
    """A missing table MUST NOT be silently treated as empty on a
    restarted sink: if a previous run died inside ``swap_table_dir``'s
    rename window, the only copy of the table lives in a ``.__bak_*``
    sibling, and merging this batch into an "empty" table would drop
    every prior row — and, with the base path recreated, a later
    vacuum would collect the backup holding the only copy. Restore the
    backup when one exists; if none does but the checkpoint says we've
    applied batches before (batch_id > 0), fail loudly rather than
    resurrect the table from one batch."""
    from dataflow_python_etl_spark.operators.upsert import recover_table_dir

    if os.path.exists(table_path):
        return
    if recover_table_dir(table_path):
        return  # crashed mid-swap; replaying this batch is idempotent
    if batch_id > 0:
        raise RuntimeError(
            f"streaming sink restart at batch {batch_id} but table "
            f"{table_path} is missing and no .__bak_* backup exists — "
            "refusing to rebuild the table from a single batch (prior "
            "rows would be silently lost). Restore the table or start "
            "a fresh checkpoint."
        )


def stream_cdc_to_table(
    stream_df: DataFrame,
    table_path: str,
    key_cols: list[str],
    checkpoint: str,
    op_col: str = "op",
    engine: str = "parquet",
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """Op-coded CDC apply: each micro-batch carries rows tagged
    ``op in ('I','U','D')`` (the Debezium/binlog shape); inserts and
    updates MERGE in, deletes remove the keyed row. Built on
    ``operators.upsert.merge_df``, so the per-batch plan is one
    full-outer join with AQE sizing — no driver-side state.

    A batch with two ops for one key FAILS LOUDLY (merge_df's
    duplicate-source-key guard): silently picking one-of-N would apply
    a nondeterministic op and different replays of the same
    checkpointed batch could pick differently. A binlog-shaped source
    is per-key ordered — collapse to the latest op per key upstream
    (with the log's sequence column, which this engine cannot invent)
    before the sink. Replaying a batch re-applies the same merge:
    idempotent by key. Batch 0 goes through the same merge against an
    empty table, so the guard holds from the first batch.

    ``engine="delta"`` routes every batch through
    :func:`operators.upsert.merge_table_transactional` — a real
    ``MERGE INTO`` serialized by the Delta log, so the temp-and-swap
    disappears and a concurrent writer cannot race the rename window.
    Same clause family, same duplicate-key guard, same idempotent
    replay; batch 0 creates an EMPTY Delta table first so the merge
    path (and its guard) is identical from the first batch. Raises
    ``NotImplementedError`` per batch when delta-spark is absent
    (loud, never a silent parquet fallback).
    """
    from dataflow_python_etl_spark.operators.upsert import (
        merge_df,
        merge_table_transactional,
        write_and_swap,
    )

    if engine not in ("parquet", "delta"):
        raise ValueError(f"engine must be parquet|delta, got {engine!r}")
    if engine == "delta":
        try:
            import delta  # noqa: F401
        except ImportError as e:
            raise NotImplementedError(
                "stream_cdc_to_table(engine='delta') requires the delta-spark "
                "package; use the default parquet engine instead"
            ) from e

    def _clauses(data_cols):
        return dict(
            when_matched_update={
                c: F.col(f"s.{c}") for c in data_cols if c not in key_cols
            },
            when_matched_delete_condition=F.col(f"s.{op_col}") == "D",
            when_not_matched_insert={c: F.col(f"s.{c}") for c in data_cols},
            when_not_matched_insert_condition=F.col(f"s.{op_col}") != "D",
        )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        data_cols = [c for c in batch_df.columns if c != op_col]
        if engine == "delta":
            # the Delta log is the missing-table authority (no .__bak_
            # convention to recover from) — but a vanished table past
            # batch 0 must still refuse to rebuild from one batch
            if not os.path.exists(table_path):
                if batch_id > 0:
                    raise RuntimeError(
                        f"streaming sink restart at batch {batch_id} but Delta "
                        f"table {table_path} is missing — refusing to rebuild "
                        "from a single batch."
                    )
                (
                    batch_df.select(*data_cols)
                    .where(F.lit(False))
                    .write.format("delta")
                    .save(table_path)
                )
            merge_table_transactional(
                spark, table_path, batch_df, key_cols, **_clauses(data_cols)
            )
            return
        _guard_missing_table(table_path, batch_id)
        if os.path.exists(table_path):
            existing = spark.read.parquet(table_path)
        else:
            existing = batch_df.select(*data_cols).where(F.lit(False))
        merged = merge_df(existing, batch_df, key_cols, **_clauses(data_cols))
        write_and_swap(merged, table_path)

    return _start(stream_df, apply_batch, checkpoint, "update")


def _guard_replay(
    batch: DataFrame,
    corpus: DataFrame,
    id_col: str,
    replay_guard: str,
    wm: dict | None,
) -> DataFrame:
    """Drop already-ingested ids from a micro-batch.

    ``anti_join``: correct for arbitrary ids, but the guard itself
    scans the corpus's id column every batch — a cost that grows with
    the corpus forever. ``watermark``: when ids are monotone, the same
    guarantee is a pure JVM filter against the last committed
    ``max_id`` — the returned plan never references the corpus at all
    (plan-pinned in tests/test_ingest_watermark.py: zero exchanges,
    no corpus scan).
    """
    if replay_guard == "watermark":
        if wm is not None:
            return batch.where(F.col(id_col) > F.lit(wm["max_id"]))
        return batch
    return batch.join(corpus, id_col, "left_anti")


def _watermark_path(base: str) -> str:
    return base + ".__ingest_watermark"


def _write_watermark(wm_path: str, batch_id: int, max_id) -> None:
    # atomic: a torn watermark would silently re-admit (or worse,
    # permanently skip) ids on the next restart
    _write_json_atomic(wm_path, {"batch_id": batch_id, "max_id": max_id})


def _decided_max_id(
    batch: DataFrame, id_col: str, wm: dict | None, wm_path: str, batch_id: int
):
    """Highest id this batch DECIDED (survivor or dup — a dropped dup
    is a decision too; re-admitting it later would flip it). None when
    the watermark already covers every id (source-level replay): the
    batch is then recorded as done and nothing else is touched. An
    empty FIRST batch has no watermark to carry forward, so it writes
    none rather than invent one."""
    max_id = batch.agg(F.max(id_col)).first()[0]
    if max_id is None and wm is not None:
        _write_watermark(wm_path, batch_id, wm["max_id"])
    return max_id


def _survivors(
    candidates: DataFrame, pairs: DataFrame, id_col: str, probed: bool
) -> DataFrame:
    """The survivor rule every ingest sink shares. A candidate is
    dropped when it pairs with anything already decided: an ingested
    item (either side of the ``(doc_a, doc_b)`` pair — the corpus is
    immutable, its members are never removed) or a lower-id candidate
    (doc_b of a new-new pair). Before anything was ingested
    (``probed`` False) every pair is new-new and the rule is "drop
    doc_b". Materialized, so the index and corpus writes see one
    consistent survivor set (and the probe's caches can be freed)."""
    if probed:
        new_ids = candidates.select(F.col(id_col).alias("__nid"))
        b_new = pairs.join(
            new_ids, pairs["doc_b"] == F.col("__nid"), "left_semi"
        ).select(F.col("doc_b").alias(id_col))
        a_new_b_corpus = (
            pairs.join(new_ids, pairs["doc_b"] == F.col("__nid"), "left_anti")
            .join(new_ids, pairs["doc_a"] == F.col("__nid"), "left_semi")
            .select(F.col("doc_a").alias(id_col))
        )
        removals = b_new.union(a_new_b_corpus).distinct()
    else:
        removals = pairs.select(F.col("doc_b").alias(id_col)).distinct()
    return candidates.join(removals, id_col, "left_anti").localCheckpoint(eager=True)


def _set_pairs(
    index: DataFrame | None,
    hashes: DataFrame,
    metric: str,
    min_score_ppm: int,
    multiset: bool,
) -> DataFrame:
    """``(doc_a, doc_b)`` pairs of a set-fingerprint probe
    (``multimodal.set_fingerprint_pairs_incremental``)."""
    from dataflow_python_etl_spark.operators.multimodal import (
        set_fingerprint_pairs_incremental,
    )

    return set_fingerprint_pairs_incremental(
        index, hashes, metric=metric, min_score_ppm=min_score_ppm, multiset=multiset
    ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))


class _ParquetIndex:
    """A near-dup sink's index as plain parquet at ``path`` — the
    default store; same surface as ``dedup.BandIndexStore``."""

    def __init__(self, spark: SparkSession, path: str) -> None:
        self.spark, self.path = spark, path

    def exists(self) -> bool:
        return os.path.exists(self.path)

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.path)

    def append(self, rows: DataFrame) -> None:
        rows.write.mode("append").parquet(self.path)

    def drop(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def _near_dup_ingest(
    stream: DataFrame,
    corpus_path: str,
    index_path: str,
    checkpoint: str,
    *,
    sink: str,
    id_col: str,
    payload_col: str,
    replay_guard: str,
    fingerprint,
    probe,
    index_rows,
    gate=None,
    index_store=None,
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """The one skeleton behind every online near-dup ingest sink: each
    micro-batch of ``(id_col, payload_col)`` rows is deduped against
    the ALREADY-INGESTED corpus (via a persisted index) and against
    itself, and only survivors are appended. Three plug-ins make a
    sink:

    - ``fingerprint(docs)``: the batch's fingerprint frame, computed
      once (the plug-in caches it when it has two consumers);
    - ``probe(batch, fp, corpus, index)``: ``(doc_a, doc_b)`` pairs
      against the index, or within the batch alone when ``corpus``
      and ``index`` are None (nothing ingested yet);
    - ``index_rows(docs, fp)``: the index rows to store for ``docs``'
      ids (the survivors; the whole corpus when a lost index is
      rebuilt, with ``fp = fingerprint(corpus)``).

    ``gate(batch)`` optionally filters the batch before the replay
    guard; ``index_store(spark)`` swaps the plain-parquet index for a
    store with the same surface (``dedup.BandIndexStore``).

    Crash-safety contract (foreachBatch is AT-LEAST-once; every write
    here is per-key idempotent or partition-overwritten — never an
    additive fold):

    - A restart whose corpus vanished while an ingest artifact (index
      or watermark) survives FAILS instead of silently rebuilding the
      corpus from one batch (every prior survivor would be lost AND
      replayed ids would re-enter as "new"). batch_id alone is no
      evidence of prior ingestion — an empty batch 0 writes nothing —
      and the index is appended before the corpus, so any ingest
      leaves an artifact.
    - A lost index is rebuilt FROM the corpus and PERSISTED before use:
      an in-plan rebuild used once would leave the index holding only
      this batch's rows, silently blinding every later batch to every
      pre-loss corpus doc (the poisoned-index failure mode).
    - Replay guard: ``anti_join`` drops ids already in the corpus;
      ``watermark`` (monotone ids) is a pure filter ``id > max_id``
      against a tiny atomically-replaced watermark file, corpus
      appends become dynamic partition OVERWRITES of ``ingest_batch=
      <id>`` (a crash-replayed batch rewrites its own partition), and a
      replay arriving after the watermark committed (batch_id ==
      recorded) is a pure no-op.
    - Order: index first, then corpus, then (watermark mode) the
      watermark. A crash between the index and corpus appends
      re-processes the batch; its duplicate index rows only re-propose
      the same candidate pairs, which every probe absorbs. A crash
      between the corpus append and the watermark write replays the
      batch against a corpus already holding it: identity pairs are
      excluded and the probes de-duplicate ids, so the replay
      converges to the identical survivor set and the partition
      overwrite is idempotent.

    Gates and probes must be deterministic so replays re-decide the
    same way. Ids must be unique across the stream's lifetime."""
    from dataflow_python_etl_spark.operators.dedup import unpersist_all

    if replay_guard not in ("anti_join", "watermark"):
        raise ValueError(f"replay_guard must be anti_join|watermark, got {replay_guard!r}")
    wm_path = _watermark_path(corpus_path)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        store = index_store(spark) if index_store else _ParquetIndex(spark, index_path)
        batch = batch_df.select(id_col, payload_col)
        if (
            not os.path.exists(corpus_path)
            and batch_id > 0
            and (store.exists() or os.path.exists(wm_path))
        ):
            raise RuntimeError(
                f"{sink} restart at batch {batch_id} but corpus {corpus_path} "
                "is missing — refusing to rebuild from a single batch; restore "
                "the corpus or start a fresh checkpoint."
            )
        wm = _read_json(wm_path) if replay_guard == "watermark" else None
        if wm is not None and batch_id == wm["batch_id"]:
            return  # this exact batch fully committed — replay is a no-op
        if gate is not None:
            batch = gate(batch)
        corpus = index = None
        if os.path.exists(corpus_path):
            corpus = spark.read.parquet(corpus_path).select(id_col, payload_col)
            batch = _guard_replay(batch, corpus, id_col, replay_guard, wm)
            if not store.exists():
                store.drop()  # a stale catalog row / partial dir
                store.append(index_rows(corpus, fingerprint(corpus)))
            index = store.read()
        fp = fingerprint(batch)
        pairs = probe(batch, fp, corpus, index)
        max_id = None
        if replay_guard == "watermark":
            max_id = _decided_max_id(batch, id_col, wm, wm_path, batch_id)
            if max_id is None:
                unpersist_all()  # probe caches registered before the filter emptied
                return
        survivors = _survivors(batch, pairs, id_col, probed=index is not None)
        store.append(index_rows(survivors, fp))
        if replay_guard == "watermark":
            _overwrite_partitions(survivors, corpus_path, batch_id=batch_id)
            _write_watermark(wm_path, batch_id, max_id)
        else:
            survivors.write.mode("append").parquet(corpus_path)
        unpersist_all()

    return _start(stream, apply_batch, checkpoint)


def stream_dedup_ingest(
    stream_docs: DataFrame,
    corpus_path: str,
    index_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_perm: int = 32,
    rows_per_band: int = 4,
    threshold: float = 0.5,
    index_table: str | None = None,
    index_buckets: int = 32,
    replay_guard: str = "anti_join",
    decontaminate_against: DataFrame | None = None,
    decontaminate_min_overlap: int = 1,
    dsir_weights: DataFrame | None = None,
    min_dsir_ppm: int = 1_000_000,
    dsir_buckets: int = 1024,
    classifier_weights: DataFrame | None = None,
    classifier_min_margin: int = 0,
    classifier_buckets: int = 1024,
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """Online near-dup-filtered corpus ingestion: each micro-batch of
    documents is deduped against the ALREADY-INGESTED corpus (and
    itself) via the persisted MinHash band index, and only survivors
    are appended — the streaming composition of
    :func:`~dataflow_python_etl_spark.operators.dedup.minhash_lsh_pairs_incremental`
    on the :func:`_near_dup_ingest` skeleton, which owns the survivor
    rule and the whole crash-safety contract.

    The EXPENSIVE work per batch scales with the BATCH: signatures
    are computed for batch docs only, and verification re-shingles
    only HIT corpus docs (semi-join-pruned) — the corpus is never
    re-signed. Two knobs remove the remaining corpus-sized per-batch
    costs:

    - ``index_table``: persist the band index as a catalog table
      BUCKETED by (band, sig)
      (:class:`~dataflow_python_etl_spark.operators.dedup.BandIndexStore`).
      The probe then co-locates on the index's layout — only the
      batch's bands shuffle; the index side has no Exchange
      (plan-pinned in tests/test_band_index.py). ``index_path``
      becomes the external table's file location.
    - ``replay_guard="watermark"``: for MONOTONE doc ids, replace the
      corpus-sized replay anti-join with a pure filter against the
      watermark (plan-pinned: no corpus scan in the guard).

    ``decontaminate_against`` drops any batch doc sharing ≥
    ``decontaminate_min_overlap`` n-gram shingles with the supplied
    benchmark set BEFORE signing (the streaming twin of
    ``curate_corpus(decontaminate_against=…)``): the eval gram set is
    checkpointed once at stream build and each batch broadcast-joins
    it, so the gate's per-batch cost scales with the batch.
    ``dsir_weights`` (a frozen ``lm.dsir_weight_table`` frame) adds an
    online TARGET-LIKENESS gate: batch docs whose PER-GRAM MEAN
    ``lm.dsir_score_with`` score is under ``min_dsir_ppm`` are dropped
    before signing (integer cross-multiply — the raw score is a
    length-scaled sum; default threshold 1_000_000 = mean ratio 1:
    keep docs whose hashed-n-gram profile is net target-like). Docs
    with no tokens — NULL, empty, or whitespace-only text
    (``_gram_buckets`` drops zero-length tokens, so the '' split
    artifact never reaches the ''-gram bucket; ADVICE r8) — produce no
    score and are DROPPED by this gate (a quality gate requires
    evidence; "no evidence, no ingest"). ``classifier_weights`` (a
    frozen ``classifier.quality_classifier_fit`` table) adds the
    TRAINED quality gate — the streaming twin of
    ``curate_corpus(classifier_weights=…)``: batch docs are kept iff
    their hashed-linear ``margin > classifier_min_margin``, gramless
    docs dropped on the same no-evidence rule. All three gates are
    deterministic, so crash replays re-drop the same docs.

    Replay convergence on this probe: duplicate index rows are
    harmless because candidates are aggregated per pair in the
    posting-list join (``_posting_common``'s pair groupBy) and every
    downstream consumer reaches the corpus via semi-joins; a batch
    replayed against a corpus already holding it is de-duplicated by
    ``_verify_jaccard(dedup_ids=True)``.
    """
    from dataflow_python_etl_spark.operators.dedup import (
        BandIndexStore,
        _band_frame,
        minhash_lsh_pairs,
        minhash_lsh_pairs_incremental,
        minhash_signatures,
    )

    # Streaming decontamination gate: the eval set's distinct gram set
    # is materialized ONCE at stream build (localCheckpoint — a plain
    # registered cache would be evicted by the per-batch
    # unpersist_all), then every batch broadcast-joins against it —
    # the per-batch cost scales with the batch, never the eval set.
    eval_grams = None
    if decontaminate_against is not None:
        from dataflow_python_etl_spark.functions.text import shingles as _shingles

        eval_grams = (
            decontaminate_against.select(
                F.explode(F.array_distinct(_shingles(text_col, n))).alias("shingle")
            )
            .distinct()
            .localCheckpoint(eager=True)
        )

    # Frozen DSIR weight table, same lifecycle rationale as eval_grams:
    # materialized once at stream build, broadcast per batch.
    frozen_weights = None
    if dsir_weights is not None:
        frozen_weights = dsir_weights.localCheckpoint(eager=True)

    # Frozen trained-classifier weights (classifier.py), same pattern:
    # the streaming twin of curate_corpus(classifier_weights=…).
    frozen_clf = None
    if classifier_weights is not None:
        frozen_clf = classifier_weights.localCheckpoint(eager=True)

    def gate(batch: DataFrame) -> DataFrame:
        if eval_grams is not None:
            # same candidate shape as dedup.contamination_check, minus
            # the size scan (min_overlap thresholds the raw hit count):
            # a contaminated doc is dropped BEFORE signing, so it never
            # enters the index or corpus
            from dataflow_python_etl_spark.operators.dedup import _doc_shingles

            hits = (
                _doc_shingles(batch, id_col, text_col, n)
                .join(F.broadcast(eval_grams), "shingle")
                .groupBy("doc")
                .agg(F.count(F.lit(1)).alias("__n_ov"))
                .where(F.col("__n_ov") >= decontaminate_min_overlap)
                .select(F.col("doc").alias(id_col))
            )
            batch = batch.join(hits, id_col, "left_anti")
        if frozen_weights is not None:
            # online DSIR target-likeness gate: semi-join on the ids
            # whose frozen-weight score clears the threshold — docs
            # with no tokens have no score row and are dropped
            from dataflow_python_etl_spark.operators.lm import dsir_score_with

            passing = dsir_score_with(
                batch, frozen_weights, id_col, text_col, dsir_buckets
            ).where(
                # per-gram MEAN threshold (integer cross-multiply):
                # the raw score is a length-scaled sum, so a fixed
                # absolute threshold would just gate on doc length
                F.col("dsir_score_ppm")
                >= F.lit(min_dsir_ppm) * F.col("n_grams")
            )
            batch = batch.join(passing.select(id_col), id_col, "left_semi")
        if frozen_clf is not None:
            # online TRAINED quality gate: keep iff margin >
            # classifier_min_margin; gramless docs have no score row
            # and are dropped (no evidence, no ingest)
            from dataflow_python_etl_spark.operators.classifier import (
                quality_classifier_score_with,
            )

            keep_clf = quality_classifier_score_with(
                batch,
                frozen_clf,
                id_col=id_col,
                text_col=text_col,
                buckets=classifier_buckets,
            ).where(F.col("margin") > classifier_min_margin)
            batch = batch.join(keep_clf.select(id_col), id_col, "left_semi")
        return batch

    def probe(batch, _fp, corpus, index) -> DataFrame:
        if index is None:
            return minhash_lsh_pairs(
                batch, id_col, text_col, n, num_perm, rows_per_band, threshold
            )
        return minhash_lsh_pairs_incremental(
            corpus, batch, index, id_col, text_col, n, num_perm, rows_per_band, threshold
        )

    def index_rows(docs: DataFrame, _fp) -> DataFrame:
        # MinHash signs inside the probe, so the "fingerprint" is the
        # documents themselves and the band rows re-sign ``docs`` (the
        # materialized survivors, not the batch's lazy plan)
        return _band_frame(
            minhash_signatures(docs, id_col, text_col, n, num_perm),
            id_col,
            num_perm,
            rows_per_band,
        )

    def bucketed_store(spark: SparkSession) -> BandIndexStore:
        return BandIndexStore(spark, index_table, path=index_path, n_buckets=index_buckets)

    return _near_dup_ingest(
        stream_docs,
        corpus_path,
        index_path,
        checkpoint,
        sink="stream_dedup_ingest",
        id_col=id_col,
        payload_col=text_col,
        replay_guard=replay_guard,
        fingerprint=lambda docs: docs,
        probe=probe,
        index_rows=index_rows,
        gate=gate,
        index_store=bucketed_store if index_table is not None else None,
    )


def stream_image_dedup_ingest(
    stream_images: DataFrame,
    corpus_path: str,
    index_path: str,
    checkpoint: str,
    id_col: str = "image_id",
    payload_col: str = "payload",
    max_hamming: int = 6,
    n_bands: int = 8,
    replay_guard: str = "anti_join",
    fingerprint_fn=None,
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """Online near-dup-filtered MULTIMODAL ingestion: each micro-batch
    of images is perceptually fingerprinted (real decode,
    ``multimodal.image_phash``), Hamming-matched against the
    ALREADY-INGESTED corpus via the persisted fingerprint index (and
    against itself), and only survivors are appended — the streaming
    composition of ``multimodal.image_near_dup_pairs`` on the
    :func:`_near_dup_ingest` skeleton (survivor rule and crash-safety
    contract live there), mirroring what :func:`stream_dedup_ingest`
    is to MinHash text dedup (VERDICT r7 gap 3: a live crawl could
    dedup text online but not images).

    The EXPENSIVE work per batch scales with the BATCH: only batch
    payloads are decoded, and the probe
    (``dedup.hamming_banded_pairs_incremental``) explodes only batch
    bands against the index's 16-byte ``(id, phash)`` rows — the
    corpus's binary payloads are never re-read on the ingest path
    (only a lost index is rebuilt from them, one re-decode). The
    probe's ``distinct`` absorbs the duplicate index rows a crash
    between the index and corpus appends leaves.

    ``fingerprint_fn`` swaps the perceptual kernel: any
    ``(df, id_col, payload_col) -> (id, phash)`` fingerprinter — pass
    ``multimodal.audio_phash`` to stream AUDIO clips through the same
    sink (the fingerprint frame's first column is renamed to
    ``id_col`` positionally, so the kernels' differing default id
    names don't matter). Default: ``multimodal.image_phash``."""
    from dataflow_python_etl_spark.operators.dedup import (
        _persist,
        hamming_banded_pairs_incremental,
    )
    from dataflow_python_etl_spark.operators.multimodal import image_phash

    if fingerprint_fn is None:
        fingerprint_fn = image_phash

    def fingerprint(docs: DataFrame) -> DataFrame:
        return _persist(fingerprint_fn(docs, id_col, payload_col).toDF(id_col, "phash"))

    def probe(_batch, sig, _corpus, index) -> DataFrame:
        return hamming_banded_pairs_incremental(
            index, sig, id_col, "phash", max_hamming, n_bands,
            combine=2 if max_hamming <= n_bands - 2 else 1,
        )

    return _near_dup_ingest(
        stream_images,
        corpus_path,
        index_path,
        checkpoint,
        sink="stream_image_dedup_ingest",
        id_col=id_col,
        payload_col=payload_col,
        replay_guard=replay_guard,
        fingerprint=fingerprint,
        probe=probe,
        index_rows=lambda docs, sig: sig.join(docs.select(id_col), id_col, "left_semi"),
    )


def stream_video_dedup_ingest(
    stream_videos: DataFrame,
    corpus_path: str,
    index_path: str,
    checkpoint: str,
    id_col: str = "video_id",
    payload_col: str = "payload",
    min_score_ppm: int = 500_000,
    replay_guard: str = "anti_join",
    hash_fn=None,
    metric: str = "jaccard",
    multiset: bool = False,
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """Online near-dup-filtered VIDEO ingestion — the set-fingerprint
    sibling of :func:`stream_image_dedup_ingest` (a video's identity
    is its frame-hash SET, not one 64-bit value, so the probe is
    shared-hash Jaccard, not Hamming banding). Each micro-batch is
    frame-decoded once (``multimodal.video_frame_hashes``, map-side),
    scored against the already-ingested corpus via the
    persisted index (``multimodal.set_fingerprint_pairs_incremental``)
    and against itself, and only survivors are appended; the survivor
    rule and crash-safety contract are the :func:`_near_dup_ingest`
    skeleton's (the probe's match-level distinct absorbs duplicate
    index rows).

    The index stores ``(id, set_hash, c, n)`` rows — ``c`` (the
    hash's multiplicity within the id) and ``n`` (the id's total
    count) are denormalized per row so the probe NEVER re-aggregates
    the corpus: per-batch cost scales with the batch and the
    hash-matched index rows only; corpus payloads are never re-read
    on the ingest path.

    Like the phash sink's ``fingerprint_fn``, the kernel is
    pluggable: ``hash_fn`` is any ``(df, id_col, payload_col) ->
    (id, hash)`` FAN-OUT (default ``multimodal.video_frame_hashes``),
    ``metric`` picks ``jaccard`` (near-dup) or ``containment``
    (trim/sub-clip), and ``multiset=True`` keeps hash multiplicity.
    Passing ``hash_fn=multimodal.audio_cdc_segments,
    metric="containment", multiset=True, min_score_ppm=600_000``
    streams AUDIO clips with online TRIM filtering — a re-posted cut
    of an already-ingested recording is dropped at ingest."""
    from dataflow_python_etl_spark.operators.dedup import _persist
    from dataflow_python_etl_spark.operators.multimodal import (
        set_fingerprint_counts,
        video_frame_hashes,
    )

    if hash_fn is None:
        hash_fn = video_frame_hashes

    def fingerprint(docs: DataFrame) -> DataFrame:
        # decode ONCE per payload: the (id, hash) fan-out
        return _persist(hash_fn(docs, id_col, payload_col).toDF("sid", "shash"))

    def probe(_batch, raw, _corpus, index) -> DataFrame:
        return _set_pairs(index, raw, metric, min_score_ppm, multiset)

    def index_rows(docs: DataFrame, raw: DataFrame) -> DataFrame:
        return (
            set_fingerprint_counts(raw, multiset)
            .toDF(id_col, "set_hash", "c", "n")
            .join(docs.select(id_col), id_col, "left_semi")
        )

    return _near_dup_ingest(
        stream_videos,
        corpus_path,
        index_path,
        checkpoint,
        sink="stream_video_dedup_ingest",
        id_col=id_col,
        payload_col=payload_col,
        replay_guard=replay_guard,
        fingerprint=fingerprint,
        probe=probe,
        index_rows=index_rows,
    )


def apply_ivf_index_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize: str | None = None,
    pq_codebooks: list | None = None,
    replay_guard: str = "watermark",
) -> None:
    """One micro-batch of the streaming ANN index (factored out of
    :func:`stream_embeddings_to_ivf_index` so tests can drive replay
    semantics directly, like ``apply_search_index_batch``).

    The streamed index is the same inverted file
    ``ivf_topk_indexed`` reads, but STREAM-OWNED and partitioned
    ``(cid, ingest_batch)``: each batch assigns only its own vectors
    against the frozen centroids (O(batch) map) and lands as a
    DYNAMIC partition overwrite of its ``ingest_batch=N``
    sub-partitions — foreachBatch is AT-LEAST-once, and a replayed
    batch REWRITES exactly its own partitions, so the index converges
    without a ledger (the ``stream_docs_to_search_index`` pattern).
    The extra ``ingest_batch`` partition level is transparent to
    readers: ``cid`` stays the top-level pruning key and
    ``ivf_topk_indexed`` selects its columns explicitly.

    ``replay_guard="watermark"`` additionally drops rows whose id is
    ≤ the persisted max (monotone-id sources: a SOURCE-level replay
    into a fresh batch id cannot duplicate ids); ``"none"`` trusts
    the upstream unique-id contract. PQ mode requires
    ``pq_codebooks`` (grid codebooks need no training data and never
    go stale on append — the natural streaming choice); the sidecar
    is written before the first data batch and validated against the
    passed codebooks on every restart, so code/codebook drift is
    impossible."""
    from dataflow_python_etl_spark.operators.similarity import (
        CENTROID_SIDECAR,
        PQ_SIDECAR,
        _assigned,
        _index_quantize_mode,
        _quantize_int8,
        _quantize_pq,
        _write_pq_sidecar,
        load_ivf_centroids,
        load_pq_codebooks,
    )

    if quantize not in (None, "int8", "pq"):
        raise ValueError(f"quantize must be None|'int8'|'pq', got {quantize!r}")
    if quantize == "pq" and pq_codebooks is None:
        raise ValueError("quantize='pq' requires pq_codebooks")
    if replay_guard not in ("watermark", "none"):
        raise ValueError(
            f"replay_guard must be watermark|none, got {replay_guard!r}"
        )
    spark = batch_df.sparkSession
    exists = os.path.exists(index_path)
    if not exists and batch_id > 0:
        raise RuntimeError(
            f"stream_embeddings_to_ivf_index restart at batch {batch_id} but "
            f"index {index_path} is missing — refusing to restart over a lost "
            "index (earlier batches are gone); start a fresh checkpoint."
        )
    if exists:
        try:
            cols = spark.read.parquet(index_path).schema.fieldNames()
        except Exception:
            cols = None  # dir holds only the sidecar (pre-first-data crash)
        existing_mode = _index_quantize_mode(cols) if cols is not None else quantize
        if existing_mode != quantize:
            raise ValueError(
                f"quantize mismatch: index at {index_path} holds "
                f"{existing_mode!r} rows, sink configured {quantize!r}"
            )
    if quantize == "pq":
        sidecar = os.path.join(index_path, PQ_SIDECAR)
        if os.path.exists(sidecar):
            if load_pq_codebooks(index_path) != pq_codebooks:
                raise ValueError(
                    f"PQ codebooks at {index_path} differ from the sink's — "
                    "a restart must pass the codebooks the index was built "
                    "with (re-encoding drift would corrupt scores)"
                )
        else:
            os.makedirs(index_path, exist_ok=True)
            _write_pq_sidecar(index_path, pq_codebooks)
    # centroid sidecar: same lifecycle — written before the first data
    # batch so the index is self-describing (ivf_topk_indexed with
    # centroids=None), validated on every restart because assigning
    # against DIFFERENT centroids than earlier batches would silently
    # split cells across two quantizers
    cent_sidecar = os.path.join(index_path, CENTROID_SIDECAR)
    if os.path.exists(cent_sidecar):
        if load_ivf_centroids(index_path) != centroids:
            raise ValueError(
                f"centroids at {index_path} differ from the sink's — a "
                "restart must pass the centroids the index was built with "
                "(mixed-quantizer cells would silently corrupt probes)"
            )
    else:
        os.makedirs(index_path, exist_ok=True)
        _write_json_atomic(cent_sidecar, centroids)

    batch = batch_df.select(id_col, vec_col)
    wm_path = _watermark_path(index_path)
    wm = _read_json(wm_path) if replay_guard == "watermark" else None
    if wm is not None and batch_id == wm["batch_id"]:
        return  # this exact batch fully committed — replay is a no-op
    max_id = None
    if replay_guard == "watermark":
        batch = _guard_replay(batch, None, id_col, replay_guard, wm)
        max_id = _decided_max_id(batch, id_col, wm, wm_path, batch_id)
        if max_id is None:  # nothing new this batch
            return

    assigned = _assigned(batch, centroids, id_col, vec_col)
    if quantize == "int8":
        assigned = _quantize_int8(assigned)
    elif quantize == "pq":
        assigned = _quantize_pq(assigned, pq_codebooks)
    _overwrite_partitions(assigned, index_path, "cid", batch_id=batch_id)
    if replay_guard == "watermark":
        _write_watermark(wm_path, batch_id, max_id)


def stream_embeddings_to_ivf_index(
    stream_vectors: DataFrame,
    index_path: str,
    centroids: list[list[float]],
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantize: str | None = None,
    pq_codebooks: list | None = None,
    replay_guard: str = "watermark",
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """Online ANN index maintenance: stream embedding rows into a
    cell-partitioned IVF inverted file that ``ivf_topk_indexed``
    serves QUERIES from while the stream runs — completing the
    streaming ingest matrix (text/image/video/audio sinks exist;
    vectors did not). Per-batch cost is O(batch): one assignment map
    against the frozen broadcast centroids, one partitioned write.
    See :func:`apply_ivf_index_batch` for the idempotence and
    crash-safety contract. Cell balance drifts as the corpus grows —
    watch ``ivf_index_stats`` and rebuild offline when stale (grid PQ
    codebooks, being data-independent, survive the rebuild)."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        apply_ivf_index_batch(
            batch_df,
            batch_id,
            index_path,
            centroids,
            id_col=id_col,
            vec_col=vec_col,
            quantize=quantize,
            pq_codebooks=pq_codebooks,
            replay_guard=replay_guard,
        )

    return _start(stream_vectors, apply, checkpoint)


def stream_text_containment_ingest(
    stream_docs: DataFrame,
    corpus_path: str,
    index_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    min_containment_ppm: int = 800_000,
    replay_guard: str = "anti_join",
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """Online SUBSET-duplication-filtered text ingestion — the
    streaming twin of :func:`operators.dedup.containment_pairs`
    (q147): a crawl item that embeds an already-ingested document
    verbatim (quoted article, aggregator page, chunk-of-a-book) is
    dropped at ingest, the case Jaccard-tier sinks structurally miss.

    Pure composition: the text shingle kernel
    (``dedup.text_shingle_hashes`` — per-doc-distinct word n-grams,
    xxhash64-compressed index rows) plugged into the generic
    set-fingerprint sink with the containment metric, inheriting its
    whole crash matrix (index-then-corpus ordering, lost-index
    rebuild-from-corpus, replay-guard modes). Differences from the
    batch form, by design: the probe joins the batch's hashes against
    the FULL persisted index (no prefix filter — prefix filtering
    needs corpus-global document frequencies, which are exactly what
    a stream doesn't have yet), and there is no ``max_shingle_df``
    boilerplate cap for the same reason; per-batch cost scales with
    the batch and its hash-matched index rows only. Scores are the
    same exact-integer ppm cross-multiply as the batch operator."""
    from dataflow_python_etl_spark.operators.dedup import text_shingle_hashes

    def kernel(df: DataFrame, i: str, p: str) -> DataFrame:
        return text_shingle_hashes(df, i, p, n=n)

    return stream_video_dedup_ingest(
        stream_docs,
        corpus_path,
        index_path,
        checkpoint,
        id_col=id_col,
        payload_col=text_col,
        min_score_ppm=min_containment_ppm,
        replay_guard=replay_guard,
        hash_fn=kernel,
        metric="containment",
        multiset=False,
    )


# ---------------------------------------------------------------------------
# Chunked-CDC streaming containment for LONG media (VERDICT r8 #3):
# an hour-scale recording never fits one micro-batch row, so it
# arrives as ordered (clip_id, chunk_seq, payload) chunk rows —
# possibly spread across micro-batches — and an incremental parser
# must re-assemble per clip with BOUNDED carry state (multimodal.
# cdc_push_chunk: W-1 window tail + the open segment's partials,
# O(W) per open clip regardless of recording length; video_cdc_
# push_chunk: a RIFF walker whose buffer stays bounded by one frame).
# ---------------------------------------------------------------------------

CHUNK_STATE_DDL = (
    "clip_id long, tail array<double>, seg_sum long, seg_len long, "
    "n_seen long, next_seq long"
)
VIDEO_CHUNK_STATE_DDL = (
    "clip_id long, stage string, buf binary, vids long, end long, "
    "movi_end long, abs long, skip long, n_frames long, next_seq long"
)


class _ChunkCodec(NamedTuple):
    """What a chunked sink plugs into :func:`_apply_chunked_batch`."""

    kind: str  # "audio" | "video", for error messages
    data_col: str  # the chunk payload column
    hash_col: str  # on-disk hash column of the segment and index rows
    state_ddl: str  # on-disk carry state, one row per open clip
    new: Callable  # () -> fresh parser state
    load: Callable  # carry-state row -> parser state
    push: Callable  # (state, chunk) -> (state, completed hashes)
    finish: Callable  # state -> trailing hashes; raises on a malformed clip
    dump: Callable  # parser state -> carry-state fields
    metric: str  # set_fingerprint_pairs_incremental metric
    multiset: bool
    length: tuple  # (state field, corpus column) of the clip length
    size_col: str  # corpus column of the fingerprint size


def _guard_lost_corpus(
    ledger: dict | None, corpus_path: str, batch_id: int, kind: str
) -> None:
    """Raise iff a COMMITTED batch recorded the corpus as written but it
    is now missing — genuine data loss, refuse to rebuild from one batch.

    The corpus dir is only created when a clip FINISHES, while the carry
    state is swapped every batch, so ``state exists && corpus missing``
    is a legitimately progressing stream whose first recording spans
    micro-batches (ADVICE r10 high: the old state-existence guard killed
    exactly that stream at batch 1). The index cannot stand in either:
    it is written strictly BEFORE the corpus, so the replay-tested crash
    window (index written, corpus not yet, ledger not yet swapped) would
    false-positive. Only the ledger flag — swapped atomically WITH the
    state, LAST — proves the corpus should exist. Ledgers predating the
    flag default to True (conservative against silent data loss)."""
    if (
        not os.path.exists(corpus_path)
        and ledger is not None
        and bool(ledger.get("corpus_written", True))
    ):
        raise RuntimeError(
            f"chunked {kind} ingest restart at batch {batch_id} but corpus "
            f"{corpus_path} is missing despite a committed batch having "
            "written it — refusing to rebuild from a single batch; restore "
            "the corpus or start a fresh checkpoint."
        )


def _apply_chunked_batch(
    batch_df: DataFrame,
    batch_id: int,
    codec: _ChunkCodec,
    *,
    seg_path: str,
    state_path: str,
    index_path: str,
    corpus_path: str,
    id_col: str,
    min_score_ppm: int,
) -> None:
    """The one foreachBatch applier behind the chunked sinks; ``codec``
    binds the incremental parser and the scoring arithmetic.

    Batch rows: ``(clip_id, chunk_seq, <codec.data_col>, is_last)``,
    IN ORDER per clip (chunk splitting / container decode is the
    upstream landing contract; this sink owns reassembly). Out-of-order
    or gapped arrival and a mid-clip ``is_last`` raise loudly: a
    silently mis-ordered chunk would fabricate fingerprint boundaries.

    Idempotence matrix (foreachBatch is AT-LEAST-once; every write is a
    deterministic function of (state as of B−1, batch B)):

    - completed hashes → ``seg_path`` partition ``ingest_batch=B`` via
      DYNAMIC partition overwrite (replay rewrites its own partition);
    - survivor index rows / corpus metadata → same pattern on
      ``index_path`` / ``corpus_path``;
    - carry state → ``write_and_swap`` with the ``_applied_batch``
      ledger INSIDE the swap, LAST, so a crash anywhere earlier
      replays into identical partition overwrites and a replay after
      the swap is a recorded no-op.

    Decision rule: every clip that FINISHES this batch is scored
    through ``multimodal.set_fingerprint_pairs_incremental`` (exact-
    integer ppm) against the index and the other finishing clips, and
    the shared :func:`_survivors` rule drops it if it matches an
    ingested clip or a lower-id finishing clip. A clip with no hash
    rows has no evidence and is dropped ("no evidence, no ingest").
    The index probe excludes ``ingest_batch == B`` (the round-10
    own-partition rule): a crashed attempt of THIS batch may already
    have written its index partition, and probing it would self-match
    every replayed clip and invert lower-id-wins peer decisions; the
    dynamic overwrite of the emptied survivor set would then no-op and
    the state swap seal a permanent index/corpus split."""
    import pandas as pd

    from dataflow_python_etl_spark.operators.dedup import unpersist_all
    from dataflow_python_etl_spark.operators.multimodal import set_fingerprint_counts
    from dataflow_python_etl_spark.operators.upsert import write_and_swap

    spark = batch_df.sparkSession
    ledger = _read_json(os.path.join(state_path, "_applied_batch.json"))
    if ledger is not None and batch_id <= int(ledger["batch_id"]):
        return  # fully committed — replay is a no-op
    _guard_lost_corpus(ledger, corpus_path, batch_id, codec.kind)
    chunks = batch_df.select(
        F.col(id_col).alias("clip_id"), "chunk_seq", codec.data_col, "is_last"
    )
    if chunks.isEmpty():
        return
    state = (
        spark.read.parquet(state_path)
        if os.path.exists(state_path)
        else spark.createDataFrame([], codec.state_ddl)
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("chunk_seq")
        first = pdf.iloc[0]
        clip = int(first["clip_id"])
        if pd.isna(first["next_seq"]):
            st, nxt = codec.new(), 0
        else:
            st, nxt = codec.load(first), int(first["next_seq"])
        seqs = [int(s) for s in pdf["chunk_seq"]]
        if seqs[0] != nxt or any(b != a + 1 for a, b in zip(seqs, seqs[1:])):
            raise ValueError(
                f"chunked {codec.kind} ingest: clip {clip} chunks arrived out "
                f"of order (expected seq {nxt}, got {seqs}) — ordered delivery "
                "is the upstream contract"
            )
        lasts = [bool(x) for x in pdf["is_last"]]
        if any(lasts[:-1]):
            raise ValueError(
                f"chunked {codec.kind} ingest: clip {clip} has is_last on a "
                "non-final chunk"
            )
        hashes: list = []
        for data in pdf[codec.data_col]:
            st, hs = codec.push(st, data)
            hashes.extend(hs)
        if lasts[-1]:
            hashes.extend(codec.finish(st))
        row = {"clip_id": clip, "hashes": hashes, "next_seq": seqs[-1] + 1, "finished": lasts[-1]}
        return pd.DataFrame([{**row, **codec.dump(st)}])

    upd = (
        chunks.join(state, "clip_id", "left")
        .groupBy("clip_id")
        .applyInPandas(kernel, codec.state_ddl + ", hashes array<long>, finished boolean")
        .localCheckpoint(eager=True)  # 4 consumers; kernel runs once
    )
    h = codec.hash_col

    # 1) this batch's completed hashes: replay overwrites itself
    _overwrite_partitions(
        upd.select("clip_id", F.explode("hashes").alias(h)), seg_path, batch_id=batch_id
    )

    # 2) finished clips: score the whole fingerprint, ingest or drop
    length_col, length_name = codec.length
    fin = upd.where("finished").select("clip_id", length_col)
    if not fin.isEmpty():
        raw = (
            spark.read.parquet(seg_path)
            .join(fin, "clip_id", "left_semi")
            .select("clip_id", h)
        )
        counts = set_fingerprint_counts(raw, codec.multiset).toDF("clip_id", h, "c", "n")
        index = None
        if os.path.exists(index_path):
            index = (
                spark.read.parquet(index_path)
                .where(F.col("ingest_batch") != F.lit(batch_id))
                .select("clip_id", h, F.col("c") if codec.multiset else F.lit(1).cast("long"), "n")
            )
        pairs = _set_pairs(index, raw, codec.metric, min_score_ppm, codec.multiset)
        survivors = _survivors(
            counts.select("clip_id", "n").distinct(), pairs, "clip_id", index is not None
        )
        _overwrite_partitions(
            counts.join(survivors.select("clip_id"), "clip_id", "left_semi").select(
                "clip_id", h, *(["c"] if codec.multiset else []), "n"
            ),
            index_path,
            batch_id=batch_id,
        )
        _overwrite_partitions(
            fin.join(survivors, "clip_id").select(
                "clip_id",
                F.col(length_col).alias(length_name),
                F.col("n").alias(codec.size_col),
            ),
            corpus_path,
            batch_id=batch_id,
        )
        unpersist_all()

    # 3) carry state LAST, ledger swapped atomically with it
    new_state = state.join(upd.select("clip_id"), "clip_id", "left_anti").unionByName(
        upd.where(~F.col("finished")).select(*state.columns)
    )
    write_and_swap(
        new_state,
        state_path,
        extra_files={
            "_applied_batch.json": json.dumps(
                # corpus_written: evaluated AFTER the corpus write so the
                # flag only turns true once a clip actually finished;
                # _guard_lost_corpus keys off it on restart.
                {
                    "batch_id": batch_id,
                    "corpus_written": os.path.exists(corpus_path),
                }
            )
        },
    )


def apply_chunked_audio_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    seg_path: str,
    state_path: str,
    index_path: str,
    corpus_path: str,
    id_col: str = "clip_id",
    min_containment_ppm: int = 600_000,
) -> None:
    """One foreachBatch application of the chunked-audio containment
    sink — module-level (the ``apply_ivf_index_batch`` precedent) so
    tests drive the exact production path deterministically and the
    streamed-vs-batch parity pin needs no micro-batch timing.

    The codec binding of :func:`_apply_chunked_batch` (row contract,
    idempotence matrix and survivor rule live there) for decoded PCM
    chunks ``(clip_id, chunk_seq, samples array<double>, is_last)``,
    reassembled by ``multimodal.cdc_push_chunk`` into CDC segments
    (``seg_hash`` rows). A finishing clip is dropped iff its segment
    MULTISET is contained ≥ ``min_containment_ppm`` in an already-
    ingested clip or a lower-id clip finishing in the same batch
    (exact-integer cross-multiply, multiset least/min — the batch
    ``audio_containment_pairs`` arithmetic); a clip whose every segment
    fell under the CDC minimum has no evidence and is dropped (the
    DSIR-gate discipline). Corpus rows: ``(clip_id, n_samples,
    n_segments)``."""
    from dataflow_python_etl_spark.operators.multimodal import (
        cdc_finish,
        cdc_push_chunk,
        cdc_state_new,
    )

    codec = _ChunkCodec(
        kind="audio",
        data_col="samples",
        hash_col="seg_hash",
        state_ddl=CHUNK_STATE_DDL,
        new=cdc_state_new,
        load=lambda r: (
            list(r["tail"]), int(r["seg_sum"]), int(r["seg_len"]), int(r["n_seen"])
        ),
        push=cdc_push_chunk,
        finish=cdc_finish,
        dump=lambda st: {
            "tail": [float(x) for x in st[0]],
            "seg_sum": st[1],
            "seg_len": st[2],
            "n_seen": st[3],
        },
        metric="containment",
        multiset=True,
        length=("n_seen", "n_samples"),
        size_col="n_segments",
    )
    _apply_chunked_batch(
        batch_df,
        batch_id,
        codec,
        seg_path=seg_path,
        state_path=state_path,
        index_path=index_path,
        corpus_path=corpus_path,
        id_col=id_col,
        min_score_ppm=min_containment_ppm,
    )


def apply_chunked_video_batch(
    batch_df: DataFrame,
    batch_id: int,
    *,
    seg_path: str,
    state_path: str,
    index_path: str,
    corpus_path: str,
    id_col: str = "clip_id",
    min_jaccard_ppm: int = 500_000,
) -> None:
    """One foreachBatch application of the chunked-VIDEO near-dup
    sink — the :func:`apply_chunked_audio_batch` twin for recordings
    that never fit one micro-batch row, fed as arbitrary BYTE ranges
    of an MJPEG AVI stream: ``(clip_id, chunk_seq, data binary,
    is_last)``; boundaries need not align with frames or RIFF chunks
    (the carry state is ``multimodal.video_cdc_push_chunk``'s
    incremental parser, its buffer bounded by one frame). Row
    contract, idempotence matrix and survivor rule:
    :func:`_apply_chunked_batch`.

    Decision rule — the batch :func:`~.multimodal.video_near_dup_pairs`
    arithmetic exactly: a finishing clip is dropped iff its DISTINCT
    ``frame_hash`` set has Jaccard ≥ ``min_jaccard_ppm`` (exact-integer
    cross-multiply, ``1e6·common vs ppm·(na+nb−common)``) with any
    already-ingested clip or a lower-id clip finishing in the same
    batch; a clip whose stream carried no frames fails loudly at
    ``video_cdc_finish`` (a corrupt upload is an error, not a silent
    drop — unlike audio's no-evidence rule, zero frames here means a
    malformed container). Corpus rows: ``(clip_id, n_frames,
    n_distinct_hashes)``."""
    from dataflow_python_etl_spark.operators.multimodal import (
        video_cdc_finish,
        video_cdc_push_chunk,
        video_cdc_state_new,
    )

    keys = ("vids", "end", "movi_end", "abs", "skip", "n_frames")

    def finish(st: dict) -> list:
        video_cdc_finish(st)  # loud on truncation / no frames
        return []

    codec = _ChunkCodec(
        kind="video",
        data_col="data",
        hash_col="frame_hash",
        state_ddl=VIDEO_CHUNK_STATE_DDL,
        new=video_cdc_state_new,
        load=lambda r: {
            "stage": r["stage"], "buf": bytes(r["buf"]), **{k: int(r[k]) for k in keys}
        },
        push=lambda st, data: video_cdc_push_chunk(st, bytes(data)),
        finish=finish,
        dump=lambda st: {
            "stage": st["stage"],
            "buf": bytearray(st["buf"]),
            **{k: int(st[k]) for k in keys},
        },
        metric="jaccard",
        multiset=False,
        length=("n_frames", "n_frames"),
        size_col="n_distinct_hashes",
    )
    _apply_chunked_batch(
        batch_df,
        batch_id,
        codec,
        seg_path=seg_path,
        state_path=state_path,
        index_path=index_path,
        corpus_path=corpus_path,
        id_col=id_col,
        min_score_ppm=min_jaccard_ppm,
    )


def stream_chunked_video_dedup_ingest(
    stream_chunks: DataFrame,
    corpus_path: str,
    index_path: str,
    seg_path: str,
    state_path: str,
    checkpoint: str,
    id_col: str = "clip_id",
    min_jaccard_ppm: int = 500_000,
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """Online near-dup-filtered ingestion of LONG video — the chunked
    twin of ``stream_video_dedup_ingest`` for recordings that never
    fit one micro-batch row, fed as ordered byte ranges of an MJPEG
    AVI stream. See :func:`apply_chunked_video_batch` for the row
    contract, the bounded carry state (an incremental RIFF parser),
    and the idempotence matrix; the streamed frame-hash set is
    identical to batch ``video_frame_hashes`` of the whole clip
    (the ``video_cdc_push_chunk`` split-invariance, property-pinned),
    so streamed ingest decisions match the batch
    ``video_near_dup_pairs`` arithmetic exactly."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        apply_chunked_video_batch(
            batch_df,
            batch_id,
            seg_path=seg_path,
            state_path=state_path,
            index_path=index_path,
            corpus_path=corpus_path,
            id_col=id_col,
            min_jaccard_ppm=min_jaccard_ppm,
        )

    return _start(stream_chunks, apply_batch, checkpoint)


def stream_chunked_audio_containment_ingest(
    stream_chunks: DataFrame,
    corpus_path: str,
    index_path: str,
    seg_path: str,
    state_path: str,
    checkpoint: str,
    id_col: str = "clip_id",
    min_containment_ppm: int = 600_000,
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """Online trim/containment-filtered ingestion of LONG audio —
    the chunked twin of the single-row audio path
    (``stream_video_dedup_ingest(hash_fn=audio_cdc_segments,
    metric='containment')``), for recordings that never fit one
    micro-batch row. See :func:`apply_chunked_audio_batch` for the
    row contract, the bounded carry state, and the idempotence
    matrix; the streamed segment multiset is bit-identical to the
    batch ``cdc_segment_hashes`` of the whole clip (the
    ``cdc_push_chunk`` invariant, property-pinned), so streamed
    ingest decisions match the batch ``audio_containment_pairs``
    arithmetic exactly."""

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        apply_chunked_audio_batch(
            batch_df,
            batch_id,
            seg_path=seg_path,
            state_path=state_path,
            index_path=index_path,
            corpus_path=corpus_path,
            id_col=id_col,
            min_containment_ppm=min_containment_ppm,
        )

    return _start(stream_chunks, apply_batch, checkpoint)


def stream_scd2_to_table(
    stream_df: DataFrame,
    table_path: str,
    checkpoint: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    attr_col: str = "event_type",
    id_col: str = "event_id",
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """Maintain a Type-2 dimension table from a live observation
    stream: ``foreachBatch`` + the batch ``scd2_apply_changes``
    operator, so the streamed history is bit-identical to a batch
    ``scd2_intervals`` over the same in-order events (parity-pinned).

    Batch 0 bootstraps the table with ``scd2_intervals``; every later
    micro-batch applies incrementally — per-batch cost is (touched
    entities + batch), never table history, which is what makes the
    sink viable against a dimension with years of closed rows.

    Replay guard: a restarted checkpoint re-delivers a batch whose
    rows are already in the table; ``scd2_apply_changes`` would
    (correctly, for batch CDC) fail LOUDLY on those now-stale
    observations, so the sink first drops per-entity observations not
    STRICTLY later than the entity's current ``valid_from`` — exactly
    the rows a replay re-delivers — making replay a no-op (pinned).
    The trade, inherent to streaming SCD2: a genuinely late
    observation older than its entity's open interval is dropped too
    (closed history is immutable from a stream); route late data
    through the batch operator, which refuses it loudly instead.
    Writes go through ``write_and_swap`` — readers see the old or the
    new history, never a torn one; ``_guard_missing_table`` applies
    on restart like every sink in this module.
    """
    from dataflow_python_etl_spark.operators.events import (
        scd2_apply_changes,
        scd2_intervals,
    )
    from dataflow_python_etl_spark.operators.upsert import write_and_swap

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        _guard_missing_table(table_path, batch_id)
        if not os.path.exists(table_path):
            hist = scd2_intervals(batch_df, user_col, ts_col, attr_col, id_col)
            # atomic create (rename of a completed tmp dir): a crash
            # mid-bootstrap must not leave a torn table_path that the
            # batch-0 replay would then treat as a valid dimension and
            # apply incrementally against
            write_and_swap(hist, table_path)
            return
        dim = spark.read.parquet(table_path)
        cur = dim.where(F.col("is_current")).select(
            F.col(user_col), F.col("valid_from").alias("__cur_vf")
        )
        fresh = (
            batch_df.join(cur, on=user_col, how="left")
            .where(F.col("__cur_vf").isNull() | (F.col(ts_col) > F.col("__cur_vf")))
            .drop("__cur_vf")
        )
        hist = scd2_apply_changes(dim, fresh, user_col, ts_col, attr_col, id_col)
        write_and_swap(hist, table_path)

    return _start(stream_df, apply_batch, checkpoint)


def apply_search_index_batch(
    batch_df: DataFrame,
    batch_id: int,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
) -> None:
    """One micro-batch of streaming search-index ingest — EXACTLY-ONCE
    BY CONSTRUCTION, not by ledger races: the batch's postings land
    via DYNAMIC partition overwrite of their ``(pbucket, batch=N)``
    partitions, so a replayed batch (foreachBatch is at-least-once)
    REWRITES exactly its own partitions instead of duplicating them;
    the stats sidecar carries ``last_batch_id`` and skips replayed
    bumps. This index layout is streaming-owned (extra ``batch``
    partition level under ``pbucket``) — probe it with the standard
    :func:`~dataflow_python_etl_spark.operators.search.search_index`
    (partition pruning on pbucket is unaffected; the batch column is
    never read). Batch 0 creates the index; a restart that finds no
    sidecar at batch > 0 fails loudly (the missing-table rule) rather
    than rebuilding history from one batch.

    Exposed as a module function (not a closure) so replay semantics
    are directly testable."""
    from dataflow_python_etl_spark.functions.text import md5_hash60, tokens
    from dataflow_python_etl_spark.operators.search import (
        SEARCH_STATS,
        _write_search_stats,
        load_search_stats,
    )

    have_sidecar = os.path.exists(os.path.join(path, SEARCH_STATS))
    if have_sidecar:
        stats = load_search_stats(path)
        if stats.get("last_batch_id", -1) >= batch_id:
            return  # replayed, fully applied batch: no-op
        n_buckets = stats["n_buckets"]
    elif batch_id > 0:
        raise ValueError(
            f"restarted search-index sink: {path} has no {SEARCH_STATS} but "
            f"the checkpoint says batch {batch_id} — the index was lost or "
            "torn mid-creation. Rebuilding from one batch would silently "
            "drop history; restore the index or reset the checkpoint."
        )
    else:
        stats = {"n_docs": 0, "sum_dl": 0, "n_buckets": n_buckets}
    lens = batch_df.select(
        F.col(id_col).alias("doc_id"), F.size(tokens(text_col)).alias("dl")
    )
    postings = (
        batch_df.select(
            F.col(id_col).alias("doc_id"), F.explode(tokens(text_col)).alias("w")
        )
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .join(lens, "doc_id")
        .select(
            "w", "doc_id", "tf", "dl",
            F.pmod(md5_hash60(F.col("w")), F.lit(n_buckets)).cast("int")
            .alias("pbucket"),
            F.lit(batch_id).alias("batch"),
        )
    )
    _overwrite_partitions(postings, path, "pbucket", "batch")
    s = lens.agg(
        F.count(F.lit(1)).alias("n"), F.coalesce(F.sum("dl"), F.lit(0)).alias("s")
    ).first()
    _write_search_stats(
        path,
        {
            "n_docs": stats["n_docs"] + s["n"],
            "sum_dl": stats["sum_dl"] + int(s["s"]),
            "n_buckets": n_buckets,
            "last_batch_id": batch_id,
        },
    )


def stream_docs_to_search_index(
    doc_stream: DataFrame,
    path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """Streaming twin of the persisted BM25 index: documents arriving
    on a stream become searchable per micro-batch via
    :func:`apply_search_index_batch` (dynamic-partition-overwrite
    idempotence + sidecar batch ledger = exactly-once; batch-parity
    pinned against ``build_search_index`` in tests). Unique-id
    contract as everywhere: a document id appears in ONE batch."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        apply_search_index_batch(
            batch_df, batch_id, path, id_col, text_col, n_buckets
        )

    return _start(doc_stream, apply, checkpoint)


def apply_drift_monitor_batch(
    batch_df: DataFrame,
    batch_id: int,
    ref_hist_path: str,
    out_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 1024,
) -> None:
    """One micro-batch of the streaming drift monitor: compare the
    batch's hashed-gram histogram against the FROZEN reference
    histogram (``lm.build_drift_reference``) and record ONE summary
    row — ``(batch, n_ref, n_cur, tvd_ppm, top_bucket,
    top_contrib)`` — the online twin of ``lm.corpus_drift``
    (same cross-multiplied exact-integer TVD via the shared
    ``lm.drift_report``; batch==stream parity pinned in tests).

    Exactly-once by construction (the search-index shape): the row
    lands via DYNAMIC partition overwrite of its own ``batch=N``
    partition, so an at-least-once replay REWRITES that partition,
    and the statistic is deterministic, so the rewrite converges.
    An all-empty batch (zero grams) still records a row with
    ``n_cur = 0`` and NULL tvd — visible, not skipped: a monitor
    that silently drops empty batches cannot tell "no drift" from
    "no data". Module-level (not a closure) so replay semantics are
    directly testable."""
    from dataflow_python_etl_spark.operators.lm import (
        drift_report,
        gram_histogram,
    )

    spark = batch_df.sparkSession
    if not os.path.exists(ref_hist_path):
        raise RuntimeError(
            f"drift monitor reference histogram missing at {ref_hist_path} "
            "— build it with lm.build_drift_reference before starting the "
            "stream (a monitor comparing against nothing reports nothing)"
        )
    ref = spark.read.parquet(ref_hist_path).select(
        "bucket", F.col("ref_count").cast("long").alias("ref_count")
    )
    cur = gram_histogram(
        batch_df, id_col, text_col, buckets, count_col="cur_count"
    )
    top1 = drift_report(ref, cur, top_k=1).select(
        F.lit(batch_id).cast("long").alias("batch"),
        "n_ref",
        "n_cur",
        "tvd_ppm",
        F.col("bucket").alias("top_bucket"),
        F.col("contrib").alias("top_contrib"),
    )
    # no emptiness probe: with a (guarded) non-empty reference the
    # full-outer bucket join is non-empty by construction, so
    # drift_report always yields >= 1 row — and a probe here would
    # re-run the batch's gram fan-out a second time per micro-batch
    _overwrite_partitions(top1.coalesce(1), out_path, "batch")


def stream_drift_monitor(
    doc_stream: DataFrame,
    ref_hist_path: str,
    out_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 1024,
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """Online data-quality drift monitor: per micro-batch, one
    ``(batch, n_ref, n_cur, tvd_ppm, top_bucket, top_contrib)`` row
    against the frozen reference via
    :func:`apply_drift_monitor_batch`. Pair with an alerting query
    over ``out_path`` (``tvd_ppm > threshold``); per-batch cost is
    the batch's gram fan-out + a ≤buckets-row join — nothing
    reference-corpus-sized is ever rescanned."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        apply_drift_monitor_batch(
            batch_df, batch_id, ref_hist_path, out_path,
            id_col, text_col, buckets,
        )

    return _start(doc_stream, apply, checkpoint)


def conversion_join(
    events: DataFrame,
    trigger_type: str = "view",
    conversion_type: str = "purchase",
    window_minutes: int = 60,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-STREAM inner join — the Structured Streaming surface the
    stateful operators don't cover: every (trigger, conversion) pair
    for a user where the conversion lands within ``window_minutes``
    of the trigger (ad-tech view-through attribution at the pair
    grain; :func:`streaming.stateful` holds per-user scalars, this
    emits the joined rows). Returns ``(user_id, trigger_id, conv_id,
    lag_seconds)`` with lag as exact integer seconds (floor).

    Both sides carry the SAME watermark and the join condition bounds
    conversion time to [trigger, trigger + window], so Spark can
    evict trigger state once the watermark passes trigger_ts +
    window and conversion state immediately — bounded state at any
    stream length (the unbounded-state stream-stream join is the
    classic production OOM). Inner-join rows emit as soon as both
    sides arrive (no watermark hold-back). On a BATCH frame the same
    plan is the q36-family range join — one function, both surfaces,
    which is what the parity test pins."""
    if window_minutes < 1:
        raise ValueError(f"window_minutes must be >= 1, got {window_minutes}")
    t = events.where(F.col("event_type") == trigger_type).select(
        F.col("user_id").alias("t_user"),
        F.col("event_id").alias("trigger_id"),
        F.col("ts").alias("t_ts"),
    )
    c = events.where(F.col("event_type") == conversion_type).select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("conv_id"),
        F.col("ts").alias("c_ts"),
    )
    if events.isStreaming:
        t = t.withWatermark("t_ts", watermark)
        c = c.withWatermark("c_ts", watermark)
    cond = (
        (t["t_user"] == c["c_user"])
        & (c["c_ts"] >= t["t_ts"])
        & (c["c_ts"] <= t["t_ts"] + F.expr(f"INTERVAL {int(window_minutes)} MINUTES"))
    )
    return t.join(c, cond).select(
        F.col("t_user").alias("user_id"),
        "trigger_id",
        "conv_id",
        F.expr("(unix_micros(c_ts) - unix_micros(t_ts)) div 1000000").alias(
            "lag_seconds"
        ),
    )


def m4_stream(
    events: DataFrame,
    bucket: str = "10 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming M4 rollup — the live-dashboard twin of
    ``operators.timeseries.m4_downsample``: per (series, event-time
    tumbling bucket) keep count/min/max/FIRST/LAST, the four points
    that render a line chart error-free. Works identically on a
    batch frame (the watermark is only attached to streams), which
    is what the parity test pins.

    first/last are ``min_by``/``max_by`` on (ts, id) — declarative
    aggregates, so the streaming planner keeps ONE state row per
    (series, bucket) updated incrementally; the watermark bounds
    state to the buckets still inside the lateness horizon. No
    arbitrary stateful operator needed — this is the "windowed agg
    beats applyInPandasWithState when the metric is declarative"
    case."""
    e = events.withWatermark("ts", watermark) if events.isStreaming else events
    order = F.struct(F.col("ts"), F.col("event_id"))
    return (
        e.groupBy(
            F.window("ts", bucket).alias("w"),
            F.col("event_type").alias("series"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.min_by("value", order), 2).alias("v_first"),
            F.round(F.min("value"), 2).alias("v_min"),
            F.round(F.max("value"), 2).alias("v_max"),
            F.round(F.max_by("value", order), 2).alias("v_last"),
        )
        .select(
            F.col("w.start").alias("bucket_start"),
            "series", "n", "v_first", "v_min", "v_max", "v_last",
        )
    )
