"""Ingest-watermark replay guard for stream_dedup_ingest (and, in the
crash-replay pin, every sink on the shared near-dup ingest skeleton).

The anti-join replay guard scans the corpus's id column every batch —
a cost growing with the corpus forever. With MONOTONE doc ids the same
guarantee is a pure JVM filter ``id > max_ingested_id`` against a tiny
atomically-swapped watermark file: the guard's plan never references
the corpus at all (pinned below), and corpus appends become per-batch
hive partitions overwritten idempotently on replay.
"""

import json
import os
from functools import partial

import numpy as np
import pytest
from pyspark.sql import functions as F

from dataflow_python_etl_spark.operators.codecs import encode_png
from dataflow_python_etl_spark.plans.checks import count_exchanges, explain_str
from dataflow_python_etl_spark.streaming.pipeline import (
    _guard_replay,
    stream_dedup_ingest,
    stream_image_dedup_ingest,
    stream_text_containment_ingest,
)

TEXTS = {
    "a": "the quick brown fox jumps over the lazy dog near the old river bank today",
    "b": "completely different words describe an unrelated subject in every single token here now",
    "c": "yet another fully distinct sentence carrying no overlap with previous documents at all",
    "d": "a fourth unique passage whose shingles match nothing else in the corpus stream",
}


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id: long, text: string")


def _corpus_ids(spark, path):
    return sorted(r["doc_id"] for r in spark.read.parquet(path).select("doc_id").collect())


def test_watermark_guard_plan_never_touches_the_corpus(spark, tmp_path):
    """THE scale pin: the watermark guard is a zero-exchange filter
    whose plan contains NO scan of the corpus; the anti-join guard's
    plan (the fallback) does scan it."""
    cpath = str(tmp_path / "corpus")
    _docs(spark, [(1, TEXTS["a"]), (2, TEXTS["b"])]).write.parquet(cpath)
    corpus = spark.read.parquet(cpath).select("doc_id", "text")
    batch = _docs(spark, [(2, TEXTS["b"]), (3, TEXTS["c"])])

    wm_plan = _guard_replay(batch, corpus, "doc_id", "watermark", {"max_id": 2})
    plan = explain_str(wm_plan, "simple")
    assert count_exchanges(wm_plan) == 0, plan
    # no file scan at all: the only relation is the in-memory batch
    assert "FileScan" not in plan, plan
    assert [r["doc_id"] for r in wm_plan.collect()] == [3]

    # the fallback guard's plan DOES scan the corpus parquet (Spark
    # elides long paths in explain, so pin the scan, not the path)
    aj_plan = _guard_replay(batch, corpus, "doc_id", "anti_join", None)
    assert "FileScan parquet" in explain_str(aj_plan, "simple")
    assert [r["doc_id"] for r in aj_plan.collect()] == [3]


def test_watermark_ingest_matches_anti_join_twin(spark, tmp_path):
    """Same batches (monotone ids), both guards → identical survivor
    sets, and the watermark corpus lands hive-partitioned by batch."""
    batches = [
        [(1, TEXTS["a"]), (2, TEXTS["a"]), (3, TEXTS["b"])],  # 2 in-batch dups 1
        [(11, TEXTS["b"]), (12, TEXTS["c"]), (13, TEXTS["c"])],  # 11 dups corpus, 13 dups 12
        [(14, TEXTS["d"])],
    ]
    out = {}
    for guard in ("anti_join", "watermark"):
        src = str(tmp_path / f"in_{guard}")
        corpus = str(tmp_path / f"corpus_{guard}")
        _docs(spark, batches[0]).coalesce(1).write.parquet(src)
        q = stream_dedup_ingest(
            spark.readStream.schema("doc_id long, text string").parquet(src),
            corpus,
            str(tmp_path / f"index_{guard}"),
            str(tmp_path / f"ckpt_{guard}"),
            replay_guard=guard,
        )
        q.processAllAvailable()
        for rows in batches[1:]:
            _docs(spark, rows).coalesce(1).write.mode("append").parquet(src)
            q.processAllAvailable()
        q.stop()
        out[guard] = _corpus_ids(spark, corpus)
    assert out["watermark"] == out["anti_join"] == [1, 3, 12, 14]
    # partition layout: one hive dir per committed batch
    parts = {d for d in os.listdir(str(tmp_path / "corpus_watermark")) if d.startswith("ingest_batch=")}
    assert parts, "watermark corpus must be partitioned by ingest_batch"
    wm = json.load(open(str(tmp_path / "corpus_watermark") + ".__ingest_watermark"))
    assert wm["max_id"] == 14


def _png(key):
    """A 32x32 random image per TEXTS key: equal keys are pixel copies
    (Hamming 0), distinct keys are ~32 bits apart."""
    rng = np.random.RandomState(sorted(TEXTS).index(key) + 1)
    return bytearray(encode_png(rng.randint(0, 200, size=(32, 32)).astype(np.uint8)))


# The sinks on the shared near-dup ingest skeleton: (start, source DDL,
# payload of a TEXTS key).
SINKS = {
    "text_minhash": (stream_dedup_ingest, "doc_id long, text string", TEXTS.get),
    "image_phash": (
        partial(stream_image_dedup_ingest, id_col="doc_id"),
        "doc_id long, payload binary",
        _png,
    ),
    "text_containment": (stream_text_containment_ingest, "doc_id long, text string", TEXTS.get),
}


def _feed(spark, sink, src, rows):
    _, ddl, payload = SINKS[sink]
    rows = [(i, payload(key)) for i, key in rows]
    spark.createDataFrame(rows, ddl).coalesce(1).write.mode("append").parquet(src)


def _run_once(spark, src, corpus, index, ckpt, sink="text_minhash"):
    start, ddl, _ = SINKS[sink]
    q = start(
        spark.readStream.schema(ddl).parquet(src),
        corpus,
        index,
        ckpt,
        replay_guard="watermark",
    )
    q.processAllAvailable()
    q.stop()


def _drop_newest_commit(ckpt):
    cdir = os.path.join(ckpt, "commits")
    newest = sorted(c for c in os.listdir(cdir) if not c.startswith("."))[-1]
    os.remove(os.path.join(cdir, newest))
    crc = os.path.join(cdir, f".{newest}.crc")
    if os.path.exists(crc):
        os.remove(crc)


@pytest.mark.parametrize("sink", list(SINKS))
def test_watermark_crash_replay_converges(spark, tmp_path, sink):
    """Replay convergence at every crash point past the corpus append,
    for each sink on the shared near-dup ingest skeleton.

    (a) crash after full commit → replay is a batch_id no-op;
    (b) crash between corpus append and watermark write → full
        reprocess against a corpus that already contains the batch;
        the dynamic partition overwrite is idempotent, no dup rows."""
    src = str(tmp_path / "in")
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    wm_path = corpus + ".__ingest_watermark"

    _feed(spark, sink, src, [(1, "a"), (2, "b")])
    _run_once(spark, src, corpus, index, ckpt, sink)
    wm1 = json.load(open(wm_path))
    # batch 1: 11 dups corpus doc 1, 12 unique
    _feed(spark, sink, src, [(11, "a"), (12, "c")])
    _run_once(spark, src, corpus, index, ckpt, sink)
    want = [1, 2, 12]
    assert _corpus_ids(spark, corpus) == want
    wm2 = json.load(open(wm_path))
    assert wm2["max_id"] == 12  # 11 was DECIDED (dropped), so covered

    # (a) lost commit marker only: batch 1 replays, wm says it fully
    # committed (batch_id match) → pure no-op
    _drop_newest_commit(ckpt)
    _run_once(spark, src, corpus, index, ckpt, sink)
    assert _corpus_ids(spark, corpus) == want
    assert json.load(open(wm_path)) == wm2

    # (b) crash BETWEEN corpus append and watermark write: corpus has
    # batch 1's partition, wm still at batch 0 → replay reprocesses
    # batch 1 against a corpus already containing it; must converge
    _drop_newest_commit(ckpt)
    with open(wm_path, "w") as f:
        json.dump(wm1, f)
    _run_once(spark, src, corpus, index, ckpt, sink)
    assert _corpus_ids(spark, corpus) == want  # no dup rows, no lost rows
    assert json.load(open(wm_path))["max_id"] == 12


def test_watermark_crash_before_corpus_append_converges(spark, tmp_path):
    """Crash AFTER the index append but BEFORE the corpus append: the
    index holds the batch's bands twice after replay (harmless — same
    candidates re-proposed), the corpus partition is written exactly
    once."""
    import shutil

    src = str(tmp_path / "in")
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")
    wm_path = corpus + ".__ingest_watermark"

    _docs(spark, [(1, TEXTS["a"])]).coalesce(1).write.mode("append").parquet(src)
    _run_once(spark, src, corpus, index, ckpt)
    wm1 = json.load(open(wm_path))
    _docs(spark, [(11, TEXTS["a"]), (12, TEXTS["d"])]).coalesce(1).write.mode("append").parquet(src)
    _run_once(spark, src, corpus, index, ckpt)
    assert _corpus_ids(spark, corpus) == [1, 12]

    # rewind to the crash window: wm at batch 0, batch 1's corpus
    # partition gone, index append already happened (we leave it)
    _drop_newest_commit(ckpt)
    with open(wm_path, "w") as f:
        json.dump(wm1, f)
    shutil.rmtree(os.path.join(corpus, "ingest_batch=1"))
    _run_once(spark, src, corpus, index, ckpt)
    assert _corpus_ids(spark, corpus) == [1, 12]


def test_watermark_empty_first_batch(spark, tmp_path):
    """An EMPTY first batch must not crash (no watermark exists yet to
    carry forward) and must not block later real batches."""
    src = str(tmp_path / "in")
    corpus = str(tmp_path / "corpus")
    spark.createDataFrame([], "doc_id long, text string").coalesce(1).write.mode("append").parquet(src)
    _run_once(spark, src, corpus, str(tmp_path / "index"), str(tmp_path / "ckpt"))
    assert not os.path.exists(corpus + ".__ingest_watermark")
    _docs(spark, [(1, TEXTS["a"])]).coalesce(1).write.mode("append").parquet(src)
    _run_once(spark, src, corpus, str(tmp_path / "index"), str(tmp_path / "ckpt"))
    assert _corpus_ids(spark, corpus) == [1]


def test_watermark_and_bucketed_index_compose(spark, tmp_path):
    """The full 100 TB configuration: bucketed (band, sig) index table
    AND the monotone-id watermark guard together — same survivor set
    as the default (anti-join + plain-parquet-index) path."""
    batches = [
        [(1, TEXTS["a"]), (2, TEXTS["a"]), (3, TEXTS["b"])],
        [(11, TEXTS["b"]), (12, TEXTS["c"]), (13, TEXTS["c"])],
        [(14, TEXTS["d"])],
    ]
    out = {}
    for mode, kwargs in (
        ("default", {}),
        ("scale", {"replay_guard": "watermark", "index_table": "t_wm_bix", "index_buckets": 4}),
    ):
        src = str(tmp_path / f"in_{mode}")
        corpus = str(tmp_path / f"corpus_{mode}")
        _docs(spark, batches[0]).coalesce(1).write.parquet(src)
        q = stream_dedup_ingest(
            spark.readStream.schema("doc_id long, text string").parquet(src),
            corpus,
            str(tmp_path / f"index_{mode}"),
            str(tmp_path / f"ckpt_{mode}"),
            **kwargs,
        )
        q.processAllAvailable()
        for rows in batches[1:]:
            _docs(spark, rows).coalesce(1).write.mode("append").parquet(src)
            q.processAllAvailable()
        q.stop()
        out[mode] = _corpus_ids(spark, corpus)
    spark.sql("DROP TABLE IF EXISTS t_wm_bix")
    assert out["scale"] == out["default"] == [1, 3, 12, 14]


def test_streaming_decontamination_gate(spark, tmp_path):
    """Round-5: decontaminate_against drops contaminated batch docs
    BEFORE signing — they never reach the corpus OR the index — while
    clean docs still dedup normally; and the gate composes with the
    watermark guard."""
    # eval set shares TEXTS["a"]'s shingles; doc 1 is contaminated
    eval_set = _docs(spark, [(1000, TEXTS["a"])])
    batches = [
        [(1, TEXTS["a"]), (2, TEXTS["b"]), (3, TEXTS["b"])],  # 1 contaminated, 3 dups 2
        [(11, TEXTS["c"]), (12, TEXTS["a"])],  # 12 contaminated
    ]
    src = str(tmp_path / "in")
    corpus = str(tmp_path / "corpus")
    index = str(tmp_path / "index")
    _docs(spark, batches[0]).coalesce(1).write.parquet(src)
    q = stream_dedup_ingest(
        spark.readStream.schema("doc_id long, text string").parquet(src),
        corpus,
        index,
        str(tmp_path / "ckpt"),
        replay_guard="watermark",
        decontaminate_against=eval_set,
    )
    q.processAllAvailable()
    _docs(spark, batches[1]).coalesce(1).write.mode("append").parquet(src)
    q.processAllAvailable()
    q.stop()
    assert _corpus_ids(spark, corpus) == [2, 11]
    # the contaminated docs never entered the index either
    idx_ids = {r["doc"] for r in spark.read.parquet(index).select("doc").collect()}
    assert idx_ids == {2, 11}
