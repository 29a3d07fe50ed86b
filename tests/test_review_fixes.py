"""Regression tests for the round-1 code-review findings."""

import pytest
from pyspark.sql import functions as F

from dataflow_python_etl_spark.operators.dedup import (
    ngram_jaccard_pairs,
    unpersist_all,
)
from dataflow_python_etl_spark.operators.skew import salted_count, with_salt
from dataflow_python_etl_spark.operators.upsert import swap_table_dir


def test_capped_jaccard_uses_filtered_sizes(spark):
    # Two identical docs whose shingles are mostly "hot" across many
    # other docs: with the cap, both numerator AND denominator must use
    # the filtered sets, so the identical pair still scores 1.0.
    hot_text = "a b c d e f"          # shingles shared by many docs
    rare = "x y z w v u"              # unique tail for the dup pair
    rows = [(i, hot_text) for i in range(10)]
    rows += [(100, hot_text + " " + rare), (101, hot_text + " " + rare)]
    df = spark.createDataFrame(rows, "doc_id: long, text: string")
    pairs = ngram_jaccard_pairs(df, threshold=0.9, max_shingle_df=5)
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in pairs.collect()}
    assert got.get((100, 101)) == 1.0


def test_salt_spreads_identical_rows(spark):
    # 1000 byte-identical rows of one hot key must not share one salt.
    df = spark.createDataFrame([("hot",)] * 1000, "k: string")
    n_salts = df.select(F.countDistinct("__salt")).collect()[0][0] if False else (
        with_salt(df, 16).select(F.countDistinct("__salt")).first()[0]
    )
    assert n_salts > 8
    counts = {r["k"]: r["count"] for r in salted_count(df, ["k"]).collect()}
    assert counts == {"hot": 1000}


def test_swap_failure_restores_table(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame([(1,)], "id: long").write.parquet(path)
    with pytest.raises(Exception):
        swap_table_dir(path, str(tmp_path / "does_not_exist"))
    # table still present and readable after the failed swap
    assert spark.read.parquet(path).count() == 1


def test_unpersist_all_releases_caches(spark):
    df = spark.createDataFrame(
        [(i, "some words repeated here " * 3) for i in range(20)],
        "doc_id: long, text: string",
    )
    ngram_jaccard_pairs(df).count()
    assert unpersist_all() >= 1
    assert unpersist_all() == 0


def test_driver_memory_override_warns_when_context_exists(spark, monkeypatch):
    """ADVICE r7: spark.driver.memory is JVM-launch-time — a
    SPARK_GRAFT_DRIVER_MEMORY set after the first get_spark is
    silently ignored by getOrCreate, so the factory must warn."""
    import warnings

    from dataflow_python_etl_spark.session import get_spark

    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEMORY", "64g")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        got = get_spark()
    assert got is spark
    assert any(
        issubclass(x.category, RuntimeWarning)
        and "SPARK_GRAFT_DRIVER_MEMORY" in str(x.message)
        for x in w
    )


@pytest.mark.parametrize("x", [float("nan"), float("inf"), float("-inf")])
def test_dlit_rejects_non_finite(x):
    """``repr(nan) + 'D'`` is ``nanD``, which Spark parses as a column
    name and fails on without naming the value: refuse it up front."""
    from dataflow_python_etl_spark.functions.vectors import dlit

    with pytest.raises(ValueError, match=repr(x)):
        dlit(x)


def test_in_longs_rejects_none_and_non_integral_ids(spark):
    """``int(3.7)`` would silently probe id 3 (the wrong IVF cell);
    None and non-integral ids raise a ValueError naming the id, while
    integral ids, numpy ints included, render as before."""
    import numpy as np

    from dataflow_python_etl_spark.operators.similarity import _in_longs

    for bad in (None, 3.7):
        with pytest.raises(ValueError, match=repr(bad)):
            _in_longs("cid", [1, bad])
    df = spark.range(6).withColumnRenamed("id", "cid")
    got = df.where(_in_longs("cid", [1, np.int64(3), np.int32(5)]))
    assert [r["cid"] for r in got.orderBy("cid").collect()] == [1, 3, 5]
