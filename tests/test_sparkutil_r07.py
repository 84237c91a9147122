"""Driver-side Spark helpers and kernel sizing: job-free empty frames,
driver-merged results, the cached parquet scan plan (incl. staleness),
the scale-adaptive task-count heuristic, and the interval key overflow
guard.

Results must be identical to the plain Spark shapes, and the
latency-critical properties (no jobs for empties, fresh listing after a
rewrite) must hold.
"""


import numpy as np
import pandas as pd
import pytest
from pyspark.sql import types as T

from pim_lucene_spark.sparkutil import (cached_parquet, local_empty,
                                        local_result)

SCHEMA = T.StructType([
    T.StructField("qid", T.LongType(), False),
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("score", T.DoubleType(), False),
])


def test_local_empty_schema_and_no_jobs(spark):
    df = local_empty(spark, SCHEMA)
    assert df.schema == SCHEMA
    # LocalTableScan-backed: collect must not launch a Spark job
    before = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    assert df.collect() == []
    after = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    assert len(after) == len(before)
    assert "LocalTableScan" in df._jdf.queryExecution() \
        .executedPlan().toString()


def test_local_empty_cached_per_session(spark):
    assert local_empty(spark, SCHEMA) is local_empty(spark, SCHEMA)


def test_local_empty_nullable_schema(spark):
    sch = T.StructType([T.StructField("doc_id", T.LongType(), True)])
    df = local_empty(spark, sch)
    assert df.schema == sch and df.collect() == []


def test_local_result_roundtrip(spark):
    pdf = pd.DataFrame({"qid": np.array([1, 2], dtype=np.int64),
                        "doc_id": np.array([7, 8], dtype=np.int64),
                        "score": np.array([0.5, 0.25])})
    df = local_result(spark, pdf, SCHEMA)
    assert df.schema == SCHEMA
    assert sorted((r.qid, r.doc_id, r.score) for r in df.collect()) == \
        [(1, 7, 0.5), (2, 8, 0.25)]
    assert local_result(spark, pdf.iloc[:0], SCHEMA).collect() == []


def test_local_result_transient_error_keeps_arrow_path(spark, monkeypatch):
    """One failed Arrow conversion falls back for that call only; the
    next call takes the Arrow path again (only a failed schema check is
    remembered for the session)."""
    import pyarrow as pa

    from pim_lucene_spark.sparkutil import _ARROW_OK_ATTR
    sch = T.StructType([T.StructField("transient_qid", T.LongType(), False)])
    pdf = pd.DataFrame({"transient_qid": np.array([3, 4], dtype=np.int64)})
    real = spark.createDataFrame
    arrow_calls = []

    def flaky(data, *args, **kwargs):
        if isinstance(data, pa.Table):
            arrow_calls.append(len(arrow_calls))
            if len(arrow_calls) == 1:
                raise RuntimeError("transient")
        return real(data, *args, **kwargs)

    monkeypatch.setattr(spark, "createDataFrame", flaky)
    for _ in range(2):
        df = local_result(spark, pdf, sch)
        assert sorted(r.transient_qid for r in df.collect()) == [3, 4]
    assert len(arrow_calls) == 2
    assert getattr(spark, _ARROW_OK_ATTR)[sch.json()] is True


def test_cached_parquet_reuses_plan_and_detects_rewrite(spark, tmp_path):
    d = str(tmp_path / "t")
    spark.range(10).write.parquet(d)
    key = ("k",)
    df1 = cached_parquet(spark, key, d)
    df2 = cached_parquet(spark, key, d)
    assert df1 is df2  # same lazy plan object reused
    assert df1.count() == 10
    # in-place rewrite under the SAME key: the dir mtime moves, the stale
    # listing must be abandoned (the resume-rebuild scenario)
    import time
    time.sleep(0.01)
    spark.range(3).write.mode("overwrite").parquet(d)
    df3 = cached_parquet(spark, key, d)
    assert df3 is not df1
    assert df3.count() == 3


def test_kernel_task_count_bounds():
    from pim_lucene_spark.operators.search import _kernel_task_count
    # floor applies for tiny queries, cap is one task per index partition
    assert _kernel_task_count(32, 0) == 8
    assert _kernel_task_count(4, 0) == 4
    assert _kernel_task_count(32, 1 << 16) == 8
    assert _kernel_task_count(32, 20 * (1 << 16)) == 20
    assert _kernel_task_count(32, 10**9) == 32
    assert _kernel_task_count(1, 10**9) == 1


def test_interval_key_overflow_guard():
    """ADVICE r6 #1: the packed rank*2^40+pos key must refuse candidate
    sets that would wrap int64 instead of matching wrongly."""
    from pim_lucene_spark.functions.intervals import _term_keys

    class _FakeTp:
        pos_offsets = np.zeros(2, dtype=np.int64)
        positions = np.zeros(0, dtype=np.int64)

        def ensure_positions(self, idx):  # pragma: no cover
            raise AssertionError("must raise before decoding")

    with pytest.raises(OverflowError):
        _term_keys(_FakeTp(), np.zeros(1 << 23, dtype=np.int64))
    # OR-slot form: a SMALL idx whose ranks index a huge candidate set
    # must trip the same guard (the ranks, not idx.size, wrap the key)
    with pytest.raises(OverflowError):
        _term_keys(_FakeTp(), np.zeros(4, dtype=np.int64),
                   ranks=np.array([0, 1, 2, 1 << 23], dtype=np.int64))
