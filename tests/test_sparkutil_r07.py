"""Round-7 optimization internals: job-free empty frames, the cached
parquet scan plan (incl. staleness), the sized mapInPandas kernel
adapter, and the scale-adaptive task-count heuristic.

Each test pins an internals change from the r7 optimization round:
results must be identical to the pre-optimization shapes, and the
latency-critical properties (no jobs for empties, fresh listing after a
rewrite, whole pid groups per task) must hold.
"""


import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pim_lucene_spark.sparkutil import (cached_parquet, local_empty,
                                        local_result, map_by_pid)

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


def test_map_by_pid_matches_applyinpandas(spark):
    pdf = pd.DataFrame({
        "pid": np.repeat(np.arange(6, dtype=np.int32), 4),
        "v": np.arange(24, dtype=np.int64),
    })
    df = spark.createDataFrame(pdf)
    out_schema = T.StructType([
        T.StructField("pid", T.IntegerType(), False),
        T.StructField("s", T.LongType(), False),
        T.StructField("n", T.LongType(), False),
    ])

    def kernel(key, g: pd.DataFrame) -> pd.DataFrame:
        # the adapter must hand over the whole pid group, key as a tuple
        assert int(key[0]) == int(g["pid"].iloc[0])
        return pd.DataFrame({"pid": [int(key[0])],
                             "s": [int(g["v"].sum())],
                             "n": [len(g)]})

    a = (df.groupBy("pid").applyInPandas(kernel, out_schema)
         .toPandas().sort_values("pid").reset_index(drop=True))
    b = (map_by_pid(df, 3, kernel, out_schema)
         .toPandas().sort_values("pid").reset_index(drop=True))
    assert a.equals(b)
    assert (b["n"] == 4).all()  # every group complete despite 3 tasks


def test_map_by_pid_pins_task_count(spark):
    df = spark.range(100).select(
        F.col("id").cast("int").alias("pid"),
        F.col("id").alias("v"))
    out = map_by_pid(df, 5, lambda k, g: g.head(1), df.schema)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" in plan
    assert out.count() == 100


def test_kernel_task_count_bounds():
    from pim_lucene_spark.operators.search import _kernel_task_count
    # floor applies for tiny queries, cap is one task per index partition
    assert _kernel_task_count(32, 0) == 8
    assert _kernel_task_count(4, 0) == 4
    assert _kernel_task_count(32, 1 << 16) == 8
    assert _kernel_task_count(32, 20 * (1 << 16)) == 20
    assert _kernel_task_count(32, 10**9) == 32
    assert _kernel_task_count(1, 10**9) == 1


def test_search_map_kernel_matches_cogroup(spark, tmp_index_dir):
    """The r7 mapInPandas direct-norms kernel must return exactly what
    the independent cogroup plan returns (and what the serving path
    returns) — the three plans share _match_core but nothing else."""
    from pim_lucene_spark import IndexConfig
    from pim_lucene_spark.operators.index_build import build_index
    from pim_lucene_spark.operators.search import search, search_local

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .withColumnRenamed("text", "content"))
    m = build_index(spark, docs, tmp_index_dir,
                    IndexConfig(8, 4, build_chunks=1), id_col="doc_id")
    queries = [(0, "merge"), (1, "batch batch batch"), (2, "the fast"),
               (3, "zzz_not_there")]
    a = (search(spark, m, queries, k=7).toPandas()
         .sort_values(["qid", "doc_id"]).reset_index(drop=True))
    b = (search(spark, m, queries, k=7, norms_access="cogroup").toPandas()
         .sort_values(["qid", "doc_id"]).reset_index(drop=True))
    c = (search_local(m, queries, k=7, postings_cache_mb=0)
         .sort_values(["qid", "doc_id"]).reset_index(drop=True))
    assert a.equals(b)
    assert a.equals(c)


def test_postings_file_groups_partition_pids(spark, tmp_index_dir,
                                             monkeypatch):
    """The zero-exchange file plan must own every pid exactly once
    across task groups (the co-location contract the hash exchange
    gave), and the planned task job must return exactly what the
    exchange plan returns."""
    from pim_lucene_spark import IndexConfig
    from pim_lucene_spark.operators.index_build import build_index
    from pim_lucene_spark.operators import search as S

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .withColumnRenamed("text", "content"))
    m = build_index(spark, docs, tmp_index_dir,
                    IndexConfig(8, 4, build_chunks=2), id_col="doc_id")
    groups = S._postings_file_groups(m, 5)
    assert groups is not None and 1 <= len(groups) <= 5
    seen: list[int] = []
    for files, pids in groups:
        assert files and pids
        seen.extend(pids)
    assert sorted(seen) == sorted(set(seen))  # each pid exactly once

    queries = [(0, "merge"), (1, "the fast"), (2, "batch batch batch")]
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_ROUTE_POSTINGS", "0")
    a = (S.search(spark, m, queries, k=6).toPandas()
         .sort_values(["qid", "doc_id"]).reset_index(drop=True))
    monkeypatch.setenv("SPARK_GRAFT_DIRECT_SCAN", "0")
    b = (S.search(spark, m, queries, k=6).toPandas()
         .sort_values(["qid", "doc_id"]).reset_index(drop=True))
    assert len(a) and a.equals(b)


def test_postings_file_plan_single_stage(spark, tmp_index_dir, monkeypatch):
    """The file-plan query job must contain no Exchange and no Parquet
    scan node (tasks read their files directly)."""
    from pim_lucene_spark import IndexConfig
    from pim_lucene_spark.operators.index_build import build_index
    from pim_lucene_spark.operators.search import search

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .withColumnRenamed("text", "content"))
    m = build_index(spark, docs, tmp_index_dir,
                    IndexConfig(8, 4, build_chunks=1), id_col="doc_id")
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_ROUTE_POSTINGS", "0")
    plan = search(spark, m, [(0, "the fast")], k=None) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "FileScan" not in plan and "Scan parquet" not in plan
    assert "MapInPandas" in plan


def test_local_route_matches_distributed(spark, tmp_index_dir, monkeypatch):
    """The size-gated in-process route must return exactly what the
    distributed job returns (bounded AND unbounded), and its collect
    must launch zero Spark jobs."""
    from pim_lucene_spark import IndexConfig
    from pim_lucene_spark.operators.index_build import build_index
    from pim_lucene_spark.operators import search as S

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .withColumnRenamed("text", "content"))
    m = build_index(spark, docs, tmp_index_dir,
                    IndexConfig(8, 4, build_chunks=2), id_col="doc_id")
    queries = [(0, "merge"), (1, "the fast"), (2, "batch batch batch")]
    df = S.search(spark, m, queries, k=6, final_merge="driver")
    before = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    rows = df.collect()  # LocalRelation: collect launches no job
    after = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    assert len(after) == len(before)
    a = (pd.DataFrame([r.asDict() for r in rows])
         [["qid", "doc_id", "freq", "norm", "score"]]
         .astype({"norm": "int32"})
         .sort_values(["qid", "doc_id"]).reset_index(drop=True))
    with monkeypatch.context() as mp:
        mp.setenv("SPARK_GRAFT_LOCAL_ROUTE_POSTINGS", "0")
        b = (S.search(spark, m, queries, k=6, final_merge="driver")
             .toPandas().sort_values(["qid", "doc_id"])
             .reset_index(drop=True))
        c = (S.search(spark, m, queries, k=None).toPandas()
             .sort_values(["qid", "doc_id"]).reset_index(drop=True))
    assert len(a) and a.equals(b)
    d = (S.search(spark, m, queries, k=None).toPandas()
         .sort_values(["qid", "doc_id"]).reset_index(drop=True))
    assert c.equals(d)


def test_postings_pid_map_uri_fallback():
    """URI index paths can't be statted by the driver — the plan must
    decline (→ exchange fallback), never guess."""
    from pim_lucene_spark.operators.search import _postings_pid_map

    class _M:
        build_chunks = 1
        build_id = "x"
        index_dir = "s3a://bucket/idx"
        doc_count = 1
        sum_total_term_freq = 1

        def chunk_path(self, c):
            return f"s3a://bucket/idx/postings_{c}"

    assert _postings_pid_map(_M()) is None


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
