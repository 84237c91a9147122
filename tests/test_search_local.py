"""Serving-path search (`search_local`): the same kernel with no Spark
job — the reference's resident-index query path (PimSystemManager.java:
401-437) for POSIX-visible indexes.  Must be row-identical to the
distributed path on every fixture, including misses and batches.
Measured ~1.4 ms/query warm vs ~250 ms through a Spark job at 100k docs.
"""

import os

import pandas as pd
import pytest

from pim_lucene_spark.config import IndexConfig
from pim_lucene_spark.operators.index_build import build_index
from pim_lucene_spark.operators.search import search, search_local
from tests.test_engine_differential import FIXTURE_DOCS, QUERIES


@pytest.fixture(scope="module")
def local_index(spark, tmp_path_factory):
    cfg = IndexConfig(num_partitions=3, num_segments=2, build_chunks=2)
    return build_index(spark, spark.createDataFrame(FIXTURE_DOCS),
                       str(tmp_path_factory.mktemp("locidx")), cfg,
                       content_col="content", id_col="doc_id")


@pytest.mark.parametrize("k", [1, 3, 10, 1000])
def test_local_equals_distributed(spark, local_index, k):
    a = (search(spark, local_index, QUERIES, k=k).toPandas()
         .sort_values(["qid", "doc_id"]).reset_index(drop=True))
    b = (search_local(local_index, QUERIES, k=k)
         .sort_values(["qid", "doc_id"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(a, b.astype(a.dtypes.to_dict()))


def test_local_no_match_and_empty(local_index):
    assert len(search_local(local_index, [(0, "zzznothere")], k=10)) == 0
    assert len(search_local(local_index, [], k=10)) == 0


def test_local_float64_mode(spark, local_index):
    a = (search(spark, local_index, QUERIES[:3], k=10,
                precision="float64").toPandas()
         .sort_values(["qid", "doc_id"]).reset_index(drop=True))
    b = (search_local(local_index, QUERIES[:3], k=10, precision="float64")
         .sort_values(["qid", "doc_id"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(a, b.astype(a.dtypes.to_dict()))


def test_facade_search_local(spark, local_index):
    from pim_lucene_spark import FullTextIndex
    idx = FullTextIndex(spark, local_index)
    res = idx.search_local(QUERIES[:2], k=5)
    assert set(res.columns) == {"qid", "doc_id", "freq", "norm", "score"}
    assert len(res) > 0


def _sorted(df):
    return df.sort_values(["qid", "doc_id"]).reset_index(drop=True)


def _assert_rows_equal(got, exp):
    pd.testing.assert_frame_equal(_sorted(got).astype(exp.dtypes.to_dict()),
                                  _sorted(exp))


def _count_parquet_opens(monkeypatch) -> list:
    """Record every ``pyarrow.parquet.ParquetFile`` open (the serving
    reader's entry point)."""
    import pyarrow.parquet as pq
    opened = []
    real = pq.ParquetFile

    def counting(source, *args, **kwargs):
        opened.append(str(source))
        return real(source, *args, **kwargs)

    monkeypatch.setattr(pq, "ParquetFile", counting)
    return opened


# two batches with no term in common
FIRST = [(0, "blah blah"), (1, "red"), (2, "Une phrase a trouver")]
SECOND = [(3, "orange"), (4, "two one"), (5, "green")]


def test_pid_residency_reads_each_file_once(spark, local_index,
                                            monkeypatch):
    """The first batch loads every pid it needs, opening each postings
    file at most once; a later batch of unseen terms is served from the
    resident pids without opening any file."""
    import pim_lucene_spark.operators.search as S

    exp_first = search(spark, local_index, FIRST, k=10).toPandas()
    exp_second = search(spark, local_index, SECOND, k=10).toPandas()
    S.clear_local_cache()
    opened = _count_parquet_opens(monkeypatch)
    first = search_local(local_index, FIRST, k=10)
    chunks = tuple(local_index.chunk_path(c)
                   for c in range(local_index.build_chunks))
    assert opened and len(opened) == len(set(opened))
    assert all(f.startswith(chunks) for f in opened)
    n_first = len(opened)
    second = search_local(local_index, SECOND, k=10)
    assert len(opened) == n_first
    _assert_rows_equal(first, exp_first)
    _assert_rows_equal(second, exp_second)


def test_pid_subsets_read_only_their_files(spark, local_index, monkeypatch):
    """``pids=`` loads only the listed pids' files, and the per-subset
    top-k frames merge to exactly ``search()``'s rows."""
    import pim_lucene_spark.operators.search as S

    exp = search(spark, local_index, QUERIES, k=10).toPandas()
    pid_map = S._postings_pid_map(local_index)
    S.clear_local_cache()
    opened = _count_parquet_opens(monkeypatch)
    parts = []
    for p in range(local_index.num_partitions):
        before = len(opened)
        parts.append(search_local(local_index, QUERIES, k=10, pids=[p]))
        assert set(opened[before:]) <= set(pid_map[p][1])
    merged = (pd.concat(parts, ignore_index=True)
              .sort_values(["qid", "score", "doc_id"],
                           ascending=[True, False, True])
              .groupby("qid", sort=True).head(10))
    _assert_rows_equal(merged, exp)


def test_local_rows_budget_eviction_never_drops_current_batch(
        spark, local_index):
    """With a 1-byte residency budget every batch is over budget: the
    LRU evicts whole pids, but never one the current batch needs (the
    kernel would read a missing pid as "no hits" and return partial
    results), so repeated batches over alternating pid subsets stay
    identical."""
    import pim_lucene_spark.operators.search as S

    expected = _sorted(search_local(local_index, QUERIES, k=10))
    per_pid = {p: _sorted(search_local(local_index, QUERIES, k=10,
                                       pids=[p]))
               for p in range(local_index.num_partitions)}
    old_max = S._LOCAL_ROWS_MAX
    S.clear_local_cache()
    S.clear_postings_cache()
    try:
        S._LOCAL_ROWS_MAX = 1  # every batch is over budget
        for _ in range(3):  # repeated batches re-load after eviction
            got = _sorted(search_local(local_index, QUERIES, k=10))
            pd.testing.assert_frame_equal(got, expected)
            for p, want in per_pid.items():
                got = _sorted(search_local(local_index, QUERIES, k=10,
                                           pids=[p]))
                pd.testing.assert_frame_equal(got, want)
                # only the pinned batch's pid stays resident, and its
                # decoded postings are the only ones left
                assert [key[1] for key in S._LOCAL_PIDS] == [p]
                assert {key[1] for key in S._POSTINGS_CACHE} <= {p}
    finally:
        S._LOCAL_ROWS_MAX = old_max
        S.clear_local_cache()
        S.clear_postings_cache()


def test_residency_follows_delete_gen_and_rebuild(spark, tmp_path):
    """A process keeps serving after the index changes under it: a new
    delete generation, then a rebuild in the same directory (new
    ``build_id``).  Each next call returns the new rows, never the old
    build's resident pids."""
    from pim_lucene_spark.operators.deletes import write_deletes
    from pim_lucene_spark.operators.search import clear_local_cache

    cfg = IndexConfig(num_partitions=3, num_segments=2, build_chunks=2)
    d = str(tmp_path / "idx")
    m = build_index(spark, spark.createDataFrame(FIXTURE_DOCS), d, cfg,
                    content_col="content", id_col="doc_id")
    clear_local_cache()
    before = search_local(d, QUERIES, k=10)
    assert len(before)

    deleted = sorted(set(before.doc_id))[:2]
    m = write_deletes(spark, m, deleted)
    after_delete = search_local(d, QUERIES, k=10)
    assert not set(after_delete.doc_id) & set(deleted)
    _assert_rows_equal(after_delete,
                       search(spark, m, QUERIES, k=10).toPandas())

    # same doc count and token total, contents moved to other ids: only
    # the new build_id tells the two builds apart
    moved = FIXTURE_DOCS.assign(content=FIXTURE_DOCS.content[::-1].values)
    m2 = build_index(spark, spark.createDataFrame(moved), d, cfg,
                     content_col="content", id_col="doc_id")
    assert (m2.doc_count, m2.sum_total_term_freq) == \
        (m.doc_count, m.sum_total_term_freq)
    assert m2.build_id != m.build_id
    rebuilt = search_local(d, QUERIES, k=10)
    _assert_rows_equal(rebuilt, search(spark, m2, QUERIES, k=10).toPandas())
    assert not _sorted(rebuilt).equals(_sorted(before))


def test_resident_norms_and_masks_leave_with_their_pid(spark, tmp_path,
                                                       monkeypatch):
    """A pid's norms blob and live mask are resident with the pid: when
    the budget evicts the pid they go too (and are read again when it
    returns), and an in-place rebuild leaves nothing of the old build
    resident — no pid, no decoded postings."""
    import pyarrow.parquet as pq

    import pim_lucene_spark.operators.search as S
    from pim_lucene_spark.operators.deletes import write_deletes
    from pim_lucene_spark.sparkutil import manifest_scan_key

    cfg = IndexConfig(num_partitions=3, num_segments=2, build_chunks=2)
    d = str(tmp_path / "idx")
    m = build_index(spark, spark.createDataFrame(FIXTURE_DOCS), d, cfg,
                    content_col="content", id_col="doc_id")
    hits = sorted(set(search(spark, m, QUERIES, k=10).toPandas().doc_id))
    m = write_deletes(spark, m, [next(i for i in hits if i % 3 == p)
                                 for p in (0, 1)])
    reads = []
    real = pq.read_table

    def counting(source, *args, **kwargs):
        reads.append(str(source))
        return real(source, *args, **kwargs)

    def side_reads(kind, pid):
        return sum(1 for r in reads
                   if f"{os.sep}{kind}{os.sep}" in r
                   and r.endswith(f"pid={pid}"))

    old_max = S._LOCAL_ROWS_MAX
    S.clear_local_cache()
    S.clear_postings_cache()
    monkeypatch.setattr(pq, "read_table", counting)
    try:
        S._LOCAL_ROWS_MAX = 1  # each batch evicts the previous pid
        for p in (0, 1, 0):
            assert len(search_local(m, QUERIES, k=10, pids=[p]))
    finally:
        S._LOCAL_ROWS_MAX = old_max
    assert side_reads("norms", 0) == 2 and side_reads("deletes", 0) == 2
    assert side_reads("norms", 1) == 1 and side_reads("deletes", 1) == 1

    search_local(m, QUERIES, k=10)
    moved = FIXTURE_DOCS.assign(content=FIXTURE_DOCS.content[::-1].values)
    m2 = build_index(spark, spark.createDataFrame(moved), d, cfg,
                     content_col="content", id_col="doc_id")
    search_local(d, QUERIES, k=10, pids=[0])
    new = manifest_scan_key(m2)
    assert S._LOCAL_PIDS and S._POSTINGS_CACHE
    assert all(key[0] == new for key in S._LOCAL_PIDS)
    assert all(key[0] == new for key in S._POSTINGS_CACHE)


def test_multifield_compound_batch_reads_each_file_once(spark, tmp_path,
                                                        monkeypatch):
    """``search_compound_local`` over two fields with a 1-byte residency
    budget: a later field's eviction drops the earlier field's pids from
    the cache, yet the batch holds them, so each postings file and each
    norms dir is read at most once per batch — and the rows equal the
    distributed ``search_compound``."""
    import numpy as np
    import pyarrow.parquet as pq

    import pim_lucene_spark.operators.search as S
    from pim_lucene_spark.index import MultiFieldIndex
    from pim_lucene_spark.plans.boolean import BooleanQuery
    from pim_lucene_spark.plans.compound import (search_compound,
                                                 search_compound_local)
    from pim_lucene_spark.plans.query import FieldedQuery

    rng = np.random.default_rng(3)
    vocab = ["red", "green", "blue", "sky", "apple", "pie"]
    docs = pd.DataFrame({
        "doc_id": range(30),
        "title": [" ".join(rng.choice(vocab, size=2)) for _ in range(30)],
        "body": [" ".join(rng.choice(vocab, size=8)) for _ in range(30)]})
    mf = MultiFieldIndex.build(
        spark, spark.createDataFrame(docs), str(tmp_path / "mf"),
        fields={"title": "title", "body": "body"},
        cfg=IndexConfig(num_partitions=3, num_segments=2, build_chunks=2),
        id_col="doc_id")
    batch = [(0, BooleanQuery(must=[FieldedQuery("title", "red")],
                              should=[FieldedQuery("body", "sky")])),
             (1, BooleanQuery(should=[FieldedQuery("title", "apple"),
                                      FieldedQuery("body", "pie")]))]
    want = search_compound(spark, mf.manifests, "body", batch,
                           k=10).toPandas()
    assert len(want)
    for m in mf.manifests.values():  # the driver's pid maps, not counted
        S._pid_map(m)
    opened = _count_parquet_opens(monkeypatch)
    norms_reads = []
    real_read_table = pq.read_table

    def counting(source, *args, **kwargs):
        if f"{os.sep}norms{os.sep}pid=" in str(source):
            norms_reads.append(str(source))
        return real_read_table(source, *args, **kwargs)

    monkeypatch.setattr(pq, "read_table", counting)
    old_max = S._LOCAL_ROWS_MAX
    S.clear_local_cache()
    S.clear_postings_cache()
    try:
        S._LOCAL_ROWS_MAX = 1
        for _ in range(2):
            del opened[:], norms_reads[:]
            got = search_compound_local(mf.manifests, batch, k=10,
                                        default_field="body")
            assert opened and len(opened) == len(set(opened))
            assert norms_reads and len(norms_reads) == len(set(norms_reads))
            _assert_rows_equal(got, want)
    finally:
        S._LOCAL_ROWS_MAX = old_max
        S.clear_local_cache()
        S.clear_postings_cache()
