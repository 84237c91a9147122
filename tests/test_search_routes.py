"""Every search route returns the same rows.

One index with deletes, one set of query shapes (term, phrase,
repeated-term phrase, a ``searchAfter`` page, ``k=None``), and every
route that answers them: the in-process route, the zero-exchange file
plan, the cogroup plan, the one-shot bound probe, the sync-round loop,
the serving path, and the serving path split by ``pids=`` and merged.
Rows must be identical, scores float-exact.  The file-plan shape
(pid ownership, a single stage without Exchange or Parquet scan), the
pid map's failure contract and the sync loop's k >= 1000 cut-off are
pinned here too.
"""

import pandas as pd
import pytest

from pim_lucene_spark import IndexConfig
from pim_lucene_spark.operators import search as S
from pim_lucene_spark.operators.deletes import write_deletes
from pim_lucene_spark.operators.index_build import build_index

QUERIES = [(0, "merge"), (1, "the fast"), (2, "batch batch batch"),
           (3, "zzz_not_there"), (4, "the")]
COLS = ["qid", "doc_id", "freq", "norm", "score"]


@pytest.fixture(scope="module")
def ridx(spark, tmp_path_factory):
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .withColumnRenamed("text", "content"))
    m = build_index(spark, docs, str(tmp_path_factory.mktemp("routes")),
                    IndexConfig(8, 4, build_chunks=2), id_col="doc_id")
    # delete each query's best hit, so every route has to mask them
    top = S.search(spark, m, QUERIES, k=1).toPandas()
    assert len(top) >= 3
    return write_deletes(spark, m, sorted(set(top["doc_id"])))


def _rows(df) -> pd.DataFrame:
    if not isinstance(df, pd.DataFrame):
        df = df.toPandas()
    return (df[COLS].astype({"qid": "int64", "doc_id": "int64",
                             "freq": "int64", "norm": "int32",
                             "score": "float64"})
            .sort_values(["qid", "doc_id"]).reset_index(drop=True))


def _spark_routes(spark, m, monkeypatch, **kw) -> dict:
    out = {"inline": S.search(spark, m, QUERIES, **kw)}
    with monkeypatch.context() as mp:
        mp.setenv("SPARK_GRAFT_LOCAL_ROUTE_POSTINGS", "0")
        out["file_plan"] = S.search(spark, m, QUERIES, **kw)
    out["cogroup"] = S.search(spark, m, QUERIES, norms_access="cogroup",
                              **kw)
    out["bound_probe"] = S.search(spark, m, QUERIES, bound_probe=True,
                                  **kw)
    out["sync"] = S.search(spark, m, QUERIES, bound_probe="sync",
                           sync_budget0=16, **kw)
    return {name: _rows(df) for name, df in out.items()}


def _local_routes(m, k, after=None) -> dict:
    S.clear_local_cache()
    whole = S.search_local(m, QUERIES, k=k, after=after)
    parts = [S.search_local(m, QUERIES, k=k, after=after, pids=[p])
             for p in range(m.num_partitions)]
    return {"search_local": _rows(whole),
            "search_local_pids": _rows(S._top_k(
                pd.concat(parts, ignore_index=True), k))}


def _assert_same(routes: dict) -> None:
    ref_name, ref = next(iter(routes.items()))
    assert len(ref)
    for name, got in routes.items():
        pd.testing.assert_frame_equal(got, ref, check_exact=True,
                                      obj=f"{name} vs {ref_name}")


def test_routes_agree_top_k(spark, ridx, monkeypatch):
    routes = _spark_routes(spark, ridx, monkeypatch, k=5,
                           final_merge="driver")
    routes.update(_local_routes(ridx, 5))
    _assert_same(routes)
    window = _rows(S.search(spark, ridx, QUERIES, k=5))
    pd.testing.assert_frame_equal(window, routes["inline"],
                                  check_exact=True)


def test_routes_agree_after_page(spark, ridx, monkeypatch):
    first = S.search(spark, ridx, QUERIES, k=3).toPandas()
    marks = S.page_marks(first)
    assert marks
    routes = _spark_routes(spark, ridx, monkeypatch, k=3, after=marks)
    routes.update(_local_routes(ridx, 3, after=marks))
    _assert_same(routes)
    both = pd.concat([_rows(first), routes["inline"]])
    assert not both.duplicated(["qid", "doc_id"]).any()


def test_routes_agree_unbounded(spark, ridx, monkeypatch):
    routes = _spark_routes(spark, ridx, monkeypatch, k=None)
    _assert_same(routes)
    assert len(routes["inline"]) > 5 * len(QUERIES)


def test_file_groups_own_each_pid_once(ridx):
    groups = S._postings_file_groups({"": ridx}, 5)
    assert 1 <= len(groups) <= 5
    seen = [p for files, pids in groups for p in pids]
    assert all(files[""] and pids for files, pids in groups)
    assert sorted(seen) == sorted(set(seen)) == \
        sorted(S._postings_pid_map(ridx))
    sub = S._postings_file_groups({"": ridx}, 5, pids=[1, 3])
    assert sorted(p for _, pids in sub for p in pids) == [1, 3]


def test_file_plan_single_stage(spark, ridx, monkeypatch):
    """The file-plan job has no Exchange and no Parquet scan node:
    tasks read their files directly."""
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_ROUTE_POSTINGS", "0")
    plan = S.search(spark, ridx, [(0, "the fast")], k=None) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "FileScan" not in plan and "Scan parquet" not in plan
    assert "MapInPandas" in plan


def test_inline_collect_launches_no_job(spark, ridx):
    df = S.search(spark, ridx, QUERIES, k=6, final_merge="driver")
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    rows = df.collect()  # LocalRelation: collect launches no job
    assert rows and len(tracker.getJobIdsForGroup(None)) == len(before)


def test_postings_pid_map_uri_is_none():
    """URI index paths can't be statted by the driver: the map declines
    (and direct access then raises), never guesses."""
    class _M:
        build_chunks = 1
        build_id = "x"
        index_dir = "s3a://bucket/idx"
        doc_count = 1
        sum_total_term_freq = 1

        def chunk_path(self, c):
            return f"s3a://bucket/idx/postings_{c}"

    assert S._postings_pid_map(_M()) is None
    with pytest.raises(FileNotFoundError):
        S._pid_map(_M())


def test_failed_pid_map_scan_is_not_cached(spark, ridx, monkeypatch):
    """One transient read error while scanning the postings layout must
    not disable direct access until the directory changes: the next
    scan succeeds and search() answers from the file plan."""
    import pyarrow.parquet as pq

    want = _rows(S.search(spark, ridx, QUERIES, k=5, norms_access="cogroup"))
    S._FILE_PLAN_CACHE.clear()
    real = pq.read_table
    calls = []

    def flaky(*args, **kwargs):
        calls.append(1)
        if len(calls) == 1:
            raise OSError("transient read error")
        return real(*args, **kwargs)

    monkeypatch.setattr(pq, "read_table", flaky)
    try:
        S._postings_pid_map(ridx)  # the failed scan
    except OSError:
        pass
    monkeypatch.setattr(pq, "read_table", real)
    assert S._postings_pid_map(ridx)
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_ROUTE_POSTINGS", "0")
    got = _rows(S.search(spark, ridx, QUERIES, k=5))
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_inline_gate_default_and_single_stats_lookup(spark, ridx,
                                                     monkeypatch):
    """The in-process gate has its own default (cluster task sizing
    does not widen it), and one search() call looks Σdf up once beyond
    planning."""
    monkeypatch.delenv("SPARK_GRAFT_LOCAL_ROUTE_POSTINGS", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_POSTINGS_PER_TASK", str(1 << 30))
    assert S._local_route_max() == 1 << 16
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_ROUTE_POSTINGS", "0")
    real = S.term_doc_freqs
    calls = []

    def counting(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(S, "term_doc_freqs", counting)
    S.search(spark, ridx, QUERIES, k=5, final_merge="driver")
    assert len(calls) == 2  # plan_queries + the route's Σdf


def test_sync_at_k_1000_runs_plain_file_plan(spark, ridx, monkeypatch):
    """``bound_probe="sync"`` is off at k >= 1000 (like the reference):
    it launches exactly one plain file-plan job — no probe over pid 0,
    no sync rounds — and returns ``bound_probe=False``'s rows."""
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_ROUTE_POSTINGS", "0")
    want = _rows(S.search(spark, ridx, QUERIES, k=1000,
                          final_merge="driver"))
    plans = []
    real = S._file_plan

    def counting(*args, **kwargs):
        plans.append(kwargs.get("pids", args[5] if len(args) > 5 else None))
        return real(*args, **kwargs)

    monkeypatch.setattr(S, "_file_plan", counting)
    got = _rows(S.search(spark, ridx, QUERIES, k=1000, final_merge="driver",
                         bound_probe="sync"))
    assert plans == [None]
    pd.testing.assert_frame_equal(got, want, check_exact=True)
