"""Every search route returns the same rows.

One index with deletes, one set of query shapes (term, phrase,
repeated-term phrase, a ``searchAfter`` page, ``k=None``), and every
route that answers them: the in-process route, the zero-exchange file
plan, the one-shot bound probe, the sync-round loop, the serving path,
and the serving path split by ``pids=`` and merged.
Rows must be identical, scores float-exact.  The file-plan shape
(pid ownership, a single stage without Exchange or Parquet scan), the
pid map's failure contract and the sync loop's k >= 1000 cut-off are
pinned here too.
"""

import numpy as np
import pandas as pd
import pytest

from pim_lucene_spark import IndexConfig
from pim_lucene_spark.operators import search as S
from pim_lucene_spark.operators.deletes import write_deletes
from pim_lucene_spark.operators.index_build import build_index
from pim_lucene_spark.operators.search import search

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
        mp.setattr(S, "_LOCAL_ROUTE_POSTINGS", 0)
        out["file_plan"] = S.search(spark, m, QUERIES, **kw)
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
    monkeypatch.setattr(S, "_LOCAL_ROUTE_POSTINGS", 0)
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

    monkeypatch.setattr(S, "_LOCAL_ROUTE_POSTINGS", 0)
    want = _rows(S.search(spark, ridx, QUERIES, k=5))
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
    got = _rows(S.search(spark, ridx, QUERIES, k=5))
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def test_inline_gate_default_and_single_stats_lookup(spark, ridx,
                                                     monkeypatch):
    """The in-process gate is one task's postings budget, and one
    search() call looks Σdf up once beyond planning."""
    assert S._LOCAL_ROUTE_POSTINGS == 1 << 16
    monkeypatch.setattr(S, "_LOCAL_ROUTE_POSTINGS", 0)
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
    monkeypatch.setattr(S, "_LOCAL_ROUTE_POSTINGS", 0)
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


# ------------------------------------------- k=None: no rank window

def _small_docs():
    rng = np.random.default_rng(11)
    vocab = ["alpha", "beta", "gamma", "delta", "epsilon"]
    return pd.DataFrame({
        "doc_id": range(60),
        "content": [" ".join(rng.choice(vocab, size=8)) for _ in range(60)],
    })


@pytest.fixture(scope="module")
def small_index(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("small") / "idx")
    return build_index(spark, spark.createDataFrame(_small_docs()), d,
                       IndexConfig(2, 1, build_chunks=1),
                       content_col="content", id_col="doc_id")


def test_k_none_equals_huge_k_rows(spark, small_index):
    batch = [(0, "alpha"), (1, "beta gamma")]
    full = search(spark, small_index, batch, k=10 ** 9).toPandas()
    none = search(spark, small_index, batch, k=None).toPandas()
    a = full.sort_values(["qid", "doc_id"]).reset_index(drop=True)
    b = none.sort_values(["qid", "doc_id"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_k_none_plan_has_no_rank_window(spark, small_index, monkeypatch):
    # pin the distributed plan (the size gate would otherwise route
    # this tiny index through the in-process path, which has no plan)
    monkeypatch.setattr(S, "_LOCAL_ROUTE_POSTINGS", 0)
    plan = (search(spark, small_index, [(0, "alpha")], k=None)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Window" not in plan, plan
    # the bounded path keeps its window (sanity that the probe works)
    plan_k = (search(spark, small_index, [(0, "alpha")], k=10)
              ._jdf.queryExecution().executedPlan().toString())
    assert "Window" in plan_k


def test_no_internal_huge_k_call_sites():
    """No ``k=10 ** 9`` search/clause-frame call remains in the package
    (docstrings and default-param *sentinels inside* search are fine —
    this greps call sites only)."""
    import pathlib
    import re
    pkg = pathlib.Path(__file__).resolve().parents[1] / "pim_lucene_spark"
    offenders = []
    for p in pkg.rglob("*.py"):
        if p.name == "model.py":  # driver-side pandas simulator
            continue
        for i, line in enumerate(p.read_text().splitlines(), 1):
            s = line.strip()
            if s.startswith("#"):
                continue
            # kwarg call sites only (k=10**9 followed by , or )); the
            # one internal sentinel assignment in search() is exempt
            if re.search(r"\bk\s*=\s*10\s*\*\*\s*9\s*[,)]", line):
                offenders.append(f"{p.name}:{i}: {s}")
    assert not offenders, offenders


def test_exotic_constant_score_wrappers_kernel_index(spark, small_index):
    """/code-review r6: the exotic ConstantScore recursion uses k=None —
    it must stay on the kernel plan for kernel-only inners and survive
    double nesting (rank <= None used to return empty silently)."""
    from pim_lucene_spark.index import FullTextIndex
    from pim_lucene_spark.plans.dismax import DisMaxQuery
    from pim_lucene_spark.plans.query import ConstantScoreQuery

    idx = FullTextIndex.open(spark, small_index.index_dir)
    dm = DisMaxQuery(clauses=["alpha", "beta"], tie=0.5)
    single = idx.query([(0, ConstantScoreQuery(dm, boost=2.5))],
                       k=100).toPandas()
    assert len(single) > 0
    assert (single.score == 2.5).all()
    double = idx.query(
        [(0, ConstantScoreQuery(ConstantScoreQuery(dm, boost=9.0),
                                boost=3.5))], k=100).toPandas()
    assert sorted(double.doc_id) == sorted(single.doc_id)
    assert (double.score == 3.5).all()


def test_k_none_auto_routes_to_kernel_same_rows(spark, small_index):
    from pim_lucene_spark.plans.boolean import BooleanQuery, search_boolean
    from tests.compound_ref import reference_compound
    batch = [(0, BooleanQuery(must=["alpha"], should=["beta"]))]
    auto = (search_boolean(spark, small_index, batch, k=None)
            .toPandas().sort_values(["qid", "doc_id"])
            .reset_index(drop=True))
    join = reference_compound(spark, _small_docs(),
                              {"content": small_index}, "content", batch,
                              k=None)
    assert list(auto.doc_id) == list(join.doc_id)
    assert list(auto.score) == list(join.score)
