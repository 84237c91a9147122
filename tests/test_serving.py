"""Sharded serving (`ShardedServer`): multi-process resident search over
the built index — the reference's multithreaded searcher over loaded
ranks (SearchWikiDPUMultiThread.java:120-245).  Both placements must be
row-identical to the serial serving path on every fixture.
"""

import copy
import os

import pandas as pd
import pytest

from pim_lucene_spark.config import IndexConfig
from pim_lucene_spark.operators.index_build import build_index
from pim_lucene_spark.operators.search import search_local
from pim_lucene_spark.serving import ShardedServer
from tests.test_engine_differential import FIXTURE_DOCS, QUERIES


@pytest.fixture(scope="module")
def srv_index(spark, tmp_path_factory):
    cfg = IndexConfig(num_partitions=4, num_segments=2, build_chunks=2)
    return build_index(spark, spark.createDataFrame(FIXTURE_DOCS),
                       str(tmp_path_factory.mktemp("srvidx")), cfg,
                       content_col="content", id_col="doc_id")


def _canon(df):
    return (df.sort_values(["qid", "doc_id"]).reset_index(drop=True)
            .astype({"qid": "int64", "doc_id": "int64"}))


@pytest.mark.parametrize("mode,workers", [("shard", 2), ("shard", 4),
                                          ("replica", 2)])
def test_sharded_equals_serial(srv_index, mode, workers, k=10):
    serial = search_local(srv_index, QUERIES, k=k)
    with ShardedServer(srv_index, num_workers=workers, mode=mode) as srv:
        got = srv.search(QUERIES, k=k)
    pd.testing.assert_frame_equal(
        _canon(serial), _canon(got).astype(
            {c: serial[c].dtype for c in serial.columns}))


def test_shard_small_k_merge(srv_index):
    """k smaller than per-shard hits — the host merge must pick the
    global top-k, not any shard's."""
    serial = search_local(srv_index, QUERIES, k=2)
    with ShardedServer(srv_index, num_workers=4, mode="shard") as srv:
        got = srv.search(QUERIES, k=2)
    pd.testing.assert_frame_equal(
        _canon(serial), _canon(got).astype(
            {c: serial[c].dtype for c in serial.columns}))


def test_map_pipelines_batches_in_order(srv_index):
    batches = [QUERIES[:2], QUERIES[2:4], [(9, "zzznothere")],
               QUERIES[1:3], QUERIES]
    expected = [search_local(srv_index, b, k=5) for b in batches]
    for mode, w in (("shard", 2), ("replica", 3)):
        with ShardedServer(srv_index, num_workers=w, mode=mode) as srv:
            got = srv.map(batches, k=5)
        assert len(got) == len(batches)
        for e, g in zip(expected, got):
            if len(e) == 0:
                assert len(g) == 0
                continue
            pd.testing.assert_frame_equal(
                _canon(e), _canon(g).astype(
                    {c: e[c].dtype for c in e.columns}))


def test_worker_error_surfaces(srv_index):
    """A query the client cannot plan fails before anything is sent; a
    worker that raises has its error surface only after every worker's
    reply is drained, so the next request's rows are correct."""
    serial = search_local(srv_index, QUERIES, k=5)
    stale = copy.copy(srv_index)
    stale.delete_gen += 1
    for mode in ("shard", "replica"):
        with ShardedServer(srv_index, num_workers=2, mode=mode) as srv:
            with pytest.raises(Exception):
                srv.search([(0, object())], k=5)  # untokenizable query
            srv.manifest = stale     # every worker rejects the plan
            with pytest.raises(RuntimeError, match="stale serving plan"):
                srv.search(QUERIES, k=5)
            with pytest.raises(RuntimeError, match="stale serving plan"):
                srv.map([QUERIES[:2], QUERIES, QUERIES[3:]], k=5)
            srv.manifest = srv_index
            pd.testing.assert_frame_equal(srv.search(QUERIES, k=5), serial)
            for got in srv.map([QUERIES, QUERIES], k=5):
                pd.testing.assert_frame_equal(got, serial)


def test_plan_from_another_delete_generation_is_refused(spark, tmp_path):
    """A plan carries the index state it was made at; a process serving
    the next delete generation refuses it, naming both states."""
    from pim_lucene_spark.manifest import IndexManifest
    from pim_lucene_spark.operators.deletes import write_deletes
    from pim_lucene_spark.serving import (_index_state, _run_request,
                                          plan_request, serve_local)

    cfg = IndexConfig(num_partitions=2, num_segments=1, build_chunks=1)
    d = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(FIXTURE_DOCS), d, cfg,
                content_col="content", id_col="doc_id")
    gen0 = IndexManifest.load(d)
    gen1 = write_deletes(spark, IndexManifest.load(d), [1])
    assert (gen0.delete_gen, gen1.delete_gen) == (0, 1)
    plan = plan_request(gen0, QUERIES, 5, "float32", 0)
    with pytest.raises(RuntimeError, match="stale serving plan") as err:
        _run_request(gen1, plan, None)
    assert str(plan["state"]) in str(err.value)
    assert str(_index_state(gen1)) in str(err.value)
    assert plan["state"][1] == 0 and _index_state(gen1)[1] == 1
    # each generation serves its own plans
    with ShardedServer(gen1, num_workers=2, mode="shard") as srv:
        got = srv.search(QUERIES, k=5)
    exp = serve_local(gen1, QUERIES, 5, "float32", 0, None)
    pd.testing.assert_frame_equal(got, exp)
    assert 1 not in set(got.doc_id)


def test_one_plan_per_request(srv_index, tmp_path, monkeypatch):
    """The client plans each request once; a worker only runs the
    kernel: it calls neither ``plan_queries`` nor ``_kernel_payload``
    and builds no DataFrame."""
    from pim_lucene_spark.operators import search as S

    log = tmp_path / "calls"
    client = os.getpid()

    def record(name):
        with open(log, "a") as fh:
            fh.write(f"{name} {os.getpid()}\n")

    def counted(name, fn):
        def wrapper(*args, **kwargs):
            record(name)
            return fn(*args, **kwargs)
        return wrapper

    frame_init = pd.DataFrame.__init__

    def worker_frame_init(self, *args, **kwargs):
        if os.getpid() != client:
            record("DataFrame")
        frame_init(self, *args, **kwargs)

    # installed before the workers fork, so a call in a worker is
    # recorded too
    monkeypatch.setattr(S, "plan_queries", counted("plan_queries",
                                                   S.plan_queries))
    monkeypatch.setattr(S, "_kernel_payload", counted("_kernel_payload",
                                                      S._kernel_payload))
    monkeypatch.setattr(pd.DataFrame, "__init__", worker_frame_init)

    def calls():
        lines = log.read_text().split("\n") if log.exists() else []
        log.unlink(missing_ok=True)
        return sorted(ln for ln in lines if ln)

    batches = [QUERIES[:2], QUERIES[2:4], [(9, "zzznothere")], QUERIES]
    for mode in ("shard", "replica"):
        with ShardedServer(srv_index, num_workers=2, mode=mode) as srv:
            calls()
            srv.search(QUERIES, k=5)
            assert calls() == [f"_kernel_payload {client}",
                               f"plan_queries {client}"]
            srv.map(batches, k=5)
            got = calls()
            assert got.count(f"plan_queries {client}") == len(batches)
            assert all(ln.endswith(f" {client}") for ln in got), got


def test_all_miss_request_keeps_result_dtypes(srv_index):
    """A request's result dtypes follow its query kinds, never its hits:
    int64 freq and int32 norm with term/phrase queries only (an empty
    batch too), float64 (NaN on compound rows) with any compound query.
    In both modes, ``search`` and ``map`` return the rows and dtypes
    ``serve_local`` does."""
    from pim_lucene_spark.plans.boolean import BooleanQuery
    from pim_lucene_spark.serving import serve_local

    requests = {
        "plain": [(0, "red")],
        "plain, no hits": [(0, "zzznothere")],
        "plain, empty batch, no hits": [],
        "compound": [(1, BooleanQuery(must=["red"]))],
        "compound, no hits": [(1, BooleanQuery(must=["zzznothere"]))],
        "mixed": [(0, "red"), (1, BooleanQuery(must=["orange"]))],
        "mixed, no hits": [(0, "zzznothere"),
                           (1, BooleanQuery(must=["zzznothere"]))],
    }
    expected = {name: serve_local(srv_index, r, 5, "float32", 0, None)
                for name, r in requests.items()}
    for name, exp in expected.items():
        wide = not name.startswith("plain")
        assert (len(exp) > 0) == ("no hits" not in name), name
        assert str(exp.freq.dtype) == ("float64" if wide else "int64")
        assert str(exp.norm.dtype) == ("float64" if wide else "int32")
    for mode in ("shard", "replica"):
        with ShardedServer(srv_index, num_workers=2, mode=mode) as srv:
            mapped = srv.map(list(requests.values()), k=5)
            for (name, r), got_map in zip(requests.items(), mapped):
                pd.testing.assert_frame_equal(srv.search(r, k=5),
                                              expected[name], obj=name)
                pd.testing.assert_frame_equal(got_map, expected[name],
                                              obj=name)


def test_bad_mode_raises(srv_index):
    with pytest.raises(ValueError, match="mode"):
        ShardedServer(srv_index, mode="nope")


def test_serving_bare_sloppy_phrase(spark, srv_index):
    """A bare PhraseQuery with slop serves on the resident compound
    kernel (single-MUST boolean wrap) — score-identical to the
    distributed sloppy route."""
    from pim_lucene_spark.plans.query import PhraseQuery
    from pim_lucene_spark.plans.router import search_with_fallback
    from pim_lucene_spark.serving import serve_local

    q = [(0, PhraseQuery("red white", slop=2)),
         (1, PhraseQuery("one two one", slop=3))]
    loc = serve_local(srv_index, q, k=10, precision="float32",
                      postings_cache_mb=0, pids=None)
    dist = search_with_fallback(
        spark, srv_index, None, [(0, "red white"), (1, "one two one")],
        k=10, slop={0: 2, 1: 3}).toPandas()
    loc = (loc[["qid", "doc_id", "score"]]
           .sort_values(["qid", "doc_id"]).reset_index(drop=True))
    dist = (dist[["qid", "doc_id", "score"]]
            .sort_values(["qid", "doc_id"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(loc.astype(dist.dtypes.to_dict()), dist,
                                  check_exact=True)
    assert len(loc) > 0
