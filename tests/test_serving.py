"""Sharded serving (`ShardedServer`): multi-process resident search over
the built index — the reference's multithreaded searcher over loaded
ranks (SearchWikiDPUMultiThread.java:120-245).  Both placements must be
row-identical to the serial serving path on every fixture.
"""

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


def test_all_miss_request_keeps_result_dtypes(srv_index):
    """A request no shard has hits for returns the same typed columns
    as one with hits (int64 ids and freq, int32 norm, float64 score),
    and so does an empty batch on one worker."""
    from pim_lucene_spark.serving import serve_local

    with ShardedServer(srv_index, num_workers=2, mode="shard") as srv:
        hit = srv.search([(0, "red")], k=5)
        miss = srv.search([(0, "zzznothere")], k=5)
    assert len(hit) and not len(miss)
    pd.testing.assert_series_equal(miss.dtypes, hit.dtypes)
    none = serve_local(srv_index, [], k=5, precision="float32",
                       postings_cache_mb=0, pids=None)
    pd.testing.assert_series_equal(none.dtypes, hit.dtypes)


def test_worker_error_surfaces(srv_index):
    with ShardedServer(srv_index, num_workers=2, mode="shard") as srv:
        with pytest.raises(Exception):
            srv.search([(0, object())], k=5)  # untokenizable query
        # server keeps serving after an error
        res = srv.search(QUERIES[:1], k=5)
        assert len(res) > 0


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
