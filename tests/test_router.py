"""Query routing (Q1 rewrite semantics) + brute-force CPU-fallback path
(Q23): route decisions, and score/rank equality between the indexed kernel,
the brute-force DataFrame scan, and the pure-pandas model."""

import numpy as np
import pandas as pd
import pytest

from pim_lucene_spark.config import IndexConfig
from pim_lucene_spark.model import BruteForceModel
from pim_lucene_spark.operators.index_build import build_index
from pim_lucene_spark.plans import QueryRoute, route_query, search_with_fallback
from pim_lucene_spark.plans.router import brute_force_search
from tests.test_engine_differential import FIXTURE_DOCS, QUERIES


def test_route_decisions(spark, tmp_index_dir):
    assert route_query(None) is QueryRoute.BRUTE_FORCE
    assert route_query(None, slop=1) is QueryRoute.BRUTE_FORCE
    assert route_query(tmp_index_dir) is QueryRoute.BRUTE_FORCE  # no manifest
    cfg = IndexConfig(num_partitions=2, num_segments=1, build_chunks=1)
    m = build_index(spark, spark.createDataFrame(FIXTURE_DOCS), tmp_index_dir,
                    cfg, content_col="content", id_col="doc_id")
    assert route_query(m) is QueryRoute.INDEXED
    assert route_query(tmp_index_dir) is QueryRoute.INDEXED
    assert route_query(m, slop=2) is QueryRoute.BRUTE_FORCE
    m.completed_chunks = []
    assert route_query(m) is QueryRoute.BRUTE_FORCE  # generation not ready


def test_brute_force_matches_model(spark):
    docs = spark.createDataFrame(FIXTURE_DOCS)
    res = brute_force_search(docs, QUERIES, k=10).toPandas()
    model = BruteForceModel(FIXTURE_DOCS)
    for qid, text in QUERIES:
        expected = model.search_phrase(text, k=10)
        got = res[res.qid == qid].sort_values(
            ["score", "doc_id"], ascending=[False, True])
        assert got.doc_id.tolist() == expected.doc_id.tolist(), text
        assert got.freq.tolist() == expected.freq.tolist(), text
        np.testing.assert_array_equal(
            np.float32(got.score.to_numpy()),
            np.float32(expected.score.to_numpy()), err_msg=text)


def test_fallback_equals_indexed(spark, tmp_index_dir):
    cfg = IndexConfig(num_partitions=3, num_segments=2, build_chunks=1)
    sdf = spark.createDataFrame(FIXTURE_DOCS)
    m = build_index(spark, sdf, tmp_index_dir, cfg,
                    content_col="content", id_col="doc_id")
    via_index = (search_with_fallback(spark, m, None, QUERIES, k=10)
                 .toPandas().sort_values(["qid", "doc_id"])
                 .reset_index(drop=True))
    via_scan = (search_with_fallback(spark, None, sdf, QUERIES, k=10)
                .toPandas().sort_values(["qid", "doc_id"])
                .reset_index(drop=True))
    pd.testing.assert_frame_equal(via_index, via_scan)


SLOP_DOCS = pd.DataFrame({
    "doc_id": range(4),
    "content": [
        "alpha beta gamma",          # "alpha gamma" slop1: len-1 match
        "alpha gamma beta",          # exact "alpha gamma"
        "gamma beta alpha",          # reversed: pp span 3 at slop.. see test
        "alpha beta beta gamma",     # "alpha gamma" needs slop 2
    ],
})


def test_sloppy_freqs_hand_fixtures(spark):
    """Pinned sloppy weights: freq = Σ 1/(1+matchLength) per anchor."""
    res = brute_force_search(spark.createDataFrame(SLOP_DOCS),
                             [(0, "alpha gamma")], k=10, slop=1,
                             precision="float64").toPandas()
    freqs = dict(zip(res.doc_id, res.freq))
    # doc0: alpha@0, gamma@2 → pp span 1 → 1/2 ; doc1 exact → 1
    # doc2: alpha@2, gamma@0 → pp gamma=-1, span 3 → no match at slop 1
    # doc3: span 2 → no match at slop 1
    assert freqs == {0: 0.5, 1: 1.0}

    res2 = brute_force_search(spark.createDataFrame(SLOP_DOCS),
                              [(0, "alpha gamma")], k=10, slop=3,
                              precision="float64").toPandas()
    freqs2 = dict(zip(res2.doc_id, res2.freq))
    assert freqs2 == {0: 0.5, 1: 1.0, 2: 0.25, 3: pytest.approx(1 / 3)}


def test_slop_zero_equals_exact_path(spark):
    docs = spark.createDataFrame(FIXTURE_DOCS)
    nonrep = [(q, t) for q, t in QUERIES
              if len(set(t.split())) == len(t.split())]
    exact = brute_force_search(docs, nonrep, k=10).toPandas()
    sloppy = brute_force_search(docs, nonrep, k=10, slop=0).toPandas()
    exact = exact.sort_values(["qid", "doc_id"]).reset_index(drop=True)
    sloppy = sloppy.sort_values(["qid", "doc_id"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(exact, sloppy)


def test_slop_routes_to_scan_never_raises(spark, tmp_index_dir):
    """Reference contract: slop != 0 is answered (PimPhraseQuery.java:74-88
    rewrites to a plain PhraseQuery), via the scan over the index's docs."""
    cfg = IndexConfig(num_partitions=2, num_segments=1, build_chunks=1)
    m = build_index(spark, spark.createDataFrame(SLOP_DOCS), tmp_index_dir,
                    cfg, content_col="content", id_col="doc_id")
    res = search_with_fallback(spark, m, None, [(0, "alpha gamma")],
                               k=10, slop=1).toPandas()
    assert dict(zip(res.doc_id, res.freq)) == {0: 0.5, 1: 1.0}


def test_slop_single_term(spark):
    """A single-term query under slop must behave like a term query with
    integer-valued float freqs ('never an exception' contract)."""
    res = brute_force_search(spark.createDataFrame(SLOP_DOCS),
                             [(0, "beta")], k=10, slop=2,
                             precision="float64").toPandas()
    freqs = dict(zip(res.doc_id, res.freq))
    assert freqs == {0: 1.0, 1: 1.0, 2: 1.0, 3: 2.0}
    exact = brute_force_search(spark.createDataFrame(SLOP_DOCS),
                               [(0, "beta")], k=10,
                               precision="float64").toPandas()
    assert dict(zip(exact.doc_id, exact.freq.astype(float))) == freqs


def test_slop_with_repeated_terms_answers(spark):
    """Repeated query terms under slop are answered with Lucene's
    repeating-terms matcher (the last 'reference answers it, we refuse'
    hole closed): 'beta beta' needs two beta occurrences per doc."""
    res = brute_force_search(spark.createDataFrame(SLOP_DOCS),
                             [(0, "beta beta")], k=10, slop=2,
                             precision="float64").toPandas()
    # only doc3 ('alpha beta beta gamma') has beta twice: adjacent -> 1.0
    assert dict(zip(res.doc_id, res.freq)) == {3: 1.0}


def test_slop_doc_repeats_match_lucene_not_anchor_count(spark):
    """Greedy pq traversal emits ONE match for doc 'a a b', query 'a b'
    (SloppyPhraseMatcher javadoc) — not one per first-term anchor."""
    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0], "content": ["a a b"]}))
    res = brute_force_search(docs, [(0, "a b")], k=10, slop=1,
                             precision="float64").toPandas()
    assert dict(zip(res.doc_id, res.freq)) == {0: 1.0}


def test_sloppy_matches_duckdb_oracle(spark):
    """Spark sloppy kernel == the DuckDB oracle SQL on the same frame."""
    duckdb = pytest.importorskip("duckdb")
    from pim_lucene_spark.oracle import sloppy_phrase_bm25_sql
    queries = [(0, "alpha gamma"), (1, "beta gamma"), (2, "gamma beta alpha")]
    res = (brute_force_search(spark.createDataFrame(SLOP_DOCS), queries,
                              k=10, slop=1, precision="float64").toPandas()
           .assign(freq=lambda d: d.freq.round(6),
                   score=lambda d: d.score.round(6))
           [["qid", "doc_id", "freq", "score"]]
           .sort_values(["qid", "doc_id"]).reset_index(drop=True))
    con = duckdb.connect()
    con.register("documents", SLOP_DOCS.rename(columns={"content": "text"}))
    odf = (con.execute(sloppy_phrase_bm25_sql(queries, slop=1, k=10))
           .fetchdf().sort_values(["qid", "doc_id"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(res, odf.astype(res.dtypes.to_dict()))


def test_pre_v3_index_rejected_by_load_and_search(spark, tmp_index_dir):
    """A pre-v3 manifest (no norms/pid=N layout) fails once, at load,
    with a rebuild hint — for IndexManifest.load and for search()."""
    import dataclasses
    import json
    import os

    from pim_lucene_spark.manifest import IndexManifest
    from pim_lucene_spark.operators.search import search
    meta = dataclasses.asdict(IndexManifest(
        index_dir=tmp_index_dir, num_partitions=2, num_segments=1,
        doc_count=1, sum_total_term_freq=1, nb_doc_per_segment=1))
    meta["version"] = 2
    with open(os.path.join(tmp_index_dir, "manifest.json"), "w") as f:
        json.dump(meta, f)
    with pytest.raises(ValueError, match="rebuild"):
        IndexManifest.load(tmp_index_dir)
    with pytest.raises(ValueError, match="rebuild"):
        search(spark, tmp_index_dir, [(0, "red")])


def test_mixed_per_query_slops_single_scan(spark):
    """A {qid: slop} dict answers a mixed batch in ONE scan with results
    identical to separate per-slop runs."""
    docs = spark.createDataFrame(SLOP_DOCS)
    mixed = brute_force_search(
        docs, [(0, "alpha gamma"), (1, "alpha gamma"), (2, "beta")],
        k=10, precision="float64",
        slop={0: 1, 1: 3, 2: 0}).toPandas()
    sep = {}
    for qid, s in ((0, 1), (1, 3), (2, 0)):
        r = brute_force_search(docs, [(qid, ["alpha gamma", "alpha gamma",
                                             "beta"][qid])],
                               k=10, precision="float64", slop=s).toPandas()
        for _, row in r.iterrows():
            sep[(qid, int(row.doc_id))] = (round(float(row.freq), 9),
                                           round(float(row.score), 9))
    got = {(int(r.qid), int(r.doc_id)): (round(float(r.freq), 9),
                                         round(float(r.score), 9))
           for r in mixed.itertuples()}
    assert got == sep
    assert mixed.freq.dtype == np.float64  # unified DOUBLE freq


def test_sloppy_kernel_matches_scan(spark, tmp_index_dir):
    """The index-hosted sloppy kernel (stored positions, postings
    pushdown — no corpus re-tokenize) is bit-identical to the scan on a
    mixed exact+sloppy batch with repeated terms, both precisions."""
    from pim_lucene_spark.plans.compound import search_sloppy_kernel

    rng = np.random.default_rng(11)
    vocab = ["alpha", "beta", "gamma", "delta", "eps"]
    docs = pd.DataFrame({
        "doc_id": range(80),
        "content": [" ".join(rng.choice(vocab,
                                        size=rng.integers(3, 12)))
                    for _ in range(80)],
    })
    cfg = IndexConfig(num_partitions=3, num_segments=2, build_chunks=1)
    m = build_index(spark, spark.createDataFrame(docs), tmp_index_dir,
                    cfg, content_col="content", id_col="doc_id")
    q = [(0, "alpha gamma"), (1, "beta beta"), (2, "alpha beta gamma"),
         (3, "delta"), (4, "eps alpha")]
    slops = {0: 1, 1: 2, 2: 3, 3: 2, 4: 0}
    sdf = spark.createDataFrame(docs)
    for prec in ("float32", "float64"):
        a = (search_sloppy_kernel(spark, m, q, k=10, slop=slops,
                                  precision=prec).toPandas()
             .sort_values(["qid", "doc_id"]).reset_index(drop=True))
        b = (brute_force_search(sdf, q, k=10, slop=slops, precision=prec)
             .toPandas()
             .sort_values(["qid", "doc_id"]).reset_index(drop=True))
        pd.testing.assert_frame_equal(a, b, check_exact=True)
        assert set(a.qid) == {0, 1, 2, 3, 4}


def test_fallback_auto_routes_sloppy_to_kernel(spark, tmp_index_dir):
    """search_with_fallback prefers the index-hosted sloppy kernel on a
    ready POSIX index (sloppy_plan='kernel' must not raise) and stays
    bit-identical to the forced scan."""
    cfg = IndexConfig(num_partitions=2, num_segments=1, build_chunks=1)
    m = build_index(spark, spark.createDataFrame(SLOP_DOCS),
                    tmp_index_dir, cfg, content_col="content",
                    id_col="doc_id")
    q = [(0, "alpha gamma")]
    a = (search_with_fallback(spark, m, None, q, k=10, slop=1,
                              sloppy_plan="kernel").toPandas()
         .sort_values("doc_id").reset_index(drop=True))
    b = (search_with_fallback(spark, m, None, q, k=10, slop=1,
                              sloppy_plan="scan").toPandas()
         .sort_values("doc_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(a, b, check_exact=True)
    assert dict(zip(a.doc_id, a.freq)) == {0: 0.5, 1: 1.0}
