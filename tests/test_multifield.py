"""Multi-field indexing (Q6 field lookup): per-field postings/norms/stats.

Golden fixtures transliterated from the reference's multi-field searcher
test (``TestPimIndexSearcher.java:86-164`` ``testTermBasic``: fields
``id``/``field1``/``field2`` with per-field expected (doc, freq) matches)
plus per-field stats isolation and a phrase-in-one-field check mirroring
``testTermMoreText``'s ``title:[Apache Lucene]``.
"""

import os

import pandas as pd
import pytest

from pim_lucene_spark import IndexConfig, MultiFieldIndex

# TestPimIndexSearcher.testTermBasic corpus (TestPimIndexSearcher.java:86-99)
BASIC = pd.DataFrame({
    "doc_id": [0, 1, 2],
    "id": ["AAA", "AAB", "AAC"],
    "field1": ["red black yellow", "yellow green blue", "black blue pink"],
    "field2": ["red orange white orange red", "green red", "white brown"],
})


@pytest.fixture(scope="module")
def mf_index(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("mfidx"))
    return MultiFieldIndex.build(
        spark, spark.createDataFrame(BASIC), d,
        fields={"id": "id", "field1": "field1", "field2": "field2"},
        cfg=IndexConfig(num_partitions=2, num_segments=2, build_chunks=1),
        id_col="doc_id")


def _matches(idx, field, term):
    df = idx.search_term(term, field=field).toPandas()
    return sorted(zip(df.doc_id.astype(int), df.freq.astype(int)))


def test_term_basic_golden(mf_index):
    """Expected (doc, freq) sets of TestPimIndexSearcher.java:101-160."""
    assert _matches(mf_index, "field1", "yellow") == [(0, 1), (1, 1)]
    assert _matches(mf_index, "field1", "green") == [(1, 1)]
    assert _matches(mf_index, "field2", "green") == [(1, 1)]
    assert _matches(mf_index, "field2", "orange") == [(0, 2)]
    assert _matches(mf_index, "field2", "yellow") == []      # wrong field
    assert _matches(mf_index, "id", "AAC") == [(2, 1)]


def test_phrase_in_one_field(mf_index):
    """Phrase queries stay within their field (testTermMoreText's
    title:[Apache Lucene] analogue)."""
    df = mf_index.search_phrase("orange white orange",
                                field="field2").toPandas()
    assert sorted(zip(df.doc_id.astype(int), df.freq.astype(int))) == [(0, 1)]
    assert mf_index.search_phrase("orange white orange",
                                  field="field1").count() == 0


def test_per_field_stats_isolated(mf_index):
    stats = mf_index.field_stats()
    exp = {f: int(BASIC[f].str.split().str.len().sum())
           for f in ("id", "field1", "field2")}
    for f, e in exp.items():
        assert stats[f]["sum_ttf"] == e
        assert stats[f]["doc_count"] == 3
        assert stats[f]["avgdl"] == pytest.approx(e / 3)


def test_search_combined_weighted_sum(mf_index):
    """Combined score == Σ_f w_f · per-field score, exact-ranked."""
    import numpy as np
    queries = [(0, "red"), (1, "green")]
    w = {"field1": 1.0, "field2": 3.0}
    got = (mf_index.search_combined(queries, k=10, field_weights=w,
                                    precision="float64").toPandas()
           .set_index(["qid", "doc_id"]).score)
    # manual combination from per-field searches
    manual = {}
    for f, wt in w.items():
        r = mf_index.search(queries, k=10 ** 9, field=f,
                            precision="float64").toPandas()
        for _, row in r.iterrows():
            key = (row.qid, row.doc_id)
            manual[key] = manual.get(key, 0.0) + wt * row.score
    assert set(got.index) == set(manual)
    for key, v in manual.items():
        assert got[key] == pytest.approx(v, abs=0)
    # "red" in both fields of doc 0 → combined beats either field alone
    f1 = mf_index.search_term("red", field="field1").toPandas()
    assert got[(0, 0)] > float(f1[f1.doc_id == 0].score.iloc[0])


def test_combined_ta_equals_exhaustive(mf_index):
    """The bounded threshold merge returns the exhaustive plan's exact
    rows — same docs, same float64 scores, same ranking."""
    queries = [(0, "red"), (1, "green"), (2, "blue black")]
    w = {"field1": 1.0, "field2": 3.0}
    for k in (1, 2, 10):
        a = (mf_index.search_combined(queries, k=k, field_weights=w,
                                      precision="float64",
                                      exhaustive="ta").toPandas()
             .sort_values(["qid", "doc_id"]).reset_index(drop=True))
        b = (mf_index.search_combined(queries, k=k, field_weights=w,
                                      precision="float64",
                                      exhaustive=True).toPandas()
             .sort_values(["qid", "doc_id"]).reset_index(drop=True))
        pd.testing.assert_frame_equal(a, b, check_dtype=False)


def test_combined_ta_bounded_fetch_on_stopword(spark, tmp_path_factory):
    """A stopword query matches every doc; the threshold merge must fetch
    far fewer per-field rows than the 2·N·fields the exhaustive union
    shuffles, and still return the exhaustive plan's exact top-k."""
    n = 400
    # lengths grow with doc_id so BM25 scores decay strictly near the top
    # (short docs hold distinct SmallFloat norms); a tie-heavy corpus
    # would legitimately force the merge to exhaust instead
    docs = pd.DataFrame({
        "doc_id": range(n),
        "a": ["the " + "pad " * (i + 1) for i in range(n)],
        "b": ["the " + "qad " * (i + 3) for i in range(n)],
    })
    idx = MultiFieldIndex.build(
        spark, spark.createDataFrame(docs),
        str(tmp_path_factory.mktemp("tastop")),
        fields={"a": "a", "b": "b"},
        cfg=IndexConfig(num_partitions=2, num_segments=2, build_chunks=1),
        id_col="doc_id")
    q = [(0, "the")]
    w = {"a": 1.0, "b": 2.0}
    ta = (idx.search_combined(q, k=10, field_weights=w,
                              precision="float64", exhaustive="ta")
          .toPandas().sort_values("doc_id").reset_index(drop=True))
    fetched = idx.last_ta_rows_fetched
    ex = (idx.search_combined(q, k=10, field_weights=w,
                              precision="float64", exhaustive=True)
          .toPandas().sort_values("doc_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(ta, ex, check_dtype=False)
    assert fetched < n, f"TA fetched {fetched} rows; exhaustive unions {2*n}"


def test_unknown_field_raises(mf_index):
    with pytest.raises(KeyError, match="unknown field"):
        mf_index.search([(0, "red")], field="nope")


def test_open_roundtrip_and_shared_ids(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("mfidx2"))
    built = MultiFieldIndex.build(
        spark, spark.createDataFrame(BASIC), d,
        fields={"field1": "field1", "field2": "field2"},
        cfg=IndexConfig(num_partitions=2, num_segments=1, build_chunks=1),
        id_col="doc_id")
    reopened = MultiFieldIndex.open(spark, d)
    assert reopened.fields == built.fields
    assert reopened.default_field == "field1"
    # same doc-id space: a cross-field join on "red" lines up
    f1 = set(reopened.search_term("red", field="field1")
             .toPandas().doc_id)
    f2 = set(reopened.search_term("red", field="field2")
             .toPandas().doc_id)
    assert f1 == {0} and f2 == {0, 1}


def test_multifield_delete_docs_accepts_generator(spark, tmp_path):
    docs = pd.DataFrame({
        "doc_id": range(6),
        "title": ["red apple", "green pear", "red plum",
                  "blue sky", "red sun", "pink dawn"],
        "body": ["apple pie now", "pear tart", "plum jam",
                 "sky high", "sun down", "dawn light"],
    })
    idx = MultiFieldIndex.build(
        spark, spark.createDataFrame(docs), str(tmp_path / "mfdel"),
        fields={"title": "title", "body": "body"},
        cfg=IndexConfig(num_partitions=2, num_segments=1, build_chunks=1),
        id_col="doc_id")
    # one-shot generator: pre-fix, field 2 saw an exhausted iterable and
    # wrote an empty generation (deleted docs kept matching body queries)
    idx.delete_docs(d for d in (0, 2))
    for name in idx.fields:
        assert idx.manifests[name].deleted_count == 2, name
    assert idx.search_term("red", field="title").toPandas() \
              .doc_id.tolist() == [4]
    body = idx.search_term("plum", field="body")
    assert body.count() == 0


def test_multifield_delete_docs_accepts_dataframe(spark, tmp_path):
    """A Spark DataFrame of ids must pass through untouched (list(df)
    iterates __getitem__ and yields Column objects — review finding)."""
    docs = pd.DataFrame({
        "doc_id": range(4),
        "title": ["red a", "green b", "red c", "blue d"],
        "body": ["aa xx", "bb yy", "cc zz", "dd ww"],
    })
    idx = MultiFieldIndex.build(
        spark, spark.createDataFrame(docs), str(tmp_path / "mfdf"),
        fields={"title": "title", "body": "body"},
        cfg=IndexConfig(num_partitions=2, num_segments=1, build_chunks=1),
        id_col="doc_id")
    ids = spark.createDataFrame([(0,), (2,)], "doc_id long")
    assert idx.delete_docs(ids) == 2
    for name in idx.fields:
        assert idx.manifests[name].deleted_count == 2, name
    assert idx.search_term("red", field="title").count() == 0


def test_mixed_num_partitions_rejected_once(spark, tmp_path):
    """Fields built at P=2 and P=4 and assembled by hand share no pid
    space: every multi-field entry point raises the one
    ``resolve_manifests`` ValueError before any Spark job starts."""
    from pim_lucene_spark.operators.index_build import build_index
    from pim_lucene_spark.plans.boolean import (BooleanQuery,
                                                search_boolean_fields)
    from pim_lucene_spark.plans.compound import search_compound_local
    from pim_lucene_spark.plans.query import FieldedQuery

    sdf = spark.createDataFrame(BASIC)
    mans = {f: build_index(spark, sdf.select("doc_id", f),
                           str(tmp_path / f), IndexConfig(p, 1,
                                                          build_chunks=1),
                           content_col=f, id_col="doc_id")
            for f, p in (("field1", 2), ("field2", 4))}
    bq = [(0, BooleanQuery(must=["red", FieldedQuery("field2", "red")]))]
    fake = MultiFieldIndex.__new__(MultiFieldIndex)
    fake.spark, fake.fields, fake.default_field, fake.manifests = (
        spark, list(mans), "field1", mans)
    sc = spark.sparkContext
    sc.setJobGroup("mixed_p", "mixed num_partitions")
    try:
        for call in (
                lambda: MultiFieldIndex(spark, str(tmp_path), list(mans),
                                        "field1", mans),
                lambda: search_boolean_fields(spark, mans, "field1", bq),
                lambda: fake.search_bm25f([(0, "red")]),
                lambda: search_compound_local(mans, bq,
                                              default_field="field1")):
            with pytest.raises(ValueError, match="num_partitions"):
                call()
        assert list(sc.statusTracker().getJobIdsForGroup("mixed_p")) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
