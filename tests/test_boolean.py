"""BooleanQuery composition (MUST/SHOULD/MUST_NOT/FILTER) — Lucene
``BooleanWeight`` semantics over the engine's term/phrase clauses, plus
the DuckDB oracle mirror.
"""

import numpy as np
import pandas as pd
import pytest

from pim_lucene_spark.config import IndexConfig
from pim_lucene_spark.operators.index_build import build_index
from pim_lucene_spark.operators.search import search
from pim_lucene_spark.plans.boolean import BooleanQuery, search_boolean

DOCS = pd.DataFrame({
    "doc_id": range(6),
    "content": [
        "red apple pie",
        "red brick house",
        "green apple tart",
        "red apple red apple",
        "blue sky red sunset apple",
        "green grass only",
    ],
})


@pytest.fixture(scope="module")
def bidx(spark, tmp_path_factory):
    cfg = IndexConfig(num_partitions=2, num_segments=2, build_chunks=1)
    return build_index(spark, spark.createDataFrame(DOCS),
                       str(tmp_path_factory.mktemp("bool")), cfg,
                       content_col="content", id_col="doc_id")


def _scores(spark, bidx, text, boost=1.0):
    r = search(spark, bidx, [(0, text, boost)], k=100).toPandas()
    return dict(zip(r.doc_id, r.score))


def test_must_intersects_and_sums(spark, bidx):
    got = search_boolean(spark, bidx,
                         [(0, BooleanQuery(must=["red", "apple"]))],
                         k=10).toPandas()
    red = _scores(spark, bidx, "red")
    app = _scores(spark, bidx, "apple")
    exp_docs = set(red) & set(app)
    assert set(got.doc_id) == exp_docs
    for d, s in zip(got.doc_id, got.score):
        exp = np.float32(np.float64(red[d]) + np.float64(app[d]))
        assert np.float32(s) == exp


def test_pure_should_unions(spark, bidx):
    got = search_boolean(spark, bidx,
                         [(0, BooleanQuery(should=["brick", "grass"]))],
                         k=10).toPandas()
    assert set(got.doc_id) == {1, 5}


def test_must_not_excludes(spark, bidx):
    got = search_boolean(
        spark, bidx,
        [(0, BooleanQuery(must=["red"], must_not=["apple"]))],
        k=10).toPandas()
    red = _scores(spark, bidx, "red")
    assert set(got.doc_id) == set(red) - set(_scores(spark, bidx, "apple"))


def test_filter_restricts_without_scoring(spark, bidx):
    plain = search_boolean(spark, bidx, [(0, BooleanQuery(must=["red"]))],
                           k=10).toPandas()
    filt = search_boolean(
        spark, bidx,
        [(0, BooleanQuery(must=["red"], filter=["apple"]))],
        k=10).toPandas()
    assert set(filt.doc_id) < set(plain.doc_id)
    pm = dict(zip(plain.doc_id, plain.score))
    for d, s in zip(filt.doc_id, filt.score):
        assert s == pm[d]  # filter clause adds no score


def test_should_adds_on_top_of_must(spark, bidx):
    base = search_boolean(spark, bidx, [(0, BooleanQuery(must=["red"]))],
                          k=10).toPandas().set_index("doc_id").score
    plus = search_boolean(
        spark, bidx,
        [(0, BooleanQuery(must=["red"], should=["pie"]))],
        k=10).toPandas().set_index("doc_id").score
    pie = _scores(spark, bidx, "pie")
    assert set(plus.index) == set(base.index)  # should never gates
    for d in plus.index:
        exp = np.float32(np.float64(base[d]) + np.float64(pie.get(d, 0.0)))
        assert np.float32(plus[d]) == exp


def test_boost_scales_every_scoring_clause(spark, bidx):
    a = search_boolean(spark, bidx,
                       [(0, BooleanQuery(must=["red", "apple"]))],
                       k=10).toPandas().set_index("doc_id").score
    b = search_boolean(
        spark, bidx,
        [(0, BooleanQuery(must=["red", "apple"], boost=2.0))],
        k=10).toPandas().set_index("doc_id").score
    r2 = _scores(spark, bidx, "red", boost=2.0)
    a2 = _scores(spark, bidx, "apple", boost=2.0)
    for d in a.index:
        assert np.float32(b[d]) == np.float32(np.float64(r2[d])
                                              + np.float64(a2[d]))


def test_phrase_clause(spark, bidx):
    got = search_boolean(
        spark, bidx,
        [(0, BooleanQuery(must=["red apple"], must_not=["green"]))],
        k=10).toPandas()
    ph = _scores(spark, bidx, "red apple")
    assert set(got.doc_id) == set(ph)  # no doc has both phrase and green


def test_boolean_matches_duckdb_oracle(spark, bidx):
    duckdb = pytest.importorskip("duckdb")
    from pim_lucene_spark.oracle import boolean_bm25_sql
    specs = [
        (0, {"must": ["red", "apple"]}),
        (1, {"should": ["brick", "grass", "sky"]}),
        (2, {"must": ["apple"], "must_not": ["green"], "boost": 2.0}),
        (3, {"must": ["red"], "filter": ["apple"], "should": ["pie"]}),
    ]
    bqs = [(qid, BooleanQuery(**spec)) for qid, spec in specs]
    got = (search_boolean(spark, bidx, bqs, k=10, precision="float64")
           .toPandas()
           .assign(score=lambda d: d.score.round(6))
           .sort_values(["qid", "doc_id"]).reset_index(drop=True))
    con = duckdb.connect()
    con.register("documents",
                 DOCS.rename(columns={"content": "text"}))
    odf = (con.execute(boolean_bm25_sql(specs, k=10)).fetchdf()
           .sort_values(["qid", "doc_id"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(got, odf.astype(got.dtypes.to_dict()))


def test_facade_mixed_typed_batch(spark, bidx):
    from pim_lucene_spark import FullTextIndex, PhraseQuery
    idx = FullTextIndex(spark, bidx)
    res = idx.query([
        (0, PhraseQuery("red apple")),
        (1, BooleanQuery(must=["red"], must_not=["green"])),
        (2, PhraseQuery("red apple", slop=2)),
    ], k=10).toPandas()
    assert set(res.qid) == {0, 1, 2}
    assert res[res.qid == 1].freq.isna().all()  # boolean: no freq


def test_empty_boolean_raises():
    with pytest.raises(ValueError, match="at least one"):
        BooleanQuery(must_not=["x"])


def test_min_should_match(spark, bidx):
    duckdb = pytest.importorskip("duckdb")
    from pim_lucene_spark.oracle import boolean_bm25_sql
    # pure-should msm=2: docs matching >= 2 of {red, apple, green}
    specs = [
        (0, {"should": ["red", "apple", "green"], "min_should_match": 2}),
        (1, {"must": ["red"], "should": ["pie", "brick"],
             "min_should_match": 1}),
    ]
    bqs = [(qid, BooleanQuery(**spec)) for qid, spec in specs]
    got = (search_boolean(spark, bidx, bqs, k=10, precision="float64")
           .toPandas())
    by_q = {q: set(g.doc_id) for q, g in got.groupby("qid")}
    red = set(_scores(spark, bidx, "red"))
    app = set(_scores(spark, bidx, "apple"))
    grn = set(_scores(spark, bidx, "green"))
    exp0 = {d for d in red | app | grn
            if sum(d in s for s in (red, app, grn)) >= 2}
    assert by_q[0] == exp0
    # msm under a must base: red docs that also match pie OR brick
    pie, brick = set(_scores(spark, bidx, "pie")), \
        set(_scores(spark, bidx, "brick"))
    assert by_q[1] == red & (pie | brick)
    # oracle mirror
    con = duckdb.connect()
    con.register("documents", DOCS.rename(columns={"content": "text"}))
    odf = (con.execute(boolean_bm25_sql(specs, k=10)).fetchdf()
           .sort_values(["qid", "doc_id"]).reset_index(drop=True))
    g2 = (got.assign(score=lambda d: d.score.round(6))
          .sort_values(["qid", "doc_id"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(g2, odf.astype(g2.dtypes.to_dict()))


def test_min_should_match_validation():
    with pytest.raises(ValueError, match="min_should_match"):
        BooleanQuery(should=["a"], min_should_match=2)


# --- multi-term clauses inside booleans -------------------------------------

def test_multiterm_clause_constant_score(spark, bidx):
    """A prefix clause in MUST gates docs and contributes its boost as a
    constant score (Lucene's in-boolean CONSTANT_SCORE rewrite)."""
    from pim_lucene_spark.plans.multiterm import PrefixQuery
    got = search_boolean(
        spark, bidx,
        [(0, BooleanQuery(must=["red", PrefixQuery("appl", boost=2.0)]))],
        k=10).toPandas()
    red = _scores(spark, bidx, "red")
    app = _scores(spark, bidx, "apple")  # only appl* term in the corpus
    assert set(got.doc_id) == set(red) & set(app)
    for d, s in zip(got.doc_id, got.score):
        assert np.float32(s) == np.float32(np.float64(red[d]) + 2.0)


def test_multiterm_clause_must_not(spark, bidx):
    from pim_lucene_spark.plans.multiterm import WildcardQuery
    got = search_boolean(
        spark, bidx,
        [(0, BooleanQuery(must=["red"], must_not=[WildcardQuery("gr*")]))],
        k=10).toPandas()
    red = set(_scores(spark, bidx, "red"))
    grn = set(_scores(spark, bidx, "green"))
    assert set(got.doc_id) == red - grn


def test_fuzzy_clause_scoring(spark, bidx):
    """A fuzzy SHOULD clause adds its top-terms scoring-boolean score."""
    from pim_lucene_spark.plans.multiterm import FuzzyQuery
    base = search_boolean(spark, bidx, [(0, BooleanQuery(must=["red"]))],
                          k=10).toPandas().set_index("doc_id").score
    plus = search_boolean(
        spark, bidx,
        [(0, BooleanQuery(must=["red"],
                          should=[FuzzyQuery("pie", max_edits=0)]))],
        k=10).toPandas().set_index("doc_id").score
    pie = _scores(spark, bidx, "pie")
    assert set(plus.index) == set(base.index)
    for d in plus.index:
        exp = np.float32(np.float64(base[d]) + np.float64(pie.get(d, 0.0)))
        assert np.float32(plus[d]) == exp


def test_multiterm_boolean_matches_oracle(spark, bidx):
    duckdb = pytest.importorskip("duckdb")
    from pim_lucene_spark.oracle import boolean_bm25_sql
    from pim_lucene_spark.plans.multiterm import PrefixQuery, WildcardQuery
    specs = [
        (0, {"must": ["red", PrefixQuery("appl", boost=2.0)]}),
        (1, {"must": ["apple"], "must_not": [WildcardQuery("gr*")],
             "boost": 3.0}),
        (2, {"should": ["brick", PrefixQuery("gra")]}),
    ]
    bqs = [(qid, BooleanQuery(**spec)) for qid, spec in specs]
    got = (search_boolean(spark, bidx, bqs, k=10, precision="float64")
           .toPandas()
           .assign(score=lambda d: d.score.round(6))
           .sort_values(["qid", "doc_id"]).reset_index(drop=True))
    con = duckdb.connect()
    con.register("documents", DOCS.rename(columns={"content": "text"}))
    odf = (con.execute(boolean_bm25_sql(specs, k=10)).fetchdf()
           .sort_values(["qid", "doc_id"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(got, odf.astype(got.dtypes.to_dict()))


def test_parser_allows_multiterm_in_boolean():
    from pim_lucene_spark.plans.multiterm import PrefixQuery
    from pim_lucene_spark.plans.parser import parse_query
    from pim_lucene_spark.plans.query import TermQuery
    q = parse_query("+red appl*")
    assert q == BooleanQuery(must=[TermQuery("red")],
                             should=[PrefixQuery("appl")])


# --- sloppy phrase clauses inside booleans ----------------------------------

def test_sloppy_clause_adds_scan_score(spark, bidx):
    """'red apple'~2 as a SHOULD clause adds the scan path's sloppy BM25
    on top of a MUST term."""
    from pim_lucene_spark.plans.query import PhraseQuery
    from pim_lucene_spark.plans.router import search_with_fallback
    base = search_boolean(spark, bidx, [(0, BooleanQuery(must=["pie"]))],
                          k=10).toPandas().set_index("doc_id").score
    plus = search_boolean(
        spark, bidx,
        [(0, BooleanQuery(must=["pie"],
                          should=[PhraseQuery("red pie", slop=2)]))],
        k=10).toPandas().set_index("doc_id").score
    sl = search_with_fallback(
        spark, bidx, None, [(0, "red pie")], k=100, slop=2).toPandas()
    sls = dict(zip(sl.doc_id, sl.score))
    assert set(plus.index) == set(base.index)
    for d in plus.index:
        exp = np.float32(np.float64(base[d]) + np.float64(sls.get(d, 0.0)))
        assert np.float32(plus[d]) == exp


def test_sloppy_clause_must_gates(spark, bidx):
    from pim_lucene_spark.plans.query import PhraseQuery
    got = search_boolean(
        spark, bidx,
        [(0, BooleanQuery(must=[PhraseQuery("red house", slop=1)]))],
        k=10).toPandas()
    assert set(got.doc_id) == {1}  # 'red brick house' at slop 1


def test_sloppy_clause_matches_oracle(spark, bidx):
    duckdb = pytest.importorskip("duckdb")
    from pim_lucene_spark.oracle import boolean_bm25_sql
    from pim_lucene_spark.plans.query import PhraseQuery
    specs = [
        (0, {"must": ["pie"],
             "should": [PhraseQuery("red pie", slop=2)]}),
        (1, {"must": [PhraseQuery("red house", slop=1, boost=2.0)],
             "must_not": ["grass"]}),
    ]
    bqs = [(qid, BooleanQuery(**spec)) for qid, spec in specs]
    got = (search_boolean(spark, bidx, bqs, k=10, precision="float64")
           .toPandas()
           .assign(score=lambda d: d.score.round(6))
           .sort_values(["qid", "doc_id"]).reset_index(drop=True))
    con = duckdb.connect()
    con.register("documents", DOCS.rename(columns={"content": "text"}))
    odf = (con.execute(boolean_bm25_sql(specs, k=10)).fetchdf()
           .sort_values(["qid", "doc_id"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(got, odf.astype(got.dtypes.to_dict()))


def test_parser_sloppy_in_boolean():
    from pim_lucene_spark.plans.parser import parse_query
    from pim_lucene_spark.plans.query import PhraseQuery, TermQuery
    q = parse_query('+a "b c"~2')
    assert q == BooleanQuery(must=[TermQuery("a")],
                             should=[PhraseQuery("b c", slop=2)])


def test_typed_exact_clause_oracle(spark, bidx):
    """boolean_bm25_sql accepts typed EXACT PhraseQuery/TermQuery clause
    objects (what the parser emits), not just texts."""
    duckdb = pytest.importorskip("duckdb")
    from pim_lucene_spark.oracle import boolean_bm25_sql
    from pim_lucene_spark.plans.query import PhraseQuery, TermQuery
    specs = [(0, {"must": [PhraseQuery("red apple"),
                           TermQuery("pie", boost=2.0)]})]
    bqs = [(qid, BooleanQuery(**spec)) for qid, spec in specs]
    got = (search_boolean(spark, bidx, bqs, k=10, precision="float64")
           .toPandas()
           .assign(score=lambda d: d.score.round(6))
           .sort_values(["qid", "doc_id"]).reset_index(drop=True))
    con = duckdb.connect()
    con.register("documents", DOCS.rename(columns={"content": "text"}))
    odf = (con.execute(boolean_bm25_sql(specs, k=10)).fetchdf()
           .sort_values(["qid", "doc_id"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(got, odf.astype(got.dtypes.to_dict()))


def test_matchall_clause_in_boolean(spark, bidx):
    from pim_lucene_spark.plans.query import MatchAllDocsQuery
    got = search_boolean(
        spark, bidx,
        [(0, BooleanQuery(should=[MatchAllDocsQuery(boost=2.0)],
                          must_not=["green"]))],
        k=10).toPandas()
    grn = set(_scores(spark, bidx, "green"))
    assert set(got.doc_id) == set(range(6)) - grn
    assert (got.score == 2.0).all()


def test_count_matches_boolean_sloppy_clause_joins(spark, tmp_path):
    """A boolean containing a sloppy-phrase clause is not kernelable —
    count_matches must fall back to the join plan instead of launching
    the count kernel (which raises NotImplementedError in executors)."""
    from pim_lucene_spark.plans.boolean import BooleanQuery, search_boolean
    from pim_lucene_spark.plans.query import PhraseQuery
    from pim_lucene_spark.plans.suggest import count_matches

    docs = pd.DataFrame({
        "doc_id": range(5),
        "content": ["red apple pie", "red tart pie", "red pie",
                    "green pie", "red apple"],
    })
    m = build_index(spark, spark.createDataFrame(docs),
                    str(tmp_path / "cntslop"),
                    IndexConfig(2, 1, build_chunks=1),
                    content_col="content", id_col="doc_id")
    bq = BooleanQuery(must=[PhraseQuery("red pie", slop=1)],
                      should=["apple"])
    plain = BooleanQuery(must=["red"], should=["pie"])
    got = (count_matches(spark, m, [(0, bq), (1, plain)])
           .toPandas().set_index("qid").n_hits)
    assert got[0] == search_boolean(spark, m, [(0, bq)], k=10 ** 6).count()
    assert got[1] == search_boolean(spark, m, [(1, plain)],
                                    k=10 ** 6).count()
    assert got[0] == 3  # docs 0,1,2: "red ? pie" within one position gap


def test_boolean_and_dismax_join_k_none(spark, tmp_path):
    """k=None returns every match: the same rows as an unbounded k, and
    equal to the index-free reference."""
    from pim_lucene_spark.plans.boolean import BooleanQuery, search_boolean
    from pim_lucene_spark.plans.dismax import DisMaxQuery, search_dismax
    from tests.compound_ref import reference_compound

    rng = np.random.default_rng(5)
    vocab = ["red", "green", "blue", "apple", "sky"]
    docs = pd.DataFrame({
        "doc_id": range(40),
        "content": [" ".join(rng.choice(vocab, size=6)) for _ in range(40)],
    })
    m = build_index(spark, spark.createDataFrame(docs),
                    str(tmp_path / "knone"),
                    IndexConfig(2, 1, build_chunks=1),
                    content_col="content", id_col="doc_id")
    bq = [(0, BooleanQuery(must=["red"], should=["apple"]))]
    dq = [(0, DisMaxQuery(clauses=["red", "apple"], tie=0.3))]
    for fn, batch in ((search_boolean, bq), (search_dismax, dq)):
        full = fn(spark, m, batch, k=10 ** 9).toPandas()
        none = fn(spark, m, batch, k=None).toPandas()
        a = full.sort_values(["qid", "doc_id"]).reset_index(drop=True)
        b = none.sort_values(["qid", "doc_id"]).reset_index(drop=True)
        pd.testing.assert_frame_equal(a, b)
        pd.testing.assert_frame_equal(
            b, reference_compound(spark, docs, {"content": m}, "content",
                                  batch, k=None), check_exact=True)


def test_constant_score_exotic_inner(spark, tmp_path):
    """ConstantScoreQuery wraps ANY query: DisMax and nested
    ConstantScore inners take the recursive path (review finding: the
    boolean rewrite only hosts clause-form inners)."""
    from pim_lucene_spark.index import FullTextIndex
    from pim_lucene_spark.plans.dismax import DisMaxQuery
    from pim_lucene_spark.plans.query import (ConstantScoreQuery,
                                              PhraseQuery)

    docs = pd.DataFrame({
        "doc_id": range(6),
        "content": ["red apple", "green pear", "red plum",
                    "apple tart", "red sun", "pear pie"],
    })
    m = build_index(spark, spark.createDataFrame(docs),
                    str(tmp_path / "csq"), IndexConfig(2, 1, build_chunks=1),
                    content_col="content", id_col="doc_id")
    idx = FullTextIndex(spark, m)
    res = idx.query([
        (0, ConstantScoreQuery(DisMaxQuery(clauses=["red", "apple"]),
                               boost=2.0)),
        (1, ConstantScoreQuery(
            ConstantScoreQuery(PhraseQuery("red apple"), boost=9.0),
            boost=0.5)),
    ], k=10, precision="float64").toPandas()
    q0 = res[res.qid == 0]
    assert sorted(q0.doc_id) == [0, 2, 3, 4]  # red ∪ apple
    assert (q0.score == 2.0).all()
    q1 = res[res.qid == 1]
    assert sorted(q1.doc_id) == [0]
    assert (q1.score == 0.5).all()  # outer boost wins
