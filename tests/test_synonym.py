"""SynonymQuery (plans/query.py + compound kernel `_syn_match`):
merged-stats scoring per ``SynonymQuery.java`` — freq = Σ boostᵢ·tfᵢ,
one idf from the max docFreq — against a DuckDB replica, the engine's
own term search (single-term identity), composition, serving-path and
delete differentials."""

import duckdb
import numpy as np
import pandas as pd
import pytest

from pim_lucene_spark.config import IndexConfig
from pim_lucene_spark.operators.index_build import build_index
from pim_lucene_spark.operators.search import search
from pim_lucene_spark.oracle import synonym_bm25_sql
from pim_lucene_spark.plans.boolean import (BooleanQuery, search_boolean,
                                            search_synonym)
from pim_lucene_spark.plans.query import SynonymQuery

VOCAB = ["quick", "fast", "rapid", "slow", "house", "car", "auto",
         "the", "a"]


def _corpus(n=140, seed=31):
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        words = list(rng.choice(VOCAB, size=rng.integers(3, 16)))
        rows.append(" ".join(words))
    return pd.DataFrame({"doc_id": range(n), "content": rows})


@pytest.fixture(scope="module")
def synidx(spark, tmp_path_factory):
    pdf = _corpus()
    cfg = IndexConfig(num_partitions=4, num_segments=2, build_chunks=1)
    m = build_index(spark, spark.createDataFrame(pdf),
                    str(tmp_path_factory.mktemp("syn")), cfg,
                    content_col="content", id_col="doc_id")
    return m, pdf


def _oracle(pdf, specs, k=10, round_scores=True):
    con = duckdb.connect()
    con.register("documents",
                 pdf.rename(columns={"content": "text"}))
    return (con.execute(synonym_bm25_sql(specs, k=k,
                                         round_scores=round_scores))
            .fetchdf())


SPECS = [
    (0, [("quick", 1.0), ("fast", 1.0), ("rapid", 1.0)], 1.0),
    (1, [("car", 1.0), ("auto", 0.5)], 2.0),
    (2, [("house", 0.25)], 1.0),
    (3, [("slow", 1.0), ("zz_absent", 1.0)], 1.0),
    (4, [("zz_absent", 1.0)], 1.0),
]


def _typed(specs):
    return [(qid, SynonymQuery(tuple(tb), boost=b)) for qid, tb, b in specs]


def test_synonym_matches_duckdb_oracle(spark, synidx):
    m, pdf = synidx
    got = (search_synonym(spark, m, _typed(SPECS), k=10,
                          precision="float64")
           .toPandas())
    got["score"] = got["score"].round(6)
    got = got.sort_values(["qid", "doc_id"]).reset_index(drop=True)
    exp = (_oracle(pdf, SPECS, k=10)
           .sort_values(["qid", "doc_id"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(got.astype(exp.dtypes.to_dict()), exp)


def test_single_term_synonym_equals_term_search(spark, synidx):
    """A one-term SynonymQuery is exactly a TermQuery: same pseudo-df,
    same freq — float32 Lucene-parity bit identity."""
    m, _ = synidx
    syn = (search_synonym(spark, m, [(0, SynonymQuery(("house",)))],
                          k=50, precision="float32")
           .toPandas().sort_values("doc_id").reset_index(drop=True))
    term = (search(spark, m, [(0, "house")], k=50, precision="float32")
            .toPandas().sort_values("doc_id").reset_index(drop=True))
    assert len(syn) == len(term)
    assert (syn.doc_id.to_numpy() == term.doc_id.to_numpy()).all()
    assert (syn.score.to_numpy() == term.score.to_numpy()).all()  # bits


def test_synonym_union_and_merged_stats(spark, synidx):
    """The match set is the union of the terms' docs and every doc
    scores with ONE weight built from the max docFreq."""
    m, pdf = synidx
    got = (search_synonym(spark, m,
                          [(0, SynonymQuery(("quick", "rapid")))],
                          k=1000, precision="float64").toPandas())
    toks = pdf.content.str.split()
    expect_docs = set(pdf.doc_id[toks.map(
        lambda ts: "quick" in ts or "rapid" in ts)])
    assert set(got.doc_id) == expect_docs
    # a doc holding both terms scores HIGHER than the same tf split
    # would under either term alone (freqs add before the saturation)
    both = pdf.doc_id[toks.map(
        lambda ts: "quick" in ts and "rapid" in ts)]
    if len(both):
        one = (search(spark, m, [(0, "quick")], k=1000,
                      precision="float64").toPandas()
               .set_index("doc_id").score)
        d = int(both.iloc[0])
        assert float(got.set_index("doc_id").score[d]) > float(one[d])


def test_synonym_in_boolean_composes(spark, synidx):
    """Synonym as a boolean clause: MUST composition sums the clause
    scores in declaration order (float64 identity check)."""
    m, _ = synidx
    syn = SynonymQuery(("car", "auto"))
    comp = (search_boolean(
        spark, m, [(0, BooleanQuery(must=[syn, "house"]))],
        k=1000, precision="float64").toPandas()
        .set_index("doc_id").score)
    syn_alone = (search_synonym(spark, m, [(0, syn)], k=1000,
                                precision="float64").toPandas()
                 .set_index("doc_id").score)
    term_alone = (search(spark, m, [(0, "house")], k=1000,
                         precision="float64").toPandas()
                  .set_index("doc_id").score)
    inter = syn_alone.index.intersection(term_alone.index)
    assert set(comp.index) == set(inter)
    for d in comp.index:
        assert comp[d] == (0.0 + syn_alone[d]) + term_alone[d]


def test_synonym_serving_matches_distributed(spark, synidx):
    from pim_lucene_spark.plans.compound import search_compound_local
    m, _ = synidx
    qs = [(qid, BooleanQuery(must=[SynonymQuery(tuple(tb), boost=b)]))
          for qid, tb, b in SPECS[:4]]
    a = (search_boolean(spark, m, qs, k=10, precision="float32")
         .toPandas().sort_values(["qid", "doc_id"]).reset_index(drop=True))
    b = (search_compound_local(m, qs, k=10, precision="float32")
         .sort_values(["qid", "doc_id"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(a.astype(b.dtypes.to_dict()), b)


def test_synonym_respects_deletes(spark, synidx, tmp_path):
    import shutil

    from pim_lucene_spark.manifest import IndexManifest
    from pim_lucene_spark.operators.deletes import write_deletes
    m, pdf = synidx
    dst = str(tmp_path / "delsyn")
    shutil.copytree(m.index_dir, dst)
    md = write_deletes(spark, IndexManifest.load(dst),
                       [int(i) for i in pdf.doc_id[::2]])
    got = (search_synonym(spark, md,
                          [(0, SynonymQuery(("quick", "fast")))],
                          k=1000).toPandas())
    assert not set(got.doc_id) & set(pdf.doc_id[::2])
    assert len(got) > 0


def test_facade_routes_synonym(spark, synidx):
    """FullTextIndex.query and query_local both route SynonymQuery
    through the compound kernel, row-identical."""
    from pim_lucene_spark.index import FullTextIndex
    m, _ = synidx
    idx = FullTextIndex(spark, m)
    q = SynonymQuery((("quick", 1.0), ("fast", 0.5)), boost=1.5)
    a = (idx.query([(7, q)], k=10).toPandas()
         [["qid", "doc_id", "score"]]
         .sort_values("doc_id").reset_index(drop=True))
    b = (idx.query_local([(7, q)], k=10)
         [["qid", "doc_id", "score"]]
         .sort_values("doc_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(a.astype(b.dtypes.to_dict()), b)
    direct = (search_synonym(spark, m, [(7, q)], k=10).toPandas()
              .sort_values("doc_id").reset_index(drop=True))
    assert (a.doc_id.to_numpy() == direct.doc_id.to_numpy()).all()
    assert (a.score.to_numpy() == direct.score.to_numpy()).all()


def test_count_matches_synonym(spark, synidx):
    """IndexSearcher.count parity for bare SynonymQuery (wraps onto the
    count-only compound kernel like the other entry points)."""
    from pim_lucene_spark.plans.suggest import count_matches
    m, pdf = synidx
    got = (count_matches(spark, m,
                         [(0, SynonymQuery(("quick", "rapid")))])
           .toPandas().set_index("qid").n_hits)
    toks = pdf.content.str.split()
    exp = int(toks.map(lambda ts: "quick" in ts or "rapid" in ts).sum())
    assert int(got[0]) == exp


def test_synonym_random_fuzz_vs_oracle(spark, synidx):
    """Randomized synonym sets (sizes, boosts, absent terms) — engine
    float64 == the DuckDB replica, rounded hash-style."""
    m, pdf = synidx
    rng = np.random.default_rng(7)
    pool = VOCAB + ["zz_absent", "zz_gone"]
    specs = []
    for qid in range(14):
        nt = int(rng.integers(1, 5))
        terms = list(rng.choice(pool, size=nt, replace=False))
        tbs = [(t, float(np.round(rng.uniform(0.05, 1.0), 3)))
               for t in terms]
        specs.append((qid, tbs, float(np.round(rng.uniform(0.5, 3.0),
                                               3))))
    got = (search_synonym(spark, m, _typed(specs), k=20,
                          precision="float64").toPandas())
    got["score"] = got["score"].round(6)
    got = got.sort_values(["qid", "doc_id"]).reset_index(drop=True)
    exp = (_oracle(pdf, specs, k=20)
           .sort_values(["qid", "doc_id"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(got.astype(exp.dtypes.to_dict()), exp)


def test_apply_synonyms_expansion(spark, synidx):
    """Query-time synonym maps: parsed strings expand term leaves into
    SynonymQuery (boosts preserved), phrases and structure untouched,
    and the facade end-to-end equals the manual typed query."""
    from pim_lucene_spark.index import FullTextIndex
    from pim_lucene_spark.plans.parser import apply_synonyms, parse_query
    m, _ = synidx
    syn_map = {"quick": ["fast", ("rapid", 0.5)]}
    q = apply_synonyms(parse_query("quick house^2"), syn_map)
    exp_leaf = SynonymQuery((("quick", 1.0), ("fast", 1.0),
                             ("rapid", 0.5)))
    assert exp_leaf in q.should
    # boosted term leaf keeps its boost on the SynonymQuery
    q2 = apply_synonyms(parse_query("quick^3"), syn_map)
    leaves = list(getattr(q2, "should", ())) or [q2]
    syn_leaves = [c for c in leaves if isinstance(c, SynonymQuery)]
    assert syn_leaves and syn_leaves[0].boost == 3.0
    # phrase untouched
    q3 = apply_synonyms(parse_query('"quick house"'), syn_map)
    assert not isinstance(q3, SynonymQuery)
    # fielded clauses recurse
    from pim_lucene_spark.plans.query import FieldedQuery
    q4 = apply_synonyms(FieldedQuery("title", "quick"), syn_map)
    assert isinstance(q4, FieldedQuery)
    assert isinstance(q4.query, SynonymQuery)
    # end-to-end facade == manual typed batch
    idx = FullTextIndex(spark, m)
    a = (idx.parse_and_query([(0, "quick house")], k=20,
                             precision="float64", synonyms=syn_map)
         .toPandas()[["qid", "doc_id", "score"]]
         .sort_values("doc_id").reset_index(drop=True))
    b = (search_boolean(spark, m,
                        [(0, BooleanQuery(should=[exp_leaf, "house"]))],
                        k=20, precision="float64").toPandas()
         .sort_values("doc_id").reset_index(drop=True))
    assert (a.doc_id.to_numpy() == b.doc_id.to_numpy()).all()
    assert (a.score.to_numpy() == b.score.to_numpy()).all()


def test_explain_synonym_bit_identity(spark, synidx):
    """explain(SynonymQuery) score == the kernel's score for every
    matching doc, both precisions; also as a boolean clause."""
    from pim_lucene_spark.plans.explain import explain
    m, _ = synidx
    q = SynonymQuery((("car", 1.0), ("auto", 0.5)), boost=1.5)
    for prec in ("float32", "float64"):
        res = (search_synonym(spark, m, [(0, q)], k=1000,
                              precision=prec).toPandas())
        for _, r in res.iterrows():
            e = explain(m, q, int(r.doc_id), precision=prec)
            assert e["matches"] and e["score"] == r.score, (prec, r)
    bq = BooleanQuery(must=[q, "house"])
    res = (search_boolean(spark, m, [(0, bq)], k=1000,
                          precision="float32").toPandas())
    from pim_lucene_spark.plans.explain import explain as ex
    for _, r in res.iterrows():
        e = ex(m, bq, int(r.doc_id), precision="float32")
        assert e["matches"] and e["score"] == r.score
    # non-matching doc
    miss = explain(m, SynonymQuery(("zz_absent",)), 0)
    assert not miss["matches"] and miss["score"] == 0.0


def test_synonym_boost_validation():
    with pytest.raises(ValueError, match=r"\(0, 1\]"):
        SynonymQuery((("quick", 1.5),))
    with pytest.raises(ValueError, match="at least one"):
        SynonymQuery(())
