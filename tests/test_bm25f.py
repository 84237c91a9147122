"""BM25F combined-field scoring vs an independent per-doc model of the
sandbox ``CombinedFieldQuery`` (``CombinedFieldQuery.java:322-470``,
``MultiNormsLeafSimScorer.java:140-153``), plus divergence-from-score-sum
fixtures (the two rankings must differ exactly where BM25F's shared idf /
combined length normalization bites).
"""

import math

import numpy as np
import pandas as pd
import pytest

from pim_lucene_spark.config import IndexConfig
from pim_lucene_spark.functions.smallfloat import byte4_to_int, int_to_byte4

DOCS = pd.DataFrame({
    "doc_id": range(5),
    "title": [
        "spark engine",
        "lucene index engine",
        "merge sort",
        "spark spark spark",
        "index merge",
    ],
    "body": [
        "the spark engine builds a distributed index for search",
        "lucene keeps an inverted index on disk",
        "merge sort runs in n log n time always",
        "nothing relevant here at all whatsoever today",
        "index merge combines two sorted runs of postings",
    ],
})
WEIGHTS = {"title": 2.0, "body": 1.0}
K1, B = 1.2, 0.75


def _model_bm25f(docs: pd.DataFrame, query: str,
                 weights: dict[str, float],
                 precision: str = "float32") -> dict[int, float]:
    """Direct model of the reference scoring, from raw text, at
    ``precision`` (the combined norm is float32 either way)."""
    dt = np.float32 if precision == "float32" else np.float64
    fields = list(weights)
    toks = {f: [str(t).split() for t in docs[f]] for f in fields}
    n_docs = len(docs)
    terms = list(dict.fromkeys(query.split()))

    # pseudo collection stats
    doc_count = n_docs
    sum_ttf = sum(int(np.floor(np.float64(np.float32(weights[f]))
                               * sum(len(t) for t in toks[f])))
                  for f in fields)
    avgdl = dt(sum_ttf / float(doc_count))
    # pseudo term stats
    df_max, ttf = 0, 0
    for t in terms:
        for f in fields:
            d = sum(1 for tk in toks[f] if t in tk)
            if d > 0:
                df_max = max(df_max, d)
                ttf += int(np.floor(np.float64(np.float32(weights[f]))
                                    * sum(tk.count(t) for tk in toks[f])))
    if df_max == 0:
        return {}
    idf = dt(math.log(1.0 + (doc_count - df_max + 0.5) / (df_max + 0.5)))
    scores = {}
    for i in range(n_docs):
        freq = dt(0.0)
        for f in fields:
            for t in terms:
                freq += dt(np.float32(weights[f])) * dt(toks[f][i].count(t))
        if freq <= 0:
            continue
        nv = np.float32(0.0)
        for f in fields:
            dec = byte4_to_int(int(int_to_byte4(len(toks[f][i]))))
            nv += np.float32(weights[f]) * np.float32(dec)
        nb = int(int_to_byte4(int(np.floor(nv + np.float32(0.5)))))
        qdl = dt(byte4_to_int(nb))
        cache = dt(1.0) / (dt(K1) * ((dt(1.0) - dt(B)) + dt(B) * qdl / avgdl))
        w = idf
        scores[i] = float(w - w / (dt(1.0) + freq * cache))
    return scores


@pytest.fixture(scope="module")
def mf_index(spark, tmp_path_factory):
    from pim_lucene_spark import MultiFieldIndex
    cfg = IndexConfig(num_partitions=2, num_segments=2, build_chunks=1)
    return MultiFieldIndex.build(
        spark, spark.createDataFrame(DOCS),
        str(tmp_path_factory.mktemp("bm25f")),
        fields={"title": "title", "body": "body"}, cfg=cfg, id_col="doc_id")


@pytest.mark.parametrize("query", ["spark index", "merge", "engine index",
                                   "spark spark"])
def test_bm25f_matches_model(spark, mf_index, query):
    got = mf_index.search_bm25f([(0, query)], k=10,
                                field_weights=WEIGHTS).toPandas()
    exp = _model_bm25f(DOCS, query, WEIGHTS)
    assert dict(zip(got.doc_id, np.float32(got.score.to_numpy()))) == \
        pytest.approx({d: np.float32(s) for d, s in exp.items()}), query


def test_bm25f_no_match_empty(spark, mf_index):
    out = mf_index.search_bm25f([(0, "zzznotfound")], k=10,
                                field_weights=WEIGHTS)
    assert out.count() == 0
    assert out.columns == ["qid", "doc_id", "freq", "score"]


def test_bm25f_diverges_from_score_sum_where_it_should(spark, mf_index):
    """'spark' df: title 2 docs, body 1 doc → pseudo idf uses max df (2)
    for every doc, while score-sum grants body matches body's higher
    per-field idf; doc0 (matches both fields) vs doc3 (title-only spam)
    must rank differently across the two modes."""
    q = [(0, "spark")]
    f = mf_index.search_bm25f(q, k=10, field_weights=WEIGHTS).toPandas()
    s = mf_index.search_combined(q, k=10, field_weights=WEIGHTS,
                                 exhaustive=True).toPandas()
    assert set(f.doc_id) == set(s.doc_id) == {0, 3}
    # BM25F: doc3 freq 3*2=6 vs doc0 freq 2+1=3, same idf → doc3 wins.
    assert f.sort_values("score", ascending=False).doc_id.tolist()[0] == 3
    # scores are genuinely different functions
    fmap = dict(zip(f.doc_id, f.score))
    smap = dict(zip(s.doc_id, s.score))
    assert all(abs(fmap[d] - smap[d]) > 1e-6 for d in fmap)


def test_bm25f_boost_applies(spark, mf_index):
    a = mf_index.search_bm25f([(0, "merge")], k=10,
                              field_weights=WEIGHTS).toPandas()
    b = mf_index.search_bm25f([(0, "merge", 2.0)], k=10,
                              field_weights=WEIGHTS).toPandas()
    am = dict(zip(a.doc_id, a.score))
    bm = dict(zip(b.doc_id, b.score))
    for d in am:
        assert bm[d] == pytest.approx(
            float(np.float32(2.0) * np.float32(am[d])), rel=1e-6)


def test_bm25f_copyfield_equivalence(spark, tmp_path_factory):
    """TestCombinedFieldQuery.testCopyField/-WithMissingFields
    (java:297-487): BM25F over fields (a, boost1), (b, boost2) must score
    float32-IDENTICALLY to a plain term query on a literal copy-field
    holding freqA*boost1 + freqB*boost2 copies of the term (field lengths
    kept < 24 so SmallFloat decode is exact, as in the reference test)."""
    from pim_lucene_spark import MultiFieldIndex
    from pim_lucene_spark.operators.index_build import build_index
    from pim_lucene_spark.operators.search import search
    rng = np.random.RandomState(11)
    b1, b2 = int(rng.randint(1, 5)), int(rng.randint(1, 5))
    rows = []
    for i in range(30):
        freq_a = int(rng.randint(1, 6))
        freq_b = int(rng.randint(0, 3))   # sometimes field b is missing
        rows.append({
            "doc_id": i,
            "a": " ".join(["foo"] * freq_a),
            "b": " ".join(["foo"] * freq_b),
            "ab": " ".join(["foo"] * (freq_a * b1 + freq_b * b2)),
        })
    docs = spark.createDataFrame(pd.DataFrame(rows))
    cfg = IndexConfig(num_partitions=2, num_segments=2, build_chunks=1)
    mf = MultiFieldIndex.build(spark, docs,
                               str(tmp_path_factory.mktemp("cfq")),
                               fields={"a": "a", "b": "b"}, cfg=cfg,
                               id_col="doc_id")
    m_ab = build_index(spark, docs.select("doc_id", "ab"),
                       str(tmp_path_factory.mktemp("cfab")), cfg,
                       content_col="ab", id_col="doc_id")
    combined = mf.search_bm25f([(0, "foo")], k=100,
                               field_weights={"a": float(b1),
                                              "b": float(b2)}).toPandas()
    copyf = search(spark, m_ab, [(0, "foo")], k=100).toPandas()
    got = dict(zip(combined.doc_id, np.float32(combined.score.to_numpy())))
    exp = dict(zip(copyf.doc_id, np.float32(copyf.score.to_numpy())))
    assert got == exp, (b1, b2)


def test_bm25f_same_score_across_fields(spark, tmp_path_factory):
    """TestCombinedFieldQuery.testSameScore (java:129-169): one doc with
    the term in field f, ten docs with it in field g — under equal
    weights every doc scores the same (single pseudo-field semantics)."""
    from pim_lucene_spark import MultiFieldIndex
    rows = [{"doc_id": 0, "f": "a", "g": ""}]
    rows += [{"doc_id": i, "f": "", "g": "a"} for i in range(1, 11)]
    mf = MultiFieldIndex.build(
        spark, spark.createDataFrame(pd.DataFrame(rows)),
        str(tmp_path_factory.mktemp("same")),
        fields={"f": "f", "g": "g"},
        cfg=IndexConfig(num_partitions=2, num_segments=2, build_chunks=1),
        id_col="doc_id")
    res = mf.search_bm25f([(0, "a")], k=100,
                          field_weights={"f": 1.0, "g": 1.0}).toPandas()
    assert len(res) == 11
    assert res.score.nunique() == 1
