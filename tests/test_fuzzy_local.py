"""Serving-path fuzzy expansion (round-5 VERDICT item 3).

``expand_fuzzy_local`` answers from the resident term dictionary
(pyarrow pushdown over the stats Parquet — the same table that serves
``suggest_terms_local``) with NO Spark job, and must produce the
IDENTICAL (term, boost) expansion as the distributed ``expand_fuzzy``
(FuzzyTermsEnum semantics: float32 boosts, OSA transpositions, boost
desc / term asc, top max_expansions).  ``search_compound_local`` then
hosts ``term~N`` clauses inside booleans on the serving route — the
round-4 NotImplementedError gap.
"""

import random

import numpy as np
import pandas as pd
import pytest

from pim_lucene_spark.config import IndexConfig
from pim_lucene_spark.operators.index_build import build_index
from pim_lucene_spark.plans.boolean import BooleanQuery, search_boolean
from pim_lucene_spark.plans.multiterm import (FuzzyQuery,
                                              _vec_edit_distances,
                                              expand_fuzzy,
                                              expand_fuzzy_local,
                                              osa_distance)

DOCS = pd.DataFrame({
    "doc_id": range(10),
    "content": ["merge table", "merges fast", "merged rows",
                "marge simpson", "mergee queue", "surge ahead",
                "purge cache", "merge merge", "emerge now", "mere words"],
})


@pytest.fixture(scope="module")
def fidx(spark, tmp_path_factory):
    return build_index(spark, spark.createDataFrame(DOCS),
                       str(tmp_path_factory.mktemp("fuzidx")),
                       IndexConfig(3, 2, build_chunks=1),
                       content_col="content", id_col="doc_id")


def _scalar_lev(a, b):
    prev = list(range(len(b) + 1))
    for i in range(1, len(a) + 1):
        cur = [i] + [0] * len(b)
        for j in range(1, len(b) + 1):
            cur[j] = min(prev[j] + 1, cur[j - 1] + 1,
                         prev[j - 1] + (a[i - 1] != b[j - 1]))
        prev = cur
    return prev[len(b)]


def test_vectorized_distances_match_scalar():
    random.seed(7)
    strs = ["".join(random.choice("abcde")
                    for _ in range(random.randint(0, 6)))
            for _ in range(400)]
    for q in ("abc", "", "edcba", "aabb"):
        osa = _vec_edit_distances(strs, q, True)
        lev = _vec_edit_distances(strs, q, False)
        for s, do, dl in zip(strs, osa, lev):
            assert do == osa_distance(s, q)
            assert dl == _scalar_lev(s, q)


def test_expand_fuzzy_local_matches_spark(spark, fidx):
    for fq in (FuzzyQuery("merge", max_edits=1),
               FuzzyQuery("merge", max_edits=2),
               FuzzyQuery("merge", max_edits=2, prefix_length=2),
               FuzzyQuery("merge", max_edits=2, transpositions=False),
               FuzzyQuery("merge", max_edits=2, max_expansions=3),
               FuzzyQuery("zzz", max_edits=1)):
        assert expand_fuzzy_local(fidx, fq) == expand_fuzzy(spark, fidx,
                                                            fq), fq


def test_serving_fuzzy_compound_matches_distributed(spark, fidx):
    from pim_lucene_spark.plans.compound import search_compound_local
    batch = [
        (0, BooleanQuery(must=[FuzzyQuery("merge", max_edits=1)],
                         should=["fast"])),
        (1, BooleanQuery(should=[FuzzyQuery("purge", max_edits=2)])),
        (2, BooleanQuery(must=["table"],
                         must_not=[FuzzyQuery("mergX", max_edits=1)])),
    ]
    dist = (search_boolean(spark, fidx, batch, k=5)
            .toPandas().sort_values(["qid", "doc_id"])
            .reset_index(drop=True))
    loc = (search_compound_local(fidx, batch, k=5)
           .sort_values(["qid", "doc_id"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(dist, loc.astype(dist.dtypes.to_dict()))
    assert len(dist) > 0


def test_serve_local_bare_fuzzy_and_wrappers(spark, fidx):
    """Bare FuzzyQuery / MatchAllDocs / ConstantScore queries serve
    locally (boolean-wrapped onto the resident kernel) and match the
    distributed facade row-for-row."""
    from pim_lucene_spark.index import FullTextIndex
    from pim_lucene_spark.plans.query import (ConstantScoreQuery,
                                              MatchAllDocsQuery,
                                              PhraseQuery)
    from pim_lucene_spark.serving import serve_local

    idx = FullTextIndex(spark, fidx)
    batch = [(0, FuzzyQuery("merge", max_edits=1)),
             (1, MatchAllDocsQuery(boost=2.5)),
             (2, ConstantScoreQuery(PhraseQuery("merge table"),
                                    boost=1.5))]
    dist = (idx.query(batch, k=5, precision="float32")
            .select("qid", "doc_id", "score").toPandas()
            .sort_values(["qid", "doc_id"]).reset_index(drop=True))
    loc = serve_local(fidx, batch, k=5, precision="float32",
                      postings_cache_mb=0, pids=None)
    loc = (loc[["qid", "doc_id", "score"]]
           .sort_values(["qid", "doc_id"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(dist, loc.astype(dist.dtypes.to_dict()))
    assert set(loc.qid) == {0, 1, 2}


def test_sharded_server_hosts_fuzzy_parse(spark, fidx):
    """'term~1 other' query strings serve through ShardedServer workers
    (the round-4 headline path raised on any ~ clause)."""
    from pim_lucene_spark.index import FullTextIndex
    from pim_lucene_spark.serving import ShardedServer

    from pim_lucene_spark.plans.parser import parse_query

    idx = FullTextIndex(spark, fidx)
    strings = [(0, "merge~1 fast"), (1, "+purge~2")]
    dist = (idx.parse_and_query(strings, k=5, precision="float32")
            .select("qid", "doc_id", "score").toPandas()
            .sort_values(["qid", "doc_id"]).reset_index(drop=True))
    typed = [(qid, parse_query(s)) for qid, s in strings]
    with ShardedServer(fidx, num_workers=2, mode="shard") as srv:
        loc = srv.search(typed, k=5)
    loc = (loc[["qid", "doc_id", "score"]]
           .sort_values(["qid", "doc_id"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(dist, loc.astype(dist.dtypes.to_dict()))
