"""MatchAllDocs in the compound kernel.

*:* clauses host in-kernel as a constant per-doc contribution (never a
materialized docs frame) and ConstantScoreQuery wrappers rewrite to
must=[*:*(boost)]+filter=[inner] so they ride the same
per-partition-top-k plan; results match the index-free reference.
Reference: MatchAllDocsQuery's scorer is a constant iterator
(``MatchAllDocsQuery.java``), never a collected doc set.
"""

import numpy as np
import pandas as pd
import pytest

from pim_lucene_spark.config import IndexConfig
from pim_lucene_spark.operators.index_build import build_index
from pim_lucene_spark.plans.boolean import BooleanQuery, search_boolean
from pim_lucene_spark.plans.query import (ConstantScoreQuery,
                                          MatchAllDocsQuery, PhraseQuery)
from tests.compound_ref import reference_compound

DOCS = pd.DataFrame({
    "doc_id": range(12),
    "content": ["red apple", "green pear", "red plum", "blue sky",
                "red sun", "pink dawn", "apple tart", "red apple pie",
                "sky blue", "sun red", "dawn red", "plum pie"],
})

BATCH = [
    (0, BooleanQuery(must=[MatchAllDocsQuery(boost=2.0)])),
    (1, BooleanQuery(must=["red"], should=[MatchAllDocsQuery()])),
    (2, BooleanQuery(should=[MatchAllDocsQuery()], must_not=["red"])),
    (3, BooleanQuery(must=[MatchAllDocsQuery(boost=1.5)],
                     filter=["apple"])),
]


@pytest.fixture(scope="module")
def midx(spark, tmp_path_factory):
    return build_index(spark, spark.createDataFrame(DOCS),
                       str(tmp_path_factory.mktemp("maidx")),
                       IndexConfig(3, 2, build_chunks=1),
                       content_col="content", id_col="doc_id")


def test_matchall_kernel_equals_join(spark, midx):
    kern = search_boolean(spark, midx, BATCH, k=5).toPandas()
    a = kern.sort_values(["qid", "doc_id"]).reset_index(drop=True)
    b = reference_compound(spark, DOCS, {"content": midx}, "content",
                           BATCH, k=5)
    pd.testing.assert_frame_equal(a, b, check_exact=True)
    # pure *:* boost=2: the 5 smallest doc ids at score 2.0
    q0 = a[a.qid == 0]
    assert list(q0.doc_id) == [0, 1, 2, 3, 4]
    assert (q0.score == 2.0).all()


def test_matchall_serving_equals_kernel(spark, midx):
    from pim_lucene_spark.plans.compound import search_compound_local
    kern = (search_boolean(spark, midx, BATCH, k=5)
            .toPandas().sort_values(["qid", "doc_id"])
            .reset_index(drop=True))
    loc = (search_compound_local(midx, BATCH, k=5)
           .sort_values(["qid", "doc_id"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(kern, loc.astype(kern.dtypes.to_dict()))


def test_matchall_honors_deletes_all_routes(spark, midx, tmp_path):
    from pim_lucene_spark.operators.deletes import write_deletes
    from pim_lucene_spark.plans.compound import (count_compound,
                                                 search_compound_local)
    m = build_index(spark, spark.createDataFrame(DOCS),
                    str(tmp_path / "madel"), IndexConfig(3, 2,
                                                         build_chunks=1),
                    content_col="content", id_col="doc_id")
    m = write_deletes(spark, m, [0, 1, 2])
    kern = search_boolean(spark, m, BATCH, k=6).toPandas()
    loc = search_compound_local(m, BATCH, k=6)
    for res in (kern, loc):
        assert not set(res.doc_id) & {0, 1, 2}
    a = kern.sort_values(["qid", "doc_id"]).reset_index(drop=True)
    b = reference_compound(spark, DOCS, {"content": m}, "content", BATCH,
                           k=6, exclude_ids=[0, 1, 2])
    c = loc.sort_values(["qid", "doc_id"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_exact=True)
    pd.testing.assert_frame_equal(a, c.astype(a.dtypes.to_dict()))
    counts = count_compound(spark, {"": m}, "", BATCH)
    assert counts[0] == 9        # 12 docs - 3 deleted


def test_wrappers_route_kernel_not_join(spark, midx):
    """MatchAllDocs + ConstantScore wrappers answer through the compound
    kernel at score == boost (never the inner match set at k=10**9 or a
    docs-table crossJoin)."""
    from pim_lucene_spark.index import FullTextIndex

    idx = FullTextIndex(spark, midx)
    res = idx.query([
        (0, MatchAllDocsQuery(boost=3.0)),
        (1, ConstantScoreQuery(PhraseQuery("red apple"), boost=2.0)),
        (2, ConstantScoreQuery(PhraseQuery("apple"), boost=0.5)),
    ], k=4, precision="float64").toPandas()
    assert list(res[res.qid == 0].doc_id) == [0, 1, 2, 3]
    assert (res[res.qid == 0].score == 3.0).all()
    assert sorted(res[res.qid == 1].doc_id) == [0, 7]
    assert (res[res.qid == 1].score == 2.0).all()
    assert sorted(res[res.qid == 2].doc_id) == [0, 6, 7]
    assert (res[res.qid == 2].score == 0.5).all()


def test_parsed_matchall_routes_kernel(spark, midx):
    """Every parsed-query shape containing *:* composes in the kernel
    and matches the reference."""
    from pim_lucene_spark.plans.parser import parse_query
    for s in ("*:* -red", "red *:*", "+apple *:*", "(red *:*) +apple"):
        q = parse_query(s)
        res = search_boolean(spark, midx, [(0, q)], k=5).toPandas()
        a = res.sort_values("doc_id").reset_index(drop=True)
        b = reference_compound(spark, DOCS, {"content": midx}, "content",
                               [(0, q)], k=5)
        pd.testing.assert_frame_equal(a, b, check_exact=True)
