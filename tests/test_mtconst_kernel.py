"""Constant-score multiterm clauses in the compound kernel.

Lucene's in-boolean rewrite for prefix/wildcard/range/regexp is
CONSTANT_SCORE; the kernel hosts it at any expansion width (the
expansion comes from the resident term dictionary, pyarrow pushdown,
and is folded into a sorted doc-id union ``MAX_CLAUSE_COUNT`` terms at a
time) — the clause's match-set union never leaves its partition."""

import pandas as pd
import pytest

from pim_lucene_spark.config import IndexConfig
from pim_lucene_spark.operators.index_build import build_index
from pim_lucene_spark.plans.boolean import (BooleanQuery, search_boolean,
                                            search_boolean_fields)
from pim_lucene_spark.plans.compound import search_compound_local
from pim_lucene_spark.plans.dismax import DisMaxQuery, search_dismax
from pim_lucene_spark.plans.multiterm import (PrefixQuery, RegexpQuery,
                                              TermRangeQuery,
                                              WildcardQuery,
                                              expand_const_local)
from pim_lucene_spark.plans.query import FieldedQuery
from tests.compound_ref import reference_compound

DOCS = pd.DataFrame({
    "doc_id": range(12),
    "content": ["red apple", "applet green", "apply now", "red plum",
                "apple red pie", "sky blue", "apricot jam", "ripe apple",
                "red sun", "blue dawn", "apple apple", "plum red"],
})

BATCH = [
    (0, BooleanQuery(must=["red"], should=[PrefixQuery("ap", boost=2.0)])),
    (1, BooleanQuery(should=[WildcardQuery("*lu*")], must_not=["red"])),
    (2, BooleanQuery(must=[TermRangeQuery(lower="apple", upper="apricot",
                                          include_lower=True,
                                          include_upper=True)])),
    (3, BooleanQuery(must=[RegexpQuery("ap.l.*")], filter=["red"])),
]


@pytest.fixture(scope="module")
def midx(spark, tmp_path_factory):
    return build_index(spark, spark.createDataFrame(DOCS),
                       str(tmp_path_factory.mktemp("mtidx")),
                       IndexConfig(3, 2, build_chunks=1),
                       content_col="content", id_col="doc_id")


def _ref(spark, m, batch, k=6, exclude_ids=()):
    return reference_compound(spark, DOCS, {"content": m}, "content",
                              batch, k=k, exclude_ids=exclude_ids)


def _sorted(df):
    if not isinstance(df, pd.DataFrame):
        df = df.toPandas()
    return (df.sort_values(["qid", "doc_id"]).reset_index(drop=True)
            .astype({"qid": "int64", "doc_id": "int64"}))


def test_expand_const_local_shapes(midx):
    assert expand_const_local(midx, PrefixQuery("ap")) == \
        ["apple", "applet", "apply", "apricot"]
    assert expand_const_local(midx, WildcardQuery("*lu*")) == \
        ["blue", "plum"]
    assert expand_const_local(midx, RegexpQuery("ap.l.*")) == \
        ["apple", "applet", "apply"]
    assert expand_const_local(
        midx, TermRangeQuery(lower="apple", upper="apricot",
                             include_lower=True,
                             include_upper=False)) == \
        ["apple", "applet", "apply"]
    # no clause cap: the empty prefix expands to the whole dictionary
    assert expand_const_local(midx, PrefixQuery("")) == \
        sorted(set(" ".join(DOCS.content).split()))


def test_mtconst_kernel_equals_join_and_serving(spark, midx):
    kern = _sorted(search_boolean(spark, midx, BATCH, k=6))
    pd.testing.assert_frame_equal(kern, _ref(spark, midx, BATCH),
                                  check_exact=True)
    loc = _sorted(search_compound_local(midx, BATCH, k=6))
    pd.testing.assert_frame_equal(kern, loc.astype(kern.dtypes.to_dict()))
    assert len(kern) > 0


def test_routing_uses_expansion_probe(spark, tmp_path, monkeypatch):
    """Expansions past ``MAX_CLAUSE_COUNT`` (patched to 1, so every
    multi-term expansion spans several slices) run in the kernel on the
    file plan and in serving, on an index with deletes: boolean, DisMax,
    fielded boolean, ``count_matches`` and ``search_compound_local`` all
    equal the reference."""
    import pim_lucene_spark.plans.multiterm as MT
    from pim_lucene_spark.operators.deletes import write_deletes
    from pim_lucene_spark.plans.suggest import count_matches

    m = build_index(spark, spark.createDataFrame(DOCS),
                    str(tmp_path / "mtwide"),
                    IndexConfig(3, 2, build_chunks=1),
                    content_col="content", id_col="doc_id")
    m = write_deletes(spark, m, [0, 7])
    monkeypatch.setattr(MT, "MAX_CLAUSE_COUNT", 1)
    assert len(expand_const_local(m, PrefixQuery("ap"))) == 4
    dq = [(5, DisMaxQuery(clauses=[PrefixQuery("ap", boost=2.0), "red"],
                          tie=0.5))]
    exp = _ref(spark, m, BATCH, exclude_ids=[0, 7])
    assert len(exp) > 0
    pd.testing.assert_frame_equal(
        _sorted(search_boolean(spark, m, BATCH, k=6)), exp,
        check_exact=True)
    pd.testing.assert_frame_equal(
        _sorted(search_dismax(spark, m, dq, k=6)),
        _ref(spark, m, dq, exclude_ids=[0, 7]), check_exact=True)
    fb = [(qid, BooleanQuery(must=[FieldedQuery("content", bq)]))
          for qid, bq in BATCH]
    pd.testing.assert_frame_equal(
        _sorted(search_boolean_fields(spark, {"content": m}, "content", fb,
                                      k=6)),
        _ref(spark, m, fb, exclude_ids=[0, 7]), check_exact=True)
    loc = _sorted(search_compound_local(m, BATCH + dq, k=6))
    both = pd.concat([exp, _ref(spark, m, dq, exclude_ids=[0, 7])])
    pd.testing.assert_frame_equal(
        loc.astype(exp.dtypes.to_dict()), _sorted(both), check_exact=True)
    counts = (count_matches(spark, m, BATCH + dq).toPandas()
              .set_index("qid").n_hits.to_dict())
    full = _ref(spark, m, BATCH + dq, k=None, exclude_ids=[0, 7])
    assert counts == {int(q): int((full.qid == q).sum())
                      for q, _ in BATCH + dq}


def test_mtconst_honors_deletes(spark, tmp_path):
    from pim_lucene_spark.operators.deletes import write_deletes
    m = build_index(spark, spark.createDataFrame(DOCS),
                    str(tmp_path / "mtdel"),
                    IndexConfig(3, 2, build_chunks=1),
                    content_col="content", id_col="doc_id")
    m = write_deletes(spark, m, [0, 4])
    kern = search_boolean(spark, m, BATCH, k=6).toPandas()
    assert not set(kern.doc_id) & {0, 4}
    pd.testing.assert_frame_equal(
        _sorted(kern), _ref(spark, m, BATCH, exclude_ids=[0, 4]),
        check_exact=True)
