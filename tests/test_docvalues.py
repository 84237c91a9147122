"""Numeric doc values (operators/docvalues.py): sort-by-field, field
collapsing, and range facets vs brute-force differentials built from the
engine's own full ranking, plus the plan property the design exists for
(only bounded per-partition rows leave the kernel)."""

import numpy as np
import pandas as pd
import pytest

from pim_lucene_spark.config import IndexConfig
from pim_lucene_spark.operators.docvalues import (build_numeric_docvalues,
                                                  collapse_topk,
                                                  facet_ranges,
                                                  sort_by_field)
from pim_lucene_spark.operators.facets import build_facet_index
from pim_lucene_spark.operators.index_build import build_index
from pim_lucene_spark.plans.boolean import BooleanQuery, search_boolean
from pim_lucene_spark.plans.query import PhraseQuery

VOCAB = ["red", "green", "blue", "apple", "house", "sky", "the", "fast"]
CATS = ["news", "blog", "wiki", None, "docs"]

QUERIES = [
    (0, "red"),
    (1, PhraseQuery("the fast")),
    (2, BooleanQuery(must=["red"], should=["sky"])),
    (3, "zzz_absent"),
]


def _corpus(n=160, seed=23):
    rng = np.random.default_rng(seed)
    rows, cats, sizes = [], [], []
    for i in range(n):
        words = list(rng.choice(VOCAB, size=rng.integers(4, 14)))
        if i % 4 == 0:
            words += ["the", "fast"]
        rows.append(" ".join(words))
        cats.append(CATS[int(rng.integers(0, len(CATS)))])
        # deliberately collision-heavy so value ties exercise the
        # doc_id tiebreak, plus a few nulls for the missing-value path
        sizes.append(None if i % 37 == 0 else int(rng.integers(0, 25)))
    return pd.DataFrame({"doc_id": range(n), "content": rows,
                         "category": cats, "size": sizes})


@pytest.fixture(scope="module")
def dvidx(spark, tmp_path_factory):
    pdf = _corpus()
    cfg = IndexConfig(num_partitions=4, num_segments=2, build_chunks=1)
    m = build_index(spark, spark.createDataFrame(pdf),
                    str(tmp_path_factory.mktemp("dv")), cfg,
                    content_col="content", id_col="doc_id",
                    meta_cols=["category", "size"])
    build_facet_index(spark, m, "category")
    build_numeric_docvalues(spark, m, "size")
    return m, pdf


def _full_ranking(spark, m):
    """The engine's own complete match set per query (k big enough to be
    exhaustive) — the differential base every mode is checked against."""
    res = search_boolean(
        spark, m, [(qid, q if isinstance(q, BooleanQuery)
                    else BooleanQuery(must=[q])) for qid, q in QUERIES],
        k=10_000, precision="float64").toPandas()
    return res


def test_sort_by_field_matches_bruteforce(spark, dvidx):
    m, pdf = dvidx
    base = _full_ranking(spark, m)
    size_of = pdf.set_index("doc_id")["size"].fillna(0).astype(np.int64)
    for reverse in (False, True):
        got = (sort_by_field(spark, m, QUERIES, "size", k=7,
                             reverse=reverse)
               .toPandas().sort_values(["qid", "sortval", "doc_id"])
               .reset_index(drop=True))
        exp_rows = []
        for qid in base.qid.unique():
            docs = base[base.qid == qid].doc_id
            sv = size_of.loc[docs].to_numpy()
            order = np.lexsort((docs.to_numpy(),
                                -sv if reverse else sv))[:7]
            for i in order:
                exp_rows.append((qid, int(docs.to_numpy()[i]),
                                 int(sv[i])))
        exp = (pd.DataFrame(exp_rows, columns=["qid", "doc_id", "sortval"])
               .sort_values(["qid", "sortval", "doc_id"])
               .reset_index(drop=True))
        pd.testing.assert_frame_equal(got.astype(exp.dtypes.to_dict()),
                                      exp)


def test_sort_rank_order_is_field_order(spark, dvidx):
    """The returned frame's window rank reflects (value, doc) order, not
    score order."""
    m, _ = dvidx
    got = sort_by_field(spark, m, [(0, "red")], "size", k=50).toPandas()
    sv = got.sortval.to_numpy()
    assert (np.diff(sv) >= 0).all()


def test_collapse_matches_bruteforce(spark, dvidx):
    m, pdf = dvidx
    base = _full_ranking(spark, m)
    cat_of = pdf.set_index("doc_id")["category"]
    got = (collapse_topk(spark, m, QUERIES, "category", k=3,
                         precision="float64")
           .toPandas().sort_values(["qid", "value"])
           .reset_index(drop=True))
    exp_rows = []
    for qid in base.qid.unique():
        sub = base[base.qid == qid].copy()
        sub["value"] = cat_of.loc[sub.doc_id].to_numpy()
        sub = sub[sub.value.notna()]
        # head per group = (score desc, doc asc); then top-3 groups
        sub = sub.sort_values(["score", "doc_id"],
                              ascending=[False, True])
        heads = sub.groupby("value", as_index=False).first()
        heads = heads.sort_values(["score", "doc_id"],
                                  ascending=[False, True]).head(3)
        for r in heads.itertuples(index=False):
            exp_rows.append((qid, r.value, int(r.doc_id),
                             float(r.score)))
    exp = (pd.DataFrame(exp_rows,
                        columns=["qid", "value", "doc_id", "score"])
           .sort_values(["qid", "value"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(got.astype(exp.dtypes.to_dict()), exp)


def test_collapse_group_size_matches_bruteforce(spark, dvidx):
    """group_size>1 (TopGroups): top-H docs within each of the top-k
    groups ranked by head score — vs a pandas brute force, plus the
    serving path."""
    from pim_lucene_spark.operators.docvalues import collapse_topk_local
    m, pdf = dvidx
    base = _full_ranking(spark, m)
    cat_of = pdf.set_index("doc_id")["category"]
    H, K = 3, 2
    got = (collapse_topk(spark, m, QUERIES, "category", k=K,
                         precision="float64", group_size=H)
           .toPandas().sort_values(["qid", "value", "doc_id"])
           .reset_index(drop=True))
    exp_rows = []
    for qid in base.qid.unique():
        sub = base[base.qid == qid].copy()
        sub["value"] = cat_of.loc[sub.doc_id].to_numpy()
        sub = sub[sub.value.notna()].sort_values(
            ["score", "doc_id"], ascending=[False, True])
        within = sub.groupby("value").cumcount()
        sub = sub[within < H]
        heads = (sub.groupby("value", as_index=False).first()
                 .sort_values(["score", "doc_id"],
                              ascending=[False, True]).head(K))
        keep = sub[sub.value.isin(set(heads.value))]
        for r in keep.itertuples(index=False):
            exp_rows.append((qid, r.value, int(r.doc_id),
                             float(r.score)))
    exp = (pd.DataFrame(exp_rows,
                        columns=["qid", "value", "doc_id", "score"])
           .sort_values(["qid", "value", "doc_id"])
           .reset_index(drop=True))
    pd.testing.assert_frame_equal(got.astype(exp.dtypes.to_dict()), exp)
    loc = (collapse_topk_local(m, QUERIES, "category", k=K,
                               precision="float64", group_size=H)
           .sort_values(["qid", "value", "doc_id"])
           .reset_index(drop=True))
    pd.testing.assert_frame_equal(got.astype(loc.dtypes.to_dict()), loc)


def test_facet_ranges_match_bruteforce(spark, dvidx):
    m, pdf = dvidx
    base = _full_ranking(spark, m)
    size_of = pdf.set_index("doc_id")["size"].fillna(0).astype(np.int64)
    # overlapping + empty + full-span ranges (the LongRange contract)
    ranges = [("small", 0, 8), ("mid", 5, 15), ("big", 15, 100),
              ("none", 400, 500), ("all", 0, 100)]
    got = (facet_ranges(spark, m, QUERIES, "size", ranges)
           .toPandas().sort_values(["qid", "label"])
           .reset_index(drop=True))
    exp_rows = []
    for qid, _ in QUERIES:
        docs = base[base.qid == qid].doc_id
        sv = size_of.loc[docs].to_numpy() if len(docs) else \
            np.array([], dtype=np.int64)
        for lab, lo, hi in ranges:
            exp_rows.append((qid, lab,
                             int(((sv >= lo) & (sv < hi)).sum())))
    exp = (pd.DataFrame(exp_rows, columns=["qid", "label", "n"])
           .sort_values(["qid", "label"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(got.astype(exp.dtypes.to_dict()), exp)


def test_facet_ranges_duplicate_labels_rejected(spark, dvidx):
    m, _ = dvidx
    with pytest.raises(ValueError, match="unique"):
        facet_ranges(spark, m, QUERIES, "size",
                     [("a", 0, 5), ("a", 5, 10)])
    with pytest.raises(ValueError, match="lo.*hi"):
        facet_ranges(spark, m, QUERIES, "size", [("bad", 400, 150)])


def test_partial_dims_frame_rejected(spark, dvidx):
    """A sidecar covering only part of the doc space must fail at BUILD
    time, not crash kernels at query time."""
    m, pdf = dvidx
    part = spark.createDataFrame(pdf.head(40)[["doc_id", "size"]])
    with pytest.raises(ValueError, match="cover"):
        build_numeric_docvalues(spark, m, "size", dims=part)
    with pytest.raises(ValueError, match="cover"):
        build_facet_index(spark, m, "category",
                          dims=spark.createDataFrame(
                              pdf.head(40)[["doc_id", "category"]]))


def test_reverse_sort_int64_min_sentinel(spark, dvidx):
    """missing=INT64_MIN must sort LAST under reverse=True (the -key
    negation would overflow and rank it first)."""
    m, pdf = dvidx
    sentinel = np.iinfo(np.int64).min
    build_numeric_docvalues(
        spark, m, "size",
        dims=spark.createDataFrame(pdf[["doc_id", "size"]]),
        missing=sentinel)
    # no cache clear needed: dv_values_for keys by the partition dir's
    # mtime, so the rebuilt sidecar invalidates even in live executors
    try:
        got = (sort_by_field(spark, m, [(0, "red")], "size", k=1000,
                             reverse=True).toPandas()
               .sort_values(["sortval", "doc_id"],
                            ascending=[False, True])
               .reset_index(drop=True))
        null_docs = set(pdf.doc_id[pdf["size"].isna()])
        hit_nulls = [d for d in got.doc_id if d in null_docs]
        if hit_nulls:  # every sentinel doc sits at the tail
            tail = list(got.doc_id)[-len(hit_nulls):]
            assert set(hit_nulls) == set(tail)
            assert got.sortval.iloc[-1] == sentinel
    finally:  # restore the default sidecar for other tests
        build_numeric_docvalues(
            spark, m, "size",
            dims=spark.createDataFrame(pdf[["doc_id", "size"]]))


def test_sort_respects_deletes(spark, dvidx, tmp_path):
    """Deleted docs never appear in a field-sorted page."""
    import shutil

    from pim_lucene_spark.manifest import IndexManifest
    from pim_lucene_spark.operators.deletes import write_deletes
    m, pdf = dvidx
    dst = str(tmp_path / "deldv")
    shutil.copytree(m.index_dir, dst)
    md = write_deletes(spark, IndexManifest.load(dst),
                       [int(i) for i in pdf.doc_id[::3]])
    got = sort_by_field(spark, md, [(0, "red")], "size", k=100).toPandas()
    assert not set(got.doc_id) & set(pdf.doc_id[::3])
    base = _full_ranking(spark, m)
    alive = base[(base.qid == 0) & (base.doc_id % 3 != 0)]
    assert set(got.doc_id) == set(alive.doc_id)


def test_local_modes_match_distributed(spark, dvidx):
    """Serving-path sort/collapse/ranges (no Spark job) == the
    distributed plans, row-identical."""
    from pim_lucene_spark.operators.docvalues import (collapse_topk_local,
                                                      facet_ranges_local,
                                                      sort_by_field_local)
    m, _ = dvidx
    ranges = [("small", 0, 8), ("mid", 5, 15), ("none", 400, 500)]
    for reverse in (False, True):
        a = (sort_by_field(spark, m, QUERIES, "size", k=7, reverse=reverse)
             .toPandas().sort_values(["qid", "doc_id"])
             .reset_index(drop=True))
        b = (sort_by_field_local(m, QUERIES, "size", k=7, reverse=reverse)
             .sort_values(["qid", "doc_id"]).reset_index(drop=True))
        pd.testing.assert_frame_equal(a.astype(b.dtypes.to_dict()), b)
    a = (collapse_topk(spark, m, QUERIES, "category", k=3)
         .toPandas().sort_values(["qid", "value"]).reset_index(drop=True))
    b = (collapse_topk_local(m, QUERIES, "category", k=3)
         .sort_values(["qid", "value"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(a.astype(b.dtypes.to_dict()), b)
    a = (facet_ranges(spark, m, QUERIES, "size", ranges)
         .toPandas().sort_values(["qid", "label"]).reset_index(drop=True))
    b = (facet_ranges_local(m, QUERIES, "size", ranges)
         .sort_values(["qid", "label"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(a.astype(b.dtypes.to_dict()), b)


def test_local_sort_sharded_pids_merge(spark, dvidx):
    """Shard-subset serving (pids=[...]) unions to the full answer when
    every pid is covered — the sharded-server placement property."""
    from pim_lucene_spark.operators.docvalues import sort_by_field_local
    m, _ = dvidx
    full = sort_by_field_local(m, QUERIES, "size", k=7)
    halves = pd.concat([
        sort_by_field_local(m, QUERIES, "size", k=7, pids=[0, 1]),
        sort_by_field_local(m, QUERIES, "size", k=7, pids=[2, 3]),
    ], ignore_index=True)
    merged = (halves.sort_values(["qid", "sortval", "doc_id"])
              .groupby("qid", sort=True).head(7).reset_index(drop=True))
    pd.testing.assert_frame_equal(
        full.sort_values(["qid", "sortval", "doc_id"])
        .reset_index(drop=True), merged)


def test_sort_search_after_pages(spark, dvidx):
    """Field-sort paging: walking pages via after-marks re-assembles
    the full ranking exactly (value-tie walks included), both
    directions, distributed and serving."""
    from pim_lucene_spark.operators.docvalues import sort_by_field_local
    m, _ = dvidx
    for reverse in (False, True):
        full = (sort_by_field(spark, m, [(0, "red")], "size", k=60,
                              reverse=reverse).toPandas()
                .sort_values(["sortval", "doc_id"],
                             ascending=[not reverse, True])
                .reset_index(drop=True))
        pages, mark = [], None
        for _ in range(12):
            pg = (sort_by_field(spark, m, [(0, "red")], "size", k=5,
                                reverse=reverse,
                                after=None if mark is None
                                else {0: mark}).toPandas()
                  .sort_values(["sortval", "doc_id"],
                               ascending=[not reverse, True])
                  .reset_index(drop=True))
            if not len(pg):
                break
            pages.append(pg)
            mark = (int(pg.sortval.iloc[-1]), int(pg.doc_id.iloc[-1]))
        walked = pd.concat(pages, ignore_index=True)
        pd.testing.assert_frame_equal(walked, full)
        # serving path pages identically
        pg2 = (sort_by_field_local(m, [(0, "red")], "size", k=5,
                                   reverse=reverse,
                                   after={0: (int(full.sortval[4]),
                                              int(full.doc_id[4]))})
               .reset_index(drop=True))
        pd.testing.assert_frame_equal(
            pg2.astype(full.dtypes.to_dict()),
            full.iloc[5:10].reset_index(drop=True))


def test_facet_stats_matches_bruteforce(spark, dvidx):
    """Per-bucket count/sum/min/max/mean of the numeric dv over matched
    docs == pandas aggregation of the engine's own match set."""
    from pim_lucene_spark.operators.docvalues import facet_stats
    m, pdf = dvidx
    base = _full_ranking(spark, m)
    size_of = pdf.set_index("doc_id")["size"].fillna(0).astype(np.int64)
    cat_of = pdf.set_index("doc_id")["category"]
    got = (facet_stats(spark, m, QUERIES, "category", "size", top_n=10)
           .toPandas().sort_values(["qid", "value"])
           .reset_index(drop=True))
    exp_rows = []
    for qid in base.qid.unique():
        sub = pd.DataFrame({
            "value": cat_of.loc[base[base.qid == qid].doc_id].to_numpy(),
            "v": size_of.loc[base[base.qid == qid].doc_id].to_numpy()})
        sub = sub[sub.value.notna()]
        g = sub.groupby("value")["v"]
        agg = pd.DataFrame({"n": g.size(), "sum_val": g.sum(),
                            "min_val": g.min(), "max_val": g.max()})
        agg = agg.sort_values(["n"], ascending=False).head(10)
        for v, r in agg.iterrows():
            exp_rows.append((qid, v, int(r.n), int(r.sum_val),
                             int(r.min_val), int(r.max_val),
                             r.sum_val / r.n))
    exp = (pd.DataFrame(exp_rows, columns=["qid", "value", "n",
                                           "sum_val", "min_val",
                                           "max_val", "avg_val"])
           .sort_values(["qid", "value"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(got.astype(exp.dtypes.to_dict()), exp)


def test_facet_stats_local_matches_distributed(spark, dvidx):
    from pim_lucene_spark.operators.docvalues import (facet_stats,
                                                      facet_stats_local)
    m, _ = dvidx
    a = (facet_stats(spark, m, QUERIES, "category", "size", top_n=10)
         .toPandas().sort_values(["qid", "value"])
         .reset_index(drop=True))
    b = (facet_stats_local(m, QUERIES, "category", "size", top_n=10)
         .sort_values(["qid", "value"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(a.astype(b.dtypes.to_dict()), b)


def test_dv_range_filter_matches_bruteforce(spark, dvidx):
    """DocValuesRangeQuery as a boolean FILTER (and bare pure browse):
    inclusive [lo, hi] over the resident sidecar vs pandas."""
    from pim_lucene_spark.index import FullTextIndex
    from pim_lucene_spark.plans.query import DocValuesRangeQuery
    m, pdf = dvidx
    base = _full_ranking(spark, m)
    size_of = pdf.set_index("doc_id")["size"].fillna(0).astype(np.int64)
    rq = DocValuesRangeQuery("size", 5, 15)
    got = (search_boolean(
        spark, m, [(0, BooleanQuery(must=["red"], filter=[rq]))],
        k=10_000, precision="float64").toPandas())
    bsub = base[base.qid == 0]
    exp = {d for d in bsub.doc_id
           if 5 <= int(size_of[d]) <= 15}
    assert set(got.doc_id) == exp
    # filter never changes the base clause's scores
    bscore = bsub.set_index("doc_id").score
    for _, r in got.iterrows():
        assert r.score == bscore[r.doc_id]
    # bare query = pure browse, both facade routes identical
    idx = FullTextIndex(spark, m)
    a = (idx.query([(1, rq)], k=10_000).toPandas()
         [["qid", "doc_id", "score"]]
         .sort_values("doc_id").reset_index(drop=True))
    exp_all = {int(d) for d in pdf.doc_id
               if 5 <= int(size_of[d]) <= 15}
    assert set(a.doc_id) == exp_all and (a.score == 0.0).all()
    b = (idx.query_local([(1, rq)], k=10_000)
         [["qid", "doc_id", "score"]]
         .sort_values("doc_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(a.astype(b.dtypes.to_dict()),
                                  b.reset_index(drop=True))
    with pytest.raises(ValueError, match="lo.*hi"):
        DocValuesRangeQuery("size", 10, 5)


def test_facade_wrappers(spark, dvidx):
    """FullTextIndex.sort_by / collapse / facet_ranges delegate to the
    same plans (smoke + shape check)."""
    from pim_lucene_spark.index import FullTextIndex
    m, _ = dvidx
    idx = FullTextIndex(spark, m)
    s = idx.sort_by([(0, "red")], "size", k=5).toPandas()
    assert list(s.columns) == ["qid", "doc_id", "sortval"] and len(s) == 5
    c = idx.collapse([(0, "red")], "category", k=2).toPandas()
    assert list(c.columns) == ["qid", "value", "doc_id", "score"]
    assert len(c) == 2
    r = idx.facet_ranges([(0, "red")], "size",
                         [("lo", 0, 10), ("hi", 10, 100)]).toPandas()
    assert len(r) == 2 and r.n.sum() > 0


def test_sort_kernel_ships_at_most_p_times_k(spark, dvidx):
    """The scale property: the rows the sort kernel hands to the rank
    window's exchange are ≤ P·k per query no matter the match count."""
    from pim_lucene_spark.operators.docvalues import (SORT_RESULT_SCHEMA,
                                                      dv_dir)
    from pim_lucene_spark.plans.compound import eval_aggregate
    m, _ = dvidx
    wrapped = [(0, BooleanQuery(must=["red"]))]
    rows = eval_aggregate(
        spark, {"": m}, "", wrapped,
        {"sort": {"path": dv_dir(m, "size"), "reverse": False, "k": 3}},
        SORT_RESULT_SCHEMA).count()
    assert rows <= m.num_partitions * 3
