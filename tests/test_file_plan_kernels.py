"""Every pid-grouped query kernel runs on the file plan.

The compound kernel (ranked, count, facet, sort, collapse, ranges and
facet-stats modes), BM25F and the sloppy-phrase kernel all launch the
same zero-exchange ``Range → MapInPandas`` job search uses: each task
reads its pids' postings files, norms and live masks itself.  On an
index with deletes each entry point must plan no Parquet scan and no
Exchange below its kernel, and return the same rows as the serving or
join route, scores float-exact.  A MatchAllDocs batch must still run
the kernel on pids that hold no postings for the batch's terms.
"""

import numpy as np
import pandas as pd
import pytest

from pim_lucene_spark.config import IndexConfig
from pim_lucene_spark.index import FullTextIndex, MultiFieldIndex
from pim_lucene_spark.operators import docvalues as DV
from pim_lucene_spark.operators import facets as FC
from pim_lucene_spark.operators.index_build import build_index
from pim_lucene_spark.plans import compound as C
from pim_lucene_spark.plans.boolean import BooleanQuery, search_boolean
from pim_lucene_spark.plans.dismax import DisMaxQuery
from pim_lucene_spark.plans.query import MatchAllDocsQuery, PhraseQuery
from pim_lucene_spark.plans.router import search_with_fallback
from tests.compound_ref import reference_compound

VOCAB = ["red", "green", "blue", "apple", "house", "sky", "the", "fast",
         "pie", "tart"]
CATS = ["news", "blog", "wiki", None, "docs"]

BATCH = [
    (0, BooleanQuery(must=["red"], should=["sky", "apple"])),
    (1, BooleanQuery(should=[PhraseQuery("the fast"), "tart"])),
    (2, BooleanQuery(must=["green"], must_not=["blue"])),
    (3, DisMaxQuery(clauses=["pie", "house"], tie=0.25)),
    (4, BooleanQuery(must=["zzz_absent"])),
]
SLOPPY = [(0, "red apple"), (1, "the fast"), (2, "sky blue green")]
SLOPS = {0: 2, 1: 0, 2: 3}
BM25F = [(0, "red apple"), (1, "green"), (2, "the fast sky")]


def _corpus(n=200, seed=5):
    rng = np.random.default_rng(seed)
    rows, titles, cats, sizes = [], [], [], []
    for i in range(n):
        words = list(rng.choice(VOCAB, size=rng.integers(4, 16)))
        if i % 5 == 0:
            words += ["the", "fast"]
        rows.append(" ".join(words))
        titles.append(" ".join(rng.choice(VOCAB[:6],
                                          size=rng.integers(1, 4))))
        cats.append(CATS[int(rng.integers(0, len(CATS)))])
        sizes.append(int(rng.integers(0, 40)))
    return pd.DataFrame({"doc_id": range(n), "content": rows,
                         "title": titles, "category": cats, "size": sizes})


@pytest.fixture(scope="module")
def kidx(spark, tmp_path_factory):
    """One index with facet and doc-values sidecars, and a two-field
    index over the same docs; both with a delete generation."""
    pdf = _corpus()
    cfg = IndexConfig(num_partitions=4, num_segments=2, build_chunks=2)
    sdf = spark.createDataFrame(pdf)
    idx = FullTextIndex(spark, build_index(
        spark, sdf, str(tmp_path_factory.mktemp("kplan")), cfg,
        content_col="content", id_col="doc_id",
        meta_cols=["category", "size"]))
    idx.build_facets("category")
    idx.build_docvalues("size")
    mf = MultiFieldIndex.build(
        spark, sdf, str(tmp_path_factory.mktemp("kplan_mf")),
        fields={"title": "title", "body": "content"}, cfg=cfg,
        id_col="doc_id")
    hits = search_boolean(spark, idx.manifest, BATCH[:3], k=2).toPandas()
    deleted = sorted(set(hits.doc_id)) + [7, 11]
    idx.delete_docs(deleted)
    mf.delete_docs(deleted)
    return idx.manifest, mf, deleted


def _sorted(df, by) -> pd.DataFrame:
    if not isinstance(df, pd.DataFrame):
        df = df.toPandas()
    return df.sort_values(by).reset_index(drop=True)


def _same(got, want, by) -> None:
    want = _sorted(want, by)
    got = _sorted(got, by)[list(want.columns)].astype(want.dtypes.to_dict())
    assert len(want)
    pd.testing.assert_frame_equal(got, want, check_exact=True)


def _count_rows(spark, m):
    counts = C.count_compound(spark, {"": m}, "", BATCH)
    return pd.DataFrame({"qid": list(counts), "n": list(counts.values())})


def _count_ref(m):
    full = C.search_compound_local(m, BATCH, k=10 ** 6)
    n = full.groupby("qid").size()
    return pd.DataFrame({"qid": [q for q, _ in BATCH],
                         "n": [int(n.get(q, 0)) for q, _ in BATCH]})


def _bm25f(mf):
    return mf.search_bm25f(BM25F, k=8, field_weights={"title": 2.0,
                                                      "body": 1.0})


def _bm25f_ref(spark, mf):
    """Top-8 of the independent BM25F model, deleted docs excluded
    (they still count toward the statistics)."""
    from pim_lucene_spark.operators.deletes import deleted_ids
    from tests.test_bm25f import _model_bm25f
    gone = set(deleted_ids(spark, mf.manifests["body"]).toPandas().doc_id)
    docs = _corpus().rename(columns={"content": "body"})
    rows = []
    for qid, text in BM25F:
        sc = _model_bm25f(docs, text, {"title": 2.0, "body": 1.0})
        live = sorted(((d, s) for d, s in sc.items() if d not in gone),
                      key=lambda kv: (-kv[1], kv[0]))[:8]
        rows += [(qid, d, s) for d, s in live]
    return pd.DataFrame(rows, columns=["qid", "doc_id", "score"])


# name → (file-plan entry point, reference route, sort keys)
CASES = {
    "search_compound": (
        lambda s, m, mf: C.search_compound(s, {"": m}, "", BATCH, k=6),
        lambda s, m, mf: C.search_compound_local(m, BATCH, k=6),
        ["qid", "doc_id"]),
    "count_compound": (
        lambda s, m, mf: _count_rows(s, m),
        lambda s, m, mf: _count_ref(m),
        ["qid"]),
    "facet_counts": (
        lambda s, m, mf: FC.facet_counts(s, m, BATCH, "category"),
        lambda s, m, mf: FC.facet_counts_local(m, BATCH, "category"),
        ["qid", "value"]),
    "sort_by_field": (
        lambda s, m, mf: DV.sort_by_field(s, m, BATCH, "size", k=5,
                                          reverse=True),
        lambda s, m, mf: DV.sort_by_field_local(m, BATCH, "size", k=5,
                                                reverse=True),
        ["qid", "doc_id"]),
    "collapse_topk": (
        lambda s, m, mf: DV.collapse_topk(s, m, BATCH, "category", k=3,
                                          group_size=2),
        lambda s, m, mf: DV.collapse_topk_local(m, BATCH, "category", k=3,
                                                group_size=2),
        ["qid", "doc_id"]),
    "facet_ranges": (
        lambda s, m, mf: DV.facet_ranges(s, m, BATCH, "size",
                                         [("lo", 0, 10), ("mid", 5, 30),
                                          ("hi", 30, 99)]),
        lambda s, m, mf: DV.facet_ranges_local(m, BATCH, "size",
                                               [("lo", 0, 10),
                                                ("mid", 5, 30),
                                                ("hi", 30, 99)]),
        ["qid", "label"]),
    "facet_stats": (
        lambda s, m, mf: DV.facet_stats(s, m, BATCH, "category", "size"),
        lambda s, m, mf: DV.facet_stats_local(m, BATCH, "category", "size"),
        ["qid", "value"]),
    "eval_bm25f": (
        lambda s, m, mf: _bm25f(mf),
        lambda s, m, mf: _bm25f_ref(s, mf),
        ["qid", "doc_id"]),
    "search_sloppy_kernel": (
        lambda s, m, mf: C.search_sloppy_kernel(s, m, SLOPPY, k=6,
                                                slop=SLOPS),
        lambda s, m, mf: search_with_fallback(s, m, None, SLOPPY, k=6,
                                              slop=SLOPS,
                                              sloppy_plan="scan"),
        ["qid", "doc_id"]),
}


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", list(CASES))
def test_kernel_entry_point_runs_file_plan(spark, kidx, monkeypatch, name):
    m, mf, deleted = kidx
    run, ref, by = CASES[name]
    frames = []
    real = C._run_file_plan

    def recording(*args, **kwargs):
        frames.append(real(*args, **kwargs))
        return frames[-1]

    monkeypatch.setattr(C, "_run_file_plan", recording)
    got = run(spark, m, mf)
    assert frames, f"{name} did not run the file plan"
    for per_part in frames:
        plan = _plan(per_part)
        assert "MapInPandas" in plan and "Range" in plan
        assert "Exchange" not in plan
        assert "FileScan" not in plan and "Scan parquet" not in plan
    if not isinstance(got, pd.DataFrame):
        assert "FileScan" not in _plan(got)
        got = got.toPandas()
    monkeypatch.undo()
    if "doc_id" in got:
        assert not set(got.doc_id) & set(deleted)
    _same(got, ref(spark, m, mf), by)


def test_matchall_runs_pids_without_postings(spark, tmp_path):
    """A MatchAllDocs batch plans over every pid: pids holding no
    postings row for the batch's terms (here every pid but the one
    holding "pear", and every pid for a term-free batch) still answer
    with all their live docs."""
    docs = pd.DataFrame({"doc_id": range(12),
                         "content": ["red apple", "green pear"]
                         + ["blue sky"] * 10})
    idx = FullTextIndex.build(spark, spark.createDataFrame(docs),
                              str(tmp_path / "ma"),
                              IndexConfig(3, 2, build_chunks=1),
                              content_col="content", id_col="doc_id")
    idx.delete_docs([5])
    m = idx.manifest
    batch = [(0, BooleanQuery(must=[MatchAllDocsQuery()],
                              should=["pear"])),
             (1, BooleanQuery(must=[MatchAllDocsQuery(boost=2.0)]))]
    got = _sorted(C.search_compound(spark, {"": m}, "", batch, k=12),
                  ["qid", "doc_id"])
    live = [d for d in range(12) if d != 5]
    for qid in (0, 1):
        assert list(got[got.qid == qid].doc_id) == live
    assert (got[got.qid == 1].score == 2.0).all()
    _same(got, C.search_compound_local(m, batch, k=12), ["qid", "doc_id"])
    _same(got, reference_compound(spark, docs, {"content": m}, "content",
                                  batch, k=12, exclude_ids=[5]),
          ["qid", "doc_id"])
    counts = C.count_compound(spark, {"": m}, "", batch)
    assert counts == {0: 11, 1: 11}


# "ghost" lives only in docs the fixture deletes: it keeps its postings
# and stats, so every pid holding it runs its kernel, which matches no
# live doc and returns no columns
GHOST = [(0, BooleanQuery(must=["ghost"])),
         (1, BooleanQuery(should=[PhraseQuery("ghost red"), "ghost"])),
         (2, DisMaxQuery(clauses=["ghost"], tie=0.5))]
GHOST_TEXT = [(0, "ghost red"), (1, "ghost")]
RANGES = [("lo", 0, 10), ("mid", 5, 30), ("hi", 30, 99)]


@pytest.fixture(scope="module")
def ghost_idx(spark, tmp_path_factory):
    pdf = _corpus(n=80, seed=9)
    ghost = [3, 17, 42]
    for col in ("content", "title"):
        pdf.loc[ghost, col] = pdf.loc[ghost, col] + " ghost red"
    cfg = IndexConfig(num_partitions=4, num_segments=2, build_chunks=1)
    sdf = spark.createDataFrame(pdf)
    idx = FullTextIndex(spark, build_index(
        spark, sdf, str(tmp_path_factory.mktemp("ghost")), cfg,
        content_col="content", id_col="doc_id",
        meta_cols=["category", "size"]))
    idx.build_facets("category")
    idx.build_docvalues("size")
    mf = MultiFieldIndex.build(
        spark, sdf, str(tmp_path_factory.mktemp("ghost_mf")),
        fields={"title": "title", "body": "content"}, cfg=cfg,
        id_col="doc_id")
    idx.delete_docs(ghost)
    mf.delete_docs(ghost)
    return idx.manifest, mf


# name → (file-plan entry, serving entry or None), each over a batch
EMPTY_CASES = {
    "search_compound": (
        lambda s, m, mf, b: C.search_compound(s, {"": m}, "", b, k=6),
        lambda m, b: C.search_compound_local(m, b, k=6)),
    "facet_counts": (
        lambda s, m, mf, b: FC.facet_counts(s, m, b, "category"),
        lambda m, b: FC.facet_counts_local(m, b, "category")),
    "facet_stats": (
        lambda s, m, mf, b: DV.facet_stats(s, m, b, "category", "size"),
        lambda m, b: DV.facet_stats_local(m, b, "category", "size")),
    "sort_by_field": (
        lambda s, m, mf, b: DV.sort_by_field(s, m, b, "size", k=5),
        lambda m, b: DV.sort_by_field_local(m, b, "size", k=5)),
    "collapse_topk": (
        lambda s, m, mf, b: DV.collapse_topk(s, m, b, "category", k=3,
                                             group_size=2),
        lambda m, b: DV.collapse_topk_local(m, b, "category", k=3,
                                            group_size=2)),
    "facet_ranges": (
        lambda s, m, mf, b: DV.facet_ranges(s, m, b, "size", RANGES),
        lambda m, b: DV.facet_ranges_local(m, b, "size", RANGES)),
    "eval_bm25f": (
        lambda s, m, mf, b: mf.search_bm25f(
            BM25F if b is BATCH else [(0, "ghost")], k=8,
            field_weights={"title": 2.0, "body": 1.0}),
        None),
    "search_sloppy_kernel": (
        lambda s, m, mf, b: C.search_sloppy_kernel(
            s, m, SLOPPY if b is BATCH else GHOST_TEXT, k=6, slop=SLOPS),
        None),
}


def _assert_empty(got, batch, name) -> None:
    if name == "facet_ranges":   # one zero count per (query, range)
        assert len(got) == len(batch) * len(RANGES)
        assert not got.n.any()
    else:
        assert len(got) == 0


@pytest.mark.parametrize("name", list(EMPTY_CASES))
def test_no_match_batch_returns_empty_schema(spark, ghost_idx, name,
                                             monkeypatch):
    """A batch whose terms exist but match no live doc: every pid's
    kernel returns ``None``, and each entry point still answers with its
    schema (a matching batch's), on the file plan and when serving."""
    m, mf = ghost_idx
    run, local = EMPTY_CASES[name]
    want, got = run(spark, m, mf, BATCH), run(spark, m, mf, GHOST)
    assert want.count()
    assert got.schema == want.schema
    _assert_empty(got.toPandas(), GHOST, name)
    if local is None:
        return
    want = local(m, BATCH)
    outs = []
    real = C._compound_core

    def recording(*args):
        outs.append(real(*args))
        return outs[-1]

    monkeypatch.setattr(C, "_compound_core", recording)
    got = local(m, GHOST)
    assert outs and all(o is None for o in outs)
    assert len(want)
    assert got.dtypes.to_dict() == want.dtypes.to_dict()
    assert list(got.columns) == list(want.columns)
    _assert_empty(got, GHOST, name)


def test_no_match_batch_counts_zero(spark, ghost_idx):
    m, _ = ghost_idx
    assert C.count_compound(spark, {"": m}, "", GHOST) == {0: 0, 1: 0,
                                                          2: 0}
