"""The serving kernel's batched decode and numpy top-k cut.

A pid's doc ids and freqs for all of a request's terms decode in one
pass (``_decode_terms``), a term's position units in one pass per call
(``_LazyPostings.ensure_positions``), and the top-k cut is numpy
(``_top_k_index``).  Each is checked against something that does not
share that code:

- rows: the full-scan ``brute_force_search`` over the same corpus, on a
  striped index with deletes (hot terms span many rows in one decode
  call), with repeated-term, co-presence-masked and gapped (``english``)
  phrases, ``after`` paging, and the decoded-postings cache off and on;
- work: the ``DECODE_STATS`` counters of a fixed batch, pinned to the
  values the per-row, per-unit decoder produced (perfbench's
  ``*.decode.*`` metrics and ``test_blockmax.py`` read these counters);
- the cut: the pandas sort + ``groupby.head`` it replaced.
"""

import numpy as np
import pandas as pd
import pytest

from pim_lucene_spark.config import IndexConfig
from pim_lucene_spark.operators import search as S
from pim_lucene_spark.operators.deletes import write_deletes
from pim_lucene_spark.operators.index_build import build_index
from pim_lucene_spark.plans.router import brute_force_search

COLS = ["qid", "doc_id", "freq", "norm", "score"]
N_DOCS = 1200
STRIPE = 16   # postings per stripe row: hot terms span many rows
QUERIES = [(0, "fast"), (1, "merge part"), (2, "batch batch batch"),
           (3, "zebra fast"), (4, "the table scan"), (5, "spark join"),
           (6, "zzz_absent"), (7, "row")]
EN_QUERIES = [(0, "sort the window"), (1, "sort a window"),
              (2, "the fast table"), (3, "window")]


def _corpus(n=N_DOCS, seed=11) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    vocab = ["fast", "table", "scan", "merge", "part", "row", "query",
             "join", "order", "spark", "the", "window", "sort"]
    docs = []
    for i in range(n):
        toks = list(rng.choice(vocab, size=int(rng.integers(3, 30))))
        if i % 5 == 0:
            toks += ["batch"] * int(rng.integers(1, 6))
        if i % 6 == 0:
            toks[1:1] = ["sort", "the", "window"]
        if i < n // 8 and i % 3 == 0:
            # "zebra" lives in the first segment only: its phrases decode
            # the co-present segments of "fast", not the whole term
            toks[:0] = ["zebra", "fast"]
        docs.append(" ".join(toks))
    return pd.DataFrame({"doc_id": np.arange(n), "content": docs})


def _build(spark, tmp_path_factory, name, tokenizer, queries):
    corpus = _corpus()
    cfg = IndexConfig(num_partitions=4, num_segments=4, build_chunks=2,
                      max_postings_per_stripe=STRIPE, tokenizer=tokenizer)
    m = build_index(spark, spark.createDataFrame(corpus),
                    str(tmp_path_factory.mktemp(name)), cfg,
                    content_col="content", id_col="doc_id")
    # delete each query's best hit and a spread of others
    top = S.search(spark, m, queries, k=1).toPandas()
    deleted = sorted(set(top["doc_id"].tolist()) | set(range(7, N_DOCS, 97)))
    return write_deletes(spark, m, deleted), corpus, deleted


@pytest.fixture(scope="module")
def striped(spark, tmp_path_factory):
    return _build(spark, tmp_path_factory, "striped", "whitespace", QUERIES)


@pytest.fixture(scope="module")
def english(spark, tmp_path_factory):
    return _build(spark, tmp_path_factory, "english", "english", EN_QUERIES)


def _rows(df) -> pd.DataFrame:
    if not isinstance(df, pd.DataFrame):
        df = df.toPandas()
    return (df[COLS].astype({"qid": "int64", "doc_id": "int64",
                             "freq": "int64", "norm": "int32",
                             "score": "float64"})
            .sort_values(["qid", "doc_id"]).reset_index(drop=True))


def _oracle(spark, fixture, queries, tokenizer) -> pd.DataFrame:
    """Every live match of every query, from a full scan (deleted docs
    still count toward the stats, as in the index)."""
    _, corpus, deleted = fixture
    gone = spark.createDataFrame(pd.DataFrame({"doc_id": deleted}))
    return _rows(brute_force_search(spark.createDataFrame(corpus), queries,
                                    k=None, tokenizer=tokenizer,
                                    exclude_ids=gone))


def _page(full: pd.DataFrame, k: int, after=None) -> pd.DataFrame:
    """Each query's next ``k`` rows of ``full`` in (score desc, doc asc)
    order, strictly after its ``after`` mark."""
    out = []
    for qid, grp in full.groupby("qid"):
        if after and qid in after:
            s, d = after[qid]
            grp = grp[(grp.score < s) | ((grp.score == s) & (grp.doc_id > d))]
        out.append(grp.sort_values(["score", "doc_id"],
                                   ascending=[False, True]).head(k))
    return _rows(pd.concat(out))


def _serve(m, queries, k, cache_mb, after=None) -> pd.DataFrame:
    S.clear_local_cache()
    S.clear_postings_cache()
    # twice: the second request runs on what the first left resident
    # (and, with the cache on, on its decoded postings)
    S.search_local(m, queries, k=k, postings_cache_mb=cache_mb, after=after)
    return _rows(S.search_local(m, queries, k=k, postings_cache_mb=cache_mb,
                                after=after))


def test_fixture_spans_rows_and_masks_segments(striped):
    """The shapes the batched decoder must split back: one term's
    postings over many stripe rows of a pid, and a phrase whose terms
    share only some segments."""
    m = striped[0]
    shard = S._local_rows(m, S.manifest_scan_key(m))
    rows = shard[0].by_term(np.array(["fast", "zebra"], dtype=object))
    assert len(rows["fast"]) > 4
    zebra = sum(np.asarray(r.seg_doc_counts) for r in rows["zebra"])
    fast = sum(np.asarray(r.seg_doc_counts) for r in rows["fast"])
    assert (zebra > 0).sum() == 1 and (fast > 0).all()


@pytest.mark.parametrize("cache_mb", [0, 256])
@pytest.mark.parametrize("k", [3, 1000])
def test_serving_equals_full_scan(spark, striped, k, cache_mb):
    want = _page(_oracle(spark, striped, QUERIES, "whitespace"), k)
    assert set(want["qid"]) == {0, 1, 2, 3, 4, 5, 7}
    pd.testing.assert_frame_equal(_serve(striped[0], QUERIES, k, cache_mb),
                                  want, check_exact=True)


@pytest.mark.parametrize("cache_mb", [0, 256])
def test_after_page_equals_full_scan(spark, striped, cache_mb):
    full = _oracle(spark, striped, QUERIES, "whitespace")
    marks = S.page_marks(_page(full, 4))
    got = _serve(striped[0], QUERIES, 4, cache_mb, after=marks)
    pd.testing.assert_frame_equal(got, _page(full, 4, after=marks),
                                  check_exact=True)


@pytest.mark.parametrize("cache_mb", [0, 256])
def test_gapped_phrase_equals_full_scan(spark, english, cache_mb):
    want = _page(_oracle(spark, english, EN_QUERIES, "english"), 5)
    assert set(want["qid"]) == {0, 1, 2, 3}
    pd.testing.assert_frame_equal(_serve(english[0], EN_QUERIES, 5,
                                         cache_mb),
                                  want, check_exact=True)


def test_file_plan_equals_full_scan(spark, striped, monkeypatch):
    """The distributed route runs the same decoder in its tasks."""
    monkeypatch.setattr(S, "_LOCAL_ROUTE_POSTINGS", 0)
    want = _page(_oracle(spark, striped, QUERIES, "whitespace"), 5)
    got = _rows(S.search(spark, striped[0], QUERIES, k=5,
                         final_merge="driver"))
    pd.testing.assert_frame_equal(got, want, check_exact=True)


# the per-row doc/freq and per-unit position decoders' counts for this
# batch: batching must decode exactly the same bytes and units
PINNED_STATS = {
    3: {"doc_bytes": 15892, "pos_bytes": 11607, "pos_units": 482,
        "segments_scored": 32, "segments_skipped": 0},
    1000: {"doc_bytes": 15456, "pos_bytes": 11607, "pos_units": 482,
           "segments_scored": 32, "segments_skipped": 0},
}


@pytest.mark.parametrize("k", [3, 1000])
def test_decode_counters_pinned(striped, k):
    m = striped[0]
    S.clear_local_cache()
    S.clear_postings_cache()
    S.search_local(m, QUERIES, k=k, postings_cache_mb=0)  # load pids
    S.reset_decode_stats()
    S.search_local(m, QUERIES, k=k, postings_cache_mb=0)
    assert S.reset_decode_stats() == PINNED_STATS[k]


def _old_top_k(pdf: pd.DataFrame, k: int) -> pd.DataFrame:
    return (pdf.sort_values(["qid", "score", "doc_id"],
                            ascending=[True, False, True])
            .groupby("qid", sort=False).head(k).reset_index(drop=True))


@pytest.mark.parametrize("seed", range(12))
def test_top_k_equals_pandas_cut(seed):
    rng = np.random.default_rng(seed)
    n = int(rng.integers(1, 300))
    pdf = pd.DataFrame({
        "qid": rng.integers(0, 6, n).astype(np.int64),
        "doc_id": rng.integers(0, 40, n).astype(np.int64),
        "freq": rng.integers(1, 9, n).astype(np.int64),
        "norm": rng.integers(0, 255, n).astype(np.int32),
        # few distinct scores: ties across doc ids, and duplicate
        # (qid, doc_id, score) rows whose input order must survive
        "score": rng.choice([0.5, 1.25, 2.0, 3.0 + 1e-9], n),
    })
    if seed % 3 == 0:   # compound serving rows carry NaN freq/norm
        pdf["freq"] = np.where(rng.random(n) < 0.5, np.nan, pdf["freq"])
        pdf["norm"] = np.nan
    for k in (1, 3, 10 ** 6):   # 10**6: k larger than every group
        pd.testing.assert_frame_equal(S._top_k(pdf, k), _old_top_k(pdf, k),
                                      check_exact=True)


def test_top_k_empty_frame():
    empty = S._empty_result()
    pd.testing.assert_frame_equal(S._top_k(empty, 5), _old_top_k(empty, 5),
                                  check_exact=True)
