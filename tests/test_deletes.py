"""Delete-vector lifecycle (live docs): query-time filtering with
pre-merge Lucene stats semantics, purge-on-merge with recomputed stats,
and the delete+append update path — the reference's open TODO
(PimIndexWriter.java:186-187; lifecycle of TestPimIndexWriter.java:
72-118)."""

import numpy as np
import pandas as pd
import pytest

from pim_lucene_spark.config import IndexConfig
from pim_lucene_spark.manifest import IndexManifest
from pim_lucene_spark.operators.index_build import build_index
from pim_lucene_spark.operators.search import (clear_local_cache, search,
                                               search_local)

VOCAB = ["red", "green", "blue", "apple", "brick", "house", "sky",
         "grass", "sunset", "pie"]


def _corpus(n=90, seed=5, start_id=0):
    rng = np.random.default_rng(seed)
    rows = [" ".join(rng.choice(VOCAB, size=rng.integers(4, 15)))
            for _ in range(n)]
    return pd.DataFrame({"doc_id": range(start_id, start_id + n),
                         "content": rows})


@pytest.fixture()
def didx(spark, tmp_index_dir):
    cfg = IndexConfig(num_partitions=4, num_segments=2, build_chunks=1)
    return build_index(spark, spark.createDataFrame(_corpus()),
                       tmp_index_dir, cfg,
                       content_col="content", id_col="doc_id")


QUERIES = [(0, "red"), (1, "red apple"), (2, "green"), (3, "sky sunset")]


def _frame(df):
    pdf = df.toPandas() if not isinstance(df, pd.DataFrame) else df
    return pdf.sort_values(["qid", "doc_id"]).reset_index(drop=True)


def test_deleted_docs_filtered_scores_unchanged(spark, didx):
    """Deletion removes docs from results but does NOT rescale surviving
    scores: df/avgdl still count deleted docs until merge (Lucene
    pre-merge semantics), so expected = pre-delete full result minus
    deleted ids, re-cut to k."""
    full = search(spark, didx, QUERIES, k=10 ** 9).toPandas()
    deleted = sorted(set(full.doc_id))[::3][:12]
    from pim_lucene_spark.index import FullTextIndex
    idx = FullTextIndex(spark, didx)
    assert idx.delete_docs(deleted) == len(deleted)

    got = _frame(search(spark, didx, QUERIES, k=5))
    exp = (full[~full.doc_id.isin(deleted)]
           .sort_values(["qid", "score", "doc_id"],
                        ascending=[True, False, True])
           .groupby("qid").head(5))
    pd.testing.assert_frame_equal(got, _frame(exp))
    assert not set(got.doc_id) & set(deleted)


def test_serving_path_and_small_k_block_max(spark, didx):
    """search_local honors the vector, and the block-max/WAND small-k
    paths never let a deleted doc occupy the bound (delete the current
    top hits → the next-best must surface)."""
    top = search(spark, didx, [(0, "red")], k=3).toPandas()
    from pim_lucene_spark.index import FullTextIndex
    FullTextIndex(spark, didx).delete_docs([int(d) for d in top.doc_id])
    clear_local_cache()
    a = _frame(search(spark, didx, QUERIES, k=3))
    b = _frame(search_local(didx, QUERIES, k=3))
    pd.testing.assert_frame_equal(a, b.astype(a.dtypes.to_dict()))
    assert not set(a.doc_id) & set(top.doc_id)
    # bound_probe two-phase path agrees too
    c = _frame(search(spark, didx, QUERIES, k=3, bound_probe=True))
    pd.testing.assert_frame_equal(a, c)


def test_compound_and_multiterm_honor_deletes(spark, didx):
    from pim_lucene_spark.index import FullTextIndex
    from pim_lucene_spark.plans.boolean import BooleanQuery, search_boolean
    from pim_lucene_spark.plans.multiterm import (PrefixQuery,
                                                  search_multiterm)

    batch = [(0, BooleanQuery(must=["red"], should=["apple", "sky"])),
             (1, BooleanQuery(should=["green", "grass"]))]
    pre = search_boolean(spark, didx, batch, k=10 ** 6).toPandas()
    deleted = sorted(set(pre.doc_id))[:8]
    FullTextIndex(spark, didx).delete_docs(deleted)

    got = _frame(search_boolean(spark, didx, batch, k=10))
    exp = (pre[~pre.doc_id.isin(deleted)]
           .sort_values(["qid", "score", "doc_id"],
                        ascending=[True, False, True])
           .groupby("qid").head(10))
    pd.testing.assert_frame_equal(got, _frame(exp))

    mt = search_multiterm(spark, didx, [(0, PrefixQuery("r"))],
                          k=10 ** 6).toPandas()
    assert not set(mt.doc_id) & set(deleted)


def test_sloppy_scan_path_honors_deletes(spark, didx):
    from pim_lucene_spark.index import FullTextIndex
    from pim_lucene_spark.plans.router import search_with_fallback

    pre = search_with_fallback(spark, didx, None, [(0, "red apple")],
                               k=10 ** 6, slop=2).toPandas()
    if len(pre) == 0:
        pytest.skip("no sloppy matches in corpus draw")
    deleted = [int(pre.doc_id.iloc[0])]
    FullTextIndex(spark, didx).delete_docs(deleted)
    got = search_with_fallback(spark, didx, None, [(0, "red apple")],
                               k=10 ** 6, slop=2).toPandas()
    exp = pre[~pre.doc_id.isin(deleted)]
    pd.testing.assert_frame_equal(_frame(got), _frame(exp))


def test_merge_purges_deletes_and_recomputes_stats(spark, tmp_path):
    """Merging sources with delete vectors drops the deleted docs'
    postings and shrinks collection stats: the merged index is
    bit-identical (docs, scores) to an index built directly from the
    live documents at the merged id layout."""
    from pim_lucene_spark.index import FullTextIndex
    from pim_lucene_spark.operators.merge import merge_indexes

    cfg = IndexConfig(num_partitions=4, num_segments=2, build_chunks=1)
    c0, c1 = _corpus(60, seed=1), _corpus(50, seed=2)
    m0 = build_index(spark, spark.createDataFrame(c0), str(tmp_path / "s0"),
                     cfg, content_col="content", id_col="doc_id")
    m1 = build_index(spark, spark.createDataFrame(c1), str(tmp_path / "s1"),
                     cfg, content_col="content", id_col="doc_id")
    del0 = [0, 7, 13, 21]
    del1 = [3, 4]
    FullTextIndex(spark, m0).delete_docs(del0)
    FullTextIndex(spark, m1).delete_docs(del1)

    merged = merge_indexes(spark, [m0, m1], str(tmp_path / "merged"))
    assert merged.delete_gen == 0
    assert merged.doc_count == 60 - len(del0) + 50 - len(del1)

    # reference: brute-force scan over EXACTLY the live docs at the
    # merged id layout — same float32 tree, stats from the live corpus,
    # so the purged merge must match bit-for-bit
    base1 = -(-m0.span // 4) * 4
    live = pd.concat([
        c0[~c0.doc_id.isin(del0)],
        c1[~c1.doc_id.isin(del1)].assign(
            doc_id=lambda d: d.doc_id + base1),
    ])
    assert merged.sum_total_term_freq == \
        int(live.content.str.split().map(len).sum())

    from pim_lucene_spark.plans.router import brute_force_search
    qs = [(0, "red"), (1, "red apple"), (2, "grass")]
    a = _frame(search(spark, merged, qs, k=10 ** 6))
    b = _frame(brute_force_search(spark.createDataFrame(live), qs,
                                  k=10 ** 6))
    pd.testing.assert_frame_equal(a, b)


def test_update_docs_lifecycle(spark, tmp_path):
    """update = delete old version + append generation; after compaction
    exactly the new version is live."""
    from pim_lucene_spark.streaming.ingest import (merge_generations,
                                                   update_docs)

    cfg = IndexConfig(num_partitions=4, num_segments=2, build_chunks=1)
    root = str(tmp_path / "gens")
    c0 = _corpus(40, seed=9)
    build_index(spark, spark.createDataFrame(c0),
                f"{root}/gen=0000000000", cfg,
                content_col="content", id_col="doc_id")

    new = pd.DataFrame({"doc_id": [5, 41],
                        "content": ["updated unicorn text",
                                    "brand new unicorn doc"]})
    update_docs(spark, root, spark.createDataFrame(new), cfg,
                content_col="content", uid_col="doc_id")

    gen0 = IndexManifest.load(f"{root}/gen=0000000000")
    assert gen0.delete_gen == 1 and gen0.deleted_count == 1
    # old version of doc 5 no longer matches in gen0
    old_hits = search(spark, gen0, [(0, c0.content.iloc[5].split()[0])],
                      k=10 ** 6).toPandas()
    assert 5 not in set(old_hits.doc_id)

    compacted = merge_generations(spark, root)
    hits = search(spark, compacted, [(0, "unicorn")], k=10).toPandas()
    assert len(hits) == 2  # exactly the two new docs match
    # 40 originals − 1 replaced (purged) + 2 new = 41 live docs
    assert compacted.doc_count == 41
    # user identity survives as src_doc_id payload in the merged docs
    merged_docs = spark.read.parquet(compacted.docs_path).toPandas()
    assert set(merged_docs.get("src_doc_id", pd.Series()).dropna()
               .astype(int)) == {5, 41}


def test_bm25f_and_dismax_honor_deletes(spark, tmp_path):
    """Review regressions: (a) the BM25F kernel must mask each pair's
    OWN postings, not just the union (a deleted doc's tf used to be
    credited to a live doc); (b) dismax with a sloppy clause routes to
    the scan path instead of silently scoring slop=0."""
    from pim_lucene_spark.index import MultiFieldIndex
    from pim_lucene_spark.plans.dismax import DisMaxQuery, search_dismax
    from pim_lucene_spark.plans.query import PhraseQuery
    from pim_lucene_spark.plans.router import search_with_fallback

    rng = np.random.default_rng(13)
    n = 70
    pdf = pd.DataFrame({
        "doc_id": range(n),
        "title": [" ".join(rng.choice(VOCAB[:6], size=rng.integers(2, 5)))
                  for _ in range(n)],
        "body": [" ".join(rng.choice(VOCAB, size=rng.integers(6, 18)))
                 for _ in range(n)],
    })
    cfg = IndexConfig(num_partitions=3, num_segments=2, build_chunks=1)
    mf = MultiFieldIndex.build(spark, spark.createDataFrame(pdf),
                               str(tmp_path / "mfdel"),
                               fields={"title": "title", "body": "body"},
                               cfg=cfg, id_col="doc_id")
    qs = [(0, "red apple"), (1, "green")]
    pre = mf.search_bm25f(qs, k=10 ** 6).toPandas()
    deleted = sorted(set(pre.doc_id))[:6]
    mf.delete_docs(deleted)
    got = (mf.search_bm25f(qs, k=10 ** 6).toPandas()
           .sort_values(["qid", "doc_id"]).reset_index(drop=True))
    exp = (pre[~pre.doc_id.isin(deleted)]
           .sort_values(["qid", "doc_id"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(got, exp)

    # dismax sloppy clause == the scan-path clause score (single clause:
    # dismax score IS the clause score), auto plan routes it correctly
    m = mf.manifests["body"]
    dq = [(5, DisMaxQuery(clauses=[PhraseQuery("red apple", slop=2)]))]
    got = (search_dismax(spark, m, dq, k=10 ** 6).toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    ref = (search_with_fallback(spark, m, None,
                                [(5, "red apple")], k=10 ** 6, slop=2)
           .toPandas().sort_values("doc_id").reset_index(drop=True))
    assert list(got.doc_id) == list(ref.doc_id)
    assert np.allclose(got.score, ref.score)


def test_delete_all_docs_is_legal(spark, didx):
    """Lucene IndexWriter.deleteAll semantics: a fully deleted index
    searches empty everywhere instead of raising."""
    from pim_lucene_spark.index import FullTextIndex
    idx = FullTextIndex(spark, didx)
    all_ids = [int(r["doc_id"]) for r in
               spark.read.parquet(didx.docs_path).select("doc_id")
               .collect()]
    assert idx.delete_docs(all_ids) == len(all_ids)
    assert search(spark, didx, QUERIES, k=10).count() == 0
    clear_local_cache()
    assert len(search_local(didx, QUERIES, k=10)) == 0


def test_update_docs_rejects_missing_uid_column(spark, tmp_path):
    """A generation without the user identity payload must fail loudly —
    matching user ids against internal dense ids would delete arbitrary
    documents."""
    from pim_lucene_spark.streaming.ingest import update_docs

    cfg = IndexConfig(num_partitions=2, num_segments=2, build_chunks=1)
    root = str(tmp_path / "gens2")
    build_index(spark, spark.createDataFrame(_corpus(20, seed=4)),
                f"{root}/gen=0000000000", cfg,
                content_col="content", id_col="doc_id")
    new = spark.createDataFrame(
        pd.DataFrame({"uid": [3], "content": ["replacement text"]}))
    with pytest.raises(ValueError, match="no 'uid' column"):
        update_docs(spark, root, new, cfg, content_col="content",
                    uid_col="uid")


def test_random_deletes_compound_kernel_join_and_serving_agree(
        spark, tmp_index_dir):
    """Random delete sets × boolean/dismax batches: the kernel plan and
    the serving path must agree bit-for-bit, and equal the
    pre-delete result minus the deleted ids (stats-preserving)."""
    from pim_lucene_spark.operators.search import clear_local_cache
    from pim_lucene_spark.index import FullTextIndex
    from pim_lucene_spark.plans.boolean import BooleanQuery, search_boolean
    from pim_lucene_spark.plans.compound import search_compound_local
    from pim_lucene_spark.plans.dismax import DisMaxQuery, search_dismax

    cfg = IndexConfig(num_partitions=4, num_segments=3, build_chunks=1)
    m = build_index(spark, spark.createDataFrame(_corpus(120, seed=8)),
                    tmp_index_dir, cfg,
                    content_col="content", id_col="doc_id")
    rng = np.random.default_rng(3)
    batch = [
        (0, BooleanQuery(must=["red"], should=["apple", "sky sunset"])),
        (1, BooleanQuery(should=["green", "grass", "pie"],
                         min_should_match=2)),
        (2, BooleanQuery(must=["blue"], must_not=["apple"])),
    ]
    dbatch = [(3, DisMaxQuery(clauses=["red apple", "sky"], tie=0.4))]
    pre_b = search_boolean(spark, m, batch, k=10 ** 6).toPandas()
    pre_d = search_dismax(spark, m, dbatch, k=10 ** 6).toPandas()
    deleted = sorted(rng.choice(120, size=25, replace=False).tolist())
    FullTextIndex(spark, m).delete_docs(deleted)
    clear_local_cache()

    def expect(pre, k=8):
        return (pre[~pre.doc_id.isin(deleted)]
                .sort_values(["qid", "score", "doc_id"],
                             ascending=[True, False, True])
                .groupby("qid").head(k)
                .sort_values(["qid", "doc_id"]).reset_index(drop=True))

    got = _frame(search_boolean(spark, m, batch, k=8))
    pd.testing.assert_frame_equal(got, expect(pre_b))
    gotd = _frame(search_dismax(spark, m, dbatch, k=8))
    pd.testing.assert_frame_equal(gotd, expect(pre_d))
    loc = _frame(search_compound_local(m, batch + dbatch, k=8))
    exp = (pd.concat([expect(pre_b), expect(pre_d)])
           .sort_values(["qid", "doc_id"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(loc.astype(exp.dtypes.to_dict()), exp)
