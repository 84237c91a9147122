"""Multi-way index merge (operator B6): merged index must be equivalent to
the brute-force model over the concatenated corpus, with Lucene-style
doc-base offsets (partition-preserving, rounded up to a multiple of P)."""

import os

import numpy as np
import pandas as pd
import pytest

from pim_lucene_spark.config import IndexConfig
from pim_lucene_spark.model import BruteForceModel
from pim_lucene_spark.operators.index_build import build_index
from pim_lucene_spark.operators.merge import merge_indexes
from pim_lucene_spark.operators.search import search

DOCS_A = pd.DataFrame({
    "doc_id": range(5),
    "content": [
        "blah blah blah blah blah youpi blah blah blah",
        "red orange white orange red",
        "green red",
        "one two three two one",
        "alpha beta gamma alpha",
    ],
})
DOCS_B = pd.DataFrame({
    "doc_id": range(7),
    "content": [
        "Une phrase a trouver ici Une phrase a trouver la",
        "red green blue",
        "blah youpi blah",
        "two one two one",
        "gamma delta epsilon",
        "orange you glad",
        "white red white red white",
    ],
})
QUERIES = [
    (0, "blah blah"), (1, "red"), (2, "two one"), (3, "Une phrase a trouver"),
    (4, "white red white"), (5, "gamma"), (6, "orange"), (7, "red green"),
]


@pytest.mark.parametrize("parts,segs", [(2, 2), (3, 1)])
def test_merge_matches_model_on_union(spark, tmp_index_dir, parts, segs):
    cfg = IndexConfig(num_partitions=parts, num_segments=segs, build_chunks=1)
    m_a = build_index(spark, spark.createDataFrame(DOCS_A),
                      os.path.join(tmp_index_dir, "a"), cfg,
                      content_col="content", id_col="doc_id")
    m_b = build_index(spark, spark.createDataFrame(DOCS_B),
                      os.path.join(tmp_index_dir, "b"), cfg,
                      content_col="content", id_col="doc_id")
    merged = merge_indexes(spark, [m_a, m_b],
                           os.path.join(tmp_index_dir, "merged"),
                           num_segments=segs)

    base_b = -(-len(DOCS_A) // parts) * parts  # round up to multiple of P
    union = pd.concat([
        DOCS_A,
        DOCS_B.assign(doc_id=DOCS_B.doc_id + base_b),
    ], ignore_index=True)
    model = BruteForceModel(union)

    res = search(spark, merged, QUERIES, k=10).toPandas()
    for qid, text in QUERIES:
        expected = model.search_phrase(text, k=10)
        got = res[res.qid == qid].sort_values(
            ["score", "doc_id"], ascending=[False, True])
        assert got.doc_id.tolist() == expected.doc_id.tolist(), text
        assert got.freq.tolist() == expected.freq.tolist(), text
        np.testing.assert_array_equal(
            np.float32(got.score.to_numpy()),
            np.float32(expected.score.to_numpy()), err_msg=text)

    # merged collection stats are exact sums
    assert merged.doc_count == len(DOCS_A) + len(DOCS_B)
    stats = (spark.read.parquet(merged.stats_path).toPandas()
             .set_index("term"))
    toks = union.content.str.split().explode()
    per_doc = toks.groupby([union.loc[toks.index, "doc_id"], toks]).size()
    assert int(stats.loc["red", "doc_freq"]) == \
        int((per_doc.xs("red", level=1) > 0).sum())
    assert int(stats.loc["red", "total_tf"]) == int((toks == "red").sum())


def test_remerge_of_merged_index(spark, tmp_index_dir):
    """merge(merge(a,b),c) must equal merge(a,b,c): doc-base offsets come
    from the padded doc-id SPAN, not doc_count (a merged id space has
    round-up gaps — using doc_count silently overlapped ids)."""
    cfg = IndexConfig(num_partitions=2, num_segments=2, build_chunks=1)
    frames = [DOCS_A, DOCS_B, DOCS_A.assign(
        content=DOCS_A.content.str.replace("blah", "noise"))]
    srcs = [build_index(spark, spark.createDataFrame(f),
                        os.path.join(tmp_index_dir, f"s{i}"), cfg,
                        content_col="content", id_col="doc_id")
            for i, f in enumerate(frames)]

    m_ab = merge_indexes(spark, srcs[:2], os.path.join(tmp_index_dir, "ab"))
    m_chain = merge_indexes(spark, [m_ab, srcs[2]],
                            os.path.join(tmp_index_dir, "chain"))
    m_flat = merge_indexes(spark, srcs, os.path.join(tmp_index_dir, "flat"))

    # span bookkeeping: chain and flat merges cover the same id space
    assert m_ab.span == m_ab.doc_span > m_ab.doc_count - 1
    assert m_chain.span == m_flat.span
    assert m_chain.doc_count == m_flat.doc_count == sum(len(f) for f in frames)

    # no overlapping doc ids anywhere
    docs = spark.read.parquet(m_chain.docs_path).toPandas()
    assert docs.doc_id.is_unique
    assert int(docs.doc_id.max()) == m_chain.span - 1

    qs = QUERIES + [(8, "noise noise"), (9, "blah")]
    res_chain = (search(spark, m_chain, qs, k=20).toPandas()
                 .sort_values(["qid", "doc_id"]).reset_index(drop=True))
    res_flat = (search(spark, m_flat, qs, k=20).toPandas()
                .sort_values(["qid", "doc_id"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(res_chain, res_flat)

    # and both match the brute-force model on the union with flat bases
    P = cfg.num_partitions
    bases, acc = [], 0
    for f in frames:
        bases.append(acc)
        acc += -(-len(f) // P) * P
    union = pd.concat([f.assign(doc_id=f.doc_id + b)
                       for f, b in zip(frames, bases)], ignore_index=True)
    model = BruteForceModel(union)
    for qid, text in qs:
        expected = model.search_phrase(text, k=20)
        got = res_flat[res_flat.qid == qid].sort_values(
            ["score", "doc_id"], ascending=[False, True])
        assert got.doc_id.tolist() == expected.doc_id.tolist(), text


def test_merge_norms_blob_spans(spark, tmp_index_dir):
    """Merged norms blobs are sized by actual blob lengths (padded spans),
    so a re-merge neither raises nor overwrites a prior source's norms."""
    cfg = IndexConfig(num_partitions=2, num_segments=1, build_chunks=1)
    m_a = build_index(spark, spark.createDataFrame(DOCS_A),
                      os.path.join(tmp_index_dir, "a"), cfg,
                      content_col="content", id_col="doc_id")
    m_b = build_index(spark, spark.createDataFrame(DOCS_B),
                      os.path.join(tmp_index_dir, "b"), cfg,
                      content_col="content", id_col="doc_id")
    m_ab = merge_indexes(spark, [m_a, m_b], os.path.join(tmp_index_dir, "ab"))
    m_ab2 = merge_indexes(spark, [m_ab, m_a],
                          os.path.join(tmp_index_dir, "ab2"))
    norms = spark.read.parquet(m_ab2.norms_path).toPandas()
    P = cfg.num_partitions
    for row in norms.itertuples(index=False):
        blob = np.frombuffer(row.norms, dtype=np.uint8)
        # blob covers the merged span for this partition
        assert blob.size >= (m_ab.span // P)
        # all real docs have nonzero norms; doc norms from source A appear
        # twice (once per copy), shifted by the padded per-partition span
        shift = -(-m_ab.span // P)
        a_blob = np.frombuffer(
            spark.read.parquet(m_a.norms_path)
            .filter(f"pid = {row.pid}").toPandas().iloc[0]["norms"],
            dtype=np.uint8)
        np.testing.assert_array_equal(blob[:a_blob.size], a_blob)
        np.testing.assert_array_equal(
            blob[shift:shift + a_blob.size], a_blob)


@pytest.mark.parametrize("seed", [11, 29])
def test_merge_randomized_chains(spark, tmp_index_dir, seed):
    """Random corpora, random batch splits, random chaining order — the
    merged index must match the model over the re-based union."""
    rng = np.random.RandomState(seed)
    vocab = np.array(["a", "b", "ab", "zz", "q", "日本"], dtype=object)
    n_docs = int(rng.randint(12, 40))
    docs = [" ".join(vocab[rng.randint(0, len(vocab), rng.randint(1, 15))])
            for _ in range(n_docs)]
    P = int(rng.randint(1, 4))
    cfg = IndexConfig(num_partitions=P, num_segments=int(rng.randint(1, 4)),
                      build_chunks=1,
                      max_postings_per_stripe=int(rng.choice([2, 1 << 17])))
    # split into 2-4 batches with batch-local dense ids
    n_batches = int(rng.randint(2, 5))
    cuts = sorted(rng.choice(range(1, n_docs), n_batches - 1, replace=False))
    bounds = [0, *cuts, n_docs]
    frames, sources = [], []
    for i in range(n_batches):
        f = pd.DataFrame({
            "doc_id": range(bounds[i + 1] - bounds[i]),
            "content": docs[bounds[i]:bounds[i + 1]],
        })
        frames.append(f)
        sources.append(build_index(
            spark, spark.createDataFrame(f),
            os.path.join(tmp_index_dir, f"s{i}"), cfg,
            content_col="content", id_col="doc_id"))
    # random chaining: either flat n-way, or fold left pairwise
    if rng.rand() < 0.5:
        merged = merge_indexes(spark, sources,
                               os.path.join(tmp_index_dir, "m"))
    else:
        merged = sources[0]
        for i, s in enumerate(sources[1:], 1):
            merged = merge_indexes(spark, [merged, s],
                                   os.path.join(tmp_index_dir, f"m{i}"))
    # oracle corpus = the merged docs table itself (its ids embody the
    # chain's span arithmetic; uniqueness + count assert the arithmetic)
    docs_tbl = (spark.read.parquet(merged.docs_path)
                .select("doc_id", "content").toPandas()
                .sort_values("doc_id").reset_index(drop=True))
    assert docs_tbl.doc_id.is_unique
    assert len(docs_tbl) == n_docs
    model = BruteForceModel(docs_tbl)
    queries = [(i, " ".join(vocab[rng.randint(0, len(vocab),
                                              rng.randint(1, 3))]))
               for i in range(6)]
    res = search(spark, merged, queries, k=15).toPandas()
    for qid, text in queries:
        expected = model.search_phrase(text, k=15)
        got = res[res.qid == qid].sort_values(
            ["score", "doc_id"], ascending=[False, True])
        assert got.doc_id.tolist() == expected.doc_id.tolist(), (seed, text)
        np.testing.assert_array_equal(
            np.float32(got.score.to_numpy()),
            np.float32(expected.score.to_numpy()), err_msg=f"{seed} {text}")


def test_merge_three_way_with_striping(spark, tmp_index_dir):
    cfg = IndexConfig(num_partitions=2, num_segments=2, build_chunks=1,
                      max_postings_per_stripe=1)
    parts = []
    frames = [DOCS_A, DOCS_B, DOCS_A.assign(
        content=DOCS_A.content.str.replace("blah", "noise"))]
    for i, frame in enumerate(frames):
        parts.append(build_index(
            spark, spark.createDataFrame(frame),
            os.path.join(tmp_index_dir, f"s{i}"), cfg,
            content_col="content", id_col="doc_id"))
    merged = merge_indexes(spark, parts,
                           os.path.join(tmp_index_dir, "merged3"))

    base1 = -(-len(DOCS_A) // 2) * 2
    base2 = base1 + -(-len(DOCS_B) // 2) * 2
    union = pd.concat([
        frames[0],
        frames[1].assign(doc_id=frames[1].doc_id + base1),
        frames[2].assign(doc_id=frames[2].doc_id + base2),
    ], ignore_index=True)
    model = BruteForceModel(union)
    res = search(spark, merged, QUERIES + [(8, "noise noise")], k=10).toPandas()
    for qid, text in QUERIES + [(8, "noise noise")]:
        expected = model.search_phrase(text, k=10)
        got = res[res.qid == qid].sort_values(
            ["score", "doc_id"], ascending=[False, True])
        assert got.doc_id.tolist() == expected.doc_id.tolist(), text
        np.testing.assert_array_equal(
            np.float32(got.score.to_numpy()),
            np.float32(expected.score.to_numpy()), err_msg=text)


def _vocab_docs(n, seed):
    rng = np.random.default_rng(seed)
    vocab = ["red", "green", "blue", "apple", "sky", "grass"]
    return pd.DataFrame({
        "doc_id": range(n),
        "content": [" ".join(rng.choice(vocab, size=rng.integers(3, 9)))
                    for _ in range(n)]})


def _frame(df):
    pdf = df.toPandas() if not isinstance(df, pd.DataFrame) else df
    return pdf.sort_values(["qid", "doc_id"]).reset_index(drop=True)


def _norms_pids(m):
    return sorted(int(n[len("pid="):]) for n in os.listdir(m.norms_path)
                  if n.startswith("pid="))


def test_merge_sparse_and_emptied_pids(spark, tmp_index_dir):
    """Sources whose pids are missing: one with fewer docs than P (its
    norms hold only pid=0..2) and one whose pid 5 is wholly deleted.
    The flat 3-way merge and the chain merge(merge(small, b), c) both
    equal a brute-force scan of exactly the live docs at the merged ids,
    float-exact."""
    from pim_lucene_spark.operators.deletes import write_deletes
    from pim_lucene_spark.plans.router import brute_force_search

    P = 8
    cfg = IndexConfig(num_partitions=P, num_segments=2, build_chunks=1)
    frames = [_vocab_docs(3, 1), _vocab_docs(20, 2), _vocab_docs(10, 3)]
    dels = [[], [5, 13], [2]]  # source 1: every doc of pid 5
    srcs = []
    for i, (f, d) in enumerate(zip(frames, dels)):
        m = build_index(spark, spark.createDataFrame(f),
                        os.path.join(tmp_index_dir, f"s{i}"), cfg,
                        content_col="content", id_col="doc_id")
        srcs.append(write_deletes(spark, m, d) if d else m)
    assert _norms_pids(srcs[0]) == [0, 1, 2]

    flat = merge_indexes(spark, srcs, os.path.join(tmp_index_dir, "flat"))
    m01 = merge_indexes(spark, srcs[:2], os.path.join(tmp_index_dir, "m01"))
    chain = merge_indexes(spark, [m01, srcs[2]],
                          os.path.join(tmp_index_dir, "chain"))

    bases = [0, 8, 32]  # spans 3 → 8, 20 → 24
    live = pd.concat([f[~f.doc_id.isin(d)].assign(doc_id=f.doc_id + b)
                      for f, d, b in zip(frames, dels, bases)],
                     ignore_index=True)
    qs = [(0, "red"), (1, "green apple"), (2, "sky"), (3, "blue grass"),
          (4, "apple")]
    want = _frame(brute_force_search(spark.createDataFrame(live), qs,
                                     k=10 ** 6))
    for merged in (flat, chain):
        assert merged.doc_count == len(live) == 30
        assert _norms_pids(merged) == list(range(P))
        docs = spark.read.parquet(merged.docs_path).toPandas()
        assert sorted(docs.doc_id) == sorted(live.doc_id)
        got = _frame(search(spark, merged, qs, k=10 ** 6))
        pd.testing.assert_frame_equal(got, want)


def test_merge_rejects_pre_v3_source(spark, tmp_index_dir):
    """Only v3 has the norms/pid=N layout merge tasks read directly: a
    pre-v3 source fails when its manifest is built, before any merge
    output exists."""
    from pim_lucene_spark.manifest import IndexManifest

    def manifest(name, version):
        return IndexManifest(
            index_dir=os.path.join(tmp_index_dir, name), num_partitions=2,
            num_segments=1, doc_count=1, sum_total_term_freq=1,
            nb_doc_per_segment=1, version=version)

    with pytest.raises(ValueError, match="rebuild"):
        merge_indexes(spark, [manifest("a", 3), manifest("b", 2)],
                      os.path.join(tmp_index_dir, "m"))
    assert not os.path.exists(os.path.join(tmp_index_dir, "m"))


def test_merge_postings_and_norms_writes_have_no_shuffle(
        spark, tmp_index_dir, monkeypatch):
    """The postings and norms writes run on the file plan: every job of
    either write is a single stage — a pid shuffle would add a map stage
    to the write's job."""
    from pyspark.sql.readwriter import DataFrameWriter

    cfg = IndexConfig(num_partitions=4, num_segments=2, build_chunks=1)
    srcs = [build_index(spark, spark.createDataFrame(f),
                        os.path.join(tmp_index_dir, f"s{i}"), cfg,
                        content_col="content", id_col="doc_id")
            for i, f in enumerate([DOCS_A, DOCS_B])]
    sc = spark.sparkContext
    write = DataFrameWriter.parquet

    def tagged(self, path, *args, **kwargs):
        sc.setJobGroup(f"write {path}", "merge write")
        try:
            return write(self, path, *args, **kwargs)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    monkeypatch.setattr(DataFrameWriter, "parquet", tagged)
    merged = merge_indexes(spark, srcs, os.path.join(tmp_index_dir, "m"))
    monkeypatch.undo()

    tracker = sc.statusTracker()
    for path in (merged.chunk_path(0), merged.norms_path):
        jobs = tracker.getJobIdsForGroup(f"write {path}")
        assert jobs, path
        assert [len(tracker.getJobInfo(j).stageIds) for j in jobs] == \
            [1] * len(jobs), path
