"""Multi-round adaptive bound sync (round-5 VERDICT item 2).

The reference's iterative host/DPU loop (``topdocs_sync.c:469-544``:
per-round doc budgets 16·2ⁿ, per-DPU best scores → host k-heaps →
tightened bound broadcast → partial relaunch, off at k ≥ 1000) as
successive bounded Spark jobs.  Must be byte-identical to the
single-pass plan, and round ≥ 2 must DECODE fewer bytes than a
single pass on a hot-term batch (the whole point: the global bound
from every partition's first round beats one partition's sample).
"""


import numpy as np
import pandas as pd
import pytest

from pim_lucene_spark.config import IndexConfig
from pim_lucene_spark.functions import bm25
from pim_lucene_spark.operators import search as S
from pim_lucene_spark.operators.index_build import build_index
from pim_lucene_spark.operators.search import plan_queries, search


def _mk_corpus(n=4000, seed=11):
    """Hot term 'the' everywhere at tf=1 in uniformly long docs (one
    flat norm byte → local block-max can never skip: every segment's
    upper bound ties the k-th score), plus three dominating short
    high-tf docs ALL in pid 1 (ids ≡ 1 mod 4).  The single-pass plan
    must decode the whole postings of 'the' in pids 0/2/3; the sync
    loop's round-1 global bound (set by pid 1's monsters) skips them —
    exactly the asymmetry topdocs_sync.c's rebroadcast exploits."""
    rng = np.random.default_rng(seed)
    vocab = ["fast", "table", "scan", "merge", "part", "row",
             "query", "join", "order", "spark"]
    docs = []
    for i in range(n):
        toks = ["the", "flat"] + list(rng.choice(vocab, size=38))
        docs.append(" ".join(toks))
    for i in (1, 5, 9):  # all land in pid 1 of a 4-partition index
        docs[i] = " ".join(["the"] * 15)
    docs[2] = "the fast " + docs[2]  # give the phrase real matches
    docs[6] = "the fast table " + docs[6]
    return pd.DataFrame({"doc_id": range(n), "content": docs})


@pytest.fixture(scope="module")
def sidx(spark, tmp_path_factory):
    return build_index(spark, spark.createDataFrame(_mk_corpus()),
                       str(tmp_path_factory.mktemp("syncidx")),
                       IndexConfig(num_partitions=4, num_segments=16,
                                   build_chunks=1),
                       content_col="content", id_col="doc_id")


BATCH = [(0, "the"), (1, "merge"), (2, "the fast"), (3, "table scan"),
         (4, "zz_nohit")]


@pytest.mark.parametrize("budget0", [16, 300, 10 ** 6])
def test_sync_equals_single_pass(spark, sidx, budget0):
    base = (search(spark, sidx, BATCH, k=5).toPandas()
            .sort_values(["qid", "doc_id"]).reset_index(drop=True))
    got = (search(spark, sidx, BATCH, k=5, bound_probe="sync",
                  sync_budget0=budget0).toPandas()
           .sort_values(["qid", "doc_id"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(base, got.astype(base.dtypes.to_dict()))


def _load_pid(m, needed):
    """``{pid: (rows per query term, norms)}`` through the shard reader."""
    (files, pids), = S._postings_file_groups({"": m}, 1)
    shard = S._read_shard(files[""], pids, needed)
    terms = np.asarray(needed, dtype=object)
    return {pid: (res.by_term(terms), res.norms_live(m.norms_path, None,
                                                     m.num_partitions)[0])
            for pid, res in shard.items()}


def _payload(m, queries, k, spark):
    planned, needed = plan_queries(spark, m, queries, k, "float32")
    avgdl = bm25.avg_field_length(m.sum_total_term_freq, m.doc_count,
                                  "float32")
    return {
        "queries": planned, "k": int(k), "precision": "float32",
        "cache": bm25.score_cache(avgdl, m.k1, m.b, "float32"),
        "num_partitions": m.num_partitions,
        "num_segments": m.num_segments,
        "norms_path": m.norms_path,
    }, needed


def _run_sync_inprocess(m, queries, k, spark, budget0):
    """The _search_sync_rounds driver loop with the kernel invoked
    in-process (DECODE_STATS observable).  Returns (result, rounds)."""
    payload, needed = _payload(m, queries, k, spark)
    parts = _load_pid(m, needed)
    progress, bounds, acc, budget, rnd = {}, {}, None, budget0, 0
    while True:
        p = dict(payload, bounds=bounds,
                 sync={"budget": budget, "progress": progress,
                       "round": rnd})
        outs = []
        pids = (sorted(parts) if rnd == 0 else
                sorted({x for mm in progress.values() for x in mm}))
        for pid in pids:
            by_term, norms = parts[pid]
            arrays = S._match_core_arrays(p, pid, {"": by_term},
                                          {"": (norms, None)})
            outs.append(S._empty_result() if arrays is None
                        else pd.DataFrame(arrays))
        pdf = pd.concat(outs, ignore_index=True)
        state = pdf[pdf["norm"] < 0]
        res = pdf[pdf["norm"] >= 0]
        acc = res if acc is None else pd.concat([acc, res],
                                                ignore_index=True)
        acc = (acc.sort_values(["qid", "score", "doc_id"],
                               ascending=[True, False, True])
               .groupby("qid", sort=False).head(k).reset_index(drop=True))
        bounds = {int(q): float(g["score"].min())
                  for q, g in acc.groupby("qid") if len(g) >= k}
        progress = {}
        for row in state.itertuples(index=False):
            b = bounds.get(int(row.qid))
            if b is None or float(row.score) >= b:
                progress.setdefault(int(row.qid), {})[int(row.doc_id)] \
                    = int(row.freq)
        if not progress:
            return acc, rnd + 1
        budget *= 2
        rnd += 1


def test_sync_decodes_less_on_skewed_hot_term(spark, sidx):
    """'the' has three dominating docs co-located in pid 1 while every
    other posting ties at tf=1 with one flat norm — local block-max can
    never skip (segment ub == k-th score), so the single-pass plan
    decodes the term's whole postings in pids 0/2/3.  The sync loop's
    round-0 global bound (from pid 1's monsters) kills those pairs
    before their second round: strictly fewer decoded bytes, identical
    rows."""
    batch = [(0, "the")]
    S.reset_decode_stats()
    single, _ = _run_sync_inprocess(sidx, batch, 3, spark, 10 ** 9)
    base = S.reset_decode_stats()
    synced, _ = _run_sync_inprocess(sidx, batch, 3, spark, 300)
    multi = S.reset_decode_stats()
    a = single.sort_values(["qid", "doc_id"]).reset_index(drop=True)
    b = synced.sort_values(["qid", "doc_id"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)
    assert multi["doc_bytes"] < base["doc_bytes"], (multi, base)


def test_sync_iterates_until_converged(spark, sidx):
    """A flat-tie term ('flat', tf=1 everywhere) never lets the bound
    skip anything — the loop must keep relaunching with doubling
    budgets until every partition exhausts, across >= 2 rounds, and
    still produce the single-pass rows."""
    batch = [(0, "flat")]
    single, _ = _run_sync_inprocess(sidx, batch, 5, spark, 10 ** 9)
    synced, rounds = _run_sync_inprocess(sidx, batch, 5, spark, 300)
    assert rounds >= 2, rounds
    a = single.sort_values(["qid", "doc_id"]).reset_index(drop=True)
    b = synced.sort_values(["qid", "doc_id"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_sync_disabled_at_k_1000(spark, sidx):
    """k >= 1000 must take the single-pass plan (reference behavior) —
    and still be correct."""
    base = (search(spark, sidx, [(0, "the")], k=1500).toPandas()
            .sort_values("doc_id").reset_index(drop=True))
    got = (search(spark, sidx, [(0, "the")], k=1500,
                  bound_probe="sync").toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(base, got)
