"""Driver-side kernel fuzzing: thousands of randomized end-to-end cases
through the REAL build/search kernels (tokenize → encode → stripes →
segments → block-max/lazy-decode → UB cut → bound seeding) without Spark
job overhead, differentially checked against the pure-pandas model.

This is the high-volume complement to the Spark-path suites: the same
kernels Spark invokes (`encode_partition_postings`, `_match_core_arrays`) are
driven in-process, so a full random case costs milliseconds and edge
geometry (1-doc corpora, stripe_cap=1, empty docs, k=1, huge k, repeated
query terms, unicode) gets dense coverage.  Set ``FUZZ_CASES`` to crank
the budget (CI default 150).
"""

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from pim_lucene_spark.functions import bm25
from pim_lucene_spark.functions.smallfloat import (
    int_to_byte4,
    quantize_norm_inverse,
)
from pim_lucene_spark.functions.tokenize import token_counts, tokenize_to_codes
from pim_lucene_spark.model import BruteForceModel
from pim_lucene_spark.operators import search as S
from pim_lucene_spark.operators.index_build import (
    PA_POSTINGS_SCHEMA,
    encode_partition_postings,
)

VOCAB = np.array(["a", "b", "c", "aa", "ab", "ba", "zz", "w1", "w2",
                  "éé", "日本", "x", "the", "q"], dtype=object)


def _build_partitions(corpus: pd.DataFrame, P: int, segs: int,
                      stripe_cap: int):
    """The build kernel, driven directly: per-pid postings pdf + norms."""
    n_docs = len(corpus)
    nb_per_seg = -(-n_docs // segs)
    postings, norms = {}, {}
    for pid in range(P):
        part = corpus[corpus.doc_id % P == pid]
        if not len(part):
            continue
        rel = part.doc_id.to_numpy() // P
        counts = token_counts(part.content.reset_index(drop=True))
        blob = np.zeros(rel.max() + 1 if len(part) else 0, dtype=np.uint8)
        blob[rel] = int_to_byte4(counts).astype(np.uint8)
        norms[pid] = blob
        doc_idx, codes, pos, uniq = tokenize_to_codes(
            part.content.reset_index(drop=True))
        if codes.size == 0:
            continue
        tok_doc = part.doc_id.to_numpy()[doc_idx].astype(np.int64)
        order = np.lexsort((pos, tok_doc, codes))
        pdf = encode_partition_postings(
            pid, codes[order], tok_doc[order], pos[order], uniq,
            P, segs, nb_per_seg, stripe_cap)
        if len(pdf):
            postings[pid] = pdf
    return postings, norms


def _engine_search(corpus, queries, P, segs, stripe_cap, k, bounds=None):
    postings, norms = _build_partitions(corpus, P, segs, stripe_cap)
    toks = corpus.content.str.split()
    doc_count = len(corpus)
    sum_ttf = int(toks.str.len().sum())
    exploded = toks.explode().dropna()
    df_map = exploded.groupby(exploded.values).apply(
        lambda s: s.index.nunique())
    planned = []
    for qid, text in queries:
        terms = text.split()
        if not terms or any(t not in df_map.index for t in terms):
            continue
        dfs = np.array([int(df_map[t]) for t in terms])
        w = bm25.phrase_weight(dfs, doc_count, 1.0, "float32")
        planned.append((qid, tuple(terms), float(w)))
    if not planned:
        return pd.DataFrame(columns=["qid", "doc_id", "freq", "score"])
    avgdl = bm25.avg_field_length(sum_ttf, doc_count, "float32")
    payload = {
        "queries": planned, "k": int(k), "precision": "float32",
        "cache": bm25.score_cache(avgdl), "num_partitions": P,
        "num_segments": segs,
    }
    if bounds:
        payload["bounds"] = bounds
    terms = np.asarray(sorted({t for _, ts, _ in planned for t in ts}),
                       dtype=object)
    outs = []
    for pid, pdf in postings.items():
        res = S._ResidentPid(pid, pa.Table.from_pandas(
            pdf, schema=PA_POSTINGS_SCHEMA, preserve_index=False))
        arrays = S._match_core_arrays(payload, pid,
                                      {"": res.by_term(terms)},
                                      {"": (norms[pid], None)})
        outs.append(S._empty_result() if arrays is None
                    else pd.DataFrame(arrays))
    res = pd.concat(outs, ignore_index=True) if outs else pd.DataFrame(
        columns=["qid", "doc_id", "freq", "norm", "score"])
    return (res.sort_values(["qid", "score", "doc_id"],
                            ascending=[True, False, True])
            .groupby("qid", sort=True).head(k).reset_index(drop=True))


def _run_case(seed: int) -> None:
    rng = np.random.RandomState(seed)
    n_docs = rng.randint(1, 120)
    docs = []
    for _ in range(n_docs):
        if rng.rand() < 0.05:
            docs.append("")  # empty doc
        else:
            ln = rng.randint(1, 40)
            docs.append(" ".join(VOCAB[rng.randint(0, len(VOCAB), ln)]))
    corpus = pd.DataFrame({"doc_id": range(n_docs), "content": docs})
    P = rng.randint(1, 6)
    segs = rng.randint(1, 7)
    stripe_cap = int(rng.choice([1, 2, 3, 7, 1 << 17]))
    k = int(rng.choice([1, 2, 5, 37, 10 ** 6]))
    queries = []
    for qid in range(rng.randint(1, 8)):
        ln = rng.randint(1, 5)
        qv = list(VOCAB) + ["missing"]
        queries.append((qid, " ".join(
            qv[i] for i in rng.randint(0, len(qv), ln))))

    got = _engine_search(corpus, queries, P, segs, stripe_cap, k)
    model = BruteForceModel(corpus)
    for qid, text in queries:
        expected = model.search_phrase(text, k=k)
        sub = got[got.qid == qid]
        ctx = f"seed={seed} P={P} segs={segs} cap={stripe_cap} k={k} q={text!r}"
        assert sub.doc_id.tolist() == expected.doc_id.tolist(), ctx
        assert sub.freq.tolist() == expected.freq.tolist(), ctx
        np.testing.assert_array_equal(
            np.float32(sub.score.to_numpy()),
            np.float32(expected.score.to_numpy()), err_msg=ctx)

    # bound-broadcast: seed every kernel with the TRUE global k-th best
    # (the tightest admissible bound) — results must be identical
    bounds = {}
    for qid, _ in queries:
        sc = got[got.qid == qid].score.to_numpy()
        if sc.size >= k:
            bounds[qid] = float(np.float32(sc[k - 1]))
    if bounds:
        bounded = _engine_search(corpus, queries, P, segs, stripe_cap, k,
                                 bounds=bounds)
        pd.testing.assert_frame_equal(
            got.reset_index(drop=True), bounded.reset_index(drop=True),
            obj=f"bounded seed={seed}")


N_CASES = int(os.environ.get("FUZZ_CASES", "150"))


@pytest.mark.parametrize("block", range(10))
def test_fuzz_kernel_differential(block):
    per = max(N_CASES // 10, 1)
    for i in range(per):
        _run_case(1000 + block * per + i)
