"""Seeded benchmark inputs: corpora and query sequences.

Everything here is a pure function of the workload seed.  The program
under test receives only what these functions produce: a corpus written
as Parquet by ``pim_lucene_spark.corpus.generate_corpus`` and lists of
query texts drawn from the built index's own term statistics.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np

# Query shape mix (share of single terms, two-term and three-term phrases).
SHAPES = ((1, 0.4), (2, 0.4), (3, 0.2))

# Term ranks order the index's terms by (doc_freq desc, term asc), as
# scripts/bench_500k_r07.py ranks them; queries draw rank r with
# P(r) ~ 1 / (r + 1), so the head terms with long postings lists
# dominate, as in real query logs.


def sub_seed(seed: int, tag: str) -> int:
    """A 32-bit seed derived from the workload seed and a purpose tag."""
    h = hashlib.sha256(f"{seed}:{tag}".encode()).digest()
    return int.from_bytes(h[:4], "little")


def write_corpus(path: str, num_docs: int, seed: int, sizes: dict) -> dict:
    """Generate and write one corpus; returns its input description:
    path, doc count, Parquet bytes and an order-independent digest of
    ``(doc_id, content)``.

    The rows are those ``pim_lucene_spark.corpus.generate_corpus`` yields
    for the same arguments: it maps ``_gen_batch`` over ranges of doc
    ids, and this calls that function on the same ranges in-process, so
    making the input launches no Spark job.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pim_lucene_spark import corpus

    vocab = corpus._vocab(sizes["vocab"])
    cdf = corpus._zipf_cdf(sizes["vocab"])
    schema = pa.schema([(f.name, pa.int64() if f.name == "doc_id"
                         else pa.string(), f.nullable)
                        for f in corpus.CORPUS_SCHEMA.fields])
    os.makedirs(path)
    for i, ids in enumerate(np.array_split(
            np.arange(num_docs, dtype=np.int64), sizes["corpus_files"])):
        pdf = corpus._gen_batch(ids, seed, vocab, cdf, sizes["min_tokens"],
                                sizes["max_tokens"])
        pq.write_table(pa.Table.from_pandas(pdf, schema=schema,
                                            preserve_index=False),
                       os.path.join(path, f"part-{i:05d}.parquet"))
    return {"path": path, **describe_corpus(path)}


def describe_corpus(path: str) -> dict:
    import pandas as pd
    import pyarrow.parquet as pq
    df = pq.read_table(path, columns=["doc_id", "content"]).to_pandas()
    h = np.bitwise_xor.reduce(
        pd.util.hash_pandas_object(df, index=False).to_numpy())
    return {"docs": len(df), "bytes": dir_bytes(path),
            "digest": f"{int(h):016x}"}


def dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (Spark's ``.crc`` and
    ``_SUCCESS`` side files excluded)."""
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, f))
    return total


def ranked_terms(manifest) -> tuple[list[str], dict]:
    """The index's terms in rank order and their doc_freq."""
    import pyarrow.parquet as pq
    st = pq.read_table(manifest.stats_path,
                       columns=["term", "doc_freq"]).to_pandas()
    st = st.sort_values(["doc_freq", "term"], ascending=[False, True])
    return st["term"].tolist(), dict(zip(st["term"],
                                         st["doc_freq"].astype(int)))


def sum_df(texts, df: dict) -> int:
    """Postings volume of a query set: Σ doc_freq over its terms, each
    counted once (the figure the search route choice is made on)."""
    return sum(df.get(w, 0) for w in {w for t in texts for w in t.split()})


class QueryGen:
    """Draws term/phrase query texts for one seed.

    Draws are stratified: a set of ``n`` queries holds the shape mix in
    exact proportions, and its term ranks are one draw from each of
    equal-probability slices of the rank distribution, shuffled.  The
    seed then picks the instance (corpus terms, order, exact ranks)
    while every seed sees the same mix, which keeps run-to-run spread
    down to what the program does.
    """

    def __init__(self, terms: list[str], seed: int, tag: str):
        self.terms = terms
        self.rng = np.random.default_rng(sub_seed(seed, tag))
        w = 1.0 / np.arange(1, len(terms) + 1, dtype=np.float64)
        self.p = w / w.sum()
        self.cdf = np.cumsum(self.p)

    def _lengths(self, n: int) -> np.ndarray:
        counts = [int(round(n * share)) for _, share in SHAPES]
        counts[0] += n - sum(counts)
        lens = np.repeat([length for length, _ in SHAPES], counts)
        return self.rng.permutation(lens)

    def _ranks(self, n: int) -> np.ndarray:
        u = (np.arange(n) + self.rng.random(n)) / n
        ranks = np.searchsorted(self.cdf, u * self.cdf[-1], side="right")
        return self.rng.permutation(np.minimum(ranks, len(self.terms) - 1))

    def texts(self, n: int) -> list[str]:
        lens = self._lengths(n)
        ranks = iter(self._ranks(int(lens.sum())))
        return [" ".join(self.terms[next(ranks)] for _ in range(length))
                for length in lens]

    def fresh_texts(self, n: int, used: set[str]) -> list[str]:
        """``n`` queries whose terms appear in no other returned query
        and not in ``used`` (first-touch reads for a fresh server)."""
        # weighted sampling without replacement (Gumbel top-k)
        with np.errstate(divide="ignore"):
            keys = np.log(self.p) + self.rng.gumbel(size=self.p.size)
        order = np.argsort(-keys, kind="stable")
        it = (self.terms[r] for r in order if self.terms[r] not in used)
        out = []
        for length in self._lengths(n):
            words = [next(it) for _ in range(length)]
            used.update(words)
            out.append(" ".join(words))
        return [out[i] for i in self.rng.permutation(n)]

    def boolean_clauses(self, n: int) -> list[dict]:
        """Clause texts for ``n`` BooleanQuery: each has a MUST clause,
        two SHOULD clauses (a term and a query of any shape) and, for
        every other query, a MUST_NOT term."""
        must = self.texts(n)
        should_a = [t.split()[0] for t in self.texts(n)]
        should_b = self.texts(n)
        must_not = [t.split()[0] for t in self.texts(n)]
        return [{"must": [must[i]], "should": [should_a[i], should_b[i]],
                 "must_not": [must_not[i]] if i % 2 else []}
                for i in range(n)]


def digest(obj) -> str:
    return hashlib.sha256(json.dumps(obj, sort_keys=True).encode()
                          ).hexdigest()[:16]
