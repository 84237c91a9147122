"""MoreLikeThis — find documents similar to a given document.

``lucene/queries`` ``MoreLikeThis.java`` semantics: extract the source
doc's "interesting terms" — per-term score ``tf · idf`` with
``idf = ln((docCount + 1) / (docFreq + 1)) + 1`` (``ClassicSimilarity``,
the MLT default similarity), gated by ``min_term_freq`` /
``min_doc_freq`` / ``max_doc_freq`` / word-length bounds / stopwords —
keep the top ``max_query_terms``, and run them as one pure-SHOULD
BooleanQuery through the engine's BM25 search (the compound kernel:
bounded P·k exchange).

Determinism contract: term selection ties break term-asc, and the
boolean's clause list is sorted term-asc so the float score
accumulation has one documented order (Lucene's extraction order via
PriorityQueue is not contractual) — this is what lets a DuckDB oracle
reproduce the scores bit-exactly with an ordered ``list_reduce`` fold.

The source doc itself matches its own terms and normally ranks first;
callers exclude it when unwanted (``MoreLikeThis`` leaves this to the
caller too).
"""
from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pim_lucene_spark.manifest import IndexManifest
from pim_lucene_spark.sparkutil import local_empty


def interesting_terms(manifest: IndexManifest, texts: dict,
                      max_query_terms: int = 25, min_term_freq: int = 2,
                      min_doc_freq: int = 5, max_doc_freq: int | None = None,
                      min_word_len: int = 0, max_word_len: int = 0,
                      stop_words: set | None = None,
                      spark: SparkSession | None = None) -> dict:
    """Per query: the MLT term selection → ``{qid: [(term, tf·idf)]}``,
    score desc / term asc, top ``max_query_terms``.  ``texts`` maps
    ``qid -> raw text`` (analyzed with the index's tokenizer)."""
    from collections import Counter

    from pim_lucene_spark.functions.tokenize import tokenize_one
    from pim_lucene_spark.operators.search import term_doc_freqs

    tfs = {qid: Counter(tokenize_one(t or "", manifest.tokenizer))
           for qid, t in texts.items()}
    all_terms = sorted({t for c in tfs.values() for t in c})
    dfs = term_doc_freqs(spark, manifest, all_terms)
    n = manifest.doc_count
    out = {}
    for qid, cnt in tfs.items():
        rows = []
        for term, tf in cnt.items():
            df = dfs.get(term, 0)
            if tf < min_term_freq or df < min_doc_freq or df == 0:
                continue
            if max_doc_freq is not None and df > max_doc_freq:
                continue
            if min_word_len and len(term) < min_word_len:
                continue
            if max_word_len and len(term) > max_word_len:
                continue
            if stop_words and term in stop_words:
                continue
            idf = math.log((n + 1) / (df + 1)) + 1.0
            rows.append((term, tf * idf))
        rows.sort(key=lambda r: (-r[1], r[0]))
        out[qid] = rows[:max_query_terms]
    return out


def more_like_this(spark: SparkSession, index: IndexManifest | str,
                   docs: list[tuple[int, int]], k: int = 10,
                   max_query_terms: int = 25, min_term_freq: int = 2,
                   min_doc_freq: int = 5, max_doc_freq: int | None = None,
                   min_word_len: int = 0, max_word_len: int = 0,
                   stop_words: set | None = None, boost: bool = False,
                   precision: str = "float32") -> DataFrame:
    """Top-``k`` similar docs per source doc → (qid, doc_id, score).

    ``docs``: ``(qid, source_doc_id)`` pairs; each source's content is
    read off the index's own docs table (id-pushdown scan).  ``boost``
    mirrors ``MoreLikeThis.setBoost``: clause boosts scale by
    ``score/bestScore`` (off by default, the Lucene default).
    """
    from pim_lucene_spark.plans.boolean import BooleanQuery, search_boolean
    from pim_lucene_spark.plans.query import TermQuery

    manifest = IndexManifest.load(index) if isinstance(index, str) else index
    ids = sorted({d for _, d in docs})
    rows = (spark.read.parquet(manifest.docs_path)
            .filter(F.col("doc_id").isin(ids))
            .select("doc_id", "content").collect())
    text_of = {int(r["doc_id"]): r["content"] for r in rows}
    missing = [d for d in ids if d not in text_of]
    if missing:
        raise KeyError(f"doc ids not in the index docs table: {missing}")
    sel = interesting_terms(
        manifest, {qid: text_of[d] for qid, d in docs},
        max_query_terms=max_query_terms, min_term_freq=min_term_freq,
        min_doc_freq=min_doc_freq, max_doc_freq=max_doc_freq,
        min_word_len=min_word_len, max_word_len=max_word_len,
        stop_words=stop_words, spark=spark)
    queries = []
    for qid, _ in docs:
        terms = sel.get(qid) or []
        if not terms:
            continue
        if boost:
            best = terms[0][1]
            clauses = [TermQuery(t, boost=s / best)
                       for t, s in sorted(terms)]
        else:
            clauses = [t for t, _ in sorted(terms)]
        queries.append((qid, BooleanQuery(should=clauses)))
    if not queries:
        from pim_lucene_spark.plans.compound import COMPOUND_SCHEMA
        return local_empty(spark, COMPOUND_SCHEMA)
    return search_boolean(spark, manifest, queries, k=k,
                          precision=precision)
