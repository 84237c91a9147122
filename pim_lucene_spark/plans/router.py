"""Query routing — the engine's analogue of the reference's rewrite+fallback.

``PimPhraseQuery.rewrite`` keeps the PIM-offloaded query type only for
slop == 0 under BM25 similarity and otherwise falls back to the standard
Lucene ``PhraseQuery`` (``PimPhraseQuery.java:74-88``); at scorer time the
weight additionally falls back to CPU when the PIM system is not ready for
the current index generation (``PimPhraseWeight.java:70-121``).

Spark-native mapping:

- *indexed path*: the partitioned postings index + BM25 kernel
  (:mod:`pim_lucene_spark.operators.search`)
- *fallback path*: a brute-force DataFrame scan that tokenizes ``content``
  on the fly and position-matches in a pandas UDF — the same numbers as the
  index path, usable when no index exists for the snapshot, when slop > 0
  is requested (answered here with Lucene's sloppy-weight semantics, the
  exact contract of the reference's rewrite-to-PhraseQuery), or as a
  differential-testing oracle (the role of the CPU path in
  ``TestPimIndexSearcher.checkPhraseQuery``).
"""

from __future__ import annotations

import os
from enum import Enum

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pim_lucene_spark.manifest import IndexManifest
from pim_lucene_spark.operators.search import RESULT_SCHEMA, search


SLOPPY_RESULT_SCHEMA = T.StructType([
    T.StructField("qid", T.LongType(), False),
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("freq", T.DoubleType(), False),   # Σ 1/(1+matchLength)
    T.StructField("norm", T.IntegerType(), False),
    T.StructField("score", T.DoubleType(), False),
])

from pim_lucene_spark.functions.sloppy import sloppy_freqs_batch
from pim_lucene_spark.sparkutil import local_empty


class QueryRoute(Enum):
    INDEXED = "indexed"          # partitioned postings + BM25 kernel
    BRUTE_FORCE = "brute_force"  # full-scan DataFrame path


def route_query(index: IndexManifest | str | None, slop: int = 0) -> QueryRoute:
    """Decide the execution path (PimPhraseQuery.java:74-88 semantics).

    slop != 0 or a missing/incomplete index routes to brute force.
    """
    if slop != 0 or index is None:
        return QueryRoute.BRUTE_FORCE
    manifest = index
    if isinstance(index, str):
        if not os.path.exists(os.path.join(index, "manifest.json")):
            return QueryRoute.BRUTE_FORCE
        manifest = IndexManifest.load(index)
    if len(manifest.completed_chunks) != manifest.build_chunks:
        return QueryRoute.BRUTE_FORCE  # index generation not ready
    return QueryRoute.INDEXED


def brute_force_search(docs: DataFrame, queries: list[tuple[int, str]],
                       k: int | None = 10, content_col: str = "content",
                       id_col: str = "doc_id", tokenizer: str = "whitespace",
                       precision: str = "float32",
                       k1: float = 1.2, b: float = 0.75,
                       slop: int | dict[int, int] = 0,
                       exclude_ids: DataFrame | None = None) -> DataFrame:
    """Full-scan phrase BM25 (the CPU-fallback path, Q23).

    One distributed pass: global stats aggregates, then a mapInPandas
    match+score kernel per input split, then a global top-k window.  Same
    overlap-counting freq and float expression tree as the indexed path.

    ``slop > 0`` answers sloppy phrase queries the way the reference's
    rewrite contract promises (never an exception — ``PimPhraseQuery.java:
    74-88`` routes slop to a plain Lucene ``PhraseQuery``): phrase freq is
    ``Σ 1/(1 + matchLength)`` over the matches of Lucene's greedy pq
    traversal, including its repeating-terms handling (see
    :mod:`pim_lucene_spark.functions.sloppy`); the returned ``freq``
    column is DOUBLE.  ``slop`` may also be a ``{qid: slop}`` dict — a
    mixed batch (different slops, exact included) runs in this ONE scan;
    the result freq is DOUBLE whenever any query is sloppy.
    """
    from pim_lucene_spark.functions import bm25
    from pim_lucene_spark.functions.smallfloat import int_to_byte4
    from pim_lucene_spark.functions.tokenize import token_counts

    from pim_lucene_spark.operators.search import (
        _normalize_queries,
        _tokenize_queries_full,
    )

    spark = docs.sparkSession
    norm_q = _normalize_queries(queries)
    full = _tokenize_queries_full(norm_q, tokenizer)
    term_lists = {qid: (ts, boost) for qid, (ts, _, boost) in full.items()}
    # gapped PhraseQuery offsets (english analyzer internal stop words)
    gap_offsets = {qid: offs for qid, (ts, offs, _) in full.items()
                   if offs is not None}
    slops = (dict(slop) if isinstance(slop, dict)
             else {qid: int(slop) for qid, _, _ in norm_q})
    any_slop = any(slops.get(qid, 0) for qid, _, _ in norm_q)
    out_schema = SLOPPY_RESULT_SCHEMA if any_slop else RESULT_SCHEMA
    all_terms = sorted({t for ts, _ in term_lists.values() for t in ts})
    empty = local_empty(spark, out_schema)
    if not all_terms:
        return empty

    @F.pandas_udf(T.LongType())
    def tokcnt(content: pd.Series) -> pd.Series:
        return pd.Series(token_counts(content, tokenizer))

    base = docs.select(F.col(id_col).cast("long").alias("doc_id"),
                       F.col(content_col).alias("content")) \
               .withColumn("token_count", tokcnt(F.col("content")))
    base = base.persist()
    try:
        # collection + term stats in one scan each (Q2 without an index)
        row = base.agg(F.count("*").alias("n"),
                       F.sum("token_count").alias("s")).collect()[0]
        doc_count, sum_ttf = int(row["n"]), int(row["s"] or 0)
        if doc_count == 0:
            return empty

        # doc-freq with the SAME tokenizer kernel as the indexed path (a
        # JVM regex split diverges on non-ASCII whitespace and would break
        # this path's differential-oracle role)
        @F.pandas_udf(T.ArrayType(T.StringType()))
        def distinct_query_toks(content: pd.Series) -> pd.Series:
            from pim_lucene_spark.functions.tokenize import tokenize_to_codes
            wanted = set(all_terms)
            doc_idx, codes, _, uniques = tokenize_to_codes(content, tokenizer)
            out = [[] for _ in range(len(content))]
            keep = np.isin(uniques, list(wanted))
            for c in np.flatnonzero(keep):
                for d in np.unique(doc_idx[codes == c]):
                    out[d].append(uniques[c])
            return pd.Series(out)

        df_stats = (base.select(F.explode(
                        distinct_query_toks(F.col("content"))).alias("term"))
                    .groupBy("term").count().collect())
        doc_freq = {r["term"]: int(r["count"]) for r in df_stats}

        planned = []
        for qid, (terms, boost) in term_lists.items():
            if not terms or any(t not in doc_freq for t in terms):
                continue  # Q3 short-circuit
            dfs = np.array([doc_freq[t] for t in terms], dtype=np.int64)
            w = bm25.phrase_weight(dfs, doc_count, boost=boost,
                                   precision=precision)
            planned.append((qid, tuple(terms), float(w),
                            int(slops.get(qid, 0)),
                            gap_offsets.get(qid)))
        if not planned:
            return empty

        avgdl = bm25.avg_field_length(sum_ttf, doc_count, precision)
        cache = bm25.score_cache(avgdl, k1, b, precision)

        def kernel(pdf_iter):
            from pim_lucene_spark.functions.tokenize import tokenize_to_codes
            for pdf in pdf_iter:
                if not len(pdf):
                    continue
                doc_ids = pdf["doc_id"].to_numpy(np.int64)
                norms = int_to_byte4(
                    pdf["token_count"].to_numpy(np.int64)).astype(np.uint8)
                doc_idx, codes, pos, uniques = tokenize_to_codes(
                    pdf["content"], tokenizer)
                lookup = {t: i for i, t in enumerate(uniques)}
                out = []
                for qid, terms, weight, q_slop, offs in planned:
                    tcodes = [lookup.get(t, -1) for t in terms]
                    if any(c < 0 for c in tcodes):
                        continue
                    if q_slop:
                        uniq_rows, freq = sloppy_freqs_batch(
                            doc_idx, codes, pos, tcodes, q_slop)
                        if uniq_rows.size == 0:
                            continue
                    else:
                        # per-doc position sets per term via sorted keys;
                        # gapped query offsets (english internal stops)
                        # replace the consecutive shift
                        keys = None
                        for i, c in enumerate(tcodes):
                            m = codes == c
                            off = i if offs is None else offs[i]
                            kk = doc_idx[m] * (np.int64(1) << 32) + (pos[m] - off)
                            keys = kk if i == 0 else keys[
                                np.isin(keys, kk, assume_unique=False)]
                            if keys is None or keys.size == 0:
                                break
                        if keys is None or keys.size == 0:
                            continue
                        rows = (keys >> 32).astype(np.int64)
                        uniq_rows, freq = np.unique(rows, return_counts=True)
                    sc = bm25.score(freq, norms[uniq_rows], weight, cache,
                                    precision)
                    out.append(pd.DataFrame({
                        "qid": np.full(uniq_rows.size, qid, np.int64),
                        "doc_id": doc_ids[uniq_rows],
                        "freq": (freq.astype(np.float64) if any_slop
                                 else freq.astype(np.int64)),
                        "norm": norms[uniq_rows].astype(np.int32),
                        "score": np.asarray(sc, dtype=np.float64),
                    }))
                if out:
                    yield pd.concat(out, ignore_index=True)

        hits = base.mapInPandas(kernel, out_schema)
        if exclude_ids is not None:
            # live-docs exclusion AFTER match/stat computation (deleted
            # docs still count toward df/avgdl — Lucene's pre-merge
            # scoring semantics) but BEFORE the top-k window
            hits = (hits.join(exclude_ids.select("doc_id"), "doc_id",
                              "left_anti")
                    .select(*[f.name for f in out_schema.fields]))
        if k is None:
            # clause-frame consumers: every match, no per-qid global sort
            return hits
        w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
        return (hits.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k).drop("rank"))
    finally:
        base.unpersist()


def search_with_fallback(spark: SparkSession, index: IndexManifest | str | None,
                         docs: DataFrame | None, queries: list[tuple[int, str]],
                         k: int | None = 10, slop: int | dict[int, int] = 0,
                         precision: str = "float32",
                         sloppy_plan: str = "auto", **kw) -> DataFrame:
    """Route to the indexed kernel or the brute-force scan (Q1 + Q23).

    ``slop != 0`` never refuses — the reference's contract
    (``PimPhraseQuery.java:74-88`` rewrites slop to a plain Lucene
    ``PhraseQuery``).  A sloppy batch over a ready POSIX-visible index
    answers via the INDEX-hosted sloppy kernel
    (``plans/compound.py::search_sloppy_kernel``: postings pushdown +
    stored-position ``SloppyPhraseMatcher``, per-partition top-k) —
    bit-identical to the scan, without re-tokenizing the corpus; the
    scan remains for index-less calls, indexes whose build is not
    complete, an explicit docs frame or scan kwargs, and
    ``sloppy_plan='scan'``.  ``slop`` may be a ``{qid: slop}`` dict
    (mixed exact+sloppy batches run in one pass on either path).  When
    no docs frame is supplied the scan reads the index's own docs table.
    """
    if sloppy_plan not in ("auto", "kernel", "scan"):
        raise ValueError(f"unknown sloppy_plan {sloppy_plan!r}")
    any_slop = (any(slop.values()) if isinstance(slop, dict) else slop) or 0
    route = route_query(index, 1 if any_slop else 0)
    if route is QueryRoute.INDEXED:
        return search(spark, index, queries, k=k, precision=precision)
    if sloppy_plan == "kernel" and (index is None or docs is not None or kw):
        # never silently downgrade a forced plan: the kernel reads the
        # index's own corpus, so an explicit docs frame / scan kwargs
        # cannot be honored
        raise ValueError(
            "sloppy_plan='kernel' is incompatible with an explicit docs "
            "frame or scan-only kwargs (and needs an index); use "
            "sloppy_plan='auto' or drop them")
    # kernel route only when the caller did not hand us a scan-specific
    # setup (an explicit docs frame may differ from the index's corpus;
    # extra kwargs like exclude_ids/tokenizer are scan parameters)
    if any_slop and index is not None and docs is None and not kw \
            and sloppy_plan != "scan":
        from pim_lucene_spark.plans.compound import search_sloppy_kernel
        manifest = (IndexManifest.load(index) if isinstance(index, str)
                    else index)
        if len(manifest.completed_chunks) == manifest.build_chunks:
            return search_sloppy_kernel(spark, manifest, queries, k=k,
                                        slop=slop, precision=precision)
        if sloppy_plan == "kernel":
            raise ValueError("index build incomplete; the sloppy kernel "
                             "path needs every chunk built")
    if docs is None:
        if index is None:
            raise ValueError("brute-force route requires the docs DataFrame "
                             "or an index whose docs table it can scan")
        manifest = IndexManifest.load(index) if isinstance(index, str) else index
        docs = spark.read.parquet(manifest.docs_path)
        if manifest.delete_gen:
            # live-docs filter (Lucene semantics): deleted docs never
            # match, but collection/term stats still count them until a
            # merge purges — so the anti-join happens AFTER the scan
            # path computes its stats, via the kernel-level doc drop:
            # simplest correct form here is stats-from-full-docs then
            # result exclusion, which brute_force_search supports via
            # ``exclude_ids``
            from pim_lucene_spark.operators.deletes import deleted_ids
            kw.setdefault("exclude_ids", deleted_ids(spark, manifest))
        kw.setdefault("tokenizer", manifest.tokenizer)
        kw.setdefault("k1", manifest.k1)
        kw.setdefault("b", manifest.b)
    return brute_force_search(docs, queries, k=k, precision=precision,
                              slop=slop, **kw)
