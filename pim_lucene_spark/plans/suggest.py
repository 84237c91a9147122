"""Term suggestion + hit counting — the small IndexSearcher utilities.

- :func:`suggest_terms` — prefix autocomplete over the term dictionary,
  ranked by document frequency (Lucene's ``TermFreqIterator``-backed
  suggesters rank completions by weight = docFreq/totalTermFreq).  The
  dictionary IS the index's term-stats Parquet, so the whole operator is
  a pushed-down ``StringStartsWith`` scan + top-k — no postings touched,
  no Python in the plan.
- :func:`count_matches` — hit count per query with no scoring
  (``IndexSearcher.count``): term/phrase queries count matching docs via
  the engine's no-score match path; multi-term queries count the
  distinct-doc union of their expansion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pim_lucene_spark.manifest import IndexManifest


def suggest_terms(spark: SparkSession, index: IndexManifest | str,
                  prefix: str, k: int = 10,
                  by: str = "doc_freq") -> DataFrame:
    """Top-``k`` completions of ``prefix`` → (term, doc_freq, total_tf).

    Ranked ``by`` "doc_freq" or "total_tf" (desc), ties term asc.  The
    prefix filter reaches the Parquet scan as ``StringStartsWith``.
    """
    if by not in ("doc_freq", "total_tf"):
        raise ValueError("by must be 'doc_freq' or 'total_tf'")
    manifest = IndexManifest.load(index) if isinstance(index, str) else index
    stats = spark.read.parquet(manifest.stats_path)
    out = stats.filter(F.col("term").startswith(prefix))
    win = Window.orderBy(F.desc(by), F.asc("term"))
    return (out.withColumn("rank", F.row_number().over(win))
            .filter(F.col("rank") <= k).drop("rank")
            .select("term", "doc_freq", "total_tf"))


def suggest_terms_local(index: IndexManifest | str, prefix: str,
                        k: int = 10, by: str = "doc_freq"):
    """Serving-path suggester: the same completion list with NO Spark
    job — one pyarrow read of the stats dictionary with the prefix
    filter pushed down (row-group pruning on the sorted term column).
    Returns a pandas frame (term, doc_freq, total_tf); row-identical to
    :func:`suggest_terms` (differential-tested).  Autocomplete-as-you-
    type latency next to ``search_local``.
    """
    import pyarrow.parquet as pq

    if by not in ("doc_freq", "total_tf"):
        raise ValueError("by must be 'doc_freq' or 'total_tf'")
    manifest = IndexManifest.load(index) if isinstance(index, str) else index
    # closed prefix interval [prefix, prefix + MAX_CHAR): range predicates
    # prune row groups via the column's min/max stats
    hi = prefix + "\U0010FFFF"
    pdf = pq.read_table(
        manifest.stats_path,
        columns=["term", "doc_freq", "total_tf"],
        filters=[("term", ">=", prefix), ("term", "<", hi)]).to_pandas()
    pdf = pdf[pdf.term.str.startswith(prefix)]
    pdf = pdf.sort_values([by, "term"], ascending=[False, True],
                          kind="stable")
    return pdf.head(k).reset_index(drop=True)


def spell_suggest(index: IndexManifest | str,
                  terms: list[tuple[int, str]], num_sug: int = 5,
                  max_edits: int = 2, prefix_length: int = 1,
                  min_query_length: int = 4,
                  max_query_frequency: float = 0.01,
                  accuracy: float = 0.5,
                  suggest_mode: str = "not_in_index",
                  transpositions: bool = True):
    """Did-you-mean suggestions — ``DirectSpellChecker.java`` semantics,
    NO Spark job (the dictionary is the resident term-stats Parquet).

    Per ``(qid, term)``: candidates share the first ``prefix_length``
    chars (the error is never in the prefix — the FuzzyTermsEnum
    contract), sit within ``max_edits`` (OSA when ``transpositions``,
    plain Levenshtein otherwise), and rank by similarity
    ``1 − ed/min(len(term), len(cand))`` desc, then doc_freq desc, then
    term asc (``SuggestWordScoreComparator`` with a pinned string
    tiebreak).  Similarity is computed in float64 from the integer edit
    distance (Lucene emits the same value as float32; ≤1e-8 apart).

    Gates: queries shorter than ``min_query_length`` get nothing;
    candidates below ``accuracy`` similarity are suppressed (the
    DirectSpellChecker default 0.5); ``suggest_mode='not_in_index'``
    (the Lucene default) suggests only for absent terms;
    ``'more_popular'`` requires candidates strictly more frequent than
    the query term; ``'always'`` disables both.  Terms with docFreq
    above ``ceil(max_query_frequency·docCount)`` (a ratio when < 1,
    absolute otherwise — the Lucene ceil) are considered correct.

    Returns a pandas frame ``(qid, suggestion, sim, doc_freq)``.
    """
    import math

    import numpy as np
    import pandas as pd

    from pim_lucene_spark.operators.search import term_doc_freqs
    from pim_lucene_spark.plans.multiterm import _vec_edit_distances

    if suggest_mode not in ("not_in_index", "more_popular", "always"):
        raise ValueError(f"unknown suggest_mode {suggest_mode!r}")
    manifest = IndexManifest.load(index) if isinstance(index, str) else index
    qdfs = term_doc_freqs(None, manifest, sorted({t for _, t in terms}))
    mqf = (math.ceil(max_query_frequency * manifest.doc_count)
           if 0 < max_query_frequency < 1 else max_query_frequency)
    out = []
    for qid, term in terms:
        qdf = qdfs.get(term, 0)
        if len(term) < min_query_length:
            continue
        if suggest_mode == "not_in_index" and qdf > 0:
            continue
        if mqf and qdf > mqf:
            continue
        prefix = term[:prefix_length]
        cands, dfs = _spell_candidates(manifest, prefix, len(term),
                                       max_edits)
        if not cands:
            continue
        eds = _vec_edit_distances(
            [c[prefix_length:] for c in cands], term[prefix_length:],
            transpositions)
        rows = []
        for c, df, ed in zip(cands, dfs, eds):
            if ed == 0 or ed > max_edits:
                continue
            if suggest_mode == "more_popular" and df <= qdf:
                continue
            sim = 1.0 - float(ed) / min(len(c), len(term))
            if sim < accuracy:
                continue
            rows.append((c, sim, int(df)))
        rows.sort(key=lambda r: (-r[1], -r[2], r[0]))
        out.extend((qid, c, sim, df)
                   for c, sim, df in rows[:num_sug])
    return pd.DataFrame(out, columns=["qid", "suggestion", "sim",
                                      "doc_freq"]).astype(
        {"qid": np.int64, "suggestion": str, "sim": np.float64,
         "doc_freq": np.int64})


# candidate slices of the term dictionary, keyed by (index, prefix,
# length window) — resident like the fuzzy-expansion cache so a serving
# batch reads the stats Parquet once per distinct slice
_SPELL_CAND_CACHE: dict = {}


def _spell_candidates(manifest: IndexManifest, prefix: str, qlen: int,
                      max_edits: int):
    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    key = (manifest.build_id or manifest.index_dir, prefix, qlen,
           max_edits)
    hit = _SPELL_CAND_CACHE.get(key)
    if hit is not None:
        return hit
    filters = None
    if prefix:
        filters = [("term", ">=", prefix),
                   ("term", "<", prefix + "\U0010FFFF")]
    tbl = pq.read_table(manifest.stats_path,
                        columns=["term", "doc_freq"], filters=filters)
    col = tbl.column("term").combine_chunks()
    mask = pc.less_equal(
        pc.abs_checked(pc.subtract(pc.utf8_length(col), qlen)),
        max_edits)
    if prefix:
        mask = pc.and_(mask, pc.starts_with(col, prefix))
    cands = col.filter(mask).to_pylist()
    dfs = np.asarray(tbl.column("doc_freq").combine_chunks()
                     .filter(mask).to_pylist(), dtype=np.int64)
    if len(_SPELL_CAND_CACHE) > 4096:
        _SPELL_CAND_CACHE.clear()
    _SPELL_CAND_CACHE[key] = (cands, dfs)
    return cands, dfs


def count_matches(spark: SparkSession, index: IndexManifest | str,
                  queries: list[tuple[int, object]]) -> DataFrame:
    """Hit counts → (qid, n_hits) — ``IndexSearcher.count`` semantics.

    Entries are query texts (multi-token = phrase), typed
    ``PhraseQuery``/``TermQuery``, or multi-term queries.  Counting goes
    through the match paths with no norms or score work kept: term/
    phrase counts come from the engine search result frame, multi-term
    counts from the distinct-doc constant-score frame.  Queries with
    zero hits still appear (count 0).
    """
    from pim_lucene_spark.operators.search import search
    from pim_lucene_spark.plans.boolean import BooleanQuery
    from pim_lucene_spark.plans.dismax import DisMaxQuery
    from pim_lucene_spark.plans.multiterm import (MultiTermQueryT,
                                                  search_multiterm)
    from pim_lucene_spark.plans.query import (IntervalQuery, SynonymQuery,
                                              to_tuple)
    from pim_lucene_spark.plans.router import search_with_fallback

    manifest = IndexManifest.load(index) if isinstance(index, str) else index
    plain, multi, sloppy, slops, compound = [], [], [], {}, []
    for qid, q in queries:
        if isinstance(q, (SynonymQuery, IntervalQuery)):
            # count via the compound kernel like every other entry point
            compound.append((qid, BooleanQuery(must=[q])))
        elif isinstance(q, (BooleanQuery, DisMaxQuery)):
            compound.append((qid, q))
        elif isinstance(q, MultiTermQueryT):
            multi.append((qid, q))
        elif int(getattr(q, "slop", 0)) != 0:
            # sloppy phrases count via the scan path — the exact-match
            # path would silently undercount them
            sloppy.append((qid, q.text, float(getattr(q, "boost", 1.0))))
            slops[int(qid)] = int(q.slop)
        else:
            plain.append((qid, q))
    parts = []
    if plain:
        res = search(spark, manifest,
                     [to_tuple(qid, q) for qid, q in plain], k=None)
        parts.append(res.groupBy("qid")
                     .agg(F.count("*").alias("n_hits")))
    if multi:
        res = search_multiterm(spark, manifest, multi, k=None,
                               rewrite="constant_score")
        parts.append(res.groupBy("qid")
                     .agg(F.count("*").alias("n_hits")))
    if sloppy:
        res = search_with_fallback(spark, manifest, None, sloppy,
                                   k=None, slop=slops)
        parts.append(res.groupBy("qid")
                     .agg(F.count("*").alias("n_hits")))
    if compound:
        # boolean/dismax count via the count-only compound kernel: one
        # long per query per pid leaves the partitions
        from pim_lucene_spark.plans.compound import count_compound
        counts = count_compound(spark, {"": manifest}, "", compound)
        parts.append(spark.createDataFrame(
            [(int(q), int(n)) for q, n in counts.items()],
            "qid long, n_hits long"))
    all_qids = spark.createDataFrame([(int(q),) for q, _ in queries],
                                     "qid long")
    out = parts[0] if parts else None
    for p in parts[1:]:
        out = out.unionByName(p)
    if out is None:
        return all_qids.select("qid", F.lit(0).cast("long").alias("n_hits"))
    return (all_qids.join(out, "qid", "left")
            .select("qid", F.coalesce("n_hits", F.lit(0))
                    .cast("long").alias("n_hits")))
