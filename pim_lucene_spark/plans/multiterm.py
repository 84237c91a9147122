"""Multi-term queries — Prefix / Wildcard / TermRange / Regexp / Fuzzy.

Lucene's ``MultiTermQuery`` family expands a pattern against the term
dictionary, then rewrites to either a constant-score filter or a boolean
disjunction of term queries (``MultiTermQuery.java:40-120``).  The
Spark-first re-expression uses the index's term-stats Parquet as the term
dictionary:

- **Expansion is a pushed-down dictionary scan.**  Prefix patterns become
  ``StringStartsWith`` Parquet pushdown; ranges become min/max row-group
  pruning; wildcards/regexps push their literal prefix and evaluate the
  compiled regex JVM-side (``rlike``); fuzzy pushes the exact-prefix +
  length-window prefilter and evaluates Levenshtein JVM-side
  (``F.levenshtein``), never per-row Python.
- **``constant_score`` (Lucene's default rewrite) is fully distributed**:
  the matched-term frame joins the postings directly (no driver term
  list), doc ids are decoded per posting row in one Arrow pass with no
  scoring, norms, or positions — the analogue of Lucene building a
  bitset from the postings of every matched term.  Scales to unbounded
  expansions (a one-letter prefix over a 100 M-term dictionary stays a
  join + map, never a ``collect``).
- **``scoring_boolean`` collects the expansion** (Lucene semantics cap it
  at ``IndexSearcher.maxClauseCount`` = 1024 — ``TooManyClauses`` is the
  reference behavior, raised here as ``ValueError``), then composes the
  per-doc sum over the expanded term clauses in expansion order inside
  the compound kernel (``plans/compound.py``).

Fuzzy semantics pin to ``FuzzyTermsEnum.java:239-256``: per-term boost
``ed == 0 ? 1 : 1 - ed / min(|term|, |query|)`` (code points, float32),
top ``maxExpansions`` terms by (boost desc, term asc) — the
``TopTermsRewrite.ScoreTerm`` priority order (``TopTermsRewrite.java:
199-213``) — then a scoring-boolean over the survivors
(``TopTermsScoringBooleanQueryRewrite``; the blended-freq stats variant
is not modeled).  ``transpositions=True`` (the Lucene default) counts a
transposition as one edit (optimal-string-alignment distance, the
automaton's accept set); the exact OSA distance is computed in Python
only over the JVM-prefiltered candidates (``lev ≤ 2·maxEdits`` — sound
because one transposition costs two classic edits, so ``osa ≤ k`` ⟹
``lev ≤ 2k``).  ``prefix_length`` requires those code points to match
exactly and measures distance over the suffixes
(``FuzzyQuery.java:84-126``).

Patterns are NOT analyzed (Lucene multi-term queries match raw index
terms) — pass lowercase patterns against a ``standard``-analyzed index.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pim_lucene_spark.manifest import IndexManifest
from pim_lucene_spark.sparkutil import (cached_parquet, local_empty,
                                        manifest_scan_key)

#: Lucene IndexSearcher.maxClauseCount default — scoring rewrites of a
#: larger expansion throw TooManyClauses (IndexSearcher.java).
MAX_CLAUSE_COUNT = 1024

MT_RESULT_SCHEMA = T.StructType([
    T.StructField("qid", T.LongType(), False),
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("score", T.DoubleType(), False),
])


@dataclass(frozen=True)
class PrefixQuery:
    prefix: str
    boost: float = 1.0


@dataclass(frozen=True)
class WildcardQuery:
    """``*`` = any run, ``?`` = one char, ``\\`` escapes (WildcardQuery.java)."""
    pattern: str
    boost: float = 1.0


@dataclass(frozen=True)
class TermRangeQuery:
    lower: str | None
    upper: str | None
    include_lower: bool = True
    include_upper: bool = True
    boost: float = 1.0


@dataclass(frozen=True)
class RegexpQuery:
    """Anchored regexp over whole terms (RegexpQuery.java matches the
    full term).  Java-regex syntax subset shared with RE2."""
    regexp: str
    boost: float = 1.0


@dataclass(frozen=True)
class FuzzyQuery:
    term: str
    max_edits: int = 2
    prefix_length: int = 0
    max_expansions: int = 50
    transpositions: bool = True
    boost: float = 1.0

    def __post_init__(self):
        if not 0 <= self.max_edits <= 2:
            raise ValueError("max_edits must be in [0, 2] "
                             "(LevenshteinAutomata.MAXIMUM_SUPPORTED_DISTANCE)")
        if self.max_expansions <= 0:
            raise ValueError("maxExpansions must be positive")


MultiTermQueryT = (PrefixQuery, WildcardQuery, TermRangeQuery,
                   RegexpQuery, FuzzyQuery)


def wildcard_to_regex(pattern: str) -> str:
    """Lucene wildcard → anchored regex (WildcardQuery.toAutomaton)."""
    out, i = [], 0
    while i < len(pattern):
        c = pattern[i]
        if c == "\\" and i + 1 < len(pattern):
            out.append(re.escape(pattern[i + 1]))
            i += 2
            continue
        if c == "*":
            out.append(".*")
        elif c == "?":
            out.append(".")
        else:
            out.append(re.escape(c))
        i += 1
    return "".join(out)


def _wildcard_literal_prefix(pattern: str) -> str:
    """Chars before the first unescaped wildcard — Parquet pushdown key."""
    out, i = [], 0
    while i < len(pattern):
        c = pattern[i]
        if c == "\\" and i + 1 < len(pattern):
            out.append(pattern[i + 1])
            i += 2
            continue
        if c in "*?":
            break
        out.append(c)
        i += 1
    return "".join(out)


def osa_distance(a: str, b: str, cap: int | None = None) -> int:
    """Optimal-string-alignment distance (transposition = 1 edit) — the
    accept set of Lucene's ``transpositions=true`` Levenshtein automata."""
    la, lb = len(a), len(b)
    if cap is not None and abs(la - lb) > cap:
        return cap + 1
    prev2, prev = None, list(range(lb + 1))
    for i in range(1, la + 1):
        cur = [i] + [0] * lb
        for j in range(1, lb + 1):
            cost = 0 if a[i - 1] == b[j - 1] else 1
            d = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + cost)
            if (i > 1 and j > 1 and a[i - 1] == b[j - 2]
                    and a[i - 2] == b[j - 1]):
                d = min(d, prev2[j - 2] + 1)
            cur[j] = d
        prev2, prev = prev, cur
    return prev[lb]


def _term_dict(spark: SparkSession, manifest: IndexManifest) -> DataFrame:
    return spark.read.parquet(manifest.stats_path).select("term")


def _vec_edit_distances(cands: list[str], query: str,
                        transpositions: bool) -> np.ndarray:
    """Exact Levenshtein (or OSA when ``transpositions``) distances from
    ``query`` to every candidate, vectorized across candidates: terms
    group by length, each group encodes to a codepoint matrix in one
    ``utf-32`` pass (no per-char Python), and the DP rows run as numpy
    column ops — O(|q|·L) vector steps per length group.  Bit-equal to
    the scalar :func:`osa_distance` / classic Levenshtein."""
    out = np.empty(len(cands), dtype=np.int64)
    q = np.frombuffer(query.encode("utf-32-le"), dtype=np.uint32)
    m = q.size
    by_len: dict[int, list[int]] = {}
    for i, t in enumerate(cands):
        by_len.setdefault(len(t), []).append(i)
    for L, idxs in by_len.items():
        n = len(idxs)
        if L == 0:
            out[idxs] = m
            continue
        arr = np.frombuffer("".join(cands[i] for i in idxs)
                            .encode("utf-32-le"),
                            dtype=np.uint32).reshape(n, L)
        prev = np.broadcast_to(np.arange(L + 1, dtype=np.int64),
                               (n, L + 1)).copy()
        prev2 = None
        for i in range(1, m + 1):
            cur = np.empty((n, L + 1), dtype=np.int64)
            cur[:, 0] = i
            for j in range(1, L + 1):
                cost = (arr[:, j - 1] != q[i - 1]).astype(np.int64)
                d = np.minimum(prev[:, j] + 1, cur[:, j - 1] + 1)
                d = np.minimum(d, prev[:, j - 1] + cost)
                if transpositions and i > 1 and j > 1:
                    tr = (arr[:, j - 2] == q[i - 1]) \
                        & (arr[:, j - 1] == q[i - 2])
                    d = np.where(tr, np.minimum(d, prev2[:, j - 2] + 1), d)
                cur[:, j] = d
            prev2, prev = prev, cur
        out[idxs] = prev[:, L]
    return out


_LOCAL_FUZZY_CACHE: dict = {}


def expand_fuzzy_local(manifest: IndexManifest,
                       q: FuzzyQuery) -> list[tuple[str, float]]:
    """:func:`expand_fuzzy` with NO Spark job — the serving path's fuzzy
    expansion: pyarrow prefix+length pushdown over the term-stats
    Parquet (the resident term dictionary that already serves
    ``suggest_terms_local``), vectorized edit distances, identical
    (term, boost) output (differential-tested).  Expansions cache per
    (build, query) — a serving replay expands each distinct fuzzy term
    once."""
    key = (manifest.build_id or manifest.index_dir, q)
    hit = _LOCAL_FUZZY_CACHE.get(key)
    if hit is not None:
        return hit
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    prefix = q.term[:q.prefix_length]
    suffix_q = q.term[q.prefix_length:]
    k = q.max_edits
    filters = None
    if prefix:
        filters = [("term", ">=", prefix),
                   ("term", "<", prefix + "\U0010FFFF")]
    col = pq.read_table(manifest.stats_path, columns=["term"],
                        filters=filters).column("term").combine_chunks()
    ln = pc.utf8_length(col)
    qlen = len(q.term)
    mask = pc.less_equal(pc.abs_checked(pc.subtract(ln, qlen)), k)
    if prefix:  # row-group pushdown is coarse; exact prefix re-check
        mask = pc.and_(mask, pc.starts_with(col, prefix))
    cands = col.filter(mask).to_pylist()
    if not cands:
        _LOCAL_FUZZY_CACHE[key] = []
        return []
    eds = _vec_edit_distances([t[q.prefix_length:] for t in cands],
                              suffix_q, q.transpositions)
    scored: list[tuple[str, float]] = []
    for term, ed in zip(cands, eds):
        if ed > k:
            continue
        if ed == 0:
            boost = 1.0
        else:
            min_len = min(len(term), qlen)
            boost = float(np.float32(1.0)
                          - np.float32(ed) / np.float32(min_len))
        scored.append((term, boost))
    scored.sort(key=lambda tb: (-tb[1], tb[0]))
    out = scored[:q.max_expansions]
    if len(_LOCAL_FUZZY_CACHE) > 4096:
        _LOCAL_FUZZY_CACHE.clear()
    _LOCAL_FUZZY_CACHE[key] = out
    return out


def expand_frame(spark: SparkSession, manifest: IndexManifest,
                 q) -> DataFrame:
    """Matched-terms DataFrame(term) — pushdown-friendly, never collected.

    Fuzzy is excluded (its top-N selection is inherently driver-side);
    use :func:`expand_fuzzy`.
    """
    terms = _term_dict(spark, manifest)
    if isinstance(q, PrefixQuery):
        # StringStartsWith reaches the Parquet scan (PushedFilters)
        return terms.filter(F.col("term").startswith(q.prefix))
    if isinstance(q, WildcardQuery):
        rx = "^" + wildcard_to_regex(q.pattern) + "$"
        lit = _wildcard_literal_prefix(q.pattern)
        out = terms
        if lit:
            out = out.filter(F.col("term").startswith(lit))
        return out.filter(F.col("term").rlike(rx))
    if isinstance(q, RegexpQuery):
        return terms.filter(F.col("term").rlike("^" + q.regexp + "$"))
    if isinstance(q, TermRangeQuery):
        out = terms
        if q.lower is not None:
            op = F.col("term") >= q.lower if q.include_lower \
                else F.col("term") > q.lower
            out = out.filter(op)
        if q.upper is not None:
            op = F.col("term") <= q.upper if q.include_upper \
                else F.col("term") < q.upper
            out = out.filter(op)
        return out
    raise TypeError(f"not a frame-expandable multi-term query: {q!r}")


def expand_fuzzy(spark: SparkSession, manifest: IndexManifest,
                 q: FuzzyQuery) -> list[tuple[str, float]]:
    """Top-``max_expansions`` fuzzy terms with their Lucene boosts.

    JVM prefilter (prefix pushdown + length window + classic Levenshtein
    with early-exit threshold) bounds the rows that reach the driver;
    the exact OSA pass runs only on those survivors.
    """
    qterm = q.term
    prefix, suffix_q = qterm[:q.prefix_length], qterm[q.prefix_length:]
    k = q.max_edits
    terms = _term_dict(spark, manifest)
    if prefix:
        terms = terms.filter(F.col("term").startswith(prefix))
    qlen = len(qterm)
    terms = terms.filter(
        F.abs(F.length("term") - F.lit(qlen)) <= k)
    suffix_col = F.expr(f"substring(term, {q.prefix_length + 1})")
    # classic lev is an upper bound on OSA ⟹ sound prefilter at 2k for
    # the transpositions automaton; exact filter when transpositions off
    lev_cap = k if not q.transpositions else 2 * k
    # thresholded levenshtein returns -1 past the cap (early exit)
    dist = F.levenshtein(suffix_col, F.lit(suffix_q), lev_cap)
    cand = (terms.withColumn("lev", dist)
            .filter(F.col("lev").between(0, lev_cap))
            .select("term", "lev").collect())
    qlen_cp = len(qterm)
    scored: list[tuple[str, float]] = []
    for row in cand:
        term = row["term"]
        if q.transpositions:
            ed = osa_distance(term[q.prefix_length:], suffix_q, cap=k)
            if ed > k:
                continue
        else:
            ed = int(row["lev"])
        if ed == 0:
            boost = 1.0
        else:
            min_len = min(len(term), qlen_cp)
            boost = float(np.float32(1.0)
                          - np.float32(ed) / np.float32(min_len))
        scored.append((term, boost))
    # ScoreTerm order: boost desc, term asc (TopTermsRewrite.java:209-212)
    scored.sort(key=lambda tb: (-tb[1], tb[0]))
    return scored[:q.max_expansions]


def expand_const_local(manifest: IndexManifest, q) -> list[str]:
    """Driver-side expansion of a non-fuzzy multi-term query against the
    term-stats Parquet (pyarrow pushdown, no Spark job) for the compound
    kernel's constant-score hosting: every matched term, sorted.  No
    clause cap applies (Lucene's constant-score rewrite is a doc-id set
    union); the kernel folds wide expansions in slices.  Cached per
    (build, query) — repeated clauses share one read."""
    key = (manifest.build_id or manifest.index_dir, q)
    if key in _LOCAL_FUZZY_CACHE:
        return _LOCAL_FUZZY_CACHE[key]
    import re as _re

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    prefix, rx = "", None
    if isinstance(q, PrefixQuery):
        prefix = q.prefix
    elif isinstance(q, WildcardQuery):
        prefix = _wildcard_literal_prefix(q.pattern)
        rx = _re.compile(wildcard_to_regex(q.pattern) + r"\Z")
    elif isinstance(q, RegexpQuery):
        rx = _re.compile(q.regexp + r"\Z")
    elif isinstance(q, TermRangeQuery):
        pass
    else:
        raise TypeError(f"not a constant-score multi-term query: {q!r}")
    filters = []
    if prefix:
        filters = [("term", ">=", prefix),
                   ("term", "<", prefix + "\U0010FFFF")]
    if isinstance(q, TermRangeQuery):
        if q.lower is not None:
            filters.append(("term", ">=" if q.include_lower else ">",
                            q.lower))
        if q.upper is not None:
            filters.append(("term", "<=" if q.include_upper else "<",
                            q.upper))
    col = pq.read_table(manifest.stats_path, columns=["term"],
                        filters=filters or None).column("term")
    if prefix:  # row-group pushdown is coarse; exact re-check
        col = col.filter(pc.starts_with(col, prefix))
    terms = col.to_pylist()
    if rx is not None:
        terms = [t for t in terms if rx.match(t)]
    out = sorted(terms)
    if len(_LOCAL_FUZZY_CACHE) > 4096:
        _LOCAL_FUZZY_CACHE.clear()
    _LOCAL_FUZZY_CACHE[key] = out
    return out


def expand_terms(spark: SparkSession, manifest: IndexManifest, q,
                 max_clause_count: int = MAX_CLAUSE_COUNT
                 ) -> list[tuple[str, float]]:
    """Driver-side expansion for scoring rewrites: sorted (term, boost).

    Raises ``ValueError`` (Lucene ``TooManyClauses``) past
    ``max_clause_count`` — the reference's guard against unbounded
    boolean rewrites; use ``constant_score`` for wide patterns.
    """
    if isinstance(q, FuzzyQuery):
        # a driver-visible term dictionary expands locally (pyarrow
        # pushdown, identical output — differential-tested): a batch of
        # fuzzy clauses costs milliseconds instead of one Spark job
        # per clause
        if os.path.exists(manifest.stats_path):
            out = expand_fuzzy_local(manifest, q)
        else:
            out = expand_fuzzy(spark, manifest, q)
    else:
        rows = (expand_frame(spark, manifest, q)
                .limit(max_clause_count + 1).collect())
        out = sorted((r["term"], 1.0) for r in rows)
    if len(out) > max_clause_count:
        raise ValueError(
            f"TooManyClauses: expansion exceeds {max_clause_count} terms; "
            f"use rewrite='constant_score'")
    return out


def _decode_doc_ids_kernel(P: int, deletes_path: str | None = None,
                           rel_span: int = 0):
    """Arrow batch map: posting rows → (qid, doc_id) with no scoring.

    Per row: varint-decode doc gaps, prefix-sum within each segment
    (delta chain resets at segment starts), map relative → global via
    ``rel * P + pid`` — the round-robin routing inverse.  With a delete
    vector, each pid's live mask filters decoded docs (lazily read once
    per pid per task).
    """
    from pim_lucene_spark.functions.postings import (decode_uvarints,
                                                     segmented_cumsum)
    from pim_lucene_spark.operators.deletes import live_mask_for

    def fn(batches):
        live_by_pid: dict[int, np.ndarray | None] = {}
        for batch in batches:
            qids = batch.column("qid").to_pylist()
            pids = batch.column("pid").to_pylist()
            blobs = batch.column("doc_blob").to_pylist()
            segs = batch.column("seg_doc_counts").to_pylist()
            out_q, out_d = [], []
            for qid, pid, blob, seg_counts in zip(qids, pids, blobs, segs):
                gaps = decode_uvarints(blob).astype(np.int64)
                if gaps.size == 0:
                    continue
                counts = np.asarray(seg_counts, dtype=np.int64)
                starts = np.concatenate(
                    [[0], np.cumsum(counts[:-1])])[counts > 0]
                rel = segmented_cumsum(gaps, starts)
                if deletes_path is not None:
                    if pid not in live_by_pid:
                        live_by_pid[pid] = live_mask_for(
                            deletes_path, int(pid), P, rel_span)
                    lv = live_by_pid[pid]
                    if lv is not None:
                        rel = rel[lv[rel]]
                        if rel.size == 0:
                            continue
                out_q.append(np.full(rel.size, qid, dtype=np.int64))
                out_d.append(rel * P + pid)
            if out_q:
                yield pa.RecordBatch.from_pydict({
                    "qid": np.concatenate(out_q),
                    "doc_id": np.concatenate(out_d)})

    return fn


def search_multiterm(spark: SparkSession, index: IndexManifest | str,
                     queries: list[tuple[int, object]], k: int | None = 10,
                     rewrite: str = "constant_score",
                     precision: str = "float32") -> DataFrame:
    """Batched multi-term search → DataFrame(qid, doc_id, score).

    ``k=None`` returns every matching doc with no top-k window.

    ``rewrite='constant_score'``: every matching doc scores the query
    boost; ties (all of them) break doc-id asc.  Fully distributed —
    matched terms join the postings, doc ids decode in one Arrow map
    stage, ``distinct`` is the only shuffle.  FuzzyQuery still selects
    its top-N terms driver-side (inherent to its semantics).

    ``rewrite='scoring_boolean'``: BM25 per expanded term, the per-doc
    sum folded in expansion order inside the compound kernel (one
    pure-SHOULD boolean per query; deterministic float association at
    both precisions).
    """
    manifest = IndexManifest.load(index) if isinstance(index, str) else index
    empty = local_empty(spark, MT_RESULT_SCHEMA)
    if not queries:
        return empty
    if rewrite == "scoring_boolean":
        return _search_scoring(spark, manifest, queries, k, precision)
    if rewrite != "constant_score":
        raise ValueError(f"unknown rewrite {rewrite!r}")

    frames = []
    boosts = {}
    for qid, q in queries:
        boosts[int(qid)] = float(getattr(q, "boost", 1.0))
        if isinstance(q, FuzzyQuery):
            if os.path.exists(manifest.stats_path):  # local dictionary
                pairs = expand_fuzzy_local(manifest, q)
            else:
                pairs = expand_fuzzy(spark, manifest, q)
            if not pairs:
                continue
            frames.append(spark.createDataFrame(
                [(int(qid), t) for t, _ in pairs], "qid long, term string"))
        else:
            frames.append(expand_frame(spark, manifest, q)
                          .select(F.lit(int(qid)).cast("long").alias("qid"),
                                  "term"))
    if not frames:
        return empty
    matched = frames[0]
    for fr in frames[1:]:
        matched = matched.unionByName(fr)

    postings = cached_parquet(
        spark, manifest_scan_key(manifest),
        *[manifest.chunk_path(c) for c in range(manifest.build_chunks)])
    joined = (postings.join(F.broadcast(matched), "term")
              .select("qid", "pid", "doc_blob", "seg_doc_counts"))
    pairs_schema = T.StructType([
        T.StructField("qid", T.LongType(), False),
        T.StructField("doc_id", T.LongType(), False)])
    docs = (joined.mapInArrow(
        _decode_doc_ids_kernel(
            manifest.num_partitions,
            manifest.deletes_path if manifest.delete_gen else None,
            -(-manifest.span // manifest.num_partitions)),
        pairs_schema)
        .distinct())
    boost_df = spark.createDataFrame(
        [(q, b) for q, b in boosts.items()], "qid long, boost double")
    if k is not None:
        win = Window.partitionBy("qid").orderBy(F.asc("doc_id"))
        docs = (docs.withColumn("rank", F.row_number().over(win))
                .filter(F.col("rank") <= k).drop("rank"))
    return (docs.join(F.broadcast(boost_df), "qid")
            .select("qid", "doc_id", F.col("boost").alias("score")))


def _search_scoring(spark, manifest, queries, k,
                    precision) -> DataFrame:
    """Scoring-boolean rewrite in the compound kernel: each query is a
    pure-SHOULD boolean over its expanded terms, so the per-doc sum runs
    in expansion order per partition and (``k`` set) only top-k rows
    shuffle; ``k=None`` returns every match."""
    from pim_lucene_spark.plans.compound import (_SpecBuilder,
                                                 eval_compound)

    b = _SpecBuilder(spark, {"": manifest}, "")
    specs = []
    for qid, q in queries:
        qboost = float(getattr(q, "boost", 1.0))
        inner = tuple(
            b._leaf("", t, tb * qboost)
            for t, tb in expand_terms(spark, manifest, q))
        specs.append({"qid": int(qid), "op": "bool", "must": (),
                      "filter": (), "should": inner, "must_not": (),
                      "msm": 0})
    return eval_compound(spark, {"": manifest}, specs, b.leaves, k,
                         precision)
