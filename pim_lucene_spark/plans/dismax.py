"""DisjunctionMaxQuery — Lucene's best-clause disjunction.

``DisjunctionMaxQuery(clauses, tieBreakerMultiplier)`` scores a doc by its
BEST clause plus a fraction of the others:

    score = max(clause scores) + tie * (sum(clause scores) - max)

(``DisjunctionMaxScorer.score``: sub-scores accumulate in double, max in
float, the combination returns float).  It is the standard "best field"
query — e.g. dismax over title/body term queries — and runs on the
reference's standard Lucene path (the accelerator offloads only
term/phrase queries), so it belongs in the user surface next to
``BooleanQuery``.

The Spark-first plan mirrors ``plans/boolean.py``: ONE batched engine
search evaluates every clause of every query (shared postings scan +
decode cache); per query the clause frames chain FULL OUTER joins on
``doc_id`` (a doc matches the dismax iff it matches ≥1 clause), and the
max/sum fold is a deterministic Catalyst expression over the fixed clause
columns — reproducible float association, so the DuckDB oracle
(:func:`pim_lucene_spark.oracle.dismax_bm25_sql`) hash-matches.

Boost follows ``BoostQuery`` semantics (modern Lucene wraps dismax in
``BoostQuery``; dismax itself has no boost): the final combined score is
multiplied by ``boost`` at the top, not pushed into clause weights.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pim_lucene_spark.sparkutil import local_empty

DISMAX_RESULT_SCHEMA = T.StructType([
    T.StructField("qid", T.LongType(), False),
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("score", T.DoubleType(), False),
])


@dataclass(frozen=True)
class DisMaxQuery:
    """Disjunction-max over term/phrase clauses.

    Clause entries are query texts (analyzed like any engine query:
    multi-token text is a phrase, single token a term) or typed
    ``PhraseQuery``/``TermQuery`` objects whose own boosts scale that
    clause's weight (Lucene: a boosted sub-query inside the dismax).
    ``tie`` is the tieBreakerMultiplier in [0, 1]; ``boost`` multiplies
    the final combined score (``BoostQuery`` semantics).
    """

    clauses: tuple = ()
    tie: float = 0.0
    boost: float = 1.0

    def __post_init__(self):
        object.__setattr__(self, "clauses", tuple(self.clauses))
        if not self.clauses:
            raise ValueError("DisMaxQuery needs at least one clause")
        if not 0.0 <= self.tie <= 1.0:
            raise ValueError("tie breaker multiplier must be in [0, 1]")


def search_dismax(spark: SparkSession, index, queries, k: int = 10,
                  precision: str = "float32",
                  plan: str = "auto") -> DataFrame:
    """Batched dismax search → DataFrame(qid, doc_id, score).

    ``plan='auto'`` runs the composition inside the per-partition search
    kernel (clauses are co-located by ``doc_id % P``; only per-partition
    top-k rows shuffle — ``plans/compound.py``) on POSIX-visible v3
    indexes, else falls back to the join-chain plan: one engine search
    evaluates every clause, per-query FULL join chains compose, topped
    with the global (score desc, doc asc) window.  Bit-identical scores
    either way (differential-tested).
    """
    for _, dq in queries:
        if not isinstance(dq, DisMaxQuery):
            raise TypeError("queries must be (qid, DisMaxQuery) pairs")
    if plan not in ("auto", "kernel", "join"):
        raise ValueError(f"unknown plan {plan!r}")
    if plan != "join":
        from pim_lucene_spark.manifest import IndexManifest
        from pim_lucene_spark.plans.compound import (clause_kernelable,
                                                     search_compound)
        manifest = (IndexManifest.load(index) if isinstance(index, str)
                    else index)
        kq, jq = [], []
        for qid, dq in queries:
            (kq if all(clause_kernelable(c, manifests={"": manifest})
                       for c in dq.clauses)
             else jq).append((qid, dq))
        if plan == "kernel" and jq:
            raise ValueError("batch contains clauses the compound kernel "
                             "cannot host (over-cap multiterm "
                             "expansions)")
        parts = []
        if kq:
            parts.append(search_compound(spark, {"": manifest}, "", kq,
                                         k=k, precision=precision))
        if jq:
            parts.append(_search_dismax_join(spark, manifest, jq, k,
                                             precision))
        if not parts:
            return local_empty(spark, DISMAX_RESULT_SCHEMA)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
    return _search_dismax_join(spark, index, queries, k, precision)


def _search_dismax_join(spark: SparkSession, index, queries, k,
                        precision: str) -> DataFrame:
    from pim_lucene_spark.plans.boolean import _clause_text_boost
    from pim_lucene_spark.operators.search import search
    from pim_lucene_spark.plans.query import PhraseQuery, SynonymQuery
    from pim_lucene_spark.plans.router import search_with_fallback

    sub, sloppy, slops, meta, next_sid = [], [], {}, [], 0
    for qid, dq in queries:
        if not isinstance(dq, DisMaxQuery):
            raise TypeError("queries must be (qid, DisMaxQuery) pairs")
        sids = []
        for clause in dq.clauses:
            if isinstance(clause, SynonymQuery):
                raise NotImplementedError(
                    "SynonymQuery evaluates in the compound kernel "
                    "(merged pseudo-term stats have no join-chain "
                    "scorer); this index layout cannot host the kernel")
            text, cboost = _clause_text_boost(clause)
            sid = next_sid
            next_sid += 1
            if isinstance(clause, PhraseQuery) and int(clause.slop) != 0:
                # sloppy clause: match set + sloppy-weight scores come
                # from the scan path (the reference's slop contract),
                # exactly as in the boolean join plan
                sloppy.append((sid, text, cboost))
                slops[sid] = int(clause.slop)
            else:
                sub.append((sid, text, cboost))
            sids.append(sid)
        meta.append((qid, sids, float(dq.tie), float(dq.boost)))

    empty = local_empty(spark, DISMAX_RESULT_SCHEMA)
    if not sub and not sloppy:
        return empty
    frames = []
    if sub:
        frames.append(search(spark, index, sub, k=None,
                             precision=precision)
                      .select(F.col("qid").alias("sid"), "doc_id",
                              "score"))
    if sloppy:
        frames.append(search_with_fallback(spark, index, None, sloppy,
                                           k=None, slop=slops,
                                           precision=precision)
                      .select(F.col("qid").alias("sid"), "doc_id",
                              "score"))
    res = frames[0]
    for fr in frames[1:]:
        res = res.unionByName(fr)
    res = res.persist()
    try:
        res.count()  # materialize once; every clause frame filters this

        def clause(sid: int, name: str) -> DataFrame:
            return (res.filter(F.col("sid") == sid)
                    .select(F.col("doc_id"), F.col("score").alias(name)))

        parts = []
        for qid, sids, tie, boost in meta:
            base, names = None, []
            for i, sid in enumerate(sids):
                name = f"c{i}"
                names.append(name)
                c = clause(sid, name)
                base = c if base is None else base.join(c, "doc_id", "full")
            # BM25 clause scores are > 0, so coalesce-to-0 keeps both the
            # max and the sum exact for docs missing a clause
            cols = [F.coalesce(F.col(n), F.lit(0.0)) for n in names]
            mx = cols[0] if len(cols) == 1 else F.greatest(*cols)
            total = cols[0]
            for col in cols[1:]:
                total = total + col
            score = mx + F.lit(tie) * (total - mx)
            if boost != 1.0:
                score = score * F.lit(boost)
            if precision == "float32":
                # DisjunctionMaxScorer returns float; BoostQuery
                # multiplies in float
                score = score.cast("float").cast("double")
            parts.append(base.select(
                F.lit(qid).cast("long").alias("qid"),
                F.col("doc_id"), score.alias("score")))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if k is not None:
            win = Window.partitionBy("qid").orderBy(F.desc("score"),
                                                    F.asc("doc_id"))
            out = (out.withColumn("rank", F.row_number().over(win))
                   .filter(F.col("rank") <= k).drop("rank"))
        if k is not None and k * len(meta) <= 200_000:
            # ≤ |queries|·k rows: driver-materialize while res is live —
            # leaves no persisted partitions behind (see
            # plans/boolean.py::_compose_boolean)
            return spark.createDataFrame(out.toPandas(),
                                         DISMAX_RESULT_SCHEMA)
        out = out.persist()
        out.count()  # materialize while res is live
        return out
    finally:
        res.unpersist(blocking=False)
