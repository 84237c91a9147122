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

The plan is the one ``plans/boolean.py`` uses: every clause of every
query evaluates inside the compound kernel (``plans/compound.py``) on
its co-located postings; a doc matches the dismax iff it matches ≥1
clause, and the max/sum fold runs per doc in clause order —
reproducible float association, so the DuckDB oracle
(:func:`pim_lucene_spark.oracle.dismax_bm25_sql`) hash-matches.

Boost follows ``BoostQuery`` semantics (modern Lucene wraps dismax in
``BoostQuery``; dismax itself has no boost): the final combined score is
multiplied by ``boost`` at the top, not pushed into clause weights.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


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
                  precision: str = "float32") -> DataFrame:
    """Batched dismax search → DataFrame(qid, doc_id, score).

    The composition runs inside the per-partition compound kernel
    (clauses are co-located by ``doc_id % P``; only per-partition top-k
    rows shuffle, then the global (score desc, doc asc) window);
    ``k=None`` returns every match, unordered.
    """
    from pim_lucene_spark.manifest import resolve_manifests
    from pim_lucene_spark.plans.compound import search_compound
    for _, dq in queries:
        if not isinstance(dq, DisMaxQuery):
            raise TypeError("queries must be (qid, DisMaxQuery) pairs")
    manifests, field = resolve_manifests(index)
    return search_compound(spark, manifests, field, queries, k=k,
                           precision=precision)
