"""BooleanQuery — Lucene's boolean composition over typed clauses.

The reference offloads only phrase/term queries to the accelerator;
everything else (including ``BooleanQuery``) runs on the standard Lucene
path, so a user of the reference runs boolean queries every day.  Here
every boolean evaluates inside the compound kernel
(``plans/compound.py``): postings are routed ``doc_id % P``, so every
clause's postings for a doc are co-located, and each partition composes
per doc in numpy and emits only its top-k rows.

- MUST: all clauses match; their scores add.
- FILTER: like MUST but contributes no score (``BooleanClause.Occur``).
- SHOULD: optional when MUST/FILTER clauses exist (scores add when
  matching); with no MUST/FILTER, a doc must match at least one SHOULD
  (``min_should_match`` raises that floor).
- MUST_NOT: excludes matching docs, contributes no score.

Scoring follows ``BooleanWeight``: each scoring clause's weight gets the
boolean's boost (so boosts multiply per clause), per-doc clause scores
accumulate in double in clause-declaration order, and ``float32`` mode
casts the final sum back to float — the association the DuckDB oracle
(:func:`pim_lucene_spark.oracle.boolean_bm25_sql`) uses too.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

@dataclass(frozen=True)
class BooleanQuery:
    """Boolean combination of term/phrase clauses.

    Clause entries are query texts (analyzed like any engine query:
    multi-token text is a phrase, single token a term) or typed
    ``PhraseQuery``/``TermQuery`` objects.  ``boost`` scales every
    scoring clause (Lucene ``BooleanWeight`` passes the boost down).
    """

    must: tuple = ()
    should: tuple = ()
    must_not: tuple = ()
    filter: tuple = ()
    boost: float = 1.0
    min_should_match: int = 0   # Lucene minimumNumberShouldMatch

    def __post_init__(self):  # allow lists at construction
        object.__setattr__(self, "must", tuple(self.must))
        object.__setattr__(self, "should", tuple(self.should))
        object.__setattr__(self, "must_not", tuple(self.must_not))
        object.__setattr__(self, "filter", tuple(self.filter))
        if not (self.must or self.should or self.filter):
            raise ValueError("BooleanQuery needs at least one MUST, "
                             "SHOULD or FILTER clause")
        if self.min_should_match > len(self.should):
            raise ValueError("min_should_match exceeds SHOULD clause count")


def _clause_text_boost(clause) -> tuple[str, float]:
    text = getattr(clause, "text", clause)
    boost = float(getattr(clause, "boost", 1.0))
    if not isinstance(text, str):
        raise TypeError(f"unsupported clause {clause!r}")
    return text, boost



def search_boolean(spark: SparkSession, index, queries, k: int = 10,
                   precision: str = "float32") -> DataFrame:
    """Batched boolean search → DataFrame(qid, doc_id, score).

    ``queries`` is a list of ``(qid, BooleanQuery)``.  Every clause
    family — term/phrase at any slop (the Lucene sloppy matcher runs
    over the stored position streams), fuzzy, constant-score multiterm
    at any expansion width, MatchAllDocs, synonym, interval, facet and
    doc-values filters, nested booleans — composes in the compound
    kernel; one shuffle of ≤ P·k rows per query.  ``k=None`` returns
    every match, unordered.
    """
    from pim_lucene_spark.manifest import resolve_manifests
    from pim_lucene_spark.plans.compound import search_compound
    _check_types(queries)
    manifests, field = resolve_manifests(index)
    return search_compound(spark, manifests, field, queries, k=k,
                           precision=precision)


def _check_types(queries) -> None:
    for _, bq in queries:
        if not isinstance(bq, BooleanQuery):
            raise TypeError("queries must be (qid, BooleanQuery) pairs")


def search_synonym(spark: SparkSession, index, queries, k: int = 10,
                   precision: str = "float32") -> DataFrame:
    """Batched SynonymQuery search → DataFrame(qid, doc_id, score).

    ``queries``: ``(qid, SynonymQuery)`` pairs.  Each evaluates as a
    single-MUST boolean on the compound-kernel plan (single-clause sum
    is the identity, so scores are the bare clause scores): per
    partition the terms' co-located postings union, per-doc
    ``freq = Σ boostᵢ·tfᵢ``, ONE BM25 weight from the merged pseudo-term
    stats (df = max — ``SynonymQuery.java``), per-partition top-k out.
    Requires a kernel-hostable index (v3+, direct norms).
    """
    from pim_lucene_spark.plans.query import SynonymQuery
    for _, q in queries:
        if not isinstance(q, SynonymQuery):
            raise TypeError("queries must be (qid, SynonymQuery) pairs")
    return search_boolean(
        spark, index, [(qid, BooleanQuery(must=[q])) for qid, q in queries],
        k=k, precision=precision)



def search_boolean_fields(spark: SparkSession, manifests: dict,
                          default_field: str, queries, k: int = 10,
                          precision: str = "float32") -> DataFrame:
    """Boolean search whose clauses may target different FIELDS.

    ``manifests`` maps field name → that field's sub-index manifest
    (``MultiFieldIndex.manifests``); clause entries are plain (default
    field) or ``FieldedQuery(field, clause)``.  Each field is an
    independent posting space with its own stats — exactly Lucene's
    per-field scoring inside one BooleanQuery — but every field's
    sub-index shares ``num_partitions`` (checked by
    :func:`~pim_lucene_spark.manifest.resolve_manifests`), so pid N
    holds the same doc subset in every field and the queries compose
    inside the per-partition kernel (``plans/compound.py``, one shuffle
    of ≤ P·k rows).
    """
    from pim_lucene_spark.manifest import resolve_manifests
    from pim_lucene_spark.plans.compound import search_compound
    _check_types(queries)
    manifests, _ = resolve_manifests(manifests, default_field)
    if default_field not in manifests:
        raise ValueError(f"unknown field {default_field!r}; have "
                         f"{sorted(manifests)}")
    return search_compound(spark, manifests, default_field, queries, k=k,
                           precision=precision)
