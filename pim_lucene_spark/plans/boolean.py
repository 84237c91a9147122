"""BooleanQuery — Lucene's boolean composition over term/phrase clauses.

The reference offloads only phrase/term queries to the accelerator;
everything else (including ``BooleanQuery``) runs on the standard Lucene
path, so a user of the reference runs boolean queries every day.  The
Spark-first re-expression evaluates every scoring clause through the one
batched engine search (one postings scan for the whole batch) and
composes per query with joins:

- MUST: all clauses match (inner joins); their scores add.
- FILTER: like MUST but contributes no score (``BooleanClause.Occur``).
- SHOULD: optional when MUST/FILTER clauses exist (left joins, scores
  add when matching); with no MUST/FILTER, a doc must match at least one
  SHOULD (chained full-outer joins).
- MUST_NOT: excludes matching docs, contributes no score (anti joins).

Scoring follows ``BooleanWeight``: each scoring clause's weight gets the
boolean's boost (so boosts multiply per clause), per-doc clause scores
accumulate in double in clause-declaration order, and ``float32`` mode
casts the final sum back to float — the sum order is deterministic here
(explicit join chain), which also makes the DuckDB oracle
(:func:`pim_lucene_spark.oracle.boolean_bm25_sql`) hash-safe.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pim_lucene_spark.sparkutil import local_empty

BOOL_RESULT_SCHEMA = T.StructType([
    T.StructField("qid", T.LongType(), False),
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("score", T.DoubleType(), False),
])


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


def _empty_slot() -> dict:
    return {"sub": [], "mt_const": [], "mt_scoring": [],
            "sloppy": [], "slops": {}, "matchall": [], "nested": []}


def _classify_clauses(queries, resolve_field):
    """Shared clause classifier for both boolean paths.

    ``resolve_field(clause) -> (field_key, clause)`` — the single-index
    path maps every clause to key ``None``; the fielded path unwraps
    ``FieldedQuery``.  Returns ``(per_field slots, meta)`` where each
    slot routes its clauses to the right evaluation family:

    - term/phrase (slop 0) → ``sub`` (ONE batched engine search);
    - multi-term → ``mt_const`` (constant-score rewrite: clause score ==
      boost) or ``mt_scoring`` (fuzzy: top-terms scoring) — Lucene's
      in-boolean rewrites;
    - sloppy phrases → ``sloppy`` (ONE scan-path job, per-clause slops —
      the reference's slop contract);
    - ``MatchAllDocsQuery`` → ``matchall`` ('*:* -foo' style).

    Boolean boost multiplies every SCORING clause's weight
    (``BooleanWeight`` passes the boost down); FILTER/MUST_NOT clauses
    evaluate with boost 1 (their scores are discarded).
    """
    from dataclasses import replace

    from pim_lucene_spark.plans.multiterm import (FuzzyQuery,
                                                  MultiTermQueryT)
    from pim_lucene_spark.plans.query import (DocValuesRangeQuery,
                                              FacetFilterQuery,
                                              IntervalQuery,
                                              MatchAllDocsQuery,
                                              PhraseQuery, SynonymQuery)

    per_field: dict = {}
    meta, next_sid = [], [0]
    for qid, bq in queries:
        if not isinstance(bq, BooleanQuery):
            raise TypeError("queries must be (qid, BooleanQuery) pairs")
        roles = {}
        for role in ("must", "filter", "should", "must_not"):
            sids = []
            for clause in getattr(bq, role):
                fkey, clause = resolve_field(clause)
                sid = next_sid[0]
                next_sid[0] += 1
                scoring = role in ("must", "should")
                slot = per_field.setdefault(fkey, _empty_slot())
                if isinstance(clause, BooleanQuery):
                    # nested group '(a b) c': the inner boolean's whole
                    # score is this clause's score; boolean boost passes
                    # down (BooleanWeight gives sub-weights the boost)
                    q = clause
                    if scoring and float(bq.boost) != 1.0:
                        q = replace(q, boost=float(q.boost)
                                    * float(bq.boost))
                    slot["nested"].append((sid, q))
                elif isinstance(clause, MultiTermQueryT):
                    q = clause
                    if scoring and float(bq.boost) != 1.0:
                        q = replace(q, boost=float(q.boost)
                                    * float(bq.boost))
                    slot["mt_scoring" if isinstance(q, FuzzyQuery)
                         else "mt_const"].append((sid, q))
                elif isinstance(clause, MatchAllDocsQuery):
                    slot["matchall"].append(
                        (sid, float(clause.boost) * float(bq.boost)
                         if scoring else 1.0))
                elif isinstance(clause, (SynonymQuery, FacetFilterQuery,
                                         DocValuesRangeQuery,
                                         IntervalQuery)):
                    raise NotImplementedError(
                        f"{type(clause).__name__} evaluates in the "
                        "compound kernel (merged stats / resident "
                        "ordinal arrays / stored position streams have "
                        "no join-chain form); the join plan cannot "
                        "evaluate it — use plan='auto' or drop the "
                        "clause")
                elif (isinstance(clause, PhraseQuery)
                      and int(clause.slop) != 0):
                    slot["sloppy"].append(
                        (sid, clause.text,
                         float(clause.boost) * float(bq.boost)
                         if scoring else 1.0))
                    slot["slops"][sid] = int(clause.slop)
                else:
                    text, cboost = _clause_text_boost(clause)
                    slot["sub"].append(
                        (sid, text,
                         cboost * float(bq.boost) if scoring else 1.0))
                sids.append(sid)
            roles[role] = sids
        meta.append((qid, roles, int(bq.min_should_match)))
    return per_field, meta


def _clause_frames(spark, index, slot: dict,
                   precision: str) -> list[DataFrame]:
    """Evaluate one index's clause slot → frames of (sid, doc_id, score),
    one batched job per evaluation family.  MatchAllDocs clauses are NOT
    evaluated here — callers build their (bounded) frame last via
    :func:`_matchall_frame`, which needs the other frames' doc set."""
    from pim_lucene_spark.operators.search import search
    from pim_lucene_spark.plans.multiterm import search_multiterm
    from pim_lucene_spark.plans.router import search_with_fallback

    frames = []
    if slot["sub"]:
        # k=None: full match sets are inherent to clause-frame semantics,
        # but no per-qid rank window runs over them (search() skips it) —
        # the composition join is the only consumer
        frames.append(
            search(spark, index, slot["sub"], k=None,
                   precision=precision)
            .select(F.col("qid").alias("sid"), "doc_id", "score"))
    for key, rewrite in (("mt_const", "constant_score"),
                         ("mt_scoring", "scoring_boolean")):
        if slot[key]:
            frames.append(
                search_multiterm(spark, index, slot[key], k=None,
                                 rewrite=rewrite, precision=precision)
                .select(F.col("qid").alias("sid"), "doc_id", "score"))
    if slot["sloppy"]:
        frames.append(
            search_with_fallback(spark, index, None, slot["sloppy"],
                                 k=None, slop=slot["slops"],
                                 precision=precision)
            .select(F.col("qid").alias("sid"), "doc_id", "score"))
    return frames


def _matchall_frame(spark, index, ma_rows, others: DataFrame | None,
                    k) -> DataFrame:
    """Bounded MatchAllDocs clause frame for the join-chain plan.

    The frame only needs (a) every doc matching some OTHER clause in the
    batch (so the join composition sees the matchall contribution on
    them) and (b) the ``k`` smallest live doc ids outside that set — all
    remaining matchall-only docs tie on score and lose the doc-asc
    tiebreak, so per query the k smallest of ``ids ∖ other_docs(Q)`` are
    a subset of ``other_docs(batch) ∪ ksmallest(ids ∖ other_docs(batch))``
    (fewer smaller elements in a subset).  Falls back to the full id
    scan only for huge/None ``k`` (nested clause evaluation) — the one
    remaining documented unbounded case.  Deleted docs never match
    (Lucene live-docs semantics)."""
    from pim_lucene_spark.manifest import IndexManifest

    manifest = (IndexManifest.load(index) if isinstance(index, str)
                else index)
    ids = spark.read.parquet(manifest.docs_path).select("doc_id")
    if manifest.delete_gen:
        from pim_lucene_spark.operators.deletes import deleted_ids
        ids = ids.join(deleted_ids(spark, manifest), "doc_id", "left_anti")
    if k is not None and k <= 1_000_000:
        if others is not None:
            other_docs = others.select("doc_id").distinct()
            extra = (ids.join(other_docs, "doc_id", "left_anti")
                     .orderBy(F.asc("doc_id")).limit(int(k)))
            ids = other_docs.unionByName(extra)
        else:
            ids = ids.orderBy(F.asc("doc_id")).limit(int(k))
    ma = spark.createDataFrame(ma_rows, "sid long, score double")
    return (ids.crossJoin(F.broadcast(ma))
            .select("sid", "doc_id", "score"))


def search_boolean(spark: SparkSession, index, queries, k: int = 10,
                   precision: str = "float32",
                   plan: str = "auto") -> DataFrame:
    """Batched boolean search → DataFrame(qid, doc_id, score).

    ``queries`` is a list of ``(qid, BooleanQuery)``.  Two plans, routed
    per query (``plan='auto'``):

    - **kernel** (default where possible): clauses evaluate inside the
      per-partition search kernel — postings are routed ``doc_id % P``,
      so every clause's postings for a doc are co-located — and the
      BooleanWeight composition happens in numpy per partition, emitting
      only per-partition top-k (one shuffle of ≤ P·k rows/query; see
      ``plans/compound.py``).  Hosts term/phrase (ANY slop — the Lucene
      sloppy matcher runs over the stored position streams)/fuzzy/
      matchall/nested clauses and capped constant-score multiterm.
    - **join** (fallback; ``plan='join'`` forces it): clause match sets
      materialize through one batched job per family and compose via a
      deterministic join chain — needed for over-cap multiterm
      expansions and ``k=None`` clause evaluation.  MatchAllDocs frames
      are bounded (other-clause docs ∪ k-smallest-of-rest, deletes
      excluded); scoring and sloppy clauses
      ship their full match sets (``k=None`` — inherent to clause-frame
      semantics, since a doc's composed rank needs every clause score),
      but no per-qid rank window runs over those frames — they flow
      straight into the distributed composition join.  Not the default
      route for any kernel-hostable index.

    Both plans produce bit-identical scores (clause-declaration-order
    float accumulation); differential-tested.
    """
    for _, bq in queries:
        if not isinstance(bq, BooleanQuery):
            raise TypeError("queries must be (qid, BooleanQuery) pairs")
    if plan not in ("auto", "kernel", "join"):
        raise ValueError(f"unknown plan {plan!r}")
    if plan != "join":
        from pim_lucene_spark.manifest import IndexManifest
        from pim_lucene_spark.plans.compound import (clause_kernelable,
                                                     search_compound)
        manifest = (IndexManifest.load(index) if isinstance(index, str)
                    else index)
        kq, jq = [], []
        for qid, bq in queries:
            (kq if clause_kernelable(bq, manifests={"": manifest})
             else jq).append((qid, bq))
        if plan == "kernel" and jq:
            raise ValueError("batch contains clauses the compound kernel "
                             "cannot host (over-cap multiterm "
                             "expansions)")
        parts = []
        if kq:
            parts.append(search_compound(spark, {"": manifest}, "", kq,
                                         k=k, precision=precision))
        if jq:
            parts.append(_search_boolean_join(spark, manifest, jq, k,
                                              precision))
        if not parts:
            return local_empty(spark, BOOL_RESULT_SCHEMA)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
    return _search_boolean_join(spark, index, queries, k, precision)


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


def _search_boolean_join(spark: SparkSession, index, queries, k,
                         precision: str) -> DataFrame:
    """Join-chain boolean plan (see :func:`search_boolean`)."""
    per_field, meta = _classify_clauses(queries, lambda c: (None, c))
    empty = local_empty(spark, BOOL_RESULT_SCHEMA)
    slot = per_field.get(None, _empty_slot())
    parts_res = _clause_frames(spark, index, slot, precision)
    if slot["nested"]:
        # one recursive batched evaluation for ALL nested groups; the
        # inner result's qid is the outer clause sid
        parts_res.append(
            _search_boolean_join(spark, index, slot["nested"], None,
                                 precision)
            .select(F.col("qid").alias("sid"), "doc_id", "score"))
    if not slot["matchall"]:
        if not parts_res:
            return empty
        res = parts_res[0]
        for p in parts_res[1:]:
            res = res.unionByName(p)
        return _compose_boolean(spark, res, meta, k, precision, empty)
    # matchall frame references the other frames' doc set — persist that
    # union once so the clause jobs don't evaluate twice (once inside the
    # matchall lineage, once in the composed frame)
    others = None
    if parts_res:
        others = parts_res[0]
        for p in parts_res[1:]:
            others = others.unionByName(p)
        others = others.persist()
    try:
        ma = _matchall_frame(spark, index, slot["matchall"], others, k)
        res = others.unionByName(ma) if others is not None else ma
        return _compose_boolean(spark, res, meta, k, precision, empty)
    finally:
        if others is not None:
            others.unpersist(blocking=False)


def _compose_boolean(spark, res: DataFrame, meta, k: int,
                     precision: str, empty: DataFrame) -> DataFrame:
    """Join-chain composition over a materialized clause frame
    ``res(sid, doc_id, score)`` — shared by the single-index and the
    fielded (MultiFieldIndex) boolean paths."""
    res = res.persist()
    try:
        res.count()  # materialize once; every clause frame filters this
        # (the final result is materialized + cached before res releases,
        # so the clause scan never recomputes)

        def clause(sid: int, name: str) -> DataFrame:
            return (res.filter(F.col("sid") == sid)
                    .select(F.col("doc_id"),
                            F.col("score").alias(name)))

        parts = []
        for qid, roles, msm in meta:
            score_cols: list[str] = []
            should_cols: list[str] = []
            base = None
            # MUST + FILTER: inner joins (filter adds no score column)
            for i, sid in enumerate(roles["must"]):
                c = clause(sid, f"m{i}")
                score_cols.append(f"m{i}")
                base = c if base is None else base.join(c, "doc_id")
            for i, sid in enumerate(roles["filter"]):
                c = clause(sid, f"f{i}").select("doc_id")
                base = c if base is None else base.join(c, "doc_id")
            had_base = base is not None
            if had_base:
                for i, sid in enumerate(roles["should"]):
                    c = clause(sid, f"s{i}")
                    score_cols.append(f"s{i}")
                    should_cols.append(f"s{i}")
                    base = base.join(c, "doc_id", "left")
            else:
                # pure-should: at least one clause must match
                for i, sid in enumerate(roles["should"]):
                    c = clause(sid, f"s{i}")
                    score_cols.append(f"s{i}")
                    should_cols.append(f"s{i}")
                    base = c if base is None else base.join(c, "doc_id",
                                                            "full")
            if base is None:
                continue
            required = msm if had_base else max(1, msm)
            if should_cols and required > 1 or (had_base and required > 0):
                cnt = None
                for name in should_cols:
                    ind = F.when(F.col(name).isNotNull(), 1).otherwise(0)
                    cnt = ind if cnt is None else cnt + ind
                if cnt is not None:
                    base = base.filter(cnt >= required)
            for sid in roles["must_not"]:
                base = base.join(clause(sid, "x").select("doc_id"),
                                 "doc_id", "left_anti")
            total = None
            for name in score_cols:
                col = F.coalesce(F.col(name), F.lit(0.0))
                total = col if total is None else total + col
            if total is None:  # filter-only query: constant 0 scores
                total = F.lit(0.0)
            if precision == "float32":
                # BooleanWeight sums clause floats in double, returns
                # float — cast the deterministic double chain to float
                total = total.cast("float").cast("double")
            parts.append(base.select(
                F.lit(qid).cast("long").alias("qid"),
                F.col("doc_id"), total.alias("score")))
        if not parts:
            return empty
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if k is not None:
            win = Window.partitionBy("qid").orderBy(F.desc("score"),
                                                    F.asc("doc_id"))
            out = (out.withColumn("rank", F.row_number().over(win))
                   .filter(F.col("rank") <= k).drop("rank"))
        if k is not None and k * len(meta) <= 200_000:
            # ≤ |queries|·k rows: materialize to the driver while res is
            # live and return an in-memory frame — no executor cache is
            # left behind (repeated calls in a long session used to
            # accumulate persisted partitions until storage pressure)
            return spark.createDataFrame(out.toPandas(),
                                         BOOL_RESULT_SCHEMA)
        # huge-k (clause-evaluation) calls keep the persisted plan; the
        # consumer (a parent composition) materializes it while res is
        # live, then it ages out of executor storage via LRU
        out = out.persist()
        out.count()
        return out
    finally:
        res.unpersist(blocking=False)


def search_boolean_fields(spark: SparkSession, manifests: dict,
                          default_field: str, queries, k: int = 10,
                          precision: str = "float32") -> DataFrame:
    """Boolean search whose clauses may target different FIELDS.

    ``manifests`` maps field name → that field's sub-index manifest
    (``MultiFieldIndex.manifests``); clause entries are plain (default
    field) or ``FieldedQuery(field, clause)``.  Each field is an
    independent posting space with its own stats — exactly Lucene's
    per-field scoring inside one BooleanQuery — but every field's
    sub-index shares ``num_partitions``, so pid N holds the same doc
    subset in every field: kernel-able queries compose inside the
    per-partition kernel over a field-tagged union scan
    (``plans/compound.py``, one shuffle of ≤ P·k rows).  The rest run
    per-field clause-family jobs (:func:`_classify_clauses` /
    :func:`_clause_frames`) composed by the same deterministic join
    chain as :func:`search_boolean`.
    """
    from pim_lucene_spark.plans.compound import (clause_kernelable,
                                                 kernel_hostable,
                                                 search_compound)
    from pim_lucene_spark.plans.query import FieldedQuery

    for _, bq in queries:
        if not isinstance(bq, BooleanQuery):
            raise TypeError("queries must be (qid, BooleanQuery) pairs")
    kq, jq = [], []
    if kernel_hostable(manifests):
        fields = set(manifests)
        for qid, bq in queries:
            (kq if clause_kernelable(bq, allow_fielded=fields,
                                     manifests=manifests,
                                     field=default_field)
             else jq).append((qid, bq))
    else:
        jq = list(queries)
    parts = []
    if kq:
        parts.append(search_compound(spark, manifests, default_field, kq,
                                     k=k, precision=precision))
    if jq:
        parts.append(_search_boolean_fields_join(
            spark, manifests, default_field, jq, k, precision))
    if not parts:
        return local_empty(spark, BOOL_RESULT_SCHEMA)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _search_boolean_fields_join(spark: SparkSession, manifests: dict,
                                default_field: str, queries, k,
                                precision: str) -> DataFrame:
    from pim_lucene_spark.plans.query import FieldedQuery

    def resolve(clause):
        field = default_field
        if isinstance(clause, FieldedQuery):
            field, clause = clause.field, clause.query
        if field not in manifests:
            raise ValueError(f"unknown field {field!r}; have "
                             f"{sorted(manifests)}")
        return field, clause

    per_field, meta = _classify_clauses(queries, resolve)
    empty = local_empty(spark, BOOL_RESULT_SCHEMA)
    parts_res, ma_slots = [], []
    for fname, slot in per_field.items():
        parts_res.extend(
            _clause_frames(spark, manifests[fname], slot, precision))
        if slot["nested"]:
            # a group bound to a field ('title:(a b)') makes that field
            # the default for its inner clauses; inner FieldedQuery
            # clauses still resolve their own fields
            parts_res.append(
                _search_boolean_fields_join(spark, manifests, fname,
                                            slot["nested"], None,
                                            precision)
                .select(F.col("qid").alias("sid"), "doc_id", "score"))
        if slot["matchall"]:
            ma_slots.append((fname, slot["matchall"]))
    if not ma_slots:
        if not parts_res:
            return empty
        res = parts_res[0]
        for p in parts_res[1:]:
            res = res.unionByName(p)
        return _compose_boolean(spark, res, meta, k, precision, empty)
    others = None
    if parts_res:
        others = parts_res[0]
        for p in parts_res[1:]:
            others = others.unionByName(p)
        others = others.persist()
    try:
        res = others
        for fname, rows in ma_slots:  # doc ids are shared across fields
            ma = _matchall_frame(spark, manifests[fname], rows, others, k)
            res = ma if res is None else res.unionByName(ma)
        return _compose_boolean(spark, res, meta, k, precision, empty)
    finally:
        if others is not None:
            others.unpersist(blocking=False)
