"""Index-free reference for compound queries (boolean, DisMax, scoring
multiterm) — the differential oracle the compound kernel is tested
against.

Every leaf clause is scored by the full-scan ``brute_force_search`` over
the raw documents (its own tokenize, stats and BM25; one scan per field
for the whole batch), and the per-doc composition runs here in pandas:

- MUST and FILTER intersect; SHOULD obeys ``min_should_match`` (≥ 1 for
  a boolean with no MUST/FILTER); MUST_NOT removes docs;
- clause scores add in double in clause order (MUST, then SHOULD), and
  ``float32`` casts the sum at the end (``BooleanWeight``);
- nested booleans recurse with the boost passed down;
- DisMax scores ``(max + tie·(sum − max))·boost``;
- constant-score multiterm and MatchAllDocs clauses give their boost to
  the docs they match;
- fuzzy clauses sum their boosted per-term frames in ``expand_terms``
  order.

Only the multiterm expansions (``expand_terms`` / ``expand_const_local``)
are read from the index: they enumerate terms, they do not score.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pim_lucene_spark.plans.boolean import BooleanQuery, _clause_text_boost
from pim_lucene_spark.plans.dismax import DisMaxQuery
from pim_lucene_spark.plans.multiterm import (FuzzyQuery, MultiTermQueryT,
                                              expand_const_local,
                                              expand_terms)
from pim_lucene_spark.plans.query import FieldedQuery, MatchAllDocsQuery
from pim_lucene_spark.plans.router import brute_force_search


def reference_compound(spark, docs: pd.DataFrame, manifests: dict,
                       default_field: str, queries, k: int | None = 10,
                       precision: str = "float32",
                       exclude_ids=()) -> pd.DataFrame:
    """``(qid, BooleanQuery | DisMaxQuery | FuzzyQuery)`` pairs →
    pandas (qid, doc_id, score), sorted by (qid, doc_id).

    ``docs`` holds ``doc_id`` and one text column per field, named like
    the field; ``manifests`` maps field → that field's index (read only
    for multiterm expansions and the analyzer name).  A bare FuzzyQuery
    is the top-level scoring-boolean rewrite.  ``exclude_ids`` are
    deleted docs: they still count toward the statistics, never match.
    """
    leaves: dict[tuple, int] = {}

    def leaf(field, text, boost, slop=0):
        return ("leaf", leaves.setdefault((field, text, float(boost),
                                           int(slop)), len(leaves)))

    def clause(field, c, eff):
        if isinstance(c, FieldedQuery):
            return clause(c.field, c.query, eff)
        if isinstance(c, MatchAllDocsQuery):
            return ("const", None, float(c.boost) * eff)
        if isinstance(c, BooleanQuery):
            return boolean(field, c, eff)
        if isinstance(c, FuzzyQuery):
            qb = float(c.boost) * eff
            return ("bool", [], [], [leaf(field, t, tb * qb) for t, tb in
                                     expand_terms(spark, manifests[field],
                                                  c)], [], 0)
        if isinstance(c, MultiTermQueryT):
            terms = expand_const_local(manifests[field], c)
            return ("const", [leaf(field, t, 1.0) for t in terms],
                    float(c.boost) * eff)
        text, cboost = _clause_text_boost(c)
        return leaf(field, text, cboost * eff, getattr(c, "slop", 0))

    def boolean(field, bq, inherit):
        eff = float(bq.boost) * inherit
        return ("bool",
                [clause(field, c, eff) for c in bq.must],
                [clause(field, c, 1.0) for c in bq.filter],
                [clause(field, c, eff) for c in bq.should],
                [clause(field, c, 1.0) for c in bq.must_not],
                int(bq.min_should_match))

    trees = []
    for qid, q in queries:
        if isinstance(q, DisMaxQuery):
            tree = ("dismax", [clause(default_field, c, 1.0)
                               for c in q.clauses],
                    float(q.tie), float(q.boost))
        elif isinstance(q, FuzzyQuery):
            tree = clause(default_field, q, 1.0)
        else:
            tree = boolean(default_field, q, 1.0)
        trees.append((int(qid), tree))

    # one brute-force scan per field scores every leaf of the batch
    sdocs = spark.createDataFrame(docs)
    excl = (spark.createDataFrame([(int(d),) for d in exclude_ids],
                                  "doc_id long") if len(exclude_ids)
            else None)
    frames: dict[int, pd.Series] = {}
    for field in {f for f, *_ in leaves}:
        mine = [(sid, text, boost, slop)
                for (f, text, boost, slop), sid in leaves.items()
                if f == field]
        m = manifests[field]
        res = brute_force_search(
            sdocs, [(sid, text, boost) for sid, text, boost, _ in mine],
            k=None, content_col=field, tokenizer=m.tokenizer,
            precision=precision, k1=m.k1, b=m.b,
            slop={sid: slop for sid, _, _, slop in mine},
            exclude_ids=excl).toPandas()
        for sid, g in res.groupby("qid"):
            frames[int(sid)] = pd.Series(
                g.score.to_numpy(np.float64),
                index=g.doc_id.to_numpy(np.int64)).sort_index()
    empty = pd.Series([], dtype=np.float64, index=pd.Index([], dtype=np.int64))
    live = pd.Index(np.setdiff1d(docs.doc_id.to_numpy(np.int64),
                                 np.asarray(list(exclude_ids), np.int64)))

    def cast(s):
        return s.astype(np.float32).astype(np.float64) \
            if precision == "float32" else s

    def ev(node) -> pd.Series:
        kind = node[0]
        if kind == "leaf":
            return frames.get(node[1], empty)
        if kind == "const":
            _, terms, w = node
            if terms is None:
                idx = live
            else:
                idx = pd.Index(np.unique(np.concatenate(
                    [ev(t).index.to_numpy(np.int64) for t in terms]
                    + [np.empty(0, np.int64)])))
            return pd.Series(np.full(len(idx), w), index=idx)
        if kind == "dismax":
            _, cls, tie, boost = node
            subs = [ev(c) for c in cls]
            base = pd.Index(np.unique(np.concatenate(
                [s.index.to_numpy(np.int64) for s in subs])))
            mx = pd.Series(0.0, index=base)
            total = pd.Series(0.0, index=base)
            for s in subs:
                mx = np.maximum(mx, s.reindex(base, fill_value=0.0))
                total = total + s.reindex(base, fill_value=0.0)
            return cast((mx + tie * (total - mx)) * boost)
        _, must, filt, should, must_not, msm = node
        must, should = [ev(c) for c in must], [ev(c) for c in should]
        req = must + [ev(c) for c in filt]
        if req:
            base = req[0].index
            for s in req[1:]:
                base = base.intersection(s.index)
        else:
            base = pd.Index(np.unique(np.concatenate(
                [s.index.to_numpy(np.int64) for s in should])))
        cnt = sum((base.isin(s.index).astype(np.int64) for s in should),
                  np.zeros(len(base), np.int64))
        base = base[cnt >= (msm if req else max(1, msm))]
        for c in must_not:
            base = base.difference(ev(c).index)
        acc = pd.Series(0.0, index=base)
        for s in must + should:
            acc = acc + s.reindex(base, fill_value=0.0)
        return cast(acc)

    out = []
    for qid, tree in trees:
        s = ev(tree)
        out.append(pd.DataFrame({"qid": np.full(len(s), qid, np.int64),
                                 "doc_id": s.index.to_numpy(np.int64),
                                 "score": s.to_numpy(np.float64)}))
    res = pd.concat(out, ignore_index=True)
    if k is not None:
        res = (res.sort_values(["qid", "score", "doc_id"],
                               ascending=[True, False, True])
               .groupby("qid").head(k))
    return res.sort_values(["qid", "doc_id"]).reset_index(drop=True)
