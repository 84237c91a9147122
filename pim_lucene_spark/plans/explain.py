"""Score explanation — Lucene's ``IndexSearcher.explain`` for the engine.

``explain(index, query, doc_id)`` returns the full BM25 factor tree for
one (query, doc) pair, mirroring the structure Lucene prints
(``BM25Similarity.BM25Scorer.explain``): the final score, the weight
(``boost · Σ idf``), per-term idf with its df/docCount inputs, the
phrase/term frequency, the SmallFloat-quantized doc length, avgdl, and
the norm cache value — every number produced by the same float32 (or
float64) expression tree the search kernel uses, so
``explain(...)["score"]`` is bit-identical to the score the doc gets in
``search`` (pinned by tests).

The doc's frequency comes from re-tokenizing that one document's stored
text (the docs table keeps it — sha256-verified against the source), so
explain is a driver-side O(1-doc) operation: one pushdown stats read,
one docs-row read, one norms byte."""

from __future__ import annotations

import numpy as np

from pim_lucene_spark.manifest import IndexManifest


def explain(index: IndexManifest | str, query, doc_id: int,
            precision: str = "float32") -> dict:
    """Score factor tree for one (query, doc) — see module docstring.

    ``query`` is a query text (multi-token = phrase), a typed
    ``PhraseQuery``/``TermQuery`` (slop=0 only), or a compositional
    ``BooleanQuery``/``DisMaxQuery`` (clause explains compose per
    BooleanWeight sum / DisjunctionMaxScorer, bit-identical to
    ``search_boolean``/``search_dismax``).  Returns a dict with
    ``score`` 0.0 and ``matches=False`` when the doc doesn't match.
    """
    import pyarrow.parquet as pq

    from pim_lucene_spark.plans.boolean import BooleanQuery
    from pim_lucene_spark.plans.dismax import DisMaxQuery

    manifest = (IndexManifest.load(index) if isinstance(index, str)
                else index)
    from pim_lucene_spark.plans.query import (ConstantScoreQuery,
                                              MatchAllDocsQuery)
    if isinstance(query, MatchAllDocsQuery):
        # constant scorer over every doc (MatchAllDocsQuery.java)
        return {"doc_id": int(doc_id), "query": "MatchAllDocsQuery",
                "matches": True, "score": float(query.boost),
                "description": "*:*, constant score == boost"}
    if isinstance(query, ConstantScoreQuery):
        inner = explain(manifest, query.query, doc_id, precision)
        m = bool(inner["matches"])
        return {"doc_id": int(doc_id), "query": "ConstantScoreQuery",
                "matches": m,
                "score": float(query.boost) if m else 0.0,
                "description": "constant score == boost when the "
                               "wrapped query matches",
                "inner": inner}
    if isinstance(query, BooleanQuery):
        return _explain_boolean(manifest, query, doc_id, precision)
    if isinstance(query, DisMaxQuery):
        return _explain_dismax(manifest, query, doc_id, precision)
    from pim_lucene_spark.plans.query import IntervalQuery, SynonymQuery
    if isinstance(query, SynonymQuery):
        return _explain_synonym(manifest, query, doc_id, precision)
    if isinstance(query, IntervalQuery):
        return _explain_interval(manifest, query, doc_id, precision)

    from pim_lucene_spark.functions import bm25
    from pim_lucene_spark.functions.tokenize import tokenize_one_with_offsets
    from pim_lucene_spark.operators.search import _pid_norms
    slop = int(getattr(query, "slop", 0))
    if slop:
        raise ValueError("explain covers exact (slop=0) queries")
    text = getattr(query, "text", query)
    boost = float(getattr(query, "boost", 1.0))
    terms, offsets = tokenize_one_with_offsets(text, manifest.tokenizer)
    if not terms:
        raise ValueError("empty query after analysis")

    # per-term stats (pushdown read of the stats table)
    stats = pq.read_table(manifest.stats_path,
                          filters=[("term", "in", list(set(terms)))])
    df_map = dict(zip(stats.column("term").to_pylist(),
                      stats.column("doc_freq").to_pylist()))
    doc_count = manifest.doc_count
    per_term = []
    for t in terms:
        df = int(df_map.get(t, 0))
        t_idf = float(bm25.idf(df, doc_count, precision)) if df else 0.0
        per_term.append({"term": t, "doc_freq": df, "doc_count": doc_count,
                         "idf": t_idf})

    # the doc's stored text → exact phrase/term freq (model kernel)
    doc = pq.read_table(
        manifest.docs_path,
        filters=[("doc_id", "in", [int(doc_id)])]).to_pylist()
    if not doc:
        raise ValueError(f"doc_id {doc_id} not in the index")
    freq = _positional_phrase_freq(
        doc[0]["text"] if "text" in doc[0] else doc[0]["content"],
        terms, offsets, manifest.tokenizer)

    # norm byte from the per-pid norms blob (the kernel's own source)
    P = manifest.num_partitions
    pid, rel = int(doc_id) % P, int(doc_id) // P
    norm_byte = int(_pid_norms(manifest.norms_path, pid)[rel])

    avgdl = bm25.avg_field_length(manifest.sum_total_term_freq,
                                  doc_count, precision)
    cache = bm25.score_cache(avgdl, manifest.k1, manifest.b, precision)
    dfs = np.array([p["doc_freq"] for p in per_term], dtype=np.int64)
    weight = bm25.phrase_weight(dfs, doc_count, boost=boost,
                                precision=precision)
    if freq > 0 and all(p["doc_freq"] for p in per_term):
        score = float(bm25.score(np.array([freq]), np.array([norm_byte]),
                                 float(weight), cache, precision)[0])
        matches = True
    else:
        score, matches = 0.0, False
    from pim_lucene_spark.functions.smallfloat import byte4_to_int
    return {
        "doc_id": int(doc_id),
        "matches": matches,
        "score": score,
        "description": (f"score = weight - weight/(1 + freq*cache), "
                        f"weight = boost * sum(idf), k1={manifest.k1}, "
                        f"b={manifest.b}"),
        "boost": boost,
        "weight": float(weight),
        "freq": int(freq),
        "per_term": per_term,
        "norm_byte": norm_byte,
        "quantized_doc_length": int(byte4_to_int(
            np.array([norm_byte], dtype=np.int64))[0]),
        "avgdl": float(avgdl),
        "cache": float(cache[norm_byte]),
        "precision": precision,
    }


def _positional_phrase_freq(doc_text: str, terms, offsets,
                            tokenizer: str) -> int:
    """Overlap-counting exact phrase freq over the doc's ANALYZED token
    positions — gap-aware (english analyzer: both the doc's stored
    positions and a gapped query's offsets), identical to the kernel's
    shifted-key intersection."""
    import numpy as np
    import pandas as pd

    from pim_lucene_spark.functions.tokenize import tokenize_to_codes
    _, codes, pos, uniq = tokenize_to_codes(
        pd.Series([doc_text or ""], dtype=object), tokenizer)
    toks = uniq[codes] if codes.size else np.empty(0, dtype=object)
    keys = None
    for i, t in enumerate(terms):
        off = i if offsets is None else offsets[i]
        mine = pos[toks == t] - off
        keys = mine if keys is None else np.intersect1d(keys, mine,
                                                        assume_unique=True)
        if keys.size == 0:
            return 0
    return int(keys.size)


def _explain_interval(manifest, q, doc_id: int, precision: str) -> dict:
    """IntervalQuery explain (IntervalScoreFunction.explain shape):
    minimal intervals recomputed over the doc's stored token positions
    with the SAME kernel functions, freq = Σ 1/max(len − minExtent + 1,
    1), score = boost·(1 − pivot/(pivot + freq)) — bit-identical to
    ``_interval_match``."""
    import numpy as np
    import pyarrow.parquet as pq

    import pandas as pd

    from pim_lucene_spark.functions.intervals import (interval_freqs_keys,
                                                      saturation_scores)
    from pim_lucene_spark.functions.tokenize import (tokenize_one,
                                                     tokenize_to_codes)

    tok = manifest.tokenizer
    if q.sources is not None:
        slots = []
        for src in q.sources:
            alt = []
            for a in src:
                ts = tokenize_one(a, tok)
                if len(ts) != 1:  # engine contract (_SpecBuilder)
                    raise ValueError(
                        f"interval source {a!r} must analyze to exactly "
                        f"one term (got {ts!r})")
                alt.append(ts[0])
            slots.append(tuple(dict.fromkeys(alt)) or ("",))
        slots = tuple(slots)
    else:
        slots = tuple((t,) for t in tokenize_one(q.text, tok))
    out = {"doc_id": int(doc_id), "query": "IntervalQuery",
           "ordered": bool(q.ordered),
           "terms": [list(s) for s in slots],
           "max_gaps": q.max_gaps, "max_width": q.max_width,
           "pivot": float(q.pivot),
           "description": ("saturation function on interval frequency, "
                           "w * S / (S + k) — IntervalScoreFunction.java")}
    if not slots or any(s == ("",) for s in slots):
        return dict(out, matches=False, score=0.0, freq=0.0)
    doc = pq.read_table(
        manifest.docs_path,
        filters=[("doc_id", "in", [int(doc_id)])]).to_pylist()
    if not doc:
        raise ValueError(f"doc_id {doc_id} not in the index")
    # analyzed doc positions (gapped for the english analyzer — the
    # same ordinals the index stores)
    _, codes, pos, uniq = tokenize_to_codes(
        pd.Series([doc[0]["text"] if "text" in doc[0]
                   else doc[0]["content"]], dtype=object), tok)
    toks = uniq[codes] if codes.size else np.empty(0, dtype=object)
    keys = [np.sort(pos[np.isin(toks, list(s))]).astype(np.int64)
            for s in slots]
    if any(k.size == 0 for k in keys):
        return dict(out, matches=False, score=0.0, freq=0.0)
    freq = float(interval_freqs_keys(keys, 1, bool(q.ordered), q.max_gaps,
                                     q.max_width, precision)[0])
    if freq == 0.0:
        return dict(out, matches=False, score=0.0, freq=0.0)
    score = float(saturation_scores(np.asarray([freq]), float(q.boost),
                                    float(q.pivot), precision)[0])
    return dict(out, matches=True, score=score, freq=freq,
                boost=float(q.boost))


def _explain_synonym(manifest, q, doc_id: int, precision: str) -> dict:
    """SynonymWeight explain: one BM25 score from the merged
    pseudo-term stats (idf of the max docFreq) against the boosted
    frequency sum — bit-identical to the kernel's ``_syn_match``."""
    import pyarrow.parquet as pq

    from pim_lucene_spark.functions import bm25
    from pim_lucene_spark.functions.smallfloat import byte4_to_int
    from pim_lucene_spark.functions.tokenize import tokenize_one
    from pim_lucene_spark.operators.search import _pid_norms

    terms = [t for t, _ in q.terms]
    stats = pq.read_table(manifest.stats_path,
                          filters=[("term", "in", terms)])
    df_map = dict(zip(stats.column("term").to_pylist(),
                      stats.column("doc_freq").to_pylist()))
    doc_count = manifest.doc_count
    doc = pq.read_table(
        manifest.docs_path,
        filters=[("doc_id", "in", [int(doc_id)])]).to_pylist()
    if not doc:
        raise ValueError(f"doc_id {doc_id} not in the index")
    tokens = tokenize_one(doc[0]["text"] if "text" in doc[0]
                          else doc[0]["content"], manifest.tokenizer)
    acc = np.float32 if precision == "float32" else np.float64
    freq = acc(0.0)
    per_term, mdf = [], 0
    for t, tb in q.terms:
        df = int(df_map.get(t, 0))
        tf = tokens.count(t) if df else 0
        per_term.append({"term": t, "term_boost": float(tb),
                         "doc_freq": df, "tf": tf})
        if df:
            mdf = max(mdf, df)
            if tf:
                freq = freq + acc(tf) * acc(tb)
    matches = bool(mdf) and float(freq) > 0.0
    if not matches:
        return {"doc_id": int(doc_id), "query": "SynonymQuery",
                "matches": False, "score": 0.0, "per_term": per_term}
    weight = bm25.phrase_weight(np.asarray([mdf], dtype=np.int64),
                                doc_count, boost=float(q.boost),
                                precision=precision)
    P = manifest.num_partitions
    pid, rel = int(doc_id) % P, int(doc_id) // P
    norm_byte = int(_pid_norms(manifest.norms_path, pid)[rel])
    avgdl = bm25.avg_field_length(manifest.sum_total_term_freq,
                                  doc_count, precision)
    cache = bm25.score_cache(avgdl, manifest.k1, manifest.b, precision)
    score = float(bm25.score(np.asarray([freq]),
                             np.asarray([norm_byte]), float(weight),
                             cache, precision)[0])
    return {
        "doc_id": int(doc_id), "query": "SynonymQuery", "matches": True,
        "score": score,
        "description": ("freq = sum(term_boost * tf) in declaration "
                        "order; weight = boost * idf(max docFreq) — "
                        "SynonymQuery.java merged statistics"),
        "boost": float(q.boost), "weight": float(weight),
        "freq": float(freq), "pseudo_doc_freq": int(mdf),
        "per_term": per_term, "norm_byte": norm_byte,
        "quantized_doc_length": int(byte4_to_int(
            np.array([norm_byte], dtype=np.int64))[0]),
        "avgdl": float(avgdl), "cache": float(cache[norm_byte]),
        "precision": precision,
    }


def _boosted_clause(clause, mul: float):
    """Materialize a clause with the enclosing boolean's boost folded in
    (BooleanWeight passes its boost to scoring sub-weights)."""
    from pim_lucene_spark.plans.boolean import BooleanQuery
    from pim_lucene_spark.plans.query import PhraseQuery

    from dataclasses import replace

    from pim_lucene_spark.plans.query import (IntervalQuery,
                                              MatchAllDocsQuery,
                                              SynonymQuery)
    if isinstance(clause, (BooleanQuery, MatchAllDocsQuery,
                           SynonymQuery, IntervalQuery)):
        return replace(clause, boost=float(clause.boost) * mul)
    text = getattr(clause, "text", clause)
    if not isinstance(text, str):
        raise ValueError(
            "explain composes term/phrase/nested-boolean clauses; "
            f"unsupported clause {type(clause).__name__}")
    if int(getattr(clause, "slop", 0)):
        raise ValueError("explain covers exact (slop=0) clauses")
    return PhraseQuery(text, boost=float(getattr(clause, "boost", 1.0))
                       * mul)


def _explain_clause(manifest, clause, doc_id: int, precision: str) -> dict:
    """Leaf/nested clause explain with the search plans' empty-analysis
    semantics: a clause that tokenizes to zero terms simply never
    matches (plan_queries drops it), it is not an error."""
    from pim_lucene_spark.functions.tokenize import tokenize_one
    from pim_lucene_spark.plans.boolean import BooleanQuery

    from pim_lucene_spark.plans.query import (MatchAllDocsQuery,
                                              SynonymQuery)
    if not isinstance(clause, (BooleanQuery, MatchAllDocsQuery,
                               SynonymQuery)):
        text = getattr(clause, "text", clause)
        if isinstance(text, str) and \
                not tokenize_one(text, manifest.tokenizer):
            return {"doc_id": int(doc_id), "matches": False,
                    "score": 0.0,
                    "description": "clause analyzes to zero terms"}
    return explain(manifest, clause, doc_id, precision)


def _explain_boolean(manifest, bq, doc_id: int, precision: str) -> dict:
    """BooleanWeight explain: "sum of:" over matching scoring clauses
    (MUST then SHOULD, declaration order — the kernel's exact float
    association), with the match gates (MUST/FILTER/MUST_NOT/msm)
    reported."""
    import numpy as np

    eff = float(bq.boost)
    out = {"doc_id": int(doc_id), "query": "BooleanQuery",
           "description": "sum of matching scoring clauses "
                          "(BooleanWeight)", "clauses": []}
    gates_ok = True
    should_hits = 0
    acc = 0.0
    for role in ("must", "filter", "should", "must_not"):
        scoring = role in ("must", "should")
        for cl in getattr(bq, role):
            sub = _explain_clause(manifest,
                                  _boosted_clause(cl, eff if scoring
                                                  else 1.0),
                                  doc_id, precision)
            out["clauses"].append(dict(sub, occur=role))
            if role in ("must", "filter") and not sub["matches"]:
                gates_ok = False
            if role == "must_not" and sub["matches"]:
                gates_ok = False
            if role == "should" and sub["matches"]:
                should_hits += 1
    has_base = bool(bq.must or bq.filter)
    required = (int(bq.min_should_match) if has_base
                else max(1, int(bq.min_should_match)))
    if bq.should and should_hits < required:
        gates_ok = False
    if gates_ok:
        for sub in out["clauses"]:  # MUST then SHOULD declaration order
            if sub["occur"] in ("must", "should") and sub["matches"]:
                acc += sub["score"]
        score = (float(np.float32(acc)) if precision == "float32"
                 else acc)
        out.update(matches=True, score=score)
    else:
        out.update(matches=False, score=0.0)
    out["min_should_match"] = int(bq.min_should_match)
    out["should_matches"] = should_hits
    return out


def _explain_dismax(manifest, dq, doc_id: int, precision: str) -> dict:
    """DisjunctionMaxScorer explain: max + tie·(sum − max), BoostQuery
    boost at the top — bit-identical to ``search_dismax``."""
    import numpy as np

    out = {"doc_id": int(doc_id), "query": "DisMaxQuery",
           "description": f"max plus {dq.tie} times others "
                          "(DisjunctionMaxScorer)", "clauses": []}
    scores = []
    for cl in dq.clauses:
        sub = _explain_clause(manifest, _boosted_clause(cl, 1.0), doc_id,
                              precision)
        out["clauses"].append(sub)
        if sub["matches"]:
            scores.append(sub["score"])
    if not scores:
        out.update(matches=False, score=0.0)
        return out
    mx, total = max(scores), 0.0
    for s in scores:
        total += s
    score = mx + float(dq.tie) * (total - mx)
    if float(dq.boost) != 1.0:
        score = score * float(dq.boost)
    if precision == "float32":
        score = float(np.float32(score))
    out.update(matches=True, score=score, tie=float(dq.tie),
               boost=float(dq.boost))
    return out
