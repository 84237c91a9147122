"""In-kernel boolean/dismax/BM25F composition — no clause materialization.

Postings are routed ``doc_id % P`` at build time, so EVERY clause's
postings for a given doc live in the same partition.  Compositional
queries (BooleanQuery score-sum, DisjunctionMaxQuery max+tie, multiterm
scoring-boolean sum, BM25F weighted-tf merge) therefore never need to
push per-clause match sets through a shuffle: each partition evaluates
every clause locally against its co-located postings (shared decode
cache), composes per doc in numpy — in clause-declaration order, the
float association of the DuckDB oracles — and emits only its top-k
composed rows: one shuffle of ≤ P·k rows per query, never a clause's
full match set.

Reference semantics held bit-exactly:

- ``BooleanWeight``: per-doc clause scores accumulate in double in
  clause-declaration order (MUST columns then SHOULD columns), float32
  mode casts the final sum; FILTER gates scorelessly, MUST_NOT excludes,
  ``minimumNumberShouldMatch`` counts SHOULD matches.
- ``DisjunctionMaxScorer.score``: ``max + tie*(sum - max)``, boost
  multiplied at the top (``BoostQuery``).
- scoring-boolean multiterm rewrite: per-doc sum over expanded terms in
  expansion order (``BooleanQuery`` of ``TermQuery`` clauses).
- nested groups: the inner boolean's composed score is the clause score,
  float-cast at the group boundary exactly like a sub-scorer returning
  float.

MatchAllDocs clauses host in-kernel as a constant per-doc contribution
(never a materialized set; such a batch runs the kernel on every pid,
postings or not — the reference's ``MatchAllDocsQuery`` scorer is a
constant iterator).  Constant-score multiterm clauses host in-kernel at
any width: the expansion (resident term dictionary, pyarrow pushdown)
is folded into a sorted doc-id union ``MAX_CLAUSE_COUNT`` terms at a
time, and the union stays in its partition (Lucene's constant-score
rewrite is a doc-id set union with no clause cap).  Sloppy phrase
clauses host in-kernel too: the stored per-term position streams feed
the exact Lucene ``SloppyPhraseMatcher`` traversal
(``functions/sloppy.py``) per candidate doc — no corpus re-tokenize,
no unbounded scan frame.  Every boolean, DisMax, scoring-multiterm,
fielded boolean and BM25F query therefore has this one plan.

Multi-field batches (``search_boolean_fields``, BM25F) ride the same
kernel: every field's sub-index shares ``num_partitions`` (checked once,
in :func:`~pim_lucene_spark.manifest.resolve_manifests`), so pid N of
every field holds the same doc subset — a task reads each field's files
for its pids and composes per partition.

Every route runs on the zero-exchange file plan search uses
(``Range → MapInPandas``, :func:`_run_file_plan`): each task reads its
pids' postings per field once plus their norms and live masks, and the
per-pid runner the term/phrase kernel uses
(:func:`~pim_lucene_spark.operators.search._run_pids`) feeds the
kernel — the same runner the serving path feeds from its resident
pids.  Every kernel here (:func:`_compound_core` in each mode,
:func:`_bm25f_core`, :func:`_sloppy_core`) returns its pid's columns as
arrays, or ``None`` without rows; the runner concatenates them and a
frame is built once per task or request.  The only Exchange left is
the rank window (or aggregate) over the kernel's per-partition rows.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pim_lucene_spark.functions import bm25
from pim_lucene_spark.functions.sloppy import sloppy_freqs_postings
from pim_lucene_spark.manifest import IndexManifest
from pim_lucene_spark.sparkutil import local_empty
from pim_lucene_spark.operators.search import (
    _DecodeCtx,
    _file_plan,
    _kernel_payload,
    _kernel_task_count,
    _phrase_candidates,
    _phrase_match_counts,
    _read_group,
    _run_local,
    _top_k,
    _top_k_window,
    plan_queries,
    term_doc_freqs,
)

COMPOUND_SCHEMA = T.StructType([
    T.StructField("qid", T.LongType(), False),
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("score", T.DoubleType(), False),
])

_EMPTY_I64 = np.empty(0, dtype=np.int64)
_EMPTY_F64 = np.empty(0, dtype=np.float64)


# ---------------------------------------------------------------------------
# kernel side
# ---------------------------------------------------------------------------

def _leaf_match(ctx: _DecodeCtx, norms: np.ndarray, terms: tuple,
                weight: float, cache: np.ndarray, precision: str,
                cand_segs: np.ndarray | None = None, slop: int = 0,
                offsets: tuple | None = None
                ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One term/phrase clause's partition-local match set →
    (docs ascending-unique, float64 scores, float64 freqs).  Same decode
    machinery as the search kernel (co-presence segment masks, lazy
    positions), no top-k cut — composition needs every matching doc of
    this partition, but nothing ever leaves the partition.

    ``slop != 0`` replaces the exact overlap-count alignment with the
    Lucene ``SloppyPhraseMatcher`` traversal over the SAME index position
    streams (``functions/sloppy.py``) — freq is the float Σ 1/(1+len)
    weight sum, bit-identical to the scan path (which re-tokenizes to
    recover the very positions the index already stores).  Single-term
    phrases score as plain terms under any slop (every occurrence is a
    matchLength-0 match).

    ``cand_segs`` (a boolean per-segment mask) restricts decode to the
    segments holding a known candidate set — the MAXSCORE-flavored
    lookup mode: a SHOULD/MUST_NOT clause under a MUST/FILTER base never
    decodes a stopword's full postings, only the base docs' segments.
    The result is then a SUPERSET of the clause∩candidates match set
    (whole segments decode, and every doc inside a decoded segment gets
    its exact score), which is exactly what lookup composition needs.
    """
    if any(t not in ctx.by_term for t in terms):
        return _EMPTY_I64, _EMPTY_F64, _EMPTY_F64
    if len(terms) == 1:
        seg_mask = None
        if cand_segs is not None and not cand_segs.all():
            seg_mask = cand_segs
        lp = ctx.get(terms[0], seg_mask)
        docs = lp.rel_docs
        fr = lp.freqs.astype(np.float64)
        sc = np.asarray(bm25.score(lp.freqs, norms[docs], weight, cache,
                                   precision), dtype=np.float64)
        if docs.size > 1 and np.any(np.diff(docs) < 0):
            o = np.argsort(docs, kind="stable")
            docs, sc, fr = docs[o], sc[o], fr[o]
        return docs, sc, fr
    found = _phrase_candidates(ctx, terms, cand_segs)
    if found is None:
        return _EMPTY_I64, _EMPTY_F64, _EMPTY_F64
    tps, cand, idxs = found
    if slop:
        counts = sloppy_freqs_postings(tps, idxs, cand.size, list(terms),
                                       int(slop))
        hit = counts > 0.0
    else:
        counts = _phrase_match_counts(tps, idxs, cand.size,
                                      offsets=offsets)
        hit = counts > 0
    if not hit.any():
        return _EMPTY_I64, _EMPTY_F64, _EMPTY_F64
    docs = cand[hit]  # intersect1d output is sorted
    sc = np.asarray(bm25.score(counts[hit], norms[docs], weight, cache,
                               precision), dtype=np.float64)
    return docs, sc, counts[hit].astype(np.float64)


def _syn_match(ctx: _DecodeCtx, norms: np.ndarray, terms: tuple,
               tboosts: tuple, weight: float, cache: np.ndarray,
               precision: str
               ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One SynonymQuery clause's partition-local match set →
    (docs ascending-unique, float64 scores, float64 freqs).

    ``SynonymQuery.java`` scoring: the clause matches the UNION of the
    terms' docs; per doc ``freq = Σ boostᵢ·tfᵢ`` accumulated in term-
    declaration order (float32 in the Lucene-parity mode, exactly
    ``FreqBoostTermScorer``'s float accumulator; float64 in oracle
    mode), then ONE BM25 score against the merged pseudo-term weight —
    the idf is never summed per term.
    """
    lps = [(ctx.get(t), tb) for t, tb in zip(terms, tboosts)
           if t in ctx.by_term]
    if not lps:
        return _EMPTY_I64, _EMPTY_F64, _EMPTY_F64
    acc = np.float32 if precision == "float32" else np.float64
    docs = np.unique(np.concatenate([lp.rel_docs for lp, _ in lps]))
    freq = np.zeros(docs.size, dtype=acc)
    for lp, tb in lps:  # declaration order — deterministic float sum
        freq[np.searchsorted(docs, lp.rel_docs)] += \
            lp.freqs.astype(acc) * acc(tb)
    sc = np.asarray(bm25.score(freq, norms[docs], weight, cache,
                               precision), dtype=np.float64)
    return docs, sc, freq.astype(np.float64)


def _interval_match(ctx: _DecodeCtx, slots: tuple, weight: float,
                    precision: str, ordered: bool, maxgaps, maxwidth,
                    pivot: float) -> tuple[np.ndarray, np.ndarray]:
    """One IntervalQuery clause's partition-local match set →
    (docs ascending-unique, float64 saturation scores).

    ``slots`` is a tuple of term-alternative tuples: each slot's
    positions are the UNION of its alternatives' positions
    (``Intervals.or`` over terms), and candidates are docs where every
    SLOT has at least one alternative (ConjunctionIntervalsSource).
    Per-candidate minimal-interval freqs come from
    :mod:`pim_lucene_spark.functions.intervals`; docs whose intervals
    all fail the maxgaps/maxwidth filter drop out (freq 0 = no match).
    Norms never enter (IntervalScorer scores ``(freq, norm=1)``)."""
    from pim_lucene_spark.functions.intervals import (_term_keys,
                                                      interval_freqs_keys,
                                                      saturation_scores)
    by_term = ctx.by_term
    live_slots = [tuple(t for t in s if t in by_term) for s in slots]
    if any(not s for s in live_slots):
        return _EMPTY_I64, _EMPTY_F64
    # co-presence prune: every SLOT needs a term with postings in a
    # segment for an interval to exist there
    pres = None
    for s in live_slots:
        p = None
        for t in s:
            for r in by_term[t]:
                c = np.asarray(r.seg_doc_counts) > 0
                p = c if p is None else (p | c)
        pres = p if pres is None else (pres & p)
    if not pres.any():
        return _EMPTY_I64, _EMPTY_F64
    seg_mask = None if pres.all() else pres
    terms = list(dict.fromkeys(t for s in live_slots for t in s))
    tp_of = dict(zip(terms, ctx.get_many(terms, seg_mask)))
    # candidate docs: ∩ over slots of (∪ over the slot's terms)
    cand = None
    for s in live_slots:
        u = (tp_of[s[0]].rel_docs if len(s) == 1 else
             np.unique(np.concatenate([tp_of[t].rel_docs for t in s])))
        cand = u if cand is None else np.intersect1d(
            cand, u, assume_unique=True)
        if cand.size == 0:
            return _EMPTY_I64, _EMPTY_F64
    keys = []
    for s in live_slots:
        parts = []
        for t in s:
            tp = tp_of[t]
            rd = tp.rel_docs
            if rd.size == 0:
                # an OR alternative whose postings all live in masked-
                # out segments: the co-presence AND runs per SLOT, so a
                # single alternative can decode empty here (the old
                # single-term-slot invariant ANDed every term's own
                # presence and could never hit this)
                continue
            # this term's subset of the candidate set + candidate ranks
            j = np.searchsorted(rd, cand)
            jc = np.minimum(j, rd.size - 1)
            present = (j < rd.size) & (rd[jc] == cand)
            if not present.any():
                continue
            parts.append(_term_keys(tp, j[present],
                                    ranks=np.flatnonzero(present)))
        merged = (parts[0] if len(parts) == 1
                  else np.unique(np.concatenate(parts)))
        if merged.size == 0:
            return _EMPTY_I64, _EMPTY_F64
        keys.append(merged)
    freqs = interval_freqs_keys(keys, cand.size, ordered, maxgaps,
                                maxwidth, precision)
    hit = freqs > 0.0
    if not hit.any():
        return _EMPTY_I64, _EMPTY_F64
    docs = cand[hit]
    sc = np.asarray(saturation_scores(freqs[hit], weight, pivot,
                                      precision), dtype=np.float64)
    return docs, sc


def _lookup(docs: np.ndarray, base: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Positions of ``base`` entries inside sorted-unique ``docs`` plus a
    presence mask (vectorized sorted-merge membership)."""
    if docs.size == 0:
        return np.zeros(base.size, dtype=np.int64), \
            np.zeros(base.size, dtype=bool)
    pos = np.searchsorted(docs, base)
    safe = np.minimum(pos, docs.size - 1)
    present = (pos < docs.size) & (docs[safe] == base)
    return pos, present


def _eval_spec(spec: dict, eval_leaf, precision: str,
               cand: np.ndarray | None = None,
               eval_ma=None) -> tuple[np.ndarray, np.ndarray]:
    """Recursive staged spec evaluation with lookup-mode decode saving.

    ``cand`` (ascending rel-doc array) restricts a sub-tree to a known
    candidate set: its leaves decode only the segments holding those
    docs.  The staging applies the same trick inside one boolean —
    after the first MUST clause establishes a base, every later
    MUST/FILTER/SHOULD/MUST_NOT clause evaluates in lookup mode (a
    stopword SHOULD under a rare MUST never decodes its full postings,
    the MAXSCORE essential/non-essential split for the based case).

    Float order matches the DuckDB oracle's coalesced clause-column sum
    exactly: left-to-right over MUST columns in declaration order, then
    SHOULD columns; adding a coalesced 0.0 is the float identity, so
    accumulating only the present clauses in the same order is
    bit-equal.
    """
    def ev(cl, c):
        if cl["kind"] == "scored":
            return eval_leaf(cl["sid"], c)
        if cl["kind"] == "matchall":
            # MatchAllDocsQuery scorer: a constant iterator over every
            # live doc of the partition — never a materialized set; the
            # candidate restriction short-circuits to the candidates
            # themselves (every doc matches *:*)
            return eval_ma(cl, c)
        if cl["kind"] in ("const_or", "dv_filter", "dv_range"):
            # constant-score multiterm: union of the expansion's
            # co-located match sets at a constant score (Lucene's
            # CONSTANT_SCORE rewrite builds a bit set, not a scorer);
            # dv_filter: drill-down ordinal test over the resident
            # doc-values array (score 0, Occur.FILTER semantics);
            # eval_ma dispatches on the clause kind
            return eval_ma(cl, c)
        return _eval_spec(cl["spec"], eval_leaf, precision, c, eval_ma)

    if spec["op"] == "dismax":
        clauses = [ev(cl, cand) for cl in spec.get("clauses", ())]
        non_empty = [d for d, _ in clauses if d.size]
        if not non_empty:
            return _EMPTY_I64, _EMPTY_F64
        base = np.unique(np.concatenate(non_empty))
        mx = np.zeros(base.size, dtype=np.float64)  # BM25 scores are > 0
        total = np.zeros(base.size, dtype=np.float64)
        for docs, sc in clauses:
            if docs.size == 0:
                continue
            pos = np.searchsorted(base, docs)  # docs ⊆ base
            np.maximum.at(mx, pos, sc)
            total[pos] += sc
        tie = float(spec.get("tie", 0.0))
        boost = float(spec.get("boost", 1.0))
        score = mx + tie * (total - mx)
        if boost != 1.0:
            score = score * boost
        if precision == "float32":
            score = score.astype(np.float32).astype(np.float64)
        return base, score

    msm = int(spec.get("msm", 0))
    must_res, base = [], None
    for cl in spec.get("must", ()):
        r = ev(cl, cand if base is None else base)
        must_res.append(r)
        base = r[0] if base is None else np.intersect1d(
            base, r[0], assume_unique=True)
    for cl in spec.get("filter", ()):
        r = ev(cl, cand if base is None else base)
        base = r[0] if base is None else np.intersect1d(
            base, r[0], assume_unique=True)
    had_base = base is not None
    should = spec.get("should", ())

    if had_base:
        acc = np.zeros(base.size, dtype=np.float64)
        for docs, sc in must_res:  # base ⊆ docs
            if base.size == 0:
                break
            pos = np.searchsorted(docs, base)
            acc += sc[pos]
        cnt = np.zeros(base.size, dtype=np.int64)
        for cl in should:  # lookup mode: only the base's segments decode
            if base.size == 0:
                break
            docs, sc = ev(cl, base)
            pos, present = _lookup(docs, base)
            acc[present] += sc[pos[present]]
            cnt[present] += 1
    else:
        # pure-should: union of clause match sets (full evaluation — the
        # parent's cand restriction, if any, passes through)
        should_res = [ev(cl, cand) for cl in should]
        if should_res:
            base = np.unique(np.concatenate([d for d, _ in should_res]))
        else:
            base = _EMPTY_I64
        acc = np.zeros(base.size, dtype=np.float64)
        cnt = np.zeros(base.size, dtype=np.int64)
        for docs, sc in should_res:
            pos = np.searchsorted(base, docs)  # docs ⊆ base
            acc[pos] += sc
            cnt[pos] += 1

    required = msm if had_base else max(1, msm)
    if (should and required > 1) or (had_base and required > 0):
        keep = cnt >= required
        base, acc = base[keep], acc[keep]
    for cl in spec.get("must_not", ()):
        if base.size == 0:
            break
        docs, _ = ev(cl, base)  # lookup mode
        keep = ~np.isin(base, docs, assume_unique=True)
        base, acc = base[keep], acc[keep]
    if precision == "float32":
        # BooleanWeight sums clause floats in double, returns float
        acc = acc.astype(np.float32).astype(np.float64)
    return base, acc


_FLAT_BATCH = True  # test hook: False forces the per-spec path
_FLAT_ROWS_PER_SPEC = 96  # mean matched rows/query above which the
#                           per-spec composition is cheaper (measured)
_FLAT_DENSE_FACTOR = 4  # dense bincount accumulator only when slots
#                         ≤ this × leaf rows (else sparse sorted path)


def _is_flat_should(spec: dict) -> bool:
    """True for a pure-SHOULD boolean whose clauses are all plain scored
    leaves (no must/filter/must_not/msm>1, no matchall/const_or/nested)
    — the dominant shape of a parsed OR replay, eligible for the
    cross-query batched composition."""
    return (spec.get("op") == "bool"
            and not spec.get("must") and not spec.get("filter")
            and not spec.get("must_not")
            and int(spec.get("msm", 0)) <= 1
            and bool(spec.get("should"))
            and all(cl["kind"] == "scored" for cl in spec["should"]))


def _eval_flat_batch(flat: list[dict], eval_leaf, precision: str,
                     k: int | None, P: int, pid: int, stride: int):
    """Compose ALL flat pure-SHOULD booleans of a partition in chunked
    vectorized passes: leaves evaluate once (shared cache), then one
    ``bincount`` over packed ``(query, doc)`` keys replaces one
    ``_eval_spec`` call per query — the per-query Python fixed cost
    (the P×Q multiplier on large batches) collapses into a few linear
    array ops, with NO sort over the leaf rows at all.

    Bit-exact with the per-spec path: ``bincount(weights=...)``
    accumulates strictly in array order, and the concatenation lays the
    clause blocks out in declaration order, so each (query, doc) cell
    sums its clause contributions left-to-right exactly like the
    per-clause ``acc[pos] += sc`` loop (``0.0 + s`` is the float
    identity); the same float32-at-group-boundary cast applies.

    ``stride`` is an exclusive upper bound on rel doc ids (the widest
    field's norms size); chunking bounds the dense accumulator at a few
    million slots regardless of batch size.
    """
    chunk_q = max(1, (1 << 22) // max(stride, 1))
    out_parts = []
    for c0 in range(0, len(flat), chunk_q):
        chunk = flat[c0:c0 + chunk_q]
        key_parts, sc_parts = [], []
        for i, spec in enumerate(chunk):
            off = i * stride
            for cl in spec["should"]:
                docs, sc = eval_leaf(cl["sid"])
                if docs.size:
                    key_parts.append(docs + off)
                    sc_parts.append(sc)
        if not key_parts:
            continue
        K = np.concatenate(key_parts)
        S = np.concatenate(sc_parts)
        nslots = len(chunk) * stride
        if nslots <= _FLAT_DENSE_FACTOR * K.size:
            # dense: high hit density, bincount scans pay off
            acc = np.bincount(K, weights=S, minlength=nslots)
            hit = np.bincount(K, minlength=nslots)  # scores may be 0.0
            nz = np.flatnonzero(hit)
            gq, gd = nz // stride, nz % stride
            gs = acc[nz]
        else:
            # sparse: stable sort on the packed key, then round-wise
            # accumulation by position-in-group — round j adds every
            # group's j-th clause contribution, so each cell still sums
            # strictly in clause declaration order (bit-exact with the
            # sequential per-spec loop); rounds = max clauses matching
            # one (query, doc), a small constant
            order = np.argsort(K, kind="stable")
            Ks, Ss = K[order], S[order]
            new = np.empty(Ks.size, dtype=bool)
            new[0] = True
            new[1:] = Ks[1:] != Ks[:-1]
            starts = np.flatnonzero(new)
            gid = np.cumsum(new) - 1
            posin = np.arange(Ks.size, dtype=np.int64) - starts[gid]
            o2 = np.argsort(posin, kind="stable")
            g2, s2 = gid[o2], Ss[o2]
            depth = int(posin[o2[-1]]) + 1
            bounds = np.searchsorted(posin[o2], np.arange(depth + 1))
            gs = np.zeros(starts.size, dtype=np.float64)
            for j in range(depth):
                sl = slice(bounds[j], bounds[j + 1])
                gs[g2[sl]] += s2[sl]  # one hit per group per round
            nz = Ks[starts]
            gq, gd = nz // stride, nz % stride
        if precision == "float32":
            # BooleanWeight sums clause floats in double, returns float
            gs = gs.astype(np.float32).astype(np.float64)
        # per-query top-k (score desc, doc asc) bounds the shuffle;
        # nz is already grouped by query with docs ascending
        order = np.lexsort((gd, -gs, gq))
        gq, gd, gs = gq[order], gd[order], gs[order]
        if k is not None and gq.size:
            qnew = np.empty(gq.size, dtype=bool)
            qnew[0] = True
            qnew[1:] = gq[1:] != gq[:-1]
            qstart = np.flatnonzero(qnew)
            rank = np.arange(gq.size, dtype=np.int64) - np.repeat(
                qstart, np.diff(np.append(qstart, gq.size)))
            keep = rank < k
            gq, gd, gs = gq[keep], gd[keep], gs[keep]
        qids = np.asarray([s["qid"] for s in chunk], dtype=np.int64)
        out_parts.append((qids[gq], gd * P + pid, gs))
    if not out_parts:
        return None
    return tuple(np.concatenate([p[j] for p in out_parts])
                 for j in range(3))


def _columns(cols: list[str], parts: list[list]) -> dict | None:
    """A core's output: ``parts[i]`` holds column ``cols[i]``'s
    per-query arrays; ``None`` when no query produced a row."""
    if not parts[0]:
        return None
    return {c: np.concatenate(p) for c, p in zip(cols, parts)}


def _const_union(ctx: _DecodeCtx, slices: tuple) -> np.ndarray:
    """Sorted rel-doc union of a constant-score expansion on one pid,
    decoded one slice of terms at a time.  A multi-slice expansion
    drops each slice's fresh decodes before the next, so the pid holds
    one slice plus the union however wide the expansion is."""
    union = _EMPTY_I64
    for terms in slices:
        terms = [t for t in terms if t in ctx.by_term]
        if not terms:
            continue
        fresh = [t for t in terms if t not in ctx.decoded]
        docs = np.concatenate([lp.rel_docs for lp in ctx.get_many(terms)])
        # unique also sorts (stripe order is not global)
        union = np.union1d(union, docs)
        if len(slices) > 1:
            for t in fresh:
                ctx.decoded.pop(t, None)
    return union


def _compound_core(payload: dict, pid: int,
                   per_field_by_term: dict[str, dict],
                   norms_live: dict[str, tuple]) -> dict | None:
    """The compound kernel for one pid: ``per_field_by_term`` holds the
    pid's rows per query term of each field that has any, and
    ``norms_live`` every payload field's ``(norms, live mask)``
    (:func:`_run_pids` supplies both).  The pid's columns as arrays, in
    the mode's schema order, or ``None`` without rows."""
    P = payload["num_partitions"]
    k = payload["k"]
    precision = payload["precision"]
    fields = payload["fields"]
    clause_plan = payload["clauses"]  # sid -> (field, terms, weight)

    ctxs = {f: _DecodeCtx(bt, payload, pid, ckey=fields[f]["cache_key"])
            for f, bt in per_field_by_term.items()}
    norms = {f: nl[0] for f, nl in norms_live.items()}
    live = {f: nl[1] for f, nl in norms_live.items()}

    # cross-QUERY leaf amortization: distinct (field, terms, weight)
    # triples evaluate once per partition per batch — queries sharing
    # clause terms (stopwords in a parsed replay) reuse the scored
    # match set instead of re-running decode+BM25.  A cached FULL
    # result is a valid answer for candidate-restricted calls too:
    # every consumer treats the clause frame as a (possibly superset)
    # sorted match set and looks its candidates up in it.
    leaf_cache: dict[tuple, tuple] = {}

    syn_boosts = payload.get("syn_boosts") or {}
    iv_specs = payload.get("iv_specs") or {}
    leaf_offsets = payload.get("leaf_offsets") or {}

    def eval_leaf(sid: int, cand: np.ndarray | None = None
                  ) -> tuple[np.ndarray, np.ndarray]:
        ent = clause_plan.get(sid)
        if ent is None:  # term absent index-wide (df=0): empty clause
            return _EMPTY_I64, _EMPTY_F64
        f, terms, weight, slop = ent
        if f not in ctxs:  # no postings rows for this field here
            return _EMPTY_I64, _EMPTY_F64
        ivp = iv_specs.get(sid)
        if ivp is not None:
            # interval clause: full evaluation (a valid superset answer
            # for candidate-restricted consumers), batch-cached like any
            # reusable leaf
            key = (ent, ivp)
            hit = leaf_cache.get(key)
            if hit is None:
                docs, sc = _interval_match(ctxs[f], terms, weight,
                                           precision, *ivp)
                if live.get(f) is not None and docs.size:
                    keep = live[f][docs]
                    docs, sc = docs[keep], sc[keep]
                hit = (docs, sc)
                leaf_cache[key] = hit
            return hit
        tb = syn_boosts.get(sid)
        if tb is not None:
            # synonym clause: full union evaluation (a valid superset
            # answer for candidate-restricted consumers), cached per
            # (field, terms, weight) like any other reusable leaf
            key = (ent, tb)
            hit = leaf_cache.get(key)
            if hit is None:
                docs, sc, _ = _syn_match(ctxs[f], norms[f], terms, tb,
                                         weight, fields[f]["cache"],
                                         precision)
                if live.get(f) is not None and docs.size:
                    keep = live[f][docs]
                    docs, sc = docs[keep], sc[keep]
                hit = (docs, sc)
                leaf_cache[key] = hit
            return hit
        offs = leaf_offsets.get(sid)
        ckey_leaf = ent if offs is None else (ent, offs)
        hit = leaf_cache.get(ckey_leaf)
        if hit is not None:
            return hit
        cand_segs = None
        if cand is not None:
            if cand.size == 0:
                return _EMPTY_I64, _EMPTY_F64
            # candidate rel docs → this field's segment mask (segments
            # partition the GLOBAL doc-id space per the field's layout)
            nseg = fields[f]["num_segments"]
            segs = np.unique((cand * P + pid)
                             // fields[f]["nb_doc_per_segment"])
            cand_segs = np.zeros(nseg, dtype=bool)
            cand_segs[segs[segs < nseg]] = True
        docs, sc, _ = _leaf_match(ctxs[f], norms[f], terms, weight,
                                  fields[f]["cache"], precision,
                                  cand_segs=cand_segs, slop=slop,
                                  offsets=offs)
        if live.get(f) is not None and docs.size:
            keep = live[f][docs]
            docs, sc = docs[keep], sc[keep]
        res = (docs, sc)
        if cand is None:  # only full evaluations are batch-reusable
            leaf_cache[ckey_leaf] = res
        return res

    const_cache: dict[tuple, np.ndarray] = {}

    def eval_ma(cl: dict, cand: np.ndarray | None = None
                ) -> tuple[np.ndarray, np.ndarray]:
        if cl["kind"] == "dv_range":
            # numeric doc-values range test (newSlowRangeQuery):
            # inclusive [lo, hi] against the resident value array
            from pim_lucene_spark.operators.docvalues import dv_values_for
            vals = dv_values_for(cl["path"], pid)
            lo, hi = cl["lo"], cl["hi"]
            if cand is not None:
                v = vals[cand]
                docs = cand[(v >= lo) & (v <= hi)]
            else:
                docs = np.flatnonzero((vals >= lo) & (vals <= hi)) \
                    .astype(np.int64)
                f = cl["field"]
                if f not in live:
                    raise KeyError(
                        f"dv_range field {f!r} has no resident "
                        "norms/live state (planning bug)")
                lv = live[f]
                if lv is not None and docs.size:
                    docs = docs[lv[docs]]
            return docs, np.zeros(docs.size, dtype=np.float64)
        if cl["kind"] == "dv_filter":
            # drill-down ordinal test (DrillDownQuery FILTER clause):
            # index the resident ordinal array, never postings.  With a
            # candidate set the test is a pure lookup; the full form
            # enumerates live matching docs of this partition.
            from pim_lucene_spark.operators.facets import facet_codes_for
            codes = facet_codes_for(cl["path"], pid)
            want = np.asarray(cl["codes"], dtype=np.int32)
            if want.size == 0:
                return _EMPTY_I64, _EMPTY_F64
            if cand is not None:
                docs = cand[np.isin(codes[cand], want)]
            else:
                docs = np.flatnonzero(np.isin(codes, want)).astype(
                    np.int64)
                f = cl["field"]
                if f not in live:
                    # the spec builder forces this field resident via
                    # matchall_fields — absence is a planning bug, and
                    # a wrong field's delete vector must never apply
                    raise KeyError(
                        f"dv_filter field {f!r} has no resident "
                        "norms/live state (planning bug)")
                lv = live[f]
                if lv is not None and docs.size:
                    docs = docs[lv[docs]]
            return docs, np.zeros(docs.size, dtype=np.float64)
        w = float(cl["weight"])
        if cl["kind"] == "const_or":
            # constant-score multiterm: sorted union of the expansion's
            # co-located (live) match sets; exact score == weight.
            # Candidate restriction is unnecessary — consumers accept a
            # superset frame — and the union caches per (field, slices)
            # so repeated wildcards across a batch decode once.
            f = cl["field"]
            ctx = ctxs.get(f)
            if ctx is None:
                return _EMPTY_I64, _EMPTY_F64
            key = (f, cl["slices"])
            docs = const_cache.get(key)
            if docs is None:
                docs = _const_union(ctx, cl["slices"])
                if live.get(f) is not None and docs.size:
                    docs = docs[live[f][docs]]
                const_cache[key] = docs
            return docs, np.full(docs.size, w, dtype=np.float64)
        # matchall: constant contribution to every co-located live doc;
        # with a candidate set the answer IS the candidates (all match)
        if cand is not None:
            return cand, np.full(cand.size, w, dtype=np.float64)
        f = cl.get("field")
        if f not in norms:  # fall back to any resident field's norms
            f = next(iter(norms), None)
            if f is None:
                return _EMPTY_I64, _EMPTY_F64
        docs = np.arange(norms[f].size, dtype=np.int64)
        if live.get(f) is not None:
            docs = docs[live[f]]
        return docs, np.full(docs.size, w, dtype=np.float64)

    if payload.get("count_only"):
        # IndexSearcher.count semantics: only per-(query, partition)
        # match COUNTS leave the kernel — one long per query per pid
        return {
            "qid": np.asarray([s["qid"] for s in payload["specs"]],
                              dtype=np.int64),
            "n": np.asarray(
                [_eval_spec(s, eval_leaf, precision,
                            eval_ma=eval_ma)[0].size
                 for s in payload["specs"]], dtype=np.int64),
        }

    if payload.get("facet"):
        # facet counting (SortedSetDocValuesFacetCounts semantics):
        # bincount each query's matched docs over the partition's
        # resident ordinal array — only (qid, ordinal, count) rows
        # leave the kernel, O(queries × cardinality) never O(matches)
        from pim_lucene_spark.operators.facets import facet_codes_for
        codes = facet_codes_for(payload["facet"]["path"], pid)
        qs, cs, ns = [], [], []
        for spec in payload["specs"]:
            docs, _ = _eval_spec(spec, eval_leaf, precision,
                                 eval_ma=eval_ma)
            if docs.size == 0:
                continue
            sel = codes[docs]
            sel = sel[sel >= 0]  # -1 = null/unseen dim value
            if sel.size == 0:
                continue
            bc = np.bincount(sel)
            nz = np.flatnonzero(bc)
            qs.append(np.full(nz.size, spec["qid"], dtype=np.int64))
            cs.append(nz.astype(np.int32))
            ns.append(bc[nz])
        return _columns(["qid", "code", "n"], [qs, cs, ns])

    if payload.get("facet_stats"):
        # association-facet aggregation (TaxonomyFacetIntAssociations /
        # the terms-agg-with-stats shape): per (query, bucket) the
        # count, sum, min and max of a numeric doc value over matched
        # docs — one bincount + grouped min/max per query against the
        # RESIDENT ordinal + value arrays; only per-bucket aggregate
        # rows cross the exchange, O(queries × cardinality) never
        # O(matches)
        from pim_lucene_spark.operators.docvalues import dv_values_for
        from pim_lucene_spark.operators.facets import facet_codes_for
        fs = payload["facet_stats"]
        codes = facet_codes_for(fs["ord_path"], pid)
        vals = dv_values_for(fs["val_path"], pid)
        f_q, f_c, f_n, f_s, f_mn, f_mx = [], [], [], [], [], []
        for spec in payload["specs"]:
            docs, _ = _eval_spec(spec, eval_leaf, precision,
                                 eval_ma=eval_ma)
            if docs.size == 0:
                continue
            grp = codes[docs]
            keep = grp >= 0
            grp, dv = grp[keep], vals[docs[keep]]
            if grp.size == 0:
                continue
            # grouped reduction via one sort + reduceat (vectorized;
            # the ufunc.at idiom is an order of magnitude slower) —
            # int64 reduceat sums are exact
            order = np.argsort(grp, kind="stable")
            g, v = grp[order], dv[order]
            first = np.concatenate(
                ([0], np.flatnonzero(g[1:] != g[:-1]) + 1))
            f_q.append(np.full(first.size, spec["qid"], dtype=np.int64))
            f_c.append(g[first].astype(np.int32))
            f_n.append(np.diff(np.append(first, g.size))
                       .astype(np.int64))
            f_s.append(np.add.reduceat(v, first))
            f_mn.append(np.minimum.reduceat(v, first))
            f_mx.append(np.maximum.reduceat(v, first))
        return _columns(["qid", "code", "n", "sum", "mn", "mx"],
                        [f_q, f_c, f_n, f_s, f_mn, f_mx])

    if payload.get("sort"):
        # sort-by-field (TopFieldCollector / Sort(SortField(LONG))
        # semantics): matched rel docs index the partition's resident
        # numeric doc-values array; the per-partition cut keeps the k
        # best by (value, doc asc) so the exchange ships ≤ P·k rows no
        # matter how many docs match — scores are never shipped
        # (trackScores=false is the Lucene default for field sorts)
        from pim_lucene_spark.operators.docvalues import dv_values_for
        so = payload["sort"]
        vals = dv_values_for(so["path"], pid)
        sk = so["k"]
        after = so.get("after") or {}
        o_q, o_d, o_v = [], [], []
        for spec in payload["specs"]:
            docs, _ = _eval_spec(spec, eval_leaf, precision,
                                 eval_ma=eval_ma)
            if docs.size == 0:
                continue
            key = vals[docs]
            mark = after.get(spec["qid"])
            if mark is not None:
                # searchAfter for field sorts (TopFieldDocs paging):
                # strictly past the previous page's last (value, doc)
                # mark, filtered BEFORE the per-partition cut so deep
                # pages ship the same ≤ P·k rows as page one
                av, ad = int(mark[0]), int(mark[1])
                gdocs = docs * P + pid
                if so["reverse"]:
                    keep = (key < av) | ((key == av) & (gdocs > ad))
                else:
                    keep = (key > av) | ((key == av) & (gdocs > ad))
                docs, key = docs[keep], key[keep]
                if docs.size == 0:
                    continue
            # descending via bitwise NOT (~k = -k-1): strictly monotone
            # decreasing and overflow-free at INT64_MIN, unlike -k
            order = np.lexsort((docs, ~key if so["reverse"] else key))
            if sk is not None and order.size > sk:
                order = order[:sk]
            o_q.append(np.full(order.size, spec["qid"], dtype=np.int64))
            o_d.append(docs[order] * P + pid)
            o_v.append(key[order])
        return _columns(["qid", "doc_id", "sortval"], [o_q, o_d, o_v])

    if payload.get("collapse"):
        # field collapsing / grouping (lucene/grouping
        # TopGroupsCollector): per (query, group ordinal) only the
        # group_size best-scoring docs leave the kernel — the global
        # per-group top-H is the merge of partition top-Hs, so the
        # exchange is O(queries × cardinality × group_size), never
        # O(matches); docs with a null/unseen group value drop (the
        # grouping module's requiresGroupField contract)
        from pim_lucene_spark.operators.facets import facet_codes_for
        codes = facet_codes_for(payload["collapse"]["path"], pid)
        H = int(payload["collapse"].get("group_size", 1))
        c_q, c_c, c_d, c_s = [], [], [], []
        for spec in payload["specs"]:
            docs, scores = _eval_spec(spec, eval_leaf, precision,
                                      eval_ma=eval_ma)
            if docs.size == 0:
                continue
            grp = codes[docs]
            keep = grp >= 0
            docs, scores, grp = docs[keep], scores[keep], grp[keep]
            if docs.size == 0:
                continue
            # (code asc, score desc, doc asc); first H rows per code
            order = np.lexsort((docs, -scores, grp))
            g_sorted = grp[order]
            first = np.concatenate(
                ([0], np.flatnonzero(g_sorted[1:] != g_sorted[:-1]) + 1))
            sizes = np.diff(np.append(first, g_sorted.size))
            within = np.arange(g_sorted.size) - np.repeat(first, sizes)
            sel = order[within < H]
            c_q.append(np.full(sel.size, spec["qid"], dtype=np.int64))
            c_c.append(grp[sel].astype(np.int32))
            c_d.append(docs[sel] * P + pid)
            c_s.append(scores[sel])
        return _columns(["qid", "code", "doc_id", "score"],
                        [c_q, c_c, c_d, c_s])

    if payload.get("ranges"):
        # numeric range facets (LongRangeFacetCounts): sort each query's
        # matched values once, then every [lo, hi) range is two binary
        # searches — O(m log m + R log m) per query-partition, ranges
        # may overlap (the Lucene contract); only (qid, ridx, n) rows
        # with n > 0 leave the kernel
        from pim_lucene_spark.operators.docvalues import dv_values_for
        ro = payload["ranges"]
        vals = dv_values_for(ro["path"], pid)
        lo = np.asarray(ro["lo"], dtype=np.int64)
        hi = np.asarray(ro["hi"], dtype=np.int64)
        r_q, r_r, r_n = [], [], []
        for spec in payload["specs"]:
            docs, _ = _eval_spec(spec, eval_leaf, precision,
                                 eval_ma=eval_ma)
            if docs.size == 0:
                continue
            sv = np.sort(vals[docs])
            n = (np.searchsorted(sv, hi, side="left")
                 - np.searchsorted(sv, lo, side="left"))
            nz = np.flatnonzero(n)
            if nz.size == 0:
                continue
            r_q.append(np.full(nz.size, spec["qid"], dtype=np.int64))
            r_r.append(nz.astype(np.int32))
            r_n.append(n[nz].astype(np.int64))
        return _columns(["qid", "ridx", "n"], [r_q, r_r, r_n])

    flat, general = [], []
    for spec in payload["specs"]:
        if _FLAT_BATCH and _is_flat_should(spec):
            flat.append(spec)
        else:
            general.append(spec)

    out_qid, out_doc, out_score = [], [], []
    if flat:
        # leaves evaluate once either way (the cache makes the second
        # lookup free), so measure the composition load first: batched
        # composition wins when match sets are small (per-query Python
        # fixed cost dominates); the per-spec numpy loop wins when a
        # stopword-heavy batch makes the per-(query,doc) row volume the
        # cost instead (measured crossover ≈ 10² rows/query/partition)
        t_rows = sum(eval_leaf(cl["sid"])[0].size
                     for spec in flat for cl in spec["should"])
        if t_rows <= _FLAT_ROWS_PER_SPEC * len(flat):
            stride = max((nv.size for nv in norms.values()), default=0)
            r = _eval_flat_batch(flat, eval_leaf, precision, k, P, pid,
                                 stride)
            if r is not None:
                out_qid.append(r[0])
                out_doc.append(r[1])
                out_score.append(r[2])
        else:
            general = flat + general
    for spec in general:
        docs, scores = _eval_spec(spec, eval_leaf, precision,
                                  eval_ma=eval_ma)
        if docs.size == 0:
            continue
        # per-partition top-k (score desc, doc asc) bounds the shuffle
        order = np.lexsort((docs, -scores))
        if k is not None and order.size > k:
            order = order[:k]
        out_qid.append(np.full(order.size, spec["qid"], dtype=np.int64))
        out_doc.append(docs[order] * P + pid)
        out_score.append(scores[order])
    return _columns(["qid", "doc_id", "score"], [out_qid, out_doc, out_score])


def _run_file_plan(spark: SparkSession,
                   manifests: dict[str, IndexManifest], payload: dict,
                   core, schema: T.StructType) -> DataFrame:
    """``core`` over every pid on the zero-exchange file plan
    (:func:`~pim_lucene_spark.operators.search._file_plan`): fields with
    needed terms are read, tasks sized by their Σdf, and a MatchAllDocs
    batch plans over every pid in ``range(P)``, postings or not."""
    needed = payload["needed_terms"]
    read = {f: manifests[f] for f, ts in needed.items() if ts}
    total_df = sum(sum(term_doc_freqs(spark, m, needed[f]).values())
                   for f, m in read.items())
    P = payload["num_partitions"]
    pids = list(range(P)) if payload.get("has_matchall") else None
    return _file_plan(spark, read, partial(_read_group, payload, core),
                      schema, _kernel_task_count(P, total_df), pids)


SLOPPY_KERNEL_SCHEMA = T.StructType([
    T.StructField("qid", T.LongType(), False),
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("freq", T.DoubleType(), False),
    T.StructField("norm", T.IntegerType(), False),
    T.StructField("score", T.DoubleType(), False),
])


def search_sloppy_kernel(spark: SparkSession, index, queries,
                         k: int | None = 10,
                         slop: int | dict[int, int] = 0,
                         precision: str = "float32") -> DataFrame:
    """Index-hosted sloppy (and mixed exact) phrase batch — the scale
    path for ``slop != 0`` standalone queries.

    The scan fallback (``plans/router.py::brute_force_search``)
    re-tokenizes the ENTIRE corpus per batch to recover token positions
    the index already stores; at 100× corpus scale that is a full-table
    Arrow tokenize per query batch.  This kernel instead reads only the
    query terms' postings (the file plan: each task reads its pids'
    files directly, no Exchange), intersects
    candidates per partition, runs the exact Lucene
    ``SloppyPhraseMatcher`` traversal over the stored position streams
    (``functions/sloppy.py`` — the same floats as the scan, since both
    consume the same raw positions), and emits per-partition top-k.
    Output schema matches the scan path (``freq`` DOUBLE, ``norm`` the
    SmallFloat byte); deleted docs are masked after stats, before top-k
    (Lucene pre-merge semantics).  Differential-tested bit-identical to
    the scan at both precisions.
    """
    manifest = (IndexManifest.load(index) if isinstance(index, str)
                else index)
    norm_q = [tuple(q) for q in queries]
    slops = (dict(slop) if isinstance(slop, dict)
             else {q[0]: int(slop) for q in norm_q})
    gap_offsets: dict = {}
    planned, needed = plan_queries(spark, manifest, norm_q, k, precision,
                                   collect_offsets=gap_offsets)
    if not planned:
        return local_empty(spark, SLOPPY_KERNEL_SCHEMA)
    payload = _kernel_payload(
        manifest, precision, needed,
        # exact (slop=0) members of a mixed batch carry their gapped
        # PhraseQuery offsets (english analyzer) — the scan path is
        # gap-aware, and the two must stay bit-identical.  Sloppy
        # members keep consecutive offsets on BOTH paths (documented
        # divergence from Lucene's gapped SloppyPhraseMatcher).
        queries=[(int(qid), tuple(terms), float(w),
                  int(slops.get(qid, 0)),
                  gap_offsets.get(qid) if not slops.get(qid, 0)
                  else None)
                 for qid, terms, w in planned],
        k=None if k is None else int(k))
    per_part = _run_file_plan(spark, {"": manifest}, payload, _sloppy_core,
                              SLOPPY_KERNEL_SCHEMA)
    if k is None:
        # clause-frame consumers: every match, no per-qid global sort
        return per_part
    return _top_k_window(per_part, k)


def _sloppy_core(payload: dict, pid: int, per_field_by_term: dict,
                 norms_live: dict) -> dict | None:
    """Per-pid sloppy/exact phrase kernel: each query's partition-local
    match set (:func:`_leaf_match`), deletes masked, per-partition
    top-k; the pid's columns as arrays, or ``None`` without hits."""
    P = payload["num_partitions"]
    kk = payload["k"]
    norms, live = norms_live[""]
    ctx = _DecodeCtx(per_field_by_term.get("", {}), payload, pid,
                     ckey=payload["cache_key"])
    o_q, o_d, o_f, o_n, o_s = [], [], [], [], []
    for qid, terms, w, q_slop, offs in payload["queries"]:
        docs, sc, fr = _leaf_match(ctx, norms, terms, w, payload["cache"],
                                   payload["precision"], slop=q_slop,
                                   offsets=offs)
        if live is not None and docs.size:
            keep = live[docs]
            docs, sc, fr = docs[keep], sc[keep], fr[keep]
        if docs.size == 0:
            continue
        order = np.lexsort((docs, -sc))
        if kk is not None and order.size > kk:
            order = order[:kk]
        o_q.append(np.full(order.size, qid, dtype=np.int64))
        o_d.append(docs[order] * P + pid)
        o_f.append(fr[order])
        o_n.append(norms[docs[order]].astype(np.int32))
        o_s.append(sc[order])
    return _columns(["qid", "doc_id", "freq", "norm", "score"],
                    [o_q, o_d, o_f, o_n, o_s])


COUNT_SCHEMA = T.StructType([
    T.StructField("qid", T.LongType(), False),
    T.StructField("n", T.LongType(), False),
])


def count_compound(spark: SparkSession,
                   manifests: dict[str, IndexManifest],
                   default_field: str, queries) -> dict[int, int]:
    """``IndexSearcher.count`` for boolean/dismax queries: the compound
    kernel in count-only mode — per-partition match COUNTS are the only
    rows that leave (one long per query per pid), summed driver-side.
    Queries whose clauses all analyze to absent terms count 0."""
    counts = {int(qid): 0 for qid, _ in queries}
    per_part = eval_aggregate(spark, manifests, default_field, queries,
                              {"count_only": True}, COUNT_SCHEMA)
    if per_part is None:
        return counts
    for r in per_part.groupBy("qid").agg(F.sum("n").alias("n")).collect():
        counts[int(r["qid"])] = int(r["n"])
    return counts


def _plan_iv_leaves(spark, manifest, iv: list, field: str,
                    clause_plan: dict, iv_specs: dict) -> set:
    """Planning for interval leaves: no BM25 stats — just a term
    presence probe.  Each leaf's terms are SLOTS (tuples of alternative
    terms); absent alternatives drop from their slot, and a slot whose
    alternatives are ALL absent empties the clause (an interval needs
    every slot).  ``weight`` is the boost product (saturation scoring
    never touches idf/norms).  Fills ``clause_plan[sid]`` /
    ``iv_specs[sid]`` and returns the terms the postings scan must push
    down."""
    if not iv:
        return set()
    all_terms = sorted({t for _, slots, *_ in iv
                        for s in slots for t in s})
    dfs = term_doc_freqs(spark, manifest, all_terms)
    needed: set = set()
    for sid, slots, ordered, mg, mw, pivot, w in iv:
        pruned = tuple(tuple(t for t in s if dfs.get(t, 0) > 0)
                       for s in slots)
        if any(not s for s in pruned):
            continue  # conjunction over slots: empty clause
        clause_plan[sid] = (field, pruned, float(w), 0)
        iv_specs[sid] = (bool(ordered),
                         None if mg is None else int(mg),
                         None if mw is None else int(mw), float(pivot))
        needed.update(t for s in pruned for t in s)
    return needed


def _plan_syn_leaves(spark, manifest, syn: list, precision: str,
                     field: str, clause_plan: dict,
                     syn_boosts: dict) -> set:
    """Stats planning for synonym leaves (``SynonymQuery.java`` merged
    statistics): pseudo-docFreq = max over the clause's PRESENT terms,
    idf computed once — ``weight = boost * idf(max df)``; absent terms
    drop from the decode list (they contribute freq 0).  Fills
    ``clause_plan[sid]`` / ``syn_boosts[sid]`` and returns the terms the
    postings scan must push down."""
    if not syn:
        return set()
    all_terms = sorted({t for _, ts, _, _ in syn for t in ts})
    dfs = term_doc_freqs(spark, manifest, all_terms)
    needed: set = set()
    for sid, ts, tbs, boost in syn:
        present = [(t, tb) for t, tb in zip(ts, tbs) if dfs.get(t, 0) > 0]
        if not present:
            continue  # every term absent index-wide: empty clause
        mdf = max(dfs[t] for t, _ in present)
        w = bm25.phrase_weight(np.asarray([mdf], dtype=np.int64),
                               manifest.doc_count, boost=boost,
                               precision=precision)
        clause_plan[sid] = (field, tuple(t for t, _ in present),
                            float(w), 0)
        syn_boosts[sid] = tuple(float(tb) for _, tb in present)
        needed.update(t for t, _ in present)
    return needed


def _plan_compound(spark: SparkSession | None,
                   manifests: dict[str, IndexManifest], specs: list[dict],
                   leaves: dict[str, list], precision: str,
                   postings_cache_mb: int = 0,
                   matchall_fields: set | None = None,
                   extra_terms: dict | None = None,
                   slops: dict[int, int] | None = None,
                   syn_leaves: dict[str, list] | None = None,
                   iv_leaves: dict[str, list] | None = None
                   ) -> dict | None:
    """The one per-field planner of every compound route (ranked,
    aggregate modes, serving): each field's leaves get their stats and
    weights (``plan_queries``, synonym and interval planning) and the
    field its payload entry and needed terms.  A field enters the
    payload when it has terms to read or a MatchAllDocs clause
    enumerates its docs.  Returns the kernel payload (``k`` unset), or
    ``None`` when no field has anything to evaluate.  ``spark=None``
    plans from the resident stats (serving path)."""
    clause_plan: dict[int, tuple] = {}
    syn_boosts: dict[int, tuple] = {}
    iv_specs: dict[int, tuple] = {}
    leaf_offsets: dict[int, tuple] = {}
    fields_payload: dict[str, dict] = {}
    needed_terms: dict[str, list] = {}
    matchall_fields = matchall_fields or set()
    for f, m in manifests.items():
        lv = leaves.get(f) or []
        syn = (syn_leaves or {}).get(f) or []
        iv = (iv_leaves or {}).get(f) or []
        ma_here = f in matchall_fields
        extra = set((extra_terms or {}).get(f) or ())
        if not lv and not ma_here and not extra and not syn and not iv:
            continue
        planned, needed = plan_queries(spark, m, lv, None, precision,
                                       collect_offsets=leaf_offsets)
        needed = set(needed) | extra | _plan_syn_leaves(
            spark, m, syn, precision, f, clause_plan, syn_boosts) \
            | _plan_iv_leaves(spark, m, iv, f, clause_plan, iv_specs)
        for sid, terms, w in planned:
            clause_plan[sid] = (f, tuple(terms), float(w),
                                int((slops or {}).get(sid, 0)))
        if not needed and not ma_here:
            continue
        fields_payload[f] = _kernel_payload(m, precision)
        needed_terms[f] = sorted(needed)
    if not fields_payload:
        return None
    return {
        "specs": specs,
        "clauses": clause_plan,
        "syn_boosts": syn_boosts,
        "iv_specs": iv_specs,
        "leaf_offsets": leaf_offsets,
        "fields": fields_payload,
        "needed_terms": needed_terms,
        "k": None,
        "precision": precision,
        "num_partitions": int(next(iter(fields_payload.values()))
                              ["num_partitions"]),
        "postings_cache_mb": int(postings_cache_mb),
        "has_matchall": bool(matchall_fields),
    }


def _plan_batch(spark: SparkSession | None,
                manifests: dict[str, IndexManifest], default_field: str,
                queries, precision: str = "float32",
                postings_cache_mb: int = 0) -> dict | None:
    """Specs for ``(qid, BooleanQuery | DisMaxQuery)`` pairs, planned by
    :func:`_plan_compound`."""
    from pim_lucene_spark.plans.boolean import BooleanQuery

    b = _SpecBuilder(spark, manifests, default_field)
    specs = [b.bool_spec(qid, q, default_field)
             if isinstance(q, BooleanQuery)
             else b.dismax_spec(qid, q, default_field)
             for qid, q in queries]
    return _plan_compound(spark, manifests, specs, b.leaves, precision,
                          postings_cache_mb,
                          matchall_fields=b.matchall_fields,
                          extra_terms=b.extra_terms, slops=b.slops,
                          syn_leaves=b.syn_leaves, iv_leaves=b.iv_leaves)


def eval_aggregate(spark: SparkSession, manifests: dict[str, IndexManifest],
                   default_field: str, queries, mode: dict,
                   schema: T.StructType,
                   precision: str = "float32") -> DataFrame | None:
    """The compound kernel in an aggregate mode (``mode`` is one of
    ``{"count_only": True}``, ``{"facet": …}``, ``{"facet_stats": …}``,
    ``{"sort": …}``, ``{"collapse": …}``, ``{"ranges": …}``) over the
    file plan: the per-partition aggregate rows, with no Exchange below
    them; ``None`` when every clause analyzes to index-wide-absent terms
    (nothing to launch)."""
    payload = _plan_batch(spark, manifests, default_field, queries,
                          precision)
    if payload is None:
        return None
    payload.update(mode)
    return _run_file_plan(spark, manifests, payload, _compound_core, schema)


class _SpecBuilder:
    """Flattens typed query trees into kernel specs + leaf lists.

    Leaf sids are globally unique across the batch; each leaf carries
    (field, text, boost) and goes through the SAME stats/weight planning
    as the engine search path (``plan_queries``), so clause weights are
    bit-identical to the engine's own term/phrase searches.
    """

    def __init__(self, spark, manifests: dict[str, IndexManifest],
                 default_field: str):
        self.spark = spark
        self.manifests = manifests
        self.default_field = default_field
        self.leaves: dict[str, list] = {f: [] for f in manifests}
        # sid -> slop for sloppy-phrase leaves (kernel-hosted: the index
        # position streams feed the SloppyPhraseMatcher traversal)
        self.slops: dict[int, int] = {}
        self.matchall_fields: set[str] = set()
        # terms needed by const_or clauses (constant-score multiterm
        # expansions): scanned alongside the scored leaves' terms but
        # never stats-planned (their score is a constant, not BM25)
        self.extra_terms: dict[str, set] = {f: set() for f in manifests}
        # synonym leaves (SynonymQuery.java): (sid, terms, term_boosts,
        # boost) — stats-planned with MERGED pseudo-term stats (df = max
        # over terms), not the per-leaf Σidf path
        self.syn_leaves: dict[str, list] = {f: [] for f in manifests}
        # interval leaves (IntervalQuery.java): (sid, terms, ordered,
        # max_gaps, max_width, pivot, weight) — saturation-scored, no
        # BM25 stats planning (only a presence probe)
        self.iv_leaves: dict[str, list] = {f: [] for f in manifests}
        self._next_sid = 0

    def _leaf(self, field: str, text: str, boost: float) -> dict:
        sid = self._next_sid
        self._next_sid += 1
        self.leaves[field].append((sid, text, float(boost)))
        return {"kind": "scored", "sid": sid}

    def _clause(self, field: str, clause, eff_boost: float) -> dict:
        """``eff_boost`` is the product of enclosing scoring boosts
        (BooleanWeight passes its boost down to scoring sub-weights)."""
        from pim_lucene_spark.plans.boolean import (BooleanQuery,
                                                    _clause_text_boost)
        import pim_lucene_spark.plans.multiterm as MT
        from pim_lucene_spark.plans.multiterm import (FuzzyQuery,
                                                      MultiTermQueryT,
                                                      expand_const_local,
                                                      expand_terms)
        from pim_lucene_spark.plans.query import (FieldedQuery,
                                                  MatchAllDocsQuery)

        if isinstance(clause, FieldedQuery):
            if clause.field not in self.manifests:
                raise ValueError(f"unknown field {clause.field!r}; have "
                                 f"{sorted(self.manifests)}")
            return self._clause(clause.field, clause.query, eff_boost)
        if isinstance(clause, MatchAllDocsQuery):
            # hosted in-kernel as a constant per-doc contribution — the
            # reference scorer is a constant iterator over every live
            # doc, never a materialized set
            self.matchall_fields.add(field)
            return {"kind": "matchall",
                    "weight": float(clause.boost) * eff_boost,
                    "field": field}
        if isinstance(clause, BooleanQuery):
            return {"kind": "nested",
                    "spec": self.bool_spec(None, clause, field, eff_boost)}
        if isinstance(clause, FuzzyQuery):
            # Lucene's in-boolean fuzzy rewrite: scoring boolean over the
            # top expanded terms — a nested pure-SHOULD sum, float-cast
            # at the group boundary like the old clause frame.  The
            # serving path (spark=None) expands against the resident
            # term dictionary (pyarrow pushdown, no Spark job) with
            # identical (term, boost) output — differential-tested.
            if self.spark is None:
                from pim_lucene_spark.plans.multiterm import \
                    expand_fuzzy_local
                expansion = expand_fuzzy_local(self.manifests[field],
                                               clause)
            else:
                expansion = expand_terms(self.spark,
                                         self.manifests[field], clause)
            qboost = float(clause.boost) * eff_boost
            inner = [self._leaf(field, t, tb * qboost)
                     for t, tb in expansion]
            return {"kind": "nested",
                    "spec": {"qid": -1, "op": "bool", "must": (),
                             "filter": (), "should": tuple(inner),
                             "must_not": (), "msm": 0}}
        if isinstance(clause, MultiTermQueryT):
            # Lucene's default rewrite for prefix/wildcard/range/regexp
            # inside a boolean: CONSTANT_SCORE — docs matching ANY
            # expanded term score the clause boost.  The expansion comes
            # from the resident term dictionary (pyarrow pushdown, no
            # Spark job) at any width; the kernel decodes it in slices
            # of MAX_CLAUSE_COUNT terms (read here, at spec-build time).
            exp = expand_const_local(self.manifests[field], clause)
            self.extra_terms[field].update(exp)
            step = MT.MAX_CLAUSE_COUNT
            return {"kind": "const_or", "field": field,
                    "slices": tuple(tuple(exp[i:i + step])
                                    for i in range(0, len(exp), step)),
                    "weight": float(clause.boost) * eff_boost}
        from pim_lucene_spark.plans.query import (DocValuesRangeQuery,
                                                  FacetFilterQuery,
                                                  SynonymQuery)
        if isinstance(clause, DocValuesRangeQuery):
            # numeric doc-values range (newSlowRangeQuery): tested
            # against the resident value sidecar, non-scoring; pure
            # range browse enumerates via the matchall machinery
            from pim_lucene_spark.operators.docvalues import dv_dir
            self.matchall_fields.add(field)
            return {"kind": "dv_range", "field": field,
                    "path": dv_dir(self.manifests[field], clause.col),
                    "lo": int(clause.lo), "hi": int(clause.hi)}
        if isinstance(clause, FacetFilterQuery):
            # drill-down constraint: values resolve to ordinals against
            # the dim's value dictionary at spec-build time (driver-side
            # POSIX read, cached); the kernel tests the resident ordinal
            # array — no postings, no exchange
            from pim_lucene_spark.operators.facets import (facet_dir,
                                                           facet_values)
            fdir = facet_dir(self.manifests[field], clause.dim)
            code_of = {v: i for i, v in enumerate(facet_values(fdir))}
            codes = tuple(sorted(code_of[v] for v in clause.values
                                 if v in code_of))
            # pure drill-down queries enumerate the doc space without
            # postings — the matchall machinery (forced norms/live load
            # + the kernel on every pid) provides exactly that
            self.matchall_fields.add(field)
            return {"kind": "dv_filter", "field": field, "path": fdir,
                    "codes": codes}
        from pim_lucene_spark.plans.query import IntervalQuery
        if isinstance(clause, IntervalQuery):
            # interval proximity clause: sub-term SLOTS from the index
            # analyzer (query-time analysis parity) — each slot is a
            # tuple of alternative terms (Intervals.or; plain text gives
            # single-term slots).  Saturation-scored in-kernel over the
            # stored position streams; an empty analysis makes it an
            # empty clause (no intervals).
            from pim_lucene_spark.functions.tokenize import tokenize_one
            sid = self._next_sid
            self._next_sid += 1
            tok = self.manifests[field].tokenizer
            if clause.sources is not None:
                slots = []
                for src in clause.sources:
                    alt = []
                    for a in src:
                        ts = tokenize_one(a, tok)
                        if len(ts) != 1:
                            raise ValueError(
                                f"interval source {a!r} must analyze to "
                                f"exactly one term (got {ts!r})")
                        alt.append(ts[0])
                    slots.append(tuple(dict.fromkeys(alt)))
                slots = tuple(slots)
            else:
                slots = tuple((t,) for t in tokenize_one(clause.text, tok))
            if slots:
                self.iv_leaves[field].append(
                    (sid, slots, bool(clause.ordered), clause.max_gaps,
                     clause.max_width, float(clause.pivot),
                     float(clause.boost) * eff_boost))
            return {"kind": "scored", "sid": sid}
        if isinstance(clause, SynonymQuery):
            sid = self._next_sid
            self._next_sid += 1
            self.syn_leaves[field].append(
                (sid, tuple(t for t, _ in clause.terms),
                 tuple(tb for _, tb in clause.terms),
                 float(clause.boost) * eff_boost))
            return {"kind": "scored", "sid": sid}
        text, cboost = _clause_text_boost(clause)
        d = self._leaf(field, text, cboost * eff_boost)
        slop = int(getattr(clause, "slop", 0))
        if slop:
            # sloppy phrase leaf: same stats/weight planning as an exact
            # phrase (Lucene's PhraseWeight is slop-independent); the
            # kernel runs the SloppyPhraseMatcher over the stored
            # position streams instead of the adjacency alignment
            self.slops[d["sid"]] = slop
        return d

    def bool_spec(self, qid, bq, field: str, inherit: float = 1.0) -> dict:
        eff = float(bq.boost) * inherit
        spec = {"qid": qid, "op": "bool", "msm": int(bq.min_should_match)}
        for role in ("must", "filter", "should", "must_not"):
            scoring = role in ("must", "should")
            spec[role] = tuple(
                self._clause(field, c, eff if scoring else 1.0)
                for c in getattr(bq, role))
        return spec

    def dismax_spec(self, qid, dq, field: str) -> dict:
        # dismax boost multiplies the COMBINED score (BoostQuery), not
        # the clause weights
        return {"qid": qid, "op": "dismax",
                "clauses": tuple(self._clause(field, c, 1.0)
                                 for c in dq.clauses),
                "tie": float(dq.tie), "boost": float(dq.boost)}


def eval_compound(spark: SparkSession, manifests: dict[str, IndexManifest],
                  specs: list[dict], leaves: dict[str, list], k: int,
                  precision: str,
                  postings_cache_mb: int = 0,
                  return_partial: bool = False,
                  matchall_fields: set | None = None,
                  extra_terms: dict | None = None,
                  slops: dict[int, int] | None = None,
                  syn_leaves: dict[str, list] | None = None,
                  iv_leaves: dict[str, list] | None = None) -> DataFrame:
    """Run prepared compound specs through the per-partition kernel.

    The fields are planned once (:func:`_plan_compound`); each file-plan
    task reads its pids' postings per field, norms and live masks
    directly (``Range → MapInPandas``, no Exchange) and composes per
    partition; a global top-k window over ≤ P·k rows/query follows.
    ``return_partial`` returns the pre-window per-partition frame — the
    exact row set the window's exchange shuffles — for plan-shape
    tests/benchmarks.  ``matchall_fields`` (from ``_SpecBuilder``) names
    fields whose norms a MatchAllDocs clause enumerates; such a batch
    runs the kernel on every pid, postings or not.
    """
    payload = _plan_compound(spark, manifests, specs, leaves, precision,
                             postings_cache_mb,
                             matchall_fields=matchall_fields,
                             extra_terms=extra_terms, slops=slops,
                             syn_leaves=syn_leaves, iv_leaves=iv_leaves)
    return _compound_frame(spark, manifests, payload, k, return_partial)


def _compound_frame(spark: SparkSession,
                    manifests: dict[str, IndexManifest],
                    payload: dict | None, k: int | None,
                    return_partial: bool = False) -> DataFrame:
    """A planned compound batch on the file plan, then (``k`` set, no
    ``return_partial``) the global top-k window."""
    if payload is None:
        return local_empty(spark, COMPOUND_SCHEMA)
    payload["k"] = None if k is None else int(k)
    per_part = _run_file_plan(spark, manifests, payload, _compound_core,
                              COMPOUND_SCHEMA)
    if return_partial or k is None:
        # k=None: every match, unordered (no per-qid rank window) — the
        # clause-frame / nested-consumer contract, same as search()
        return per_part
    return _top_k_window(per_part, k)


BM25F_SCHEMA = T.StructType([
    T.StructField("qid", T.LongType(), False),
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("freq", T.DoubleType(), False),
    T.StructField("score", T.DoubleType(), False),
])


def _bm25f_core(payload: dict, pid: int,
                per_field_by_term: dict[str, dict],
                norms_live: dict[str, tuple]) -> dict | None:
    """BM25F per-partition kernel (``CombinedFieldQuery.java:322-470``):
    per-doc weighted tf sum over every (field, term) pair, combined
    re-encoded norm (``MultiNormsLeafSimScorer.java:140-153``), ONE BM25
    score against the pseudo-field stats — all from this partition's
    co-located postings; only top-k rows leave.  Every field's norms
    enter the combined norm, postings rows here or not.  The pid's
    columns as arrays, or ``None`` without hits."""
    from pim_lucene_spark.functions.smallfloat import (byte4_to_int,
                                                       int_to_byte4)

    P = payload["num_partitions"]
    k = payload["k"]
    precision = payload["precision"]
    cache = payload["cache"]

    ctxs = {f: _DecodeCtx(bt, payload, pid,
                          ckey=payload["fields"][f]["cache_key"])
            for f, bt in per_field_by_term.items()}
    norms = {f: nl[0] for f, nl in norms_live.items()}
    live_any: np.ndarray | None = None
    for _, lv in norms_live.values():
        if lv is not None:  # doc ids are shared: any field's deletion
            live_any = lv if live_any is None else (live_any & lv)

    out_qid, out_doc, out_freq, out_score = [], [], [], []
    for spec in payload["specs"]:
        parts = []
        for f, t, w in spec["pairs"]:
            ctx = ctxs.get(f)
            if ctx is None or t not in ctx.by_term:
                continue
            lp = ctx.get(t)
            rel, tfs = lp.rel_docs, lp.freqs
            if live_any is not None and rel.size:
                # mask each pair's OWN docs — postings still contain
                # deleted docs, and mapping unfiltered rel_docs into a
                # filtered union would credit their tf to live docs
                keep = live_any[rel]
                rel, tfs = rel[keep], tfs[keep]
            if rel.size:
                parts.append((rel, tfs, np.float64(w)))
        if not parts:
            continue
        union = np.unique(np.concatenate([rel for rel, _, _ in parts]))
        freq = np.zeros(union.size, dtype=np.float64)
        for rel, tfs, w in parts:
            pos = np.searchsorted(union, rel)  # rel ⊆ union
            freq[pos] += tfs.astype(np.float64) * w
        acc = np.zeros(union.size, dtype=np.float32)
        for f, w32 in payload["norm_weights"]:
            dec = byte4_to_int(norms[f][union].astype(np.int64))
            acc += (np.float32(w32)
                    * dec.astype(np.float32)).astype(np.float32)
        nb = int_to_byte4(np.floor(acc + np.float32(0.5)).astype(np.int64))
        sc = np.asarray(bm25.score(freq, nb,
                                   payload["qweights"][spec["qid"]],
                                   cache, precision), dtype=np.float64)
        order = np.lexsort((union, -sc))
        if k is not None and order.size > k:
            order = order[:k]
        out_qid.append(np.full(order.size, spec["qid"], dtype=np.int64))
        out_doc.append(union[order] * P + pid)
        out_freq.append(freq[order])
        out_score.append(sc[order])
    return _columns(["qid", "doc_id", "freq", "score"],
                    [out_qid, out_doc, out_freq, out_score])


def eval_bm25f(spark: SparkSession, manifests: dict[str, IndexManifest],
               specs: list[dict], qweights: dict, cache,
               norm_weights: list, needed_terms: list[str], k: int,
               precision: str) -> DataFrame:
    """Run BM25F specs through the per-partition kernel on the file plan
    (each task reads every field's postings for ``needed_terms`` and
    every field's norms for its pids; no Exchange) → global top-k
    window."""
    if not specs or not needed_terms:
        return local_empty(spark, BM25F_SCHEMA)
    payload = {
        "specs": specs,
        "qweights": qweights,
        "cache": cache,
        "norm_weights": norm_weights,
        "fields": {f: _kernel_payload(m, precision)
                   for f, m in manifests.items()},
        "needed_terms": {f: sorted(needed_terms) for f in manifests},
        "k": int(k),
        "precision": precision,
        "num_partitions": int(next(iter(manifests.values()))
                              .num_partitions),
        "postings_cache_mb": 0,
    }
    return _top_k_window(_run_file_plan(spark, manifests, payload,
                                        _bm25f_core, BM25F_SCHEMA), k)


def search_compound_local(index, queries,
                          k: int = 10, precision: str = "float32",
                          postings_cache_mb: int = 256,
                          pids: list[int] | None = None,
                          default_field: str = "",
                          facet_dim: str | None = None,
                          facet_top_n: int = 10,
                          agg_mode: dict | None = None) -> pd.DataFrame:
    """Serving-path boolean/dismax: the SAME compound kernel with NO
    Spark job — the file plan's per-pid runner (:func:`_run_pids`) fed
    from resident pids (shared with
    :func:`~pim_lucene_spark.operators.search.search_local`; each
    field's pids are held for the whole batch, so none is read twice),
    per-pid norms/live blobs, in-process composition, host top-k merge.
    Returns a pandas frame (qid, doc_id, score); row-identical to
    :func:`search_compound` (differential-tested).

    ``index`` is one manifest/path, or a ``{field: manifest}`` dict
    (``MultiFieldIndex.manifests`` — clauses may be ``FieldedQuery``;
    every field must share ``num_partitions``, the co-location that
    makes per-pid composition exact).  Fuzzy clauses expand against the
    resident term dictionary (``expand_fuzzy_local`` — pyarrow pushdown,
    no Spark job); every kernel-able clause (term/phrase at any slop/
    fuzzy/matchall/nested/fielded) serves.  ``pids`` restricts residency
    to a shard subset (the sharded server's placement; per-pid top-k
    merge is exact because composition is per-doc and docs partition
    disjointly).

    ``facet_dim`` switches to serving-path FACET mode: the same batch
    returns per-query top-``facet_top_n`` buckets ``(qid, value, n)``
    counted over the resident ordinal sidecar (``k`` is ignored; the
    sidecar for the dim must exist — ``operators/facets.py``).

    ``agg_mode`` (internal — use the ``*_local`` wrappers in
    ``operators/docvalues.py``) switches to the sort / collapse /
    ranges kernel modes over resident doc-values sidecars:
    ``{"kind": "sort", "path", "reverse", "k"}``, ``{"kind":
    "collapse", "path", "values", "k"}``, or ``{"kind": "ranges",
    "path", "lo", "hi", "labels", "qids"}``.
    """
    from pim_lucene_spark.manifest import resolve_manifests
    manifests, default_field = resolve_manifests(
        index, default_field if isinstance(index, dict) else "")
    payload = _plan_batch(None, manifests, default_field, queries,
                          precision, postings_cache_mb)
    if facet_dim is not None:
        from pim_lucene_spark.operators.facets import facet_dir
        fdir = facet_dir(manifests[default_field], facet_dim)
        empty = pd.DataFrame({"qid": [], "value": [], "n": []}).astype(
            {"qid": np.int64, "value": str, "n": np.int64})
        mode = {"facet": {"path": fdir}}
    elif agg_mode is not None:
        empty = _agg_mode_empty(agg_mode)
        mode = {agg_mode["kind"]: agg_mode}
    else:
        empty = pd.DataFrame({"qid": [], "doc_id": [], "score": []}).astype(
            {"qid": np.int64, "doc_id": np.int64, "score": np.float64})
        mode = {}
    if payload is None:
        return empty
    payload.update(mode, k=int(k))
    res = _run_local(manifests, payload, _compound_core, pids)
    if res is None:
        return empty
    if facet_dim is not None:
        from pim_lucene_spark.operators.facets import facet_values
        vals = facet_values(fdir)
        agg = (pd.DataFrame(res).groupby(["qid", "code"], as_index=False)
               ["n"].sum())
        agg["value"] = agg.pop("code").map(lambda c: vals[int(c)])
        agg = agg.sort_values(["qid", "n", "value"],
                              ascending=[True, False, True])
        return (agg.groupby("qid", sort=True).head(int(facet_top_n))
                [["qid", "value", "n"]].reset_index(drop=True))
    if agg_mode is not None:
        return _agg_mode_merge(agg_mode, pd.DataFrame(res))
    return _top_k(res, k)


def _agg_mode_empty(agg_mode: dict) -> pd.DataFrame:
    kind = agg_mode["kind"]
    if kind == "facet_stats":
        return pd.DataFrame({"qid": [], "value": [], "n": [],
                             "sum_val": [], "min_val": [], "max_val": [],
                             "avg_val": []}).astype(
            {"qid": np.int64, "value": str, "n": np.int64,
             "sum_val": np.int64, "min_val": np.int64,
             "max_val": np.int64, "avg_val": np.float64})
    if kind == "sort":
        return pd.DataFrame({"qid": [], "doc_id": [], "sortval": []}
                            ).astype({"qid": np.int64, "doc_id": np.int64,
                                      "sortval": np.int64})
    if kind == "collapse":
        return pd.DataFrame({"qid": [], "value": [], "doc_id": [],
                             "score": []}).astype(
            {"qid": np.int64, "value": str, "doc_id": np.int64,
             "score": np.float64})
    # ranges: zero counts for every (query, range), the scaffold shape
    labels, qids = agg_mode["labels"], agg_mode["qids"]
    return pd.DataFrame(
        {"qid": np.repeat(np.asarray(qids, dtype=np.int64), len(labels)),
         "label": np.tile(np.asarray(labels, dtype=object), len(qids)),
         "n": np.zeros(len(labels) * len(qids), dtype=np.int64)})


def _agg_mode_merge(agg_mode: dict, res: pd.DataFrame) -> pd.DataFrame:
    """Host-side merge of per-pid kernel outputs for the doc-values
    serving modes — the exact reduction the distributed windows run."""
    kind = agg_mode["kind"]
    if kind == "facet_stats":
        vals = agg_mode["values"]
        agg = (res.groupby(["qid", "code"], as_index=False)
               .agg(n=("n", "sum"), sum_val=("sum", "sum"),
                    min_val=("mn", "min"), max_val=("mx", "max")))
        agg["value"] = agg.pop("code").map(lambda c: vals[int(c)])
        agg = agg.sort_values(["qid", "n", "value"],
                              ascending=[True, False, True])
        agg = (agg.groupby("qid", sort=True)
               .head(int(agg_mode["top_n"])).reset_index(drop=True))
        agg["avg_val"] = agg["sum_val"].astype(np.float64) / \
            agg["n"].astype(np.float64)
        return agg[["qid", "value", "n", "sum_val", "min_val",
                    "max_val", "avg_val"]]
    if kind == "sort":
        rev = bool(agg_mode["reverse"])
        return (res.sort_values(["qid", "sortval", "doc_id"],
                                ascending=[True, not rev, True])
                .groupby("qid", sort=True).head(int(agg_mode["k"]))
                .reset_index(drop=True))
    if kind == "collapse":
        vals = agg_mode["values"]
        H = int(agg_mode.get("group_size", 1))
        rows = (res.sort_values(["qid", "code", "score", "doc_id"],
                                ascending=[True, True, False, True])
                .groupby(["qid", "code"], sort=False).head(H))
        heads = rows.groupby(["qid", "code"], sort=False).head(1)
        top = (heads.sort_values(["qid", "score", "doc_id"],
                                 ascending=[True, False, True])
               .groupby("qid", sort=True).head(int(agg_mode["k"]))
               [["qid", "code"]])
        rows = rows.merge(top, on=["qid", "code"]).reset_index(drop=True)
        rows["value"] = rows.pop("code").map(lambda c: vals[int(c)])
        return rows[["qid", "value", "doc_id", "score"]]
    agg = (res.groupby(["qid", "ridx"], as_index=False)["n"].sum())
    scaffold = _agg_mode_empty(agg_mode)
    scaffold["ridx"] = np.tile(
        np.arange(len(agg_mode["labels"]), dtype=np.int64),
        len(agg_mode["qids"]))
    out = scaffold.drop(columns=["n"]).merge(agg, on=["qid", "ridx"],
                                             how="left")
    out["n"] = out["n"].fillna(0).astype(np.int64)
    return out[["qid", "label", "n"]]


def search_compound(spark: SparkSession,
                    manifests: dict[str, IndexManifest],
                    default_field: str, queries, k: int = 10,
                    precision: str = "float32",
                    postings_cache_mb: int = 0) -> DataFrame:
    """Kernel-side boolean/dismax batch → DataFrame(qid, doc_id, score).

    ``queries``: (qid, BooleanQuery | DisMaxQuery) pairs; every clause
    family evaluates in the kernel.
    """
    return _compound_frame(spark, manifests,
                           _plan_batch(spark, manifests, default_field,
                                       queries, precision,
                                       postings_cache_mb), k)
