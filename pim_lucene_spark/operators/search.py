"""Batched BM25 phrase/term search over the partitioned index (Q1-Q22).

Query lifecycle (single-pass, Spark-natural re-expression of the
host↔DPU protocol in ``topdocs_sync.c:469-544``):

1. Driver tokenizes the query batch (batching semantics of
   ``PimSystemManager.java:401-437``) and looks up global term stats from
   the index's stats table — the TermStatistics build of
   ``PimPhraseQuery.java:110-132``.  Queries containing a term absent from
   the whole index short-circuit to empty (``PimPhraseQuery.java:122-124``).
2. The driver plans pid→file ownership from the postings layout
   (:func:`_postings_file_groups`) and each kernel task reads its own
   files once (:func:`_read_shard`), keeping the rows of its pids and
   the query terms — the analogue of each DPU reading its own index
   partition and its per-DPU term-dictionary lookup
   (``term_lookup.c:107-222``).  The term filter drops rows; it prunes
   no reads: each postings file is one row group whose ``term`` min/max
   spans the whole vocabulary, so a task decodes whole files.  Small
   batches run that one-group plan in-process; the serving path
   (:func:`search_local`) reads whole pids once and keeps them
   resident.
3. Each pid's rows, its norms blob (1 byte/doc, read from the index's
   ``norms/pid=N/`` Parquet layout by :func:`_pid_norms` — a side-data
   read, never a Spark shuffle, the way a Lucene segment reads its own
   norms file) and its live mask feed one Arrow-vectorized kernel
   (:func:`_match_core_arrays`) through the per-pid runner every
   pid-grouped kernel shares (:func:`_run_pids`; the compound,
   aggregate, BM25F and sloppy kernels of ``plans/compound.py`` are its
   other cores).  Kernel: vectorized varint decode →
   k-way sorted docID intersection (leapfrog semantics, ``matcher.c:
   82-128``) → position alignment counting every overlapping occurrence
   (``matcher.c:133-177``) → BM25 scoring with Lucene's exact float32
   expression tree → per-partition top-k.  Decode is batched the way a
   DPU makes a few bulk passes over its resident lists: a phrase's
   terms decode their doc ids and freqs in ONE varint pass per pid
   (:func:`_decode_terms` joins the bytes of every selected segment of
   every stripe row — each segment restarts its delta chain), and a
   term's position units in one pass per alignment step.

   **Block-max pruning** (``score_lower_bound.c:88-122``,
   ``matcher.c:121-128`` semantics):

   - *term queries*: segments are scored in descending order of their
     admissible upper bound ``score(seg_max_tf, best_norm)``; once the
     running k-th best exact score strictly exceeds the next segment's
     bound, the remaining segments are never even *decoded* (classic
     block-max WAND skipping, exact because the bound is computed with the
     identical float expression tree at maximal inputs — float rounding is
     monotone).
   - *phrase queries*: candidates are evaluated in descending upper-bound
     order (ub = score(min term tf, actual norm) — tighter than any
     segment-level bound) with the evaluation cut once the k-th best exact
     score exceeds the next ub; position blobs are decoded **lazily**:
     only the (term, segment) units a candidate chunk actually touches
     decode — all of a chunk's new units of one term in one
     ``decode_positions_slice`` call over their joined bytes — so a
     pruned tail (or a stopword-heavy term) never pays its
     position-decode cost.

4. Global top-k per query: window rank over (score desc, doc_id asc) —
   Lucene ``TopScoreDocCollector`` tie-break order.  The host-side
   merges (the collecting ``final_merge``, the sync rounds, serving)
   cut with one numpy ``lexsort`` and a per-qid rank
   (:func:`_top_k_index`); the distributed one is a rank window
   (:func:`_top_k_window`).

Scale notes: the one distributed plan is one ``Range → MapInPandas``
stage with no shuffle — postings and norms are read where the task runs
(:func:`_file_plan` over :func:`_read_group`, for every kernel).  The
index must sit on a POSIX-visible path (local disk or a shared mount).
The final window runs over at most ``P * k`` rows per query.
"""

from __future__ import annotations

import os
from collections import OrderedDict
from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pim_lucene_spark.functions import bm25
from pim_lucene_spark.functions.postings import (
    decode_columnar,
    decode_positions_slice,
)
from pim_lucene_spark.functions.tokenize import tokenize_one
from pim_lucene_spark.manifest import IndexManifest
from pim_lucene_spark.operators.deletes import live_mask_for
from pim_lucene_spark.sparkutil import (
    local_empty,
    local_result,
    manifest_scan_key,
)

RESULT_SCHEMA = T.StructType([
    T.StructField("qid", T.LongType(), False),
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("freq", T.LongType(), False),
    T.StructField("norm", T.IntegerType(), False),
    T.StructField("score", T.DoubleType(), False),
])

_POS_KEY_SHIFT = np.int64(1) << np.int64(32)

# per-process decode instrumentation (per-worker in distributed runs;
# authoritative when the kernel is invoked directly — tests/bench use it
# to prove block-max pruning actually skips decode work)
DECODE_STATS = {
    "doc_bytes": 0,      # doc+freq blob bytes decoded
    "pos_bytes": 0,      # position blob bytes decoded
    "pos_units": 0,      # (term, segment) position units decoded
    "segments_scored": 0,    # single-term path: segments decoded+scored
    "segments_skipped": 0,   # single-term path: segments pruned by bound
}


def reset_decode_stats() -> dict:
    snap = dict(DECODE_STATS)
    for k in DECODE_STATS:
        DECODE_STATS[k] = 0
    return snap


class _LazyPostings:
    """One term's partition postings with per-(stripe, segment) lazy
    position decode.

    Doc ids and freqs arrive decoded (they drive intersection and the
    WAND bounds) from :func:`_decode_terms`, which decodes one or
    several terms in one pass.  The position
    stream of each (stripe, segment) unit is sought via the stored skip
    sizes (``PimIndexWriter.java:903-916``) and decoded only when
    :meth:`ensure_positions` is asked for a candidate living inside it
    — every such unit of one call in one pass over their joined bytes.
    """

    __slots__ = ("rel_docs", "freqs", "pos_offsets", "positions",
                 "_u_lo", "_u_hi", "_u_blob", "_u_blo", "_u_bhi", "_u_filled")

    def __init__(self, rel_docs: np.ndarray, freqs: np.ndarray,
                 u_lo: np.ndarray, u_blob: list, u_blo: list, u_bhi: list):
        """``u_lo[j]`` is unit ``j``'s first posting; its position bytes
        are ``u_blob[j][u_blo[j]:u_bhi[j]]``."""
        self.rel_docs = rel_docs
        self.freqs = freqs
        self.pos_offsets = np.zeros(freqs.size + 1, dtype=np.int64)
        np.cumsum(freqs, out=self.pos_offsets[1:])
        self.positions: np.ndarray | None = None
        self._u_lo = u_lo
        self._u_hi = np.append(u_lo[1:], freqs.size) if u_lo.size else u_lo
        self._u_blob = u_blob
        self._u_blo = u_blo
        self._u_bhi = u_bhi
        self._u_filled = np.zeros(u_lo.size, dtype=bool)

    def ensure_positions(self, idx: np.ndarray) -> None:
        """Decode the position units containing candidate indices
        ``idx``: the units not decoded yet, joined into one
        ``decode_positions_slice`` call (units are posting-aligned and
        the position delta chain resets at every posting)."""
        if self.positions is None:
            self.positions = np.zeros(int(self.pos_offsets[-1]),
                                      dtype=np.int64)
        if self._u_lo.size == 0 or idx.size == 0:
            return
        uids = np.unique(np.searchsorted(self._u_lo, idx, side="right") - 1)
        uids = uids[~self._u_filled[uids]]
        if uids.size == 0:
            return
        los = self._u_lo[uids].tolist()
        his = self._u_hi[uids].tolist()
        us = uids.tolist()
        blob = b"".join([self._u_blob[u][self._u_blo[u]:self._u_bhi[u]]
                         for u in us])
        freqs = (self.freqs[los[0]:his[0]] if len(us) == 1 else
                 np.concatenate([self.freqs[lo:hi]
                                 for lo, hi in zip(los, his)]))
        pos = decode_positions_slice(blob, freqs)
        offs = self.pos_offsets
        src = 0
        for lo, hi in zip(los, his):
            tlo, thi = int(offs[lo]), int(offs[hi])
            self.positions[tlo:thi] = pos[src:src + thi - tlo]
            src += thi - tlo
        self._u_filled[uids] = True
        DECODE_STATS["pos_bytes"] += len(blob)
        DECODE_STATS["pos_units"] += len(us)


_EMPTY_I64 = np.empty(0, dtype=np.int64)


def _decode_terms(row_lists: list, masks: list) -> list[_LazyPostings]:
    """Doc ids and freqs of several terms in one decode pass.

    ``row_lists[i]`` is term ``i``'s stripe-ordered rows and
    ``masks[i]`` its segment mask (``None`` = every segment).  The doc
    and freq bytes of every selected (row, segment) unit of every term
    are joined and decoded by ONE ``decode_columnar`` call — valid
    because each segment restarts its doc-id delta chain
    (``PimIndexWriter.java:847-849``) — and split back into one
    :class:`_LazyPostings` per term, whose positions stay undecoded."""
    doc_parts, freq_parts, counts, spans = [], [], [], []
    for rows, seg_mask in zip(row_lists, masks):
        first = len(counts)
        u_blob, u_blo, u_bhi = [], [], []
        keep = None if seg_mask is None else seg_mask.tolist()
        for r in rows:  # rows pre-sorted by stripe
            db, fb, pb = r.doc_blob, r.freq_blob, r.pos_blob
            d = f = p = 0
            # a plain loop: a row holds num_segments (a handful of)
            # entries, too few for numpy calls to pay their overhead
            for i, (n, dn, fn, pn) in enumerate(zip(
                    np.asarray(r.seg_doc_counts).tolist(),
                    np.asarray(r.seg_doc_bytes).tolist(),
                    np.asarray(r.seg_freq_bytes).tolist(),
                    np.asarray(r.seg_pos_bytes).tolist())):
                if n and (keep is None or keep[i]):
                    doc_parts.append(db[d:d + dn])
                    freq_parts.append(fb[f:f + fn])
                    counts.append(n)
                    u_blob.append(pb)
                    u_blo.append(p)
                    u_bhi.append(p + pn)
                d += dn
                f += fn
                p += pn
        spans.append((first, len(counts), u_blob, u_blo, u_bhi))
    rel_docs = freqs = _EMPTY_I64
    if counts:
        doc_b, freq_b = b"".join(doc_parts), b"".join(freq_parts)
        DECODE_STATS["doc_bytes"] += len(doc_b) + len(freq_b)
        tp = decode_columnar(doc_b, freq_b, b"", counts,
                             decode_positions=False)
        rel_docs, freqs = tp.rel_docs, tp.freqs
    starts = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts, out=starts[1:])
    out = []
    for first, last, u_blob, u_blo, u_bhi in spans:
        lo, hi = int(starts[first]), int(starts[last])
        out.append(_LazyPostings(rel_docs[lo:hi], freqs[lo:hi],
                                 starts[first:last] - lo,
                                 u_blob, u_blo, u_bhi))
    return out


def _phrase_match_counts(postings_by_term: list, cand_idx_by_term: list[np.ndarray],
                         n_cand: int,
                         offsets: tuple | None = None) -> np.ndarray:
    """Vectorized overlap-counting position alignment.

    For each term i, candidate-doc positions are shifted by -offset_i
    (consecutive ordinals by default; a gapped PhraseQuery — internal
    stop words removed by the ``english`` analyzer — supplies explicit
    ``offsets``) and encoded as ``cand_rank * 2^32 + shifted_pos``;
    successive sorted-array intersections leave one key per aligned
    start position (``matcher.c:133-177`` semantics: every overlapping
    start counts).  Position units are decoded lazily for exactly the
    candidates given.
    """
    keys = None
    for i, (tp, idx) in enumerate(zip(postings_by_term, cand_idx_by_term)):
        tp.ensure_positions(idx)
        starts = tp.pos_offsets[idx]
        ends = tp.pos_offsets[idx + 1]
        lens = ends - starts
        total = int(lens.sum())
        if total == 0:
            return np.zeros(n_cand, dtype=np.int64)
        take = np.arange(total, dtype=np.int64) + np.repeat(starts, lens) \
            - np.repeat(np.cumsum(lens) - lens, lens)
        pos = tp.positions[take] - (i if offsets is None else offsets[i])
        ranks = np.repeat(np.arange(idx.size, dtype=np.int64), lens)
        k = ranks * _POS_KEY_SHIFT + pos
        if i == 0:
            keys = k
        else:
            # both key arrays are sorted ascending (ranks nondecreasing,
            # positions strictly increasing within a doc), so sorted
            # intersection via searchsorted beats isin's concat+argsort
            j = np.searchsorted(k, keys)
            j[j == k.size] = 0  # out-of-range probes can never match …
            keys = keys[k[j] == keys]  # … k[0] != key there (key > max)
            if keys.size == 0:
                return np.zeros(n_cand, dtype=np.int64)
    ranks = (keys // _POS_KEY_SHIFT).astype(np.int64)
    return np.bincount(ranks, minlength=n_cand).astype(np.int64)


# ---------------------------------------------------------------------------
# executor-side warm postings cache — the Spark-native analogue of the
# reference's one-time index load into DPU memory (B15,
# DpuSystemExecutor.java:110-219): a long-lived python worker keeps the
# DECODED postings of hot (build, pid, term) keys across search() calls,
# so a warm query batch skips the decode entirely (the file read is
# not cached; the serving path keeps whole pids resident for that).
# Per-process LRU with a byte budget; keys
# include the immutable build_id, so a rebuilt index can never serve
# stale postings.  Opt-in via search(postings_cache_mb=...).
# ---------------------------------------------------------------------------
_POSTINGS_CACHE: OrderedDict = OrderedDict()
_POSTINGS_CACHE_STATE = {"bytes": 0, "hits": 0, "misses": 0}


def _lp_bytes(lp: "_LazyPostings") -> int:
    n = lp.rel_docs.nbytes + lp.freqs.nbytes + lp.pos_offsets.nbytes
    if lp.positions is not None:
        n += lp.positions.nbytes
    n += int(sum(hi - lo for lo, hi in zip(lp._u_blo, lp._u_bhi)))
    return n


def _postings_cache_get(key):
    entry = _POSTINGS_CACHE.get(key)
    if entry is not None:
        lp, recorded = entry
        # positions may have been lazily decoded since admission — refresh
        # the accounting so the byte counter never drifts (an eviction
        # subtracting an inflated recomputed size would underflow it and
        # disable the budget for the worker's lifetime)
        size = _lp_bytes(lp)
        if size != recorded:
            _POSTINGS_CACHE_STATE["bytes"] += size - recorded
            _POSTINGS_CACHE[key] = (lp, size)
        _POSTINGS_CACHE.move_to_end(key)
        _POSTINGS_CACHE_STATE["hits"] += 1
        return lp
    _POSTINGS_CACHE_STATE["misses"] += 1
    return None


def _postings_cache_put(key, lp: "_LazyPostings", budget_bytes: int):
    if key in _POSTINGS_CACHE:
        return
    size = _lp_bytes(lp)
    if size > budget_bytes:
        return
    # an entry outlives the rows and the joined decode it came from:
    # keep its own arrays and position bytes, not views that would pin
    # every row read (and every term decoded) with them
    lp.rel_docs, lp.freqs = lp.rel_docs.copy(), lp.freqs.copy()
    lp._u_blob = [bytes(b[lo:hi]) for b, lo, hi
                  in zip(lp._u_blob, lp._u_blo, lp._u_bhi)]
    lp._u_blo = [0] * len(lp._u_blob)
    lp._u_bhi = [len(b) for b in lp._u_blob]
    _POSTINGS_CACHE[key] = (lp, size)
    _POSTINGS_CACHE_STATE["bytes"] += size
    while _POSTINGS_CACHE_STATE["bytes"] > budget_bytes and _POSTINGS_CACHE:
        _, (_, old_size) = _POSTINGS_CACHE.popitem(last=False)
        _POSTINGS_CACHE_STATE["bytes"] -= old_size


def postings_cache_stats() -> dict:
    return dict(_POSTINGS_CACHE_STATE, entries=len(_POSTINGS_CACHE))


def clear_postings_cache() -> None:
    _POSTINGS_CACHE.clear()
    _POSTINGS_CACHE_STATE.update(bytes=0, hits=0, misses=0)


def _single_term_topk(rows, norms: np.ndarray, weight: float,
                      cache: np.ndarray, precision: str, k: int,
                      num_segments: int, ext_bound: float = -np.inf,
                      cached: "_LazyPostings | None" = None,
                      cache_put=None, prefer_full_bytes: int = 0,
                      live: np.ndarray | None = None,
                      start_idx: int = 0, doc_budget: int | None = None,
                      after: tuple[float, int] | None = None,
                      doc_stride: tuple[int, int] = (1, 0)):
    """Single-term scoring with block-max segment skipping.

    Segments are visited in descending admissible upper-bound order
    (``ub = score(seg_max_tf, best_norm)``); once k docs are collected and
    the k-th best exact score strictly exceeds the next segment's bound,
    the remaining segments are skipped without decoding a byte — the
    block-max WAND skip of ``score_lower_bound.c:88-122`` /
    ``matcher.c:121-128``, exact because float rounding is monotone so the
    bound computed by the identical expression tree at maximal inputs
    dominates every in-segment score.

    ``cached``/``cache_put`` hook into the batch-wide decode cache: a hot
    term already fully decoded by an earlier query in the batch is scored
    straight from the cached arrays (scoring is cheap; the skip only ever
    saved the decode), and a full decode performed here is published back.
    ``prefer_full_bytes`` > 0 (set when the warm cache is enabled) trades
    the cold block-max skip for residency on terms whose decoded arrays
    fit the hint: decode fully ONCE and publish, so every later batch
    scores from memory — a skip that re-decodes per call is a net loss
    the moment a term repeats.

    ``start_idx``/``doc_budget`` drive the multi-round adaptive bound
    sync (``topdocs_sync.c:469-544``): resume at segment ``start_idx``
    of the deterministic upper-bound order and decode at most
    ``doc_budget`` docs this round.  Returns a 5th element
    ``(next_idx, remaining, rem_ub)`` — the resume point, whether
    segments are left, and the best upper bound among them (the driver
    relaunches only pairs whose ``rem_ub`` can still beat the global
    k-th best).

    ``after`` = ``(after_score, after_global_doc)`` implements Lucene's
    ``IndexSearcher.searchAfter`` paging: only hits STRICTLY after that
    mark in (score desc, doc asc) order qualify.  Non-qualifying hits
    are dropped before they enter the running top-k buffer, so the
    block-max skip stays exact — a segment's upper bound still
    dominates every qualifying score inside it.  ``doc_stride`` =
    ``(P, pid)`` maps partition-relative docs to global ids for the
    tie-break comparison.
    """
    counts_tot = np.zeros(num_segments, dtype=np.int64)
    max_tf = np.zeros(num_segments, dtype=np.int64)
    for r in rows:
        counts_tot += np.asarray(r.seg_doc_counts, dtype=np.int64)
        max_tf = np.maximum(max_tf, np.asarray(r.seg_max_tf, dtype=np.int64))
    total = int(counts_tot.sum())
    if cached is None and prefer_full_bytes and 16 * total <= \
            prefer_full_bytes:
        total_hint = -1  # force the full-decode (cache-publishing) path
    else:
        total_hint = total
    if cached is not None or (k >= total_hint and ext_bound == -np.inf):
        lp = (cached if cached is not None
              else _decode_terms([rows], [None])[0])
        if cached is None and cache_put is not None:
            cache_put(lp)
        cand, freqs = lp.rel_docs, lp.freqs
        if live is not None:  # mask deleted docs before scoring
            keep = live[cand]
            cand, freqs = cand[keep], freqs[keep]
        nb = norms[cand]
        sc = bm25.score(freqs, nb, weight, cache, precision)
        DECODE_STATS["segments_scored"] += int((counts_tot > 0).sum())
        return (cand, freqs, nb, np.asarray(sc, dtype=np.float64),
                (0, False, -np.inf))

    best_byte = int(np.argmax(cache))
    seg_live = np.flatnonzero(counts_tot > 0)
    ub = np.asarray(bm25.score(max_tf[seg_live],
                               np.full(seg_live.size, best_byte,
                                       dtype=np.int64),
                               weight, cache, precision), dtype=np.float64)
    o = np.argsort(-ub, kind="stable")
    order, ub_sorted = seg_live[o], ub[o]

    parts: list[tuple] = []
    top_buf = np.empty(0, dtype=np.float64)  # running top-k (O(batch + k))
    n_coll, kth, i = 0, -np.inf, int(start_idx)
    state = (0, False, -np.inf)  # (next_idx, remaining, rem_ub)
    docs_decoded = 0
    batch_target = max(4 * k, 256)
    while i < order.size:
        # ext_bound is an achieved global k-th-best lower bound (the
        # host-side bound broadcast of topdocs_sync.c:469-544): admissible
        # to apply before k local docs are collected
        if ub_sorted[i] < ext_bound or (n_coll >= k and ub_sorted[i] < kth):
            DECODE_STATS["segments_skipped"] += int(order.size - i)
            break
        if doc_budget is not None and docs_decoded >= doc_budget:
            # round budget spent with work left: report the resume point
            # and the best remaining upper bound to the driver sync loop
            state = (int(i), True, float(ub_sorted[i]))
            break
        j, exp = i, 0
        while j < order.size and (j == i or exp < batch_target):
            exp += int(counts_tot[order[j]])
            j += 1
        mask = np.zeros(num_segments, dtype=bool)
        mask[order[i:j]] = True
        lp = _decode_terms([rows], [mask])[0]
        cand_b, freqs_b = lp.rel_docs, lp.freqs
        if live is not None:  # deleted docs must not occupy the bound
            keep = live[cand_b]
            cand_b, freqs_b = cand_b[keep], freqs_b[keep]
        nb = norms[cand_b]
        sc = np.asarray(bm25.score(freqs_b, nb, weight, cache, precision),
                        dtype=np.float64)
        if after is not None and cand_b.size:
            # searchAfter: drop hits at-or-before the page mark so they
            # never occupy the running top-k (the skip bound must be the
            # k-th QUALIFYING score)
            s_a, d_a = after
            g = cand_b * doc_stride[0] + doc_stride[1]
            qm = (sc < s_a) | ((sc == s_a) & (g > d_a))
            cand_b, freqs_b, nb, sc = (cand_b[qm], freqs_b[qm], nb[qm],
                                       sc[qm])
        parts.append((cand_b, freqs_b, nb, sc))
        n_coll += cand_b.size
        docs_decoded += exp
        DECODE_STATS["segments_scored"] += int(j - i)
        top_buf = np.concatenate([top_buf, sc])
        if top_buf.size > k:
            top_buf = np.partition(top_buf, -k)[-k:]
        if n_coll >= k:
            kth = float(top_buf.min())
        i = j
    if not parts:
        z = np.empty(0, dtype=np.int64)
        return (z, z, z.astype(np.uint8), np.empty(0, dtype=np.float64),
                state)
    cand = np.concatenate([p[0] for p in parts])
    freqs = np.concatenate([p[1] for p in parts])
    nb = np.concatenate([p[2] for p in parts])
    scores = np.concatenate([p[3] for p in parts])
    return cand, freqs, nb, scores, state


class _DecodeCtx:
    """Per-(partition, batch) decode cache shared by the search and
    compound kernels.

    Full decodes are cached across the query batch (repeated hot terms
    decode once) and, when the warm cache is enabled, across batches in
    the process-wide LRU; co-presence-masked decodes are query-specific.
    :meth:`get_many` decodes all of a call's uncached terms in one
    :func:`_decode_terms` pass.  Positions stay lazy either way.
    """

    __slots__ = ("by_term", "decoded", "pid", "ckey", "budget")

    def __init__(self, by_term: dict[str, list], payload: dict, pid: int,
                 ckey=None):
        self.by_term = by_term
        self.decoded: dict[str, _LazyPostings] = {}
        self.pid = pid
        self.ckey = ckey if ckey is not None else payload.get("cache_key")
        self.budget = int(payload.get("postings_cache_mb", 0)) * (1 << 20)

    def probe(self, term) -> "_LazyPostings | None":
        tp = self.decoded.get(term)
        if tp is None and self.budget:
            tp = _postings_cache_get((self.ckey, self.pid, term))
            if tp is not None:
                self.decoded[term] = tp
        return tp

    def publish(self, term, tp: "_LazyPostings") -> None:
        self.decoded[term] = tp
        if self.budget:
            _postings_cache_put((self.ckey, self.pid, term), tp,
                                self.budget)

    def _decode_mask(self, term, seg_mask):
        """The segment mask to decode an uncached ``term`` with."""
        if seg_mask is not None and self.budget:
            # warm cache on: a masked decode is query-specific and
            # re-done every batch — prefer one cacheable full decode for
            # modest terms (same residency tradeoff as the single-term
            # prefer_full path)
            est = 16 * sum(int(np.asarray(r.seg_doc_counts,
                                          dtype=np.int64).sum())
                           for r in self.by_term[term])
            if est <= self.budget // 8:
                return None
        return seg_mask

    def get_many(self, terms, seg_mask=None) -> list["_LazyPostings"]:
        """Postings of the distinct ``terms``: every term is probed
        first, the misses decode together, and each full decode is
        published in term order.  A miss with no full decode available
        decodes only the co-present segments ``seg_mask`` (query-specific,
        not published)."""
        tps = [self.probe(t) for t in terms]
        miss = [i for i, tp in enumerate(tps) if tp is None]
        if not miss:
            # an already-decoded superset is always valid: masked-out
            # segments hold docs that cannot survive the intersection
            return tps
        masks = [self._decode_mask(terms[i], seg_mask) for i in miss]
        lps = _decode_terms([self.by_term[terms[i]] for i in miss], masks)
        for i, mask, lp in zip(miss, masks, lps):
            if mask is None:
                self.publish(terms[i], lp)
            tps[i] = lp
        return tps

    def get(self, term, seg_mask=None) -> "_LazyPostings":
        return self.get_many([term], seg_mask)[0]


def _phrase_candidates(ctx: _DecodeCtx, terms, cand_segs=None):
    """A multi-term phrase's candidate docs on one pid.  Only segments
    where EVERY term has postings can hold a match (co-presence prune,
    ``dpu.c:204-207`` semantics; ``cand_segs`` narrows them further),
    so only those decode, in one :meth:`_DecodeCtx.get_many` call; then
    a k-way sorted docID intersection (leapfrog semantics).  Returns
    ``(postings, cand, idxs)`` in ``terms`` order — ``idxs[i]`` maps
    ``cand`` into ``postings[i]`` — or ``None`` when no doc holds every
    term."""
    uniq = list(dict.fromkeys(terms))
    pres = None
    for t in uniq:
        p = None
        for r in ctx.by_term[t]:
            c = np.asarray(r.seg_doc_counts) > 0
            p = c if p is None else (p | c)
        pres = p if pres is None else (pres & p)
    if cand_segs is not None:
        pres = pres & cand_segs
    if not pres.any():
        return None
    tps = ctx.get_many(uniq, None if pres.all() else pres)
    cand = tps[0].rel_docs
    idxs = [np.arange(cand.size)]
    for tp in tps[1:]:
        cand, ia, ib = np.intersect1d(cand, tp.rel_docs, assume_unique=True,
                                      return_indices=True)
        idxs = [ix[ia] for ix in idxs] + [ib]
        if cand.size == 0:
            return None
    order = [uniq.index(t) for t in terms]
    return [tps[j] for j in order], cand, [idxs[j] for j in order]


def _match_core_arrays(payload: dict, pid: int, by_term: dict[str, dict],
                       norms_live: dict[str, tuple]) -> dict | None:
    """The term/phrase kernel over one pid, a :func:`_run_pids` core on
    field ``""``: ``by_term[""]`` holds the pid's stripe-ordered rows per
    query term and ``norms_live[""]`` its ``(norms, live mask)``; the
    pid's result columns as arrays, or ``None`` without hits."""
    out_qid, out_doc, out_freq, out_norm, out_score = [], [], [], [], []
    P = payload["num_partitions"]
    k = payload["k"]
    precision = payload["precision"]
    cache = payload["cache"]
    num_segments = payload["num_segments"]
    by_term = by_term.get("", {})
    norms, live = norms_live[""]

    ctx = _DecodeCtx(by_term, payload, pid)
    cache_budget = ctx.budget
    _probe_cached = ctx.probe
    _publish = ctx.publish

    bounds = payload.get("bounds") or {}
    after_all = payload.get("after") or {}
    offsets_all = payload.get("offsets") or {}
    # multi-round adaptive bound sync (topdocs_sync.c:469-544): the
    # driver passes a per-round doc budget + per-(qid, pid) resume
    # indices; the kernel reports progress back through STATE rows
    # (norm -1 = budget spent with work left, -2 = exhausted; doc_id =
    # pid, freq = resume index, score = best remaining upper bound)
    sync = payload.get("sync")
    budget = int(sync["budget"]) if sync else None
    progress = sync.get("progress", {}) if sync else {}
    sync_round = int(sync.get("round", 0)) if sync else 0
    st_qid, st_idx, st_norm, st_ub = [], [], [], []
    for qid, terms, weight in payload["queries"]:
        start_idx = 0
        if sync:
            mine = progress.get(qid, {}).get(pid)
            if sync_round > 0:
                if mine is None:  # not relaunched: this pair is done
                    continue
                start_idx = int(mine)
        if any(t not in by_term for t in terms):
            continue  # this partition lacks a term → no hits here
        ext = float(bounds.get(qid, -np.inf))
        aft = after_all.get(qid)

        if len(terms) == 1:
            t0 = terms[0]
            cand, freqs, norm_bytes, scores, st = _single_term_topk(
                by_term[t0], norms, weight, cache, precision, k,
                num_segments, ext_bound=ext,
                cached=_probe_cached(t0),
                cache_put=lambda lp, _t=t0: _publish(_t, lp),
                prefer_full_bytes=cache_budget // 8, live=live,
                start_idx=start_idx, doc_budget=budget,
                after=aft, doc_stride=(P, pid))
            if sync and st[1]:  # budget spent with segments left
                st_qid.append(qid)
                st_idx.append(st[0])
                st_norm.append(-1)
                st_ub.append(st[2])
            if cand.size == 0:
                continue
        else:
            found = _phrase_candidates(ctx, terms)
            if found is None:
                continue
            tps, cand, idxs = found
            if live is not None:
                keep = live[cand]  # deleted docs leave the candidate set
                cand = cand[keep]  # before any WAND bound accumulates
                idxs = [ix[keep] for ix in idxs]
                if cand.size == 0:
                    continue

            tfs = np.stack([tp.freqs[ix] for tp, ix in zip(tps, idxs)])
            norm_bytes = norms[cand]

            # WAND-style cut: evaluate candidates in descending
            # admissible upper bound order (phrase freq <= min term tf,
            # score monotone in freq — score_lower_bound.c:88-122);
            # positions decode lazily per evaluated chunk
            ub_freq = tfs.min(axis=0)
            ub = bm25.score(ub_freq, norm_bytes, weight, cache, precision)
            order = np.argsort(-ub.astype(np.float64), kind="stable")
            freqs = np.zeros(cand.size, dtype=np.int64)
            scores = np.full(cand.size, -np.inf)
            chunk = max(4 * k, 256)
            n_scored = 0
            kth_best = -np.inf
            # searchAfter: the k-th-best cut must track QUALIFYING hits
            # only (a pre-mark hit can never be emitted, so letting it
            # tighten the cut would prune real page hits)
            qual_buf = np.empty(0, dtype=np.float64)
            # phrases are exempt from the round budget: the doc-id
            # decode behind the intersection would repeat every round
            # (kernel tasks are stateless across jobs), overwhelming the
            # position-work saving — a phrase pair completes in its
            # first round (it never emits a state row, so it is never
            # relaunched); the sync loop's doc budget is the reference's
            # per-term topdocs path
            for start in range(0, order.size, chunk):
                sel = order[start:start + chunk]
                # strict <: an unevaluated candidate with exact == kth
                # could still win the doc_id-asc tie-break.  ext is the
                # broadcast global bound — admissible immediately.
                cut = float(ub[sel[0]])
                if cut < ext or (n_scored >= k and cut < kth_best):
                    break  # no remaining candidate can beat the k-th
                sub_counts = _phrase_match_counts(
                    tps, [ix[sel] for ix in idxs], sel.size,
                    offsets=offsets_all.get(qid))
                freqs[sel] = sub_counts
                hit = sub_counts > 0
                if hit.any():
                    sc = bm25.score(sub_counts[hit], norm_bytes[sel][hit],
                                    weight, cache, precision)
                    scf = sc.astype(np.float64)
                    scores[sel[hit]] = scf
                    if aft is None:
                        n_scored += int(hit.sum())
                        pos_scores = scores[scores > -np.inf]
                        if pos_scores.size >= k:
                            kth_best = float(
                                np.partition(pos_scores, -k)[-k])
                    else:
                        s_a, d_a = aft
                        g = cand[sel[hit]] * P + pid
                        qm = (scf < s_a) | ((scf == s_a) & (g > d_a))
                        n_scored += int(qm.sum())
                        qual_buf = np.concatenate([qual_buf, scf[qm]])
                        if qual_buf.size > k:
                            qual_buf = np.partition(qual_buf, -k)[-k:]
                        if n_scored >= k:
                            kth_best = float(qual_buf.min())

        hit = freqs > 0
        if not hit.any():
            continue
        h_doc = cand[hit] * P + pid
        h_freq = freqs[hit]
        h_norm = norm_bytes[hit]
        h_score = np.asarray(scores)[hit].astype(np.float64)
        if aft is not None:
            # searchAfter page filter: strictly after the mark in
            # (score desc, doc asc) order.  Idempotent with the in-loop
            # masks above; also covers the no-prune full-decode paths.
            s_a, d_a = aft
            qm = (h_score < s_a) | ((h_score == s_a) & (h_doc > d_a))
            if not qm.any():
                continue
            h_doc, h_freq = h_doc[qm], h_freq[qm]
            h_norm, h_score = h_norm[qm], h_score[qm]
        # per-partition top-k (score desc, doc asc) to bound shuffle size
        if h_doc.size > k:
            ord_local = np.lexsort((h_doc, -h_score))[:k]
        else:
            ord_local = np.lexsort((h_doc, -h_score))
        out_qid.append(np.full(ord_local.size, qid, dtype=np.int64))
        out_doc.append(h_doc[ord_local])
        out_freq.append(h_freq[ord_local])
        out_norm.append(h_norm[ord_local].astype(np.int32))
        out_score.append(h_score[ord_local])

    if st_qid:  # sync-mode state rows (norm -1): doc_id=pid, freq=resume
        out_qid.append(np.asarray(st_qid, dtype=np.int64))
        out_doc.append(np.full(len(st_qid), pid, dtype=np.int64))
        out_freq.append(np.asarray(st_idx, dtype=np.int64))
        out_norm.append(np.asarray(st_norm, dtype=np.int32))
        out_score.append(np.asarray(st_ub, dtype=np.float64))
    if not out_qid:
        return None
    return {
        "qid": np.concatenate(out_qid),
        "doc_id": np.concatenate(out_doc),
        "freq": np.concatenate(out_freq),
        "norm": np.concatenate(out_norm).astype(np.int32),
        "score": np.concatenate(out_score),
    }


_EMPTY_RESULT: pd.DataFrame | None = None


def _empty_result() -> pd.DataFrame:
    """Typed empty result frame — one cached instance (treat as
    immutable).  Serving profile: constructing this per no-hit partition
    was ~48% of warm ``search_local`` time (pandas dict_to_mgr + astype
    cost ~3 ms per empty frame × ~10 empty pids per query)."""
    global _EMPTY_RESULT
    if _EMPTY_RESULT is None:
        _EMPTY_RESULT = pd.DataFrame({"qid": [], "doc_id": [], "freq": [],
                                      "norm": [], "score": []}).astype(
            {"qid": np.int64, "doc_id": np.int64, "freq": np.int64,
             "norm": np.int32, "score": np.float64})
    return _EMPTY_RESULT


def _top_k_index(qid: np.ndarray, score: np.ndarray, doc_id: np.ndarray,
                 k: int) -> np.ndarray:
    """Row indices of each query's first ``k`` rows in (score desc,
    doc_id asc) order — Lucene ``TopScoreDocCollector``'s tie-break —
    with the queries in ascending qid order.  The sort is stable, so
    fully tied rows keep their input order."""
    order = np.lexsort((doc_id, -score, qid))
    q = qid[order]
    first = np.ones(q.size, dtype=bool)
    np.not_equal(q[1:], q[:-1], out=first[1:])
    starts = np.flatnonzero(first)
    rank = np.arange(q.size) - np.repeat(starts,
                                         np.diff(starts, append=q.size))
    return order[rank < k]


def _top_k(rows, k: int) -> pd.DataFrame:
    """Driver merge of per-pid top-k rows (a frame, or a kernel's dict
    of column arrays): each query's first ``k`` in (score desc, doc_id
    asc) order (:func:`_top_k_index`) as one frame — the reference's
    host-side merge (``topdocs_sync.c:369-412``)."""
    cols = {c: np.asarray(v) for c, v in rows.items()}
    keep = _top_k_index(cols["qid"], cols["score"], cols["doc_id"], k)
    return pd.DataFrame({c: v[keep] for c, v in cols.items()})


def _top_k_window(df: DataFrame, k: int) -> DataFrame:
    """Global top-``k`` per query over per-partition rows: a rank
    window in (score desc, doc_id asc) order."""
    w = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("doc_id"))
    return (df.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k).drop("rank"))


def _kernel_payload(manifest: IndexManifest, precision: str,
                    needed_terms=None, **extra) -> dict:
    """The one builder of kernel payloads: an index's scoring and layout
    inputs (score cache, partition/segment shape, norms and delete
    paths, decode-cache key) plus the caller's ``extra`` keys (queries,
    ``k``, ``after``, ...).  Search, the serving path and every
    compound/BM25F field read their per-index inputs from here.
    ``needed_terms`` makes it a single-field payload for
    :func:`_run_pids`: the index is field ``""`` with those terms."""
    avgdl = bm25.avg_field_length(manifest.sum_total_term_freq,
                                  manifest.doc_count, precision)
    payload = {
        "precision": precision,
        "cache": bm25.score_cache(avgdl, manifest.k1, manifest.b, precision),
        "num_partitions": manifest.num_partitions,
        "num_segments": manifest.num_segments,
        "nb_doc_per_segment": manifest.nb_doc_per_segment,
        "norms_path": manifest.norms_path,
        "deletes_path": (manifest.deletes_path if manifest.delete_gen
                         else None),
        # the key mixes content-derived stats in with the build_id, so
        # an in-place rebuild cannot serve stale decoded postings from
        # warm workers
        "cache_key": manifest_scan_key(manifest),
    }
    if needed_terms is not None:
        payload.update(fields={"": dict(payload)},
                       needed_terms={"": sorted(needed_terms)})
    payload.update(extra)
    if payload.get("after"):
        payload["after"] = {int(q): (float(s), int(d))
                            for q, (s, d) in payload["after"].items()}
    return payload


# ---------------------------------------------------------------------------
# shard reader: every route (in-process, file plan, bound probe, sync
# rounds, serving) reads postings through _read_shard, norms through
# _pid_norms, and feeds its kernel through _run_pids — the reference's
# DPU model, where each DPU reads its own self-contained index partition
# (PimIndexWriter.java).
# ---------------------------------------------------------------------------
_ROW_ARRAYS = ("seg_doc_counts", "seg_doc_bytes", "seg_freq_bytes",
               "seg_pos_bytes", "seg_max_tf", "doc_blob", "freq_blob",
               "pos_blob")


def _pid_norms(norms_path: str, pid: int) -> np.ndarray:
    """A pid's norms blob (1 byte/doc) — the only reader of it."""
    import pyarrow.parquet as pq
    part_dir = os.path.join(norms_path, f"pid={pid}")
    if not os.path.isdir(part_dir):
        # a pid with postings always has docs, hence norms — a missing
        # dir is a misconfiguration (unmounted index path, object-store
        # URI): fail loudly, never return empty hits
        raise FileNotFoundError(
            f"norms partition {part_dir} not visible from this "
            "process; search needs the index on a POSIX-visible shared "
            "mount (local disk, NFS, Lustre, a FUSE-mounted object store)")
    blob = pq.read_table(part_dir, columns=["norms"]) \
        .column("norms")[0].as_py()
    return np.frombuffer(blob, dtype=np.uint8)


def _flat_column(col) -> tuple[np.ndarray, np.ndarray]:
    """``(offsets, values)`` numpy views of a list or binary column
    (one chunk): row ``i`` is ``values[offsets[i]:offsets[i + 1]]``."""
    import pyarrow as pa
    arr = col.chunk(0)
    if pa.types.is_list(arr.type):  # offsets index the unsliced values
        return arr.offsets.to_numpy(), arr.values.to_numpy()
    _, off_buf, data_buf = arr.buffers()
    off = np.frombuffer(off_buf, dtype=np.int32)[
        arr.offset:arr.offset + len(arr) + 1]
    data = (np.frombuffer(data_buf, dtype=np.uint8) if data_buf is not None
            else np.empty(0, dtype=np.uint8))
    return off, data


class _ResidentRow:
    """One stripe row of a pid.  The kernel reads the ``seg_*`` arrays
    and ``*_blob`` bytes as attributes; each is a zero-copy numpy slice
    of the pid's Arrow columns."""

    __slots__ = ("_cols", "_i", "stripe")

    def __init__(self, cols: dict, i: int, stripe: int):
        self._cols = cols
        self._i = i
        self.stripe = stripe

    def __getattr__(self, name):
        try:
            off, vals = self._cols[name]
        except KeyError:
            raise AttributeError(name) from None
        return vals[off[self._i]:off[self._i + 1]]


class _ResidentPid:
    """One pid's postings as Arrow columns: a term column sorted by
    (term, stripe) for ``searchsorted`` lookups plus flat views of the
    kernel columns.  Its norms blob and live mask load on first use and
    live and die with it (the serving cache evicts them together)."""

    __slots__ = ("pid", "terms", "stripes", "cols", "rows_nbytes", "norms",
                 "live")

    def __init__(self, pid: int, table=None):
        import pyarrow.compute as pc
        self.pid = pid
        self.norms: np.ndarray | None = None
        self.live: tuple | None = None   # (deletes_path, mask | None)
        if table is None or not table.num_rows:
            self.terms = np.empty(0, dtype=object)
            self.stripes = np.empty(0, dtype=np.int32)
            self.cols, self.rows_nbytes = {}, 0
            return
        order = pc.sort_indices(table, sort_keys=[("term", "ascending"),
                                                  ("stripe", "ascending")])
        if not np.array_equal(order.to_numpy(), np.arange(table.num_rows)):
            table = table.take(order)
        table = table.combine_chunks()
        self.rows_nbytes = int(table.nbytes)
        self.terms = table.column("term").to_numpy(zero_copy_only=False)
        self.stripes = table.column("stripe").to_numpy()
        self.cols = {c: _flat_column(table.column(c)) for c in _ROW_ARRAYS}

    @property
    def nbytes(self) -> int:
        n = self.rows_nbytes
        if self.norms is not None:
            n += self.norms.nbytes
        if self.live is not None and self.live[1] is not None:
            n += self.live[1].nbytes
        return n

    def by_term(self, terms: np.ndarray) -> dict:
        """``{term: [stripe-ordered rows]}`` for the ``terms`` (an
        object array) present in this pid."""
        los = self.terms.searchsorted(terms, side="left").tolist()
        his = self.terms.searchsorted(terms, side="right").tolist()
        return {t: [_ResidentRow(self.cols, i, int(self.stripes[i]))
                    for i in range(lo, hi)]
                for t, lo, hi in zip(terms.tolist(), los, his) if hi > lo}

    def norms_live(self, norms_path: str, deletes_path: str | None,
                   num_partitions: int) -> tuple:
        """``(norms, live mask | None)``; the mask follows the delete
        generation in ``deletes_path``."""
        if self.norms is None:
            self.norms = _pid_norms(norms_path, self.pid)
        if self.live is None or self.live[0] != deletes_path:
            self.live = (deletes_path,
                         live_mask_for(deletes_path, self.pid,
                                       num_partitions, self.norms.size))
        return self.norms, self.live[1]


def _read_shard(files: list[str], pids, terms=None
                ) -> dict[int, _ResidentPid]:
    """``{pid: _ResidentPid}`` for the ``pids`` (restricted to ``terms``
    when given) that have rows in ``files``.  Opens each file once and
    reads it whole and single-threaded — a postings file is one row
    group, so a filtered read would decode the same pages — then splits
    the rows by pid.  ``terms=None`` keeps whole pids (serving
    residency)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    parts: dict[int, list] = {int(p): [] for p in pids}
    value_set = None if terms is None else pa.array(list(terms),
                                                    pa.string())
    for f in files:
        with pq.ParquetFile(f) as pf:
            t = pf.read(use_threads=False)
        if value_set is not None:
            t = t.filter(pc.is_in(t.column("term"), value_set=value_set))
        col = t.column("pid").to_numpy()
        for p in np.unique(col).tolist():
            if p in parts:
                parts[p].append(t.filter(pa.array(col == p)))
    return {p: _ResidentPid(p, pa.concat_tables(ts))
            for p, ts in parts.items() if ts}


def _run_pids(payload: dict, core, shards: dict[str, dict],
              pids) -> dict | None:
    """The per-pid runner every kernel shares (term/phrase, compound,
    aggregate modes, BM25F, sloppy) on the file plan and the serving
    path.  ``shards`` = ``{field: {pid: _ResidentPid}}``; a pid missing
    from a field's shard has no rows there.  For each pid: its rows per
    ``payload["needed_terms"]`` of each field, every payload field's
    norms and live mask (:meth:`_ResidentPid.norms_live`), then
    ``core(payload, pid, by_term, norms_live)`` → a dict of column
    arrays or ``None``.  A pid with no rows runs only for a
    MatchAllDocs batch.  The pids' columns concatenated, or ``None``
    without rows."""
    P = payload["num_partitions"]
    terms = {f: np.asarray(ts, dtype=object)
             for f, ts in payload["needed_terms"].items() if ts}
    outs = []
    for pid in sorted(pids):
        res = {f: shards.get(f, {}).get(pid) or _ResidentPid(pid)
               for f in payload["fields"]}
        by_term = {}
        for f, ts in terms.items():
            bt = res[f].by_term(ts)
            if bt:
                by_term[f] = bt
        if not by_term and not payload.get("has_matchall"):
            continue
        norms_live = {f: res[f].norms_live(fm["norms_path"],
                                           fm["deletes_path"], P)
                      for f, fm in payload["fields"].items()}
        out = core(payload, pid, by_term, norms_live)
        if out is not None:
            outs.append(out)
    if len(outs) <= 1:
        return outs[0] if outs else None
    return {c: np.concatenate([o[c] for o in outs]) for c in outs[0]}


def _read_group(payload: dict, core, files: dict[str, list[str]],
                pids: list[int]) -> dict | None:
    """One file-plan task: read the group's files once per field for
    that field's terms (:func:`_read_shard`), then :func:`_run_pids`."""
    shards = {f: _read_shard(fs, pids, payload["needed_terms"][f])
              for f, fs in files.items()}
    return _run_pids(payload, core, shards, pids)


def _file_plan(spark: SparkSession, manifests: dict[str, IndexManifest],
               runner, schema: T.StructType, n_tasks: int,
               pids=None) -> DataFrame:
    """The zero-exchange ``Range → MapInPandas`` job every pid-grouped
    kernel runs on: each of ``n_tasks`` tasks calls ``runner(files,
    pids)`` on its ASSIGNED group (``files`` per field, of ``pids``
    only, when given) and yields its columns (arrays or a frame) as one
    frame — no Exchange at all (guide
    §2.4 / §8.4 "co-locate instead of join": the postings Parquet is
    already laid out by pid, so a repartition-by-pid shuffle would only
    re-create a grouping the files already have).
    :func:`_postings_file_groups` guarantees every pid lives in exactly
    one group.  Needs POSIX-visible index files from every executor
    (:func:`_pid_map` and :func:`_pid_norms` fail loudly without
    them)."""
    groups = _postings_file_groups(manifests, n_tasks, pids)

    def fn(it):
        for pdf in it:
            for gi in pdf["id"]:
                out = runner(*groups[int(gi)])
                if out is not None:
                    yield pd.DataFrame(out)
    return (spark.range(0, len(groups), 1, max(1, len(groups)))
            .mapInPandas(fn, schema))


# Postings-volume ceiling for the in-process query route.  If a query
# batch's total postings volume (Σ doc_freq over its terms) does not
# exceed what ONE kernel task is sized to handle, a distributed job cannot
# run faster than a single task — and that one task would still pay the
# full Python-stage job overhead (~170-250 ms measured on a 4-core host
# for an *identity* mapInPandas job, vs single-digit ms of actual kernel
# work).  Below the ceiling the driver runs the one-group file plan
# in-process instead — the exact job the cluster would have executed,
# minus the scheduler (and the reference engine's own query path is
# host-resident for the same reason).  The ceiling is its own constant,
# not the per-task sizing (_POSTINGS_PER_TASK), so raising task sizes
# never widens in-process routing.  Measured break-evens (quiet host): a
# single hot-term query still wins inline at Σdf = 500k (284 vs 485 ms)
# and loses by Σdf = 1M (1466 vs 592 ms), but a 20-phrase batch at Σdf =
# 108k already loses (570-890 ms inline vs ~330 ms distributed —
# per-posting work grows with query count), so it stays at one task's
# budget rather than the single-query crossover.
_LOCAL_ROUTE_POSTINGS = 1 << 16
# kernel task sizing (_kernel_task_count): postings per task, task floor
_POSTINGS_PER_TASK = 1 << 16
_KERNEL_TASK_FLOOR = 8


def _kernel_task_count(num_partitions: int, total_postings: int) -> int:
    """Scale-adaptive kernel parallelism (guide §2: derive partitioning
    from input size, not a constant).

    ``total_postings`` = Σ doc_freq over the query batch's terms (known
    from the stats lookup — no extra job): the upper bound on posting
    rows the scan can emit.  One task per ~64k postings keeps per-task
    decode work (a few MB, tens of ms) comfortably above the ~5-10 ms
    task-launch cost; a small floor overlaps the per-pid norms reads
    even for tiny queries; the cap is one task per index partition (a
    pid is the indivisible kernel unit).  Task counts derive from the
    data size, not the core count.
    """
    want = max(_KERNEL_TASK_FLOOR,
               -(-int(total_postings) // _POSTINGS_PER_TASK))
    return max(1, min(int(num_partitions), want))


# postings pid→files map per index generation: which Parquet files hold
# each pid's rows (exact, from the RLE/dictionary-encoded pid column) —
# the file plan hands each task a pid subset plus the files that contain
# it, and the serving path loads a pid from exactly its files.  Keyed
# like the scan cache (identity + dir mtimes); bounded; only successful
# scans are cached.
_FILE_PLAN_CACHE: OrderedDict[tuple, dict] = OrderedDict()
_FILE_PLAN_CACHE_MAX = 64


def _postings_pid_map(manifest: IndexManifest) -> dict | None:
    """``{pid: (est_bytes, [files...])}`` from a one-time scan of each
    chunk file's pid column (tiny: RLE/dictionary pages), or ``None``
    when the driver cannot list the layout (URI paths, missing dirs).
    Cached per (build, mtimes); a failed read raises and caches nothing.
    No postings data is touched, and the weights are driver-side
    planning estimates only (file bytes split evenly over the file's
    pids)."""
    from pim_lucene_spark.sparkutil import _paths_token
    paths = tuple(manifest.chunk_path(c)
                  for c in range(manifest.build_chunks))
    token = _paths_token(paths)
    if token is None:
        return None
    key = (manifest_scan_key(manifest), paths, token)
    if key in _FILE_PLAN_CACHE:
        _FILE_PLAN_CACHE.move_to_end(key)
        return _FILE_PLAN_CACHE[key]
    import pyarrow.parquet as pq
    pid_map: dict[int, tuple[float, list[str]]] = {}
    for d in paths:
        for name in sorted(os.listdir(d)):
            if not name.endswith(".parquet"):
                continue
            f = os.path.join(d, name)
            pids = np.unique(pq.read_table(f, columns=["pid"])
                             .column("pid").to_numpy())
            if pids.size == 0:
                continue  # empty part file: no pids to own
            w = os.path.getsize(f) / pids.size
            for p in pids.tolist():
                old_w, old_files = pid_map.get(int(p), (0.0, []))
                pid_map[int(p)] = (old_w + w, old_files + [f])
    if not pid_map:
        return None
    _FILE_PLAN_CACHE[key] = pid_map
    while len(_FILE_PLAN_CACHE) > _FILE_PLAN_CACHE_MAX:
        _FILE_PLAN_CACHE.popitem(last=False)
    return pid_map


def _pid_map(manifest: IndexManifest) -> dict:
    """:func:`_postings_pid_map`, failing loudly where it cannot list
    the postings files — no direct route answers from a partial view."""
    pid_map = _postings_pid_map(manifest)
    if pid_map is None:
        raise FileNotFoundError(
            "direct postings access needs readable, POSIX-visible "
            f"postings files; cannot list them under {manifest.index_dir}"
            " — object stores need a POSIX mount")
    return pid_map


def _postings_file_groups(manifests: dict[str, IndexManifest],
                          n_tasks: int, pids=None
                          ) -> list[tuple[dict[str, list[str]], list[int]]]:
    """Bin-pack pids into ``n_tasks`` task groups (LPT greedy on the
    per-pid byte estimate summed over fields).  ``pids=None`` takes
    every pid with postings in any field; given ``pids`` are all kept,
    postings or not (a MatchAllDocs batch plans over every pid).  Each
    group is ``({field: files}, pids)``: its task reads those files and
    keeps those pids' rows, so a pid is owned by exactly ONE task no
    matter how the writer laid out the files."""
    maps = {f: _pid_map(m) for f, m in manifests.items()}
    if pids is None:
        pids = set().union(*maps.values())
    weights = {int(p): sum(mp[p][0] for mp in maps.values() if p in mp)
               for p in pids}
    n = max(1, min(int(n_tasks), len(weights)))
    bins: list[list] = [[0.0, [], {f: set() for f in maps}]
                        for _ in range(n)]
    for pid, w in sorted(weights.items(), key=lambda kv: (-kv[1], kv[0])):
        tgt = min(bins, key=lambda b: (b[0], len(b[1])))
        tgt[0] += w
        tgt[1].append(pid)
        for f, mp in maps.items():
            tgt[2][f].update(mp.get(pid, (0, []))[1])
    return [({f: sorted(fs) for f, fs in files.items()}, ps)
            for _, ps, files in bins if ps]


# term → doc_freq cache per index generation (0 = negative entry).  The
# reference caches scoring stats per query batch (PimPhraseScoreStats);
# we additionally reuse them across batches — repeated hot terms skip the
# stats-lookup job entirely.  Keyed by the manifest's build_id (a rebuilt
# index in the same directory gets a new id and never serves stale stats);
# LRU-bounded so dead indexes don't leak for the process lifetime.
_TERM_STATS_CACHE: OrderedDict[tuple, dict[str, int]] = OrderedDict()
_TERM_STATS_CACHE_MAX = 64
# index generations whose FULL stats table is cached (small indexes only:
# one job warms every term and later misses are true df=0 negatives)
_TERM_STATS_FULL: set[tuple] = set()
_FULL_STATS_MAX_BYTES = 8 << 20  # gate: never bulk-load a big stats table


def _stats_table_bytes(path: str) -> int | None:
    """Cheap driver-side size probe of the stats Parquet dir (local/shared
    FS only — returns None where listing fails, falling back to the
    filtered per-term read)."""
    try:
        sizes = [os.path.getsize(os.path.join(path, f))
                 for f in os.listdir(path) if f.endswith(".parquet")]
    except OSError:
        return None
    # zero parquet files == unknown layout, NOT an empty table — never let
    # a non-standard layout pass the "small table" gate
    return sum(sizes) if sizes else None


def _stats_cache_key(m: IndexManifest) -> tuple:
    return (m.build_id or m.index_dir, m.doc_count, m.sum_total_term_freq,
            m.norm_quant_factor)


def _normalize_queries(queries) -> list[tuple[int, str, float]]:
    """Accept ``(qid, text)`` or ``(qid, text, boost)`` tuples."""
    out = []
    for q in queries:
        if len(q) == 2:
            out.append((q[0], q[1], 1.0))
        else:
            out.append((q[0], q[1], float(q[2])))
    return out


def _tokenize_queries_full(norm_queries: list[tuple[int, str, float]],
                           tokenizer: str
                           ) -> dict[int, tuple[list, tuple | None, float]]:
    """Analyze a whole query batch in ONE vectorized pass →
    ``{qid: (terms, offsets | None, boost)}``.

    Per-query ``tokenize_one`` re-runs the analyzer pipeline (and, for
    ``standard``, ~15 Arrow regex compilations) per string — measured
    ~20 ms/query, which made driver-side planning the bottleneck of the
    1036-query reference batch.  One batched call amortizes it.

    ``offsets`` is non-None only when a stop-filtering analyzer
    (``english``) removed INTERNAL tokens: Lucene's ``QueryBuilder``
    keeps position increments, so the phrase "sort the window" becomes
    a gapped PhraseQuery — sort@x, window@x+2.  Offsets are normalized
    to start at 0 (a leading gap only shifts the match start).

    ``whitespace`` needs no pipeline: it is one ``str.split`` per text
    (:func:`tokenize_one`), which pandas' vectorized split would run
    anyway behind ~1 ms of Series overhead — most of a one-query
    serving request's planning time.
    """
    if tokenizer == "whitespace":
        return {qid: (tokenize_one(text, tokenizer), None, boost)
                for qid, text, boost in norm_queries}
    texts = pd.Series([t for _, t, _ in norm_queries], dtype=object)
    if tokenizer != "english":
        from pim_lucene_spark.functions.tokenize import tokenize_series
        toks = tokenize_series(texts, tokenizer)
        return {qid: (list(ts), None, boost)
                for (qid, _, boost), ts in zip(norm_queries, toks)}
    from pim_lucene_spark.functions.tokenize import (gap_offsets,
                                                      tokenize_to_codes)
    doc_idx, codes, pos, uniq = tokenize_to_codes(texts, tokenizer)
    bounds = np.searchsorted(doc_idx, np.arange(len(norm_queries) + 1))
    out = {}
    for row, (qid, _, boost) in enumerate(norm_queries):
        lo, hi = bounds[row], bounds[row + 1]
        ts = [uniq[c] for c in codes[lo:hi]]
        out[qid] = (ts, gap_offsets(pos[lo:hi]), boost)
    return out


def _tokenize_queries(norm_queries: list[tuple[int, str, float]],
                      tokenizer: str) -> dict[int, tuple[list[str], float]]:
    """Back-compat shape ``{qid: (terms, boost)}`` (no gap offsets)."""
    return {qid: (ts, boost) for qid, (ts, _, boost)
            in _tokenize_queries_full(norm_queries, tokenizer).items()}


def plan_queries(spark: SparkSession, manifest: IndexManifest,
                 queries: list[tuple], k: int,
                 precision: str,
                 collect_offsets: dict | None = None
                 ) -> tuple[list, list[str]]:
    """Driver-side scoring-stats build (Q2) + no-match short-circuit (Q3).

    ``queries`` are ``(qid, text)`` or ``(qid, text, boost)``; boost
    scales the weight exactly as Lucene's ``BoostQuery``
    (``weight = boost * Σidf`` in float32, ``BM25Similarity.java:236``).

    ``collect_offsets``: a dict the caller supplies to receive
    ``{qid: gap offsets}`` for queries whose analysis removed internal
    stop words (``english`` analyzer) — the kernel aligns phrase terms
    at those offsets instead of consecutive positions (Lucene
    QueryBuilder gapped-PhraseQuery semantics).
    """
    norm_queries = _normalize_queries(queries)
    term_lists = _tokenize_queries_full(norm_queries, manifest.tokenizer)
    all_terms = sorted({t for ts, _, _ in term_lists.values() for t in ts})
    if not all_terms:
        return [], []
    cache = term_doc_freqs(spark, manifest, all_terms)
    doc_freq = {t: cache[t] for t in all_terms if cache[t] > 0}
    planned = []
    for qid, (terms, offs, boost) in term_lists.items():
        if not terms or any(t not in doc_freq for t in terms):
            continue  # Q3: constant-zero weight
        dfs = np.array([doc_freq[t] for t in terms], dtype=np.int64)
        weight = bm25.phrase_weight(dfs, manifest.doc_count,
                                    boost=boost, precision=precision)
        planned.append((qid, tuple(terms), float(weight)))
        if collect_offsets is not None and offs is not None:
            collect_offsets[qid] = offs
    needed_terms = sorted({t for _, ts, _ in planned for t in ts})
    return planned, needed_terms


def term_doc_freqs(spark: SparkSession | None, manifest: IndexManifest,
                   all_terms: list[str]) -> dict[str, int]:
    """doc_freq per exact term (0 for absent), via the cross-batch stats
    cache — pyarrow pushdown when ``spark`` is None (serving path).
    Terms are index terms, NOT analyzed text (``SynonymQuery`` and
    expansion callers pass post-analysis terms)."""
    key = _stats_cache_key(manifest)
    cache = _TERM_STATS_CACHE.setdefault(key, {})
    _TERM_STATS_CACHE.move_to_end(key)
    while len(_TERM_STATS_CACHE) > _TERM_STATS_CACHE_MAX:
        old_key, _ = _TERM_STATS_CACHE.popitem(last=False)
        _TERM_STATS_FULL.discard(old_key)
    missing = [t for t in all_terms if t not in cache]
    if missing and key in _TERM_STATS_FULL:
        for t in missing:  # full table cached → misses are df=0
            cache[t] = 0
        missing = []
    if missing:
        size = _stats_table_bytes(manifest.stats_path)
        if size is not None and size <= _FULL_STATS_MAX_BYTES:
            # small index: warm EVERY term in one pass so later queries in
            # this process never pay a stats lookup again
            if spark is None:
                import pyarrow.parquet as pq
                tbl = pq.read_table(manifest.stats_path,
                                    columns=["term", "doc_freq"])
                cache.update(zip(tbl.column("term").to_pylist(),
                                 (int(x) for x in
                                  tbl.column("doc_freq").to_pylist())))
            else:
                rows = (spark.read.parquet(manifest.stats_path)
                        .select("term", "doc_freq").collect())
                cache.update({r["term"]: int(r["doc_freq"]) for r in rows})
            _TERM_STATS_FULL.add(key)
            for t in missing:
                cache.setdefault(t, 0)
        else:
            if spark is None:
                import pyarrow.parquet as pq
                tbl = pq.read_table(manifest.stats_path,
                                    columns=["term", "doc_freq"],
                                    filters=[("term", "in", missing)])
                found = dict(zip(tbl.column("term").to_pylist(),
                                 (int(x) for x in
                                  tbl.column("doc_freq").to_pylist())))
            else:
                stats = (spark.read.parquet(manifest.stats_path)
                         .filter(F.col("term").isin(missing))
                         .collect())
                found = {r["term"]: int(r["doc_freq"]) for r in stats}
            for t in missing:
                cache[t] = found.get(t, 0)
    return {t: cache[t] for t in all_terms}


def _search_sync_rounds(spark, manifest: IndexManifest, payload: dict,
                        k: int, n_tasks: int,
                        budget0: int = 4096) -> DataFrame:
    """Multi-round adaptive bound sync — the reference's iterative
    host/DPU loop (``topdocs_sync.c:469-544``, constants
    ``topdocs_sync.h:24-28``) re-expressed as successive bounded Spark
    jobs:

    round r: every live (query, partition) pair resumes its
    deterministic upper-bound traversal with a doc budget of
    ``budget0 * 2**r``; the kernel emits its round-local top-k plus one
    STATE row per unfinished pair (resume index + best remaining upper
    bound).  The driver folds all results into per-query k-heaps,
    tightens each query's global k-th-best bound, and relaunches ONLY
    the pairs whose remaining upper bound can still beat it (strict <,
    because a tie can win the doc-id-asc tie-break) with the bound
    broadcast as ``ext_bound``.  Each round is the file plan restricted
    to the live pids.  Rounds end when no pair remains.

    Exact: every emitted doc is exactly scored, the bound is achieved
    (k docs already hold it), and skipped work is provably below it —
    identical results to the single-pass plan, differential-tested.
    Decode bytes drop on hot terms because round ≥ 2 starts from a
    globally tightened bound instead of one partition's sample.

    The per-(query, partition) resume index in ``progress`` is also the
    query-side early-exit/context-restore protocol (Q15 —
    ``dpu.c:679-722``, ``context_save_restore.c:17-68``): a budget-hit
    pair saves exactly where its deterministic traversal stopped and
    the next launch resumes there; the build side's chunk markers are
    the same protocol for indexing.
    """
    progress: dict = {}     # qid -> {pid: resume_idx}; round-0 empty
    bounds: dict = {}
    acc = _empty_result()
    budget = max(int(budget0), 16)
    rnd = 0
    while True:
        payload_r = dict(payload, bounds=bounds,
                         sync={"budget": budget, "progress": progress,
                               "round": rnd})
        live_pids = (sorted({p for m in progress.values() for p in m})
                     if rnd > 0 else None)
        pdf = _file_plan(spark, {"": manifest},
                         partial(_read_group, payload_r, _match_core_arrays),
                         RESULT_SCHEMA, n_tasks, live_pids).toPandas()
        state = pdf[pdf["norm"] < 0]
        acc = _top_k(pd.concat([acc, pdf[pdf["norm"] >= 0]],
                               ignore_index=True), k)
        bounds = {int(qid): float(grp["score"].min())
                  for qid, grp in acc.groupby("qid")
                  if len(grp) >= k}
        progress = {}
        for row in state.itertuples(index=False):
            qid = int(row.qid)
            b = bounds.get(qid)
            # strict <: a remaining doc tying the k-th could still win
            if b is None or float(row.score) >= b:
                progress.setdefault(qid, {})[int(row.doc_id)] = \
                    int(row.freq)
        if not progress:
            break
        budget *= 2
        rnd += 1
    return local_result(spark, acc, RESULT_SCHEMA)


def search(spark: SparkSession, index: IndexManifest | str,
           queries: list[tuple[int, str]], k: int | None = 10,
           precision: str = "float32",
           final_merge: str = "window",
           bound_probe=False,
           postings_cache_mb: int = 0,
           sync_budget0: int = 4096,
           after: dict[int, tuple[float, int]] | None = None) -> DataFrame:
    """Batched top-k phrase/term search → DataFrame(qid, doc_id, freq, norm, score).

    ``precision='float32'`` reproduces Lucene's float expression tree
    (scores returned as their exact float64 upcast); ``'float64'`` runs the
    same tree in doubles (ANSI-SQL reproducible).

    ``final_merge``: ``'window'`` (default) keeps the global top-k as a
    rank window in the plan; ``'driver'`` collects the per-partition
    top-k rows (≤ P·k per query — tiny) and heap-merges on the driver,
    the reference's host-side merge (``topdocs_sync.c:369-412``) — one
    exchange less, lower latency for small k.

    Each kernel task reads its pids' postings files and norms blobs
    itself (the zero-exchange file plan, or in-process for a batch whose
    Σdf fits one task), so the index needs a POSIX-visible path (local
    disk, NFS, Lustre, a FUSE-mounted object store); a layout the driver
    cannot list, or a task that cannot see its norms dir, fails loudly.

    ``bound_probe``: the reference's adaptive bound broadcast
    (``topdocs_sync.c:469-544``: the host pushes the running global k-th
    best to every DPU between rounds).  ``True`` = the one-shot probe —
    a job over ONE partition yields an achieved k-th-best score per
    query (round-robin doc routing makes any partition a uniform
    sample), broadcast into the full job where every kernel starts its
    WAND / block-max cut at that bound instead of -inf.  ``"sync"`` =
    the full iterative loop (:func:`_search_sync_rounds`): doubling doc
    budgets (``sync_budget0 * 2**round``), per-round driver k-heap
    merge, tightened-bound rebroadcast, and relaunch of only the
    (query, partition) pairs that can still contribute — disabled at
    k >= 1000 exactly like the reference.  Both run the file plan, are
    admissible (k docs already achieve every broadcast bound) and return
    identical results (differential-tested).

    ``postings_cache_mb`` > 0 enables the per-worker warm postings cache
    (the B15 index-load-to-PIM analogue): decoded postings of hot
    (build, pid, term) keys survive across search() calls in long-lived
    python workers, bounded by the byte budget.  Identical results; pure
    decode-work save on warm batches.

    ``after`` implements Lucene ``IndexSearcher.searchAfter`` paging:
    ``{qid: (after_score, after_doc_id)}`` — the last hit of the
    previous page per query (pass the score EXACTLY as returned, the
    tie-break comparison is float-exact).  Each query returns its next
    ``k`` hits strictly after that mark in (score desc, doc asc) order.
    The mark is filtered INSIDE the kernel before the per-partition
    top-k cut (deep paging never widens the merge: page N ships the
    same ≤ P·k rows as page 1), and both pruning paths count only
    qualifying hits toward their cut, so block-max skipping stays
    exact.  Queries absent from the dict start at page 1.

    ``k=None`` returns EVERY match with no per-partition cut and no
    global rank window — the contract for exhaustive-union consumers
    (combined-field exhaustive plan, count paths).  The per-qid window would otherwise sort a query's
    entire match set on one task; unbounded consumers aggregate or join
    the frame downstream, so the order is noise they must not pay for.
    """
    unbounded = k is None
    if unbounded:
        # internal sentinel: the kernel's per-partition cut and pruning
        # thresholds are inert above any real match count
        k = 10 ** 9
    manifest = IndexManifest.load(index) if isinstance(index, str) else index
    gap_offsets: dict = {}
    planned, needed_terms = plan_queries(spark, manifest, queries, k,
                                         precision,
                                         collect_offsets=gap_offsets)
    if not planned:
        return local_empty(spark, RESULT_SCHEMA)
    payload = _kernel_payload(
        manifest, precision, needed_terms, queries=planned, k=int(k),
        postings_cache_mb=int(postings_cache_mb), after=after,
        offsets=gap_offsets)
    run = partial(_read_group, payload, _match_core_arrays)

    total_df = sum(term_doc_freqs(spark, manifest,
                                  list(needed_terms)).values())
    n_tasks = _kernel_task_count(manifest.num_partitions, total_df)
    sync = bound_probe == "sync"
    if not bound_probe and 0 < total_df <= _LOCAL_ROUTE_POSTINGS:
        # one-task-sized batch: the one-group file plan in-process (the
        # job the cluster would run, minus the scheduler — see
        # _LOCAL_ROUTE_POSTINGS); identical results, differential-tested
        (files, pids), = _postings_file_groups({"": manifest}, 1)
        res = run(files, pids)
        if res is None:
            return local_empty(spark, RESULT_SCHEMA)
        return local_result(spark, pd.DataFrame(res) if unbounded
                            else _top_k(res, k), RESULT_SCHEMA)
    if sync and k < 1000:
        # the reference's full iterative loop (topdocs_sync.c:469-544);
        # off at k >= 1000 exactly like the reference.  A Spark round
        # costs ~0.1 s vs a DPU round's microseconds, so the initial
        # budget is scaled up (sync_budget0) — the protocol, not the
        # constant, is the faithful part.
        return _search_sync_rounds(spark, manifest, payload, k, n_tasks,
                                   budget0=int(sync_budget0))
    if bound_probe and not sync and manifest.num_partitions > 1:
        probe = _file_plan(spark, {"": manifest}, run, RESULT_SCHEMA, 1,
                           pids=[0]).toPandas()
        bounds = {}
        for qid, grp in probe.groupby("qid"):
            sc = grp["score"].to_numpy()
            if sc.size >= k:  # bound valid only when k docs achieve it
                bounds[int(qid)] = float(np.sort(sc)[-k])
        if bounds:
            run = partial(_read_group, dict(payload, bounds=bounds),
                          _match_core_arrays)
    per_part = _file_plan(spark, {"": manifest}, run, RESULT_SCHEMA,
                          n_tasks)

    if unbounded:
        return per_part

    if final_merge == "driver":
        return local_result(spark, _top_k(per_part.toPandas(), k),
                            RESULT_SCHEMA)

    return _top_k_window(per_part, k)


def page_marks(page: pd.DataFrame) -> dict[int, tuple[float, int]]:
    """Per-query ``(score, doc_id)`` of the LAST hit in a result page —
    the ``after`` argument for fetching the next page
    (``IndexSearcher.searchAfter``'s ``ScoreDoc`` mark).  Accepts the
    pandas form of any search result (``df.toPandas()`` or the serving
    path's frame); queries with no hits are absent (their pages are
    exhausted)."""
    marks: dict[int, tuple[float, int]] = {}
    if len(page) == 0:
        return marks
    for qid, grp in page.groupby("qid"):
        tail = grp.sort_values(["score", "doc_id"],
                               ascending=[False, True]).iloc[-1]
        marks[int(qid)] = (float(tail["score"]), int(tail["doc_id"]))
    return marks


def search_term(spark: SparkSession, index: IndexManifest | str, term: str,
                k: int | None = None,
                precision: str = "float32") -> DataFrame:
    """Single-term query (Q22) — free by-product of the phrase path.

    ``k=None`` (the default) returns the FULL match set **unordered**
    (no global rank window — consumers aggregate or sort downstream);
    pass a numeric ``k`` for the globally ordered top-k of earlier
    releases.  ``model.search_term`` keeps a large numeric default for
    the sorted behavior."""
    return search(spark, index, [(0, term)], k=k, precision=precision)


# serving-path residency: each pid's postings rows (a _ResidentPid) stay
# in-process once loaded, together with its norms blob and live mask, so
# a request whose pids are resident reads no files at all — the analogue
# of the reference loading each DPU's index once and serving every query
# from it.  The budget is an LRU over whole pids (rows, norms and mask
# bytes); keys are (cache key, pid, index dir).
_LOCAL_PIDS: OrderedDict = OrderedDict()
_LOCAL_ROWS_MAX = 512 << 20


def _evict(key) -> None:
    """Drop a resident pid and its decoded postings (a pid that is not
    resident keeps nothing in memory)."""
    del _LOCAL_PIDS[key]
    for ck in [ck for ck in _POSTINGS_CACHE if ck[:2] == key[:2]]:
        _POSTINGS_CACHE_STATE["bytes"] -= _POSTINGS_CACHE.pop(ck)[1]


def _load_pids(manifest, ckey, pids: list[int]) -> None:
    """Make ``pids`` resident: :func:`_read_shard` of the files that hold
    them, whole pids.  A pid loaded under a superseded build of the same
    index dir (an in-place rebuild) is dropped first."""
    d = manifest.index_dir
    for key in [key for key in _LOCAL_PIDS
                if key[2] == d and key[0] != ckey]:
        _evict(key)
    pid_map = _pid_map(manifest)
    files = sorted({f for p in pids for f in pid_map.get(p, (0, []))[1]})
    shard = _read_shard(files, pids)
    for p in pids:
        _LOCAL_PIDS[(ckey, p, d)] = shard.get(p) or _ResidentPid(p)


def _local_rows(manifest, ckey, pids=None) -> dict[int, _ResidentPid]:
    """``{pid: _ResidentPid}`` for one serving batch.

    The residency unit is a pid: the first batch that needs a pid loads
    all of its postings once (:func:`_load_pids`); every later batch
    finds its terms in the resident columns with no file access.
    ``pids`` restricts the pids served (the sharded server gives each
    worker its own subset, so a shard never reads or keeps another
    shard's rows); ``None`` = every pid with postings.  The caller holds
    the returned pids for the whole batch, so a later eviction never
    makes the batch read a pid twice.
    """
    d = manifest.index_dir
    pids = sorted(_pid_map(manifest)) if pids is None else \
        [int(p) for p in pids]
    missing = [p for p in pids if (ckey, p, d) not in _LOCAL_PIDS]
    if missing:
        _load_pids(manifest, ckey, missing)
    shard = {}
    for p in pids:
        _LOCAL_PIDS.move_to_end((ckey, p, d))
        shard[p] = _LOCAL_PIDS[(ckey, p, d)]
    # evict with this batch's pids pinned: the kernel treats a missing
    # term as "no hits on this partition", so dropping a pid the batch
    # needs would silently return partial results
    total = sum(res.nbytes for res in _LOCAL_PIDS.values())
    if total > _LOCAL_ROWS_MAX:
        for key in [key for key in _LOCAL_PIDS if key[0] != ckey
                    or key[1] not in shard or key[2] != d]:
            total -= _LOCAL_PIDS[key].nbytes
            _evict(key)
            if total <= _LOCAL_ROWS_MAX:
                break
    return shard


def clear_local_cache() -> None:
    _LOCAL_PIDS.clear()


def search_local(index: IndexManifest | str, queries: list[tuple[int, str]],
                 k: int = 10, precision: str = "float32",
                 postings_cache_mb: int = 256,
                 pids: list[int] | None = None,
                 after: dict[int, tuple[float, int]] | None = None
                 ) -> pd.DataFrame:
    """Serving-path search: the SAME kernel, no Spark job.

    The reference's query path never schedules batch work — queries go to
    an index RESIDENT in accelerator memory and results come back in
    milliseconds (``PimSystemManager.java:401-437``).  This is that
    serving path for a POSIX-visible index: each pid's postings, norms
    and live mask are read once and stay resident (:func:`_local_rows`),
    so a request whose pids are loaded reads no files; the per-pid
    runner every route uses (:func:`_run_pids`) runs the kernel
    in-process over them, then a driver heap-merge — plus the warm
    postings cache, which in a single process hits on every repeated
    term.  Use for interactive / low-latency serving; use :func:`search`
    for cluster-scale batches.  Results are identical
    (differential-tested); returns a pandas frame
    ``(qid, doc_id, freq, norm, score)``.

    ``after`` = ``{qid: (after_score, after_doc_id)}`` pages past the
    previous page's last hit (Lucene ``searchAfter``), same semantics
    as :func:`search`.
    """
    manifest = IndexManifest.load(index) if isinstance(index, str) else index
    payload = _plan_local(manifest, queries, k, precision,
                          postings_cache_mb, after=after)
    res = (None if payload is None else
           _run_local({"": manifest}, payload, _match_core_arrays, pids))
    if res is None:
        # public API boundary: hand out a copy, never the shared cached
        # frame (a caller mutating its result must not poison every
        # later empty result in the process)
        return _empty_result().copy()
    return _top_k(res, k)


def _plan_local(manifest: IndexManifest, queries, k: int, precision: str,
                postings_cache_mb: int, after=None) -> dict | None:
    """The plan step of a resident term/phrase batch: stats and weights
    (:func:`plan_queries`) and the kernel payload, or ``None`` when no
    query can match.  Runs where the request arrives — once per
    request, however many shards then run it."""
    gap_offsets: dict = {}
    planned, needed_terms = plan_queries(None, manifest, queries, k,
                                         precision,
                                         collect_offsets=gap_offsets)
    if not planned:
        return None
    return _kernel_payload(
        manifest, precision, needed_terms, queries=planned, k=int(k),
        postings_cache_mb=int(postings_cache_mb), after=after,
        offsets=gap_offsets)


def _run_local(manifests: dict[str, IndexManifest], payload: dict, core,
               pids=None) -> dict | None:
    """The run step of a resident batch: every payload field's resident
    pids (:func:`_local_rows`, restricted to ``pids``), held for the
    whole batch so a later field's eviction never makes it re-read a
    pid, then :func:`_run_pids` with ``core``.  A MatchAllDocs batch
    runs on every pid, postings or not.  The rows as column arrays,
    uncut across pids, or ``None``."""
    if pids is None and payload.get("has_matchall"):
        pids = range(payload["num_partitions"])
    shards = {f: _local_rows(manifests[f], fm["cache_key"], pids=pids)
              for f, fm in payload["fields"].items()}
    return _run_pids(payload, core, shards, set().union(*shards.values()))
