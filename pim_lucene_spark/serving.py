"""Sharded serving — N resident worker processes over the built index.

The reference serves queries from an index resident across many
accelerator ranks and drives them with a multithreaded searcher
(``SearchWikiDPUMultiThread.java:120-245``: a thread pool fans query
batches to the ranks and merges per-rank top-k on the host).  This is
that architecture for the Spark-built index on a multi-core host, with
two placements:

- ``mode="shard"``: worker ``w`` owns pids ``{p : p % W == w}`` and
  keeps ITS OWN resident caches (postings rows, norms blobs, decoded
  postings).  A worker loads only its own pids, each once, so a shard
  never keeps another shard's rows and resident bytes per process
  shrink ~1/W while the union covers the whole index.  Every batch fans
  to all shards and the shards' per-pid top-k rows merge on the host —
  top-k of a union is the merge of per-pid top-ks, so results are
  row-identical to the serial path (differential-tested).  This is
  the latency mode, and the only mode whose residency scales to indexes
  bigger than one process' budget (the 100 TB shape: one shard per
  executor, not per core).
- ``mode="replica"``: every worker holds the WHOLE pid range and whole
  batches round-robin across workers — no per-batch fan-out, and the
  host cuts one worker's rows, so many-batch throughput scales with cores at the cost of W× resident
  bytes.  This is the throughput mode for indexes that fit per-process
  (the reference's multithreaded driver over one loaded index).

``search(queries, k)`` serves one batch; ``map(batches, k)`` pipelines
many with a bounded in-flight window.  Workers fork lazily on first use;
``close()`` (or the context manager) terminates them.

The client plans each request once (:func:`plan_request`: stats,
weights, kernel payloads) and sends the same pickled plan to every
worker it targets, as the reference serializes a query once and
broadcasts it to every DPU (``PimSystemManager.java:283-293``).  A
worker only runs the kernel over its resident pids and replies with the
per-pid top-k rows as column arrays; the client cuts each query's top-k
once and builds the request's one frame, as the reference's host
scores and merges the DPUs' raw result arrays
(``DpuExecutorSGResultsReader.java:56-81``).
"""

from __future__ import annotations

import multiprocessing as mp
import os
from collections import deque
from multiprocessing.reduction import ForkingPickler
from typing import Iterable

import numpy as np
import pandas as pd

from pim_lucene_spark.manifest import IndexManifest
from pim_lucene_spark.sparkutil import manifest_scan_key

# Result columns of a request with term/phrase queries only ...
_PLAIN_DTYPES = {"qid": np.int64, "doc_id": np.int64, "freq": np.int64,
                 "norm": np.int32, "score": np.float64}
# ... and of one with any compound query, whose rows carry NaN freq and
# norm (the distributed :meth:`FullTextIndex.query` union's shape).  The
# query kinds fix a request's dtypes, never its hits.
_MIXED_DTYPES = dict(_PLAIN_DTYPES, freq=np.float64, norm=np.float64)


def _index_state(manifest: IndexManifest) -> tuple:
    """The index state a plan is made for: its file set and delete
    generation."""
    return manifest_scan_key(manifest), manifest.delete_gen


def plan_request(manifest: IndexManifest, queries, k: int, precision: str,
                 postings_cache_mb: int) -> dict:
    """Plan one mixed-type request, once: ``(qid, text)`` / typed
    Term/Phrase tuples for the term/phrase kernel
    (``operators/search.py::_plan_local``); typed Boolean/DisMax queries,
    and the query types that rewrite to them, for the compound kernel
    (``plans/compound.py::_plan_batch``).  Returns ``{"state",
    "dtypes", "runs"}``: the index state it was planned at, the result
    column dtypes, and one ``(core, payload)`` per kernel batch that
    can match anything."""
    from pim_lucene_spark.operators.search import _plan_local
    from pim_lucene_spark.plans.boolean import BooleanQuery
    from pim_lucene_spark.plans.compound import _plan_batch
    from pim_lucene_spark.plans.dismax import DisMaxQuery
    from pim_lucene_spark.plans.multiterm import FuzzyQuery
    from pim_lucene_spark.plans.query import (ConstantScoreQuery,
                                              DocValuesRangeQuery,
                                              FacetFilterQuery,
                                              IntervalQuery,
                                              MatchAllDocsQuery,
                                              SynonymQuery, to_tuple)

    plain, typed, wrap64 = [], [], []
    for qid, q in queries:
        if isinstance(q, (BooleanQuery, DisMaxQuery)):
            typed.append((qid, q))
        elif isinstance(q, str):
            plain.append((qid, q))
        elif isinstance(q, (FuzzyQuery, SynonymQuery, IntervalQuery)):
            # top-level fuzzy = scoring boolean over the expansion;
            # top-level synonym = merged-stats pseudo-term; top-level
            # interval = saturation proximity — all boolean-wrap onto
            # the resident compound kernel (bit-equal to the
            # distributed route; differential-tested)
            typed.append((qid, BooleanQuery(must=[q])))
        elif isinstance(q, (MatchAllDocsQuery, ConstantScoreQuery)):
            # same rewrites as FullTextIndex.query's wrapper branch;
            # evaluated at float64 so score == boost bit-exact
            if isinstance(q, MatchAllDocsQuery):
                wrap64.append((qid, BooleanQuery(must=[q])))
            else:
                wrap64.append((qid, BooleanQuery(
                    must=[MatchAllDocsQuery(boost=float(q.boost))],
                    filter=[q.query])))
        elif isinstance(q, (FacetFilterQuery, DocValuesRangeQuery)):
            # bare drill-down / dv-range = pure browse (score 0)
            wrap64.append((qid, BooleanQuery(
                must=[MatchAllDocsQuery(boost=0.0)], filter=[q])))
        else:
            if int(getattr(q, "slop", 0)) != 0:
                # sloppy phrase: single-MUST boolean-wrap onto the
                # resident compound kernel, which hosts the Lucene
                # sloppy matcher over the stored position streams
                # (score == plain-clause score: one-term float64 sum)
                typed.append((qid, BooleanQuery(must=[q])))
            else:
                plain.append(to_tuple(qid, q))
    runs = []
    if plain:
        payload = _plan_local(manifest, plain, k, precision,
                              postings_cache_mb)
        if payload is not None:
            runs.append(("match", payload))
    for batch, prec in ((typed, precision), (wrap64, "float64")):
        payload = (_plan_batch(None, {"": manifest}, "", batch, prec,
                               postings_cache_mb) if batch else None)
        if payload is not None:
            payload["k"] = int(k)
            runs.append(("compound", payload))
    return {"state": _index_state(manifest),
            "dtypes": _MIXED_DTYPES if typed or wrap64 else _PLAIN_DTYPES,
            "runs": runs}


def _run_request(manifest: IndexManifest, request: dict,
                 pids: list[int] | None) -> dict:
    """Run a planned request over the resident ``pids`` (``None`` = all
    pids): each kernel batch through ``operators/search.py::_run_local``.
    Returns the per-pid top-k rows as the request's typed result
    columns, uncut across pids.  Raises ``RuntimeError`` when the plan
    was made at another index state than ``manifest``'s."""
    from pim_lucene_spark.operators import search
    from pim_lucene_spark.plans import compound

    state = _index_state(manifest)
    if request["state"] != state:
        raise RuntimeError(
            f"stale serving plan: planned at index state "
            f"{request['state']} but served at {state} (a state is the "
            f"index's cache key and delete generation)")
    cores = {"match": search._match_core_arrays,
             "compound": compound._compound_core}
    parts = []
    for core, payload in request["runs"]:
        res = search._run_local({"": manifest}, payload, cores[core], pids)
        if res is None:
            continue
        if core == "compound":   # compound rows have no freq or norm
            nan = np.full(res["qid"].size, np.nan)
            res = dict(res, freq=nan, norm=nan)
        parts.append(res)
    # the empty array types a reply without rows
    return {c: np.concatenate([np.empty(0, dt)] + [p[c] for p in parts]
                              ).astype(dt, copy=False)
            for c, dt in request["dtypes"].items()}


def serve_local(manifest: IndexManifest, queries, k: int,
                precision: str, postings_cache_mb: int,
                pids: list[int] | None) -> pd.DataFrame:
    """One resident-process batch, mixed query types, with no Spark job
    on any path: :func:`plan_request`, :func:`_run_request` over
    ``pids`` and one top-k cut — a sharded server's client and one
    worker in one process.  Compound rows surface NaN freq/norm,
    mirroring the distributed :meth:`FullTextIndex.query` union."""
    from pim_lucene_spark.operators.search import _top_k
    request = plan_request(manifest, queries, k, precision,
                           postings_cache_mb)
    return _top_k(_run_request(manifest, request, pids), k)


def _worker_main(conn, manifest: IndexManifest, pids: list[int] | None):
    """Worker loop: runs each planned request over ``pids`` (``None`` =
    all pids — replica mode) and replies with its column arrays.
    ``manifest`` is the client's, inherited through the fork, so a
    worker serves the index state the client plans at."""
    from pim_lucene_spark.operators.search import (clear_local_cache,
                                                   clear_postings_cache)
    clear_local_cache()      # drop fork-inherited residency — each worker
    clear_postings_cache()   # builds its own shard-scoped caches
    while True:
        msg = conn.recv()    # recv_bytes + ForkingPickler.loads
        if msg is None:
            conn.close()
            return
        tag, request = msg
        try:
            conn.send((tag, _run_request(manifest, request, pids)))
        except BaseException as exc:  # surface the failure, keep serving
            conn.send((tag, exc))


class ShardedServer:
    """Multi-process resident search server (see module docstring).

    Residency is per pid: the first batch a worker serves reads each of
    its pids' postings files once (whole, single-threaded) and keeps the
    pid's rows as Arrow columns sorted by (term, stripe); every later
    batch finds its terms by ``searchsorted`` and reads no files.  A
    worker's rows budget (``operators.search._LOCAL_ROWS_MAX``) is an LRU
    over whole pids; :meth:`_check_residency` warns when a worker's pids
    cannot all fit it."""

    def __init__(self, index: IndexManifest | str, num_workers: int = 0,
                 mode: str = "shard", precision: str = "float32",
                 postings_cache_mb: int = 256):
        if mode not in ("shard", "replica"):
            raise ValueError(f"unknown mode {mode!r}")
        self.manifest = (IndexManifest.load(index) if isinstance(index, str)
                         else index)
        if num_workers <= 0:
            num_workers = os.cpu_count() or 1
        if mode == "shard":
            num_workers = min(num_workers, self.manifest.num_partitions)
        self.num_workers = num_workers
        self.mode = mode
        self.precision = precision
        self.postings_cache_mb = int(postings_cache_mb)
        self._ctx = mp.get_context("fork")
        self._conns: list = []
        self._procs: list = []

    def _check_residency(self) -> None:
        """Per-worker residency guard — the 48 MiB/DPU analogue
        (``DpuSystemExecutor.java:40`` refuses an index that outgrows a
        DPU).  A worker whose assigned shards' compressed postings
        exceed the resident-rows cache budget will thrash the LRU on
        every batch instead of serving warm; warn with the worker count
        that would fit (advisory — correctness is unaffected)."""
        per_part = (self.manifest.metrics or {}).get("per_partition")
        if not per_part:
            return
        from pim_lucene_spark.operators.search import _LOCAL_ROWS_MAX
        P, W = self.manifest.num_partitions, self.num_workers
        budget = _LOCAL_ROWS_MAX
        sizes = {int(p): int(v.get("bytes_compressed", 0))
                 for p, v in per_part.items()}
        if self.mode == "replica":
            worker_bytes = {0: sum(sizes.values())}
        else:
            worker_bytes = {
                w: sum(sizes.get(p, 0) for p in range(P) if p % W == w)
                for w in range(W)}
        worst = max(worker_bytes.values(), default=0)
        if worst > budget:
            import warnings
            need = -(-sum(sizes.values()) // budget)
            warnings.warn(
                f"ShardedServer({self.mode}): worker residency "
                f"{worst} bytes exceeds the resident-rows budget "
                f"{budget}; shard mode with num_workers>={need} (or a "
                f"larger postings budget) keeps every shard resident",
                RuntimeWarning, stacklevel=3)

    # --- lifecycle ----------------------------------------------------------
    def _ensure_started(self) -> None:
        if self._procs:
            return
        self._check_residency()
        P, W = self.manifest.num_partitions, self.num_workers
        for w in range(W):
            parent, child = self._ctx.Pipe()
            pids = ([p for p in range(P) if p % W == w]
                    if self.mode == "shard" else None)
            # fork before the client plans anything: a worker inherits
            # the client's manifest, not its planning caches
            proc = self._ctx.Process(
                target=_worker_main, args=(child, self.manifest, pids),
                daemon=True)
            proc.start()
            child.close()
            self._conns.append(parent)
            self._procs.append(proc)

    def close(self) -> None:
        for conn in self._conns:
            try:
                conn.send(None)
                conn.close()
            except (BrokenPipeError, OSError):
                pass
        for proc in self._procs:
            proc.join(timeout=5)
            if proc.is_alive():
                proc.terminate()
        self._conns, self._procs = [], []

    def __enter__(self) -> "ShardedServer":
        self._ensure_started()
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    # --- serving ------------------------------------------------------------
    @staticmethod
    def _merge(parts: list, k: int) -> pd.DataFrame:
        """The host merge: each query's top-``k`` over every shard's
        rows in one cut.  ``parts`` are worker replies (column arrays)
        or :func:`serve_local` frames; both index by column name, and
        their typed columns, empty or not, fix the result's dtypes."""
        from pim_lucene_spark.operators.search import _top_k
        return _top_k({c: np.concatenate([np.asarray(p[c]) for p in parts])
                       for c in _PLAIN_DTYPES}, k)

    @staticmethod
    def _unwrap(res):
        if isinstance(res, BaseException):
            raise res
        return res

    def _recv_tagged(self, conn, expect: int):
        """Receive one reply and verify it answers THIS request — a tag
        mismatch means the pipe protocol desynchronized (e.g. an earlier
        caller abandoned replies) and every later result would silently
        belong to a stale batch: fail loudly instead."""
        tag, payload = conn.recv()
        if tag != expect:
            raise RuntimeError(
                f"serving pipe desync: expected reply for request "
                f"{expect}, got {tag}")
        return payload

    def _gather(self, conns, expect: int) -> list:
        """Receive one reply from EVERY pipe before unwrapping — raising
        on the first error would leave the other shards' replies queued
        and desynchronize the next call."""
        replies = [self._recv_tagged(conn, expect) for conn in conns]
        return [self._unwrap(r) for r in replies]

    def _plan(self, queries, k: int) -> dict:
        return plan_request(self.manifest, queries, k, self.precision,
                            self.postings_cache_mb)

    def _send(self, i: int, request: dict) -> list:
        """Pickle planned request ``i`` once and send the same bytes to
        each of its workers — every shard, or one replica round-robin;
        returns those workers' pipes."""
        buf = ForkingPickler.dumps((i, request))
        conns = (self._conns if self.mode == "shard"
                 else [self._conns[i % self.num_workers]])
        for conn in conns:
            conn.send_bytes(buf)
        return conns

    def search(self, queries: list[tuple[int, str]],
               k: int = 10) -> pd.DataFrame:
        """One batch.  Shard mode: all shards in parallel + host merge.
        Replica mode: one worker takes the whole batch."""
        self._ensure_started()
        conns = self._send(0, self._plan(queries, k))
        return self._merge(self._gather(conns, 0), k)

    def map(self, batches: Iterable[list[tuple[int, str]]],
            k: int = 10) -> list[pd.DataFrame]:
        """Pipeline many batches.

        Shard mode: every batch fans to all shards with an in-flight
        window of 2, so the host merge of batch ``i-1`` overlaps the
        shard compute of ``i``.  Replica mode: batch ``i`` goes whole to
        worker ``i % W`` with a window of 2 per worker, so W batches
        compute concurrently.  Each batch is planned in the send loop,
        while the batches before it compute.
        """
        self._ensure_started()
        window = 2 if self.mode == "shard" else 2 * self.num_workers
        out: list[pd.DataFrame | None] = []
        inflight: deque = deque()
        # worker errors are recorded and re-raised only after EVERY
        # outstanding reply is drained (mirroring _gather): raising
        # mid-drain would leave queued replies that desynchronize the
        # next call into serving stale batches
        errors: list[BaseException] = []

        def collect() -> None:
            i, conns = inflight.popleft()
            try:
                out[i] = self._merge(self._gather(conns, i), k)
            except Exception as exc:
                errors.append(exc)

        try:
            for i, batch in enumerate(batches):
                request = self._plan(batch, k)
                if len(inflight) >= window:
                    collect()
                out.append(None)
                inflight.append((i, self._send(i, request)))
        finally:
            while inflight:
                collect()
        if errors:
            raise errors[0]
        return out  # type: ignore[return-value]
