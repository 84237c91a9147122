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
  to all shards and the per-shard per-query top-k frames merge on the
  host — top-k of a union is the merge of per-shard top-ks, so results
  are row-identical to the serial path (differential-tested).  This is
  the latency mode, and the only mode whose residency scales to indexes
  bigger than one process' budget (the 100 TB shape: one shard per
  executor, not per core).
- ``mode="replica"``: every worker holds the WHOLE pid range and whole
  batches round-robin across workers — no per-batch fan-out or merge,
  so many-batch throughput scales with cores at the cost of W× resident
  bytes.  This is the throughput mode for indexes that fit per-process
  (the reference's multithreaded driver over one loaded index).

``search(queries, k)`` serves one batch; ``map(batches, k)`` pipelines
many with a bounded in-flight window.  Workers fork lazily on first use;
``close()`` (or the context manager) terminates them.  Results come back
as small top-k pandas frames over pipes — ≤ W·|queries|·k rows a batch.
"""

from __future__ import annotations

import multiprocessing as mp
import os
from typing import Iterable

import pandas as pd

from pim_lucene_spark.manifest import IndexManifest


def serve_local(manifest: IndexManifest, queries, k: int,
                precision: str, postings_cache_mb: int,
                pids: list[int] | None) -> pd.DataFrame:
    """One resident-process batch, mixed query types: ``(qid, text)`` /
    typed Term/Phrase tuples go through the term/phrase serving kernel;
    typed Boolean/DisMax queries through the compound serving kernel
    (``plans/compound.py::search_compound_local``) — no Spark job on
    either path.  Compound rows surface NaN freq/norm, mirroring the
    distributed :meth:`FullTextIndex.query` union."""
    from pim_lucene_spark.operators.search import _empty_result, search_local
    from pim_lucene_spark.plans.boolean import BooleanQuery
    from pim_lucene_spark.plans.compound import search_compound_local
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
    parts = []
    if plain:
        parts.append(search_local(manifest, plain, k=k,
                                  precision=precision,
                                  postings_cache_mb=postings_cache_mb,
                                  pids=pids))
    for batch, prec in ((typed, precision), (wrap64, "float64")):
        if not batch:
            continue
        c = search_compound_local(manifest, batch, k=k,
                                  precision=prec,
                                  postings_cache_mb=postings_cache_mb,
                                  pids=pids)
        c = c.assign(freq=float("nan"), norm=float("nan"))[
            ["qid", "doc_id", "freq", "norm", "score"]]
        parts.append(c)
    if not parts:
        return _empty_result().copy()
    if len(parts) == 1:
        return parts[0]
    return pd.concat([p.astype({"freq": "float64"})
                      if "freq" in p else p for p in parts],
                     ignore_index=True)


def _worker_main(conn, index_dir: str, pids: list[int] | None,
                 precision: str, postings_cache_mb: int):
    """Worker loop: resident single-process server over ``pids``
    (``None`` = all pids — replica mode)."""
    from pim_lucene_spark.operators.search import (clear_local_cache,
                                                   clear_postings_cache)
    clear_local_cache()      # drop fork-inherited residency — each worker
    clear_postings_cache()   # builds its own shard-scoped caches
    manifest = IndexManifest.load(index_dir)
    while True:
        msg = conn.recv()
        if msg is None:
            conn.close()
            return
        tag, queries, k = msg
        try:
            res = serve_local(manifest, queries, k=k, precision=precision,
                              postings_cache_mb=postings_cache_mb,
                              pids=pids)
            conn.send((tag, res))
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
            proc = self._ctx.Process(
                target=_worker_main,
                args=(child, self.manifest.index_dir, pids, self.precision,
                      self.postings_cache_mb),
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
    def _merge(parts: list[pd.DataFrame], k: int) -> pd.DataFrame:
        from pim_lucene_spark.operators.search import _empty_result, _top_k
        parts = [p for p in parts if len(p)]
        if not parts:
            return _empty_result().copy()
        return _top_k(pd.concat(parts, ignore_index=True), k)

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

    def search(self, queries: list[tuple[int, str]],
               k: int = 10) -> pd.DataFrame:
        """One batch.  Shard mode: all shards in parallel + host merge.
        Replica mode: one worker takes the whole batch."""
        self._ensure_started()
        if self.mode == "replica":
            self._conns[0].send((0, queries, k))
            return self._unwrap(self._recv_tagged(self._conns[0], 0))
        for conn in self._conns:
            conn.send((0, queries, k))
        return self._merge(self._gather(self._conns, 0), k)

    def map(self, batches: Iterable[list[tuple[int, str]]],
            k: int = 10) -> list[pd.DataFrame]:
        """Pipeline many batches.

        Replica mode: batch ``i`` goes whole to worker ``i % W`` — W
        batches compute concurrently, no merge.  Shard mode: every batch
        fans to all shards with a bounded in-flight window of 2, so the
        host merge of batch ``i-1`` overlaps the shard compute of ``i``.
        """
        self._ensure_started()
        batches = list(batches)
        out: list[pd.DataFrame | None] = [None] * len(batches)

        if self.mode == "replica":
            W = self.num_workers
            pending: dict[int, list[int]] = {w: [] for w in range(W)}
            # worker errors are recorded and re-raised only after EVERY
            # outstanding reply is drained (mirroring _gather): raising
            # mid-drain would leave queued replies that desynchronize the
            # next call into serving stale batches
            errors: list[BaseException] = []

            def drain(w: int) -> None:
                j = pending[w].pop(0)
                payload = self._recv_tagged(self._conns[w], j)
                if isinstance(payload, BaseException):
                    errors.append(payload)
                else:
                    out[j] = payload

            for i, batch in enumerate(batches):
                w = i % W
                # at most 2 outstanding per worker: drain the oldest first
                if len(pending[w]) >= 2:
                    drain(w)
                self._conns[w].send((i, batch, k))
                pending[w].append(i)
            for w in range(W):
                while pending[w]:
                    drain(w)
            if errors:
                raise errors[0]
            return out  # type: ignore[return-value]

        inflight: list[int] = []

        def collect() -> None:
            i = inflight.pop(0)
            out[i] = self._merge(self._gather(self._conns, i), k)

        nxt = 0
        while nxt < len(batches) or inflight:
            if nxt < len(batches) and len(inflight) < 2:
                for conn in self._conns:
                    conn.send((nxt, batches[nxt], k))
                inflight.append(nxt)
                nxt += 1
            else:
                collect()
        return out  # type: ignore[return-value]
