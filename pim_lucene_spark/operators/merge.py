"""Multi-way index merge — Lucene-style segment compaction (operator B6).

The reference's ``CompositeTermsEnum`` streams a k-way merge of per-segment
sorted term dictionaries into one index (``PimIndexWriter.java:249-324``);
Lucene's segment merge concatenates doc spaces with per-segment doc-base
offsets.  The Spark-native re-expression merges whole *indexes* built over
disjoint document batches (incremental indexing):

- Each source index ``s`` gets a doc-base offset ``base_s`` — the previous
  bases plus the previous source's **doc-id span** (max doc_id + 1,
  ``IndexManifest.span``) rounded up to a multiple of the partition count
  so that ``(doc + base_s) % P == doc % P``: a doc never changes partition,
  which makes the merge embarrassingly parallel per partition: one
  file-plan task (``Range → MapInPandas``, no Exchange) owns pid ``p`` in
  every source and reads it with the shard reader every query kernel
  uses.  Using the span (not ``doc_count``) keeps re-merges of
  already-merged indexes correct: a merged id space contains round-up gaps,
  so ``max doc_id + 1 > doc_count``.
- Within a partition, every source's relative docIDs shift by the constant
  ``base_s / P``; posting lists merge **at the posting level**: each
  source row's compressed streams are decoded to (doc, freq, positions)
  arrays, doc ids shifted, and the rows concatenated in (term, source,
  stripe) order — already globally (term, doc, pos)-sorted because bases
  ascend and each source row is doc-ordered.  No token-level Python
  objects are ever materialized (term identity travels as an int64 code);
  peak memory is 3 int64 arrays over the token stream, the same profile
  as the build kernel.
- Norms blobs are placed at their shifted offsets in a merged dense blob
  (gaps from the round-up are zero padding; those docIDs simply never
  appear in any posting list).  Blob placement uses actual blob lengths,
  which for a merged source exceed its ``num_docs`` (padding).

At 100 TB scale this is the compaction path for incremental builds: each
source's postings and norms are read once, in place, by the task that owns
their pid — no shuffle of posting rows and no re-tokenization of content,
the same way Lucene merges avoid re-analysis.  Like direct search, it needs
POSIX-visible v3 sources (``norms/pid=N`` dirs).
"""

from __future__ import annotations

import os
import time
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pim_lucene_spark.functions import bm25
from pim_lucene_spark.functions.postings import decode_columnar
from pim_lucene_spark.functions.smallfloat import quantize_norm_inverse
from pim_lucene_spark.manifest import IndexManifest
from pim_lucene_spark.operators.deletes import deleted_ids, live_mask_for
from pim_lucene_spark.operators.index_build import (
    NORMS_SCHEMA,
    POSTINGS_SCHEMA,
    encode_partition_postings,
    partition_metrics,
    write_term_stats,
)
from pim_lucene_spark.operators.search import (
    _file_plan,
    _kernel_task_count,
    _pid_norms,
    _read_shard,
)


def _load(m: IndexManifest | str) -> IndexManifest:
    return IndexManifest.load(m) if isinstance(m, str) else m


def _merge_postings_runner(ms: list[IndexManifest], rel_shifts: list[int],
                           num_segments: int, nb_doc_per_segment: int,
                           stripe_cap: int):
    """The file-plan runner of the postings merge: a task reads its pids
    from every source with :func:`_read_shard` and merges each pid."""
    P = ms[0].num_partitions
    del_paths = [m.deletes_path if m.delete_gen else None for m in ms]
    del_spans = [-(-m.span // P) for m in ms]

    def merge_pid(pid: int, shards: list[dict]) -> pd.DataFrame | None:
        res = [(i, s[pid]) for i, s in enumerate(shards) if pid in s]
        # one sorted term dictionary over the sources; term identity
        # travels as its int64 code, never a per-token Python string.
        # Visiting rows in (term, source, stripe) order yields globally
        # (term, doc, pos)-sorted streams: bases ascend across sources and
        # each source row is doc-ordered with ascending stripes.  A merge
        # PURGES deleted docs (Lucene's merge-reclaims-deletes) by dropping
        # their postings at the decoded level before re-encode.
        uniques = np.unique(np.concatenate([r.terms for _, r in res]))
        by_src = [(i, r.by_term(uniques),
                   live_mask_for(del_paths[i], pid, P, del_spans[i]))
                  for i, r in res]
        code_parts, doc_parts, pos_parts = [], [], []
        for code, term in enumerate(uniques.tolist()):
            for src, by_term, live in by_src:
                for row in by_term.get(term, ()):
                    tp = decode_columnar(row.doc_blob, row.freq_blob,
                                         row.pos_blob, row.seg_doc_counts,
                                         decode_positions=True)
                    rel, freqs, pos = tp.rel_docs, tp.freqs, tp.positions
                    if live is not None:
                        keep = live[rel]
                        pos = pos[np.repeat(keep, freqs)]
                        rel, freqs = rel[keep], freqs[keep]
                    tok_doc = np.repeat((rel + rel_shifts[src]) * P + pid,
                                        freqs)
                    code_parts.append(np.full(tok_doc.size, code,
                                              dtype=np.int64))
                    doc_parts.append(tok_doc)
                    pos_parts.append(pos)
        if not sum(c.size for c in code_parts):
            return None
        return encode_partition_postings(
            pid, np.concatenate(code_parts), np.concatenate(doc_parts),
            np.concatenate(pos_parts), uniques, P, num_segments,
            nb_doc_per_segment, stripe_cap)

    def run(files: dict[str, list[str]], pids: list[int]
            ) -> pd.DataFrame | None:
        shards = [_read_shard(files[str(i)], pids) for i in range(len(ms))]
        outs = [out for out in (merge_pid(p, shards) for p in pids)
                if out is not None]
        return pd.concat(outs, ignore_index=True) if outs else None

    return run


def _merge_norms(spark: SparkSession, ms: list[IndexManifest],
                 rel_shifts: list[int], n_tasks: int) -> DataFrame:
    """One merged norms row per pid any source has norms for, each
    source blob at its shifted offset.  The driver lists the sources'
    ``pid=N`` dirs once; tasks read only those (loudly, via
    :func:`_pid_norms`)."""
    have = [{int(n[len("pid="):]) for n in os.listdir(m.norms_path)
             if n.startswith("pid=")} for m in ms]
    pids = sorted(set().union(*have))

    def fn(it):
        import pyarrow.parquet as pq
        for pdf in it:
            for pid in (pids[i] for i in pdf["id"].tolist()):
                srcs = [(m.norms_path, off) for m, off, h
                        in zip(ms, rel_shifts, have) if pid in h]
                blobs = [_pid_norms(path, pid) for path, _ in srcs]
                out = np.zeros(max(off + b.size for (_, off), b
                                   in zip(srcs, blobs)), dtype=np.uint8)
                for (_, off), b in zip(srcs, blobs):
                    out[off:off + b.size] = b
                total = sum(sum(pq.read_table(f"{path}/pid={pid}",
                                              columns=["num_docs"])
                                .column(0).to_pylist()) for path, _ in srcs)
                yield pd.DataFrame({"pid": [pid], "num_docs": [total],
                                    "norms": [out.tobytes()]})
    return (spark.range(0, len(pids), 1, max(1, min(n_tasks, len(pids))))
            .mapInPandas(fn, NORMS_SCHEMA))


def merge_indexes(spark: SparkSession, sources: list,
                  out_dir: str, num_segments: int | None = None,
                  ) -> IndexManifest:
    """Merge indexes built over disjoint doc batches into one index.

    Sources must share ``num_partitions``, tokenizer and BM25 constants.
    Sources may themselves be merged indexes (incremental compaction
    chains): doc-base offsets are computed from each source's padded
    doc-id span.  Returns the manifest of the merged index.
    """
    ms = [_load(s) for s in sources]
    if len(ms) < 2:
        raise ValueError("need at least two source indexes")
    P = ms[0].num_partitions
    for m in ms:
        if (m.num_partitions, m.tokenizer, m.k1, m.b) != \
                (P, ms[0].tokenizer, ms[0].k1, ms[0].b):
            raise ValueError("sources disagree on partitions/tokenizer/BM25")

    t0 = time.time()
    # doc-base offsets from the padded SPAN, rounded up to multiples of P
    # (partition-preserving; span != doc_count for already-merged sources)
    bases, acc = [], 0
    for m in ms:
        bases.append(acc)
        acc += -(-m.span // P) * P
    span = bases[-1] + ms[-1].span
    rel_shifts = [b // P for b in bases]
    segs = num_segments or max(m.num_segments for m in ms)
    nb_doc_per_segment = -(-span // segs)
    doc_count = sum(m.doc_count for m in ms)
    sum_ttf = sum(m.sum_total_term_freq for m in ms)
    stripe_cap = min(getattr(m, "max_postings_per_stripe", 1 << 17)
                     for m in ms)

    os.makedirs(out_dir, exist_ok=True)
    manifest = IndexManifest(
        index_dir=out_dir, num_partitions=P, num_segments=segs,
        doc_count=doc_count, sum_total_term_freq=sum_ttf,
        nb_doc_per_segment=nb_doc_per_segment, tokenizer=ms[0].tokenizer,
        k1=ms[0].k1, b=ms[0].b, build_chunks=1, completed_chunks=[0],
        source=" + ".join(m.index_dir for m in ms), content_col="content",
        max_postings_per_stripe=stripe_cap,
        doc_span=span, build_id=uuid.uuid4().hex,
    )

    # --- docs: union with shifted ids; a merge PURGES deleted docs ---------
    any_del = any(m.delete_gen for m in ms)
    docs = None
    for m, base in zip(ms, bases):
        d = spark.read.parquet(m.docs_path)
        if m.delete_gen:
            d = d.join(deleted_ids(spark, m), "doc_id", "left_anti")
        d = d.withColumn("doc_id", F.col("doc_id") + F.lit(base))
        # allowMissingColumns: sources may differ in payload meta columns
        # (e.g. update generations carry src_doc_id)
        docs = d if docs is None else docs.unionByName(
            d, allowMissingColumns=True)
    docs.write.mode("overwrite").parquet(manifest.docs_path)

    # --- postings: per-pid multi-way merge on the file plan; each task
    # owns its pids in every source (deletes dropped at the decoded
    # posting level; stats recomputed below).  Merge decodes every
    # position, so the task count follows the token total.
    n_tasks = _kernel_task_count(P, sum_ttf)
    runner = _merge_postings_runner(ms, rel_shifts, segs, nb_doc_per_segment,
                                    stripe_cap)
    (_file_plan(spark, {str(i): m for i, m in enumerate(ms)}, runner,
                POSTINGS_SCHEMA, n_tasks)
     .write.mode("overwrite").parquet(manifest.chunk_path(0)))

    # --- norms: shifted dense blobs, laid out per-pid for direct reads ------
    (_merge_norms(spark, ms, rel_shifts, n_tasks)
     .write.mode("overwrite").partitionBy("pid").parquet(manifest.norms_path))

    # --- term stats: re-aggregate over merged postings ----------------------
    merged = spark.read.parquet(manifest.chunk_path(0))
    write_term_stats(merged, manifest.stats_path)
    per_partition = partition_metrics(merged)
    if any_del:
        # purged merge: collection stats shrink to the live corpus (the
        # moment Lucene's deleted-doc statistics catch up is the merge)
        doc_count = spark.read.parquet(manifest.docs_path).count()
        if doc_count == 0:
            raise ValueError(
                "merge produced an empty index: every source document "
                "is deleted — nothing to compact")
        manifest.doc_count = int(doc_count)
        manifest.sum_total_term_freq = sum(v["tokens"]
                                           for v in per_partition.values())
    avgdl32 = bm25.avg_field_length(manifest.sum_total_term_freq,
                                    manifest.doc_count, "float32")
    qf, _ = quantize_norm_inverse(bm25.score_cache(avgdl32, ms[0].k1, ms[0].b))
    manifest.norm_quant_factor = int(qf)

    manifest.metrics = {
        "merge_seconds": round(time.time() - t0, 3),
        "doc_count": manifest.doc_count,
        "sources": [m.index_dir for m in ms],
        "doc_bases": bases,
        "per_partition": per_partition,
    }
    manifest.save()
    return manifest
