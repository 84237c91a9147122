"""Distributed inverted-index build job (reference operators B1-B14).

Dataflow (all DataFrame/Arrow; per-row work only inside vectorized pandas
UDFs):

1. **Doc-ID assignment** — dense int64 ids in deterministic ``order_cols``
   order (replaces Lucene's segment-local docIDs): range-repartition +
   within-partition sort, per-partition counts collected once, offsets
   broadcast back.  Scale: two passes over the persisted sorted frame, no
   global single-partition window.
2. **Docs table** — ``doc_id, <meta>, content, sha256(content),
   token_count, norm`` written as Parquet.  ``sha256`` is the per-row
   invariant column; ``norm`` is Lucene's SmallFloat byte4 of the token
   count (``BM25Similarity.java:131-142``).
3. **Collection stats** — one global aggregate: doc_count, sum of token
   counts → avgdl (``BM25Similarity.java:108-111``, consumed at
   ``PimIndexWriter.java:190-205``).
4. **Norms table** — per partition ``pid = doc_id % P`` (round-robin
   doc→partition routing, ``PimIndexWriter.java:496-503``), a dense uint8
   blob indexed by ``rel_doc = doc_id // P``
   (``PimIndexWriter.java:918-942``).
5. **Postings** — per partition: tokenize → explode → sort by (term,
   doc, pos) → delta+varint columnar blobs with per-segment skip sizes +
   max-tf block-max data (``PimIndexWriter.java:826-916``).  Built in
   ``build_chunks`` independent jobs with completion markers → resumable
   (analogue of ``context_save_restore.c:17-68``).
6. **Term stats** — global ``groupBy(term)`` over per-partition df/ttf →
   the TermStatistics source for scoring (``PimPhraseQuery.java:110-132``).
7. **Manifest** — pimIndexInfo analogue + per-partition metrics
   (docs indexed, postings emitted, bytes compressed; the ENABLE_STATS set,
   ``PimIndexWriter.java:638-649``).

At cluster scale: the only wide exchanges are the range partition for ID
assignment and the ``groupBy(pid)`` hash shuffles; postings rows are
written partition-major so the search job's ``term IN (...)`` filter is
served by Parquet predicate pushdown + dictionary/row-group pruning
without touching cold partitions' pages.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pim_lucene_spark.config import IndexConfig
from pim_lucene_spark.functions.postings import (
    segmented_delta,
    uvarint_byte_lengths,
)
from pim_lucene_spark.functions.smallfloat import int_to_byte4
from pim_lucene_spark.functions.tokenize import token_counts, tokenize_to_codes
from pim_lucene_spark.functions.varint import encode_uvarints
from pim_lucene_spark.manifest import IndexManifest

POSTINGS_SCHEMA = T.StructType([
    T.StructField("pid", T.IntegerType(), False),
    T.StructField("term", T.StringType(), False),
    T.StructField("stripe", T.IntegerType(), False),
    T.StructField("df", T.LongType(), False),
    T.StructField("ttf", T.LongType(), False),
    T.StructField("seg_doc_counts", T.ArrayType(T.LongType()), False),
    T.StructField("seg_doc_bytes", T.ArrayType(T.LongType()), False),
    T.StructField("seg_freq_bytes", T.ArrayType(T.LongType()), False),
    T.StructField("seg_pos_bytes", T.ArrayType(T.LongType()), False),
    T.StructField("seg_max_tf", T.ArrayType(T.LongType()), False),
    T.StructField("doc_blob", T.BinaryType(), False),
    T.StructField("freq_blob", T.BinaryType(), False),
    T.StructField("pos_blob", T.BinaryType(), False),
])

NORMS_SCHEMA = T.StructType([
    T.StructField("pid", T.IntegerType(), False),
    T.StructField("num_docs", T.LongType(), False),
    T.StructField("norms", T.BinaryType(), False),
])

PA_POSTINGS_SCHEMA = pa.schema([
    ("pid", pa.int32()),
    ("term", pa.string()),
    ("stripe", pa.int32()),
    ("df", pa.int64()),
    ("ttf", pa.int64()),
    ("seg_doc_counts", pa.list_(pa.int64())),
    ("seg_doc_bytes", pa.list_(pa.int64())),
    ("seg_freq_bytes", pa.list_(pa.int64())),
    ("seg_pos_bytes", pa.list_(pa.int64())),
    ("seg_max_tf", pa.list_(pa.int64())),
    ("doc_blob", pa.binary()),
    ("freq_blob", pa.binary()),
    ("pos_blob", pa.binary()),
])


def assign_doc_ids(df: DataFrame, order_cols: list[str],
                   num_partitions: int | None = None) -> DataFrame:
    """Dense deterministic int64 ``doc_id`` by global ``order_cols`` order."""
    return _assign_doc_ids(df, order_cols, num_partitions)[0]


def _assign_doc_ids(df: DataFrame, order_cols: list[str],
                    num_partitions: int | None = None
                    ) -> tuple[DataFrame, DataFrame, int]:
    """Dense deterministic int64 ``doc_id`` by global ``order_cols`` order.

    Range-repartition + sortWithinPartitions gives a globally sorted frame;
    a one-row-per-partition count job computes offsets; a mapInPandas pass
    stamps ids.  The sorted frame is persisted so both passes see the same
    (sampled) range boundaries; it is returned alongside the result so the
    caller can ``unpersist()`` once the result has been materialized.
    """
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism
    sorted_df = (df.repartitionByRange(n, *order_cols)
                   .sortWithinPartitions(*order_cols)
                   .persist())
    counts = (sorted_df.groupBy(F.spark_partition_id().alias("part"))
              .count().collect())
    by_part = {r["part"]: r["count"] for r in counts}
    offsets = {}
    acc = 0
    for p in sorted(by_part):
        offsets[p] = acc
        acc += by_part[p]
    spark = df.sparkSession
    b_offsets = spark.sparkContext.broadcast(offsets)
    out_schema = T.StructType(sorted_df.schema.fields +
                              [T.StructField("doc_id", T.LongType(), False)])

    def stamp(pdf_iter):
        from pyspark import TaskContext
        pid = TaskContext.get().partitionId()
        base = b_offsets.value.get(pid, 0)
        seen = 0
        for pdf in pdf_iter:
            pdf = pdf.copy()
            pdf["doc_id"] = np.arange(base + seen, base + seen + len(pdf),
                                      dtype=np.int64)
            seen += len(pdf)
            yield pdf

    return sorted_df.mapInPandas(stamp, out_schema), sorted_df, acc


def _add_doc_meta(docs: DataFrame, tokenizer: str) -> DataFrame:
    """Append ``token_count`` (B2 analyze) + SmallFloat ``norm`` byte (B3).

    ``mapInArrow``: the content column never becomes Python string objects
    — counting runs on Arrow buffers (``utf8_split_whitespace`` +
    ``list_value_length``), one pass, zero per-doc PyObjects.
    """
    out_schema = T.StructType(docs.schema.fields + [
        T.StructField("token_count", T.LongType(), False),
        T.StructField("norm", T.IntegerType(), False),
    ])

    def gen(batches):
        for batch in batches:
            counts = token_counts(batch.column("content"), tokenizer)
            arrays = list(batch.columns) + [
                pa.array(counts, type=pa.int64()),
                pa.array(int_to_byte4(counts).astype(np.int32),
                         type=pa.int32()),
            ]
            yield pa.RecordBatch.from_arrays(
                arrays, names=list(batch.schema.names) + ["token_count",
                                                          "norm"])

    return docs.mapInArrow(gen, out_schema)


def _build_norms_kernel(num_partitions: int):
    def fn(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pid = int(key[0])
        rel = pdf["doc_id"].to_numpy(np.int64) // num_partitions
        order = np.argsort(rel, kind="stable")
        rel = rel[order]
        norms = pdf["norm"].to_numpy(np.int64)[order].astype(np.uint8)
        if rel.size and not np.array_equal(rel, np.arange(rel.size)):
            raise ValueError(
                f"partition {pid}: doc ids not dense (rel_doc gaps); "
                "assign_doc_ids must produce dense global ids")
        return pd.DataFrame({
            "pid": [pid], "num_docs": [rel.size],
            "norms": [norms.tobytes()],
        })
    return fn


def encode_partition_postings(pid: int, codes: np.ndarray, tok_doc: np.ndarray,
                              tok_pos: np.ndarray, uniques: np.ndarray,
                              num_partitions: int, num_segments: int,
                              nb_doc_per_segment: int,
                              stripe_cap: int) -> pd.DataFrame:
    """Encode one partition's token stream into striped posting rows.

    Inputs are token-level arrays sorted by ``(codes, tok_doc, tok_pos)``
    (``codes`` factorized in UTF-8 byte order).  Shared by the build kernel
    (tokens from the corpus) and the merge kernel (tokens reconstructed from
    decoded source postings).

    All three varint streams (doc gaps, freqs, position gaps) are encoded
    once for the whole partition in term-major order, then sliced per
    (term, stripe) row by precomputed byte offsets — no per-term encode
    calls.  Terms with more than ``stripe_cap`` partition-local postings are
    split into multiple stripe rows; the doc-gap delta chain resets at each
    stripe start so every stripe decodes independently (skew bound — see
    ``IndexConfig.max_postings_per_stripe``).
    """
    if codes.size == 0:
        return pd.DataFrame(columns=[f.name for f in POSTINGS_SCHEMA.fields])

    # (term, doc) run-lengths → per-posting freq
    td_change = np.empty(codes.size, dtype=bool)
    td_change[0] = True
    td_change[1:] = (codes[1:] != codes[:-1]) | (tok_doc[1:] != tok_doc[:-1])
    posting_start = np.flatnonzero(td_change)
    freqs = np.diff(np.concatenate([posting_start, [codes.size]]))

    p_term = codes[posting_start]
    p_doc = tok_doc[posting_start]
    p_rel = p_doc // num_partitions
    p_seg = p_doc // nb_doc_per_segment
    n_post = p_term.size

    # --- stripe assignment (skew bound) -----------------------------------
    t_change = np.empty(n_post, dtype=bool)
    t_change[0] = True
    t_change[1:] = p_term[1:] != p_term[:-1]
    term_start_idx = np.flatnonzero(t_change)
    term_of = np.cumsum(t_change) - 1  # change-flag prefix sum, O(n)
    rank_in_term = np.arange(n_post) - term_start_idx[term_of]
    stripe = rank_in_term // stripe_cap
    r_change = t_change.copy()
    r_change[1:] |= stripe[1:] != stripe[:-1]
    row_start = np.flatnonzero(r_change)               # into postings
    row_end = np.concatenate([row_start[1:], [n_post]])
    row_of = np.cumsum(r_change) - 1
    n_rows = row_start.size

    # --- doc-gap stream: reset at each (row, segment) start ----------------
    ts_start = r_change.copy()
    ts_start[1:] |= p_seg[1:] != p_seg[:-1]
    doc_gaps = segmented_delta(p_rel, ts_start)
    doc_lens = uvarint_byte_lengths(doc_gaps)
    doc_stream = encode_uvarints(doc_gaps, doc_lens)

    # --- freq stream --------------------------------------------------------
    freq_u = freqs.astype(np.uint64)
    freq_lens = uvarint_byte_lengths(freq_u)
    freq_stream = encode_uvarints(freq_u, freq_lens)

    # --- position-gap stream: reset at each posting start -------------------
    pos_start = td_change  # aligned with token rows
    pos_gaps = segmented_delta(tok_pos, pos_start)
    pos_lens = uvarint_byte_lengths(pos_gaps)
    pos_stream = encode_uvarints(pos_gaps, pos_lens)
    pos_csum = np.concatenate([[0], np.cumsum(pos_lens)])
    tok_off = np.concatenate([posting_start, [codes.size]])
    pos_bytes_per_posting = pos_csum[tok_off[1:]] - pos_csum[tok_off[:-1]]

    # per-(row, seg) aggregates via flat index
    flat = row_of * num_segments + p_seg
    size = n_rows * num_segments
    seg_doc_counts = np.bincount(flat, minlength=size).reshape(n_rows, num_segments)
    seg_doc_bytes = np.zeros(size, np.int64)
    np.add.at(seg_doc_bytes, flat, doc_lens)
    seg_freq_bytes = np.zeros(size, np.int64)
    np.add.at(seg_freq_bytes, flat, freq_lens)
    seg_pos_bytes = np.zeros(size, np.int64)
    np.add.at(seg_pos_bytes, flat, pos_bytes_per_posting)
    seg_max_tf = np.zeros(size, np.int64)
    np.maximum.at(seg_max_tf, flat, freqs)
    seg_doc_bytes = seg_doc_bytes.reshape(n_rows, num_segments)
    seg_freq_bytes = seg_freq_bytes.reshape(n_rows, num_segments)
    seg_pos_bytes = seg_pos_bytes.reshape(n_rows, num_segments)
    seg_max_tf = seg_max_tf.reshape(n_rows, num_segments)

    # per-row byte slices in each stream
    doc_csum = np.concatenate([[0], np.cumsum(doc_lens)])
    freq_csum = np.concatenate([[0], np.cumsum(freq_lens)])
    doc_off = doc_csum[row_start]
    doc_end = doc_csum[row_end]
    freq_off = freq_csum[row_start]
    freq_end = freq_csum[row_end]
    pos_off = pos_csum[tok_off[:-1]][row_start]
    pos_end_arr = pos_csum[tok_off[1:]][row_end - 1]

    # per-row df/ttf
    tf_csum = np.concatenate([[0], np.cumsum(freqs)])
    row_df = row_end - row_start
    row_ttf = tf_csum[row_end] - tf_csum[row_start]

    doc_buf = doc_stream.tobytes()
    freq_buf = freq_stream.tobytes()
    pos_buf = pos_stream.tobytes()
    return pd.DataFrame({
        "pid": np.full(n_rows, pid, dtype=np.int32),
        "term": uniques[p_term[row_start]].astype(object),
        "stripe": stripe[row_start].astype(np.int32),
        "df": row_df.astype(np.int64),
        "ttf": row_ttf.astype(np.int64),
        "seg_doc_counts": list(seg_doc_counts),
        "seg_doc_bytes": list(seg_doc_bytes),
        "seg_freq_bytes": list(seg_freq_bytes),
        "seg_pos_bytes": list(seg_pos_bytes),
        "seg_max_tf": list(seg_max_tf),
        "doc_blob": [doc_buf[a:b] for a, b in zip(doc_off, doc_end)],
        "freq_blob": [freq_buf[a:b] for a, b in zip(freq_off, freq_end)],
        "pos_blob": [pos_buf[a:b] for a, b in zip(pos_off, pos_end_arr)],
    })


def _token_sort(codes: np.ndarray, tok_doc: np.ndarray,
                tok_pos: np.ndarray, num_partitions: int) -> np.ndarray:
    """(term, doc, pos) token ordering for the encode kernel.

    One unstable introsort over a packed int64 key; ``np.lexsort`` (3
    stable keysort passes) when the key does not fit.  The history of
    the choice (the sort is a small slice of a tokenize-dominated
    kernel):

    - round 3: doc-regroup + per-doc stable argsort — SLOWER on the real
      corpus (post-shuffle doc order is near-sorted, so the stable
      doc/pos passes are near-free).
    - round 4 (packed key): pack ``(code, rel_doc, pos)``
      into ONE int64 (keys unique within a pid group — docs in a group
      are ≡ pid (mod P), so ``doc // P`` is injective and
      order-preserving) and run a single unstable introsort.  3× faster
      than lexsort in isolation but a WASH on the round-4 real 500k
      build (kernel 12.20 s vs 12.37 s) — the old scatter-heavy varint
      encoder owned the kernel then.
    - round 5: after the matrix-compress encoder cut the encode phase
      ~4×, the sort became a third of the kernel and the packed key now
      wins the same alternating 500k A/B best-of-3: kernel 12.01 s vs
      13.44 s (``BENCH_SORT_AB.json``).  Packed is the only mode; it
      falls back to lexsort when the packed ranges exceed 63 bits
      (identical order — keys are unique either way).
    """
    if codes.size == 0:
        return np.lexsort((tok_pos, tok_doc, codes))
    rel = tok_doc // num_partitions
    bits_c = max(1, int(codes.max()).bit_length())
    bits_d = max(1, int(rel.max()).bit_length())
    bits_p = max(1, int(tok_pos.max()).bit_length())
    if bits_c + bits_d + bits_p > 63:
        return np.lexsort((tok_pos, tok_doc, codes))
    key = (codes << np.int64(bits_d + bits_p)) \
        | (rel << np.int64(bits_p)) | tok_pos
    return np.argsort(key)


def _build_postings_kernel(num_partitions: int, num_segments: int,
                           nb_doc_per_segment: int, tokenizer: str,
                           stripe_cap: int):
    """Per-partition posting-list builder (B7-B10), fully vectorized.

    ``applyInArrow`` kernel: content strings stay in Arrow buffers through
    tokenize + dictionary-encode (codes come back in code-point order ==
    UTF-8 byte order, ``BytesRef.compareTo`` semantics,
    ``term_lookup.c:31-69``); Python objects exist only for the partition
    vocabulary and the output rows.
    """

    def fn(key: tuple, table: pa.Table) -> pa.Table:
        k0 = key[0]
        pid = int(k0.as_py() if hasattr(k0, "as_py") else k0)
        doc_ids = np.asarray(table.column("doc_id").combine_chunks())
        doc_idx, codes, tok_pos, uniques = tokenize_to_codes(
            table.column("content"), tokenizer)
        if codes.size == 0:
            return PA_POSTINGS_SCHEMA.empty_table()
        tok_doc = doc_ids[doc_idx].astype(np.int64)
        order = _token_sort(codes, tok_doc, tok_pos, num_partitions)
        pdf = encode_partition_postings(
            pid, codes[order], tok_doc[order], tok_pos[order],
            uniques, num_partitions, num_segments,
            nb_doc_per_segment, stripe_cap)
        return pa.Table.from_pandas(pdf, schema=PA_POSTINGS_SCHEMA,
                                    preserve_index=False)

    return fn


def write_term_stats(postings: DataFrame, stats_path: str) -> None:
    """The term stats table (Q2 source): Σdf and Σttf per term of a
    postings table — the build's and the merge's one writer of it."""
    (postings.groupBy("term")
     .agg(F.sum("df").alias("doc_freq"), F.sum("ttf").alias("total_tf"))
     .write.mode("overwrite").parquet(stats_path))


def partition_metrics(postings: DataFrame) -> dict[int, dict]:
    """``{pid: {terms, postings, tokens, bytes_compressed}}`` of a
    postings table in one job — the ``ENABLE_STATS`` set
    (``PimIndexWriter.java:638-649``) the manifest stores per
    partition."""
    rows = postings.groupBy("pid").agg(
        F.count_distinct("term").alias("terms"),
        F.sum("df").alias("postings"),
        F.sum("ttf").alias("tokens"),
        (F.sum(F.length("doc_blob")) + F.sum(F.length("freq_blob"))
         + F.sum(F.length("pos_blob"))).alias("bytes"),
    ).collect()
    return {int(r["pid"]): {"terms": int(r["terms"]),
                            "postings": int(r["postings"]),
                            "tokens": int(r["tokens"]),
                            "bytes_compressed": int(r["bytes"])}
            for r in rows}


def advise_num_partitions(manifest: IndexManifest | None = None, *,
                          corpus_tokens: int | None = None,
                          budget_bytes: int = 48 << 20,
                          bytes_per_token: float = 4.0) -> int:
    """Partition-count advisor for the per-partition size guard — the
    planning half of the reference's 48 MiB/DPU bound
    (``DpuSystemExecutor.java:40``: an index partition that outgrows its
    worker's residency budget cannot load; the reference *fails*, this
    engine plans).

    - With a built ``manifest``: scale the CURRENT partition count so the
      observed worst partition (``metrics['per_partition'][pid]
      ['bytes_compressed']``) fits ``budget_bytes`` — the number to pass
      a rebuild or :func:`~pim_lucene_spark.operators.merge
      .merge_indexes`.
    - With ``corpus_tokens`` (pre-build): estimate compressed index
      bytes as ``corpus_tokens * bytes_per_token`` (delta+varint
      doc/freq/position streams measure ~3-5 bytes/token on text
      corpora — calibrate from a small-sample build's metrics) and
      divide by the budget.  Round-robin doc routing keeps partitions
      uniform, so the mean IS the max to first order.

    Always returns at least 1; at 100 TB this is the knob that keeps
    every partition inside one executor's memory while the shuffle
    width stays bounded.
    """
    if (manifest is None) == (corpus_tokens is None):
        raise ValueError("pass exactly one of manifest / corpus_tokens")
    if budget_bytes <= 0:
        raise ValueError("budget_bytes must be positive")
    if manifest is not None:
        per_part = (manifest.metrics or {}).get("per_partition")
        if not per_part:
            raise ValueError("manifest has no per_partition metrics "
                             "(v3 builds record them)")
        worst = max(int(v.get("bytes_compressed", 0))
                    for v in per_part.values())
        return max(1, manifest.num_partitions
                   * -(-worst // budget_bytes))
    est = int(corpus_tokens * float(bytes_per_token))
    return max(1, -(-est // budget_bytes))


def verify_content_invariant(spark: SparkSession, manifest: IndexManifest,
                             source_df: DataFrame,
                             content_col: str = "content",
                             id_col: str = "doc_id") -> int:
    """Per-row ``sha256(content)`` equality vs the source table (north rule).

    Joins the index's docs table back to the source on doc id and counts
    rows whose stored ``sha256`` differs from ``sha2(source.content, 256)``
    (or that are missing on either side).  Returns the violation count
    (0 == invariant holds); callers decide whether to raise.
    """
    stored = spark.read.parquet(manifest.docs_path).select(
        F.col("doc_id"), F.col("sha256").alias("stored_sha"))
    src = source_df.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.sha2(F.col(content_col), 256).alias("src_sha"))
    bad = (stored.join(src, "doc_id", "full_outer")
           .filter((F.col("stored_sha").isNull()) |
                   (F.col("src_sha").isNull()) |
                   (F.col("stored_sha") != F.col("src_sha"))))
    return bad.count()


def build_index(
    spark: SparkSession,
    df: DataFrame,
    index_dir: str,
    cfg: IndexConfig = IndexConfig(),
    content_col: str = "content",
    id_col: str | None = None,
    order_cols: list[str] | None = None,
    meta_cols: list[str] | None = None,
    resume: bool = False,
    source: str = "",
) -> IndexManifest:
    """Build (or resume building) the full index under ``index_dir``."""
    os.makedirs(index_dir, exist_ok=True)
    t0 = time.time()
    phase_t: dict[str, float] = {}
    _last = [t0]

    def _mark(name: str) -> None:
        now = time.time()
        phase_t[name] = round(now - _last[0], 3)
        _last[0] = now

    P = cfg.num_partitions

    manifest: IndexManifest | None = None
    if resume and os.path.exists(os.path.join(index_dir, "manifest.json")):
        manifest = IndexManifest.load(index_dir)
    if manifest is None:
        # fresh build (incl. resume=True finding no manifest — e.g. a
        # crash between the phase jobs and the deferred manifest.save):
        # stale checkpoint markers from a previous attempt must not
        # short-circuit any stage, or a rebuilt docs table could pair
        # with the earlier attempt's norms sidecar (review catch)
        import glob
        for marker in glob.glob(os.path.join(index_dir, "_*_DONE")):
            os.remove(marker)

    docs_done = manifest is not None and os.path.exists(
        os.path.join(index_dir, "_DOCS_DONE"))

    # Fresh builds overlap the docs write with the postings build (guide
    # §2.6 — independent jobs back-fill each other's stragglers): the
    # postings kernel needs only (doc_id, content), both available in the
    # source frame before the docs table lands on disk.  The one true
    # dependency is doc_count (segment width); it comes free from the ID
    # assignment's per-partition counts, or — for user-ID'd sources —
    # from one count/distinct/min/max job over the source before the
    # overlapped phase, which also rejects ids that are not exactly
    # 0..N-1 — out of range or duplicated (a real scan for
    # non-trivial frames, accepted: segment width must be known before
    # any kernel runs).  Resumed builds keep the serial docs-parquet
    # path (the stored snapshot is the stable input there).
    base_frame = None  # postings/norms source for the overlapped path
    doc_count_early: int | None = None
    persisted = None
    if not docs_done:
        if id_col is None:
            # the assignment already collected per-partition counts; their
            # sum is the doc count — no extra job
            df, persisted, doc_count_early = _assign_doc_ids(
                df, order_cols or [content_col])
        else:
            df = df.withColumn("doc_id", F.col(id_col).cast("long"))
            ids = df.agg(F.count(F.lit(1)).alias("n"),
                         F.count_distinct("doc_id").alias("nd"),
                         F.min("doc_id").alias("lo"),
                         F.max("doc_id").alias("hi")).collect()[0]
            doc_count_early = int(ids["n"])
            if doc_count_early and (ids["lo"] != 0
                                    or ids["hi"] != doc_count_early - 1
                                    or ids["nd"] != doc_count_early):
                # segment widths derive from doc_count: fail with the
                # contract error before any kernel sees the ids
                raise ValueError(
                    "doc ids must be dense 0..N-1 (use assign_doc_ids)")
        docs_src = df.withColumn("sha256", F.sha2(F.col(content_col), 256))
        if content_col != "content":
            docs_src = docs_src.withColumnRenamed(content_col, "content")
            base_frame = df.withColumnRenamed(content_col, "content") \
                .select("doc_id", "content")
        else:
            base_frame = df.select("doc_id", "content")
        keep = ["doc_id"] + (meta_cols or []) + ["content", "sha256",
                                                 "token_count", "norm"]
        docs_src = _add_doc_meta(docs_src, cfg.tokenizer)
        if doc_count_early == 0:
            raise ValueError("empty corpus")
    _mark("plan")

    obs = Observation("collection_stats")

    def _docs_write_job():
        # collection stats (B4) observed during the write — no extra scan
        (docs_src.select(*keep)
         .observe(obs, F.count(F.lit(1)).alias("doc_count"),
                  F.sum("token_count").alias("sum_ttf"),
                  F.max("doc_id").alias("max_id"))
         .write.mode("overwrite").parquet(os.path.join(index_dir, "docs")))
        open(os.path.join(index_dir, "_DOCS_DONE"), "w").close()

    if docs_done:  # resumed: docs already on disk, aggregate them
        docs = spark.read.parquet(os.path.join(index_dir, "docs"))
        stats_row = docs.agg(
            F.count("*").alias("doc_count"),
            F.sum("token_count").alias("sum_ttf"),
            F.max("doc_id").alias("max_id"),
        ).collect()[0]
        doc_count = int(stats_row["doc_count"])
        sum_ttf = int(stats_row["sum_ttf"] or 0)
        if doc_count == 0:
            raise ValueError("empty corpus")
        if int(stats_row["max_id"]) != doc_count - 1:
            raise ValueError(
                "doc ids must be dense 0..N-1 (use assign_doc_ids)")
    else:
        doc_count = int(doc_count_early)
    _mark("collection_stats")
    nb_doc_per_segment = -(-doc_count // cfg.num_segments)

    if manifest is None:
        import uuid
        manifest = IndexManifest(
            index_dir=index_dir,
            num_partitions=P,
            num_segments=cfg.num_segments,
            doc_count=doc_count,
            sum_total_term_freq=0,  # filled from the write's Observation
            nb_doc_per_segment=nb_doc_per_segment,
            tokenizer=cfg.tokenizer,
            k1=cfg.k1,
            b=cfg.b,
            max_postings_per_stripe=cfg.max_postings_per_stripe,
            build_chunks=cfg.build_chunks,
            source=source,
            content_col="content",
            doc_span=doc_count,  # fresh builds validate dense 0..N-1 ids
            build_id=uuid.uuid4().hex,
        )
    if docs_done:
        manifest.sum_total_term_freq = sum_ttf

    pid_col = F.pmod(F.col("doc_id"), F.lit(P)).cast("int").alias("pid")

    # --- docs write ∥ postings chunks, then norms ------------------------------
    # Independent Spark jobs from one session run concurrently (separate
    # driver threads, guide §2.6).  Fresh builds run the docs write and
    # the postings build at the same time (the kernel tokenizes straight
    # from the source frame); the tiny norms job (1 byte/doc, read from
    # the docs parquet) chains behind the docs write while postings are
    # still running.  manifest.save() is deferred until the Observation's
    # sum_ttf is known — a crash in the window leaves no manifest.json,
    # which a later build treats as fresh (chunks rebuilt, never stale).
    from concurrent.futures import ThreadPoolExecutor

    def _norms_job() -> None:
        # norms are laid out as norms/pid=N/ so a search task for partition
        # N reads exactly its 1-byte/doc blob straight off the (shared)
        # filesystem — the norms side never enters a Spark shuffle, the
        # same way a Lucene segment reads its own .nvd file
        if not os.path.exists(os.path.join(index_dir, "_NORMS_DONE")):
            norms_src = spark.read.parquet(os.path.join(index_dir, "docs"))
            (norms_src.select("doc_id", "norm", pid_col)
                 .groupBy("pid")
                 .applyInPandas(_build_norms_kernel(P), NORMS_SCHEMA)
                 .write.mode("overwrite").partitionBy("pid")
                 .parquet(manifest.norms_path))
            open(os.path.join(index_dir, "_NORMS_DONE"), "w").close()

    def _validate_fresh_write() -> None:
        stats_row = obs.get
        if int(stats_row["doc_count"]) != doc_count:
            raise ValueError(
                "source row count changed between planning and the docs "
                f"write ({doc_count} vs {int(stats_row['doc_count'])}); "
                "the input must be deterministic")
        if int(stats_row["max_id"]) != doc_count - 1:
            raise ValueError(
                "doc ids must be dense 0..N-1 (use assign_doc_ids)")

    def _docs_then_norms_job() -> None:
        if not docs_done:
            _docs_write_job()
            # fail with the clean contract error before the norms kernel
            # can hit the same non-dense ids inside a Spark task
            _validate_fresh_write()
        _norms_job()

    fresh_markers: list[str] = []

    def _postings_job() -> None:
        # chunked + resumable (context_save_restore.c analogue)
        kernel = _build_postings_kernel(P, cfg.num_segments,
                                        nb_doc_per_segment, cfg.tokenizer,
                                        cfg.max_postings_per_stripe)
        done = set(manifest.completed_chunks) if resume else set()
        src = base_frame if base_frame is not None else \
            spark.read.parquet(os.path.join(index_dir, "docs"))
        for chunk in range(cfg.build_chunks):
            if chunk in done and os.path.exists(manifest.chunk_marker(chunk)):
                continue
            (src.select("doc_id", "content", pid_col)
                 .filter(F.pmod(F.col("pid"), F.lit(cfg.build_chunks)) == chunk)
                 .groupBy("pid")
                 .applyInArrow(kernel, POSTINGS_SCHEMA)
                 .write.mode("overwrite").parquet(manifest.chunk_path(chunk)))
            open(manifest.chunk_marker(chunk), "w").close()
            fresh_markers.append(manifest.chunk_marker(chunk))
            if chunk not in manifest.completed_chunks:
                manifest.completed_chunks.append(chunk)
            if docs_done:  # overlapped builds defer saves (sum_ttf pending)
                manifest.save()

    serial_build = os.environ.get("SPARK_GRAFT_BUILD_SERIAL") == "1"
    if serial_build:
        # measurement mode (scaling protocol): run the phases serially so
        # their wall times are separable — the overlapped default runs
        # them concurrently, which folds the docs write into the postings
        # window and makes per-phase scaling unattributable
        try:
            _docs_then_norms_job()
            _mark("docs+norms")
            _postings_job()
            _mark("postings")
        except Exception:
            for mk in fresh_markers:
                if os.path.exists(mk):
                    os.remove(mk)
            raise
        finally:
            if persisted is not None:
                persisted.unpersist()
    else:
        with ThreadPoolExecutor(max_workers=2) as pool:
            f_dn = pool.submit(_docs_then_norms_job)
            f_post = pool.submit(_postings_job)
            # wait for BOTH futures before any cleanup: an early raise
            # from one job must not trigger the unpersist (or marker
            # cleanup) while the other job is still mid-write — the
            # persisted id-assignment frame pins the range sampling both
            # jobs' outputs must agree on (review catch: the old
            # result-then-finally ordering ran cleanup with the docs
            # thread still live when the postings job failed first)
            first_exc: Exception | None = None
            for fut in (f_post, f_dn):
                try:
                    fut.result()
                except Exception as e:  # noqa: BLE001 - re-raised below
                    if first_exc is None:
                        first_exc = e
            if persisted is not None:
                persisted.unpersist()
            if first_exc is not None:
                # a failed validation (or any job error) makes this run's
                # chunks untrustworthy — drop their markers so a later
                # resume can never skip over garbage
                for mk in fresh_markers:
                    if os.path.exists(mk):
                        os.remove(mk)
                raise first_exc
        _mark("norms+postings")

    if not docs_done:
        sum_ttf = int(obs.get["sum_ttf"] or 0)
        manifest.sum_total_term_freq = sum_ttf

    # norm-inverse quantization factor (PimIndexWriter.java:468-484)
    from pim_lucene_spark.functions import bm25
    from pim_lucene_spark.functions.smallfloat import quantize_norm_inverse
    avgdl32 = bm25.avg_field_length(sum_ttf, doc_count, "float32")
    qf, _quant = quantize_norm_inverse(bm25.score_cache(avgdl32, cfg.k1, cfg.b))
    manifest.norm_quant_factor = int(qf)
    manifest.save()

    postings = spark.read.parquet(*[manifest.chunk_path(c)
                                    for c in range(cfg.build_chunks)])

    # --- term stats (Q2 source) ∥ per-partition metrics ------------------------
    def _stats_job() -> None:
        if not os.path.exists(os.path.join(index_dir, "_STATS_DONE")):
            write_term_stats(postings, manifest.stats_path)
            open(os.path.join(index_dir, "_STATS_DONE"), "w").close()

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_stats = pool.submit(_stats_job)
        f_metrics = pool.submit(partition_metrics, postings)
        f_stats.result()
        per_partition = f_metrics.result()
    _mark("stats+metrics")
    manifest.metrics = {
        "build_seconds": round(time.time() - t0, 3),
        "phase_seconds": phase_t,
        "doc_count": doc_count,
        "sum_total_term_freq": sum_ttf,
        "per_partition": per_partition,
    }
    if cfg.max_partition_bytes:
        # size guard (reference: MAX_DPU_INDEX_SIZE per DPU,
        # DpuSystemExecutor.java:40) — advisory here: a Spark partition is
        # not RAM-bound, but an oversized one is a task-skew smell
        over = {p: v["bytes_compressed"] for p, v in per_partition.items()
                if v["bytes_compressed"] > cfg.max_partition_bytes}
        if over:
            import warnings
            worst = max(over.values())
            suggested = P * -(-worst // cfg.max_partition_bytes)
            warnings.warn(
                f"{len(over)} index partition(s) exceed "
                f"max_partition_bytes={cfg.max_partition_bytes} "
                f"(worst {worst} bytes); consider num_partitions>="
                f"{suggested}", RuntimeWarning, stacklevel=2)
    manifest.save()
    return manifest
