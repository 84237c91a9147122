"""Numeric doc values: sort-by-field, field collapsing, range facets.

Lucene's ``NumericDocValues`` column (the ``.dvd`` forward index) as a
per-partition int64 sidecar laid out exactly like the norms table and
the facet ordinal blobs (``dv/col=<col>/data/pid=N``): a kernel task
for partition N reads its own blob straight off the shared mount, never
through a shuffle, and serving processes keep it resident.

Three CPU-Lucene surfaces ride it inside the per-partition compound
kernel (`plans/compound.py::_compound_core`):

- :func:`sort_by_field` — ``IndexSearcher.search(query, n, Sort)`` with
  ``SortField(col, Type.LONG, reverse)``: each partition ships only its
  k best (value, doc) pairs, so the rank window sees O(P·k) rows
  regardless of match counts (``TopFieldCollector`` with
  ``trackScores=false``).
- :func:`collapse_topk` — the grouping module's one-doc-per-group
  collapse (``TopGroupsCollector`` head=1) over a facet ordinal
  dimension: per (query, group) only the partition-best docs leave the
  kernel, O(queries × cardinality) never O(matches).
- :func:`facet_ranges` — ``LongRangeFacetCounts``: per-query counts for
  caller-given (possibly overlapping) ``[lo, hi)`` ranges, two binary
  searches per range over the sorted matched values.

The PIM reference offloads no doc-values surface; this is CPU-Lucene
parity (like the query parser and facet families), anchored on
``lucene/core`` sort / ``lucene/grouping`` / ``lucene/facet`` range
semantics.
"""
from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pim_lucene_spark.manifest import IndexManifest
from pim_lucene_spark.sparkutil import local_empty

DV_BLOB_SCHEMA = T.StructType([
    T.StructField("pid", T.IntegerType(), False),
    T.StructField("num_docs", T.LongType(), False),
    T.StructField("values", T.BinaryType(), False),
])

SORT_RESULT_SCHEMA = T.StructType([
    T.StructField("qid", T.LongType(), False),
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("sortval", T.LongType(), False),
])

COLLAPSE_KERNEL_SCHEMA = T.StructType([
    T.StructField("qid", T.LongType(), False),
    T.StructField("code", T.IntegerType(), False),
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("score", T.DoubleType(), False),
])

RANGE_KERNEL_SCHEMA = T.StructType([
    T.StructField("qid", T.LongType(), False),
    T.StructField("ridx", T.IntegerType(), False),
    T.StructField("n", T.LongType(), False),
])

# resident value blobs, keyed (dv dir, pid) -> (mtime_ns, values) —
# 8 bytes/doc, read once per executor/serving process (the
# .dvd-resident analogue); the stored mtime invalidates on rebuild
_DV_CACHE: dict[tuple[str, int], tuple[int, np.ndarray]] = {}


def dv_dir(manifest: IndexManifest, col: str) -> str:
    return os.path.join(manifest.index_dir, "dv", f"col={col}")


def build_numeric_docvalues(spark: SparkSession, manifest: IndexManifest,
                            col: str, dims: DataFrame | None = None,
                            missing: int = 0) -> str:
    """Build the int64 doc-values sidecar for one column.

    ``dims`` is any ``(doc_id, <col>)`` frame aligned to the index's
    global doc ids; by default the column is read from the index's own
    docs table (pass ``meta_cols=[col]`` to ``build_index`` to store it
    there).  Nulls take ``missing`` (Lucene's numeric-sort missing
    value, default 0).  Returns the doc-values directory.
    """
    P = manifest.num_partitions
    if dims is None:
        dims = spark.read.parquet(manifest.docs_path).select("doc_id", col)
    dims = dims.select(F.col("doc_id").cast("long").alias("doc_id"),
                       F.col(col).cast("long").alias("value"))
    n = dims.count()
    if n != manifest.doc_count:
        raise ValueError(
            f"doc-values dims frame has {n} rows but the index holds "
            f"{manifest.doc_count} docs; the sidecar must cover the "
            "whole doc space (a partial sidecar would crash or "
            "mis-align query kernels)")
    out = dv_dir(manifest, col)
    miss = int(missing)

    def kern(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pid = int(key[0])
        rel = pdf["doc_id"].to_numpy(np.int64) // P
        order = np.argsort(rel, kind="stable")
        rel = rel[order]
        if rel.size and not np.array_equal(rel, np.arange(rel.size)):
            raise ValueError(
                f"doc-values partition {pid}: doc ids not dense; the "
                "dims frame must cover the index's global id space")
        vals = (pdf["value"].to_numpy()[order])
        vals = pd.Series(vals).fillna(miss).to_numpy(np.int64)
        return pd.DataFrame({"pid": [pid], "num_docs": [rel.size],
                             "values": [vals.tobytes()]})

    (dims.withColumn("pid", F.pmod(F.col("doc_id"), F.lit(P)).cast("int"))
         .groupBy("pid").applyInPandas(kern, DV_BLOB_SCHEMA)
         .write.mode("overwrite").partitionBy("pid")
         .parquet(os.path.join(out, "data")))
    return out


def dv_values_for(dvdir: str, pid: int) -> np.ndarray:
    """Partition ``pid``'s value array (int64, rel-doc aligned) — direct
    per-task read off the shared mount, cached resident.  The cache key
    includes the partition dir's mtime (one ~µs stat per call) so an
    in-place sidecar rebuild can never serve stale blobs from a
    long-lived executor/serving process."""
    import pyarrow.parquet as pq
    part = os.path.join(dvdir, "data", f"pid={pid}")
    try:
        mt = os.stat(part).st_mtime_ns
    except FileNotFoundError:
        raise FileNotFoundError(
            f"doc-values partition {part} not visible from this "
            "executor; build_numeric_docvalues must run before querying "
            "and the index needs a POSIX-visible shared mount") from None
    key = (dvdir, pid)
    hit = _DV_CACHE.get(key)
    if hit is not None and hit[0] == mt:
        return hit[1]
    blob = pq.read_table(part, columns=["values"]).column("values")[0]
    vals = np.frombuffer(blob.as_py(), dtype=np.int64)
    _DV_CACHE[key] = (mt, vals)  # replaces a stale rebuild's entry
    return vals


def _wrap_queries(queries):
    from pim_lucene_spark.plans.boolean import BooleanQuery
    from pim_lucene_spark.plans.dismax import DisMaxQuery
    return [(qid, q if isinstance(q, (BooleanQuery, DisMaxQuery))
             else BooleanQuery(must=[q]))
            for qid, q in queries]


def _manifests_of(index, default_field):
    from pim_lucene_spark.manifest import resolve_manifests
    return resolve_manifests(index, default_field)


def _check_ranges(ranges) -> list[str]:
    """Unique labels + lo <= hi (the LongRange constructor contract —
    an inverted range would otherwise count negative)."""
    labels = [r[0] for r in ranges]
    if len(set(labels)) != len(labels):
        raise ValueError("range labels must be unique")
    for lab, lo, hi in ranges:
        if int(lo) > int(hi):
            raise ValueError(f"range {lab!r}: lo {lo} > hi {hi}")
    return labels


def sort_by_field(spark: SparkSession, index, queries, col: str,
                  k: int = 10, reverse: bool = False,
                  default_field: str = "",
                  after: dict | None = None) -> DataFrame:
    """Top-``k`` hits per query ordered by a numeric doc-values column:
    ``(qid, doc_id, sortval)``, value asc (``reverse=True`` → desc),
    ties by doc_id asc — ``Sort(SortField(col, LONG, reverse))``.

    ``after`` pages like ``IndexSearcher.searchAfter`` over
    ``TopFieldDocs``: ``{qid: (sortval, doc_id)}`` of the previous
    page's last hit — the mark filters INSIDE the kernel before the
    per-partition cut, so page 50 ships the same ≤ P·k rows as page 1.

    The plan: the zero-exchange file plan runs the per-partition
    compound kernel in sort mode (each task reads its pids' postings
    and sidecar blobs; each partition emits its k best (value, doc)
    pairs) → a P·k-row rank window, the only Exchange.  The sidecar for
    ``col`` must exist (:func:`build_numeric_docvalues`).
    """
    from pim_lucene_spark.plans.compound import eval_aggregate
    manifests, default_field = _manifests_of(index, default_field)
    d = dv_dir(manifests[default_field], col)
    res = eval_aggregate(
        spark, manifests, default_field, _wrap_queries(queries),
        {"sort": {"path": d, "reverse": bool(reverse), "k": int(k),
                  "after": {int(q): (int(v), int(dc))
                            for q, (v, dc) in (after or {}).items()}}},
        SORT_RESULT_SCHEMA)
    if res is None:
        return local_empty(spark, SORT_RESULT_SCHEMA)
    order = F.desc("sortval") if reverse else F.asc("sortval")
    w = Window.partitionBy("qid").orderBy(order, F.asc("doc_id"))
    return (res.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k).drop("rank"))


def collapse_topk(spark: SparkSession, index, queries, dim: str,
                  k: int = 10, precision: str = "float32",
                  default_field: str = "",
                  group_size: int = 1) -> DataFrame:
    """Field collapsing / grouping (lucene/grouping ``TopGroups``): the
    top-``group_size`` docs per group value, for the top-``k`` groups
    per query ranked by their HEAD (best) doc's score —
    ``(qid, value, doc_id, score)``; ``group_size=1`` is classic
    collapse (one head per group).

    ``dim`` is a facet ordinal dimension (:func:`~pim_lucene_spark.
    operators.facets.build_facet_index`); docs with a null dim value are
    excluded (the grouping module's group-field contract).  The
    compound kernel runs on the zero-exchange file plan; per partition
    only per-(query, group) top-``group_size`` rows reach the group
    windows.
    """
    from pim_lucene_spark.operators.facets import facet_dir, facet_values
    from pim_lucene_spark.plans.compound import eval_aggregate
    manifests, default_field = _manifests_of(index, default_field)
    fdir = facet_dir(manifests[default_field], dim)
    values = facet_values(fdir)
    rows = eval_aggregate(
        spark, manifests, default_field, _wrap_queries(queries),
        {"collapse": {"path": fdir, "group_size": int(group_size)}},
        COLLAPSE_KERNEL_SCHEMA, precision=precision)
    vals_df = F.broadcast(spark.createDataFrame(
        list(enumerate(values)), "code int, value string"))
    if rows is None:
        return (local_empty(spark, COLLAPSE_KERNEL_SCHEMA)
                .join(vals_df, "code")
                .select("qid", "value", "doc_id", "score"))
    # global per-group top-H = merge of ≤ P partition top-Hs; groups
    # rank per query by their head (rank-1) row
    w_g = Window.partitionBy("qid", "code").orderBy(
        F.desc("score"), F.asc("doc_id"))
    w_k = Window.partitionBy("qid").orderBy(
        F.desc("score"), F.asc("doc_id"))
    rows = (rows.withColumn("rn", F.row_number().over(w_g))
            .filter(F.col("rn") <= group_size))
    groups = (rows.filter(F.col("rn") == 1)
              .withColumn("rank", F.row_number().over(w_k))
              .filter(F.col("rank") <= k)
              .select("qid", "code"))
    return (rows.join(groups, ["qid", "code"]).drop("rn")
            .join(vals_df, "code")
            .select("qid", "value", "doc_id", "score"))


def facet_ranges(spark: SparkSession, index, queries, col: str,
                 ranges: list[tuple[str, int, int]],
                 default_field: str = "") -> DataFrame:
    """Per-query match counts for numeric ``[lo, hi)`` ranges over a
    doc-values column: ``(qid, label, n)`` with one row per (query,
    range), zero counts included — ``LongRangeFacetCounts`` semantics
    (ranges may overlap; each counts independently).

    ``ranges``: ``(label, lo, hi)`` with unique labels.  The sidecar for
    ``col`` must exist (:func:`build_numeric_docvalues`).
    """
    from pim_lucene_spark.plans.compound import eval_aggregate
    _check_ranges(ranges)
    manifests, default_field = _manifests_of(index, default_field)
    d = dv_dir(manifests[default_field], col)
    agg = eval_aggregate(
        spark, manifests, default_field, _wrap_queries(queries),
        {"ranges": {"path": d, "lo": [int(r[1]) for r in ranges],
                    "hi": [int(r[2]) for r in ranges]}},
        RANGE_KERNEL_SCHEMA)
    scaffold = spark.createDataFrame(
        [(int(qid), i, lab) for qid, _ in queries
         for i, (lab, _, _) in enumerate(ranges)],
        "qid long, ridx int, label string")
    if agg is None:
        return scaffold.select("qid", "label",
                               F.lit(0).cast("long").alias("n"))
    agg = agg.groupBy("qid", "ridx").agg(F.sum("n").alias("n"))
    return (scaffold.join(agg, ["qid", "ridx"], "left")
            .select("qid", "label",
                    F.coalesce(F.col("n"), F.lit(0)).cast("long")
                    .alias("n")))


FACET_STATS_KERNEL_SCHEMA = T.StructType([
    T.StructField("qid", T.LongType(), False),
    T.StructField("code", T.IntegerType(), False),
    T.StructField("n", T.LongType(), False),
    T.StructField("sum", T.LongType(), False),
    T.StructField("mn", T.LongType(), False),
    T.StructField("mx", T.LongType(), False),
])


def facet_stats(spark: SparkSession, index, queries, dim: str, col: str,
                top_n: int = 10, default_field: str = "") -> DataFrame:
    """Association-facet aggregation (lucene/facet value associations /
    the terms-agg-with-stats shape): per query, per ``dim`` bucket, the
    count / sum / min / max / mean of the numeric doc-values column
    ``col`` over matched docs — ``(qid, value, n, sum_val, min_val,
    max_val, avg_val)``, top-``top_n`` buckets by (n desc, value asc).

    Aggregation runs inside the per-partition kernel on the
    zero-exchange file plan, against the resident ordinal + value
    sidecars; only per-bucket aggregate rows reach the ``groupBy(qid,
    code)`` merge (O(queries × cardinality), never O(matches)).
    Both sidecars must exist (:func:`~pim_lucene_spark.operators.facets.
    build_facet_index`, :func:`build_numeric_docvalues`).
    """
    from pim_lucene_spark.operators.facets import (facet_dir, facet_values,
                                                   ranked_buckets)
    from pim_lucene_spark.plans.compound import eval_aggregate
    manifests, default_field = _manifests_of(index, default_field)
    fdir = facet_dir(manifests[default_field], dim)
    values = facet_values(fdir)
    vals_df = F.broadcast(spark.createDataFrame(
        list(enumerate(values)), "code int, value string"))
    agg = eval_aggregate(
        spark, manifests, default_field, _wrap_queries(queries),
        {"facet_stats": {"ord_path": fdir,
                         "val_path": dv_dir(manifests[default_field],
                                            col)}},
        FACET_STATS_KERNEL_SCHEMA)
    if agg is None:
        return (local_empty(spark, FACET_STATS_KERNEL_SCHEMA)
                .join(vals_df, "code")
                .select("qid", "value", "n",
                        F.col("sum").alias("sum_val"),
                        F.col("mn").alias("min_val"),
                        F.col("mx").alias("max_val"),
                        F.lit(0.0).alias("avg_val")))
    agg = (agg.groupBy("qid", "code")
           .agg(F.sum("n").alias("n"),
                F.sum("sum").alias("sum_val"),
                F.min("mn").alias("min_val"),
                F.max("mx").alias("max_val")))
    return ranked_buckets(
        agg, vals_df, top_n,
        ["qid", "value", "n", "sum_val", "min_val", "max_val",
         (F.col("sum_val").cast("double")
          / F.col("n").cast("double")).alias("avg_val")])


# ---------------------------------------------------------------------------
# serving path (no Spark job): the same kernel modes over resident
# sidecars, host-side merge — row-identical to the distributed plans
# ---------------------------------------------------------------------------

def facet_stats_local(index, queries, dim: str, col: str,
                      top_n: int = 10, default_field: str = "",
                      pids: list[int] | None = None) -> pd.DataFrame:
    """Serving-path :func:`facet_stats` — NO Spark job; returns a
    pandas frame (qid, value, n, sum_val, min_val, max_val, avg_val),
    row-identical to the distributed plan (differential-tested)."""
    from pim_lucene_spark.operators.facets import facet_dir, facet_values
    from pim_lucene_spark.plans.compound import search_compound_local
    manifests, default_field = _manifests_of(index, default_field)
    fdir = facet_dir(manifests[default_field], dim)
    return search_compound_local(
        manifests, _wrap_queries(queries), default_field=default_field,
        pids=pids,
        agg_mode={"kind": "facet_stats", "ord_path": fdir,
                  "val_path": dv_dir(manifests[default_field], col),
                  "values": facet_values(fdir), "top_n": int(top_n)})


def sort_by_field_local(index, queries, col: str, k: int = 10,
                        reverse: bool = False, default_field: str = "",
                        pids: list[int] | None = None,
                        after: dict | None = None) -> pd.DataFrame:
    """Serving-path :func:`sort_by_field` — NO Spark job; returns a
    pandas frame (qid, doc_id, sortval), row-identical to the
    distributed plan (differential-tested)."""
    from pim_lucene_spark.plans.compound import search_compound_local
    manifests, default_field = _manifests_of(index, default_field)
    return search_compound_local(
        manifests, _wrap_queries(queries), default_field=default_field,
        pids=pids,
        agg_mode={"kind": "sort", "path": dv_dir(manifests[default_field],
                                                 col),
                  "reverse": bool(reverse), "k": int(k),
                  "after": {int(q): (int(v), int(dc))
                            for q, (v, dc) in (after or {}).items()}})


def collapse_topk_local(index, queries, dim: str, k: int = 10,
                        precision: str = "float32",
                        default_field: str = "",
                        pids: list[int] | None = None,
                        group_size: int = 1) -> pd.DataFrame:
    """Serving-path :func:`collapse_topk` — NO Spark job; returns a
    pandas frame (qid, value, doc_id, score)."""
    from pim_lucene_spark.operators.facets import facet_dir, facet_values
    from pim_lucene_spark.plans.compound import search_compound_local
    manifests, default_field = _manifests_of(index, default_field)
    fdir = facet_dir(manifests[default_field], dim)
    return search_compound_local(
        manifests, _wrap_queries(queries), precision=precision,
        default_field=default_field, pids=pids,
        agg_mode={"kind": "collapse", "path": fdir,
                  "values": facet_values(fdir), "k": int(k),
                  "group_size": int(group_size)})


def facet_ranges_local(index, queries,
                       col: str, ranges: list[tuple[str, int, int]],
                       default_field: str = "",
                       pids: list[int] | None = None) -> pd.DataFrame:
    """Serving-path :func:`facet_ranges` — NO Spark job; returns a
    pandas frame (qid, label, n) with zero counts included."""
    from pim_lucene_spark.plans.compound import search_compound_local
    labels = _check_ranges(ranges)
    manifests, default_field = _manifests_of(index, default_field)
    return search_compound_local(
        manifests, _wrap_queries(queries), default_field=default_field,
        pids=pids,
        agg_mode={"kind": "ranges",
                  "path": dv_dir(manifests[default_field], col),
                  "lo": [int(r[1]) for r in ranges],
                  "hi": [int(r[2]) for r in ranges],
                  "labels": labels,
                  "qids": [int(qid) for qid, _ in queries]})
