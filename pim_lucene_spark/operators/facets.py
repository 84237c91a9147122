"""Faceted search over the inverted index.

Lucene-facets-module semantics (``SortedSetDocValuesFacetCounts`` over
``SortedSetDocValuesFacetField`` ordinals): a GLOBAL sorted value
dictionary plus a per-partition int32 ordinal array aligned to rel doc
ids — the doc-values sidecar, laid out exactly like the norms table
(``facets/col=<dim>/data/pid=N``) so a kernel task for partition N
reads its own blob straight off the shared mount, never through a
shuffle.

Counting happens INSIDE the per-partition compound kernel
(`plans/compound.py::_compound_core` facet mode): each query's matched
rel docs index the resident ordinal array and one ``bincount`` later
only ``(qid, ordinal, count)`` rows leave the kernel —
O(queries × cardinality) per partition, never O(matches).  At 100 TB a
stopword query facets over millions of matches per partition while
shipping at most ``cardinality`` longs.

The PIM reference offloads no facet surface; this is CPU-Lucene parity
(like the query parser and multiterm families), anchored on
``lucene/facet``'s sorted-set doc-values design.
"""
from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pim_lucene_spark.manifest import IndexManifest
from pim_lucene_spark.sparkutil import local_empty

FACET_BLOB_SCHEMA = T.StructType([
    T.StructField("pid", T.IntegerType(), False),
    T.StructField("num_docs", T.LongType(), False),
    T.StructField("codes", T.BinaryType(), False),
])

FACET_COUNT_SCHEMA = T.StructType([
    T.StructField("qid", T.LongType(), False),
    T.StructField("code", T.IntegerType(), False),
    T.StructField("n", T.LongType(), False),
])

# resident ordinal blobs, keyed (facet dir, pid) -> (mtime_ns, codes)
# — 4 bytes/doc, read once per executor/serving process (the
# .nvd-resident analogue); the stored mtime invalidates on rebuild
_CODES_CACHE: dict[tuple[str, int], tuple[int, np.ndarray]] = {}


def facet_dir(manifest: IndexManifest, dim: str) -> str:
    return os.path.join(manifest.index_dir, "facets", f"col={dim}")


def build_facet_index(spark: SparkSession, manifest: IndexManifest,
                      dim: str, dims: DataFrame | None = None,
                      max_cardinality: int = 100_000) -> str:
    """Build the facet ordinal sidecar for one dimension.

    ``dims`` is any ``(doc_id, <dim>)`` frame aligned to the index's
    global doc ids; by default the dimension column is read from the
    index's own docs table (pass ``meta_cols=[dim]`` to ``build_index``
    to store it there).  The value dictionary is global and sorted
    (Lucene's ordinal map); per-partition code arrays are written in
    rel-doc order like the norms blobs.  Returns the facet directory.

    The dictionary collects to the driver — facet dimensions are
    low-cardinality by design (``max_cardinality`` guards the taxonomy
    size, the BinaryDocValues-ordinal assumption).
    """
    P = manifest.num_partitions
    if dims is None:
        dims = spark.read.parquet(manifest.docs_path).select("doc_id", dim)
    dims = dims.select(F.col("doc_id").cast("long").alias("doc_id"),
                       F.col(dim).cast("string").alias("value"))
    n = dims.count()
    if n != manifest.doc_count:
        raise ValueError(
            f"facet dims frame has {n} rows but the index holds "
            f"{manifest.doc_count} docs; the ordinal sidecar must cover "
            "the whole doc space")
    values = [r["value"] for r in
              (dims.select("value").where(F.col("value").isNotNull())
               .distinct().orderBy("value")
               .limit(max_cardinality + 1).collect())]
    if len(values) > max_cardinality:
        raise ValueError(
            f"facet dimension {dim!r} exceeds max_cardinality="
            f"{max_cardinality}; facet ordinals want a bounded taxonomy")
    out = facet_dir(manifest, dim)
    code_of = {v: i for i, v in enumerate(values)}
    bc = spark.sparkContext.broadcast(code_of)

    def kern(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pid = int(key[0])
        rel = pdf["doc_id"].to_numpy(np.int64) // P
        order = np.argsort(rel, kind="stable")
        rel = rel[order]
        if rel.size and not np.array_equal(rel, np.arange(rel.size)):
            raise ValueError(
                f"facet partition {pid}: doc ids not dense; the dims "
                "frame must cover the index's global id space")
        codes = (pd.Series(pdf["value"].to_numpy()[order])
                 .map(bc.value).fillna(-1).to_numpy(np.int32))
        return pd.DataFrame({"pid": [pid], "num_docs": [rel.size],
                             "codes": [codes.tobytes()]})

    (dims.withColumn("pid", F.pmod(F.col("doc_id"), F.lit(P)).cast("int"))
         .groupBy("pid").applyInPandas(kern, FACET_BLOB_SCHEMA)
         .write.mode("overwrite").partitionBy("pid")
         .parquet(os.path.join(out, "data")))
    with open(os.path.join(out, "values.json"), "w") as fh:
        json.dump(values, fh)
    return out


def facet_values(fdir: str) -> list[str]:
    with open(os.path.join(fdir, "values.json")) as fh:
        return json.load(fh)


def facet_codes_for(fdir: str, pid: int) -> np.ndarray:
    """Partition ``pid``'s ordinal array (int32, rel-doc aligned) —
    direct per-task read off the shared mount, cached resident.  The
    cache key includes the partition dir's mtime (one ~µs stat per
    call) so an in-place sidecar rebuild can never serve stale blobs
    from a long-lived executor/serving process."""
    import pyarrow.parquet as pq
    part = os.path.join(fdir, "data", f"pid={pid}")
    try:
        mt = os.stat(part).st_mtime_ns
    except FileNotFoundError:
        raise FileNotFoundError(
            f"facet partition {part} not visible from this executor; "
            "build_facet_index must run before facet_counts and the "
            "index needs a POSIX-visible shared mount") from None
    key = (fdir, pid)
    hit = _CODES_CACHE.get(key)
    if hit is not None and hit[0] == mt:
        return hit[1]
    blob = pq.read_table(part, columns=["codes"]).column("codes")[0].as_py()
    codes = np.frombuffer(blob, dtype=np.int32)
    _CODES_CACHE[key] = (mt, codes)  # replaces a stale rebuild's entry
    return codes


def facet_counts(spark: SparkSession,
                 index: IndexManifest | str | dict[str, IndexManifest],
                 queries, dim: str, top_n: int = 10,
                 default_field: str = "") -> DataFrame:
    """Top-``top_n`` facet buckets per query: ``(qid, value, n)``,
    ordered per query by count desc then value asc (Lucene's
    ``FacetResult`` label ordering).

    ``queries`` is ``[(qid, query)]`` where query is any typed query or
    boolean/dismax tree (plain strings analyze like ``count_matches``);
    non-boolean queries wrap as a single-MUST boolean.  The plan: the
    zero-exchange file plan runs the per-partition compound kernel in
    facet mode (each task reads its pids' postings and ordinal blobs;
    only per-(query, ordinal) counts leave) → a tiny ``groupBy(qid,
    code)`` sum → broadcast-join the value dictionary → rank window.  The facet sidecar for ``dim`` must exist
    (:func:`build_facet_index`).
    """
    from pim_lucene_spark.plans.boolean import BooleanQuery
    from pim_lucene_spark.plans.compound import eval_aggregate
    from pim_lucene_spark.plans.dismax import DisMaxQuery

    from pim_lucene_spark.manifest import resolve_manifests
    manifests, default_field = resolve_manifests(index, default_field)
    fdir = facet_dir(manifests[default_field], dim)
    values = facet_values(fdir)

    wrapped = [(qid, q if isinstance(q, (BooleanQuery, DisMaxQuery))
                else BooleanQuery(must=[q]))
               for qid, q in queries]
    agg = eval_aggregate(spark, manifests, default_field, wrapped,
                         {"facet": {"path": fdir}}, FACET_COUNT_SCHEMA)
    vals_df = F.broadcast(spark.createDataFrame(
        list(enumerate(values)), "code int, value string"))
    if agg is None:
        return (local_empty(spark, FACET_COUNT_SCHEMA)
                .join(vals_df, "code").select("qid", "value", "n"))
    agg = agg.groupBy("qid", "code").agg(F.sum("n").alias("n"))
    return ranked_buckets(agg, vals_df, top_n, ["qid", "value", "n"])


def ranked_buckets(agg: DataFrame, vals_df: DataFrame, top_n: int,
                   select_cols) -> DataFrame:
    """Shared tail of every bucketed facet plan: broadcast-join the
    value dictionary, rank per query by the Lucene ``FacetResult``
    order (n desc, value asc), keep ``top_n``, project
    ``select_cols``."""
    w = Window.partitionBy("qid").orderBy(F.desc("n"), F.asc("value"))
    return (agg.join(vals_df, "code")
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= top_n).drop("rank")
            .select(*select_cols))


def drill_down(spark: SparkSession, index, queries, k: int = 10,
               precision: str = "float32") -> DataFrame:
    """DrillDownQuery (``lucene/facet DrillDownQuery.java``): a base
    query constrained by facet values — OR within a dimension, AND
    across dimensions, all non-scoring FILTER clauses tested against
    the resident ordinal sidecars inside the compound kernel.

    ``index`` is ONE index (manifest/path — the single-searcher shape
    of the Lucene API; its facet sidecars hold the dims).  ``queries``:
    ``(qid, base_query | None, {dim: [values]})`` — a None base drills
    over all live docs (Lucene's pure-browse form).  Returns
    (qid, doc_id, score), score = the base query's BM25 score (0.0 for
    pure browse, doc-id-asc order).
    """
    from pim_lucene_spark.plans.boolean import BooleanQuery, search_boolean
    from pim_lucene_spark.plans.query import (FacetFilterQuery,
                                              MatchAllDocsQuery)
    if isinstance(index, dict):
        raise ValueError(
            "drill_down takes one index; for multi-field indexes bind "
            "clauses with FieldedQuery and use search_boolean_fields")
    typed = []
    for qid, base, drills in queries:
        filters = [FacetFilterQuery(dim, tuple(vals))
                   for dim, vals in sorted(drills.items())]
        if not filters:
            raise ValueError(f"query {qid}: drill-down needs at least "
                             "one dimension constraint")
        if base is None:
            base = MatchAllDocsQuery(boost=0.0)
        typed.append((qid, BooleanQuery(must=[base], filter=filters)))
    return search_boolean(spark, index, typed, k=k, precision=precision)


def drill_sideways(spark: SparkSession, index, qid_base_drills,
                   dims: list[str], k: int = 10, top_n: int = 10,
                   precision: str = "float32") -> tuple:
    """DrillSideways (``DrillSideways.java``): drill-down hits PLUS,
    for each dimension in ``dims``, facet counts computed with THAT
    dimension's own constraint removed (so the UI can still show the
    sibling buckets of a selected value).  One index, like
    :func:`drill_down`.

    Returns ``(hits_df, {dim: counts_df})`` — hits as in
    :func:`drill_down`, counts as in :func:`facet_counts`.
    """
    from pim_lucene_spark.plans.boolean import BooleanQuery
    from pim_lucene_spark.plans.query import (FacetFilterQuery,
                                              MatchAllDocsQuery)
    hits = drill_down(spark, index, qid_base_drills, k=k,
                      precision=precision)
    side = {}
    for dim in dims:
        cq = []
        for qid, base, drills in qid_base_drills:
            others = [FacetFilterQuery(d, tuple(v))
                      for d, v in sorted(drills.items()) if d != dim]
            b = MatchAllDocsQuery(boost=0.0) if base is None else base
            cq.append((qid, BooleanQuery(must=[b], filter=others)
                       if others or not isinstance(b, BooleanQuery)
                       else b))
        side[dim] = facet_counts(spark, index, cq, dim, top_n=top_n)
    return hits, side


def drill_down_local(index, queries, k: int = 10,
                     precision: str = "float32",
                     pids: list[int] | None = None) -> pd.DataFrame:
    """Serving-path :func:`drill_down` — NO Spark job: the same typed
    booleans (matchall-or-base MUST + facet FILTER clauses) through the
    resident compound kernel; returns a pandas frame
    (qid, doc_id, score), row-identical to the distributed plan."""
    from pim_lucene_spark.plans.boolean import BooleanQuery
    from pim_lucene_spark.plans.compound import search_compound_local
    from pim_lucene_spark.plans.query import (FacetFilterQuery,
                                              MatchAllDocsQuery)
    if isinstance(index, dict):
        raise ValueError("drill_down_local takes one index")
    typed = []
    for qid, base, drills in queries:
        filters = [FacetFilterQuery(dim, tuple(vals))
                   for dim, vals in sorted(drills.items())]
        if not filters:
            raise ValueError(f"query {qid}: drill-down needs at least "
                             "one dimension constraint")
        if base is None:
            base = MatchAllDocsQuery(boost=0.0)
        typed.append((qid, BooleanQuery(must=[base], filter=filters)))
    return search_compound_local(index, typed, k=k, precision=precision,
                                 pids=pids)


def facet_counts_local(index, queries, dim: str, top_n: int = 10,
                       default_field: str = "",
                       pids: list[int] | None = None) -> pd.DataFrame:
    """Serving-path facets — NO Spark job: the resident compound kernel
    in facet mode over per-pid ordinal blobs; row-identical to
    :func:`facet_counts` (differential-tested).  Returns a pandas frame
    ``(qid, value, n)``."""
    from pim_lucene_spark.plans.boolean import BooleanQuery
    from pim_lucene_spark.plans.compound import search_compound_local
    from pim_lucene_spark.plans.dismax import DisMaxQuery
    wrapped = [(qid, q if isinstance(q, (BooleanQuery, DisMaxQuery))
                else BooleanQuery(must=[q]))
               for qid, q in queries]
    return search_compound_local(index, wrapped, default_field=default_field,
                                 pids=pids, facet_dim=dim,
                                 facet_top_n=top_n)
