"""Driver-side Spark helpers shared by the query paths.

Two measured latency sinks motivate this module (profiled at sf0.1,
guide §1):

- ``spark.createDataFrame([], schema)`` builds an **RDD-backed** empty
  relation (``Scan ExistingRDD``): every ``collect()`` on it launches a
  full Spark job with ``defaultParallelism`` empty tasks — measured
  0.5-1.3 s per call on local[32].  Empty results are common (no-match
  short-circuits, miss phrases), so the query paths route them through
  :func:`local_empty`, which caches one Arrow-backed
  ``LocalTableScan <empty>`` per (session, schema): collect is
  driver-only, ~5 ms, zero jobs.
- ``spark.read.parquet(path)`` re-lists files and re-reads footers on
  every call — 0.1-0.3 s per query.  :func:`cached_parquet` keeps the
  *unfiltered lazy scan plan* per (session, identity key).  This caches
  no data and no results: every query still scans Parquet; only the
  driver-side ``InMemoryFileIndex``/schema work is reused.  Callers key
  by the index's immutable ``build_id`` (generations are append-only new
  directories with fresh ids, so a cached listing can never go stale for
  a live manifest).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

_EMPTY_ATTR = "_pim_lucene_empty_cache"
_SCAN_ATTR = "_pim_lucene_scan_cache"
_ARROW_OK_ATTR = "_pim_lucene_arrow_result_ok"
_SCAN_MAX = 64  # per-session plan entries (dead builds age out)


def _zero_row(schema: T.StructType) -> pd.DataFrame:
    """One all-zeros pandas row with dtypes matching ``schema`` exactly
    (the Arrow conversion then yields a LocalRelation with the declared
    schema, non-nullability included)."""
    cols = {}
    for f in schema.fields:
        dt = f.dataType
        if isinstance(dt, T.LongType):
            cols[f.name] = np.zeros(1, dtype=np.int64)
        elif isinstance(dt, T.IntegerType):
            cols[f.name] = np.zeros(1, dtype=np.int32)
        elif isinstance(dt, T.ShortType):
            cols[f.name] = np.zeros(1, dtype=np.int16)
        elif isinstance(dt, T.DoubleType):
            cols[f.name] = np.zeros(1, dtype=np.float64)
        elif isinstance(dt, T.FloatType):
            cols[f.name] = np.zeros(1, dtype=np.float32)
        elif isinstance(dt, T.BooleanType):
            cols[f.name] = np.zeros(1, dtype=bool)
        elif isinstance(dt, T.StringType):
            cols[f.name] = pd.Series([""], dtype=object)
        elif isinstance(dt, T.BinaryType):
            cols[f.name] = pd.Series([b""], dtype=object)
        elif isinstance(dt, T.ArrayType):
            cols[f.name] = pd.Series([[]], dtype=object)
        else:  # unmapped type → caller falls back to the RDD path
            raise TypeError(f"no zero value for {dt}")
    return pd.DataFrame(cols)


def local_empty(spark: SparkSession, schema: T.StructType) -> DataFrame:
    """Empty DataFrame with exactly ``schema``, backed by a
    ``LocalTableScan`` so actions on it never launch a job.  Cached per
    (session, schema); falls back to ``createDataFrame([], schema)`` for
    types the zero-row builder doesn't cover."""
    try:
        cache = getattr(spark, _EMPTY_ATTR)
    except AttributeError:
        cache = {}
        try:
            setattr(spark, _EMPTY_ATTR, cache)
        except AttributeError:  # exotic session proxy: no caching
            pass
    key = schema.json()
    df = cache.get(key)
    if df is None:
        try:
            df = spark.createDataFrame(_zero_row(schema), schema).limit(0)
            if df.schema != schema:  # arrow coercion drift → old path
                df = spark.createDataFrame([], schema)
        except Exception:
            df = spark.createDataFrame([], schema)
        cache[key] = df
    return df


def local_result(spark: SparkSession, pdf: pd.DataFrame,
                 schema: T.StructType) -> DataFrame:
    """Driver-merged result → DataFrame.  Non-empty pandas converts to an
    Arrow LocalRelation (driver-only collect); empty routes through the
    cached job-free empty frame (an empty *pandas* frame falls back to
    the RDD path inside createDataFrame, reintroducing the job).

    The pyarrow-table entry point skips createDataFrame's pandas
    conversion machinery (measured 24 vs 38 ms per call for a 200-row
    result, quiet) and honors the declared schema exactly (nullability
    included); any conversion/coercion surprise falls back to the
    pandas path."""
    if len(pdf) == 0:
        return local_empty(spark, schema)
    key = schema.json()
    try:
        verified = getattr(spark, _ARROW_OK_ATTR)
    except AttributeError:
        verified = {}
        try:
            setattr(spark, _ARROW_OK_ATTR, verified)
        except AttributeError:
            verified = None
    if verified is None or verified.get(key) is not False:
        try:
            import pyarrow as pa
            df = spark.createDataFrame(
                pa.Table.from_pandas(pdf, preserve_index=False),
                schema=schema)
            # verify the declared schema survived — once per (session,
            # schema) when the result is cacheable, every call otherwise
            if verified is None:
                ok = df.schema == schema
            elif key not in verified:
                ok = verified[key] = df.schema == schema
            else:
                ok = True
            if ok:
                return df
        except Exception:
            # a failed conversion says nothing about the schema: fall
            # back for this call only (caching False here would turn
            # the fast path off for the whole session on one transient
            # error); only a failed schema check above is cached
            pass
    return spark.createDataFrame(pdf, schema)


def _paths_token(paths: tuple) -> tuple | None:
    """Staleness token: the directories' ``st_mtime_ns``.  A rewrite in
    place (resumed build, compaction) always creates/removes entries, so
    the dir mtime moves and the stale listing is abandoned.  Returns
    ``None`` (→ no caching) for paths the driver cannot stat (object
    stores, URIs) — correctness over speed there."""
    tok = []
    for p in paths:
        if "://" in p:
            return None
        try:
            tok.append(os.stat(p).st_mtime_ns)
        except OSError:
            return None
    return tuple(tok)


def cached_parquet(spark: SparkSession, key: tuple,
                   *paths: str) -> DataFrame:
    """Lazy parquet scan plan cached per (session, ``key``, dir mtimes).
    ``key`` pins the logical identity (e.g. the manifest's ``build_id``);
    the mtime token invalidates on any in-place rewrite.  Only the
    driver-side listing/schema work is reused — no rows are cached."""
    token = _paths_token(tuple(paths))
    if token is None:
        return spark.read.parquet(*paths)
    try:
        cache = getattr(spark, _SCAN_ATTR)
    except AttributeError:
        cache = {}
        try:
            setattr(spark, _SCAN_ATTR, cache)
        except AttributeError:
            return spark.read.parquet(*paths)
    full_key = (key, tuple(paths), token)
    df = cache.get(full_key)
    if df is None:
        df = spark.read.parquet(*paths)
        while len(cache) >= _SCAN_MAX:
            cache.pop(next(iter(cache)))
        cache[full_key] = df
    return df


def manifest_scan_key(manifest) -> tuple:
    """Identity key for an index's file set — immutable per build (same
    composite the term-stats and warm-postings caches key on, so legacy
    v1/v2 manifests without ``build_id`` stay safe via content stats)."""
    return (manifest.build_id or manifest.index_dir, manifest.doc_count,
            manifest.sum_total_term_freq)
