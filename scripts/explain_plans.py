#!/usr/bin/env python
"""Print the physical plans of the engine's core jobs — the evidence that
the declarative parts stay inside Catalyst's optimizations:

- postings scan for a query: ``PushedFilters: [..., In(term, [...])]`` and
  a pruned ``ReadSchema`` (no blob columns for the stats lookup);
- term-stats aggregate: partial (map-side) aggregation + WholeStageCodegen
  spans around the exchange;
- search plan (the file plan): no exchange and no Parquet scan node —
  each task reads its pids' postings and norms files inside the kernel;
- zero-shuffle simhash: no Exchange at all.

Usage: PYTHONPATH=. python scripts/explain_plans.py [index_dir]
(builds a throwaway index over sf0.001 documents if no dir given).
"""

from __future__ import annotations

import os
import shutil
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
# python workers import the package too — propagate before the session
os.environ["PYTHONPATH"] = (_REPO + os.pathsep
                            + os.environ.get("PYTHONPATH", ""))


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (SparkSession.builder.master("local[4]")
             .appName("pim_explain")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    from pim_lucene_spark import IndexConfig
    from pim_lucene_spark.manifest import IndexManifest
    from pim_lucene_spark.operators.index_build import build_index

    if len(sys.argv) > 1:
        manifest = IndexManifest.load(sys.argv[1])
    else:
        docs = (spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet")
            .withColumnRenamed("text", "content"))
        shutil.rmtree("/tmp/pim_explain_idx", ignore_errors=True)
        manifest = build_index(spark, docs, "/tmp/pim_explain_idx",
                               IndexConfig(8, 4, build_chunks=1),
                               id_col="doc_id")

    postings = spark.read.parquet(*[manifest.chunk_path(c)
                                    for c in range(manifest.build_chunks)])

    print("=" * 72)
    print("1. postings scan with query-term pushdown (Q7 term lookup)")
    print("=" * 72)
    (postings.filter(F.col("term").isin(["merge", "batch", "fast"]))
     .select("pid", "term", "stripe", "df")
     .explain("formatted"))

    print("=" * 72)
    print("2. term-stats aggregate (Q2) — partial agg + codegen")
    print("=" * 72)
    (postings.groupBy("term")
     .agg(F.sum("df").alias("doc_freq"), F.sum("ttf").alias("total_tf"))
     .explain("formatted"))

    print("=" * 72)
    print("3. stats lookup reads NO blob columns (column pruning)")
    print("=" * 72)
    (spark.read.parquet(manifest.stats_path)
     .filter(F.col("term").isin(["merge"]))
     .explain("formatted"))

    print("=" * 72)
    print("4. search (file plan) — norms read inside the kernel, no scan")
    print("=" * 72)
    from pim_lucene_spark.operators.search import search
    search(spark, manifest, [(0, "the fast"), (1, "merge")],
           k=10).explain("formatted")

    print("=" * 72)
    print("5. simhash — pure map stage, zero Exchange")
    print("=" * 72)
    from pim_lucene_spark.operators.dedup import simhash
    docs = spark.read.parquet(manifest.docs_path)
    simhash(docs).explain("formatted")

    print("=" * 72)
    print("6. multiterm expansion — StartsWith pushdown reaches the "
          "dictionary scan")
    print("=" * 72)
    from pim_lucene_spark.plans.multiterm import (PrefixQuery,
                                                  WildcardQuery,
                                                  expand_frame)
    expand_frame(spark, manifest, PrefixQuery("me")).explain("formatted")
    # wildcard: literal prefix pushes down, regex evaluates JVM-side
    expand_frame(spark, manifest, WildcardQuery("ba*h")).explain("formatted")


if __name__ == "__main__":
    main()
