#!/usr/bin/env python
"""Capture .explain('formatted') for the bench queries' distributed plans.

Usage: PYTHONPATH=<tree> python scripts/explain_r07.py <out_dir> <suffix>

Builds a throwaway sf0.1 index with the bench's exact config, then writes
<out_dir>/<query>_<suffix>.txt for each headline query.  The captured
frame is search(..., final_merge='window') — the same scan + kernel
sub-plan the bench's driver-merge path executes, plus the final rank
window (the driver-merge variant collects per_part directly, so the
window node is the only difference).
"""

from __future__ import annotations

import os
import shutil
import sys

out_dir, suffix = sys.argv[1], sys.argv[2]
os.makedirs(out_dir, exist_ok=True)


def main() -> None:
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master("local[32]")
             .appName("explain_r07")
             .config("spark.sql.shuffle.partitions", "32")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    from pim_lucene_spark import IndexConfig
    from pim_lucene_spark.operators.index_build import build_index
    from pim_lucene_spark.operators import search as S
    from pim_lucene_spark.operators.search import search

    docs = (spark.read.parquet("/root/testdata/sf0.1/documents.parquet")
            .withColumnRenamed("text", "content"))
    idx = f"/tmp/pim_explain_r07_{suffix}"
    shutil.rmtree(idx, ignore_errors=True)
    manifest = build_index(spark, docs, idx,
                           IndexConfig(num_partitions=32, num_segments=4,
                                       build_chunks=1),
                           content_col="content", id_col="doc_id")

    BATCH20 = [(i, q) for i, q in enumerate([
        "the fast", "key order", "sort table", "scan merge", "part window",
        "small hash", "join order", "batch batch", "stream spark",
        "window dup", "merge", "vector", "customer line", "group query row",
        "data slow", "filter customer", "value merge", "agg line",
        "big merge", "spark table"])]
    captures = {
        "q_term_hot": [(0, "the")],
        "q_phrase2": [(0, "the fast")],
        "q_phrase4": [(0, "table scan merge part")],
        "q_batch20": BATCH20,
    }
    def _capture(df) -> str:
        return df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted"))

    for name, qs in captures.items():
        # the plan the call actually executes (singles under the r7
        # size gate come back as a driver-merged LocalRelation; the
        # batch exceeds the gate and keeps the distributed plan)
        plan = _capture(search(spark, manifest, qs, k=10,
                               final_merge="window"))
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(plan)
        # the distributed plan used above the size gate (forced)
        prev = S._LOCAL_ROUTE_POSTINGS
        S._LOCAL_ROUTE_POSTINGS = 0
        try:
            plan = _capture(search(spark, manifest, qs, k=10,
                                   final_merge="window"))
        finally:
            S._LOCAL_ROUTE_POSTINGS = prev
        with open(os.path.join(out_dir,
                               f"{name}_{suffix}_dist.txt"), "w") as f:
            f.write(plan)
        print("wrote", name, suffix)
    shutil.rmtree(idx, ignore_errors=True)


if __name__ == "__main__":
    main()
