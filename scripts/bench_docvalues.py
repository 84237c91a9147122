"""Doc-values plan-shape evidence: kernel sort/collapse/ranges vs naive.

A naive field-sort plan ships EVERY matching (doc, value) row through
the exchange into a global rank window; the kernel sort mode ships at
most P·k rows per query because each partition pre-cuts by (value, doc)
against the resident sidecar.  Same story for collapse (per-group heads
only) and range facets (per-range counts only).  This script measures
on stopword-heavy queries (``the`` matches nearly every synthetic doc):

- ``match_rows``: the per-query match volume a naive plan exchanges;
- ``sort_kernel_rows`` / ``collapse_kernel_rows`` / ``range_kernel_rows``:
  what each kernel mode actually exchanges;
- wall-clock naive-sort vs kernel-sort (best of REPS).

Writes ``BENCH_DOCVALUES.json`` at the repo root.
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (32), DV_REPS (3).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
REPS = int(os.environ.get("DV_REPS", "3"))
K = 10

# DV_VOCAB=code swaps in the source-code corpus' hot keywords (the
# 500k-doc scaling corpus: "def"/"import" play the stopword role)
if os.environ.get("DV_VOCAB") == "code":
    QUERIES = [(0, "def"), (1, "class"), (2, "def self"), (3, "while")]
else:
    QUERIES = [(0, "the"), (1, "merge"), (2, "the fast"), (3, "table")]
RANGES = [("xs", 0, 150), ("s", 150, 250), ("m", 200, 400),
          ("l", 400, 700)]


def main() -> None:
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    spark = (SparkSession.builder.master(f"local[{CPUS}]")
             .appName("bench_docvalues")
             .config("spark.sql.shuffle.partitions", str(CPUS))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.ui.enabled", "false")
             .config("spark.driver.memory",
                     os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    from pim_lucene_spark import IndexConfig
    from pim_lucene_spark.operators.docvalues import (
        RANGE_KERNEL_SCHEMA, SORT_RESULT_SCHEMA, build_numeric_docvalues,
        collapse_topk, dv_dir, facet_ranges, sort_by_field)
    from pim_lucene_spark.operators.facets import (build_facet_index,
                                                   facet_dir)
    from pim_lucene_spark.operators.index_build import build_index
    from pim_lucene_spark.operators.search import search
    from pim_lucene_spark.plans.compound import eval_aggregate

    src = os.path.join(SF_DIR, "documents.parquet")
    if not os.path.exists(src):
        src = SF_DIR
    docs = spark.read.parquet(src)
    if "text" in docs.columns:
        docs = docs.withColumnRenamed("text", "content")
    has_meta = "n_chars" in docs.columns and "source" in docs.columns
    if not has_meta:  # bare scaling corpus: derive a value + a dim
        docs = (docs.withColumn("n_chars", F.length("content"))
                .withColumn("source",
                            F.concat(F.lit("src"),
                                     F.pmod(F.col("doc_id"), F.lit(20)))))
    index_dir = f"/tmp/pim_dv_bench_{os.getpid()}"
    shutil.rmtree(index_dir, ignore_errors=True)
    cfg = IndexConfig(num_partitions=max(CPUS, 8), num_segments=4,
                      build_chunks=1)
    manifest = build_index(spark, docs, index_dir, cfg,
                           content_col="content", id_col="doc_id",
                           source=SF_DIR)
    dims = docs.select("doc_id", "n_chars", "source")
    build_numeric_docvalues(spark, manifest, "n_chars",
                            dims=dims.select("doc_id", "n_chars"))
    build_facet_index(spark, manifest, "source",
                      dims=dims.select("doc_id", "source"))

    # --- row accounting ------------------------------------------------
    match_rows = search(spark, manifest, QUERIES, k=10 ** 9).count()

    def kernel_rows(mode_key, mode_val, schema):
        from pim_lucene_spark.plans.boolean import BooleanQuery
        wrapped = [(qid, BooleanQuery(must=[q])) for qid, q in QUERIES]
        return eval_aggregate(spark, {"": manifest}, "", wrapped,
                              {mode_key: mode_val}, schema).count()

    sort_rows = kernel_rows(
        "sort", {"path": dv_dir(manifest, "n_chars"), "reverse": True,
                 "k": K}, SORT_RESULT_SCHEMA)
    from pim_lucene_spark.operators.docvalues import COLLAPSE_KERNEL_SCHEMA
    collapse_rows = kernel_rows(
        "collapse", {"path": facet_dir(manifest, "source")},
        COLLAPSE_KERNEL_SCHEMA)
    range_rows = kernel_rows(
        "ranges", {"path": dv_dir(manifest, "n_chars"),
                   "lo": [r[1] for r in RANGES],
                   "hi": [r[2] for r in RANGES]}, RANGE_KERNEL_SCHEMA)

    # --- wall-clock: kernel sort vs naive all-matches sort --------------
    dv_frame = dims.select("doc_id", "n_chars").cache()
    dv_frame.count()

    def naive_sort():
        hits = search(spark, manifest, QUERIES, k=10 ** 9)
        w = Window.partitionBy("qid").orderBy(F.desc("n_chars"),
                                              F.asc("doc_id"))
        (hits.join(dv_frame, "doc_id")
         .withColumn("rank", F.row_number().over(w))
         .filter(F.col("rank") <= K).drop("rank").collect())

    def kernel_sort():
        sort_by_field(spark, manifest, QUERIES, "n_chars", k=K,
                      reverse=True).collect()

    def best(fn) -> float:
        t_best = float("inf")
        for _ in range(REPS):
            t = time.time()
            fn()
            t_best = min(t_best, time.time() - t)
        return t_best

    t_kernel = best(kernel_sort)
    t_naive = best(naive_sort)
    t_collapse = best(lambda: collapse_topk(
        spark, manifest, QUERIES, "source", k=K).collect())
    t_ranges = best(lambda: facet_ranges(
        spark, manifest, QUERIES, "n_chars", RANGES).collect())

    out = {
        "sf_dir": SF_DIR,
        "docs": docs.count(),
        "k": K,
        "queries": len(QUERIES),
        "match_rows": int(match_rows),
        "sort_kernel_rows": int(sort_rows),
        "collapse_kernel_rows": int(collapse_rows),
        "range_kernel_rows": int(range_rows),
        "sort_row_reduction": round(match_rows / max(sort_rows, 1), 1),
        "wall_kernel_sort_sec": round(t_kernel, 3),
        "wall_naive_sort_sec": round(t_naive, 3),
        "sort_speedup": round(t_naive / t_kernel, 2),
        "wall_collapse_sec": round(t_collapse, 3),
        "wall_ranges_sec": round(t_ranges, 3),
        "reps": REPS,
        "cpus": CPUS,
    }
    shutil.rmtree(index_dir, ignore_errors=True)
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCH_DOCVALUES.json"), "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
