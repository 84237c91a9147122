"""Sloppy-phrase plan-shape evidence: index-hosted kernel vs corpus scan.

Before round 5's closing item, every ``slop != 0`` query re-tokenized
the ENTIRE corpus per batch (``plans/router.py::brute_force_search``)
to recover token positions the index already stores; a sloppy clause
inside a boolean additionally shipped its full match set through the
exchange at ``k=10**9``.  ``search_sloppy_kernel`` reads only the query
terms' postings (Parquet ``term IN`` pushdown), intersects per
partition, and runs the exact Lucene ``SloppyPhraseMatcher`` over the
stored position streams — per-partition top-k out.

This script measures BOTH paths on a ``generate_corpus`` code corpus
(default 500k docs) and asserts the results identical:

- ``wall_kernel_sec`` / ``wall_scan_sec``: best-of-REPS wall for the
  same mixed sloppy batch (standalone queries);
- ``wall_bool_kernel_sec`` / ``wall_bool_join_sec``: booleans with a
  sloppy SHOULD clause, kernel vs join plan;
- ``mismatches``: rows differing between the two paths (must be 0).

Writes ``BENCH_SLOPPY.json`` at the repo root.  Run QUIET (the host
has ~2x run-to-run noise).  Env: SLOPPY_DOCS (500000),
SPARK_GRAFT_CPUS (8), SLOPPY_REPS (2).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WORK = "/dev/shm/pim_bench" if os.path.isdir("/dev/shm") else "/tmp/pim_bench"
N_DOCS = int(os.environ.get("SLOPPY_DOCS", "500000"))
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
REPS = int(os.environ.get("SLOPPY_REPS", "2"))
K = 10

# code-corpus phrases (generate_corpus vocab): mixed slops incl. exact,
# repeated terms, and a hot-term sloppy pair (the old scan's worst case)
SLOPPY_QUERIES = [(0, "def self"), (1, "class def"), (2, "return return"),
                  (3, "import os sys"), (4, "for if"), (5, "while def")]
SLOPS = {0: 2, 1: 1, 2: 3, 3: 2, 4: 0, 5: 4}

BOOL_SPECS = [
    {"must": ["class"], "should_sloppy": [("def self", 2)]},
    {"must": ["while"], "should_sloppy": [("return import", 3)]},
]


def main() -> None:
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master(f"local[{CPUS}]")
             .appName("bench_sloppy")
             .config("spark.sql.shuffle.partitions", str(max(CPUS, 8)))
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.ui.enabled", "false")
             .config("spark.driver.memory",
                     os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    from pim_lucene_spark import IndexConfig
    from pim_lucene_spark.corpus import generate_corpus
    from pim_lucene_spark.manifest import IndexManifest
    from pim_lucene_spark.operators.index_build import build_index
    from pim_lucene_spark.plans.boolean import BooleanQuery, search_boolean
    from pim_lucene_spark.plans.compound import search_sloppy_kernel
    from pim_lucene_spark.plans.query import PhraseQuery
    from pim_lucene_spark.plans.router import brute_force_search

    corpus_dir = f"{WORK}/corpus_{N_DOCS}"
    if not os.path.exists(corpus_dir):
        generate_corpus(spark, N_DOCS, num_partitions=max(CPUS, 8)) \
            .write.mode("overwrite").parquet(corpus_dir)
    docs = spark.read.parquet(corpus_dir)

    index_dir = f"{WORK}/idx_sloppy_{N_DOCS}"
    if os.path.exists(os.path.join(index_dir, "manifest.json")):
        manifest = IndexManifest.load(index_dir)
    else:
        shutil.rmtree(index_dir, ignore_errors=True)
        cfg = IndexConfig(num_partitions=max(CPUS, 8), num_segments=4,
                          build_chunks=1)
        manifest = build_index(spark, docs, index_dir, cfg,
                               content_col="content", id_col="doc_id",
                               source=corpus_dir)

    def best(fn) -> float:
        t_best = float("inf")
        for _ in range(REPS):
            t = time.time()
            fn()
            t_best = min(t_best, time.time() - t)
        return t_best

    # --- standalone sloppy batch: kernel vs scan ---------------------------
    kern = (search_sloppy_kernel(spark, manifest, SLOPPY_QUERIES, k=K,
                                 slop=SLOPS).toPandas()
            .sort_values(["qid", "score", "doc_id"],
                         ascending=[True, False, True])
            .reset_index(drop=True))
    scan = (brute_force_search(docs, SLOPPY_QUERIES, k=K, slop=SLOPS)
            .toPandas()
            .sort_values(["qid", "score", "doc_id"],
                         ascending=[True, False, True])
            .reset_index(drop=True))
    mism = int((kern[["qid", "doc_id"]].values
                != scan[["qid", "doc_id"]].values).any(axis=1).sum()) \
        if len(kern) == len(scan) else -1
    sc_mism = int((kern["score"].values != scan["score"].values).sum()) \
        if len(kern) == len(scan) else -1

    t_kernel = best(lambda: search_sloppy_kernel(
        spark, manifest, SLOPPY_QUERIES, k=K, slop=SLOPS).collect())
    t_scan = best(lambda: brute_force_search(
        docs, SLOPPY_QUERIES, k=K, slop=SLOPS).collect())

    # --- sloppy-in-boolean on the compound kernel --------------------------
    bqs = []
    for i, s in enumerate(BOOL_SPECS):
        should = [PhraseQuery(t, slop=sl) for t, sl in s["should_sloppy"]]
        bqs.append((200 + i, BooleanQuery(must=s["must"], should=should)))
    t_bk = best(lambda: search_boolean(spark, manifest, bqs, k=K).collect())

    out = {
        "docs": int(N_DOCS),
        "k": K,
        "queries": len(SLOPPY_QUERIES),
        "wall_kernel_sec": round(t_kernel, 3),
        "wall_scan_sec": round(t_scan, 3),
        "speedup": round(t_scan / t_kernel, 2),
        "bool_queries": len(bqs),
        "wall_bool_kernel_sec": round(t_bk, 3),
        "mismatches": mism,
        "score_mismatches": sc_mism,
        "reps": REPS,
        "cpus": CPUS,
    }
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCH_SLOPPY.json"), "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
