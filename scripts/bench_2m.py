"""2M-doc scale-up evidence (round-5 VERDICT item 7): the round-4/5
features — in-kernel compound composition, delete vectors, resident
serving, multi-round bound sync — exercised well past the toy scale
factor on the quiet protocol.

Reuses the 2M corpus + the local[8]-built index that ``bench_scaling``
leaves behind under ``SPARK_GRAFT_KEEP_IDX=1`` (or builds them).
Writes ``BENCH_2M.json`` at the repo root.

Run QUIET (nothing else on the VM): the host has ~2x run-to-run noise.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WORK = "/dev/shm/pim_bench" if os.path.isdir("/dev/shm") else "/tmp/pim_bench"
N_DOCS = int(os.environ.get("SPARK_GRAFT_SCALE_DOCS", "2000000"))
CORPUS = f"{WORK}/corpus_{N_DOCS}"
INDEX = os.environ.get("BENCH2M_INDEX", f"{WORK}/idx_8")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
K = 10
REPS = int(os.environ.get("BENCH2M_REPS", "2"))

BOOL_SPECS = [
    {"must": ["class"], "should": ["def", "self"]},
    {"must": ["while"], "should": ["def"]},
    {"should": ["def", "return", "class"]},
    {"must": ["for", "if"], "should": ["def", "import"]},
]
DISMAX_SPECS = [
    {"clauses": ["def", "import return"], "tie": 0.3},
    {"clauses": ["def self", "def", "class"], "tie": 0.1},
]


def main() -> None:
    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.master(f"local[{CPUS}]")
             .config("spark.sql.shuffle.partitions", "64")
             .config("spark.driver.memory", "24g")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    from pim_lucene_spark import IndexConfig
    from pim_lucene_spark.corpus import generate_corpus
    from pim_lucene_spark.manifest import IndexManifest
    from pim_lucene_spark.operators.deletes import write_deletes
    from pim_lucene_spark.operators.index_build import build_index
    from pim_lucene_spark.operators.search import search
    from pim_lucene_spark.plans.boolean import BooleanQuery, search_boolean
    from pim_lucene_spark.plans.compound import _SpecBuilder, eval_compound
    from pim_lucene_spark.plans.dismax import DisMaxQuery, search_dismax
    from pim_lucene_spark.serving import ShardedServer

    if not os.path.exists(os.path.join(CORPUS, "_SUCCESS")):
        generate_corpus(spark, N_DOCS, num_partitions=64) \
            .write.mode("overwrite").parquet(CORPUS)
    out: dict = {"metric": "2M-doc scale-up evidence", "n_docs": N_DOCS,
                 "cpus": CPUS}
    if os.path.exists(os.path.join(INDEX, "manifest.json")):
        manifest = IndexManifest.load(INDEX)
        out["index"] = "reused from bench_scaling"
    else:
        docs = spark.read.parquet(CORPUS)
        t0 = time.time()
        manifest = build_index(
            spark, docs, INDEX,
            IndexConfig(num_partitions=64, num_segments=8, build_chunks=1),
            content_col="content", id_col="doc_id", source=CORPUS)
        out["build_sec"] = round(time.time() - t0, 2)

    bqs = [(i, BooleanQuery(**s)) for i, s in enumerate(BOOL_SPECS)]
    dqs = [(100 + i, DisMaxQuery(**s)) for i, s in enumerate(DISMAX_SPECS)]

    # --- compound: kernel vs join rows + wall ------------------------------
    clause_batch, sid = [], 0
    for spec in BOOL_SPECS + [{"must": s["clauses"]} for s in DISMAX_SPECS]:
        for role in ("must", "should", "filter"):
            for text in spec.get(role, []):
                clause_batch.append((sid, text))
                sid += 1
    t0 = time.time()
    clause_rows = search(spark, manifest, clause_batch, k=10 ** 9).count()
    out["join_clause_frame_rows"] = int(clause_rows)
    b = _SpecBuilder(spark, {"": manifest}, "")
    specs = [b.bool_spec(qid, q, "") for qid, q in bqs] + \
            [b.dismax_spec(qid, q, "") for qid, q in dqs]
    out["kernel_shuffle_rows"] = int(
        eval_compound(spark, {"": manifest}, specs, b.leaves, K,
                      "float32", return_partial=True).count())
    out["row_reduction"] = round(out["join_clause_frame_rows"]
                                 / max(out["kernel_shuffle_rows"], 1), 1)

    def best(fn):
        w = []
        for _ in range(REPS):
            t0 = time.time()
            fn()
            w.append(time.time() - t0)
        return round(min(w), 3)

    out["kernel_wall_sec"] = best(
        lambda: (search_boolean(spark, manifest, bqs, k=K).count(),
                 search_dismax(spark, manifest, dqs, k=K).count()))

    # --- multi-round bound sync vs single pass on hot terms ----------------
    hot = [(200 + i, t) for i, t in enumerate(
        ["def", "import", "return", "self", "class"])]
    out["hot_single_pass_sec"] = best(
        lambda: search(spark, manifest, hot, k=K).count())
    out["hot_bound_sync_sec"] = best(
        lambda: search(spark, manifest, hot, k=K, bound_probe="sync",
                       sync_budget0=8192).count())

    # --- delete lifecycle at 2M --------------------------------------------
    n_del = N_DOCS // 100
    t0 = time.time()
    manifest = write_deletes(spark, manifest,
                             spark.range(0, n_del * 100, 100)
                             .withColumnRenamed("id", "doc_id"))
    out["delete_write_sec"] = round(time.time() - t0, 3)
    out["deleted_count"] = manifest.deleted_count
    t0 = time.time()
    post = search_boolean(spark, manifest, bqs, k=K).toPandas()
    out["query_after_delete_sec"] = round(time.time() - t0, 3)
    assert not (post.doc_id % 100 == 0).any() or \
        (post.doc_id[post.doc_id % 100 == 0] >= n_del * 100).all()

    # --- resident serving sweep at 2M --------------------------------------
    qbatch = [(300 + i, t) for i, t in enumerate(
        ["def run", "import os", "class v7", "return self", "while True",
         "def main", "for x", "if not"] * 25)]
    bsz = 50
    batches = [qbatch[i:i + bsz] for i in range(0, len(qbatch), bsz)]
    sweep = {}
    for w in (1, 2, 4, 8):
        with ShardedServer(manifest, num_workers=w, mode="shard") as srv:
            srv.map(batches[:w], k=K)
            t0 = time.time()
            srv.map(batches, k=K)
            sweep[str(w)] = round(len(qbatch) / (time.time() - t0), 2)
    out["serving_shard_qps_by_workers"] = sweep
    out["serving_shard_eff_1_to_8"] = round(
        (sweep["8"] / sweep["1"]) / 8, 3)

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCH_2M.json"), "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
