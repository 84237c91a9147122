"""Run the reference's own benchmark: wiki_subset + requests_phrase_nl.txt.

Protocol (``SearchWikiDPUMultiThread.java:120-245`` + ``IndexRAMDPU.java:
90-121``): one document per wiki article file, StandardAnalyzer over the
whole contents, every line of the query file as an exact phrase query
(slop 0), ``k`` top docs, throughput = queries / wall-second.  The
reference's CPU-vs-DPU identity check (``results_diff.py``) maps to the
indexed-path vs brute-force-scan differential here.

Writes ``BENCH_WIKI.json`` at the repo root and prints it.

Env: WIKI_TGZ (default: the reference tarball), WIKI_QUERIES,
SPARK_GRAFT_CPUS (default 8), WIKI_K (default 10), WIKI_DIFF_EVERY
(default 20 — every Nth query also runs the scan differential).
"""

from __future__ import annotations

import json
import os
import sys
import tarfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REF_BASE = "/root/reference/lucene/pim-benchmarks/exact_phrase"
WIKI_TGZ = os.environ.get("WIKI_TGZ", f"{REF_BASE}/datasets/wiki_subset.tgz")
WIKI_QUERIES = os.environ.get("WIKI_QUERIES",
                              f"{REF_BASE}/queries/requests_phrase_nl.txt")
EXTRACT_DIR = "/tmp/pim_wiki"
INDEX_DIR = "/tmp/pim_wiki_index"


def extract_wiki(tgz: str = WIKI_TGZ, dest: str = EXTRACT_DIR) -> str:
    """Extract the article files once; returns the article directory."""
    name = os.path.basename(tgz).removesuffix(".tgz")
    out = os.path.join(dest, name)
    if not os.path.isdir(out) or not os.listdir(out):
        os.makedirs(dest, exist_ok=True)
        with tarfile.open(tgz) as tf:
            tf.extractall(dest, filter="data")
    return out


def load_queries(path: str = WIKI_QUERIES) -> list[tuple[int, str]]:
    with open(path, encoding="utf-8") as fh:
        lines = [ln.strip() for ln in fh]
    return [(i, ln) for i, ln in enumerate(lines) if ln]


def wiki_docs(spark, article_dir: str):
    """Canonical doc frame with dense ids ordered by article path."""
    from pim_lucene_spark.operators.index_build import assign_doc_ids
    from pim_lucene_spark.sources.readers import read_corpus
    df = read_corpus(spark, article_dir, format="wholetext")
    return assign_doc_ids(df, ["path"]).select("doc_id", "path", "content")


def main() -> None:
    from pyspark.sql import SparkSession

    from pim_lucene_spark import IndexConfig
    from pim_lucene_spark.operators.index_build import build_index
    from pim_lucene_spark.operators.search import search
    from pim_lucene_spark.plans.router import brute_force_search

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    # index layout is a DATA property: keep it fixed across parallelism
    # levels so a two-level scaling comparison varies only the compute
    parts = int(os.environ.get("WIKI_PARTITIONS", str(cpus)))
    k = int(os.environ.get("WIKI_K", "10"))
    diff_every = int(os.environ.get("WIKI_DIFF_EVERY", "20"))
    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .config("spark.sql.shuffle.partitions", str(cpus * 2))
             .config("spark.driver.memory", "8g")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    article_dir = extract_wiki()
    queries = load_queries()
    docs = wiki_docs(spark, article_dir).persist()
    n_docs = docs.count()

    import shutil
    shutil.rmtree(INDEX_DIR, ignore_errors=True)
    cfg = IndexConfig(num_partitions=parts, num_segments=4, build_chunks=1,
                      tokenizer="standard")
    t0 = time.time()
    manifest = build_index(spark, docs, INDEX_DIR, cfg,
                           content_col="content", id_col="doc_id",
                           source=article_dir)
    build_s = time.time() - t0

    # warm one tiny query (JVM/Arrow spin-up is not part of the protocol's
    # steady-state throughput; the reference reuses a live searcher)
    search(spark, manifest, [(10**6, "the")], k=1).collect()

    t0 = time.time()
    res = search(spark, manifest, queries, k=k)
    rows = res.collect()
    batch_s = time.time() - t0
    qps = len(queries) / batch_s

    # the reference's default NB_TOPDOCS is 100 (Makefile:11) — record it
    t0 = time.time()
    search(spark, manifest, queries, k=100).count()
    k100_s = time.time() - t0

    # serving path (the protocol-faithful route: the reference queries an
    # index RESIDENT in accelerator memory) — warm batch throughput
    from pim_lucene_spark.operators.search import search_local
    search_local(manifest, queries[:20], k=k)  # warm residency caches
    t0 = time.time()
    local_rows = search_local(manifest, queries, k=k)
    local_s = time.time() - t0

    # sharded serving: W resident worker processes, the analogue of the
    # reference's multithreaded searcher over loaded ranks.  Replica mode
    # round-robins whole batches (throughput); shard mode splits pids
    # (latency / residency).  Same query stream, batched.
    from pim_lucene_spark.serving import ShardedServer
    workers = int(os.environ.get("WIKI_SERVE_WORKERS", "8"))
    bsz = int(os.environ.get("WIKI_SERVE_BATCH", "64"))
    batches = [queries[i:i + bsz] for i in range(0, len(queries), bsz)]
    serve = {}
    for mode in ("replica", "shard"):
        with ShardedServer(manifest, num_workers=workers, mode=mode) as srv:
            srv.map(batches[:workers], k=k)  # warm EVERY worker's residency
            t0 = time.time()
            srv.map(batches, k=k)
            serve[mode] = time.time() - t0

    # differential: every Nth query also runs the brute-force scan; ranks
    # and float32 scores must be identical (results_diff.py analogue)
    import numpy as np

    def rank_diff(a_rows, b_rows, qids) -> int:
        a_by, b_by = {}, {}
        for r in a_rows:
            a_by.setdefault(r["qid"], []).append((r["doc_id"], r["score"]))
        for r in b_rows:
            b_by.setdefault(r["qid"], []).append((r["doc_id"], r["score"]))
        n = 0
        for qid in qids:
            a = sorted(a_by.get(qid, []), key=lambda t: (-t[1], t[0]))
            b = sorted(b_by.get(qid, []), key=lambda t: (-t[1], t[0]))
            if [d for d, _ in a] != [d for d, _ in b] or any(
                    np.float32(x) != np.float32(y)
                    for (_, x), (_, y) in zip(a, b)):
                n += 1
        return n

    sample = queries[::diff_every]
    scan = brute_force_search(docs, sample, k=k, tokenizer="standard")
    mismatches = rank_diff(rows, scan.collect(), [q for q, _ in sample])

    # --- mixed query-set replay (requests.txt, 2445 variable-length
    # lines + the one-word subset): the reference harness turns EVERY
    # line into a PhraseQuery (SearchWikiDPUMultiThread.java:219-226) —
    # single words are 1-term phrases, i.e. term queries in this engine
    mixed_path = os.environ.get(
        "WIKI_MIXED_QUERIES", f"{REF_BASE}/queries/requests.txt")
    oneword_path = os.environ.get(
        "WIKI_ONEWORD_QUERIES",
        f"{REF_BASE}/queries/requests_subset_one_word.txt")
    base = 10_000
    mixed = [(base + i, t) for i, (_, t) in
             enumerate(load_queries(mixed_path))]
    mixed += [(base + len(mixed) + i, t) for i, (_, t) in
              enumerate(load_queries(oneword_path))]
    t0 = time.time()
    mixed_rows = search(spark, manifest, mixed, k=k).collect()
    mixed_s = time.time() - t0
    mixed_every = max(1, len(mixed) // 60)  # ≥50 sampled differentials
    msample = mixed[::mixed_every]
    mscan = brute_force_search(docs, msample, k=k, tokenizer="standard")
    mixed_mm = rank_diff(mixed_rows, mscan.collect(),
                         [q for q, _ in msample])

    # --- remaining reference query files (protocol completeness):
    # requests_subset.txt (195 phrases) + requests_one_word.txt +
    # requests_one_phrase.txt, replayed as exact phrases with a FULL
    # every-query scan differential (small enough to check all of them)
    sub = []
    for pth in ("requests_subset.txt", "requests_one_word.txt",
                "requests_one_phrase.txt"):
        p = os.path.join(REF_BASE, "queries", pth)
        sub += [(20_000 + len(sub) + i, t)
                for i, (_, t) in enumerate(load_queries(p))]
    t0 = time.time()
    sub_rows = search(spark, manifest, sub, k=k).collect()
    sub_s = time.time() - t0
    sscan = brute_force_search(docs, sub, k=k, tokenizer="standard")
    sub_mm = rank_diff(sub_rows, sscan.collect(), [q for q, _ in sub])

    # --- parsed replay: the same mixed lines through the classic query
    # parser (multi-word line → OR boolean of terms → the compound
    # kernel; one word → term query); a sample is checked against
    # resident serving below.
    from pim_lucene_spark.index import FullTextIndex
    from pim_lucene_spark.plans.parser import parse_query

    idx = FullTextIndex(spark, manifest)
    pq = []
    for qid, t in mixed:
        s = " ".join(t.split())
        if not s:
            continue
        try:  # raw wiki word streams may trip query syntax (rare)
            parse_query(s)
        except ValueError:
            continue
        pq.append((qid, s))
    t0 = time.time()
    parsed_rows = idx.parse_and_query(pq, k=k).collect()
    parsed_s = time.time() - t0
    psample = pq[::mixed_every]

    # --- resident serving of the parsed mixed batch: typed queries
    # (term + boolean) through the sharded server's compound serving
    # kernel — no Spark job per batch
    typed_all = [(qid, parse_query(s)) for qid, s in pq]
    tb = [typed_all[i:i + bsz] for i in range(0, len(typed_all), bsz)]
    with ShardedServer(manifest, num_workers=workers,
                       mode="replica") as srv:
        srv.map(tb[:workers], k=k)  # warm EVERY worker's residency
        t0 = time.time()
        served = srv.map(tb, k=k)
        serve_parsed_s = time.time() - t0
    # sampled identity vs the distributed parsed run
    served_rows = [
        {"qid": int(r.qid), "doc_id": int(r.doc_id),
         "score": float(r.score)}
        for b in served for r in b.itertuples(index=False)]
    serve_mm = rank_diff(served_rows,
                         [r for r in parsed_rows
                          if r["qid"] in {q for q, _ in psample}],
                         [q for q, _ in psample])

    # --- fuzzy-in-boolean replay (round 5): every Nth mixed line gets
    # its first >=4-char word rewritten to word~1 — the query shapes the
    # reference's mixed sets produce with typos.  Serving (resident
    # term-dictionary expansion, no Spark job) must match the
    # distributed kernel rank+float32 exactly.
    fuzz_src = pq[::max(1, len(pq) // 400)]
    fq = []
    for qid, s in fuzz_src:
        ws = s.split()
        for j, w in enumerate(ws):
            if len(w) >= 4 and w.isalpha():
                ws = ws[:j] + [w + "~1"] + ws[j + 1:]
                fq.append((qid + 500_000, " ".join(ws)))
                break
    typed_fuzzy = [(qid, parse_query(s)) for qid, s in fq]
    t0 = time.time()
    fdist = idx.parse_and_query(fq, k=k).collect()
    fuzzy_dist_s = time.time() - t0
    fb = [typed_fuzzy[i:i + bsz] for i in range(0, len(typed_fuzzy), bsz)]
    with ShardedServer(manifest, num_workers=workers,
                       mode="replica") as srv:
        srv.map(fb[:workers], k=k)
        t0 = time.time()
        fserved = srv.map(fb, k=k)
        fuzzy_serve_s = time.time() - t0
    fserved_rows = [
        {"qid": int(r.qid), "doc_id": int(r.doc_id),
         "score": float(r.score)}
        for b in fserved for r in b.itertuples(index=False)]
    fuzzy_mm = rank_diff(fserved_rows, fdist, [q for q, _ in fq])

    out = {
        "metric": "wiki_subset reference benchmark (standard analyzer)",
        "n_docs": n_docs,
        "n_queries": len(queries),
        "k": k,
        "build_sec": round(build_s, 3),
        "batch_sec": round(batch_s, 3),
        "qps": round(qps, 2),
        "qps_k100": round(len(queries) / k100_s, 2),
        "qps_serving_path": round(len(queries) / local_s, 2),
        "qps_serving_replica": round(len(queries) / serve["replica"], 2),
        "qps_serving_shard": round(len(queries) / serve["shard"], 2),
        "serve_workers": workers,
        "serve_batch": bsz,
        "diff_sampled": len(sample),
        "diff_mismatches": mismatches,
        "n_mixed": len(mixed),
        "qps_mixed": round(len(mixed) / mixed_s, 2),
        "mixed_diff_sampled": len(msample),
        "mixed_diff_mismatches": mixed_mm,
        "n_subset": len(sub),
        "qps_subset": round(len(sub) / sub_s, 2),
        "subset_diff_sampled": len(sub),
        "subset_diff_mismatches": sub_mm,
        "qps_parsed_boolean": round(len(pq) / parsed_s, 2),
        "parsed_diff_sampled": len(typed),
        "qps_parsed_serving_replica": round(len(typed_all)
                                            / serve_parsed_s, 2),
        "parsed_serving_diff_mismatches": serve_mm,
        "n_fuzzy": len(fq),
        "qps_fuzzy_distributed": round(len(fq) / fuzzy_dist_s, 2),
        "qps_fuzzy_serving_replica": round(len(fq) / fuzzy_serve_s, 2),
        "fuzzy_serving_diff_mismatches": fuzzy_mm,
        "cpus": cpus,
        "partitions": parts,
    }
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCH_WIKI.json"), "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out))
    docs.unpersist()


if __name__ == "__main__":
    main()
