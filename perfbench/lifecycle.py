"""One benchmark run: ingest, then batch queries, then resident serving.

Every run drives the package's public API from this one process over
indexes it builds from seeded, generated corpora:

1. set-up: write the seeded corpora, start Spark, build the base and
   the delta index untimed (they absorb the first-job and JIT costs),
   then the base index twice more, timed;
2. ingest: ``merge_indexes(base, delta)``, then ``write_deletes`` of 1%
   of the merged ids in an untimed first call and three timed ones;
3. serve references: ``search()`` over every query the serve phase
   will send (this also runs the plain batch path before batch timing);
4. batch: timed calls of 48 term/phrase queries through
   ``search(..., final_merge="driver")`` plus 16 ``BooleanQuery`` through
   ``FullTextIndex.query`` on the merged, delete-applied index;
5. serve: the Spark session and its JVM stop, and a
   ``ShardedServer(mode="shard")`` answers one query per request from
   one closed-loop client: first a cold phase (each query touches only
   terms no earlier request touched) and a warm phase replaying one
   seeded shuffle of a pool that fits the postings cache, alternating
   in five windows, after a warm-up pass counted in ``setup_s``.

Each phase's results pass a correctness gate; a wrong result counts as
a failed operation.  With tracing on the same run wraps the program's
layers in spans and replays the serving requests in-process through
``serving.serve_local`` once per shard, because the server's workers are
forked and their spans would stay in them.
"""

from __future__ import annotations

import contextlib
import gc
import importlib
import os
import resource
import shutil
import statistics
import time

import numpy as np

from inputs import QueryGen, dir_bytes, digest, ranked_terms, sub_seed, \
    sum_df, write_corpus

# Per-run sizes.  They keep one run near a minute on a 4-vCPU host (the
# merge alone has a ~7 s job floor), which lets every run cover all
# three regimes.
SIZES = {
    "base_docs": 4_000, "delta_docs": 800,
    "vocab": 3_000, "min_tokens": 40, "max_tokens": 260,
    "corpus_files": 4, "partitions": 8, "segments": 4,
    "delete_frac": 0.01, "k": 10,
    "batch_plain": 48, "batch_bool": 16, "batch_distinct": 1,
    "batch_probe": 16, "batch_min_calls": 3,
    "cold": 60, "warm_pool": 240, "warm_passes": 1, "replay_warm": 100,
}
# Every phase in seconds, for the self-test.
TINY = dict(SIZES, base_docs=400, delta_docs=80, vocab=600,
            batch_plain=6, batch_bool=2, batch_probe=3,
            batch_min_calls=2, cold=6, warm_pool=20, replay_warm=20)
# Share of --seconds the batch phase gets (at least batch_min_calls calls)
BATCH_SHARE = 0.5
WINDOWS = 5   # the serve phase alternates cold and warm in this many windows
DELETE_CALLS = 3   # delete_cpu_s is the median of this many timed calls
BUILDS = 2   # build_docs_per_s is the median of this many base builds
BRINGUPS = 3   # server start-ups; setup_s takes the median
# Workloads: the serving phase's per-worker decoded-postings cache
# budget.  Both send the same seeded Zipf traffic, and their batch and
# ingest phases are the same.
#   cached:   ShardedServer's default 256 MB; the warm pool's decoded
#             postings fit, so warm requests decode nothing.
#   uncached: 0, search()'s default (no decode cache); every warm
#             request decodes its postings from the resident rows.
WORKLOADS = {"cached": 256, "uncached": 0}
RESULT_COLS = ["qid", "doc_id", "freq", "norm", "score"]
SERVE_COLS = RESULT_COLS[1:]   # one query per request: qid is the client's
BOOL_COLS = ["qid", "doc_id", "score"]
FLOAT_COLS = ("freq", "norm", "score")
QID_BLOCK = 1_000_000   # qid offset that keeps query sets apart in a batch

# Serving layers the traced replay wraps, as (module under
# pim_lucene_spark, attribute): wrapped where callers look them up.
SERVE_LAYERS = (
    ("serving", "serve_local"),
    ("serving", "ShardedServer._merge"),
    ("operators.search", "search_local"),
    ("operators.search", "plan_queries"),
    ("operators.search", "term_doc_freqs"),
    ("operators.search", "_local_rows"),
    ("operators.search", "_match_core_arrays"),
    ("operators.search", "decode_columnar"),
    ("operators.search", "decode_positions_slice"),
    ("functions.bm25", "score"),
)
READ_SPAN = "pyarrow.parquet.read_table"


def cores() -> int:
    return len(os.sched_getaffinity(0))


# --- correctness gates -----------------------------------------------------

def rows_key(df, cols) -> list:
    """``cols`` as arrays in (qid, score desc, doc_id asc) row order."""
    arr = {c: df[c].to_numpy(dtype=np.float64 if c in FLOAT_COLS
                             else np.int64) for c in cols}
    keys = [arr["doc_id"], -arr["score"]]
    if "qid" in arr:
        keys.append(arr["qid"])
    order = np.lexsort(keys)
    return [arr[c][order] for c in cols]


def same_keys(a: list, b: list) -> bool:
    """Row-for-row equality, floats compared exactly."""
    return all(x.shape == y.shape and np.array_equal(x, y)
               for x, y in zip(a, b))


def same_rows(got, ref, cols) -> bool:
    return same_keys(rows_key(got, cols), rows_key(ref, cols))


def rows_for(df, qids):
    return df[df["qid"].isin(list(qids))]


def no_deleted(df, deleted: set) -> bool:
    return not deleted.intersection(df["doc_id"].tolist())


def ingest_ok(merged, base, delta, deleted_count: int) -> bool:
    return (merged.doc_count == base.doc_count + delta.doc_count
            and merged.deleted_count == deleted_count)


# --- host and Spark --------------------------------------------------------

def start_spark(work: str, n_cores: int):
    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master(f"local[{n_cores}]")
             .appName("perfbench")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.driver.memory", "2g")
             .config("spark.sql.warehouse.dir",
                     os.path.join(work, "warehouse"))
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and end its JVM, so nothing competes with the
    serving phase and no process outlives the run."""
    from pyspark import SparkContext
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()   # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)


@contextlib.contextmanager
def job_group(spark, group: str):
    """Tag the jobs of the enclosed block; on exit the yielded dict holds
    their job, stage and task counts.  Jobs the program starts from its
    own threads do not inherit the group, so untagged jobs started
    inside the block count too."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, group)
    counts: dict = {}
    try:
        yield counts
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        ids = (set(tracker.getJobIdsForGroup(group))
               | (set(tracker.getJobIdsForGroup(None)) - before))
        stages = tasks = 0
        for j in ids:
            info = tracker.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                stages += 1
                si = tracker.getStageInfo(sid)
                tasks += si.numTasks if si else 0
        counts.update(jobs=len(ids), stages=stages, tasks=tasks)


def _proc_stats() -> dict:
    """``pid -> /proc/<pid>/stat`` fields after the command name, for
    every process still there."""
    stats = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stats[int(entry)] = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue   # the process ended while being read
    return stats


def descendants(stats: dict) -> list[int]:
    """Pids of this process's descendants in ``stats``."""
    kids: dict = {}
    for pid, fields in stats.items():
        kids.setdefault(int(fields[1]), []).append(pid)   # [1]: parent pid
    out, todo = [], list(kids.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def child_rss_mb() -> float:
    """Summed resident set of this process's descendants (the server's
    shard workers once the JVM has ended), from /proc."""
    total_kb = 0
    for pid in descendants(_proc_stats()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        total_kb += int(line.split()[1])
        except (OSError, ValueError, IndexError):
            continue   # the process ended while being read
    return total_kb / 1024.0


def tree_run_s() -> float:
    """Seconds this process's live descendants (the server's shard
    workers) have run on a CPU, to the nanosecond: the sum over their
    threads of ``/proc/<pid>/task/<tid>/schedstat``.  Clock-tick CPU
    times would move per-window figures in 10 ms steps.  Like those,
    this leaves out the time the host steals from the VM."""
    total = 0
    for pid in descendants(_proc_stats()):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/schedstat") as fh:
                    total += int(fh.read().split()[0])
            except (OSError, ValueError, IndexError):
                continue   # the thread ended while being read
    return total / 1e9


def tree_cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) used so far
    by this process and its descendants.  Stolen time does not count as
    CPU time, which keeps these figures steady when the host takes CPU
    from this VM."""
    stats = _proc_stats()
    # fields [11:15]: utime, stime, cutime, cstime
    total = sum(int(f) for pid in descendants(stats) + [os.getpid()]
                if pid in stats for f in stats[pid][11:15])
    return total / os.sysconf("SC_CLK_TCK")


def jit_thread_ns() -> dict:
    """``(pid, tid) -> ns`` run so far by each JIT compiler thread of
    the descendant JVMs (``/proc/<pid>/task/<tid>/schedstat``)."""
    stats = _proc_stats()
    out = {}
    for pid in descendants(stats):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() != "java":
                    continue
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                    if "CompilerThre" not in fh.read():
                        continue
                with open(f"/proc/{pid}/task/{tid}/schedstat") as fh:
                    out[(pid, tid)] = int(fh.read().split()[0])
            except (OSError, ValueError, IndexError):
                continue
    return out


class WorkCPU:
    """CPU seconds of this process and all its descendants (the Spark
    driver JVM, its Python workers) over a block, less the JVM's JIT
    compiler threads.  JIT compilation is the young JVM warming up, not
    the program's work; over one ``write_deletes`` call on a 4-vCPU VM
    it took 0.4 to 1.4 s of 3.3 to 4.5 s.  The compiler threads must not
    exit mid-block
    (``-XX:-UseDynamicNumberOfCompilerThreads``, set by ``run.py``), or
    their time would stay in the total."""

    def __enter__(self) -> "WorkCPU":
        self._cpu, self._jit = tree_cpu_s(), jit_thread_ns()
        return self

    def __exit__(self, *exc) -> None:
        jit = sum(ns - self._jit.get(key, 0)
                  for key, ns in jit_thread_ns().items())
        self.s = tree_cpu_s() - self._cpu - jit / 1e9


def steal_ticks() -> int:
    """CPU time the host stole from this VM so far (USER_HZ ticks); its
    growth over a run tells a noisy host from a slow program."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) if len(fields) > 8 else 0


# --- the run ---------------------------------------------------------------

class Run:
    def __init__(self, workload: str, seed: int, seconds: float,
                 trace: bool, root: str, sizes: dict = SIZES):
        self.workload = workload
        self.cache_mb = WORKLOADS[workload]
        self.seed = seed
        self.seconds = float(seconds)
        self.trace = trace
        self.root = root
        self.sizes = sizes
        self.work = os.path.join(root, ".perfbench", f"work-{os.getpid()}")
        self.n_cores = cores()
        self.tracer = None
        self.metrics: dict = {}
        self.layer: dict = {}
        self.info: dict = {"workload": workload, "seed": seed}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        # one (result, reference) pair per gate, kept for the self-test
        self.samples: dict = {}

    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(what)

    def e2e(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = {"value": float(value), "unit": unit}

    def wall(self, name: str, value: float) -> None:
        """A wall-time figure, reported in the info line and not gated:
        on a shared VM its spread over 10 seeds followed the host's CPU
        steal past 0.25 (see README.md, Steadiness)."""
        self.info.setdefault("wall", {})[name] = round(float(value), 4)

    def per_layer(self, name: str, value: float, unit: str) -> None:
        self.layer[name] = {"value": float(value), "unit": unit}

    def mark(self, name: str) -> None:
        """Record the wall time and the host's steal ticks since the
        previous mark under ``name``."""
        now, steal = time.perf_counter(), steal_ticks()
        self.info["phase_s"][name] = round(now - self._last, 2)
        self.info["phase_steal"][name] = steal - self._steal
        self._last, self._steal = now, steal

    def _jobs(self, spark, group: str):
        """Job counts of the enclosed block when tracing (their status
        queries stay out of untraced timings)."""
        if self.tracer is None:
            return contextlib.nullcontext({})
        return job_group(spark, group)

    def result_line(self) -> dict:
        return {"correct": self.failed == 0, "attempted": self.attempted,
                "failed": self.failed,
                "metrics": self.layer if self.trace else self.metrics}

    # -- run ------------------------------------------------------------
    def execute(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        try:
            self._execute()
        finally:
            shutil.rmtree(self.work, ignore_errors=True)

    def _execute(self) -> None:
        if self.trace:
            from spans import Tracer
            self.tracer = Tracer()
        steal0 = self._steal = steal_ticks()
        self.info["phase_s"], self.info["phase_steal"] = {}, {}
        t0 = self._last = time.perf_counter()
        mark = self.mark
        spark = start_spark(self.work, self.n_cores)
        session_s = time.perf_counter() - t0
        mark("spark_start")
        try:
            merged, build_s = self._ingest(spark)
            # the references' search() runs the plain batch path first,
            # so the batch warm-up needs only a boolean call
            refs = self._serve_refs(spark, merged)
            mark("serve_refs")
            self._batch(spark, merged)
        finally:
            stop_spark(spark)
        mark("spark_stop")
        # peak memory over ingest and batch (taken before the server
        # forks).  The metric is the Python front-end's peak only: the
        # Spark driver JVM's peak, its largest child, which stop_spark
        # has waited for, follows G1's pause-time heap sizing and moved
        # 1 260-1 640 MB over five seeds, so it is recorded in the info
        # line instead.
        self.e2e("driver_peak_rss_mb",
                 resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
                 "MB")
        self.info["driver_jvm_peak_rss_mb"] = round(resource.getrusage(
            resource.RUSAGE_CHILDREN).ru_maxrss / 1024, 1)
        if self.trace:
            self._serve_replay(merged, refs)
            self.tracer.dump(os.path.join(
                self.root, ".perfbench",
                f"spans-{self.workload}-{self.seed}.json"))
        else:
            bringup_s = self._serve(merged, refs)
            self.e2e("setup_s", session_s + build_s + bringup_s, "s")
        mark("serve")
        self.info["steal_ticks"] = steal_ticks() - steal0

    # -- ingest ---------------------------------------------------------
    def _ingest(self, spark):
        from pim_lucene_spark import IndexConfig
        from pim_lucene_spark.operators import deletes, index_build, merge
        z = self.sizes
        cfg = IndexConfig(num_partitions=z["partitions"],
                          num_segments=z["segments"], build_chunks=1)
        corpora = {kind: write_corpus(
            os.path.join(self.work, f"corpus-{kind}"), n,
            sub_seed(self.seed, f"corpus-{kind}"), z)
            for kind, n in (("base", z["base_docs"]),
                            ("delta", z["delta_docs"]))}
        self.info["corpus_digest"] = {k: v["digest"]
                                      for k, v in corpora.items()}
        self.mark("corpus")

        def build(kind, out=None):
            return index_build.build_index(
                spark, spark.read.parquet(corpora[kind]["path"]),
                os.path.join(self.work, out or f"index-{kind}"), cfg,
                id_col="doc_id")

        # untimed warm-ups: the first base build absorbs the first-job
        # and JIT costs, the delta build (needed for the merge) more of
        # them
        build("base", "index-base-warm")
        delta = build("delta")
        self.mark("warmups")
        tr = self.tracer
        if tr:
            tr.request = "ingest:0"
            tr.wrap(index_build, "build_index",
                    "operators.index_build.build_index")
            tr.wrap(merge, "merge_indexes", "operators.merge.merge_indexes")
            tr.wrap(deletes, "write_deletes",
                    "operators.deletes.write_deletes")

        # BUILDS timed builds of the same base corpus into fresh
        # directories
        build_times, build_cpu = [], []
        for i in range(BUILDS):
            with self._jobs(spark, f"ingest-build-{i}") as build_jobs:
                with WorkCPU() as cpu:
                    t = time.perf_counter()
                    base = build("base", f"index-base-{i}")
                    build_times.append(time.perf_counter() - t)
                build_cpu.append(cpu.s)
        build_s = statistics.median(build_times)
        with self._jobs(spark, "ingest-merge") as merge_jobs:
            with WorkCPU() as cpu:
                t = time.perf_counter()
                merged = merge.merge_indexes(
                    spark, [base, delta],
                    os.path.join(self.work, "index-merged"))
                merge_s = time.perf_counter() - t
            merge_cpu = cpu.s
        merged_bytes = dir_bytes(merged.index_dir)
        self.info["build_call_s"] = [round(x, 3) for x in build_times]
        self.info["build_cpu_s"] = [round(x, 2) for x in build_cpu]
        self.info["merge_cpu_s"] = round(merge_cpu, 2)
        self.mark("build_merge")

        import pyarrow.parquet as pq
        ids = np.sort(pq.read_table(merged.docs_path, columns=["doc_id"])
                      .column("doc_id").to_numpy())
        rng = np.random.default_rng(sub_seed(self.seed, "deletes"))
        victims = sorted(int(i) for i in rng.choice(
            ids, size=max(DELETE_CALLS + 1,
                          int(len(ids) * z["delete_frac"])),
            replace=False))
        # 1 + DELETE_CALLS calls, each deleting its share of the victims
        # (a later call also carries the earlier generations forward).
        # The first call is untimed: it pays the delete path's first-call
        # costs in this JVM.  delete_cpu_s is the median timed call
        parts = np.array_split(np.asarray(victims), DELETE_CALLS + 1)
        merged = deletes.write_deletes(spark, merged,
                                       [int(v) for v in parts[0]])
        delete_times, delete_cpu = [], []
        with self._jobs(spark, "ingest-delete") as delete_jobs:
            for part in parts[1:]:
                with WorkCPU() as cpu:
                    t = time.perf_counter()
                    merged = deletes.write_deletes(spark, merged,
                                                   [int(v) for v in part])
                    delete_times.append(time.perf_counter() - t)
                delete_cpu.append(cpu.s)
        self.deleted = set(victims)
        self.info["delete_call_s"] = [round(x, 3) for x in delete_times]
        self.info["delete_call_cpu_s"] = [round(x, 2) for x in delete_cpu]
        self.mark("deletes")

        for step in ("build delta", "build base", "merge_indexes"):
            self.op(True, step)
        self.op(ingest_ok(merged, base, delta, len(self.deleted)),
                "write_deletes: doc_count or deleted_count mismatch")
        self.samples["ingest"] = (merged, base, delta, len(self.deleted))

        input_bytes = corpora["base"]["bytes"]
        parts = {"postings": dir_bytes(base.postings_path),
                 "docs": dir_bytes(base.docs_path),
                 "norms": dir_bytes(base.norms_path),
                 "stats": dir_bytes(base.stats_path)}
        self.e2e("build_docs_per_s", z["base_docs"] / build_s, "1/s")
        self.e2e("merge_s", merge_s, "s")
        self.wall("delete_s", statistics.median(delete_times))
        self.e2e("delete_cpu_s", statistics.median(delete_cpu), "s")
        self.e2e("index_bytes_per_input_byte",
                 sum(parts.values()) / input_bytes, "ratio")
        self.info["input_bytes"] = input_bytes
        self.info["index_bytes"] = parts
        if tr:
            tr.restore()
            tr.request = None
            ph = base.metrics.get("phase_seconds", {})
            pre = "ingest.operators.index_build."
            self.per_layer(pre + "plan_s", ph.get("plan", 0.0), "s")
            self.per_layer(pre + "norms_postings_s",
                           ph.get("norms+postings", 0.0), "s")
            self.per_layer(pre + "stats_metrics_s",
                           ph.get("stats+metrics", 0.0), "s")
            self.per_layer(pre + "spark_jobs", build_jobs["jobs"], "count")
            for part, n in parts.items():
                self.per_layer(f"{pre}{part}_bytes_per_input_byte",
                               n / input_bytes, "ratio")
            pre = "ingest.operators."
            self.per_layer(pre + "merge.bytes_written_per_input_byte",
                           merged_bytes / (input_bytes
                                           + corpora["delta"]["bytes"]),
                           "ratio")
            self.per_layer(pre + "merge.spark_jobs", merge_jobs["jobs"],
                           "count")
            self.per_layer(pre + "deletes.spark_jobs",
                           delete_jobs["jobs"] / DELETE_CALLS, "count")
        self.terms, self.doc_freq = ranked_terms(merged)
        return merged, build_s

    # -- batch ----------------------------------------------------------
    def _draw_batches(self) -> list:
        from pim_lucene_spark.plans.boolean import BooleanQuery
        z = self.sizes
        gen = QueryGen(self.terms, self.seed, "batch")
        drawn = [(list(enumerate(gen.texts(z["batch_plain"]))),
                  [(QID_BLOCK + i, c) for i, c in
                   enumerate(gen.boolean_clauses(z["batch_bool"]))])
                 for _ in range(z["batch_distinct"])]
        self.info["batch_digest"] = digest(drawn)
        return [(plain, [(q, BooleanQuery(**c)) for q, c in bools])
                for plain, bools in drawn]

    def _batch(self, spark, merged) -> None:
        from pim_lucene_spark.index import FullTextIndex
        from pim_lucene_spark.operators import search as search_mod
        from pim_lucene_spark.plans import compound
        from pyspark.sql.classic.dataframe import DataFrame
        z = self.sizes
        k = z["k"]
        idx = FullTextIndex(spark, merged)
        batches = self._draw_batches()
        tr = self.tracer

        def call(b, traced=False):
            plain, bools = batches[b]
            span = tr.span if traced else (
                lambda name: contextlib.nullcontext())
            with span("bench.search_call"):
                got_plain = search_mod.search(
                    spark, merged, plain, k=k,
                    final_merge="driver").toPandas()
            with span("bench.query_call"):
                got_bool = idx.query(bools, k=k).toPandas()
            return got_plain, got_bool

        idx.query(batches[0][1], k=k).toPandas()   # discarded warm-up
        self.mark("batch_warmup")
        if tr:
            tr.wrap(search_mod, "search", "operators.search.search")
            tr.wrap(compound, "search_compound",
                    "plans.compound.search_compound")
            tr.wrap(DataFrame, "toPandas", "pyspark.DataFrame.toPandas")
        lat, cpu, results, job_stats = [], [], [], []
        budget = self.seconds * BATCH_SHARE
        start = time.perf_counter()
        # whole rounds over the distinct batches, so every batch is timed
        # equally often
        while (len(lat) < z["batch_min_calls"]
               or time.perf_counter() - start < budget
               or len(lat) % len(batches)):
            i = len(lat)
            b = i % len(batches)
            if tr:
                tr.request = f"batch:{i}"
            with self._jobs(spark, f"batch-{i}") as jobs:
                with WorkCPU() as work:
                    t = time.perf_counter()
                    res = call(b, traced=tr is not None)
                    lat.append(time.perf_counter() - t)
                cpu.append(work.s)
            job_stats.append(jobs)
            results.append((b, res))
        wall = time.perf_counter() - start
        self.mark("batch_timed")
        if tr:
            tr.request = None
            tr.restore()
            self._batch_layers(lat, results, job_stats)
            untraced = []
            for i in range(len(lat)):
                t = time.perf_counter()
                call(i % len(batches))
                untraced.append(time.perf_counter() - t)
            self.per_layer("trace.batch_p50_overhead_frac",
                           statistics.median(lat)
                           / statistics.median(untraced) - 1.0, "ratio")
        self._batch_gate(idx, batches, results)
        self.mark("batch_gate")
        n_q = z["batch_plain"] + z["batch_bool"]
        self.wall("batch_qps", n_q * len(lat) / wall)
        self.wall("batch_p50_ms", statistics.median(lat) * 1e3)
        self.e2e("batch_cpu_s_per_call", statistics.median(cpu), "s")
        self.info["batch_lat_ms"] = [round(x * 1e3) for x in lat]
        self.info["batch_sum_df"] = [
            sum_df([t for _, t in plain], self.doc_freq)
            for plain, _ in batches]

    def _batch_gate(self, idx, batches, results) -> None:
        """The first ``batch_probe`` term/phrase queries of each batch
        must equal the index-free scan over the merged docs, deleted docs
        excluded after scoring (they still count in the statistics until
        a merge, as in Lucene); every repeat of a batch must equal its
        first call; boolean rows must equal the resident compound
        kernel."""
        from pim_lucene_spark.plans.router import brute_force_search
        k, n_probe = self.sizes["k"], self.sizes["batch_probe"]
        m = idx.manifest
        probes = [(b * QID_BLOCK + q, t)
                  for b, (plain, _) in enumerate(batches)
                  for q, t in plain[:n_probe]]
        brute = brute_force_search(
            idx.docs(), probes, k=k, tokenizer=m.tokenizer, k1=m.k1,
            b=m.b, exclude_ids=idx.deleted_doc_ids()).toPandas()
        bool_ref = [idx.query_local(bools, k=k) for _, bools in batches]
        first: dict = {}
        for b, (got_plain, got_bool) in results:
            want = rows_for(brute, range(b * QID_BLOCK,
                                         b * QID_BLOCK + n_probe))
            want = want.assign(qid=want["qid"] - b * QID_BLOCK)
            got_probe = rows_for(got_plain, range(n_probe))
            ok = (same_rows(got_probe, want, RESULT_COLS)
                  and same_rows(got_plain, first.setdefault(b, got_plain),
                                RESULT_COLS)
                  and same_rows(got_bool, bool_ref[b], BOOL_COLS)
                  and no_deleted(got_plain, self.deleted)
                  and no_deleted(got_bool, self.deleted))
            self.op(ok, f"batch {b}: rows differ from the reference")
            self.samples["batch"] = (got_probe, want, got_bool, bool_ref[b])

    def _batch_layers(self, lat, results, job_stats) -> None:
        """Driver time inside each entry point (planning, stats lookups)
        versus the rest of the call (execution and collect)."""
        tr = self.tracer
        spans = tr.spans
        s = tr.summary("batch")
        n = len(lat)
        collect_in = {"operators.search.search": 0.0,
                      "plans.compound.search_compound": 0.0}
        for c in spans:
            if (tr.phase_of(c) == "batch" and c[3] >= 0
                    and c[0] == "pyspark.DataFrame.toPandas"
                    and spans[c[3]][0] in collect_in):
                collect_in[spans[c[3]][0]] += (c[2] - c[1]) * 1e3
        for entry, call_span, name in (
                ("operators.search.search", "bench.search_call",
                 "operators.search"),
                ("plans.compound.search_compound", "bench.query_call",
                 "plans.compound")):
            call_ms = s[entry]["ms"] - collect_in[entry]
            self.per_layer(f"batch.{name}.call_ms", call_ms / n, "ms")
            self.per_layer(f"batch.{name}.collect_ms",
                           (s[call_span]["ms"] - call_ms) / n, "ms")
        for key in ("jobs", "stages", "tasks"):
            self.per_layer(f"batch.spark.{key}_per_call",
                           sum(j[key] for j in job_stats) / n, "count")
        rows = sum(len(p) + len(b) for _, (p, b) in results)
        self.per_layer("batch.rows_collected_per_call", rows / n, "count")

    # -- serve ----------------------------------------------------------
    def _serve_refs(self, spark, merged) -> dict:
        from pim_lucene_spark.operators import search as search_mod
        z = self.sizes
        gen = QueryGen(self.terms, self.seed, "serve")
        pool = gen.texts(z["warm_pool"])
        # cold terms are new to the server even after the warm pass
        cold = gen.fresh_texts(z["cold"],
                               {w for t in pool for w in t.split()})
        # the warm replay is whole shuffles of the pool: every query
        # recurs equally often, and every run of a seed does the same
        # warm work
        rng = np.random.default_rng(sub_seed(self.seed, "warm-seq"))
        seq = np.concatenate([rng.permutation(len(pool))
                              for _ in range(z["warm_passes"])])
        self.info["serve_digest"] = digest([cold, pool, seq.tolist()])
        self.info["serve_mean_sum_df"] = {
            name: float(np.mean([sum_df([t], self.doc_freq) for t in texts]))
            for name, texts in (("cold", cold), ("warm", pool))}
        queries = ([(i, t) for i, t in enumerate(cold)]
                   + [(QID_BLOCK + i, t) for i, t in enumerate(pool)])
        ref = search_mod.search(spark, merged, queries, k=z["k"],
                                final_merge="driver").toPandas()
        return {"cold": cold, "pool": pool, "seq": seq,
                "by_qid": {int(q): rows_key(g, SERVE_COLS)
                           for q, g in ref.groupby("qid")},
                "empty": rows_key(ref.iloc[0:0], SERVE_COLS)}

    def _check_serve(self, got, refs, qid, phase) -> None:
        want = refs["by_qid"].get(qid, refs["empty"])
        ok = (same_keys(rows_key(got, SERVE_COLS), want)
              and no_deleted(got, self.deleted))
        self.op(ok, f"serve {phase} qid {qid}: rows differ")
        if len(got) and "serve" not in self.samples:
            self.samples["serve"] = (got, want)

    def _warm_pass(self, search, refs) -> float:
        """One batch over the whole pool: fills the resident postings
        rows and the decoded-postings cache.  Returns the seconds the
        search took; its result is checked afterwards."""
        pool = [(QID_BLOCK + j, t) for j, t in enumerate(refs["pool"])]
        t = time.perf_counter()
        res = search(pool)
        took = time.perf_counter() - t
        for qid, g in res.groupby("qid"):
            self._check_serve(g, refs, int(qid), "warm-up")
        missing = {q for q, _ in pool} - set(res["qid"].tolist())
        for qid in missing:
            self._check_serve(res.iloc[0:0], refs, qid, "warm-up")
        return took

    def _warm_requests(self, refs, n=None):
        pool = refs["pool"]
        return ((QID_BLOCK + int(j), pool[j]) for j in refs["seq"][:n])

    def _closed_loop(self, send, requests, refs, phase: str) -> list[float]:
        """One client, one query per request, each sent when the
        previous reply is in; results are checked between requests,
        outside the timed calls."""
        lat = []
        for qid, text in requests:
            t = time.perf_counter()
            res = send([(0, text)])
            lat.append(time.perf_counter() - t)
            self._check_serve(res, refs, qid, phase)
        return lat

    def _start_server(self, merged, refs):
        """Start a sharded server and fill it with the warm pass; returns
        the server and the bring-up seconds (start plus warm pass)."""
        from pim_lucene_spark.serving import ShardedServer
        k = self.sizes["k"]
        # the workers fork from this process: start clean, and keep
        # their collector off the objects they inherit (it would touch,
        # and so copy, the shared pages)
        gc.collect()
        gc.freeze()
        t = time.perf_counter()
        srv = ShardedServer(merged.index_dir,
                            num_workers=max(1, self.n_cores - 1),
                            mode="shard", postings_cache_mb=self.cache_mb)
        srv.__enter__()
        try:
            took = time.perf_counter() - t
            took += self._warm_pass(lambda q: srv.search(q, k=k), refs)
        except BaseException:
            srv.close()
            raise
        return srv, took

    def _serve(self, merged, refs) -> float:
        """Timed serving through the sharded server; returns the
        bring-up time (server start plus the warm pass), the median of
        BRINGUPS start-ups, the last of which serves."""
        z = self.sizes
        bringups = []
        for _ in range(BRINGUPS - 1):
            srv, took = self._start_server(merged, refs)
            srv.close()
            bringups.append(took)
        srv, took = self._start_server(merged, refs)
        bringups.append(took)
        self.info["bringup_s"] = [round(x, 3) for x in bringups]
        with srv:
            def send(queries):
                return srv.search(queries, k=z["k"])

            # cold and warm requests alternate over WINDOWS windows, so
            # both phases see the same host.  Cold figures are medians
            # over the windows: a window's first cold reads cost more.
            # Warm figures are taken over the whole replay, which does
            # the same work in every run of a seed
            cold = list(enumerate(refs["cold"]))
            warm = list(self._warm_requests(refs))
            cold_w, warm_w, cold_cpu, warm_cpu = [], [], [], []
            for c_part, w_part in zip(
                    np.array_split(np.arange(len(cold)), WINDOWS),
                    np.array_split(np.arange(len(warm)), WINDOWS)):
                c = tree_run_s()
                cold_w.append(self._closed_loop(
                    send, (cold[i] for i in c_part), refs, "cold"))
                c, c0 = tree_run_s(), c
                cold_cpu.append((c - c0) / len(c_part))
                warm_w.append(self._closed_loop(
                    send, (warm[i] for i in w_part), refs, "warm"))
                warm_cpu.append(tree_run_s() - c)
            self.e2e("server_rss_mb", child_rss_mb(), "MB")
        # server CPU (the shard workers') per request; the host merge
        # runs in this process, whose CPU also holds the result checks
        self.e2e("cold_cpu_ms_per_query", 1e3 * statistics.median(cold_cpu),
                 "ms")
        self.e2e("cpu_ms_per_query", 1e3 * sum(warm_cpu) / len(warm), "ms")
        # with one closed-loop client a window's throughput is 1 / its
        # mean latency
        self.wall("cold_p50_ms", 1e3 * statistics.median(
            float(np.median(w)) for w in cold_w))
        self.wall("qps", statistics.median(len(w) / sum(w) for w in warm_w))
        self.wall("p50_ms", 1e3 * statistics.median(
            float(np.median(w)) for w in warm_w))
        # the highest percentile with at least ten samples beyond it
        lat_ms = 1e3 * np.concatenate(warm_w)
        pct = int(100 * (1 - 10 / len(lat_ms)))
        self.info["warm_queries"] = len(lat_ms)
        self.info["cold_cpu_ms_windows"] = [round(1e3 * x, 2)
                                            for x in cold_cpu]
        self.info["warm_cpu_ms_windows"] = [
            round(1e3 * x / len(w), 3) for x, w in zip(warm_cpu, warm_w)]
        self.info[f"warm_p{pct}_ms"] = float(np.percentile(lat_ms, pct))
        return statistics.median(bringups)

    def _serve_replay(self, merged, refs) -> None:
        """Traced serving: the same requests, answered in-process by
        ``serve_local`` once per shard plus the host merge, which is
        what each server worker and the server's client side run."""
        import pyarrow.parquet as pq

        from pim_lucene_spark import serving
        from pim_lucene_spark.operators import search as search_mod
        k = self.sizes["k"]
        tr = self.tracer
        P = merged.num_partitions
        W = min(max(1, self.n_cores - 1), P)
        shards = [[p for p in range(P) if p % W == w] for w in range(W)]

        def send(queries):
            parts = [serving.serve_local(merged, queries, k, "float32",
                                         self.cache_mb, pids)
                     for pids in shards]
            return serving.ShardedServer._merge(parts, k)

        def install():
            for mod, attr in SERVE_LAYERS:
                owner = importlib.import_module(f"pim_lucene_spark.{mod}")
                *path, name = attr.split(".")
                for part in path:
                    owner = getattr(owner, part)
                tr.wrap(owner, name, f"{mod}.{attr}")
            tr.wrap(pq, "read_table", READ_SPAN, count=lambda t: t.num_rows)

        def replay(phase, requests, traced):
            lat = []
            for n, (qid, text) in enumerate(requests):
                tr.request = f"{phase}:{n}" if traced else None
                t = time.perf_counter()
                res = send([(0, text)])
                lat.append(time.perf_counter() - t)
                self._check_serve(res, refs, qid, f"{phase} replay")
            tr.request = None
            return lat

        search_mod.clear_local_cache()
        search_mod.clear_postings_cache()
        self._warm_pass(send, refs)
        search_mod.reset_decode_stats()
        install()
        cache0 = search_mod.postings_cache_stats()
        replay("cold", enumerate(refs["cold"]), True)
        tr.restore()
        self._serve_layers("cold", len(refs["cold"]), cache0)

        n = self.sizes["replay_warm"]
        replay("warm", self._warm_requests(refs, n), False)   # discarded
        plain = replay("warm", self._warm_requests(refs, n), False)
        install()
        search_mod.reset_decode_stats()
        cache0 = search_mod.postings_cache_stats()
        traced = replay("warm", self._warm_requests(refs, n), True)
        tr.restore()
        self._serve_layers("warm", len(traced), cache0)
        self.per_layer("trace.serve_p50_overhead_frac",
                       statistics.median(traced) / statistics.median(plain)
                       - 1.0, "ratio")
        self.per_layer("trace.serve_qps_overhead_frac",
                       1.0 - sum(plain) / sum(traced), "ratio")

    def _serve_layers(self, phase: str, n: int, cache0: dict) -> None:
        """Per-request layer metrics of one replayed phase; ``cache0`` is
        the postings-cache state when the phase began."""
        from pim_lucene_spark.operators import search as search_mod
        dec = search_mod.reset_decode_stats()
        cache = search_mod.postings_cache_stats()
        s = self.tracer.summary(phase)
        pre = f"{phase}.operators.search."
        reads = s[READ_SPAN]
        self.per_layer(pre + "read_calls", reads["calls"] / n, "count")
        self.per_layer(pre + "read_ms", reads["ms"] / n, "ms")
        self.per_layer(pre + "read_rows", reads["items"] / n, "count")
        self.per_layer(pre + "decode_ms",
                       (s["operators.search.decode_columnar"]["ms"]
                        + s["operators.search.decode_positions_slice"]["ms"])
                       / n, "ms")
        self.per_layer(pre + "plan_queries_ms",
                       s["operators.search.plan_queries"]["ms"] / n, "ms")
        hits = cache["hits"] - cache0["hits"]
        misses = cache["misses"] - cache0["misses"]
        self.per_layer(pre + "postings_cache.hit_frac",
                       hits / max(hits + misses, 1), "ratio")
        self.per_layer(pre + "postings_cache.bytes", cache["bytes"], "bytes")
        scored, skipped = dec["segments_scored"], dec["segments_skipped"]
        self.per_layer(pre + "blockmax_skip_frac",
                       skipped / max(scored + skipped, 1), "ratio")
        self.per_layer(f"{phase}.functions.bm25.score_ms",
                       s["functions.bm25.score"]["ms"] / n, "ms")
        self.per_layer(f"{phase}.serving.search_ms",
                       s["serving.serve_local"]["ms"] / n, "ms")
        self.per_layer(f"{phase}.serving.merge_ms",
                       s["serving.ShardedServer._merge"]["ms"] / n, "ms")
        for key, unit in (("doc_bytes", "bytes"), ("pos_bytes", "bytes"),
                          ("pos_units", "count")):
            self.per_layer(f"{phase}.decode.{key}", dec[key] / n, unit)
        for name in [f"{m}.{a}" for m, a in SERVE_LAYERS] + [READ_SPAN]:
            self.per_layer(f"{phase}.self_ms.{name}",
                           s[name]["self_ms"] / n, "ms")
