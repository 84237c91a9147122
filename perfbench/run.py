"""Benchmark entry point.

    python3 perfbench/run.py --workload cached --seed 1 --seconds 10 --trace 0

runs one seeded benchmark run from the repository root and prints, as the
last line of standard output, one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``).  The line before
it records the seed and digests of the generated inputs.

    python3 perfbench/run.py --workload cached --repeat 5 [--seed 1]

repeats runs with seeds ``seed .. seed+N-1``, one process each, and prints
every metric's median, quartiles and spread (IQR / median).

    python3 perfbench/run.py --selftest

runs every phase at a tiny size, checks that each named metric prints
with its unit, and checks that each correctness gate fails when it is
fed a deliberately wrong reference.

See ``perfbench/README.md`` for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

from lifecycle import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _isolate_env() -> str:
    """Keep every file the run writes inside the checkout and let Spark's
    Python workers import the package from it; returns the temp dir."""
    tmp = os.path.join(ROOT, ".perfbench", f"tmp-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # every JVM, the spark-submit launcher's included.  A fixed set of
    # JIT compiler threads lets the CPU figures leave JIT time out
    # (lifecycle.WorkCPU)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads "
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    return tmp


def one_run(args) -> int:
    import lifecycle
    run = lifecycle.Run(args.workload, args.seed, args.seconds,
                        bool(args.trace), ROOT)
    run.execute()
    if run.failures:
        print("failed operations: " + "; ".join(run.failures),
              file=sys.stderr)
    print(json.dumps({"info": run.info}))
    print(json.dumps(run.result_line()))
    return 0


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def repeat(args) -> int:
    """Steadiness report: the same workload under N seeds."""
    rows: dict[str, list[float]] = {}
    units: dict[str, str] = {}
    bad = 0
    for i in range(args.repeat):
        cmd = [sys.executable, os.path.join(HERE, "run.py"),
               "--workload", args.workload, "--seed", str(args.seed + i),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                             timeout=600)
        lines = out.stdout.strip().splitlines()
        if out.returncode != 0 or not lines:
            sys.stderr.write(out.stderr[-2000:])
            return 1
        res = json.loads(lines[-1])
        info = json.loads(lines[-2])["info"] if len(lines) > 1 else {}
        bad += res["failed"]
        print(json.dumps({"seed": args.seed + i, "failed": res["failed"],
                          "steal_ticks": info.get("steal_ticks"),
                          "run_s": round(sum(info.get("phase_s", {})
                                             .values()), 1),
                          **{k: v["value"]
                             for k, v in res["metrics"].items()},
                          "wall": info.get("wall"),
                          **{k: info.get(k) for k in (
                              "build_call_s", "build_cpu_s", "merge_cpu_s",
                              "delete_call_cpu_s", "cold_cpu_ms_windows",
                              "warm_cpu_ms_windows")}}),
              flush=True)
        for k, v in res["metrics"].items():
            rows.setdefault(k, []).append(v["value"])
            units[k] = v["unit"]
    bounds = {}
    bench = os.path.join(ROOT, "BENCHMARK.json")
    if os.path.exists(bench):
        with open(bench) as fh:
            bounds = {m["name"]: m["bound"]
                      for m in json.load(fh).get("end_to_end", [])}
    print(f"{'metric':<44} {'unit':>6} {'q1':>11} {'median':>11} "
          f"{'q3':>11} {'spread':>7} {'bound':>6}")
    for k, vals in rows.items():
        q1, med, q3 = quartiles(vals)
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(k)
        print(f"{k:<44} {units[k]:>6} {q1:>11.4f} {med:>11.4f} "
              f"{q3:>11.4f} {spread:>7.3f} "
              f"{'' if b is None else f'{b:.2f}':>6}")
    print(f"failed operations over {args.repeat} runs: {bad}")
    return 0 if bad == 0 else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=list(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--repeat", type=int, default=0,
                    help="steadiness report over this many seeds")
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if not args.selftest and args.workload is None:
        ap.error("--workload is required")
    if args.repeat:
        return repeat(args)
    sys.path.insert(0, ROOT)
    try:
        import pim_lucene_spark  # noqa: F401  (the program under test)
    except ImportError as exc:
        sys.exit(f"perfbench: cannot import the program: {exc}")
    tmp = _isolate_env()
    try:
        if args.selftest:
            import selftest
            return selftest.main(ROOT)
        return one_run(args)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
