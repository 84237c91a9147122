"""Benchmark self-test: ``python3 perfbench/run.py --selftest``.

Runs every phase of every workload at the tiny size (one untraced run
per workload and one traced run), then checks that

- every end-to-end and per-layer metric named in ``BENCHMARK.json``
  prints with its unit, and every end-to-end value is a positive number;
- the runs pass every correctness gate;
- each gate fails when it is fed a deliberately wrong reference;
- the traced run shows work where it happens: parquet reads on cold
  serving and none on warm, Spark jobs on batch calls.
"""

from __future__ import annotations

import dataclasses
import json
import math
import os

import numpy as np

import lifecycle as L


def _check_names(got: dict, want: dict, positive: bool,
                 problems: list, where: str) -> None:
    for name, unit in want.items():
        m = got.get(name)
        if m is None:
            problems.append(f"{where}: metric {name} missing")
        elif m["unit"] != unit:
            problems.append(f"{where}: {name} unit {m['unit']} != {unit}")
        elif not math.isfinite(m["value"]) or (positive
                                               and m["value"] <= 0):
            problems.append(f"{where}: {name} = {m['value']}")
    for name in set(got) - set(want):
        problems.append(f"{where}: metric {name} not in BENCHMARK.json")


def _nudge(keys: list, col: int) -> list:
    """A copy of reference columns with the last value of column ``col``
    moved by one unit in the last place."""
    out = [a.copy() for a in keys]
    a = out[col]
    a[-1] = (np.nextafter(a[-1], np.inf) if a.dtype.kind == "f"
             else a[-1] + 1)
    return out


def _wrong_references_fail(run: L.Run, problems: list, where: str) -> None:
    """Feed each gate a wrong reference; every one must report failure."""
    got, want = run.samples["serve"]
    got_keys = L.rows_key(got, L.SERVE_COLS)
    cases = {
        "serve: score off by one ulp": L.same_keys(
            got_keys, _nudge(want, L.SERVE_COLS.index("score"))),
        "serve: a returned doc marked deleted": L.no_deleted(
            got, {int(got["doc_id"].iloc[0])}),
    }
    got_plain, want_plain, got_bool, want_bool = run.samples["batch"]
    cases["batch: brute-force reference missing a row"] = L.same_rows(
        got_plain, want_plain.iloc[:-1], L.RESULT_COLS)
    nudged = want_bool.copy()
    nudged.loc[nudged.index[-1], "score"] = np.nextafter(
        nudged["score"].iloc[-1], np.inf)
    cases["batch: boolean score off by one ulp"] = L.same_rows(
        got_bool, nudged, L.BOOL_COLS)
    merged, base, delta, n_deleted = run.samples["ingest"]
    cases["ingest: one more deletion expected"] = L.ingest_ok(
        merged, base, delta, n_deleted + 1)
    cases["ingest: one more source doc expected"] = L.ingest_ok(
        merged, dataclasses.replace(base, doc_count=base.doc_count + 1),
        delta, n_deleted)
    for what, ok in cases.items():
        if ok:
            problems.append(f"{where}: gate passed a wrong reference "
                            f"({what})")


def main(root: str) -> int:
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    problems: list[str] = []
    for workload in L.WORKLOADS:
        run = L.Run(workload, 1, 1, False, root, sizes=L.TINY)
        run.execute()
        where = f"{workload} (untraced)"
        _check_names(run.metrics, e2e, True, problems, where)
        if run.failed or not run.attempted:
            problems.append(f"{where}: {run.failed}/{run.attempted} "
                            f"operations failed: {run.failures}")
        _wrong_references_fail(run, problems, where)

    traced = next(iter(L.WORKLOADS))
    run = L.Run(traced, 1, 1, True, root, sizes=L.TINY)
    run.execute()
    where = f"{traced} (traced)"
    _check_names(run.layer, layer, False, problems, where)
    if run.failed:
        problems.append(f"{where}: failed operations {run.failures}")
    v = {k: m["value"] for k, m in run.layer.items()}
    expect = {
        "cold.operators.search.read_calls > 0":
            v.get("cold.operators.search.read_calls", 0) > 0,
        "warm.operators.search.read_calls == 0":
            v.get("warm.operators.search.read_calls", 1) == 0,
        "warm.operators.search.postings_cache.hit_frac > 0.9":
            v.get("warm.operators.search.postings_cache.hit_frac", 0) > 0.9,
        "batch.spark.jobs_per_call >= 1":
            v.get("batch.spark.jobs_per_call", 0) >= 1,
        "ingest.operators.merge.spark_jobs >= 1":
            v.get("ingest.operators.merge.spark_jobs", 0) >= 1,
    }
    problems += [f"{where}: expected {k}" for k, ok in expect.items()
                 if not ok]

    for p in problems:
        print("FAIL", p)
    print(f"selftest: {'ok' if not problems else 'FAILED'} "
          f"({len(problems)} problems)")
    return 0 if not problems else 1
