"""Round-6 advice regressions: unbounded (k=None) frames must skip the
per-qid global rank window, and every former ``k=10**9`` internal call
site now uses ``k=None`` (VERDICT r5: the window single-tasks a query's
entire match set — the real at-scale pathology of the join plan's
clause frames and the exhaustive combined plan)."""

import numpy as np
import pandas as pd
import pytest

from pim_lucene_spark import IndexConfig
from pim_lucene_spark.operators.index_build import build_index
from pim_lucene_spark.operators.search import search


@pytest.fixture(scope="module")
def small_index(spark, tmp_path_factory):
    rng = np.random.default_rng(11)
    vocab = ["alpha", "beta", "gamma", "delta", "epsilon"]
    docs = pd.DataFrame({
        "doc_id": range(60),
        "content": [" ".join(rng.choice(vocab, size=8)) for _ in range(60)],
    })
    d = str(tmp_path_factory.mktemp("r6") / "idx")
    return build_index(spark, spark.createDataFrame(docs), d,
                       IndexConfig(2, 1, build_chunks=1),
                       content_col="content", id_col="doc_id")


def test_k_none_equals_huge_k_rows(spark, small_index):
    batch = [(0, "alpha"), (1, "beta gamma")]
    full = search(spark, small_index, batch, k=10 ** 9).toPandas()
    none = search(spark, small_index, batch, k=None).toPandas()
    a = full.sort_values(["qid", "doc_id"]).reset_index(drop=True)
    b = none.sort_values(["qid", "doc_id"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b)


def test_k_none_plan_has_no_rank_window(spark, small_index, monkeypatch):
    # pin the distributed plan (the r7 size gate would otherwise route
    # this tiny index through the in-process path, which has no plan)
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_ROUTE_POSTINGS", "0")
    plan = (search(spark, small_index, [(0, "alpha")], k=None)
            ._jdf.queryExecution().executedPlan().toString())
    assert "Window" not in plan, plan
    # the bounded path keeps its window (sanity that the probe works)
    plan_k = (search(spark, small_index, [(0, "alpha")], k=10)
              ._jdf.queryExecution().executedPlan().toString())
    assert "Window" in plan_k


def test_no_internal_huge_k_call_sites():
    """No ``k=10 ** 9`` search/clause-frame call remains in the package
    (docstrings and default-param *sentinels inside* search are fine —
    this greps call sites only)."""
    import pathlib
    import re
    pkg = pathlib.Path(__file__).resolve().parents[1] / "pim_lucene_spark"
    offenders = []
    for p in pkg.rglob("*.py"):
        if p.name == "model.py":  # driver-side pandas simulator
            continue
        for i, line in enumerate(p.read_text().splitlines(), 1):
            s = line.strip()
            if s.startswith("#"):
                continue
            # kwarg call sites only (k=10**9 followed by , or )); the
            # one internal sentinel assignment in search() is exempt
            if re.search(r"\bk\s*=\s*10\s*\*\*\s*9\s*[,)]", line):
                offenders.append(f"{p.name}:{i}: {s}")
    assert not offenders, offenders


def test_exotic_constant_score_wrappers_kernel_index(spark, small_index):
    """/code-review r6: the exotic ConstantScore recursion uses k=None —
    it must stay on the kernel plan for kernel-only inners and survive
    double nesting (rank <= None used to return empty silently)."""
    from pim_lucene_spark.index import FullTextIndex
    from pim_lucene_spark.plans.dismax import DisMaxQuery
    from pim_lucene_spark.plans.query import ConstantScoreQuery

    idx = FullTextIndex.open(spark, small_index.index_dir)
    dm = DisMaxQuery(clauses=["alpha", "beta"], tie=0.5)
    single = idx.query([(0, ConstantScoreQuery(dm, boost=2.5))],
                       k=100).toPandas()
    assert len(single) > 0
    assert (single.score == 2.5).all()
    double = idx.query(
        [(0, ConstantScoreQuery(ConstantScoreQuery(dm, boost=9.0),
                                boost=3.5))], k=100).toPandas()
    assert sorted(double.doc_id) == sorted(single.doc_id)
    assert (double.score == 3.5).all()


def test_k_none_auto_routes_to_kernel_same_rows(spark, small_index):
    from pim_lucene_spark.plans.boolean import BooleanQuery, search_boolean
    batch = [(0, BooleanQuery(must=["alpha"], should=["beta"]))]
    auto = (search_boolean(spark, small_index, batch, k=None)
            .toPandas().sort_values(["qid", "doc_id"])
            .reset_index(drop=True))
    join = (search_boolean(spark, small_index, batch, k=None, plan="join")
            .toPandas().sort_values(["qid", "doc_id"])
            .reset_index(drop=True))
    assert list(auto.doc_id) == list(join.doc_id)
    assert list(auto.score) == list(join.score)
