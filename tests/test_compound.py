"""In-kernel compound composition (plans/compound.py) vs the index-free
reference (``tests/compound_ref.py``: brute-force clause scans composed
in pandas) — bit-identical scores, and the plan-shape property the
kernel exists for: only per-partition top-k rows reach the shuffle,
never a clause's full match set."""

import numpy as np
import pandas as pd
import pytest

from pim_lucene_spark.config import IndexConfig
from pim_lucene_spark.operators.index_build import build_index
from pim_lucene_spark.plans.boolean import (BooleanQuery, search_boolean,
                                            search_boolean_fields)
from pim_lucene_spark.plans.dismax import DisMaxQuery, search_dismax
from pim_lucene_spark.plans.multiterm import FuzzyQuery, search_multiterm
from pim_lucene_spark.plans.query import FieldedQuery, PhraseQuery, TermQuery
from tests.compound_ref import reference_compound

VOCAB = ["red", "green", "blue", "apple", "brick", "house", "sky",
         "grass", "sunset", "pie", "tart", "only", "the", "fast"]


def _corpus(n=120, seed=7):
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        words = list(rng.choice(VOCAB, size=rng.integers(4, 18)))
        if i % 3 == 0:
            words += ["the", "fast"]  # guarantee phrase + stopword mass
        rows.append(" ".join(words))
    return pd.DataFrame({"doc_id": range(n), "content": rows})


@pytest.fixture(scope="module")
def cidx(spark, tmp_path_factory):
    cfg = IndexConfig(num_partitions=4, num_segments=2, build_chunks=1)
    return build_index(spark, spark.createDataFrame(_corpus()),
                       str(tmp_path_factory.mktemp("compound")), cfg,
                       content_col="content", id_col="doc_id")


BOOL_BATCH = [
    (0, BooleanQuery(must=["red", "apple"])),
    (1, BooleanQuery(should=["brick", "grass", "sky"])),
    (2, BooleanQuery(must=["red"], must_not=["apple"], boost=2.0)),
    (3, BooleanQuery(must=["the"], filter=["fast"], should=["pie"])),
    (4, BooleanQuery(should=["the fast", "tart", "red zzz_absent"],
                     min_should_match=1)),
    (5, BooleanQuery(must=[PhraseQuery("the fast", boost=1.5)],
                     should=["sky", "apple"], min_should_match=1)),
    (6, BooleanQuery(should=[BooleanQuery(must=["red"], should=["pie"]),
                             "sunset"], boost=3.0)),
    (7, BooleanQuery(should=["blue", "green"], min_should_match=2)),
    (8, BooleanQuery(must=["red"],
                     should=[FuzzyQuery("aple", max_edits=1)])),
]


def _cmp(a, b):
    a = a.toPandas().sort_values(["qid", "doc_id"]).reset_index(drop=True)
    if not isinstance(b, pd.DataFrame):
        b = b.toPandas()
    b = b.sort_values(["qid", "doc_id"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_exact=True)
    return a


def _ref(spark, cidx, batch, k=10, precision="float32"):
    return reference_compound(spark, _corpus(), {"content": cidx},
                              "content", batch, k=k, precision=precision)


@pytest.mark.parametrize("precision", ["float32", "float64"])
def test_boolean_kernel_matches_join(spark, cidx, precision):
    got = _cmp(search_boolean(spark, cidx, BOOL_BATCH, k=10,
                              precision=precision),
               _ref(spark, cidx, BOOL_BATCH, precision=precision))
    assert set(got.qid) >= {0, 1, 2, 3, 4, 5, 6}


@pytest.mark.parametrize("precision", ["float32", "float64"])
def test_dismax_kernel_matches_join(spark, cidx, precision):
    batch = [
        (0, DisMaxQuery(clauses=["red", "apple"])),
        (1, DisMaxQuery(clauses=["the fast", "sky"], tie=0.25)),
        (2, DisMaxQuery(clauses=[TermQuery("red", boost=3.0), "blue",
                                 "grass"], tie=0.5, boost=2.0)),
    ]
    _cmp(search_dismax(spark, cidx, batch, k=10, precision=precision),
         _ref(spark, cidx, batch, precision=precision))


@pytest.mark.parametrize("precision", ["float32", "float64"])
def test_scoring_boolean_kernel_matches_join(spark, cidx, precision):
    batch = [(0, FuzzyQuery("aple", max_edits=2)),
             (1, FuzzyQuery("grass", max_edits=1, boost=2.0))]
    for k in (10, None):
        a = search_multiterm(spark, cidx, batch, k=k,
                             rewrite="scoring_boolean", precision=precision)
        _cmp(a, _ref(spark, cidx, batch, k=k, precision=precision))


def test_auto_routes_mixed_batch(spark, cidx):
    """A batch mixing plain and sloppy-clause booleans composes in one
    kernel batch and matches the reference."""
    batch = BOOL_BATCH[:3] + [
        (9, BooleanQuery(must=[PhraseQuery("red apple", slop=2)],
                         should=["sky"]))]
    _cmp(search_boolean(spark, cidx, batch, k=10),
         _ref(spark, cidx, batch))


def test_kernel_shuffle_is_topk_bounded(spark, cidx):
    """The plan-shape win: a stopword SHOULD clause used to push its full
    match set through the shuffle (k=10**9 clause frame); the kernel
    shuffles at most P·k composed rows per query."""
    from pim_lucene_spark.operators.search import search
    from pim_lucene_spark.plans.compound import _SpecBuilder, eval_compound

    k = 10
    bq = BooleanQuery(must=["red"], should=["the"])  # "the" ≈ every doc
    b = _SpecBuilder(spark, {"": cidx}, "")
    specs = [b.bool_spec(0, bq, "")]
    partial = eval_compound(spark, {"": cidx}, specs, b.leaves, k,
                            "float32", return_partial=True).toPandas()
    P = cidx.num_partitions
    assert len(partial) <= P * k
    per_pid = partial.groupby(partial.doc_id % P).size()
    assert (per_pid <= k).all()

    # a clause frame for the same query (what a clause-at-a-time plan
    # would push through the exchange): the stopword's entire match set
    clause_rows = search(spark, cidx, [(0, "red"), (1, "the")], k=10 ** 9
                         ).count()
    # ≥3× even on this 120-doc corpus; the ratio grows with corpus size
    # (clause frame ~ docs containing the stopword, kernel ≤ P·k)
    assert clause_rows > 3 * len(partial)


# --- multi-field: fielded boolean + BM25F ------------------------------

def _mf_docs(n=80):
    rng = np.random.default_rng(11)
    return pd.DataFrame({
        "doc_id": range(n),
        "title": [" ".join(rng.choice(VOCAB[:8], size=rng.integers(2, 5)))
                  for _ in range(n)],
        "body": [" ".join(rng.choice(VOCAB, size=rng.integers(6, 20)))
                 for _ in range(n)],
    })


@pytest.fixture(scope="module")
def mfidx(spark, tmp_path_factory):
    from pim_lucene_spark.index import MultiFieldIndex
    cfg = IndexConfig(num_partitions=4, num_segments=2, build_chunks=1)
    return MultiFieldIndex.build(
        spark, spark.createDataFrame(_mf_docs()),
        str(tmp_path_factory.mktemp("mfcompound")),
        fields={"title": "title", "body": "body"}, cfg=cfg,
        id_col="doc_id")


@pytest.mark.parametrize("precision", ["float32", "float64"])
def test_fielded_boolean_kernel_matches_join(spark, mfidx, precision):
    batch = [
        (0, BooleanQuery(must=[FieldedQuery("title", "red")],
                         should=[FieldedQuery("body", "apple"), "sky"])),
        (1, BooleanQuery(should=[FieldedQuery("title", "green"),
                                 FieldedQuery("body", "grass")])),
        (2, BooleanQuery(must=["apple"],
                         must_not=[FieldedQuery("title", "blue")])),
    ]
    a = search_boolean_fields(spark, mfidx.manifests, "body", batch, k=10,
                              precision=precision)
    _cmp(a, reference_compound(spark, _mf_docs(), mfidx.manifests, "body",
                               batch, k=10, precision=precision))


@pytest.mark.parametrize("precision", ["float32", "float64"])
def test_bm25f_kernel_matches_join(spark, mfidx, precision):
    from tests.test_bm25f import _model_bm25f
    qs = [(0, "red apple"), (1, "apple"), (2, "green grass sky")]
    w = {"title": 2.0, "body": 1.0}
    got = mfidx.search_bm25f(qs, k=10, field_weights=w,
                             precision=precision).toPandas()
    for qid, text in qs:
        exp = _model_bm25f(_mf_docs(), text, w, precision)
        top = sorted(exp.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
        mine = got[got.qid == qid]
        assert dict(zip(mine.doc_id, mine.score)) == dict(top), text


def _run_compound_core(spark, m, bq, k=10):
    """Drive the compound kernel in-process over every pid, returning
    (doc_bytes decoded, result frame) — DECODE_STATS plan evidence."""
    from pim_lucene_spark.functions import bm25
    from pim_lucene_spark.operators.search import (_postings_file_groups,
                                                   _read_shard,
                                                   plan_queries,
                                                   reset_decode_stats)
    from pim_lucene_spark.plans.compound import _compound_core, _SpecBuilder

    b = _SpecBuilder(spark, {"": m}, "")
    spec = b.bool_spec(0, bq, "")
    planned, needed = plan_queries(None, m, b.leaves[""], k, "float32")
    avgdl = bm25.avg_field_length(m.sum_total_term_freq, m.doc_count,
                                  "float32")
    payload = {
        "specs": [spec],
        "clauses": {sid: ("", tuple(ts), float(w), b.slops.get(sid, 0))
                    for sid, ts, w in planned},
        "fields": {"": {
            "cache": bm25.score_cache(avgdl, m.k1, m.b, "float32"),
            "cache_key": ("t", 0, 0),
            "norms_path": m.norms_path,
            "deletes_path": None,
            "num_segments": m.num_segments,
            "nb_doc_per_segment": m.nb_doc_per_segment,
        }},
        "k": k, "precision": "float32",
        "num_partitions": m.num_partitions,
        "postings_cache_mb": 0,
    }
    (files, pids), = _postings_file_groups({"": m}, 1)
    shard = _read_shard(files[""], pids, needed)
    terms = np.asarray(list(needed), dtype=object)
    total, outs = 0, []
    for pid in range(m.num_partitions):
        if pid not in shard:
            continue
        reset_decode_stats()
        norms_live = {"": shard[pid].norms_live(
            m.norms_path, None, m.num_partitions)}
        out = _compound_core(payload, pid, {"": shard[pid].by_term(terms)},
                             norms_live)
        if out is not None:
            outs.append(pd.DataFrame(out))
        total += reset_decode_stats()["doc_bytes"]
    return total, pd.concat(outs, ignore_index=True)


def test_based_should_clause_decodes_fewer_bytes(spark, tmp_path):
    """MAXSCORE-flavored lookup mode: a stopword SHOULD under a rare,
    segment-localized MUST decodes only the base docs' segments, never
    the stopword's full postings (DECODE_STATS evidence, kernel driven
    in-process) — and the lookup-mode result still matches the
    reference bit-exactly."""
    rng = np.random.default_rng(3)
    n = 480
    rows = []
    for i in range(n):
        words = list(rng.choice(VOCAB[3:], size=rng.integers(6, 16)))
        words.append("the")
        if i < 12:  # the rare term lives ONLY in the first segment(s)
            words.append("needle")
        rows.append(" ".join(words))
    cfg = IndexConfig(num_partitions=2, num_segments=8, build_chunks=1)
    m = build_index(
        spark,
        spark.createDataFrame(pd.DataFrame({"doc_id": range(n),
                                            "content": rows})),
        str(tmp_path / "segidx"), cfg, content_col="content",
        id_col="doc_id")

    based_bytes, based_out = _run_compound_core(
        spark, m, BooleanQuery(must=["needle"], should=["the"]))
    pure_bytes, _ = _run_compound_core(
        spark, m, BooleanQuery(should=["needle", "the"]))
    # the stopword decodes only the needle docs' segments (1 of 8)
    assert based_bytes < pure_bytes * 0.6

    exp = reference_compound(
        spark, pd.DataFrame({"doc_id": range(n), "content": rows}),
        {"content": m}, "content",
        [(0, BooleanQuery(must=["needle"], should=["the"]))], k=10)
    got = (based_out.sort_values(["qid", "score", "doc_id"],
                                 ascending=[True, False, True])
           .groupby("qid").head(10))
    pd.testing.assert_frame_equal(
        got.sort_values(["qid", "doc_id"]).reset_index(drop=True)
        .astype({"qid": "int64", "doc_id": "int64"}),
        exp.sort_values(["qid", "doc_id"]).reset_index(drop=True))


def test_compound_local_matches_distributed(spark, cidx):
    """Serving-path boolean/dismax (no Spark job) is row-identical to
    the distributed compound kernel, including deletes and the warm
    residency caches."""
    from pim_lucene_spark.operators.search import clear_local_cache
    from pim_lucene_spark.plans.compound import search_compound_local

    batch = list(BOOL_BATCH) + [  # fuzzy clauses serve locally too
        (20, DisMaxQuery(clauses=["red", "the fast"], tie=0.25)),
    ]
    clear_local_cache()
    for _ in range(2):  # second pass serves from residency caches
        a = (search_compound_local(cidx, batch, k=10)
             .sort_values(["qid", "doc_id"]).reset_index(drop=True))
        b = (search_boolean(spark, cidx, [x for x in batch if x[0] != 20],
                            k=10).toPandas())
        c = (search_dismax(spark, cidx, [x for x in batch if x[0] == 20],
                           k=10).toPandas())
        exp = (pd.concat([b, c], ignore_index=True)
               .sort_values(["qid", "doc_id"]).reset_index(drop=True))
        pd.testing.assert_frame_equal(a.astype(exp.dtypes.to_dict()), exp)

    # fuzzy-only boolean: local term-dictionary expansion, same rows as
    # the distributed kernel (round-5: the old NotImplementedError gap)
    fb = [(8, BooleanQuery(should=[FuzzyQuery("aple")]))]
    a = (search_compound_local(cidx, fb, k=10)
         .sort_values(["qid", "doc_id"]).reset_index(drop=True))
    b = (search_boolean(spark, cidx, fb, k=10).toPandas()
         .sort_values(["qid", "doc_id"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(a.astype(b.dtypes.to_dict()), b)


def test_sharded_server_serves_boolean_batches(spark, cidx):
    """ShardedServer batches may mix text and typed Boolean/DisMax
    queries; both placements match the distributed plans (per-pid top-k
    merge is exact: composition is per-doc, docs partition disjointly)."""
    from pim_lucene_spark.serving import ShardedServer

    batch = [(0, "red apple"),
             (1, BooleanQuery(must=["red"], should=["the fast", "pie"])),
             (2, DisMaxQuery(clauses=["sky", "grass"], tie=0.5))]
    exp_b = search_boolean(spark, cidx, [batch[1]], k=5).toPandas()
    exp_d = search_dismax(spark, cidx, [batch[2]], k=5).toPandas()
    for mode in ("replica", "shard"):
        with ShardedServer(cidx, num_workers=2, mode=mode) as srv:
            got = srv.search(batch, k=5)
        gb = (got[got.qid == 1][["qid", "doc_id", "score"]]
              .sort_values("doc_id").reset_index(drop=True))
        gd = (got[got.qid == 2][["qid", "doc_id", "score"]]
              .sort_values("doc_id").reset_index(drop=True))
        pd.testing.assert_frame_equal(
            gb.astype(exp_b.dtypes.to_dict()),
            exp_b.sort_values("doc_id").reset_index(drop=True))
        pd.testing.assert_frame_equal(
            gd.astype(exp_d.dtypes.to_dict()),
            exp_d.sort_values("doc_id").reset_index(drop=True))
        assert len(got[got.qid == 0]) > 0  # text query still served


def test_random_boolean_trees_kernel_matches_join(spark, cidx):
    """Property fuzz: random boolean trees (roles, msm, boosts, phrases,
    nesting) — the kernel and the reference must agree bit-for-bit at
    float32 (16 trees, nesting depth ≤ 1, batches of 8)."""
    rng = np.random.default_rng(42)

    def rand_clause(depth):
        r = rng.random()
        if depth < 1 and r < 0.15:
            return rand_bool(depth + 1)
        if r < 0.55:
            return str(rng.choice(VOCAB))
        if r < 0.8:
            return " ".join(rng.choice(VOCAB, size=2))
        return PhraseQuery(str(rng.choice(VOCAB)),
                           boost=float(rng.choice([0.5, 1.0, 2.0])))

    def rand_bool(depth=0):
        roles = {"must": [], "should": [], "must_not": [], "filter": []}
        n = rng.integers(1, 5)
        for _ in range(n):
            role = str(rng.choice(["must", "should", "should",
                                   "must_not", "filter"]))
            roles[role].append(rand_clause(depth))
        if not (roles["must"] or roles["should"] or roles["filter"]):
            roles["should"].append(str(rng.choice(VOCAB)))
        msm = (int(rng.integers(0, len(roles["should"]) + 1))
               if roles["should"] and rng.random() < 0.3 else 0)
        return BooleanQuery(boost=float(rng.choice([1.0, 1.0, 2.0])),
                            min_should_match=msm, **roles)

    trees = [(i, rand_bool()) for i in range(16)]
    for lo in range(0, 16, 8):
        batch = trees[lo:lo + 8]
        _cmp(search_boolean(spark, cidx, batch, k=10),
             _ref(spark, cidx, batch))


SLOPPY_BOOL_BATCH = [
    (0, BooleanQuery(must=[PhraseQuery("red apple", slop=2)],
                     should=["sky"])),
    (1, BooleanQuery(should=[PhraseQuery("the fast", slop=1), "tart"])),
    (2, BooleanQuery(must=["red"],
                     must_not=[PhraseQuery("apple pie", slop=3)])),
    (3, BooleanQuery(must=[PhraseQuery("red red apple", slop=4,
                                       boost=2.0)])),
    (4, BooleanQuery(should=[PhraseQuery("grass sky grass", slop=2)],
                     boost=1.5)),
]


@pytest.mark.parametrize("precision", ["float32", "float64"])
def test_sloppy_boolean_kernel_matches_join(spark, cidx, precision):
    """Sloppy phrase clauses host IN-KERNEL (stored position streams →
    SloppyPhraseMatcher) — bit-identical to the reference's scan-path
    clause frames, including repeated terms and sloppy-in-must_not."""
    got = _cmp(search_boolean(spark, cidx, SLOPPY_BOOL_BATCH, k=10,
                              precision=precision),
               _ref(spark, cidx, SLOPPY_BOOL_BATCH, precision=precision))
    assert set(got.qid) == {0, 1, 2, 3, 4}


def test_sloppy_dismax_kernel_matches_join(spark, cidx):
    batch = [
        (0, DisMaxQuery(clauses=[PhraseQuery("red apple", slop=2),
                                 "sky"], tie=0.3)),
        (1, DisMaxQuery(clauses=[PhraseQuery("the fast", slop=1)],
                        boost=2.0)),
    ]
    _cmp(search_dismax(spark, cidx, batch, k=10),
         _ref(spark, cidx, batch))


def test_compound_local_hosts_sloppy_clause(spark, cidx):
    """The serving path hosts sloppy clauses on the resident compound
    kernel (no Spark job) — row-identical to the distributed kernel."""
    from pim_lucene_spark.plans.compound import search_compound_local
    loc = (search_compound_local(cidx, SLOPPY_BOOL_BATCH, k=10)
           .sort_values(["qid", "doc_id"]).reset_index(drop=True))
    dist = (search_boolean(spark, cidx, SLOPPY_BOOL_BATCH, k=10).toPandas()
            .sort_values(["qid", "doc_id"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(loc.astype(dist.dtypes.to_dict()), dist,
                                  check_exact=True)


def test_sloppy_kernel_shuffle_is_topk_bounded(spark, cidx):
    """The former scale defect: a sloppy clause used to ship its FULL
    scan-path match set through the exchange (k=10**9 frame).  The
    kernel emits at most P·k composed rows per query."""
    from pim_lucene_spark.plans.compound import _SpecBuilder, eval_compound

    k = 5
    bq = BooleanQuery(must=[PhraseQuery("the fast", slop=3)],
                      should=["the"])  # stopword should + sloppy must
    b = _SpecBuilder(spark, {"": cidx}, "")
    specs = [b.bool_spec(0, bq, "")]
    partial = eval_compound(spark, {"": cidx}, specs, b.leaves, k,
                            "float32", slops=b.slops,
                            return_partial=True).toPandas()
    P = cidx.num_partitions
    assert 0 < len(partial) <= P * k


def test_explain_empty_analysis_clause_is_nonmatch(spark, cidx):
    """A clause that analyzes to zero terms never matches (search drops
    it) — explain must mirror that, not raise."""
    from pim_lucene_spark.operators.search import search
    from pim_lucene_spark.plans.explain import explain
    bq = BooleanQuery(must=["red"], should=["."])  # '.' → zero tokens?
    # whitespace tokenizer keeps '.', so use an empty-ish string clause
    bq = BooleanQuery(must=["red"], should=["  "])
    hits = search(spark, cidx, [(0, "red")], k=5).toPandas()
    ex = explain(cidx, bq, int(hits.doc_id.iloc[0]))
    assert ex["matches"]
    assert any(c["occur"] == "should" and not c["matches"]
               for c in ex["clauses"])


def test_fielded_compound_local_matches_distributed(spark, mfidx):
    """Multi-field serving path (no Spark job): fielded query strings
    through the resident compound kernel == the distributed fielded
    plans, including a FieldedQuery in a typed batch."""
    from pim_lucene_spark.plans.compound import search_compound_local

    strings = [(0, "+title:red body:apple"),
               (1, "title:green OR body:grass"),
               (2, "+apple -title:blue")]
    a = (mfidx.parse_and_query_local(strings, k=10)
         .sort_values(["qid", "doc_id"]).reset_index(drop=True))
    b = (mfidx.parse_and_query(strings, k=10).toPandas()
         .sort_values(["qid", "doc_id"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(a.astype(b.dtypes.to_dict()), b)

    batch = [(5, BooleanQuery(must=[FieldedQuery("title", "red")],
                              should=[FieldedQuery("body", "apple")]))]
    c = (search_compound_local(mfidx.manifests, batch, k=10,
                               default_field="body")
         .sort_values("doc_id").reset_index(drop=True))
    d = (search_boolean_fields(spark, mfidx.manifests, "body", batch,
                               k=10).toPandas()
         .sort_values("doc_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(c.astype(d.dtypes.to_dict()), d)


@pytest.mark.parametrize("precision", ["float32", "float64"])
@pytest.mark.parametrize("dense_factor", [0, 10**9])
def test_flat_batch_matches_per_spec(cidx, precision, dense_factor,
                                     monkeypatch):
    """The cross-query batched composition for flat pure-SHOULD
    booleans (both its dense-bincount and sparse-sorted variants,
    forced via the density factor) is bit-exact with the per-spec
    ``_eval_spec`` loop — including a boost-0 clause (membership
    without score contribution) and the eligibility split (msm=2 and
    must-clauses stay on the per-spec path)."""
    import pim_lucene_spark.plans.compound as C

    batch = [
        (0, BooleanQuery(should=["the", "fast", "red"])),          # heavy
        (1, BooleanQuery(should=["sunset", "tart"])),              # light
        (2, BooleanQuery(should=[TermQuery("red", boost=0.0),
                                 "blue"])),                        # 0-score
        (3, BooleanQuery(should=["pie"], min_should_match=1)),
        (4, BooleanQuery(should=["blue", "green"],
                         min_should_match=2)),                     # general
        (5, BooleanQuery(must=["red"], should=["pie"])),           # general
        (6, BooleanQuery(should=["zzz_absent"])),                  # empty
        (7, BooleanQuery(should=[PhraseQuery("the fast"), "sky"])),
    ]
    monkeypatch.setattr(C, "_FLAT_ROWS_PER_SPEC", 10**9)  # force flat
    monkeypatch.setattr(C, "_FLAT_DENSE_FACTOR", dense_factor)
    a = (C.search_compound_local(cidx, batch, k=10, precision=precision)
         .sort_values(["qid", "doc_id"]).reset_index(drop=True))
    monkeypatch.setattr(C, "_FLAT_BATCH", False)  # force per-spec
    b = (C.search_compound_local(cidx, batch, k=10, precision=precision)
         .sort_values(["qid", "doc_id"]).reset_index(drop=True))
    pd.testing.assert_frame_equal(a, b, check_exact=True)
    assert set(b.qid) >= {0, 1, 2, 3, 7}
