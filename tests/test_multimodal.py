"""Multimodal plumbing: Arrow-batched feature extraction with injected
decoders, and the optional real-codec gate (PIL/soundfile)."""

import numpy as np
import pandas as pd
import pytest

from pim_lucene_spark.config import IndexConfig
from pim_lucene_spark.operators import multimodal as mm
from pim_lucene_spark.operators.index_build import build_index


def _media(spark, n=6):
    pdf = pd.DataFrame({
        "doc_id": range(n),
        "content": [f"payload number {i} {'x' * i}" for i in range(n)],
    })
    return mm.as_media(spark.createDataFrame(pdf))


def test_fake_decoder_plumbing(spark):
    feats = mm.extract_features(_media(spark),
                                decoder=mm.fake_decoder).toPandas()
    assert len(feats) == 6
    for f in feats.feature:
        assert len(f) == mm.FEATURE_DIM
        assert abs(float(np.sum(f)) - 1.0) < 1e-5


def test_decode_media_stub_without_codecs(spark):
    """Where the optional codec libs are absent, the stub contract must
    hold: a clear NotImplementedError naming the injection hook."""
    try:
        import PIL  # noqa: F401
        pytest.skip("Pillow installed — the real-decode test covers this")
    except ImportError:
        pass
    with pytest.raises(NotImplementedError, match="decoder"):
        mm.decode_media(b"\x89PNG\r\n", "image/png")
    with pytest.raises(NotImplementedError, match="decoder"):
        mm.decode_media(b"", "application/octet-stream")


def test_decode_media_real_image():
    """Real decode path — runs only where Pillow exists (skipped in this
    container; the gate keeps deployments zero-code-change)."""
    PIL = pytest.importorskip("PIL")  # noqa: F841
    import io

    from PIL import Image
    buf = io.BytesIO()
    Image.fromarray(
        (np.arange(64, dtype=np.uint8).reshape(8, 8) * 4)).save(buf, "PNG")
    f = mm.decode_media(buf.getvalue(), "image/png")
    assert f.shape == (mm.FEATURE_DIM,) and f.dtype == np.float32
    assert abs(float(f.sum()) - 1.0) < 1e-5


def test_decode_media_real_audio():
    sf = pytest.importorskip("soundfile")
    import io
    buf = io.BytesIO()
    sf.write(buf, np.sin(np.linspace(0, 20, 8000)), 8000, format="WAV")
    f = mm.decode_media(buf.getvalue(), "audio/wav")
    assert f.shape == (mm.FEATURE_DIM,) and abs(float(f.sum()) - 1.0) < 1e-5


# ---------------------------------------------------------------- hybrid

def _clustered_emb(n=240, dim=16, seed=11, clusters=24):
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((clusters, dim))
    m = (centers[np.arange(n) % clusters]
         + 0.25 * rng.standard_normal((n, dim))).astype(np.float32)
    return pd.DataFrame({"vec_id": range(n),
                         "embedding": [list(map(float, r)) for r in m]})


@pytest.fixture(scope="module")
def hybrid_setup(spark, tmp_path_factory):
    rng = np.random.default_rng(7)
    vocab = ["spark", "merge", "scan", "row", "fast", "data", "join"]
    n = 240
    docs = pd.DataFrame({
        "doc_id": range(n),
        "content": [" ".join(rng.choice(vocab, size=8)) for _ in range(n)],
    })
    m = build_index(spark, spark.createDataFrame(docs),
                    str(tmp_path_factory.mktemp("hybidx")),
                    IndexConfig(2, 1, build_chunks=1),
                    content_col="content", id_col="doc_id")
    emb = _clustered_emb(n)
    # query pseudo-vectors live at ids >= n; make q 300 and 301 identical
    # so each would rank #1 in the other's dense list if not excluded
    qv = emb.iloc[3].embedding
    extra = pd.DataFrame({"vec_id": [300, 301],
                          "embedding": [list(qv), list(qv)]})
    emb_all = spark.createDataFrame(pd.concat([emb, extra],
                                              ignore_index=True))
    return m, emb_all


def test_hybrid_excludes_all_query_vectors(spark, hybrid_setup):
    from pim_lucene_spark.operators.fusion import hybrid_search
    m, emb = hybrid_setup
    got = hybrid_search(spark, m, emb,
                        [(0, "spark merge", 300), (1, "fast data", 301)],
                        k=10, n_candidates=15, ann="bruteforce").toPandas()
    assert not set(got.doc_id) & {300, 301}
    assert set(got.qid) == {0, 1}


def test_hybrid_lsh_path_and_auto(spark, hybrid_setup):
    """ann='lsh' fuses through the bucketed dense path with recall@10
    >= 0.9 vs the brute-force fusion; ann='auto' picks by corpus size."""
    from pim_lucene_spark.operators.fusion import hybrid_search
    m, emb = hybrid_setup
    batch = [(0, "spark merge", 300), (1, "fast data", 301)]
    kw = dict(k=10, n_candidates=15, num_planes=6, num_tables=8, dim=16)
    exact = hybrid_search(spark, m, emb, batch, ann="bruteforce",
                          **kw).toPandas()
    lsh = hybrid_search(spark, m, emb, batch, ann="lsh", **kw).toPandas()
    assert not set(lsh.doc_id) & {300, 301}
    ex = exact.groupby("qid").doc_id.apply(set).to_dict()
    ap = lsh.groupby("qid").doc_id.apply(set).to_dict()
    hits = sum(len(ex[q] & ap.get(q, set())) for q in ex)
    assert hits / sum(len(v) for v in ex.values()) >= 0.9
    # auto: below threshold == bruteforce result, above == lsh result
    auto_bf = hybrid_search(spark, m, emb, batch, ann="auto",
                            lsh_threshold=10 ** 6, **kw).toPandas()
    pd.testing.assert_frame_equal(
        auto_bf.sort_values(["qid", "doc_id"]).reset_index(drop=True),
        exact.sort_values(["qid", "doc_id"]).reset_index(drop=True))
    auto_lsh = hybrid_search(spark, m, emb, batch, ann="auto",
                             lsh_threshold=0, **kw).toPandas()
    pd.testing.assert_frame_equal(
        auto_lsh.sort_values(["qid", "doc_id"]).reset_index(drop=True),
        lsh.sort_values(["qid", "doc_id"]).reset_index(drop=True))
