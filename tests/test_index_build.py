"""Build-side contracts: the encode kernel's token order, and the
dense-id check on user-supplied ids."""

import numpy as np
import pandas as pd
import pytest

from pim_lucene_spark.config import IndexConfig
from pim_lucene_spark.operators.index_build import _token_sort, build_index


def _tokens(rng, n, code_hi, rel_hi, pos_hi, P=4, pid=1):
    """``n`` distinct (code, doc, pos) tokens of one pid group (every
    doc ≡ pid mod P, as the build's pid routing guarantees)."""
    trip = np.unique(np.stack([rng.integers(0, code_hi, n),
                               rng.integers(0, rel_hi, n),
                               rng.integers(0, pos_hi, n)], axis=1), axis=0)
    trip = trip[rng.permutation(len(trip))]
    codes, rel, pos = (trip[:, i].astype(np.int64) for i in range(3))
    return codes, rel * P + pid, pos


@pytest.mark.parametrize("wide", [False, True])
def test_token_sort_matches_lexsort(wide):
    """The packed single-key sort and its lexsort fallback (keys wider
    than 63 bits) both give the (term, doc, pos) order of a lexsort."""
    rng = np.random.default_rng(11)
    if wide:   # 2^21 codes, 2^30 rel docs, 2^20 positions: 71 bits
        codes, doc, pos = _tokens(rng, 5000, 1 << 21, 1 << 30, 1 << 20)
        codes[0], doc[0], pos[0] = (1 << 21) - 1, ((1 << 30) - 1) * 4 + 1, \
            (1 << 20) - 1
    else:
        codes, doc, pos = _tokens(rng, 5000, 50, 300, 40)
    got = _token_sort(codes, doc, pos, 4)
    np.testing.assert_array_equal(got, np.lexsort((pos, doc, codes)))


@pytest.mark.parametrize("ids", [range(250, 500),
                                 [i for i in range(251) if i != 100]])
def test_non_dense_user_ids_rejected(spark, tmp_index_dir, ids):
    """User ids outside 0..N-1 (an offset range, or a hole) fail with
    the contract error before any kernel runs."""
    ids = list(ids)
    docs = pd.DataFrame({"doc_id": ids,
                         "content": [f"alpha beta w{i % 7}" for i in ids]})
    with pytest.raises(ValueError, match="doc ids must be dense"):
        build_index(spark, spark.createDataFrame(docs), tmp_index_dir,
                    IndexConfig(4, 2, build_chunks=1),
                    content_col="content", id_col="doc_id")


def test_duplicate_user_ids_rejected(spark, tmp_index_dir):
    """40 docs with id 5 replaced by a second 6: count, min and max all
    look dense, the distinct count does not — the contract error, not a
    failure inside the norms kernel."""
    ids = [6 if i == 5 else i for i in range(40)]
    docs = pd.DataFrame({"doc_id": ids,
                         "content": [f"alpha beta w{i % 7}" for i in ids]})
    with pytest.raises(ValueError, match="doc ids must be dense"):
        build_index(spark, spark.createDataFrame(docs), tmp_index_dir,
                    IndexConfig(4, 2, build_chunks=1),
                    content_col="content", id_col="doc_id")
