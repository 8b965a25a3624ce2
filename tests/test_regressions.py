"""Regression tests for round-1 review findings (ADVICE.md r1).

These are unit-level tripwires; the E2E rank-identity suite in
test_engine.py covers the same paths end-to-end.
"""

from __future__ import annotations

import pandas as pd

from sphinxsearchengine_spark import codec
from sphinxsearchengine_spark.query import ranker


def _kw_row(docid=1, tid=0, gid=0, field=0, positions=(1,)):
    # r6: the scorer input carries a dense int term id (tid) instead of
    # the term string — the string never crosses the Python boundary
    return {
        "docid": docid, "tid": tid, "gid": gid, "idf": 0.1,
        "is_pm": 0, "midx": -1, "pid": -1, "field": field,
        "tf": len(positions), "uex": 0,
        "pos_vb": codec.delta_encode_small(list(positions)),
        "lang": "en", "date_insert": 0, "date_modify": 0,
    }


def test_scorer_no_crash_on_empty_phrase_member_frame():
    """ADVICE r1 (high): a partition whose AND-surviving docs carry zero
    phrase-member rows used to IndexError inside _decode_all."""
    from sphinxsearchengine_spark.query.executor import _make_scorer

    scorer = _make_scorer(
        2, {1: {0: 2}}, now_ts=0, weights_by_fid=[1, 20, 2]
    )
    pdf = pd.DataFrame([_kw_row()])
    out = list(scorer(iter([pdf])))
    assert out == []  # doc can't satisfy the phrase group -> no matches


def test_scorer_empty_input_frames():
    from sphinxsearchengine_spark.query.executor import _make_scorer

    scorer = _make_scorer(1, {}, now_ts=0, weights_by_fid=[1, 20, 2])
    assert list(scorer(iter([]))) == []
    assert list(scorer(iter([pd.DataFrame(columns=list(_kw_row()))]))) == []


def test_idf_clamped_when_df_exceeds_n_docs():
    """ADVICE r1 (high): segment-summed df > live n_docs (post-upsert /
    post-delete) used to raise math domain error."""
    assert ranker.idf(5, 4, 1) == 0.0
    assert ranker.idf(4, 4, 1) == 0.0     # x = 1/4 <= 1 -> clamp
    assert ranker.idf(1000, 10, 2) == 0.0
    assert ranker.idf(1, 100, 1) > 0.0
    # clamp boundary: df == (n+1)/2 -> x == 1 -> exactly 0
    assert ranker.idf(50, 99, 1) == 0.0


def test_searcher_refresh_preserves_dict_cache_rows(spark, tmp_path):
    """ADVICE r1 (low): refresh() used to reset dict_cache_rows to the
    default, silently re-enabling full driver-side dictionary collect."""
    from sphinxsearchengine_spark.config import EngineConfig
    from sphinxsearchengine_spark.corpus import derive_documents, generate_corpus
    from sphinxsearchengine_spark.engine import Searcher
    from sphinxsearchengine_spark.index.builder import build_index

    idx = str(tmp_path / "idx")
    docs = derive_documents(generate_corpus(spark, 40, partitions=2))
    build_index(spark, docs, idx, EngineConfig(term_buckets=4), salt_factor=1)
    s = Searcher(spark, idx, dict_cache_rows=0)
    assert s._dict_pdf is None
    s.refresh()
    assert s._dict_pdf is None
    assert s.dict_cache_rows == 0


def test_scorer_field_pack_width_from_config():
    """ADVICE r6: the scorer's (docid rank, field) pack takes its field
    width from config.FIELDS, so every field id round-trips and a doc
    matched only in the highest-id field is scored with that field's
    weight."""
    import numpy as np

    from sphinxsearchengine_spark.config import FIELDS
    from sphinxsearchengine_spark.query import executor as X

    top = max(FIELDS.values())
    assert X._FIELD_BITS == top.bit_length()
    assert X._FIELD_MASK == (1 << X._FIELD_BITS) - 1
    rank = np.arange(0, 1 << 20, 4099, dtype=np.int64)
    for f in FIELDS.values():
        packed = (rank << X._FIELD_BITS) | f
        assert (packed >> X._FIELD_BITS == rank).all()
        assert (packed & X._FIELD_MASK == f).all()

    # two adjacent keywords in the highest-id field → LCS 2 there
    weights = [1, 20, 2]
    scorer = X._make_scorer(2, {}, now_ts=0, weights_by_fid=weights)
    rows = [
        _kw_row(docid=d, tid=g, gid=g, field=top, positions=(g + 1,))
        for d in (5, 9) for g in (0, 1)
    ]
    out = pd.concat(list(scorer(iter([pd.DataFrame(rows)]))))
    want = 2 * weights[top] / ranker.max_lcs(2) * 2000
    assert sorted(out["docid"]) == [5, 9]
    assert np.allclose(out["prox"], want, rtol=0, atol=1e-12)
