"""Scoring placement: `search` scores a one-task plan in the driver and
any other plan on executors.  Both placements run the same scorer on the
same rows, so they must return identical results — bit-equal scores, not
merely close ones — and both must match the oracle."""

from __future__ import annotations

import math

import pytest

from sphinxsearchengine_spark.config import EngineConfig
from sphinxsearchengine_spark.corpus import PINNED_NOW, derive_documents, generate_corpus
from sphinxsearchengine_spark.engine import Searcher
from sphinxsearchengine_spark.index.builder import build_index
from sphinxsearchengine_spark.oracle import OracleEngine
from sphinxsearchengine_spark.query import executor as X

from test_engine import QUERIES

# 1000 docs -> 8 docid blocks: selective queries restrict the scan to a
# block list, broad ones scan unfiltered
N_DOCS = 1000

BLOCKMAX_QUERIES = [
    dict(query=q) for q in [
        "hotterm engine", "needleuniq hotterm", '"alpha beta" engine',
        'merge|"alpha beta" engine',
    ]
] + [dict(query="hotterm", limit=3), dict(query="hotterm", limit=10)]


@pytest.fixture(scope="module")
def env(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("placement") / "idx")
    docs = derive_documents(generate_corpus(spark, N_DOCS, partitions=4))
    build_index(spark, docs, idx, EngineConfig(term_buckets=8), salt_factor=2)
    return Searcher(spark, idx, cache_docs=True), OracleEngine(docs.toPandas())


def _run(searcher, monkeypatch, gate, query, kw):
    monkeypatch.setattr(X, "_driver_scorable", gate)
    rows = searcher.search(query, **kw).collect()
    plan = searcher.last_plan
    return [(r.rank, r.docid, r.score, r.weight_raw) for r in rows], plan


@pytest.mark.parametrize("q", QUERIES + BLOCKMAX_QUERIES,
                         ids=[str(q) for q in QUERIES + BLOCKMAX_QUERIES])
def test_placements_identical(env, monkeypatch, q):
    searcher, oracle = env
    kw = dict(q)
    query = kw.pop("query")
    kw.setdefault("limit", 20)
    kw.setdefault("now_ts", PINNED_NOW)
    on_driver, plan_d = _run(searcher, monkeypatch,
                             lambda plan: not plan.two_pass, query, kw)
    on_execs, plan_e = _run(searcher, monkeypatch, lambda plan: False, query, kw)
    assert on_driver == on_execs
    if plan_d is not None and plan_d["scorer"] is not None:
        # the forced placements really ran (a None scorer: nothing to score)
        assert (plan_d["scorer"], plan_e["scorer"]) == ("driver", "executors")
    want = oracle.search(query, **kw)
    assert [r[:2] for r in on_driver] == [(w["rank"], w["docid"]) for w in want]
    for r, w in zip(on_driver, want):
        assert math.isclose(r[2], w["score"], rel_tol=1e-9, abs_tol=1e-12), (r, w)


def test_gate_bounds_collected_bytes(env):
    """The driver gate checks the dictionary's byte bound, not only the
    row estimate: a plan under the row limit but over the byte budget
    is scored on executors."""
    searcher, _ = env
    ctx = searcher._ctx()
    prune = {"topn": 20, "order": "weight", "sort": "desc"}
    plan = X.plan_matches(searcher.spark, searcher.index_dir, "hotterm", None,
                          PINNED_NOW, prune, ctx)
    info = plan.info
    assert info["est_rows"] <= X.SCORE_ROWS_PER_TASK
    assert 0 < info["input_bytes_ub"] <= X.DRIVER_SCORE_BYTES
    assert X._driver_scorable(plan)
    # the bound covers what the driver collects
    got = plan.inputs(plan.blocks, None).toArrow()
    assert got.nbytes <= info["input_bytes_ub"]
    info["input_bytes_ub"] = X.DRIVER_SCORE_BYTES + 1
    assert not X._driver_scorable(plan)


def test_scorer_ignores_row_order(env):
    """Scores are bit-equal whatever order the rows reach the scorer in
    (the exchange's fetch order, or the driver's collect)."""
    import numpy as np
    import pandas as pd

    searcher, _ = env
    rng = np.random.default_rng(7)
    for q in ["pars*", "searches | merge", "index search"]:
        plan = X.plan_matches(searcher.spark, searcher.index_dir, q, None,
                              PINNED_NOW, None, searcher._ctx())
        rows = plan.inputs(plan.blocks, None).toArrow().to_pandas()

        def scores(pdf):
            out = pd.concat(list(plan.scorer(iter([pdf]))))
            return out.sort_values("docid")[["docid", "weight_raw", "score"]]

        base = scores(rows)
        for _ in range(5):
            shuffled = rows.iloc[rng.permutation(len(rows))].reset_index(drop=True)
            assert scores(shuffled).values.tolist() == base.values.tolist(), q
