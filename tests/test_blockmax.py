"""Block-max metadata: build-side table + query-side block skipping
(north rule: block-max WAND; VERDICT r1 #4).

The planner must (a) actually skip blocks on selective AND queries and
(b) never change results — asserted against a no-blockmax run and the
pure-Python oracle.
"""

from __future__ import annotations

import math
import os

import pytest

from pyspark.sql import functions as F

from sphinxsearchengine_spark.config import EngineConfig
from sphinxsearchengine_spark.corpus import PINNED_NOW, derive_documents, generate_corpus
from sphinxsearchengine_spark.index.builder import block_shift_for, build_index
from sphinxsearchengine_spark.index.layout import IndexLayout
from sphinxsearchengine_spark.oracle import OracleEngine
from sphinxsearchengine_spark.query.executor import search

# 3000 docs -> block_shift 59 -> 32 docid blocks: enough blocks for the
# selective-skip and two-pass (>8 surviving blocks) paths to be real.
N_DOCS = 3000


@pytest.fixture(scope="module")
def bm_env(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("bmidx"))
    docs = derive_documents(generate_corpus(spark, N_DOCS, partitions=4))
    build_index(spark, docs, idx, EngineConfig(term_buckets=8), salt_factor=2)
    oracle = OracleEngine(docs.toPandas())
    return idx, oracle


def test_block_shift_sizing():
    assert block_shift_for(0) == 63
    assert block_shift_for(100) == 63
    s = block_shift_for(128_000)  # 1000 blocks -> 10 bits
    assert 64 - s == 10
    assert block_shift_for(10**12) >= 31


def test_blockmax_table_written(spark, bm_env):
    idx, _ = bm_env
    layout = IndexLayout(idx)
    meta = layout.meta
    assert meta.block_shift is not None
    bmx = spark.read.parquet(layout.blockmax(meta.segments[0]["name"]))
    row = bmx.filter(F.col("term") == "hotterm").agg(
        F.sum("n").alias("df"), F.max("max_tf").alias("mtf"),
        F.count(F.lit(1)).alias("nblocks"),
    ).collect()[0]
    assert row.df > N_DOCS * 0.3          # planted ~50% hot term
    assert row.nblocks > 1                # spread over multiple blocks
    # dictionary rolls up exactly from blockmax
    dic = spark.read.parquet(layout.dict(meta.segments[0]["name"]))
    drow = dic.filter(F.col("term") == "hotterm").collect()[0]
    assert drow.df == row.df


def test_selective_query_skips_blocks(spark, bm_env):
    idx, _ = bm_env
    ctx: dict = {"dict_pdf": None, "docs_df": None}
    res = search(
        spark, idx, "needleuniq hotterm", limit=5, now_ts=PINNED_NOW, _ctx=ctx
    ).collect()
    assert len(res) == 1  # needleuniq planted in exactly one doc
    info = ctx["block_plan"]
    assert info["planned"]
    layout = IndexLayout(idx)
    total_blocks = spark.read.parquet(
        layout.blockmax(layout.meta.segments[0]["name"])
    ).filter(F.col("term") == "hotterm").count()
    # rarest group (needleuniq) bounds the scan to ~1 block out of many
    assert info["n_blocks"] <= 4 < total_blocks


def test_pruned_results_identical(spark, bm_env):
    idx, oracle = bm_env
    for q in ["hotterm engine", "needleuniq hotterm", '"alpha beta" engine',
              "index search", "merge|\"alpha beta\" engine"]:
        with_prune = search(spark, idx, q, limit=10, now_ts=PINNED_NOW).collect()
        without = search(
            spark, idx, q, limit=10, now_ts=PINNED_NOW,
            _ctx={"no_blockmax": True, "dict_pdf": None, "docs_df": None},
        ).collect()
        assert [r.docid for r in with_prune] == [r.docid for r in without], q
        want = oracle.search(q, limit=10, now_ts=PINNED_NOW)
        assert [r.docid for r in with_prune] == [w["docid"] for w in want], q
        for r, w in zip(with_prune, want):
            assert math.isclose(r.score, w["score"], rel_tol=1e-9), (q, r.docid)


def test_searcher_pinned_pandas_planner(spark, bm_env):
    """Searcher pins blockmax in driver RAM; planning must cost no Spark
    job and produce identical results."""
    from sphinxsearchengine_spark.engine import Searcher

    idx, oracle = bm_env
    s = Searcher(spark, idx)
    assert s._blockmax_pdf is not None
    ctx = s._ctx()
    res = __import__(
        "sphinxsearchengine_spark.query.executor", fromlist=["search"]
    ).search(spark, idx, "needleuniq hotterm", limit=5, now_ts=PINNED_NOW, _ctx=ctx)
    got = res.collect()
    assert ctx["block_plan"]["blockmax"] == "pinned"
    assert ctx["block_plan"]["n_blocks"] <= 4
    want = oracle.search("needleuniq hotterm", limit=5, now_ts=PINNED_NOW)
    assert [r.docid for r in got] == [w["docid"] for w in want]


def test_two_pass_tau_path(spark, bm_env, monkeypatch):
    """The two-pass τ branch runs only for plans larger than one scorer
    task; force it by shrinking the task size and check rank identity
    still holds — τ skipping must be invisible."""
    from sphinxsearchengine_spark.query import executor as X

    idx, oracle = bm_env
    want = oracle.search("hotterm", limit=3, now_ts=PINNED_NOW)

    # default: the 3000-doc hotterm plan fits one task → one pass
    ctx: dict = {"dict_pdf": None, "docs_df": None}
    got = search(spark, idx, "hotterm", limit=3, now_ts=PINNED_NOW, _ctx=ctx).collect()
    info = ctx["block_plan"]
    assert info["planned"] and info["n_blocks"] > 8
    assert info["est_rows"] <= X.SCORE_ROWS_PER_TASK
    assert (info["passes"], info["scorer_tasks"], info["tau"]) == (1, 1, None)
    assert [r.docid for r in got] == [w["docid"] for w in want]

    # limit 3: τ from pass A cuts every other block; limit 10: pass B
    # finishes with the unfiltered scan minus pass A's blocks
    monkeypatch.setattr(X, "SCORE_ROWS_PER_TASK", 64)
    pass_b = []
    for limit in (3, 10):
        want = oracle.search("hotterm", limit=limit, now_ts=PINNED_NOW)
        ctx = {"dict_pdf": None, "docs_df": None}
        got = search(spark, idx, "hotterm", limit=limit, now_ts=PINNED_NOW,
                     _ctx=ctx).collect()
        info = ctx["block_plan"]
        assert info["passes"] == 2 and info["tau"] is not None
        assert info["scorer_tasks"] > 1
        pass_b.append(info["pass_b_blocks"])
        assert [r.docid for r in got] == [w["docid"] for w in want]
        for r, w in zip(got, want):
            assert math.isclose(r.score, w["score"], rel_tol=1e-9), r.docid
    assert pass_b[0] == 0 < pass_b[1]
