"""Searcher facade: cached dictionary/docs must not change results."""

from __future__ import annotations

import math
import time

import pytest

from sphinxsearchengine_spark.config import EngineConfig
from sphinxsearchengine_spark.corpus import (
    PINNED_NOW,
    derive_documents,
    generate_corpus,
)
from sphinxsearchengine_spark.engine import Searcher
from sphinxsearchengine_spark.index.builder import build_index
from sphinxsearchengine_spark.query.executor import search


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("srch") / "idx")
    docs = derive_documents(generate_corpus(spark, 200, partitions=4))
    build_index(spark, docs, d, EngineConfig(term_buckets=8), salt_factor=2)
    return d


def test_searcher_matches_plain_search(spark, idx):
    s = Searcher(spark, idx, cache_docs=True)
    assert s._dict_pdf is not None  # small index → dict pinned in driver RAM
    for q in ["hotterm", "index search", '"alpha beta"', "pars*", "=running"]:
        a = s.search(q, limit=10, now_ts=PINNED_NOW).collect()
        b = search(spark, idx, q, limit=10, now_ts=PINNED_NOW).collect()
        assert [r.docid for r in a] == [r.docid for r in b], q
        for x, y in zip(a, b):
            assert math.isclose(x.score, y.score, rel_tol=1e-12)


def test_searcher_meta(spark, idx):
    s = Searcher(spark, idx)
    res, meta = s.search_with_meta("hotterm", limit=5, now_ts=PINNED_NOW)
    assert meta["total"] >= len(res.collect())
    assert meta["keywords"][0]["docs"] > 0


@pytest.fixture()
def small_idx(spark, tmp_path):
    d = str(tmp_path / "idx")
    docs = derive_documents(generate_corpus(spark, 120, partitions=4))
    build_index(spark, docs, d, EngineConfig(term_buckets=8), salt_factor=2)
    return d, docs


def _same_rows(a, b, q):
    assert [r.docid for r in a] == [r.docid for r in b], q
    for x, y in zip(a, b):
        assert math.isclose(x.score, y.score, rel_tol=1e-12), q


def test_stale_searcher_repins_after_upsert(spark, small_idx):
    """A Searcher pinned before an upsert must serve the upserted doc:
    it notices the meta generation moved and re-pins."""
    from pyspark.sql import functions as F

    from sphinxsearchengine_spark.index.lifecycle import upsert

    d, docs = small_idx
    s = Searcher(spark, d, cache_docs=True)
    s.search("hotterm", limit=5, now_ts=PINNED_NOW).collect()
    body = "brandnewtoken hotterm appears here"
    new_doc = (
        docs.limit(1)
        .withColumn("docid", F.lit(999_999_999_001))
        .withColumn("content", F.lit(body))
        .withColumn("content_sha", F.sha2(F.lit(body), 256))
    )
    upsert(spark, d, new_doc, EngineConfig(term_buckets=8))
    for q in ["brandnewtoken", "brandnewtoken hotterm", "hotterm"]:
        a = s.search(q, limit=10, now_ts=PINNED_NOW).collect()
        b = search(spark, d, q, limit=10, now_ts=PINNED_NOW).collect()
        _same_rows(a, b, q)
        if q.startswith("brandnewtoken"):
            assert [r.docid for r in a] == [999_999_999_001], q


def test_stale_searcher_after_delete_and_compact(spark, small_idx):
    """After compact the pinned postings relation would point at deleted
    segment files; the Searcher must re-pin instead of failing or serving
    the old view."""
    from sphinxsearchengine_spark.index.lifecycle import compact, delete

    d, _docs = small_idx
    s = Searcher(spark, d)
    before = s.search("hotterm", limit=10, now_ts=PINNED_NOW).collect()
    gone = before[0].docid
    delete(spark, d, [gone])
    compact(spark, d, EngineConfig(term_buckets=8))
    for q in ["hotterm", "index search", '"alpha beta"']:
        a = s.search(q, limit=10, now_ts=PINNED_NOW).collect()
        b = search(spark, d, q, limit=10, now_ts=PINNED_NOW).collect()
        _same_rows(a, b, q)
        assert gone not in {r.docid for r in a}, q


def test_missing_blockmax_recorded(spark, small_idx):
    """An index without a blockmax table is served unpruned, and the
    Searcher says why the table is not pinned."""
    import shutil

    from sphinxsearchengine_spark.index.layout import IndexLayout

    d, _docs = small_idx
    layout = IndexLayout(d)
    for seg in layout.meta.segments:
        shutil.rmtree(layout.blockmax(seg["name"]))
    s = Searcher(spark, d)
    assert s._blockmax_pdf is None
    assert "blockmax" in s.unpinned and "AnalysisException" in s.unpinned["blockmax"]
    assert s._dict_pdf is not None and "dict" not in s.unpinned
    ctx = s._ctx()
    a = search(spark, d, "needleuniq hotterm", limit=5, now_ts=PINNED_NOW,
               _ctx=ctx).collect()
    # the planner cannot collect from the table either: it falls back
    # to the unpruned scan and records the reason
    assert "fallback" in ctx["block_plan"] and not ctx["block_plan"]["planned"]
    b = search(spark, d, "needleuniq hotterm", limit=5, now_ts=PINNED_NOW,
               _ctx={"no_blockmax": True}).collect()
    _same_rows(a, b, "needleuniq hotterm")
