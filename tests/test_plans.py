"""Physical-plan assertions (SURVEY.md §4): the declarative parts of the
query pipeline must keep their Catalyst optimizations — bucket partition
pruning + term predicate pushdown on the postings scan, a docid-filtered
hydration lookup, column pruning away of the fat pos_vb/content columns
where they are not needed."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from sphinxsearchengine_spark.config import EngineConfig
from sphinxsearchengine_spark.corpus import (
    PINNED_NOW,
    derive_documents,
    generate_corpus,
)
from sphinxsearchengine_spark.index.builder import build_index
from sphinxsearchengine_spark.index.layout import IndexLayout
from sphinxsearchengine_spark.query.executor import search, score_matches


@pytest.fixture(scope="module")
def idx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("plans") / "idx")
    docs = derive_documents(generate_corpus(spark, 150, partitions=4))
    build_index(spark, docs, d, EngineConfig(term_buckets=8), salt_factor=2)
    return d


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_postings_scan_is_bucket_pruned(spark, idx):
    scored = score_matches(spark, idx, "hotterm", now_ts=PINNED_NOW)
    plan = _plan(scored)
    # partition pruning on the bucket partition column
    assert "bucket" in plan
    # term predicate pushed to the parquet reader
    assert "PushedFilters" in plan and "term" in plan.split("PushedFilters", 1)[1]


def test_hydration_reads_only_topk_docids(spark, idx):
    """Hydration is one lookup of the top-k docids: the docid filter
    reaches the docs scan (pinned cache or parquet) and nothing shuffles;
    a warm one-task query starts at most 3 Spark stages (the scan job and
    the lookup)."""
    from sphinxsearchengine_spark import metrics as M
    from sphinxsearchengine_spark.engine import Searcher
    from sphinxsearchengine_spark.query.executor import hydration_frame

    ids = [r.docid for r in search(spark, idx, "hotterm", limit=5,
                                   now_ts=PINNED_NOW).collect()]
    assert len(ids) == 5

    def scan_filter(ctx) -> str:
        """The topmost docs scan of the lookup, after its output columns."""
        plan = _plan(hydration_frame(spark, idx, ids, ctx))
        assert "Exchange" not in plan, plan
        scan = next(ln for ln in plan.splitlines()
                    if "FileScan" in ln or "InMemoryTableScan" in ln)
        return scan.split("]", 1)[1]

    # live_docs' parquet scan (before anything caches the docs), then
    # the Searcher's pinned docs
    assert "PushedFilters: [In(docid, [" in scan_filter(None)
    s = Searcher(spark, idx, cache_docs=True)
    assert f"IN ({ids[0]}," in scan_filter(s._ctx())
    s.search("hotterm", limit=5, now_ts=PINNED_NOW).collect()
    sid = M.latest_stage_id(spark)
    s.search("hotterm", limit=5, now_ts=PINNED_NOW).collect()
    assert s.last_plan["scorer"] == "driver"
    assert len(M.stage_metrics(spark, sid)) <= 3


# `search`'s result schema before hydration moved to the driver
PARENT_RESULT_SCHEMA = (
    "struct<rank:int,docid:bigint,score:double,weight_raw:double,repo:string,"
    "path:string,commit:string,lang:string,content_sha:string,"
    "category:array<string>,date_insert:bigint,date_modify:bigint>"
)


def test_result_schema_contract(spark, idx, monkeypatch):
    """Hits, zero hits and an offset past the end all return exactly
    RESULT_SCHEMA (the pre-change schema, rank NOT NULL); an empty
    result is a 0-row LocalRelation that ran no hydration job."""
    from pyspark.sql.types import StructType

    from sphinxsearchengine_spark.query import executor as X

    want = StructType.fromDDL(X.RESULT_SCHEMA)
    assert want.simpleString() == PARENT_RESULT_SCHEMA
    assert want.fieldNames() == X.RESULT_COLS
    assert [f.nullable for f in want] == [False] + [True] * 11
    hydrated = []
    real = X.hydration_frame
    monkeypatch.setattr(X, "hydration_frame",
                        lambda *a, **k: hydrated.append(1) or real(*a, **k))
    for q, kw, n in [("hotterm", {}, 5), ("zzznotaword", {}, 0),
                     ("hotterm", {"offset": 10_000}, 0)]:
        hydrated.clear()
        res = search(spark, idx, q, limit=5, now_ts=PINNED_NOW, **kw)
        assert res.schema == want, (q, kw)
        assert len(res.collect()) == n
        plan = res._jdf.queryExecution().optimizedPlan().toString()
        assert plan.startswith("LocalRelation"), plan
        assert len(hydrated) == (1 if n else 0), (q, kw)


def test_dict_scan_prunes_columns(spark, idx):
    layout = IndexLayout(idx)
    dic = spark.read.parquet(layout.dict("seg_00000")).filter(
        F.col("term") == "hotterm"
    ).select("term", "df")
    plan = _plan(dic)
    after = plan.split("ReadSchema", 1)[1][:200] if "ReadSchema" in plan else plan
    assert "hits" not in after  # unselected stat column not read


def test_lang_filter_pushed_down(spark, idx):
    scored = score_matches(
        spark, idx, "hotterm", langs=["python"], now_ts=PINNED_NOW
    )
    plan = _plan(scored)
    pushed = plan.split("PushedFilters", 1)[1][:400] if "PushedFilters" in plan else ""
    assert "lang" in pushed  # Q6 attribute filter reaches the parquet scan


def test_derive_documents_has_no_python_udf(spark):
    """The corpus → documents derivation (the flagship build's first
    stage) must stay entirely inside whole-stage codegen: no
    BatchEvalPython / ArrowEvalPython round-trip (VERDICT r4 'what's
    wrong' #1 — the old per-row mangle UDF meant 2×10^12 scalar Python
    calls at target scale)."""
    docs = derive_documents(generate_corpus(spark, 50, partitions=2))
    plan = _plan(docs)
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan


def test_ft_bm25_topk_scans_documents_once(spark):
    """The SQL-profile BM25 gate query must read the documents parquet
    exactly ONCE: the r3 plan joined against a dfreq aggregate whose
    build side re-ran the full scan+explode (a second corpus pass at
    100 TB).  df now comes from a window over the tiny tf set."""
    import __spark_entry__ as gate

    df = gate.queries()["ft_bm25_topk"](spark, "/root/testdata/sf0.001")
    plan = _plan(df)
    assert plan.count("documents.parquet") == 1, plan


def test_hash_sample_is_narrow_and_jvm_only(spark):
    """Deterministic sampling must stay a narrow JVM plan: no shuffle
    (Exchange) and no Python eval — at 100 TB the sample predicate is
    one hash per row inside whole-stage codegen, nothing else."""
    from sphinxsearchengine_spark.ops.sampling import hash_sample

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(hash_sample(df, "doc_id", 0.2).select("doc_id"))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # '*(n)' prefixes mark whole-stage-codegen spans in the simple plan
    assert "*(1)" in plan, plan


def test_warm_searcher_plan_has_no_logical_rdd(spark, idx):
    """Driver-side frames (term mapping, block lists, empty results) are
    LocalRelations: broadcasting a parallelized LogicalRDD would run a
    Spark job on every warm query."""
    from sphinxsearchengine_spark.engine import Searcher

    s = Searcher(spark, idx, cache_docs=True)
    for q in ["hotterm", "needleuniq hotterm", '"alpha beta"', "pars*",
              "@title file_1*", "zzznotaword", "hotterm -"]:
        scored = s.score_matches(
            q, now_ts=PINNED_NOW,
            prune={"topn": 20, "order": "weight", "sort": "desc"},
        )
        plan = scored._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" not in plan, (q, plan)


def test_local_frame_round_trips_types(spark):
    from pyspark.sql.types import StructType

    from sphinxsearchengine_spark.query.executor import SCORED_SCHEMA, local_frame

    schema = "term string, gid int, idf double, blk long, flag boolean"
    rows = [("a", 1, 0.5, 1 << 40, True), ("ß", -2, float("inf"), -1, False)]
    df = local_frame(spark, rows, schema)
    assert df.schema == StructType.fromDDL(schema)
    assert [tuple(r) for r in df.collect()] == rows
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.startswith("LocalRelation")
    empty = local_frame(spark, [], SCORED_SCHEMA)
    assert empty.collect() == []
    assert empty.schema == spark.createDataFrame([], SCORED_SCHEMA).schema
