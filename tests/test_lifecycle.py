"""Lifecycle tests (SURVEY.md §5.4): build → upsert → delete → purge →
compact, visibility semantics matching the reference's REPLACE/DELETE
contract, exact rank-identity after compaction."""

from __future__ import annotations

import math

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
from sphinxsearchengine_spark.index.lifecycle import (
    compact,
    delete,
    purge_orphans,
    upsert,
)
from sphinxsearchengine_spark.oracle import OracleEngine
from sphinxsearchengine_spark.query.executor import search, score_matches

N = 120
CFG = EngineConfig(term_buckets=8)


@pytest.fixture(scope="module")
def env(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("life") / "idx")
    docs = derive_documents(generate_corpus(spark, N, partitions=4))
    build_index(spark, docs, idx, CFG, salt_factor=2)
    return idx, docs


def _match_set(spark, idx, q):
    return {r.docid for r in score_matches(spark, idx, q, now_ts=PINNED_NOW).collect()}


def test_full_lifecycle(spark, env, tmp_path):
    idx, docs = env
    target = docs.orderBy("docid").limit(1).collect()[0]
    tid = target.docid

    # --- S3 upsert: replace one doc's content ---------------------------
    updated = docs.withColumn(
        "content",
        F.when(F.col("docid") == tid, F.lit("upserttoken fresh body")).otherwise(
            F.col("content")
        ),
    ).withColumn(
        "content_sha",
        F.when(
            F.col("docid") == tid, F.sha2(F.lit("upserttoken fresh body"), 256)
        ).otherwise(F.col("content_sha")),
    )
    batch = updated.filter(F.col("docid") == tid)
    meta = upsert(spark, idx, batch, CFG)
    assert meta.n_docs == N  # replace, not insert

    assert _match_set(spark, idx, "upserttoken") == {tid}
    # edit is visible: old content no longer matches for this doc
    hot = _match_set(spark, idx, "hotterm")
    assert tid not in hot or "hotterm" in "upserttoken fresh body"

    # hydration returns the NEW sha (newest segment wins)
    row = search(spark, idx, "upserttoken", limit=1, now_ts=PINNED_NOW).collect()[0]
    assert row.docid == tid
    import hashlib

    assert row.content_sha == hashlib.sha256(b"upserttoken fresh body").hexdigest()

    # --- S3 insert: brand-new doc ---------------------------------------
    new_doc = (
        batch.withColumn("docid", F.lit(999_999_999_001))
        .withColumn("content", F.lit("brandnewtoken appears here"))
        .withColumn("content_sha", F.sha2(F.lit("brandnewtoken appears here"), 256))
    )
    meta = upsert(spark, idx, new_doc, CFG)
    assert meta.n_docs == N + 1
    assert _match_set(spark, idx, "brandnewtoken") == {999_999_999_001}

    # --- S4 delete --------------------------------------------------------
    meta = delete(spark, idx, [tid])
    assert meta.n_docs == N
    assert _match_set(spark, idx, "upserttoken") == set()
    # idempotent delete
    meta = delete(spark, idx, [tid])
    assert meta.n_docs == N

    # --- S5 purge orphans ---------------------------------------------------
    # source of truth no longer contains the synthetic new doc
    source_ids = docs.select("docid").filter(F.col("docid") != tid)
    meta, n_purged = purge_orphans(spark, idx, source_ids)
    assert n_purged == 1  # the brand-new doc was orphaned
    assert _match_set(spark, idx, "brandnewtoken") == set()
    # purge is idempotent
    _, n_again = purge_orphans(spark, idx, source_ids)
    assert n_again == 0

    # --- S6 compact: match sets preserved, stats exactified ----------------
    pre_hot = _match_set(spark, idx, "hotterm")
    pre_total = IndexLayout(idx).meta.n_docs
    meta = compact(spark, idx, CFG)
    assert len(meta.segments) == 1
    assert meta.n_docs == pre_total == N - 1
    assert _match_set(spark, idx, "hotterm") == pre_hot

    # exact rank-identity vs oracle on the final state
    final_docs = updated.filter(F.col("docid") != tid)
    oracle = OracleEngine(final_docs.toPandas())
    for q in ["hotterm", "index search", '"alpha beta"']:
        got = search(spark, idx, q, limit=15, now_ts=PINNED_NOW).collect()
        want = oracle.search(q, limit=15, now_ts=PINNED_NOW)
        assert [r.docid for r in got] == [w["docid"] for w in want], q
        for r, w in zip(got, want):
            assert math.isclose(r.score, w["score"], rel_tol=1e-9), (q, r.docid)


def test_build_resume(spark, tmp_path):
    """North rule: builds resume from per-stage lineage manifests."""
    import json

    idx = str(tmp_path / "idx")
    docs = derive_documents(generate_corpus(spark, 60, partitions=2))
    build_index(spark, docs, idx, CFG, salt_factor=2)
    man_path = IndexLayout(idx).manifest("seg_00000")
    manifest = json.load(open(man_path))
    assert set(manifest["stages"]) == {"docs", "postings", "blockmax", "dict"}
    # what the manifest's readers take: perfbench's manifest_split every
    # stage's `ts`, bench.py the postings stage's `packed`
    assert all("ts" in st for st in manifest["stages"].values())
    assert manifest["stages"]["postings"]["packed"] is True

    # simulate a crash after 'docs': wipe the completed-flag of later stages
    for st in ["postings", "blockmax", "dict"]:
        manifest["stages"].pop(st)
    json.dump(manifest, open(man_path, "w"))
    before = search(spark, idx, "hotterm", limit=5, now_ts=PINNED_NOW).collect()
    # re-run build: 'docs' stage must be skipped (manifest says done),
    # later stages re-run; results identical
    from sphinxsearchengine_spark.index.builder import build_segment

    stages = build_segment(spark, docs, idx, "seg_00000", CFG, salt_factor=2)
    assert stages["docs"]["ok"] and stages["postings"]["ok"]
    after = search(spark, idx, "hotterm", limit=5, now_ts=PINNED_NOW).collect()
    assert [r.docid for r in before] == [r.docid for r in after]
    assert [r.score for r in before] == [r.score for r in after]


def _index_rows(spark, layout, seg):
    out = {}
    for table in ("postings", "blockmax", "dict"):
        df = spark.read.parquet(getattr(layout, table)(seg))
        out[table] = sorted(tuple(r) for r in df.select(*sorted(df.columns)).collect())
    return out


def _mtimes(path):
    import os

    return {os.path.join(d, f): os.stat(os.path.join(d, f)).st_mtime_ns
            for d, _, files in os.walk(path) for f in files}


def test_resume_crash_windows(spark, tmp_path):
    """Each manifest a crash can leave resumes to the same rows and
    reruns only what it must: postings recorded without blockmax and
    dict reruns the fused postings+blockmax stage, a missing dict reruns
    only the dict, and a complete manifest starts no Spark stage."""
    import json

    from sphinxsearchengine_spark import metrics
    from sphinxsearchengine_spark.index.builder import build_segment

    idx, seg = str(tmp_path / "idx"), "seg_00000"
    docs = derive_documents(generate_corpus(spark, 60, partitions=2))
    build_index(spark, docs, idx, CFG, salt_factor=2)
    layout = IndexLayout(idx)
    man_path = layout.manifest(seg)
    want = _index_rows(spark, layout, seg)

    def resume(drop):
        manifest = json.load(open(man_path))
        for st in drop:
            manifest["stages"].pop(st)
        json.dump(manifest, open(man_path, "w"))
        return manifest["stages"], build_segment(spark, docs, idx, seg, CFG,
                                                 salt_factor=2)

    kept, stages = resume(["blockmax", "dict"])
    assert stages["postings"]["ts"] > kept["postings"]["ts"]
    assert stages["postings"]["ts"] == stages["blockmax"]["ts"]
    assert _index_rows(spark, layout, seg) == want

    files = {t: _mtimes(getattr(layout, t)(seg)) for t in ("postings", "blockmax")}
    kept, stages = resume(["dict"])
    assert {t: _mtimes(getattr(layout, t)(seg)) for t in files} == files
    assert {k: stages[k] for k in kept} == kept and stages["dict"]["ok"]
    assert _index_rows(spark, layout, seg) == want

    before = metrics.latest_stage_id(spark)
    kept, stages = resume([])
    assert metrics.latest_stage_id(spark) == before
    assert stages == kept


def _assert_declared_schemas(spark, layout):
    from pyspark.sql.types import StructType

    from sphinxsearchengine_spark.index.layout import TABLE_SCHEMAS

    for seg in layout.meta.segments:
        for table in ("postings", "dict", "blockmax", "docs"):
            path = getattr(layout, table)(seg["name"])
            inferred = spark.read.parquet(path).schema
            assert inferred == StructType.fromDDL(TABLE_SCHEMAS[table]), (
                seg["name"], table)
    inferred = spark.read.parquet(layout.tombstones()).schema
    assert inferred == StructType.fromDDL(TABLE_SCHEMAS["tombstones"])


def test_small_delta_widths_and_declared_schemas(spark, tmp_path):
    """A small upsert runs its builder Python stages on one task each
    and says so in its manifest; every sub-table the builder and the
    lifecycle write keeps the schema readers declare (the tripwire for
    declared reads); a declared read runs no Spark job, and a missing
    table still fails at the read."""
    import json

    from pyspark.errors import AnalysisException

    from sphinxsearchengine_spark import metrics

    idx = str(tmp_path / "idx")
    docs = derive_documents(generate_corpus(spark, 60, partitions=2))
    build_index(spark, docs, idx, CFG, salt_factor=2)
    layout = IndexLayout(idx)
    _assert_declared_schemas(spark, layout)

    batch = docs.orderBy("docid").limit(4).withColumn(
        "content", F.lit("widthtoken small delta"))
    before = metrics.latest_stage_id(spark)
    meta = upsert(spark, idx, batch, CFG)
    stages = metrics.stage_metrics(spark, before)
    assert stages and all(s["num_tasks"] >= 1 for s in stages)
    seg = meta.segments[-1]["name"]
    post = json.load(open(layout.manifest(seg)))["stages"]["postings"]
    assert post["tokenize_tasks"] == 1 and post["reduce_tasks"] == 1
    assert post["salt_factor"] == 4  # the cap, not the width
    _assert_declared_schemas(spark, layout)

    before = metrics.latest_stage_id(spark)
    for s in layout.meta.segments:
        for table in ("postings", "dict", "blockmax", "docs"):
            layout.read(spark, table, s["name"])
    layout.read(spark, "tombstones")
    assert metrics.latest_stage_id(spark) == before

    with pytest.raises(AnalysisException):
        layout.read(spark, "blockmax", "seg_99999")

    meta = compact(spark, idx, CFG)
    assert meta.n_docs == 60 and len(meta.segments) == 1
    _assert_declared_schemas(spark, layout)
    assert _match_set(spark, idx, "widthtoken") == {
        r.docid for r in batch.select("docid").collect()}
