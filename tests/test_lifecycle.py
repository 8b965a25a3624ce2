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
    if layout.meta.n_tombstones:  # a build or a compact leaves none
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


# --- the crash contract: an uncommitted write never leaks -----------------

CRASH_N = 200


@pytest.fixture(scope="module")
def crash_base(spark, tmp_path_factory):
    """A built 200-doc index (copied per test) and its documents."""
    idx = str(tmp_path_factory.mktemp("crash") / "idx")
    pdf = derive_documents(generate_corpus(spark, CRASH_N, partitions=2)).toPandas()
    pdf = pdf.sort_values("docid").reset_index(drop=True)
    docs = spark.createDataFrame(pdf)
    build_index(spark, docs, idx, CFG, salt_factor=2)
    return idx, docs


def _copy_index(src, tmp_path):
    import shutil

    dst = str(tmp_path / "idx")
    shutil.copytree(src, dst)
    return dst


def _retoken(docs, ids, token):
    """The docs of ``ids`` with ``token`` appended to their content."""
    content = F.concat_ws(" ", "content", F.lit(token))
    return (docs.filter(F.col("docid").isin(ids))
            .withColumn("content", content)
            .withColumn("content_sha", F.sha2(content, 256)))


def _crashed_upsert(spark, idx, batch, monkeypatch):
    """An upsert that dies at its commit (meta.json save)."""
    from sphinxsearchengine_spark.index.layout import IndexMeta

    def boom(self, index_dir):
        raise RuntimeError("crash before commit")

    with monkeypatch.context() as mp:
        mp.setattr(IndexMeta, "save", boom)
        with pytest.raises(RuntimeError, match="crash before commit"):
            upsert(spark, idx, batch, CFG)


def _n_live(spark, idx):
    from sphinxsearchengine_spark.query.executor import live_docs

    return live_docs(spark, idx).count()


def test_crashed_upsert_tombstones_stay_invisible(spark, crash_base, tmp_path,
                                                   monkeypatch):
    """A crashed upsert's tombstones never apply: neither does it kill
    its docids, nor does the next write's commit make them visible."""
    base, docs = crash_base
    idx = _copy_index(base, tmp_path)
    ids = sorted(r.docid for r in docs.select("docid").collect())
    _crashed_upsert(spark, idx, _retoken(docs, ids[:10], "crashtoken"), monkeypatch)
    assert IndexLayout(idx).meta.n_docs == CRASH_N
    assert _n_live(spark, idx) == CRASH_N
    meta = delete(spark, idx, [ids[-1]])
    assert meta.n_docs == CRASH_N - 1
    assert _n_live(spark, idx) == CRASH_N - 1
    assert _match_set(spark, idx, "crashtoken") == set()


def test_write_after_crash_does_not_resume_it(spark, crash_base, tmp_path,
                                             monkeypatch):
    """An upsert at the seq a crashed upsert used builds its own segment:
    it neither resumes the crashed segment's manifest nor inherits its
    tombstones."""
    base, docs = crash_base
    idx = _copy_index(base, tmp_path)
    ids = sorted(r.docid for r in docs.select("docid").collect())
    _crashed_upsert(spark, idx, _retoken(docs, ids[:10], "crashatoken"), monkeypatch)
    meta = upsert(spark, idx, _retoken(docs, ids[10:20], "crashbtoken"), CFG)
    assert meta.n_docs == CRASH_N
    assert _n_live(spark, idx) == CRASH_N
    assert _match_set(spark, idx, "crashbtoken") == set(ids[10:20])
    assert _match_set(spark, idx, "crashatoken") == set()


def test_repeated_docid_in_batch_refused(spark, crash_base, tmp_path):
    """A write batch that repeats a docid raises ValueError naming it and
    commits nothing, through upsert and through build_index."""
    from sphinxsearchengine_spark.query.executor import live_docs

    base, docs = crash_base
    idx = _copy_index(base, tmp_path)
    ids = sorted(r.docid for r in docs.select("docid").collect())
    batch = _retoken(docs, ids[:3], "duptoken").unionByName(
        _retoken(docs, ids[1:2], "dupother"))
    before = IndexLayout(idx).meta
    with pytest.raises(ValueError, match=f"docid {ids[1]} is repeated"):
        upsert(spark, idx, batch, CFG)
    assert IndexLayout(idx).meta == before
    assert live_docs(spark, idx).count() == CRASH_N
    # the refused batch leaves nothing the next write picks up
    meta = upsert(spark, idx, _retoken(docs, ids[:3], "duptoken"), CFG)
    assert meta.n_docs == CRASH_N and _n_live(spark, idx) == CRASH_N
    assert _match_set(spark, idx, "duptoken") == set(ids[:3])
    assert _match_set(spark, idx, "dupother") == set()

    fresh = str(tmp_path / "fresh")
    with pytest.raises(ValueError, match=f"docid {ids[1]} is repeated"):
        build_index(spark, batch, fresh, CFG, salt_factor=2)
    assert not IndexLayout(fresh).exists()


def test_compact_skips_repeated_docid_job(spark, crash_base, tmp_path, monkeypatch):
    """An upsert's batch is checked for repeated docids; compact's input,
    `live_docs`, holds each docid once, so its build runs no check."""
    from sphinxsearchengine_spark.index import builder

    base, docs = crash_base
    idx = _copy_index(base, tmp_path)
    checked = []
    real = builder._refuse_repeated_docids

    def spy(spark, layout, seg):
        checked.append(seg)
        real(spark, layout, seg)

    monkeypatch.setattr(builder, "_refuse_repeated_docids", spy)
    ids = sorted(r.docid for r in docs.select("docid").collect())
    upsert(spark, idx, _retoken(docs, ids[:3], "cmptoken"), CFG)
    assert len(checked) == 1
    meta = compact(spark, idx, CFG)
    assert len(checked) == 1
    assert meta.n_docs == CRASH_N == _n_live(spark, idx)
    assert _match_set(spark, idx, "cmptoken") == set(ids[:3])


# --- property: tombstones alone decide liveness ----------------------------

def _check_liveness(spark, idx, model, searcher):
    """live_docs equals the last-write-wins model, the live postings hold
    exactly its docids, meta counts them, and a Searcher's docs pin
    equals live_docs."""
    from sphinxsearchengine_spark.query import executor as X

    layout = IndexLayout(idx)
    rows = X.live_docs(spark, idx).select("docid", "content_sha").collect()
    got = {r.docid: r.content_sha for r in rows}
    assert len(rows) == len(got) and got == model
    post = X.live_rows(spark, layout, X._live_union(spark, layout, "postings"))
    assert {r.docid for r in post.select("docid").distinct().collect()} == set(model)
    assert layout.meta.n_docs == len(model)
    searcher._ctx()  # re-pins the new generation
    pin = searcher._docs_pin
    assert dict(zip(pin["docid"].to_pylist(), pin["content_sha"].to_pylist())) == got


@pytest.mark.parametrize("seed", [3, 7])
def test_liveness_property(spark, tmp_path, seed):
    """Seeded random upserts (replacing, new and re-upserted deleted
    docids), deletes and compactions keep every reader's live view equal
    to a last-write-wins model."""
    import hashlib
    import random

    from sphinxsearchengine_spark.engine import Searcher

    rng = random.Random(seed)
    pool = derive_documents(generate_corpus(spark, 60, partitions=2)).toPandas()
    pool = pool.sort_values("docid").reset_index(drop=True)
    schema = spark.createDataFrame(pool.iloc[:1]).schema
    all_ids = pool["docid"].tolist()
    idx = str(tmp_path / "idx")
    build_index(spark, spark.createDataFrame(pool.iloc[:40], schema), idx, CFG,
                salt_factor=2)
    model = dict(zip(pool["docid"][:40], pool["content_sha"][:40]))
    deleted: set[int] = set()
    searcher = Searcher(spark, idx)
    _check_liveness(spark, idx, model, searcher)

    # every kind of step at least once, in a seeded order; the last
    # upsert re-upserts a deleted docid
    steps = ["delete"] + rng.sample(["upsert", "upsert", "delete", "compact"], 4)
    for i, op in enumerate(steps + ["upsert"]):
        live = sorted(model)
        if op == "delete":
            # live docids, and one the index never held
            gone = rng.sample(live, rng.randint(1, 3)) + [12345 + i]
            delete(spark, idx, gone)
            for d in gone:
                if model.pop(d, None) is not None:
                    deleted.add(d)
        elif op == "compact":
            compact(spark, idx, CFG)
        else:
            new = [d for d in all_ids if d not in model and d not in deleted]
            ids = rng.sample(live, rng.randint(1, 3)) + rng.sample(new, rng.randint(0, 2))
            k = 1 if i == len(steps) else rng.randint(0, 1)
            ids += rng.sample(sorted(deleted), min(k, len(deleted)))
            rows = pool[pool["docid"].isin(ids)].copy()
            rows["content"] = rows["content"] + f" propv{i}"
            rows["content_sha"] = [hashlib.sha256(c.encode()).hexdigest()
                                   for c in rows["content"]]
            upsert(spark, idx, spark.createDataFrame(rows, schema), CFG)
            model.update(zip(rows["docid"], rows["content_sha"]))
            deleted -= set(ids)
        _check_liveness(spark, idx, model, searcher)
