"""Index lifecycle: upsert / delete / purge / compaction (SURVEY.md S3-S6).

The reference mutates a Sphinx RT index in place:
- single-doc upsert via ``REPLACE INTO``   (SphinxSearchEngine_class.php:362-384)
- delete by id                              (:387-394)
- purge of orphaned ids                     (:456-482)
- ``OPTIMIZE INDEX``                        (rebuild-sphinx.php:17)

Spark-first redesign over immutable parquet segments.  ONE rule decides
liveness: a tombstone (docid, asof_seq) kills the docid's copy in every
segment with seq < asof_seq, and a copy no tombstone kills is live
(`executor.live_rows`, one anti-join).  Each write takes seq S =
meta.next_seq:
- upsert  = REPLACE as delete + insert (the reference's REPLACE INTO): a
  *delta segment* at seq S (same build pipeline as bulk) plus a
  tombstone (docid, S) per docid of the batch, killing every older copy;
  the new copy is visible to the next query.  A batch that repeats a
  docid is refused (ValueError) before anything is committed.
- delete  = tombstones with asof_seq = S (covers every segment).
- purge   = one anti-join of live index docids vs the source-of-truth
  docids → delete set (replaces the reference's client-side keyset
  pagination loop — Spark makes the full scan cheap and single-pass).
- compact = rebuild one base segment from the live view and drop
  deltas+tombstones; the visible match set is preserved exactly, and
  scores become exact again (stale inter-segment df resolved).

Crash contract: a write commits when meta.json is saved with next_seq =
S + 1, and nothing it wrote is visible before that — readers take only
meta's segments and the tombstones with asof_seq < next_seq.  The next
write takes the same S and first deletes whatever a crashed write left
at S (segment dir, manifest, tombstones), so it neither resumes nor
inherits it.

Between compactions, dictionary df/hits are upper bounds (dead copies
still counted) — the same idf staleness Sphinx RT segments exhibit;
compaction restores exact statistics.  Tombstones stay broadcast-small
because compaction clears them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from sphinxsearchengine_spark import fs
from sphinxsearchengine_spark.config import EngineConfig
from sphinxsearchengine_spark.index.builder import build_segment
from sphinxsearchengine_spark.index.layout import IndexLayout, IndexMeta


def _segment_name(seq: int) -> str:
    return f"seg_{seq:05d}"


def _clear_seq(layout: IndexLayout, seq: int) -> None:
    """Delete what an uncommitted write at ``seq`` left: its segment dir,
    manifest and tombstones.  ``seq`` is meta.next_seq, which nothing
    committed names."""
    seg = _segment_name(seq)
    for path in (layout.segment_dir(seg), layout.manifest(seg), layout.tombstones(seq)):
        fs.delete(path)


def _add_tombstones(layout: IndexLayout, docids_df: DataFrame, asof_seq: int) -> None:
    (
        docids_df.select(F.col("docid").cast("long").alias("docid"))
        .write.mode("overwrite")
        .parquet(layout.tombstones(asof_seq))
    )


def upsert(
    spark: SparkSession,
    index_dir: str,
    documents: DataFrame,
    cfg: EngineConfig | None = None,
) -> IndexMeta:
    """S3: batch upsert (REPLACE INTO semantics) as a delta segment.
    Raises ValueError, committing nothing, when the batch repeats a
    docid."""
    from sphinxsearchengine_spark.query.executor import live_docs

    layout = IndexLayout(index_dir)
    meta = layout.meta
    cfg = cfg or EngineConfig(term_buckets=meta.term_buckets)
    seq = meta.next_seq
    seg = _segment_name(seq)
    _clear_seq(layout, seq)
    # delta segments reuse the index's block_shift so blocks align
    stages = build_segment(
        spark, documents, index_dir, seg, cfg, block_shift=meta.block_shift
    )
    # the written docids (distinct: build_segment refuses repeats)
    batch_ids = layout.read(spark, "docs", seg).select("docid")
    n_replaced = (
        live_docs(spark, index_dir).select("docid")
        .join(batch_ids, "docid", "left_semi").count()
    )
    _add_tombstones(layout, batch_ids, seq)
    n_docs = stages["docs"]["n_docs"]
    meta.segments.append({"name": seg, "seq": seq, "n_docs": n_docs})
    meta.next_seq = seq + 1
    meta.n_docs = meta.n_docs + n_docs - n_replaced
    meta.n_tombstones += n_docs
    meta.save(index_dir)
    return meta


def delete(spark: SparkSession, index_dir: str, docids: list[int] | DataFrame) -> IndexMeta:
    """S4: delete by id — tombstones covering every current segment."""
    from sphinxsearchengine_spark.query.executor import live_docs, local_frame

    layout = IndexLayout(index_dir)
    if isinstance(docids, DataFrame):
        docids = docids.select("docid").distinct()
        n_ids = docids.count()
    else:
        ids = sorted({int(d) for d in docids})
        n_ids = len(ids)
        docids = local_frame(spark, [(d,) for d in ids], "docid long")
    n_dead = (
        live_docs(spark, index_dir).select("docid").join(docids, "docid", "left_semi").count()
    )
    return _commit_delete(layout, docids, n_dead, n_ids)


def _commit_delete(layout: IndexLayout, docids: DataFrame,
                   n_dead: int, n_ids: int) -> IndexMeta:
    """Tombstone ``docids`` (``n_ids`` distinct, ``n_dead`` of them live)
    in every current segment and commit the counts to meta."""
    meta = layout.meta
    _clear_seq(layout, meta.next_seq)
    _add_tombstones(layout, docids, meta.next_seq)
    meta.next_seq += 1
    meta.n_docs -= n_dead
    meta.n_tombstones += n_ids
    meta.save(layout.index_dir)
    return meta


def purge_orphans(
    spark: SparkSession, index_dir: str, source_docids: DataFrame
) -> tuple[IndexMeta, int]:
    """S5: drop index docs whose docid no longer exists in the source of
    truth.  One left-anti join replaces the reference's 100k-page keyset
    loop (SphinxSearchEngine_class.php:456-482).  The anti-join runs once:
    its docids are materialized (executor-side, eager local checkpoint)
    and counted, and the tombstone write reads them back.  `delete`'s two
    recounts are not needed: live_docs holds each docid once, so every
    orphan is a distinct live doc and the count is both."""
    from sphinxsearchengine_spark.query.executor import live_docs

    # an outer join and a null filter, not a left anti join: the
    # optimizer pushes an anti join below live_docs' segment union, which
    # would shuffle the source once per segment
    source = source_docids.select("docid").distinct().withColumn("_src", F.lit(True))
    orphans = (
        live_docs(spark, index_dir)
        .select("docid")
        .join(source, "docid", "left")
        .filter(F.col("_src").isNull())
        .select("docid")
        .localCheckpoint(eager=True)
    )
    n = orphans.count()
    layout = IndexLayout(index_dir)
    if n == 0:
        return layout.meta, 0
    return _commit_delete(layout, orphans, n, n), n


def compact(
    spark: SparkSession, index_dir: str, cfg: EngineConfig | None = None
) -> IndexMeta:
    """S6: OPTIMIZE INDEX analog — merge all segments + tombstones into a
    fresh base segment with exact statistics.

    Cluster-safe commit protocol (VERDICT r1 #7 — the round-1 directory
    swap via shutil.move only worked on a driver-local FS):

    1. build the merged segment as a NEW segment dir inside the index
       (immutable; concurrent readers keep seeing the old meta),
    2. flip meta.json to point at it (the atomic commit — meta writes go
       through fs.write_json_atomic, tmp+rename / object-store PUT),
    3. delete the tombstones and the superseded segment dirs
       (best-effort; a crash in step 3 leaves garbage that the flipped
       meta never references — n_tombstones=0 keeps readers off the
       stale tombstones, and each of them is older than the merged
       segment, so it kills nothing even once new ones are written).
    """
    from sphinxsearchengine_spark.query.executor import live_docs

    layout = IndexLayout(index_dir)
    old_meta = layout.meta
    cfg = cfg or EngineConfig(term_buckets=old_meta.term_buckets)
    seq = old_meta.next_seq
    seg = _segment_name(seq)
    _clear_seq(layout, seq)
    # live_docs holds each docid once: no repeated-docid job
    stages = build_segment(
        spark, live_docs(spark, index_dir), index_dir, seg, cfg,
        block_shift=old_meta.block_shift, distinct_docids=True,
    )
    n_docs = stages["docs"]["n_docs"]
    meta = IndexMeta(
        n_docs=n_docs,
        term_buckets=cfg.term_buckets,
        segments=[{"name": seg, "seq": seq, "n_docs": n_docs}],
        field_weights=old_meta.field_weights,
        next_seq=seq + 1,
        n_tombstones=0,
        block_shift=old_meta.block_shift,
    )
    meta.save(index_dir)  # commit point
    # post-commit cleanup: stale tombstones + superseded segments
    fs.delete(layout.tombstones())
    for s in old_meta.segments:
        fs.delete(layout.segment_dir(s["name"]))
        fs.delete(layout.manifest(s["name"]))
    return meta
