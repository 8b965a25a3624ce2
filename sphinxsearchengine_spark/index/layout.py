"""On-disk index layout (SURVEY.md §1.5).

The reference's RT index (RAM segment + disk chunks, sphinx.conf:6) maps to
a directory of immutable parquet *segments* plus a tombstone table:

    index_dir/
      meta.json                     # engine config, live segment list, stats
      segments/<seg>/postings/bucket=<b>/*.parquet
      segments/<seg>/dict/bucket=<b>/*.parquet
      segments/<seg>/docs/*.parquet
      tombstones/asof_seq=<S>/*.parquet  # docids the write at seq S
                                    # killed: dead in every segment with
                                    # seq < S (the one liveness rule)
      manifests/<seg>.json          # per-partition lineage for resume

Postings rows are hash-bucketed by term — a query prunes its scan to the
buckets of its query terms (the partition-pruning analog of Sphinx's
wordlist lookup).  Within each bucket, files are sorted by (term, field,
docid) so a reader sees a small number of sorted runs (one per build
salt), ready for merge/WAND iteration.

Postings denormalize the scoring attributes (lang, date_insert,
date_modify — the reference's rt_attr columns, sphinx.conf:10-14) so the
entire match+rank path is join-free until top-k hydration.  That trades
~10% index size for removing a docid-keyed shuffle per query — the right
trade at 10^12 docs where the attribute table cannot be broadcast.

Declared schemas: every sub-table's schema is fixed here (`TABLE_SCHEMAS`,
the hive ``bucket`` column last, where partition discovery puts it) and
every index read goes through `IndexLayout.read`.  A read with a declared
schema lists files but opens no parquet footer, so it runs no Spark job;
schema inference runs one per read.  The writers produce exactly these
schemas (the builder casts the docs write; tests/test_lifecycle.py checks
inferred == declared after build, upsert and compact).
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass, field

from sphinxsearchengine_spark.config import DEFAULT_TERM_BUCKETS, FIELD_WEIGHTS

# exact_tf: occurrences whose surface form equals the term itself —
# index_exact_words=1 (sphinx.conf:19) without doubling the row count.
# A separate '=surface' row exists only when stem(surface) != surface.
POSTINGS_SCHEMA = (
    "term string, field int, docid long, tf int, exact_tf int, "
    "pos_vb binary, lang string, date_insert long, date_modify long"
)
DICT_COLS = ["bucket", "term", "df", "hits", "max_tf", "exact_df", "exact_hits"]

# sub-table -> declared read schema (bucket-partitioned tables end with
# the hive partition column)
TABLE_SCHEMAS = {
    "postings": POSTINGS_SCHEMA + ", bucket int",
    "dict": (
        "term string, df long, hits long, max_tf long, exact_df long, "
        "exact_hits long, bucket int"
    ),
    "blockmax": (
        "term string, blk long, n long, hits long, max_tf long, "
        "n_exact long, sum_etf long, max_etf long, fmask long, "
        "max_dsum long, bucket int"
    ),
    "docs": (
        "docid long, repo string, path string, commit string, lang string, "
        "content string, content_sha string, category array<string>, "
        "category_search string, date_insert long, date_modify long"
    ),
    # one directory per write seq: asof_seq is its hive partition column
    "tombstones": "docid long, asof_seq int",
}


@dataclass
class IndexMeta:
    n_docs: int = 0
    term_buckets: int = DEFAULT_TERM_BUCKETS
    segments: list = field(default_factory=list)  # ordered [{name, seq, n_docs}]
    field_weights: dict = field(default_factory=lambda: dict(FIELD_WEIGHTS))
    next_seq: int = 0
    n_tombstones: int = 0  # readers skip the tombstones when 0
    # docid -> block id is (docid as uint64) >> block_shift; chosen at
    # first build so a block holds ~POSTINGS_BLOCK docs, constant across
    # all segments of one index (block-max metadata, SURVEY.md §1.5).
    # None on legacy indexes (planner then skips block pruning).
    block_shift: int | None = None

    def save(self, index_dir: str) -> None:
        from sphinxsearchengine_spark import fs

        fs.write_json_atomic(os.path.join(index_dir, "meta.json"), asdict(self))

    @classmethod
    def load(cls, index_dir: str) -> "IndexMeta":
        from sphinxsearchengine_spark import fs

        return cls(**json.loads(fs.read_text(os.path.join(index_dir, "meta.json"))))


class IndexLayout:
    def __init__(self, index_dir: str):
        self.index_dir = index_dir

    def segment_dir(self, seg: str) -> str:
        return os.path.join(self.index_dir, "segments", seg)

    def postings(self, seg: str) -> str:
        return os.path.join(self.segment_dir(seg), "postings")

    def dict(self, seg: str) -> str:
        return os.path.join(self.segment_dir(seg), "dict")

    def blockmax(self, seg: str) -> str:
        return os.path.join(self.segment_dir(seg), "blockmax")

    def docs(self, seg: str) -> str:
        return os.path.join(self.segment_dir(seg), "docs")

    def tombstones(self, asof_seq: int | None = None) -> str:
        """The tombstones table, or the directory of the write at seq
        ``asof_seq``."""
        root = os.path.join(self.index_dir, "tombstones")
        return root if asof_seq is None else os.path.join(root, f"asof_seq={asof_seq}")

    def read(self, spark, table: str, seg: str | None = None):
        """One segment's sub-table (a `TABLE_SCHEMAS` key; the index's
        tombstones take no segment) read with its declared schema: no
        schema-inference job.  A missing path still raises
        AnalysisException here, at the read."""
        path = self.tombstones() if table == "tombstones" else getattr(self, table)(seg)
        return spark.read.schema(TABLE_SCHEMAS[table]).parquet(path)

    def manifest(self, seg: str) -> str:
        return os.path.join(self.index_dir, "manifests", f"{seg}.json")

    def exists(self) -> bool:
        from sphinxsearchengine_spark import fs

        return fs.exists(os.path.join(self.index_dir, "meta.json"))

    @property
    def meta(self) -> IndexMeta:
        return IndexMeta.load(self.index_dir)
