"""Index output of the packed exchange (index/packed.py): the postings
rows (all columns incl. positions and attrs) equal the single-node
oracle's, blockmax and dict equal a rollup of them, the rows are pinned
by digest at every builder width, and the segment manifest records the
measured shuffle volume."""

from __future__ import annotations

import hashlib
import json

import numpy as np
import pandas as pd
import pytest

from sphinxsearchengine_spark.config import EngineConfig
from sphinxsearchengine_spark.corpus import derive_documents, generate_corpus
from sphinxsearchengine_spark.index.builder import build_index
from sphinxsearchengine_spark.index.layout import IndexLayout

from oracle_rows import POSTING_COLS, oracle_postings, rollups


def _sorted_rows(spark, path, cols):
    df = spark.read.parquet(path).select(*cols)
    rows = [tuple(r) for r in df.collect()]
    rows.sort()
    return rows


@pytest.fixture(scope="module")
def packed_index(spark, tmp_path_factory):
    """A 400-doc index and the oracle's postings rows of its docs."""
    idx = str(tmp_path_factory.mktemp("packed") / "idx")
    docs = derive_documents(generate_corpus(spark, 400, partitions=4))
    build_index(spark, docs, idx, EngineConfig(term_buckets=4), salt_factor=2)
    return idx, oracle_postings(docs.toPandas())


def _frame_rows(pdf: pd.DataFrame) -> list[tuple]:
    return sorted(tuple(r) for r in pdf.itertuples(index=False))


# bucket is NOT compared: it is an internal partitioning detail readers
# resolve from the stored dictionary (the oracle has no buckets)
def test_postings_identical(spark, packed_index):
    idx, want = packed_index
    got = _sorted_rows(spark, IndexLayout(idx).postings("seg_00000"),
                       POSTING_COLS)
    assert len(got) == len(want) > 0
    assert got == _frame_rows(want)


def test_blockmax_and_dict_identical(spark, packed_index):
    idx, post = packed_index
    layout = IndexLayout(idx)
    man = json.load(open(layout.manifest("seg_00000")))["stages"]
    for part, want in zip(("blockmax", "dict"),
                          rollups(post, man["blockmax"]["block_shift"])):
        path = getattr(layout, part)("seg_00000")
        cols = [c for c in spark.read.parquet(path).columns if c != "bucket"]
        assert _sorted_rows(spark, path, cols) == _frame_rows(want[cols]), part


def test_manifest_records_shuffle_volume(packed_index):
    idx, _ = packed_index
    post = json.load(open(f"{idx}/manifests/seg_00000.json"))["stages"]["postings"]
    assert post["packed"] is True
    assert post["shuffle_write_bytes"] > 0
    assert post["shuffle_bytes_per_doc"] > 0


def test_salt_and_term_hash_are_uniform():
    """Sanity on the Python-side partition keys: splitmix64 salts and
    md5 term buckets spread ~uniformly (no reducer pinned by key skew
    from the hash itself)."""
    from sphinxsearchengine_spark.index.packed import (
        salt_of_docid, term_hashes,
    )

    rng = np.random.RandomState(5)
    docids = rng.randint(-(2**62), 2**62, size=20000).astype(np.int64)
    s = salt_of_docid(docids, 4)
    counts = np.bincount(s, minlength=4)
    assert counts.min() > 0.8 * counts.max()
    terms = [f"term{i}" for i in range(20000)]
    b = (term_hashes(terms) % np.uint64(16)).astype(int)
    bc = np.bincount(b, minlength=16)
    assert bc.min() > 0.7 * bc.max()


# sha256 of the sorted rows (every column, bucket included, columns in
# name order) of the packed 400-doc fixture, computed before the builder
# widths were sized from the segment (8 reducers, 5 tokenize splits)
PINNED_DIGESTS = {
    "postings": "4fbcc1e922cf2c0f9607d4072a0eb07731511a912328ac5828a08627aa284b56",
    "blockmax": "92ca779e3f2f6cca7bc988776f80c9e0254f5c96699f971c1551aff83dbfc422",
    "dict": "9f805529b3dc78d04154661a0d6395ebdfd530fd581b3c5a93177720eb528adb",
}


def _digest(spark, path):
    cols = sorted(spark.read.parquet(path).columns)
    return hashlib.sha256(repr(_sorted_rows(spark, path, cols)).encode()).hexdigest()


def test_rows_pinned_at_every_width(spark, packed_index, tmp_path, monkeypatch):
    """Builder widths change files, never rows: the sized build and a
    build forced to the widths' caps both reproduce the pinned
    postings/blockmax/dict rows."""
    from sphinxsearchengine_spark.index import builder

    pk, _ = packed_index
    parallelism = spark.sparkContext.defaultParallelism
    man = json.load(open(f"{pk}/manifests/seg_00000.json"))["stages"]["postings"]
    sized = (man["tokenize_tasks"], man["reduce_tasks"])
    assert sized == builder.build_widths(400, parallelism, 4, 2)

    wide = str(tmp_path / "wide")
    monkeypatch.setattr(builder, "BUILD_DOCS_PER_TASK", 1)
    docs = derive_documents(generate_corpus(spark, 400, partitions=4))
    build_index(spark, docs, wide, EngineConfig(term_buckets=4), salt_factor=2)
    man = json.load(open(f"{wide}/manifests/seg_00000.json"))["stages"]["postings"]
    assert (man["tokenize_tasks"], man["reduce_tasks"]) == (2 * parallelism, 8)
    assert sized != (2 * parallelism, 8)

    for idx in (pk, wide):
        for part, want in PINNED_DIGESTS.items():
            path = getattr(IndexLayout(idx), part)("seg_00000")
            assert _digest(spark, path) == want, (idx, part)
