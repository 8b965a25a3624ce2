"""Packed-exchange equivalence (index/packed.py): the packed shuffle
must produce EXACTLY the same index as the round-4 row-per-posting
path — same postings rows (all columns incl. positions and attrs),
same blockmax, same dict — and must record its measured shuffle volume
in the segment manifest."""

from __future__ import annotations

import hashlib
import json

import numpy as np
import pytest

from sphinxsearchengine_spark.config import EngineConfig
from sphinxsearchengine_spark.corpus import derive_documents, generate_corpus
from sphinxsearchengine_spark.index.builder import build_index
from sphinxsearchengine_spark.index.layout import IndexLayout


def _sorted_rows(spark, path, cols):
    df = spark.read.parquet(path).select(*cols)
    rows = [tuple(r) for r in df.collect()]
    rows.sort()
    return rows


@pytest.fixture(scope="module")
def both_indexes(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("packed_eq")
    docs = derive_documents(generate_corpus(spark, 400, partitions=4))
    pk, rw = str(base / "packed"), str(base / "rows")
    build_index(spark, docs, pk, EngineConfig(term_buckets=4),
                salt_factor=2, packed=True)
    build_index(spark, docs, rw, EngineConfig(term_buckets=4),
                salt_factor=2, packed=False)
    return pk, rw


# bucket is NOT compared: it is an internal partitioning detail readers
# resolve from the stored dictionary, and the packed path derives it
# with md5 (Python-side) while the row path used JVM xxhash64.
POSTING_COLS = ["term", "field", "docid", "tf", "exact_tf",
                "pos_vb", "lang", "date_insert", "date_modify"]


def test_postings_identical(spark, both_indexes):
    pk, rw = both_indexes
    a = _sorted_rows(spark, IndexLayout(pk).postings("seg_00000"),
                     POSTING_COLS)
    b = _sorted_rows(spark, IndexLayout(rw).postings("seg_00000"),
                     POSTING_COLS)
    assert len(a) == len(b) > 0
    assert a == b


def test_blockmax_and_dict_identical(spark, both_indexes):
    pk, rw = both_indexes
    for part in ("blockmax", "dict"):
        pa_ = getattr(IndexLayout(pk), part)("seg_00000")
        pb = getattr(IndexLayout(rw), part)("seg_00000")
        cols = [c for c in spark.read.parquet(pa_).columns if c != "bucket"]
        assert _sorted_rows(spark, pa_, cols) == _sorted_rows(spark, pb, cols)


def test_packed_shuffles_fewer_bytes(spark, both_indexes):
    """The point of the exercise: same output, smaller exchange."""
    pk, rw = both_indexes
    man_p = json.load(open(f"{pk}/manifests/seg_00000.json"))
    man_r = json.load(open(f"{rw}/manifests/seg_00000.json"))
    bp = man_p["stages"]["postings"]["shuffle_write_bytes"]
    br = man_r["stages"]["postings"]["shuffle_write_bytes"]
    assert man_p["stages"]["postings"]["packed"] is True
    assert bp > 0 and br > 0
    # >=30% reduction is the round-5 target; assert a conservative 20%
    # so host-side codec variance can't flake the suite
    assert bp < 0.8 * br, (bp, br)
    assert man_p["stages"]["postings"]["shuffle_bytes_per_doc"] > 0


def test_search_results_identical(spark, both_indexes):
    from sphinxsearchengine_spark.corpus import PINNED_NOW
    from sphinxsearchengine_spark.query.executor import search

    pk, rw = both_indexes
    for q in ["index search", '"alpha beta"', "hotterm", "pars*",
              "@title file_2*", "needleuniq"]:
        ra = [tuple(r) for r in
              search(spark, pk, q, limit=10, now_ts=PINNED_NOW).collect()]
        rb = [tuple(r) for r in
              search(spark, rw, q, limit=10, now_ts=PINNED_NOW).collect()]
        assert ra == rb, q
        assert len(ra) > 0, q


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


def test_rows_pinned_at_every_width(spark, both_indexes, tmp_path, monkeypatch):
    """Builder widths change files, never rows: the sized build and a
    build forced to the widths' caps both reproduce the pinned
    postings/blockmax/dict rows."""
    from sphinxsearchengine_spark.index import builder

    pk, _rw = both_indexes
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
