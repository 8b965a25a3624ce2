"""High-level engine facade (the reference's ``SphinxSearchEngine``
class analog, SphinxSearchEngine_class.php:70-243).

``Searcher`` pins per-index state across queries the way searchd keeps
its index in RAM:

- the term dictionary and the block-max table are collected to the
  driver once (when under ``dict_cache_rows``), so query expansion and
  block planning run in driver pandas with no Spark job;
- the docs columns a result and the scorer read (hydration columns,
  ``lang``, ``date_insert``, ``date_modify``) and the live postings
  (tombstones and newest-segment-wins applied once, in Spark; only the
  scorer's columns, grouped by term) are collected to the driver when
  bounds on their bytes, taken before the collects (the postings' from
  the pinned dictionary), fit ``DRIVER_PIN_BYTES``;
- the resolved postings relation is kept, so a query scanned in Spark
  lists no files and infers no schema before its scan;
- over the budget, the hydration projection of docs is optionally
  cached in executor memory instead (``cache_docs=True``).

A warm ``search(...).collect()`` of a plan that fits one scorer task
then starts no Spark job: its scorer input is read from the pinned
postings (`executor.MatchPlan.pinned_inputs`), scored in the driver,
ranked, and hydrated from the pinned docs; the result is a
LocalRelation.  Without the postings pin the same plan is collected in
one Arrow job and scored in the driver, and hydration is one
``docid IN (top-k)`` lookup when the docs are not pinned.  A larger plan
is scored on executors (docid exchange sized from the plan's row
estimate, Arrow scorer) and only its top rows are collected.  The
driver-side frames a Spark plan broadcasts are LocalRelations, so they
add no jobs; the two-pass τ refinement adds a pass-A job only when the
plan needs more than one scorer task.  ``Searcher.last_plan`` records
what the last query planned, where it was scored (``scorer``) and where
its input came from (``scan``: ``pinned`` or ``spark``);
``Searcher.pinned_bytes`` and ``Searcher.unpinned`` say what is pinned
and why the rest is not.

The pinned state belongs to one meta generation: lifecycle bumps
``meta.next_seq`` on every upsert, delete and compact, and each call
re-pins first when it moved, so a Searcher never serves a stale view.

At 10^12-doc scale the dictionary no longer fits one driver; the same
class degrades gracefully to bucket-pruned dictionary scans
(dict_cache_rows=0).
"""

from __future__ import annotations

import ctypes
from concurrent.futures import ThreadPoolExecutor

import pandas as pd
import pyarrow as pa

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F

from sphinxsearchengine_spark.index.layout import IndexLayout
from sphinxsearchengine_spark.query import executor as X
from sphinxsearchengine_spark.query.parser import Query, parse_query


def ensure_index(
    spark: SparkSession,
    index_dir: str,
    documents: DataFrame,
    cfg=None,
) -> IndexLayout:
    """S7 bootstrap analog (init_index, SphinxSearchEngine_class.php:484-535):
    probe for an existing index; build from `documents` when absent."""
    from sphinxsearchengine_spark.index.builder import build_index

    layout = IndexLayout(index_dir)
    if not layout.exists():
        build_index(spark, documents, index_dir, cfg)
    return layout


# Byte budget of the driver-RAM pins of the docs columns and the live
# postings (`Searcher`), checked against bounds taken before either
# collect (`executor.docs_bytes_ub`, `executor.postings_pin_bytes_ub`).
# Measured on a 4-core host: the postings bound runs ~3x the bytes
# pinned (7.9 MB bound, 2.7 MB pinned on perfbench's 1,968-doc index;
# 199 MB and 66 MB on the 50k-doc index of bench.py at sf0.1), the docs
# bound is within 1% of them, and a pinned byte costs ~2.2 bytes of
# driver RSS once the collect's buffers are freed (+6.9 MB for 3.1 MB
# pinned), with ~3x the pinned bytes of transient RSS during the
# collect.  32 MB admits perfbench's index (8.3 MB of bound) with ~4x
# headroom and caps a pin's resident cost near 25 MB.  bench.py's sf0.1
# index pins its docs (10.7 MB of bound) but not its postings (199 MB),
# so its queries keep the Spark scan; its sf1.0 index (10x the docs of
# sf0.1) pins neither.
DRIVER_PIN_BYTES = 32 << 20


def _release_freed_memory() -> None:
    """Hand the pin's freed collect buffers back to the OS.  A collected
    Arrow batch is a Python-owned buffer on the malloc heap, and glibc
    keeps freed heap pages resident until the heap is trimmed, so a pin
    would otherwise leave about twice its bytes in the driver's RSS.
    No-op where libc has no ``malloc_trim``."""
    pa.default_memory_pool().release_unused()
    try:
        ctypes.CDLL(None).malloc_trim(0)
    except (OSError, AttributeError):
        pass


class Searcher:
    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        cache_docs: bool = False,
        dict_cache_rows: int = 2_000_000,
    ):
        self.spark = spark
        self.index_dir = index_dir
        self.cache_docs = cache_docs
        self.dict_cache_rows = dict_cache_rows
        self.layout = IndexLayout(index_dir)
        self._docs_cached: DataFrame | None = None
        self.last_plan: dict | None = None
        self._pin()

    def _pin(self) -> None:
        """Pin the per-index state of the current meta generation."""
        spark, layout = self.spark, self.layout
        # lifecycle bumps next_seq on every upsert, delete and compact:
        # _ctx() compares it to notice pinned state going stale
        self._pinned_seq = layout.meta.next_seq
        # table -> why it is not pinned in driver RAM, and the driver
        # bytes of each pinned one.  The old generation is dropped here,
        # before the new one is collected, so the two never share RAM.
        self.unpinned: dict[str, str] = {}
        self.pinned_bytes: dict[str, int] = {}
        self._dict_pdf: pd.DataFrame | None = None
        self._blockmax_pdf: pd.DataFrame | None = None
        self._docs_pin: pa.Table | None = None
        self._postings_pin: X.PinnedPostings | None = None
        # the resolved postings relation: a query scanned in Spark then
        # lists no files and infers no schema before its scan
        self._postings_df = X._live_union(spark, layout, "postings")
        if self.dict_cache_rows:
            # the docs pin needs no dictionary: its jobs run beside the
            # dict and blockmax collects
            with ThreadPoolExecutor(1) as pool:
                docs_ub = pool.submit(self._pin_docs)
                self._pin_dict()
                self._pin_blockmax()
                docs_ub = docs_ub.result()
            self._pin_postings(docs_ub)
        else:
            self.unpinned = dict.fromkeys(
                ("dict", "blockmax", "docs", "postings"), "dict_cache_rows=0")
        if self.cache_docs and self._docs_pin is None:
            self._docs_cached = X.live_docs(spark, self.index_dir).cache()
            self._docs_cached.count()
        _release_freed_memory()

    def _pin_dict(self) -> None:
        cap = self.dict_cache_rows
        agg = X._live_union(self.spark, self.layout, "dict").groupBy("term").agg(
            F.sum("df").alias("df"),
            F.sum("hits").alias("hits"),
            F.max("max_tf").alias("max_tf"),
            F.sum("exact_df").alias("exact_df"),
            F.sum("exact_hits").alias("exact_hits"),
            F.first("bucket").alias("bucket"),
        )
        # one job: a table over the cap shows itself by its cap+1'th row
        pdf = agg.limit(cap + 1).toPandas()
        if len(pdf) > cap:
            self.unpinned["dict"] = f"more than {cap} terms > dict_cache_rows"
            return
        self._dict_pdf = pdf.sort_values("term").reset_index(drop=True)
        self.pinned_bytes["dict"] = int(self._dict_pdf.memory_usage(deep=True).sum())

    def _pin_blockmax(self) -> None:
        """Pin the block-max table too (same searchd-RAM-wordlist analog):
        warm queries then plan block skipping in driver pandas with zero
        extra Spark jobs.  Degrades to the distributed planner when the
        table outgrows the cap or the index has no blockmax table."""
        try:
            bmx = X._live_union(self.spark, self.layout, "blockmax")
        except AnalysisException as e:
            # e.g. an index built before blockmax existed
            self.unpinned["blockmax"] = f"AnalysisException: {str(e).splitlines()[0]}"
            return
        cap = 4 * self.dict_cache_rows
        agg = bmx.groupBy("term", "blk").agg(*X.blockmax_aggs())
        pdf = agg.limit(cap + 1).toPandas()
        if len(pdf) > cap:
            self.unpinned["blockmax"] = f"more than {cap} rows > 4 * dict_cache_rows"
            return
        # sorted by term: the executor's pinned block planner resolves
        # query terms by binary search (no per-query full-frame isin scan)
        self._blockmax_pdf = pdf.sort_values("term", kind="mergesort").reset_index(drop=True)
        self.pinned_bytes["blockmax"] = int(
            self._blockmax_pdf.memory_usage(deep=True).sum())

    def _pin_docs(self) -> int:
        """Pin the docs columns (hydration and the scorer's attributes)
        when their bound fits DRIVER_PIN_BYTES; returns the bound."""
        docs_ub = X.docs_bytes_ub(self.spark, self.layout)
        if docs_ub > DRIVER_PIN_BYTES:
            self.unpinned["docs"] = (
                f"bound {docs_ub} B > DRIVER_PIN_BYTES {DRIVER_PIN_BYTES} B")
        else:
            self._docs_pin = X.pin_docs(self.spark, self.index_dir)
            self.pinned_bytes["docs"] = self._docs_pin.nbytes
        return docs_ub

    def _pin_postings(self, docs_ub: int) -> None:
        """Pin the live postings when the pinned dictionary bounds them,
        with the docs, within DRIVER_PIN_BYTES.  A warm query that scores
        in the driver then reads its input and hydrates its result with
        no Spark job."""
        if self._dict_pdf is None or self._docs_pin is None:
            self.unpinned["postings"] = (
                f"{'dict' if self._dict_pdf is None else 'docs'} not pinned")
            return
        post_ub = X.postings_pin_bytes_ub(self._dict_pdf)
        if docs_ub + post_ub > DRIVER_PIN_BYTES:
            self.unpinned["postings"] = (
                f"bound {post_ub} B + docs {docs_ub} B > "
                f"DRIVER_PIN_BYTES {DRIVER_PIN_BYTES} B")
            return
        spark = self.spark
        # the live docs' (docid, seq) as a LocalRelation: the live filter
        # then costs the scan no extra job
        live = spark.createDataFrame(self._docs_pin.select(["docid", "seq"]))
        try:
            self._postings_pin = X.PinnedPostings.collect(
                X.live_postings(spark, self.layout, self._postings_df, live),
                self._dict_pdf["term"].to_numpy(), self._docs_pin)
        except ValueError as e:
            self.unpinned["postings"] = f"ValueError: {e}"
            return
        self.pinned_bytes["postings"] = self._postings_pin.nbytes

    # -- plumbing ---------------------------------------------------------
    def _ctx(self) -> dict:
        """Per-call context of pinned state, re-pinned first when the
        index changed since the pin (a stale pin would miss upserted docs
        and, after compact, point at deleted segment files)."""
        if self.layout.meta.next_seq != self._pinned_seq:
            self.refresh()
        return {
            "dict_pdf": self._dict_pdf,
            "docs_df": self._docs_cached,
            "docs_pin": self._docs_pin,
            "blockmax_pdf": self._blockmax_pdf,
            "postings_df": self._postings_df,
            "postings_pin": self._postings_pin,
        }

    def _run(self, fn, query: Query | str, **kw):
        ctx = self._ctx()
        out = fn(self.spark, self.index_dir, query, _ctx=ctx, **kw)
        # what the query planned: blocks kept, τ passes, scorer tasks
        self.last_plan = ctx.get("block_plan")
        return out

    def search(self, query: Query | str, **kw) -> DataFrame:
        return self._run(X.search, query, **kw)

    def search_with_meta(self, query: Query | str, **kw):
        return self._run(X.search_with_meta, query, **kw)

    def score_matches(self, query: Query | str, **kw) -> DataFrame:
        return self._run(X.score_matches, query, **kw)

    def facets(self, query: Query | str, **kw) -> DataFrame:
        from sphinxsearchengine_spark.query.facets import category_facet

        return category_facet(self.spark, self.index_dir, query, **kw)

    def suggest(self, raw_query: str, user: str | None = None) -> str | None:
        from sphinxsearchengine_spark.query.suggest import did_you_mean

        # pinned dictionary → zero Spark jobs for the whole suggestion
        return did_you_mean(
            self.spark, self.index_dir, raw_query, _ctx=self._ctx(), user=user
        )

    def refresh(self) -> None:
        """Re-pin state after lifecycle mutations (upsert/delete/compact)."""
        if self._docs_cached is not None:
            self._docs_cached.unpersist()
            self._docs_cached = None
        self._pin()
