"""High-level engine facade (the reference's ``SphinxSearchEngine``
class analog, SphinxSearchEngine_class.php:70-243).

``Searcher`` pins per-index state across queries the way searchd keeps
its wordlist in RAM:

- the term dictionary and the block-max table are collected to the
  driver once (when under ``dict_cache_rows``), so query expansion and
  block planning run in driver pandas with no Spark job;
- the resolved postings relation is kept, so a query lists no files and
  infers no schema before its scan;
- the hydration projection of the docs table is optionally cached in
  executor memory (``cache_docs=True``).

A warm ``search(...).collect()`` of a plan that fits one scorer task
then runs two Spark jobs: the pruned postings scan, collected in one
Arrow job and scored in the driver, and one ``docid IN (top-k)`` lookup
of the docs to hydrate; ranking and the offset run on the driver and
the result is a LocalRelation.  A larger plan is scored on executors
(docid exchange sized from the plan's row estimate, Arrow scorer) and
only its top rows are collected.  The driver-side frames a plan
broadcasts are LocalRelations, so they add no jobs; the two-pass τ
refinement adds a pass-A job only when the plan needs more than one
scorer task.  ``Searcher.last_plan`` records what the last query
planned and where it was scored (``scorer``).

The pinned state belongs to one meta generation: lifecycle bumps
``meta.next_seq`` on every upsert, delete and compact, and each call
re-pins first when it moved, so a Searcher never serves a stale view.

At 10^12-doc scale the dictionary no longer fits one driver; the same
class degrades gracefully to bucket-pruned dictionary scans
(dict_cache_rows=0).
"""

from __future__ import annotations

import pandas as pd

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
        # table -> why it is not pinned in driver RAM
        self.unpinned: dict[str, str] = {}
        self._dict_pdf: pd.DataFrame | None = None
        self._blockmax_pdf: pd.DataFrame | None = None
        if self.dict_cache_rows:
            self._pin_dict()
            self._pin_blockmax()
        else:
            self.unpinned = {"dict": "dict_cache_rows=0", "blockmax": "dict_cache_rows=0"}
        # the resolved postings relation: a warm query then lists no files
        # and infers no schema before its scan
        self._postings_df = X._live_union(spark, layout, "postings")
        if self.cache_docs:
            self._docs_cached = X.live_docs(spark, self.index_dir).cache()
            self._docs_cached.count()

    def _pin_dict(self) -> None:
        dic = X._live_union(self.spark, self.layout, "dict")
        n_dict = dic.count()
        if n_dict > self.dict_cache_rows:
            self.unpinned["dict"] = f"{n_dict} rows > dict_cache_rows"
            return
        self._dict_pdf = (
            dic.groupBy("term")
            .agg(
                F.sum("df").alias("df"),
                F.sum("hits").alias("hits"),
                F.max("max_tf").alias("max_tf"),
                F.sum("exact_df").alias("exact_df"),
                F.sum("exact_hits").alias("exact_hits"),
                F.first("bucket").alias("bucket"),
            )
            .toPandas()
            .sort_values("term")
            .reset_index(drop=True)
        )

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
        agg = bmx.groupBy("term", "blk").agg(
            F.sum("n").alias("n"),
            F.max("max_tf").alias("max_tf"),
            F.max("max_etf").alias("max_etf"),
            F.expr("bit_or(fmask)").alias("fmask"),
            F.max("max_dsum").alias("max_dsum"),
        )
        n_bmx = agg.count()
        if n_bmx > 4 * self.dict_cache_rows:
            self.unpinned["blockmax"] = f"{n_bmx} rows > 4 * dict_cache_rows"
            return
        # sorted by term: the executor's pinned block planner resolves
        # query terms by binary search (no per-query full-frame isin scan)
        self._blockmax_pdf = (
            agg.toPandas()
            .sort_values("term", kind="mergesort")
            .reset_index(drop=True)
        )

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
            "blockmax_pdf": self._blockmax_pdf,
            "postings_df": self._postings_df,
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
