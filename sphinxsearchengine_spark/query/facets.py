"""Category facets (SURVEY.md Q13).

The reference runs ``SELECT id, category FROM idx WHERE MATCH(?)
GROUP BY category LIMIT 1000`` then splits '|'-joined strings client-side
(SphinxSearchEngine_class.php:310-331).  Our categories are a real
ArrayType: facet = matched docids ⋈ docs → explode(category) →
count per category, capped at FACET_CAP (the reference's LIMIT 1000).

The match set is placed by `search`'s rule (`executor.scored_rows`): its
categories are counted from `executor.doc_rows` or grouped in Spark.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from sphinxsearchengine_spark.config import FACET_CAP
from sphinxsearchengine_spark.query import executor as X
from sphinxsearchengine_spark.query.parser import Query

FACET_SCHEMA = "category string, n_docs long NOT NULL"


def category_facet(
    spark: SparkSession,
    index_dir: str,
    query: Query | str,
    langs: list[str] | None = None,
    now_ts: int = 0,
    cap: int = FACET_CAP,
    _ctx: dict | None = None,
) -> DataFrame:
    """(category, n_docs) over the match set, sorted by category
    (the reference ksorts the deduped list)."""
    _ctx = {} if _ctx is None else _ctx  # one tombstones collect
    matched = X.scored_rows(X.plan_matches(
        spark, index_dir, query, langs, now_ts, None, _ctx, match_only=True), None)
    if isinstance(matched, DataFrame):
        docs = X.live_docs(spark, index_dir, _ctx).join(
            matched.select("docid"), "docid", "left_semi")
        cats = docs.select(F.explode("category").alias("category"))
        return cats.groupBy("category").agg(
            F.count(F.lit(1)).alias("n_docs")).orderBy("category").limit(cap)
    if matched is None:
        return X.local_frame(spark, [], FACET_SCHEMA)
    _, docs = X.doc_rows(spark, index_dir, matched["docid"].to_numpy(), _ctx)
    cats = docs["category"].combine_chunks().flatten().to_pandas()
    counts = cats.value_counts(dropna=False).sort_index(na_position="first")
    return X.local_frame(spark, counts.iloc[:cap].items(), FACET_SCHEMA)
