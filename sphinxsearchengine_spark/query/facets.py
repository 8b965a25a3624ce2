"""Category facets (SURVEY.md Q13).

The reference runs ``SELECT id, category FROM idx WHERE MATCH(?)
GROUP BY category LIMIT 1000`` then splits '|'-joined strings client-side
(SphinxSearchEngine_class.php:310-331).  Our categories are a real
ArrayType: facet = matched docids ⋈ docs → explode(category) →
groupBy/count, capped at FACET_CAP (the reference's LIMIT 1000).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from sphinxsearchengine_spark.config import FACET_CAP
from sphinxsearchengine_spark.query.parser import Query


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
    from sphinxsearchengine_spark.query.executor import live_docs, score_matches

    _ctx = {} if _ctx is None else _ctx  # one tombstones collect
    matched = score_matches(
        spark, index_dir, query, langs, now_ts, _ctx=_ctx, match_only=True
    ).select("docid")
    docs = live_docs(spark, index_dir, _ctx).select("docid", "category")
    return (
        docs.join(matched, "docid", "left_semi")
        .select(F.explode("category").alias("category"))
        .groupBy("category")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("category")
        .limit(cap)
    )
