#!/usr/bin/env python
"""Warm-query profile of the engine search path.

Prints what the Searcher pinned (``pinned_bytes``: driver bytes per
table) and what it did not, and why (``unpinned``).  Then, for each
query, runs ``Searcher.search(...).collect()`` n times and prints the
best wall time, the Spark stages the last run started
(``metrics.stage_metrics``) and the plan the query recorded
(``Searcher.last_plan``: blocks kept, τ passes, estimated scorer rows,
scorer tasks, where the plan was scored — ``scorer``: driver or
executors — and where its input came from — ``scan``: pinned or
spark).  ``local[k]`` and the driver heap are sized from this machine's
cores and available RAM.  Usage:

    python scripts/profile_search.py INDEX_DIR [n_repeats]
"""
from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

QUERIES = {
    "search_and": "index search",
    "search_phrase": '"alpha beta"',
    "search_hotterm": "hotterm",
    "search_prefix": "pars*",
    "search_field": "@title file_2*",
    "search_selective": "needleuniq hotterm",
}


def main() -> int:
    from pyspark.sql import SparkSession

    from run import box_sizing  # perfbench/run.py: the benchmark's sizing

    idx = sys.argv[1]
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    # Python workers import the package too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    size = box_sizing()
    spark = (
        SparkSession.builder.master(f"local[{size['k']}]")
        .config("spark.sql.shuffle.partitions", str(size["partitions"]))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", f"{size['driver_mb']}m")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from sphinxsearchengine_spark import metrics as M
    from sphinxsearchengine_spark.corpus import PINNED_NOW
    from sphinxsearchengine_spark.engine import Searcher

    searcher = Searcher(spark, idx, cache_docs=True)
    searcher.search("index", limit=20, now_ts=PINNED_NOW).collect()
    out = {"local": size["k"], "pinned_bytes": searcher.pinned_bytes,
           "unpinned": searcher.unpinned}
    for name, q in QUERIES.items():
        walls = []
        for _ in range(n):
            sid = M.latest_stage_id(spark)
            t0 = time.perf_counter()
            searcher.search(q, limit=20, now_ts=PINNED_NOW).collect()
            walls.append(time.perf_counter() - t0)
        stages = M.stage_metrics(spark, sid)
        out[name] = {
            "best_s": round(min(walls), 3),
            "spark_stages": len(stages),
            "scan": searcher.last_plan["scan"] if searcher.last_plan else None,
            "plan": searcher.last_plan,
        }
    print(json.dumps(out, indent=1, default=str))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
