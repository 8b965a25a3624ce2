#!/usr/bin/env python
"""One churn cycle of the index lifecycle, profiled per operation.

Builds a small index from the generated corpus, pins a Searcher, then
runs one of each: ``lifecycle.upsert`` (half replacements, half new
docs), ``lifecycle.delete``, a fresh ``executor.search`` read with no
pinned state, ``Searcher.refresh``, ``lifecycle.purge_orphans`` and
``lifecycle.compact``.  For each operation it prints the wall time, the
number of Spark stages it started and the largest task count of any of
them (``metrics.stage_metrics``), plus the widths the upsert's and the
compact's segment builds ran (their manifests) and what the fresh read
planned, as the query records it (``_ctx["block_plan"]``): whether its
blocks were planned, how many, the rarest group's df, where its scan
and scorer ran, and any planner fallback with its reason.  ``local[k]``
and the driver heap are sized from this machine's cores and available
RAM, as the benchmark sizes them.  Usage:

    python scripts/profile_churn.py [n_docs] [upsert_docs]
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))


def main() -> int:
    from pyspark.sql import SparkSession, functions as F

    from run import box_sizing  # perfbench/run.py: the benchmark's sizing

    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    n_up = int(sys.argv[2]) if len(sys.argv) > 2 else max(4, n_docs // 50)
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
    from sphinxsearchengine_spark.config import EngineConfig
    from sphinxsearchengine_spark.corpus import (
        PINNED_NOW,
        derive_documents,
        generate_corpus,
    )
    from sphinxsearchengine_spark.engine import Searcher
    from sphinxsearchengine_spark.index import lifecycle as L
    from sphinxsearchengine_spark.index.builder import build_index
    from sphinxsearchengine_spark.index.layout import IndexLayout
    from sphinxsearchengine_spark.query.executor import search

    work = tempfile.mkdtemp(prefix="profile_churn_")
    idx = os.path.join(work, "idx")
    cfg = EngineConfig(term_buckets=8)
    try:
        pool = derive_documents(generate_corpus(spark, n_docs + n_up, partitions=4))
        pool = pool.localCheckpoint(eager=True)
        ids = sorted(r.docid for r in pool.select("docid").collect())
        indexed, fresh = set(ids[:n_docs]), ids[n_docs:]
        docs = pool.filter(F.col("docid").isin(sorted(indexed)))
        build_index(spark, docs, idx, cfg, salt_factor=2)
        searcher = Searcher(spark, idx, cache_docs=True)
        layout = IndexLayout(idx)

        replaced = ids[: n_up // 2]
        batch = pool.filter(
            F.col("docid").isin(replaced + fresh[: n_up - n_up // 2])
        ).withColumn("content", F.concat_ws(" ", "content", F.lit("zqprofiletok")))
        dels = replaced[:2] + ids[n_up // 2: n_up // 2 + 2]
        source = spark.createDataFrame(
            [(d,) for d in sorted(indexed - set(dels))[2:]], "docid long")

        read_ctx: dict = {}
        ops = [
            ("upsert", lambda: L.upsert(spark, idx, batch, cfg)),
            ("delete", lambda: L.delete(spark, idx, dels)),
            ("fresh_read", lambda: search(spark, idx, "zqprofiletok", limit=20,
                                          now_ts=PINNED_NOW, _ctx=read_ctx).collect()),
            ("refresh", searcher.refresh),
            ("purge", lambda: L.purge_orphans(spark, idx, source)),
            ("compact", lambda: L.compact(spark, idx, cfg)),
        ]
        out = {"local": size["k"], "n_docs": n_docs, "upsert_docs": n_up}
        for name, fn in ops:
            seg = f"seg_{layout.meta.next_seq:05d}"
            sid = M.latest_stage_id(spark)
            t0 = time.perf_counter()
            fn()
            wall = time.perf_counter() - t0
            stages = M.stage_metrics(spark, sid)
            row = {
                "wall_s": round(wall, 3),
                "spark_stages": len(stages),
                "max_tasks": max((s["num_tasks"] for s in stages), default=0),
            }
            if name in ("upsert", "compact"):
                post = json.load(open(layout.manifest(seg)))["stages"]["postings"]
                row["widths"] = {k: post.get(k) for k in ("tokenize_tasks", "reduce_tasks")}
            if name == "fresh_read":
                plan = read_ctx["block_plan"]
                row["block_plan"] = {k: plan[k] for k in (
                    "planned", "n_blocks", "min_df", "scan", "scorer", "fallback")
                    if k in plan}
            out[name] = row
        print(json.dumps(out, indent=1))
    finally:
        spark.stop()
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
