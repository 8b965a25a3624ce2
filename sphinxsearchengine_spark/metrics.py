"""Shuffle/stage metrics readout (VERDICT r4 next-round #1).

Reads completed-stage task metrics from Spark's AppStatusStore (the
same store the UI serves; populated even with spark.ui.enabled=false)
so the index builder can record *measured* shuffle volume — bytes
written to the (bucket, salt) exchange per document — in each segment
manifest, instead of arguing about payload size from first principles.

Pure py4j against the public v1.StageData REST model; no listener
registration, no event-log requirement.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _drain_listener_bus(spark: SparkSession) -> None:
    """AppStatusStore is fed by an ASYNC listener queue: a job action can
    return before the last TaskEnd/StageCompleted events are applied, so
    metrics read immediately after the action may be incomplete.  Drain
    the bus first (what Spark's own test suite does); best-effort across
    the two waitUntilEmpty signatures, silently skipped if unavailable."""
    try:
        bus = spark.sparkContext._jsc.sc().listenerBus()
        try:
            bus.waitUntilEmpty(10_000)
        except Exception:
            bus.waitUntilEmpty()
    except Exception:
        pass


def _store(spark: SparkSession):
    return spark.sparkContext._jsc.sc().statusStore()


def _stage_list(spark: SparkSession):
    store = _store(spark)
    defaults = [
        getattr(store, f"stageList$default${i}")() for i in range(2, 6)
    ]
    return store.stageList(None, *defaults)


def latest_stage_id(spark: SparkSession) -> int:
    """Highest stage id seen so far (-1 before any job)."""
    stages = _stage_list(spark)
    best = -1
    for i in range(stages.size()):
        best = max(best, stages.apply(i).stageId())
    return best


def stage_metrics(spark: SparkSession, after_stage_id: int = -1) -> list[dict]:
    """Per-stage metrics for every stage with id > after_stage_id.

    Returns [{stage_id, name, num_tasks, shuffle_write_bytes,
    shuffle_write_records, shuffle_read_bytes, input_bytes,
    output_bytes}, ...] sorted by id.
    """
    _drain_listener_bus(spark)
    stages = _stage_list(spark)
    out = []
    for i in range(stages.size()):
        s = stages.apply(i)
        if s.stageId() <= after_stage_id:
            continue
        out.append(
            {
                "stage_id": s.stageId(),
                "name": s.name(),
                "num_tasks": s.numTasks(),
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "shuffle_write_records": s.shuffleWriteRecords(),
                "shuffle_read_bytes": s.shuffleReadBytes(),
                "input_bytes": s.inputBytes(),
                "output_bytes": s.outputBytes(),
            }
        )
    out.sort(key=lambda d: d["stage_id"])
    return out


def shuffle_summary(stages: list[dict]) -> dict:
    """Aggregate view of a step's stages: the dominant exchange (max
    write) plus totals."""
    if not stages:
        return {"shuffle_write_bytes": 0, "shuffle_write_records": 0,
                "total_shuffle_write_bytes": 0}
    big = max(stages, key=lambda d: d["shuffle_write_bytes"])
    return {
        "shuffle_write_bytes": big["shuffle_write_bytes"],
        "shuffle_write_records": big["shuffle_write_records"],
        "total_shuffle_write_bytes": sum(
            d["shuffle_write_bytes"] for d in stages
        ),
    }
