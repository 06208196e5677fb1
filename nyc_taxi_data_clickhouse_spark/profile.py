"""Per-stage execution statistics from Spark's status store.

It backs the web UI and REST API and is filled with the UI off too.
``spark.ui.retainedStages``/``retainedJobs`` cap it; raise them to diff
snapshots across a long run, or evictions make the difference negative.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

#: Per-stage metrics copied into each row, under the REST API's names.
_METRICS = ("executorRunTime", "jvmGcTime", "shuffleWriteBytes",
            "diskBytesSpilled", "memoryBytesSpilled")


def stage_rows(spark: SparkSession) -> list[dict]:
    """One dict per retained stage attempt, keyed like the REST API's
    ``/applications/{app}/stages``: ``stageId``, ``attemptId``, ``status``
    (``COMPLETE``, ``SKIPPED``, ...) and :data:`_METRICS` (ms, bytes)."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()  # stage events arrive asynchronously
    no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
    it = jsc.statusStore().stageList(None, False, False, no_quantiles, None).iterator()
    rows = []
    while it.hasNext():
        s = it.next()
        row = {"stageId": s.stageId(), "attemptId": s.attemptId(),
               "status": s.status().toString()}
        row.update((name, getattr(s, name)()) for name in _METRICS)
        rows.append(row)
    return rows
