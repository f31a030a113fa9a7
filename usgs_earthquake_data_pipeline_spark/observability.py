"""Zero-extra-pass pipeline metrics via Spark's Observation API.

The reference pipeline logs row counts by re-counting what it just
fetched (usgs-earthquake-data-ingestion-prod.py:428-436 prints
``len(features)`` per page). At 100 TB a separate ``df.count()``
before or after a write doubles the scan; ``DataFrame.observe``
instead attaches named aggregate expressions that are folded into the
SAME job that performs the write — the metrics ride the action's
existing pass over the data and cost nothing beyond a few
accumulators.

Only non-distinct aggregates are permitted by the API (they must be
mergeable accumulator-style across tasks); everything here is
count/sum/min/max-shaped, the same algebraic class the silver layer
uses.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def quality_metrics() -> list:
    """The standard event-quality aggregate set for a bronze landing:
    volume, null-rates of the analytically load-bearing optional
    columns, and the window's observed event-time span (a cheap
    monotonicity / wrong-window canary)."""
    return [
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("magnitude").isNull().cast("long")).alias("null_magnitude"),
        F.sum(F.col("tsunami").isNull().cast("long")).alias("null_tsunami"),
        F.min("eventtime").alias("min_eventtime"),
        F.max("eventtime").alias("max_eventtime"),
    ]


@contextmanager
def job_description(spark: SparkSession, text: str) -> Iterator[None]:
    """Label every Spark job launched inside the block with ``text``,
    the job description the Spark UI and the event log show, then
    restore the caller's description. The job group is left alone:
    whoever drives the pipeline (a scheduler, a benchmark) owns it."""
    sc = spark.sparkContext
    previous = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(text)
    try:
        yield
    finally:
        sc.setJobDescription(previous)


class StreamingMetricsListener:
    """Streaming twin of the batch Observation counters: a
    ``StreamingQueryListener`` that collects per-micro-batch progress
    — rows read, processing duration, and stateful-operator state
    size — into plain dicts.

    State-row counts are THE production alert for watermark bugs: a
    session/join/dedup operator whose ``numRowsTotal`` grows without
    bound means late-data eviction is not happening and the job will
    eventually OOM, long before wrong results surface. At 100 TB this
    listener feeds that signal to alerting; locally the streaming
    tests assert state stays bounded.

    Use ``spark.streams.addListener(listener)`` /
    ``removeListener``; progress arrives asynchronously after each
    micro-batch (availableNow runs deliver every batch's event before
    query termination completes).
    """

    def __init__(self) -> None:
        from pyspark.sql.streaming import listener as _l

        self.progress: list[dict] = []
        self.terminated: list[str] = []
        outer = self

        class _Inner(_l.StreamingQueryListener):
            def onQueryStarted(self, event) -> None:
                pass

            def onQueryProgress(self, event) -> None:
                p = event.progress
                state = [
                    {
                        "operatorName": op.operatorName,
                        "numRowsTotal": op.numRowsTotal,
                        "numRowsUpdated": op.numRowsUpdated,
                    }
                    for op in (p.stateOperators or [])
                ]
                outer.progress.append(
                    {
                        "id": str(p.id),
                        "batchId": p.batchId,
                        "numInputRows": p.numInputRows,
                        "durationMs": dict(p.durationMs or {}),
                        "stateOperators": state,
                    }
                )

            def onQueryTerminated(self, event) -> None:
                outer.terminated.append(str(event.id))

            def onQueryIdle(self, event) -> None:
                pass

        self._inner = _Inner()

    @property
    def listener(self):
        """The object to pass to ``spark.streams.addListener``."""
        return self._inner

    def total_input_rows(self) -> int:
        return sum(p["numInputRows"] for p in self.progress)

    def max_state_rows(self) -> int:
        return max(
            (
                op["numRowsTotal"]
                for p in self.progress
                for op in p["stateOperators"]
            ),
            default=0,
        )
