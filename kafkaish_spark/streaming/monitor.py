"""Delivery observability: consumer-metrics for subscriptions.

The reference has zero observability — a subscriber callback either
fires or it doesn't.  Kafka exposes consumer metrics (records-consumed
rate, lag, commit counts); the Spark-native equivalent is the
StreamingQueryListener event stream, which this module aggregates into
a per-query metrics table: batches, rows, rows/sec, last batch
duration.  The subscription followers (``subscribe``,
``subscribe_batches``, consumer-group members) are not streaming
queries; they report each batch to the attached monitors directly
(``report_batch``), keyed by their ``Subscription.query.id`` as a query
is.  Listener
callbacks run on the driver's listener bus — they must never touch
DataFrames or block; this one only appends small dicts, safe at any
scale.  Pair with ``Topic.subscriber_lag()`` (the
backlog side) for the full lag + throughput picture.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQueryListener


# Monitors attached in this process, with their session: deliveries
# that are not streaming queries (the subscription followers) report
# each batch through ``report_batch`` instead of the listener bus.
_ATTACHED: list[tuple[SparkSession, "DeliveryMonitor"]] = []
_ATTACHED_LOCK = threading.Lock()


def report_batch(spark: SparkSession, progress: dict) -> None:
    """Hand one follower batch's progress dict (``id``,
    ``numInputRows``, ``durationMs``) to the monitors attached to
    ``spark``."""
    with _ATTACHED_LOCK:
        mons = [m for s, m in _ATTACHED if s is spark]
    for mon in mons:
        mon._record(
            progress["id"],
            progress["numInputRows"],
            progress["durationMs"]["triggerExecution"],
        )


class DeliveryMonitor(StreamingQueryListener):
    """Collects per-query delivery metrics from the listener bus.

    Usage::

        mon = DeliveryMonitor.attach(spark)
        ... run subscriptions ...
        mon.metrics()            # {query_name: {...}}
        mon.metrics_df(spark)    # same as a DataFrame
        mon.detach(spark)
    """

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._by_query: dict[str, dict] = {}

    # -- listener callbacks (driver listener bus: keep tiny, non-blocking)
    def onQueryStarted(self, event) -> None:
        with self._lock:
            self._by_query.setdefault(
                event.name or event.id.__str__(),
                {"batches": 0, "rows": 0, "last_batch_ms": 0.0, "active": True},
            )

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self._record(
            p.name or str(p.id),
            p.numInputRows,
            p.durationMs.get("triggerExecution", 0),
        )

    def _record(self, key: str, rows: int, batch_ms: float) -> None:
        with self._lock:
            m = self._by_query.setdefault(
                key, {"batches": 0, "rows": 0, "last_batch_ms": 0.0, "active": True}
            )
            m["batches"] += 1
            m["rows"] += rows
            m["last_batch_ms"] = float(batch_ms)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            for m in self._by_query.values():
                m["active"] = m.get("active", False)

    # -- API
    @classmethod
    def attach(cls, spark: SparkSession) -> "DeliveryMonitor":
        mon = cls()
        spark.streams.addListener(mon)
        with _ATTACHED_LOCK:
            _ATTACHED.append((spark, mon))
        return mon

    def detach(self, spark: SparkSession) -> None:
        spark.streams.removeListener(self)
        with _ATTACHED_LOCK:
            _ATTACHED[:] = [(s, m) for s, m in _ATTACHED if m is not self]

    def metrics(self) -> dict[str, dict]:
        with self._lock:
            return {k: dict(v) for k, v in self._by_query.items()}

    def metrics_df(self, spark: SparkSession) -> DataFrame:
        rows = [
            (k, v["batches"], v["rows"], v["last_batch_ms"])
            for k, v in self.metrics().items()
        ]
        return spark.createDataFrame(
            rows or [],
            "query string, batches bigint, rows bigint, last_batch_ms double",
        )
