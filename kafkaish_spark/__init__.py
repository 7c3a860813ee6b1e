"""kafkaish_spark — a PySpark-native durable pub/sub log + analytics engine.

Re-expresses the capabilities of the reference implementation
(steveliles/kafkaish: durable topics with publish / ephemeral & durable
subscribe / replay-then-live / ack / retention, see
/root/reference/src/topic.js) on Spark-native storage and execution:

- Topic log  = partitioned Parquet append log (``sources.topic_log``)
- Subscribe  = driver-side follower on a message-offset cursor
  (``streaming.subscribe``): per-message ``subscribe``, DataFrame
  ``subscribe_batches`` and consumer-group members alike
- Ack        = per-subscriber JSON ack file, every subscriber's only
  durable position (no streaming checkpoint)
- Processing = batch + streaming relational operators over DataFrames
  (``operators``), validated against a DuckDB oracle.
"""

from kafkaish_spark.session import get_spark
from kafkaish_spark.sources.connect import export, ingest, messages_as
from kafkaish_spark.sources.idempotent import last_seq, publish_idempotent
from kafkaish_spark.sources.topic_log import Engine, Topic, writer_lock
from kafkaish_spark.sources.transactions import (
    publish_transaction,
    recover_transactions,
)
from kafkaish_spark.streaming.joins import enrich, interval_join
from kafkaish_spark.streaming.pipeline import pipe
from kafkaish_spark.streaming.subscribe import Subscription, subscribe

__all__ = [
    "get_spark",
    "Engine",
    "Topic",
    "subscribe",
    "Subscription",
    "pipe",
    "interval_join",
    "enrich",
    "ingest",
    "export",
    "messages_as",
    "publish_idempotent",
    "last_seq",
    "publish_transaction",
    "recover_transactions",
    "writer_lock",
]
__version__ = "0.1.0"
