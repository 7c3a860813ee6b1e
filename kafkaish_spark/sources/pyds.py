"""``spark.read.format("kafkaish")`` — the topic log as a first-class
Spark Data Source, via the Python Data Source API (Spark 4.x,
``pyspark.sql.datasource``).

The reference exposes its log only through its own client object
(`kafkaish().connect()` -> topic handle, /root/reference/src/index.js:3-5);
there is no way to hand the log to a query engine as a TABLE.  This
module closes that gap idiomatically: the log becomes a named source
any Spark reader can load —

    spark.dataSource.register(KafkaishDataSource)
    df = (spark.read.format("kafkaish")
          .option("path", engine.root).option("topic", "orders").load())

    stream = (spark.readStream.format("kafkaish")
              .option("path", engine.root).option("topic", "orders").load())

Batch path (``KafkaishBatchReader``):
- one ``InputPartition`` per log segment file — the same file-granular
  parallelism the JVM parquet reader uses, so a 10k-segment topic
  fans out across the cluster;
- ``pushFilters`` accepts offset comparisons and event equality, and
  partition planning PRUNES whole segments on their parquet footer
  min/max offset stats before any task launches (the Python-side twin
  of row-group skipping); surviving filters are re-applied exactly on
  the Arrow table, so accepting them is semantically lossless;
- each task reads its file with pyarrow and yields Arrow
  RecordBatches — zero row-at-a-time Python.

Streaming path (``KafkaishPartitionedStreamReader`` — the one
``streamReader()`` returns): a full ``DataSourceStreamReader`` whose
offset dict is the topic's publish offset — the official-API analog
of the reference's tailable cursor (src/topic.js:81-117), but
EXECUTOR-PARALLEL: each trigger's offset range is planned onto the
log segments overlapping it (footer-stats pruned, like the batch
reader) and each segment is read on an executor as Arrow batches.
Rows never funnel through the driver, so a fat backlog drains with
cluster parallelism — the r8 driver-side bottleneck is gone.  The
driver only reads footers (``latestOffset``).

Which files are the log, what their footers say, where the tail is
and how a segment is read and filtered are decided in
``sources/topic_log.py`` (``segment_records``, ``log_tail``,
``read_segment``) — the same listing, footer parser, tail and segment
reader ``Topic`` and ``subscribe()`` use, with Spark's hidden-path
rule, so this connector can never see a file (an in-flight
``_temporary`` task output, say) that ``Topic.log()`` does not.

Write path: ``df.write.format("kafkaish").mode("append")`` appends to
the log through the V2 two-phase commit (executors stage, the driver
commit assigns contiguous offsets after the tail — see the write-side
comment block), and ``writeStream.format("kafkaish")`` is a per-epoch
exactly-once sink (committed batchIds are markers, so checkpoint
retries cannot double-append) — together they make topic-to-topic
relays (`readStream` -> transform -> `writeStream`) a one-liner.

Offsets here are the ENGINE's message offsets reused as streaming
progress markers — one integer per topic, resume-exact.

SQL-surface caveat (verified on Spark 4.1.2): ``CREATE TABLE ... USING
kafkaish OPTIONS (path ..., topic ...)`` plans, but the catalog
integration hands the Python DataSource an EMPTY options dict at read
time, so SQL-defined tables cannot reach the log — a platform
limitation of the Python Data Source API, not of this connector.  For
SQL access, load through the DataFrame API and register a view (what
sources/typed.py's topic views do).
"""

from __future__ import annotations

import contextlib
import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)

from kafkaish_spark.sources.topic_log import (
    detect_partitioned,
    log_tail,
    read_segment,
    segment_records,
)

ENVELOPE_DDL = "offset bigint, ts timestamp, event string, message string"


def _log_dir(options: dict) -> str:
    path = options.get("path")
    topic = options.get("topic")
    if not path or not topic:
        raise ValueError(
            "kafkaish source needs .option('path', <engine root>) and "
            ".option('topic', <name>)"
        )
    log_dir = os.path.join(path, topic, "log")
    if not os.path.isdir(log_dir):
        raise FileNotFoundError(f"no such topic log: {log_dir}")
    return log_dir


class _SegmentPartition(InputPartition):
    """One log segment, read for offsets in (min_excl, max_incl]
    (``None`` = unbounded; an empty ``file`` reads nothing)."""

    def __init__(
        self, file: str, min_excl: int | None = None, max_incl: int | None = None
    ):
        self.file = file
        self.min_excl = min_excl
        self.max_incl = max_incl


def _plan(
    log_dir: str, min_excl: int | None, max_incl: int | None
) -> list[_SegmentPartition]:
    """One partition per non-empty segment that can hold offsets in
    (min_excl, max_incl], pruned on footer min/max stats — no data
    pages are read for empty or out-of-range segments.  A segment with
    incomplete stats always stays in; ``_read``'s row filter does the
    exact work."""
    parts = []
    for rec in segment_records(log_dir):
        if not rec["num_rows"]:
            continue  # the topic seed file / compacted-away segment
        if rec["min_off"] is not None:
            if min_excl is not None and rec["max_off"] <= min_excl:
                continue
            if max_incl is not None and rec["min_off"] > max_incl:
                continue
        parts.append(_SegmentPartition(rec["path"], min_excl, max_incl))
    return parts


def _read(partition: _SegmentPartition, event: str | None = None):
    """The partition's envelope rows as Arrow batches, filtered exactly
    to its offset range and ``event`` (``topic_log.read_segment``)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if not partition.file:
        return
    tbl = read_segment(
        partition.file, partition.min_excl, partition.max_incl, event
    )
    # normalize ts to micros-no-tz: Spark's Arrow bridge expects the
    # TimestampType batches timezone-naive
    ts = tbl["ts"]
    if pa.types.is_timestamp(ts.type) and (
        ts.type.tz is not None or ts.type.unit != "us"
    ):
        tbl = tbl.set_column(
            tbl.schema.get_field_index("ts"), "ts", pc.cast(ts, pa.timestamp("us"))
        )
    yield from tbl.to_batches()


class KafkaishBatchReader(DataSourceReader):
    """File-per-partition batch reader with offset/event pushdown."""

    def __init__(self, options: dict):
        self.log_dir = _log_dir(options)
        # bounds are half-open/closed to mirror Topic.replay: since is
        # exclusive, until inclusive
        self.min_excl: int | None = None
        self.max_incl: int | None = None
        self.event: str | None = None

    def pushFilters(self, filters):  # noqa: N802 — API name
        for f in filters:
            if isinstance(f, (GreaterThan, GreaterThanOrEqual)) and f.attribute == (
                "offset",
            ):
                lo = int(f.value) if isinstance(f, GreaterThan) else int(f.value) - 1
                self.min_excl = lo if self.min_excl is None else max(self.min_excl, lo)
            elif isinstance(f, (LessThan, LessThanOrEqual)) and f.attribute == (
                "offset",
            ):
                hi = int(f.value) - 1 if isinstance(f, LessThan) else int(f.value)
                self.max_incl = hi if self.max_incl is None else min(self.max_incl, hi)
            elif isinstance(f, EqualTo) and f.attribute == ("event",):
                self.event = str(f.value)
            else:
                yield f  # unsupported: Spark re-applies it

    def partitions(self):
        # an empty topic still needs one (empty) partition so load()
        # returns a 0-row frame instead of failing planning
        return _plan(self.log_dir, self.min_excl, self.max_incl) or [
            _SegmentPartition("")
        ]

    def read(self, partition: _SegmentPartition):
        return _read(partition, self.event)


class KafkaishPartitionedStreamReader(DataSourceStreamReader):
    """Executor-parallel streaming reader.  Each trigger covers the
    offset range (last committed tail, current tail]; ``partitions``
    maps that range onto the log segments overlapping it (footer-stats
    pruned, like the batch reader), and each partition is read on an
    EXECUTOR as Arrow batches — rows never funnel through the driver,
    so a fat backlog drains with cluster parallelism."""

    def __init__(self, options: dict):
        self.log_dir = _log_dir(options)
        self.replay = str(options.get("replay", "true")).lower() != "false"

    def initialOffset(self) -> dict:  # noqa: N802 — API name
        return {"offset": 0 if self.replay else self.latestOffset()["offset"]}

    def latestOffset(self) -> dict:  # noqa: N802 — API name
        return {"offset": log_tail(segment_records(self.log_dir))}

    def partitions(self, start: dict, end: dict):
        # an empty range legitimately plans zero partitions
        lo, hi = int(start["offset"]), int(end["offset"])
        return _plan(self.log_dir, lo, hi) if hi > lo else []

    def read(self, partition: _SegmentPartition):
        return _read(partition)

    def commit(self, end: dict) -> None:
        pass  # durable progress lives in the streaming checkpoint


# ---------------------------------------------------------------- write side
#
# ``df.write.format("kafkaish")`` appends (event, message[, ts]) rows
# to the topic log with the V2 two-phase commit protocol doing what the
# reference's publish callback does (ack = durable write,
# src/topic.js:25-40), but transactionally:
#
#   executors  -> stage their partitions as parquet files (no offsets
#                 yet — offset assignment needs the global tail);
#   driver     -> commit() orders the staged files by partition id,
#                 assigns contiguous offsets after the current tail,
#                 rewrites each staged file as a proper log segment
#                 (per-file streaming, never whole-batch memory), and
#                 only then makes them visible; abort() deletes staging.
#
# A failed/speculative task's orphan stage file is ignored: commit only
# touches files named in the tasks' commit messages.  The streaming
# sink adds per-epoch idempotence: a committed batchId is recorded in a
# marker file, so Structured Streaming retries cannot double-append —
# the exactly-once contract the reference cannot offer.
# Single-writer per topic, like publish_df.


class _StagedFile(WriterCommitMessage):
    def __init__(self, path: str, rows: int, pid: int):
        self.path = path
        self.rows = rows
        self.pid = pid


def _arrow_envelope_schema():
    import pyarrow as pa

    return pa.schema(
        [
            pa.field("offset", pa.int64(), nullable=False),
            pa.field("ts", pa.timestamp("us", tz="UTC")),
            pa.field("event", pa.string()),
            pa.field("message", pa.string()),
        ]
    )


class KafkaishBatchWriter(DataSourceArrowWriter):
    def __init__(self, options: dict, overwrite: bool):
        if overwrite:
            raise ValueError(
                "kafkaish topics are append-only logs; use mode('append')"
            )
        self.log_dir = _log_dir(options)
        if detect_partitioned(self.log_dir):
            # flat segment files inside a hive-partitioned layout make
            # the JVM reader fail with conflicting directory structures
            raise ValueError(
                "kafkaish sink does not support date-partitioned topics; "
                "publish through Topic.publish_df instead"
            )
        import uuid

        self.stage_dir = os.path.join(
            os.path.dirname(self.log_dir), "_staging", uuid.uuid4().hex
        )

    # -- executors -----------------------------------------------------
    def write(self, iterator):
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        os.makedirs(self.stage_dir, exist_ok=True)
        path = os.path.join(
            self.stage_dir, f"stage-{pid:05d}-{uuid.uuid4().hex}.parquet"
        )
        batches = [b for b in iterator if b.num_rows]
        n = sum(b.num_rows for b in batches)
        if n:
            tbl = pa.Table.from_batches(batches)
            names = set(tbl.schema.names)
            if not {"event", "message"} <= names:
                raise ValueError(
                    "kafkaish sink needs (event string, message string"
                    f"[, ts timestamp]) columns, got {sorted(names)}"
                )
            pq.write_table(tbl, path)
        return _StagedFile(path, n, pid)

    # -- driver --------------------------------------------------------
    def _finalize_staged(
        self, staged: list, out_dir: str, tag: str
    ) -> list[str]:
        """Rewrite the tasks' staged files as final log segments in
        ``out_dir``: contiguous offsets assigned after the current
        tail, envelope schema enforced, one output file per non-empty
        stage file (streamed — never whole-batch memory).  File names
        are DETERMINISTIC in (tag, sequence) so a crashed-and-retried
        finalize overwrites its own partial output instead of
        orphaning it.  Returns the written file names in order."""
        import datetime

        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        offset = log_tail(segment_records(self.log_dir))
        now = datetime.datetime.now(datetime.timezone.utc)
        schema = _arrow_envelope_schema()
        names: list[str] = []
        for m in sorted(staged, key=lambda m: m.pid):
            if not m.rows:
                continue
            tbl = pq.read_table(m.path)
            offsets = pa.array(
                range(offset + 1, offset + 1 + m.rows), pa.int64()
            )
            offset += m.rows
            if "ts" in tbl.schema.names:
                ts = pc.cast(tbl["ts"], pa.timestamp("us", tz="UTC"))
            else:
                ts = pa.array([now] * m.rows, pa.timestamp("us", tz="UTC"))
            out = pa.Table.from_arrays(
                [
                    offsets,
                    ts,
                    pc.cast(tbl["event"], pa.string()),
                    pc.cast(tbl["message"], pa.string()),
                ],
                schema=schema,
            )
            name = f"part-{tag}-{len(names):05d}.parquet"
            pq.write_table(out, os.path.join(out_dir, name))
            names.append(name)
        return names

    def _publish_staged(self, staged: list) -> None:
        import uuid

        self._finalize_staged(staged, self.log_dir, f"w{uuid.uuid4().hex}")

    def _cleanup(self) -> None:
        import shutil

        shutil.rmtree(self.stage_dir, ignore_errors=True)

    def commit(self, messages):
        from kafkaish_spark.sources.topic_log import writer_lock

        try:
            # offset assignment reads the tail: single-writer guard,
            # same lock Topic.publish_df takes
            with writer_lock(
                os.path.dirname(self.log_dir), what="dsv2 append"
            ):
                self._publish_staged([m for m in messages if m is not None])
        finally:
            self._cleanup()

    def abort(self, messages):
        self._cleanup()


class KafkaishStreamWriter(DataSourceStreamArrowWriter, KafkaishBatchWriter):
    """Per-epoch exactly-once streaming sink, journaled and namespaced.

    Two failure modes the naive marker-per-batchId design had (round-4
    advice) are closed here:

    1. **Cross-run marker collisions.** batchIds restart at 0 for every
       new checkpoint, so a topic-global marker dir would silently drop
       epoch 0 of the next query writing to the same topic.  Markers
       now live under a namespace derived from the query's
       ``checkpointLocation`` (the stable per-run identity Structured
       Streaming already guarantees) — same checkpoint = same namespace
       (recovery still dedups), fresh checkpoint = fresh namespace.
    2. **Non-atomic commit.** The epoch's rows are first finalized
       (offsets assigned) into a prepared dir INSIDE the namespace,
       then a ``committing`` journal listing the renames is written
       atomically, then the renames run, then the journal flips to
       ``committed`` — the stage/commit/roll-forward protocol of
       sources/transactions.py.  A crash mid-publish leaves the
       journal, so the checkpoint retry FINISHES the old publish
       (ignoring its own freshly staged twin files) instead of
       re-appending the whole batch.

    Markers older than ``_RETAIN`` epochs are pruned after each commit,
    and namespaces of dead runs are garbage-collected on writer init
    once untouched for ``_DEAD_RUN_SECS`` (Spark retains at most
    ``spark.sql.streaming.minBatchesToRetain`` = 100 batches, so no
    retry can reach further back)."""

    _RETAIN = 200
    _DEAD_RUN_SECS = 7 * 24 * 3600

    def __init__(self, options: dict, overwrite: bool):
        import hashlib

        KafkaishBatchWriter.__init__(self, options, overwrite)
        opts = {str(k).lower(): v for k, v in options.items()}
        ident = opts.get("checkpointlocation") or opts.get("writerid")
        if not ident:
            raise ValueError(
                "kafkaish streaming sink needs a stable per-run identity "
                "for its exactly-once epoch markers: set "
                ".option('checkpointLocation', <dir>) (or a custom "
                ".option('writerId', <id>))"
            )
        self._run = hashlib.sha256(str(ident).encode()).hexdigest()[:16]
        self._epochs_root = os.path.join(
            os.path.dirname(self.log_dir), "_staging", "_epochs"
        )
        self.marker_dir = os.path.join(self._epochs_root, self._run)
        self._gc_dead_runs()

    # the stream ABC re-declares write as abstract AHEAD of the batch
    # implementation in the MRO; bind the concrete one explicitly
    write = KafkaishBatchWriter.write

    # -- marker/journal helpers -----------------------------------------
    def _read_marker(self, path: str) -> dict | None:
        try:
            with open(path) as f:
                return json.load(f)
        except (OSError, ValueError):
            return None

    def _write_marker(self, path: str, doc: dict) -> None:
        os.makedirs(self.marker_dir, exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(doc, f)
        os.replace(tmp, path)

    def _gc_dead_runs(self) -> None:
        import shutil
        import time

        cutoff = time.time() - self._DEAD_RUN_SECS
        # dead run namespaces AND orphaned stage dirs from crashed
        # attempts (write() ran, commit never did)
        staging_root = os.path.dirname(self._epochs_root)
        for root in (self._epochs_root, staging_root):
            if not os.path.isdir(root):
                continue
            for entry in os.listdir(root):
                d = os.path.join(root, entry)
                if (
                    d in (self.marker_dir, self._epochs_root, self.stage_dir)
                    or not os.path.isdir(d)
                ):
                    continue
                try:
                    newest = max(
                        (e.stat().st_mtime for e in os.scandir(d)),
                        default=os.stat(d).st_mtime,
                    )
                    if newest < cutoff:
                        shutil.rmtree(d, ignore_errors=True)
                except OSError:
                    continue  # concurrent writer; its run, its GC

    def _gc_markers(self, batch_id: int) -> None:
        if not os.path.isdir(self.marker_dir):
            return
        for f in os.listdir(self.marker_dir):
            if f.endswith(".json"):
                stem = f[:-5]
                if stem.isdigit() and int(stem) < batch_id - self._RETAIN:
                    try:
                        os.remove(os.path.join(self.marker_dir, f))
                    except OSError:
                        pass

    # -- commit protocol -------------------------------------------------
    def commit(self, messages, batchId):  # noqa: N803 — API name
        import shutil

        from kafkaish_spark.sources.topic_log import writer_lock

        marker = os.path.join(self.marker_dir, f"{batchId}.json")
        prep = os.path.join(self.marker_dir, f"prep-{batchId}")
        with writer_lock(
            os.path.dirname(self.log_dir), what="dsv2 stream epoch"
        ), contextlib.ExitStack() as cleanup:
            cleanup.callback(self._cleanup)
            doc = self._read_marker(marker)
            if doc is None:
                # fresh attempt: finalize into the prepared dir, then
                # journal the renames (the commit point)
                staged = [m for m in messages if m is not None]
                os.makedirs(prep, exist_ok=True)
                # run hash in the segment name: deterministic within a
                # run (idempotent retry) but collision-free across runs
                # writing to the same topic
                names = self._finalize_staged(
                    staged, prep, f"s{self._run}-b{batchId}"
                )
                doc = {
                    "state": "committing",
                    "names": names,
                    "prep": prep,
                    "rows": sum(m.rows for m in staged),
                }
                self._write_marker(marker, doc)
            if doc["state"] == "committing":
                # roll forward (first attempt and crash-retry alike):
                # deterministic names make this idempotent
                for name in doc["names"]:
                    src = os.path.join(doc["prep"], name)
                    dst = os.path.join(self.log_dir, name)
                    if os.path.exists(src) and not os.path.exists(dst):
                        os.replace(src, dst)
                shutil.rmtree(doc["prep"], ignore_errors=True)
                self._write_marker(
                    marker, {"state": "committed", "rows": doc["rows"]}
                )
            # else: already committed — the retry is a no-op
            self._gc_markers(int(batchId))

    def abort(self, messages, batchId):  # noqa: N803 — API name
        self._cleanup()


class KafkaishDataSource(DataSource):
    """The registrable source class (``spark.dataSource.register``)."""

    @classmethod
    def name(cls) -> str:
        return "kafkaish"

    def schema(self) -> str:
        return ENVELOPE_DDL

    def reader(self, schema) -> KafkaishBatchReader:
        return KafkaishBatchReader(self.options)

    def streamReader(self, schema) -> KafkaishPartitionedStreamReader:  # noqa: N802
        return KafkaishPartitionedStreamReader(self.options)

    def writer(self, schema, overwrite: bool) -> KafkaishBatchWriter:
        return KafkaishBatchWriter(self.options, overwrite)

    def streamWriter(self, schema, overwrite: bool):  # noqa: N802
        return KafkaishStreamWriter(self.options, overwrite)


def register(spark) -> None:
    """Idempotent registration of the 'kafkaish' format on a session
    (path = engine root + topic name: batch read with pushed filters,
    executor-parallel streaming, write side).  Also enables
    Python-data-source filter pushdown (runtime-settable SQL conf, off
    by default in 4.1) — without it Spark refuses any reader that
    implements pushFilters."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(KafkaishDataSource)


# ---------------------------------------------------------------- oracle query
from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from kafkaish_spark.plans.registry import query  # noqa: E402
from kafkaish_spark.sources.tables import load_table as t  # noqa: E402

_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

# Topic roots whose pyds fixture was fingerprint-validated this process
# (inputs are immutable within a process — same discipline as
# operators/cdc._VALIDATED_LOGS, optimization r12): the count+fingerprint
# self-heal probes are two eager aggregation jobs per call, pure
# plan-build overhead on every repeat invocation.
_VALIDATED_LOGS: set[str] = set()


@query(
    "q_pyds_topic_scan",
    oracle="""
    SELECT lang AS event,
           CAST(COUNT(*) AS BIGINT) AS n_msgs,
           CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
           CAST(SUM(n_chars) AS BIGINT) AS sum_n_chars
    FROM documents GROUP BY lang
    """,
    bench=True,  # the connector-scan nightly path (r4 verdict item 5);
    # min-of-2 reports the steady state (topic already materialized)
)
def q_pyds_topic_scan(spark: SparkSession, sf: str) -> DataFrame:
    """documents -> published into a real topic log (event = lang,
    message = JSON payload) -> read back through the PYTHON DATA SOURCE
    (``format('kafkaish')``) -> per-event fingerprint vs the
    parquet-native oracle.  Proves the whole connector chain: publish
    offset assignment, segment listing, Arrow-batch reads, and JSON
    payload extraction — any dropped/duplicated/corrupted message moves
    a sum.

    The topic is materialized once per sf under the repo warehouse and
    reused (publish is idempotent by count + content-fingerprint check
    — rebuild on mismatch, the rollup self-heal pattern; the
    fingerprint catches regenerated testdata with the same row count
    but different contents, which a bare count check would silently
    reuse)."""
    from kafkaish_spark.sources.topic_log import Engine

    d = t(spark, sf, "documents")
    root = os.path.join(
        _REPO_ROOT, "spark-warehouse", "_pyds",
        os.path.basename(sf.rstrip("/")) or "default",
    )
    eng = Engine(spark, root)
    topic = eng.prepare_topic("docs")
    # Validate once per (root, process): testdata cannot change within a
    # session, so repeat calls (bench min-of-N, driver sweeps) go straight
    # to the measured connector scan (optimization r12, guide §1.2).
    if root not in _VALIDATED_LOGS:
        n_docs, fp_docs = d.agg(
            F.count(F.lit(1)), F.sum("doc_id").cast("long")
        ).first()

        def _topic_fp() -> tuple[int, int | None]:
            row = topic.replay(since=0).agg(
                F.count(F.lit(1)),
                F.sum(F.get_json_object("message", "$.doc_id").cast("long")),
            ).first()
            return row[0], row[1]

        if topic.latest() != n_docs or _topic_fp() != (n_docs, fp_docs):
            if topic.latest():  # stale topic from older testdata: rebuild
                import shutil

                shutil.rmtree(os.path.join(root, "docs"))
                eng = Engine(spark, root)
                topic = eng.prepare_topic("docs")
            topic.publish_df(
                d.select(
                    F.col("lang").alias("event"),
                    F.to_json(F.struct("doc_id", "n_chars")).alias("message"),
                )
            )
        _VALIDATED_LOGS.add(root)
    register(spark)
    back = (
        spark.read.format("kafkaish")
        .option("path", root)
        .option("topic", "docs")
        .load()
    )
    return back.groupBy("event").agg(
        F.count(F.lit(1)).alias("n_msgs"),
        F.sum(F.get_json_object("message", "$.doc_id").cast("long"))
        .cast("long")
        .alias("sum_doc_id"),
        F.sum(F.get_json_object("message", "$.n_chars").cast("long"))
        .cast("long")
        .alias("sum_n_chars"),
    )
