"""Topic log: a durable, totally-ordered, append-only message log on Parquet.

Spark-native re-expression of the reference's MongoDB capped collection
(see /root/reference/src/topic.js:5-19 — capped collection as bounded
log; :25-40 publish; :118-201 replay; :202-220 ack; :221-244 latest;
:8-9 size-based retention).  Mapping:

- capped collection            -> parquet directory used as append log
- ObjectId ``_id`` (offset)    -> explicit ``offset BIGINT`` assigned at
                                  publish (strictly increasing per topic)
- ``{_id, event, message}``    -> envelope row
                                  (offset, ts, event, message-as-JSON)
- tailable cursor              -> ``subscribe()``'s offset-cursor
                                  follower, woken by ``TailSignal``
                                  (see kafkaish_spark.streaming)
- ``<topic>_subscribers``      -> one JSON ack file per subscriber
  offset collection               (``_subscribers/<name>.ack.json``),
                                  the durable position
- capped-size FIFO eviction    -> ``Topic.enforce_retention`` maintenance
                                  job (delete oldest committed files)

Scale notes (100 TB): a topic log is just a parquet directory, so the
normal levers apply — ``partitioned=True`` lays the log out as
``pub_date=YYYY-MM-DD/`` for partition pruning, offsets stay strictly
increasing across the whole topic (single logical partition, exactly the
reference's model — kafkaish has no partition/key concept).  For
multi-writer throughput beyond that, shard into N topics and union:
same relaxation Kafka makes.  Offset assignment is fully distributed
(per-partition id + driver-side cumsum of partition counts — no global
sort, no single-partition shuffle).
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import threading
import time
from typing import Any, Iterable
from uuid import uuid4

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DateType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

ENVELOPE = StructType(
    [
        StructField("offset", LongType(), False),
        StructField("ts", TimestampType(), False),
        StructField("event", StringType(), True),
        StructField("message", StringType(), True),
    ]
)

SUBSCRIBERS_SCHEMA = StructType(
    [
        StructField("name", StringType(), False),
        StructField("last_offset", LongType(), False),
        StructField("updated_ts", TimestampType(), False),
    ]
)

# Single-writer lock knobs (SURVEY §7 watch-list a, enforced round 5).
# Patchable for tests; stale breaking covers crashed writers.
_LOCK_TIMEOUT_S = 120.0
_LOCK_STALE_S = 600.0

# The compaction packing unit: ~128 MiB per data file — the scan-task
# size the engine's own partition-plan audit (q_audit_scan_partition_plan,
# composites47.py) targets and the r10 8-file layout study
# (tools/bench_parallel.py, BASELINE.md) validated; its 16-file addendum
# also records the other side of the knee (don't split a small topic
# into sub-MB tasks).  compact/compact_small derive their file counts
# from this by default, and Engine.compaction_advice quotes the same
# arithmetic in files_after, so advice -> action -> re-advice converges.
TARGET_BYTES_DEFAULT = 128 * 1024 * 1024


def _files_for_bytes(total_bytes: int, target_bytes: int) -> int:
    """ceil(total/target), never below one file."""
    return max(1, -(-int(total_bytes) // int(target_bytes)))


def _adjacency_runs(
    segs: list[dict], small_bytes: int
) -> list[tuple[str, list[dict]]]:
    """Group segments smaller than ``small_bytes`` into per-directory
    offset-ADJACENCY runs — the exact unit ``compact_small`` merges
    and therefore the exact unit ``compaction_advice`` must cost
    (review r11: an advice computed by any other arithmetic quotes a
    files_after the action cannot produce).  A large segment or an
    offset gap breaks the run; see compact_small's docstring for why
    merging across either would corrupt retention/fsck invariants."""
    by_dir: dict[str, list[dict]] = {}
    for s in segs:
        if s["min_off"] is not None:
            by_dir.setdefault(os.path.dirname(s["path"]), []).append(s)
    runs: list[tuple[str, list[dict]]] = []
    for d, group in sorted(by_dir.items()):
        run: list[dict] = []
        for s in sorted(group, key=lambda s: s["min_off"]):
            if s["size"] < small_bytes:
                if run and s["min_off"] != run[-1]["max_off"] + 1:
                    runs.append((d, run))
                    run = []
                run.append(s)
            else:
                if run:
                    runs.append((d, run))
                run = []
        if run:
            runs.append((d, run))
    return runs


def _segment_uuid(fn: str) -> str:
    """Commit-uuid group of a data file name:
    part-00000-<commit-uuid>[-...].snappy.parquet"""
    return fn.split("-", 2)[-1].split(".")[0]


def _hidden(name: str) -> bool:
    """Spark's hidden-path rule (``InMemoryFileIndex``): a path component
    that starts with ``.``, or with ``_`` and holds no ``=``, is not
    data — ``_temporary`` task output, ``_SUCCESS``, ``.inprogress``
    writes.  ``pub_date=...`` partition directories stay visible."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def segment_files(root: str) -> list[str]:
    """Every parquet data file under ``root`` that Spark's own reader
    would read, in path order — the one listing of a log's file set.
    The hidden rule applies at every level BELOW ``root``, so a staging
    root (``.mirror-stage-*``, ``log.compact.tmp``) lists like the log
    itself, and a task file under ``log/_temporary/`` — in flight or
    aborted — is never part of the log.  A missing root is empty."""
    out = []
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = sorted(d for d in dirs if not _hidden(d))
        out.extend(
            os.path.join(dirpath, fn)
            for fn in sorted(files)
            if fn.endswith(".parquet") and not _hidden(fn)
        )
    return out


def detect_partitioned(log_dir: str) -> bool | None:
    """The on-disk layout of a log directory: True for ``pub_date=``
    partition directories, False for flat segment files, None when it
    shows neither (missing, or a partitioned log never published to)."""
    try:
        entries = os.listdir(log_dir)
    except FileNotFoundError:
        return None
    if any(e.startswith("pub_date=") for e in entries):
        return True
    if any(e.startswith("part-") and e.endswith(".parquet") for e in entries):
        return False
    return None


def _footer_record(path: str, size: int | None = None) -> dict:
    """One segment's record — path, size, commit-uuid group, offset and
    ts ranges, row count — parsed from its parquet footer alone: the
    one footer parser of the log.  Raises when the footer cannot be
    read; a column the file lacks reads as missing stats."""
    import pyarrow.parquet as pq

    meta = pq.ParquetFile(path).metadata
    cols = {meta.schema.column(i).name: i for i in range(meta.num_columns)}

    def stats(rg: int, name: str):
        i = cols.get(name)
        return None if i is None else meta.row_group(rg).column(i).statistics

    min_off = max_off = None
    max_ts_us = None
    off_complete = ts_complete = True
    for rg in range(meta.num_row_groups):
        if meta.row_group(rg).num_rows == 0:
            continue
        s_off = stats(rg, "offset")
        if s_off is None or s_off.min is None or s_off.max is None:
            off_complete = False
        else:
            min_off = s_off.min if min_off is None else min(min_off, s_off.min)
            max_off = s_off.max if max_off is None else max(max_off, s_off.max)
        s_ts = stats(rg, "ts")
        if s_ts is not None and s_ts.max is not None:
            ts = s_ts.max
            us = (
                int(ts.timestamp() * 1_000_000)
                if hasattr(ts, "timestamp")
                else int(ts)
            )
            max_ts_us = us if max_ts_us is None else max(max_ts_us, us)
        else:
            ts_complete = False
    # a range covering only SOME row groups is worse than no range: a
    # partial max_off would understate the tail (so latest() could
    # reassign live offsets) and a partial max_ts_us would wrongly PRUNE
    # a segment whose newest rows sit in the stats-less group (review
    # r8).  None = "unknown", which every consumer treats conservatively.
    if not off_complete:
        min_off = max_off = None
    if not ts_complete:
        max_ts_us = None
    return {
        "path": path,
        "size": os.path.getsize(path) if size is None else size,
        "uuid": _segment_uuid(os.path.basename(path)),
        "min_off": min_off,
        "max_off": max_off,
        "max_ts_us": max_ts_us,
        "num_rows": meta.num_rows,
    }


def segment_records(root: str) -> list[dict]:
    """The footer record of every segment under ``root`` (uncached —
    ``Topic._segment_stats`` is the cached per-handle twin)."""
    return [_footer_record(p) for p in segment_files(root)]


def _file_offset_max(path: str) -> int | None:
    """Exact max(offset) by reading ONLY the offset column — the
    fallback when footer stats are incomplete.  One column of one file,
    never the log.  A segment lacking the column returns None; any
    OTHER read failure (transient I/O, corrupt data page) RAISES — this
    feeds the writers' tail, and silently dropping a live segment's
    offsets from max() would let the next append reuse live offsets
    (the duplicate-offset corruption the single-writer lock exists to
    prevent).  Loud beats wrong here."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    if "offset" not in pq.read_schema(path).names:
        return None
    return pc.max(pq.read_table(path, columns=["offset"])["offset"]).as_py()


def _segment_max(rec: dict) -> int | None:
    """A segment's newest offset: its footer max, or an offset-column
    read when its stats are incomplete; None for a zero-row segment."""
    if not rec["num_rows"]:
        return None
    if rec["max_off"] is not None:
        return rec["max_off"]
    return _file_offset_max(rec["path"])


def log_tail(records: Iterable[dict]) -> int:
    """Newest offset over segment records, 0 for an empty log — the one
    tail rule every offset-assigning writer and stream bound uses."""
    return int(
        max((m for m in map(_segment_max, records) if m is not None), default=0)
    )


def read_segment(
    path: str,
    min_excl: int | None = None,
    max_incl: int | None = None,
    event: str | None = None,
):
    """One segment's envelope rows (offset, ts, event, message) as an
    Arrow table, filtered exactly to offsets in (min_excl, max_incl]
    (``None`` = unbounded) and to ``event`` (``None`` = every event) —
    the one segment reader, shared by the ``kafkaish`` connector's
    tasks and ``subscribe()``'s driver-side delivery.  Rows keep file
    order; ``ts`` keeps the file's timestamp type."""
    import functools

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    # a single-file read: ParquetFile skips the dataset discovery
    # ``pq.read_table`` does (~0.3 vs ~0.9 ms per one-message segment)
    with pq.ParquetFile(path) as pf:
        tbl = pf.read(columns=["offset", "ts", "event", "message"])
    conds = []
    if min_excl is not None:
        conds.append(pc.greater(tbl["offset"], min_excl))
    if max_incl is not None:
        conds.append(pc.less_equal(tbl["offset"], max_incl))
    if event is not None:
        conds.append(pc.equal(tbl["event"], event))
    return tbl.filter(functools.reduce(pc.and_, conds)) if conds else tbl


def _small_compaction_gain(
    segs: list[dict], small_bytes: int, target_bytes: int
) -> int:
    """Net file-count reduction compact_small(small_bytes,
    target_bytes) would achieve on ``segs`` — runs that already meet
    the byte rule contribute nothing, exactly like the action."""
    gain = 0
    for _d, smalls in _adjacency_runs(segs, small_bytes):
        run_files = _files_for_bytes(
            sum(s["size"] for s in smalls), target_bytes
        )
        if len(smalls) > run_files:
            gain += len(smalls) - run_files
    return gain


# dotfile inside a .compact.old staging dir marking that its swap's
# second rename was reached — see _swap_log_with / vacuum
_SWAP_MARKER = ".swap_state"

# Test instrumentation: the crash-point sweep (tests/
# test_vacuum_crash_sweep.py) sets this to a callable that raises at a
# named protocol step, proving construction+vacuum converge from a
# crash at EVERY step of the rewrite protocols.  Never set in
# production; the calls cost one None check each.
_CRASH_POINT_HOOK = None


def _crash_point(name: str) -> None:
    if _CRASH_POINT_HOOK is not None:
        _CRASH_POINT_HOOK(name)


def _dir_rows(root: str) -> int:
    """Total data rows under ``root`` from parquet footers; an
    UNREADABLE part file counts as data (returns at least 1) so no
    caller ever treats a possibly-populated directory as empty and
    deletes over it."""
    n = 0
    for path in segment_files(root):
        try:
            n += _footer_record(path)["num_rows"]
        except Exception:
            return max(n, 1)
    return n


def _prune_empty_parts(root: str) -> None:
    """Remove zero-row part files from a rewrite staging dir:
    ``repartitionByRange`` decides bounds by sampling, so a partition
    can come out empty, and the writer still materializes a schema-only
    file for it — which would inflate file counts, pollute footer-stat
    walks, and break the compaction byte arithmetic's file-count
    promise.  Keeps one file when ALL are empty (an empty log must stay
    schema-readable)."""
    parts = segment_files(root)
    empties = [p for p in parts if not _footer_record(p)["num_rows"]]
    if len(empties) == len(parts) and parts:
        empties = empties[1:]
    for p in empties:
        os.remove(p)


import contextlib  # noqa: E402


# Breaking a stale lock takes microseconds; a breaker guard older than
# this belongs to a crashed breaker and is itself removed.
_BREAKER_STALE_S = 5.0
_BREAKER_WAIT_S = 10.0


def _break_stale_lock(path: str) -> bool:
    """Break a lockfile the caller has judged stale, safely against the
    double-break race (r6 verdict item 5): two waiters that both
    observed a stale mtime must not both end up removing — the loser
    would delete the winner's FRESH lock and both would acquire.

    Protocol: breakers serialize through a short-lived BREAKER GUARD
    (``<path>.breaker``, O_EXCL).  Under the guard, staleness is
    RE-JUDGED from the lockfile's current mtime — the loser of the
    original race sees either the winner's fresh lock (not stale →
    back off) or no lock at all (→ back off; the outer loop races on
    O_EXCL create, which is atomic).  Only a lock that is STILL stale
    under the guard is removed, so a freshly recreated lock can never
    be deleted and the lock path is never left absent while a live
    writer believes it holds it.  A guard older than
    ``_BREAKER_STALE_S`` (crashed breaker — the critical section is
    two stats and an unlink) is itself removed; a breaker that cannot
    get the guard within ``_BREAKER_WAIT_S`` backs off to the outer
    wait loop.  Returns True iff a stale lock was removed."""
    guard = path + ".breaker"
    deadline = time.time() + _BREAKER_WAIT_S
    while True:
        try:
            os.close(os.open(guard, os.O_CREAT | os.O_EXCL | os.O_WRONLY))
            break
        except FileExistsError:
            try:
                if time.time() - os.stat(guard).st_mtime > _BREAKER_STALE_S:
                    # second staleness judgment immediately before the
                    # unlink (r7 advice): if the guard was replaced by a
                    # fresh breaker between the first stat and now, back
                    # off instead of deleting the live breaker's guard —
                    # that deletion is how two breakers could both enter
                    # the critical section.
                    with contextlib.suppress(OSError):
                        if (
                            time.time() - os.stat(guard).st_mtime
                            > _BREAKER_STALE_S
                        ):
                            os.remove(guard)
                    continue
            except OSError:
                continue  # guard released between attempts
            if time.time() > deadline:
                return False  # another breaker is at it; outer loop re-waits
            time.sleep(0.01)
    try:
        try:
            stale = time.time() - os.stat(path).st_mtime > _LOCK_STALE_S
        except OSError:
            return False  # already broken or released
        if not stale:
            return False  # recreated fresh after the earlier break
        with contextlib.suppress(OSError):
            os.remove(path)
        return True
    finally:
        with contextlib.suppress(OSError):
            os.remove(guard)


@contextlib.contextmanager
def writer_lock(topic_root: str, what: str = "publish"):
    """Advisory single-writer guard for every offset-assigning path.

    The log's correctness contract is one writer per topic (offsets are
    assigned from the observed tail); the reference shares the contract
    implicitly (ObjectId ordering across concurrent clients is only
    approximate, SURVEY §7 watch-list a).  This turns the documented
    contract into a runtime guard: an ``O_EXCL`` lockfile under the
    topic root serializes writers across PROCESSES on the same
    filesystem; a second writer waits up to ``_LOCK_TIMEOUT_S`` then
    fails loudly instead of interleaving duplicate offsets, and a lock
    older than ``_LOCK_STALE_S`` (crashed writer) is broken via the
    breaker-guard protocol of ``_break_stale_lock`` (double-break
    race-safe).  Each lock carries a unique token; release removes the
    lockfile only after reading back our token, which keeps a foreign
    lock safe in every practical schedule but is read-then-unlink, not
    atomic: a holder that keeps the lock PAST ``_LOCK_STALE_S`` can race
    a breaker between its token check and the remove and unlink the
    breaker's successor.  Holders must therefore finish (or re-acquire)
    within ``_LOCK_STALE_S`` — heal paths publishing large fixtures are
    the likeliest to approach it.  On object stores without atomic
    create/rename/link, deploy one logical writer per topic (the Kafka
    partition-leader model) and treat this as best-effort.
    """
    path = os.path.join(topic_root, "_writer.lock")
    token = uuid4().hex
    deadline = time.time() + _LOCK_TIMEOUT_S
    while True:
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            with os.fdopen(fd, "w") as f:
                json.dump(
                    {
                        "pid": os.getpid(),
                        "ts": time.time(),
                        "what": what,
                        "token": token,
                    },
                    f,
                )
            break
        except FileExistsError:
            try:
                age = time.time() - os.stat(path).st_mtime
            except OSError:
                continue  # released between attempts
            if age > _LOCK_STALE_S:
                _break_stale_lock(path)
                continue
            if time.time() > deadline:
                raise TimeoutError(
                    f"another writer holds {path} (age {age:.0f}s): the "
                    "topic log is single-writer per topic — serialize "
                    f"{what} calls, or remove the lock if its owner died"
                )
            time.sleep(0.05)
    try:
        yield
    finally:
        try:
            with open(path) as fh:
                ours = json.load(fh).get("token") == token
        except (OSError, ValueError):
            ours = False
        if ours:
            with contextlib.suppress(OSError):
                os.remove(path)
        sig = _TAIL_SIGNALS.get(os.path.abspath(topic_root))
        if sig is not None:
            sig.bump()


class TailSignal:
    """Wake-up for a topic's in-process followers (``subscribe()``): a
    generation counter under a condition.  ``writer_lock``'s release
    bumps it — every offset-assigning path goes through that lock, so a
    commit made in this process wakes its followers at once — and the
    followers' watcher thread bumps it for commits it sees made by
    other processes."""

    def __init__(self) -> None:
        self.cond = threading.Condition()
        self.generation = 0

    def bump(self) -> None:
        with self.cond:
            self.generation += 1
            self.cond.notify_all()


_TAIL_SIGNALS: dict[str, TailSignal] = {}
_TAIL_SIGNALS_LOCK = threading.Lock()


def tail_signal(topic_root: str) -> TailSignal:
    """The one ``TailSignal`` of the topic at ``topic_root`` in this
    process; ``writer_lock`` bumps only signals that exist, so a topic
    nobody follows pays one dict lookup per commit."""
    key = os.path.abspath(topic_root)
    with _TAIL_SIGNALS_LOCK:
        return _TAIL_SIGNALS.setdefault(key, TailSignal())


def _session_zone_date(now, sess_tz: str):
    """The calendar date of instant ``now`` in the Spark session
    timezone ``sess_tz`` — resolving BOTH region ids (zoneinfo) and the
    fixed-offset spellings Spark accepts but zoneinfo rejects
    ("GMT+08:00", "UTC+8", "+08:00", "-0530").  Without the offset
    branch, an offset-zone session would file _publish_direct segments
    under the UTC date while publish_df files the same instant under
    the session-zone date — the two-path partition mismatch ADVICE r8
    flagged (review r9 closed the offset-id hole)."""
    import re as _re
    from datetime import timedelta, timezone as _tz

    try:
        from zoneinfo import ZoneInfo

        return now.astimezone(ZoneInfo(sess_tz)).date()
    except Exception:
        pass
    m = _re.fullmatch(
        r"(?:GMT|UTC)?([+-])(\d{1,2})(?::?(\d{2}))?(?::?(\d{2}))?",
        sess_tz.strip(),
    )
    if m:
        sign = 1 if m.group(1) == "+" else -1
        delta = timedelta(
            hours=int(m.group(2)),
            minutes=int(m.group(3) or 0),
            seconds=int(m.group(4) or 0),
        )
        # datetime.timezone rejects offsets outside (-24h, +24h); an
        # out-of-range conf like '+25:00' must fall back to UTC, not
        # crash the publish path (r9 ADVICE)
        try:
            return now.astimezone(_tz(sign * delta)).date()
        except (ValueError, OverflowError):
            pass
    return now.date()  # unresolvable id: UTC, the session-pin date


def _assign_contiguous_ids(df: DataFrame, start: int) -> DataFrame:
    """Add ``offset`` = start+1, start+2, ... in input partition order.

    Distributed pattern: ``monotonically_increasing_id`` encodes
    (partition_id << 33) + within-partition index; per-partition counts
    are tiny (one long per partition) so the cumulative base map is
    computed on the driver and mapped back with a broadcast join.  No
    global sort, no single-partition shuffle — this is what keeps
    publish scalable at 100 TB (vs ``row_number`` over a global window).
    """
    tagged = df.withColumn("_mid", F.monotonically_increasing_id())
    tagged = tagged.withColumn("_pid", (F.col("_mid") / F.lit(1 << 33)).cast("long"))
    tagged = tagged.withColumn("_idx", F.col("_mid") % F.lit(1 << 33))
    # one row per input partition — small by construction
    counts = tagged.groupBy("_pid").agg(F.count("*").alias("_n")).collect()
    base, bases = start, {}
    for r in sorted(counts, key=lambda r: r["_pid"]):
        bases[r["_pid"]] = base
        base += r["_n"]
    spark = df.sparkSession
    base_df = spark.createDataFrame(
        [(int(p), int(b)) for p, b in bases.items()], "`_pid` long, `_base` long"
    )
    out = (
        tagged.join(F.broadcast(base_df), "_pid")
        .withColumn("offset", (F.col("_base") + F.col("_idx") + F.lit(1)).cast("long"))
        .drop("_mid", "_pid", "_idx", "_base")
    )
    return out


class Topic:
    """One durable topic: parquet append log + subscriber-offset table.

    Mirrors the reference Topic API (src/topic.js) with batch methods
    here and streaming subscribe in ``kafkaish_spark.streaming``.
    """

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        name: str,
        retention_bytes: int | None = None,
        partitioned: bool = False,
    ):
        self.spark = spark
        self.name = name
        self.root = os.path.join(root, name)
        self.log_dir = os.path.join(self.root, "log")
        self.sub_dir = os.path.join(self.root, "_subscribers")
        self.retention_bytes = retention_bytes
        # footer-statistics cache of _segment_stats, and the lock that
        # serializes its refresh across threads sharing the handle
        self._footer_cache: dict[tuple, dict] = {}
        self._footer_lock = threading.Lock()
        # mirrors the reference's per-topic closed flag
        # (src/topic.js:14 sets it false at construction); Engine
        # .prepare_topic recreates a handle whose flag is set
        self.closed = False
        # A compaction that crashed between its two renames leaves the
        # whole pre-swap log in .compact.old and NO log dir; restore it
        # BEFORE layout detection and _ensure, or the handle would seed
        # an empty topic (with the wrong layout) over the data (r11;
        # the explicit maintenance entry point is Topic.vacuum).  The
        # restore runs under the writer lock (ADVICE r11): two handles
        # constructed concurrently would both pass the missing-log
        # check, and the loser's os.replace would raise — and without
        # the lock the move could also race a LIVE _swap_log_with
        # between its two renames, stealing the old dir that swap is
        # about to commit over.  The missing-log state is re-checked
        # inside the lock, so every lock-taking actor (construction,
        # vacuum, the swap itself) serializes here; an actor that
        # bypasses the lock entirely is outside the protocol and any
        # resulting FileNotFoundError propagates loudly rather than
        # being guessed around.
        _old = self.log_dir + ".compact.old"
        if not os.path.exists(self.log_dir) and os.path.isdir(_old):
            with writer_lock(self.root, what="init-restore"):
                if not os.path.exists(self.log_dir) and os.path.isdir(_old):
                    os.replace(_old, self.log_dir)
                    with contextlib.suppress(FileNotFoundError):
                        os.remove(os.path.join(self.log_dir, _SWAP_MARKER))
        self.partitioned = partitioned
        self._redetect_layout()
        self._ensure()

    # -- infra ---------------------------------------------------------

    def _ensure(self) -> None:
        """Idempotent topic init (ref: ensureCollection src/topic.js:245-258).

        An empty log needs no sentinel row (the reference inserts a
        ``{dummy:true}`` doc, src/topic.js:234-241 — a wrinkle we do not
        replicate): an empty parquet dir with schema reads as 0 rows and
        ``latest() == 0``.

        Partitioned topics get only the bare directory — a root-level
        seed file would conflict with the ``pub_date=...`` subdirs at
        the first partitioned append ("Conflicting directory
        structures"); ``log()`` synthesizes the empty frame instead.
        """
        if not os.path.exists(self.log_dir):
            if self.partitioned:
                os.makedirs(self.log_dir, exist_ok=True)
            else:
                # Seed the 0-row schema segment with pyarrow directly
                # (optimization r12): the seed is ONE empty footer
                # either way, and the Spark write path
                # (createDataFrame([], ENVELOPE) + write job) costs
                # ~0.5 s of scheduling per fresh topic — pure overhead
                # on the prepare_topic latency path.  Same envelope
                # schema (offset/ts non-null, UTC micros), same
                # part-file naming and hidden-write/rename visibility
                # contract as the direct-publish segments; readers are
                # schema-pinned (spark.read.schema(ENVELOPE)) so the
                # footer is interchangeable with the old Spark-written
                # seed.
                import pyarrow as pa
                import pyarrow.parquet as pq

                schema = pa.schema(
                    [
                        pa.field("offset", pa.int64(), nullable=False),
                        pa.field(
                            "ts",
                            pa.timestamp("us", tz="UTC"),
                            nullable=False,
                        ),
                        pa.field("event", pa.string()),
                        pa.field("message", pa.string()),
                    ]
                )
                os.makedirs(self.log_dir, exist_ok=True)
                fn = f"part-00000-{uuid4().hex}.snappy.parquet"
                tmp = os.path.join(self.log_dir, "." + fn + ".inprogress")
                pq.write_table(
                    schema.empty_table(), tmp, compression="snappy"
                )
                os.replace(tmp, os.path.join(self.log_dir, fn))
        os.makedirs(self.sub_dir, exist_ok=True)

    # -- write path ----------------------------------------------------

    def publish(self, event: str | None, message: Any) -> Row:
        """Append one message; returns the written envelope row
        (ref: publish + confirm callback, src/topic.js:25-40)."""
        rows = self.publish_batch([(event, message)])
        return rows[0]

    # driver-side batches at or below this write their segment directly
    # (they are ONE file either way); larger ones go through Spark
    _DIRECT_PUBLISH_MAX = 10_000

    def publish_batch(self, msgs: Iterable[tuple[str | None, Any]]) -> list[Row]:
        payload = [
            (e, m if isinstance(m, str) else json.dumps(m, sort_keys=True))
            for e, m in msgs
        ]
        if len(payload) <= self._DIRECT_PUBLISH_MAX:
            return self._publish_direct(payload)
        df = self.spark.createDataFrame(payload, "event string, message string")
        # driver-supplied batches are small: one log segment per publish
        out = self.publish_df(df, target_files=1)
        return out.orderBy("offset").collect()

    def _publish_direct(self, payload: list[tuple[str | None, str]]) -> list[Row]:
        """Driver-side publish fast path (r8): a small driver-supplied
        batch becomes ONE parquet segment either way, so build it with
        pyarrow and append the file directly — same envelope schema,
        same footer statistics, same writer lock, same retention — and
        skip the ~4 Spark jobs (createDataFrame, persist+count for
        offset assignment, write, read-back) that made a one-message
        publish cost seconds of pure scheduling.  This is the latency
        floor of the reference's core pattern (one acked message at a
        time, src/topic.js:25-40): measured, publish(1 msg) drops from
        ~4.7 s to low milliseconds while readers (Spark batch/stream,
        DuckDB oracle, footer-stat maintenance) see an ordinary
        segment.  Timestamps are written tz-aware UTC micros
        (isAdjustedToUTC) — exactly how Spark reads TimestampType back.
        The distributed path (publish_df) is unchanged and remains the
        scale path for DataFrame payloads."""
        import datetime as _dt

        import pyarrow as pa
        import pyarrow.parquet as pq

        if not payload:
            return []  # nothing to write; never materialize junk segments
        with writer_lock(self.root):
            start = self.latest()
            now = _dt.datetime.now(_dt.timezone.utc)
            n = len(payload)
            tbl = pa.table(
                {
                    "offset": pa.array(
                        range(start + 1, start + n + 1), pa.int64()
                    ),
                    "ts": pa.array([now] * n, pa.timestamp("us", tz="UTC")),
                    "event": pa.array([e for e, _ in payload], pa.string()),
                    "message": pa.array([m for _, m in payload], pa.string()),
                }
            )
            seg_dir = self.log_dir
            if self.partitioned:
                # Derive the pub_date= directory from the SPARK SESSION
                # timezone, not the UTC calendar date: publish_df files
                # rows under to_date(ts) evaluated in the session zone,
                # and the two write paths must agree on which partition
                # a given instant belongs to even when a user overrides
                # get_spark's UTC pin (ADVICE r8).  Fixed-offset ids
                # ("GMT+08:00", "UTC+8", "+08:00" — valid for Spark,
                # unknown to zoneinfo) are parsed into a fixed-offset
                # tzinfo so the two paths agree for them too (review
                # r9); only a genuinely unresolvable id falls back to
                # UTC — the date the session pin gives.
                sess_tz = self.spark.conf.get(
                    "spark.sql.session.timeZone", "UTC"
                )
                part_date = _session_zone_date(now, sess_tz)
                seg_dir = os.path.join(
                    self.log_dir, f"pub_date={part_date.isoformat()}"
                )
                os.makedirs(seg_dir, exist_ok=True)
            # write hidden (dot-prefix: Spark's listing ignores it) then
            # rename atomically, so a concurrent batch/stream reader can
            # never see a segment with a half-written footer — the same
            # visibility contract Spark's own commit protocol gives
            fn = f"part-00000-{uuid4().hex}.snappy.parquet"
            tmp = os.path.join(seg_dir, "." + fn + ".inprogress")
            pq.write_table(tbl, tmp, compression="snappy")
            # Spark's file source orders a stream's new files by
            # modification time in whole milliseconds, ties in directory
            # order: stamp the segment at least 1 ms after the newest one
            # latest() just listed (its footer-cache keys end in
            # st_mtime_ns), or two publishes inside one millisecond could
            # reach a subscriber out of offset order across micro-batches
            floor_ms = max((k[-1] for k in self._footer_cache), default=0)
            floor_ms = floor_ms // 1_000_000 + 1
            if os.stat(tmp).st_mtime_ns // 1_000_000 < floor_ms:
                os.utime(tmp, ns=(floor_ms * 1_000_000, floor_ms * 1_000_000))
            os.replace(tmp, os.path.join(seg_dir, fn))
            if self.retention_bytes is not None:
                self.enforce_retention(self.retention_bytes)
        # DRIVER-LOCAL naive, like log().collect() and the >10k Spark
        # path return — a naive UTC value here would seek 4-5h wrong
        # through offset_for_time on any non-UTC driver (review r8)
        ts_naive = now.astimezone().replace(tzinfo=None)
        return [
            Row(offset=start + i + 1, ts=ts_naive, event=e, message=m)
            for i, (e, m) in enumerate(payload)
        ]

    def _write_segments(self, out: DataFrame) -> None:
        """Append an offset-assigned envelope frame to the log dir
        (shared tail of both publish_df paths)."""
        out = out.select(
            F.col("offset"),
            F.col("ts").cast("timestamp").alias("ts"),
            F.col("event").cast("string").alias("event"),
            F.col("message").cast("string").alias("message"),
        )
        writer = out.write.mode("append")
        if self.partitioned:
            out2 = out.withColumn("pub_date", F.to_date("ts"))
            writer = out2.write.mode("append").partitionBy("pub_date")
        writer.parquet(self.log_dir)

    def publish_df(
        self,
        df: DataFrame,
        target_files: int | None = None,
        dedup: bool = False,
    ) -> DataFrame:
        """Append a DataFrame(event, message[, ts]) to the log, assigning
        contiguous offsets after the current tail.  Returns the written
        envelope (the reference's publish callback doc, src/topic.js:32-38).

        ``dedup=True`` makes the publish idempotent by payload: rows
        whose (event, message) already exist in the log are skipped
        (left-anti join against the log — at scale the join keys on the
        two short columns only, never the full envelope).  This is the
        retry-safe producer: re-running a failed ingest cannot
        double-append.

        Single-writer per topic, like the reference (Mongo ObjectId order
        across concurrent clients is only approximate anyway — see
        SURVEY.md §7 watch-list a).
        """
        with writer_lock(self.root):
            start = self.latest()
            if dedup:
                existing = self.log().select("event", "message")
                df = df.join(existing, ["event", "message"], "left_anti")
            if "ts" not in df.columns:
                df = df.withColumn("ts", F.current_timestamp())
            src = df.select("event", "message", "ts")
            if target_files is not None:
                # coalesce (no shuffle) so a small publish is one segment
                # file — retention and replay granularity stay sane
                src = src.coalesce(target_files)
            if src.rdd.getNumPartitions() == 1:
                # Single-partition fast path (optimization r12):
                # monotonically_increasing_id over ONE partition is
                # 0..n-1 by construction, so the contiguous offsets
                # need no per-partition count job, no persist pin and
                # no base-map broadcast join — the whole publish is
                # ONE write job (measured ~0.4 s saved per small
                # publish at sf0.1).  Small publishes land here via
                # coalesce(target_files=1) or a single-task scan; the
                # multi-partition path below stays the 100 TB shape.
                #
                # coalesce(1) PINS the executed partitioning to the
                # probe's answer (r12 ADVICE item 1): the write job
                # re-plans the lineage independently, and with AQE a
                # recomputed upstream shuffle could finalize with >1
                # partitions — monotonically_increasing_id would then
                # jump by 2^33 between partitions, silently breaking
                # the contiguous-offset contract.  On an already-1-
                # partition plan the coalesce is a no-op wrapper.
                src = src.coalesce(1)
                out = src.withColumn(
                    "offset",
                    (F.monotonically_increasing_id() + F.lit(start + 1)).cast(
                        "long"
                    ),
                )
                self._write_segments(out)
            else:
                # Pin the input across the two jobs
                # _assign_contiguous_ids runs (counts + write): with
                # AQE, a recomputed upstream shuffle can land on
                # different partition ids between jobs, which would
                # silently drop or mis-offset rows through the _pid
                # join.
                src = src.persist()
                try:
                    self._write_segments(_assign_contiguous_ids(src, start))
                finally:
                    src.unpersist()
            if self.retention_bytes is not None:
                self.enforce_retention(self.retention_bytes)
        # Return what was actually WRITTEN (re-read from the log) — the
        # plan above is lazy, so handing it back would re-execute later
        # with a fresh current_timestamp(), and under dedup=True the
        # anti-join would re-run against a log now containing these very
        # rows and evaluate empty.
        return self.log().filter(F.col("offset") > F.lit(int(start))).select(
            "offset", "ts", "event", "message"
        )

    # -- read path -----------------------------------------------------

    def log(self) -> DataFrame:
        """Whole log as a batch DataFrame (filters push down to parquet)."""
        return self._read_dir(self.log_dir)

    def _read_dir(self, path: str) -> DataFrame:
        """Read ``path`` with the topic's layout rules — the log itself,
        or a staged rewrite (``_swap_log_with`` validates its tmp dir
        through this BEFORE swapping it in)."""
        if self.partitioned:
            if not detect_partitioned(path):
                # nothing published yet (or an empty rewrite): empty
                # frame with the envelope plus the
                # (discovered-at-read-time) partition column
                return self.spark.createDataFrame([], ENVELOPE).withColumn(
                    "pub_date", F.lit(None).cast("date")
                )
            # let Spark pick up the pub_date partition column
            return self.spark.read.parquet(path)
        return self.spark.read.schema(ENVELOPE).parquet(path)

    def latest(self) -> int:
        """Newest offset, 0 when empty (ref: latest src/topic.js:221-244;
        we use max-of-stats instead of sort-desc-limit-1 — no dummy doc).

        Fast path (r8): the answer is ``max(offset)``, and every
        Spark-written segment carries exact min/max offset statistics in
        its parquet FOOTER — so this reads footers only (the
        ``_segment_stats`` machinery retention/fsck already rely on)
        instead of launching a Spark aggregate job (~0.12 s fixed cost,
        measured in tools/profile_publish.py).  Footers are cached per
        handle, so a call parses only the segments written since the
        previous one (~0.5 ms each): ~1.7 ms median on a 126-segment
        log (4-vCPU host).
        ``latest()`` runs once per publish, so this is the latency
        floor of the reference's core usage pattern — one message at a
        time (src/topic.js:25-40).  Zero-row seed segments are ignored;
        a non-empty segment with incomplete offset stats (foreign
        writer with statistics disabled) has its offset column read
        exactly rather than guessed (``log_tail``), and an unreadable
        footer raises.  On a cluster the footer reads are the same
        ranged reads retention performs."""
        return log_tail(self._segment_stats())

    def replay(
        self,
        since: int = 0,
        event: str | None = None,
        until: int | None = None,
    ) -> DataFrame:
        """Batch replay: everything after ``since`` (and, when ``until``
        is given, at most ``until`` — inclusive) for ``event`` (None =
        wildcard), in offset order (ref: replayFrom src/topic.js:143-201;
        the upper bound is the Kafka bounded-consumption analog the
        reference lacks, and with ``offset_for_time`` it gives offset- or
        time-bounded time travel over the log).  Both offset predicates
        push down to parquet row groups, so out-of-range segments are
        skipped on footer stats — strictly better than the reference,
        which filters events client-side (src/topic.js:172-173)."""
        df = self.log()
        if since:
            df = df.filter(F.col("offset") > F.lit(int(since)))
        if until is not None:
            df = df.filter(F.col("offset") <= F.lit(int(until)))
        if event is not None:
            df = df.filter(F.col("event") == F.lit(event))
        return df.orderBy("offset")

    def replay_between_times(
        self,
        since_time=None,
        until_time=None,
        event: str | None = None,
    ) -> DataFrame:
        """Time-bounded replay: every message whose publish instant is
        >= ``since_time`` and < ``until_time`` (half-open, like Kafka
        consumer time windows), resolved to OFFSET bounds via
        ``offset_for_time`` so the scan still prunes parquet segments
        on footer offset stats.  Each bound accepts what
        ``offset_for_time`` does — epoch seconds (TZ-safe), an aware
        datetime, or a naive driver-local datetime.  A ``since_time``
        newer than the log replays nothing; an unmatched
        ``until_time`` (nothing that recent) replays to the tail.
        Assumes publish instants are monotone in offset — true for any
        log written through publish (``ts`` is assigned at publish
        time), the same assumption Kafka's offsetsForTimes makes; a log
        whose ``ts`` column was supplied out of order resolves bounds
        from the FIRST offset at/after each instant (property-tested in
        tests/test_log_properties.py)."""
        since = 0
        if since_time is not None:
            seek = self.offset_for_time(since_time)
            if seek is None:
                return self.replay(since=self.latest(), event=event)
            since = seek - 1
        until = None
        if until_time is not None:
            seek = self.offset_for_time(until_time)
            if seek is not None:
                until = seek - 1
        return self.replay(since=since, event=event, until=until)

    # -- ack / subscriber offsets -------------------------------------

    def _ack_path(self, name: str) -> str:
        return os.path.join(self.sub_dir, f"{name}.ack.json")

    def ack(self, name: str, offset: int) -> None:
        """Advance a durable subscriber's offset, monotonically (ref:
        upsert of {name, last}, src/topic.js:202-220).  For
        ``subscribe()`` this file IS the durable position: a follower
        resumes after ``max(start marker, last_ack(name))``.  A
        ``subscribe_batches`` query resumes from its checkpoint and
        keeps this file as the queryable twin.

        One JSON file per subscriber, written tmp+rename: concurrent
        subscribers never touch each other's state (the old shared
        parquet table was a read-modify-write race), a reader never
        sees a half-written file, and the per-name write is sequential
        by construction (one active follower or query per subscriber
        name)."""
        prev = self.last_ack(name) or 0
        path = self._ack_path(name)
        tmp = f"{path}.tmp"
        with open(tmp, "w") as fh:
            json.dump(
                {"last_offset": max(int(offset), prev), "updated_unix": time.time()},
                fh,
            )
        os.replace(tmp, path)

    def last_ack(self, name: str) -> int | None:
        path = self._ack_path(name)
        if not os.path.exists(path):
            return None
        with open(path) as fh:
            return int(json.load(fh)["last_offset"])

    def subscribers(self) -> DataFrame:
        """All durable subscribers as a DataFrame (driver-side listing —
        one tiny JSON per subscriber)."""
        import datetime

        rows = []
        for fn in sorted(os.listdir(self.sub_dir)):
            if fn.endswith(".ack.json"):
                with open(os.path.join(self.sub_dir, fn)) as fh:
                    doc = json.load(fh)
                rows.append(
                    (
                        fn.removesuffix(".ack.json"),
                        int(doc["last_offset"]),
                        datetime.datetime.fromtimestamp(
                            doc["updated_unix"], datetime.timezone.utc
                        ).replace(tzinfo=None),
                    )
                )
        return self.spark.createDataFrame(rows, SUBSCRIBERS_SCHEMA)

    def subscriber_lag(self) -> DataFrame:
        """Introspection: per-subscriber lag vs the log tail."""
        tail = self.latest()
        return self.subscribers().select(
            "name",
            "last_offset",
            (F.lit(tail) - F.col("last_offset")).alias("lag"),
        )

    # -- retention -----------------------------------------------------

    def _segment_stats(self, tolerant: bool = False) -> list[dict]:
        """Per data file: path, size, commit-uuid group, and offset/ts
        min-max straight from the parquet FOOTER statistics — no Spark
        job, no timezone round trip (ts stats are UTC micros), no URI
        re-encoding.  On a cluster the same footers are one ranged read
        each via the FileSystem API.

        Footers are parsed once per handle: records are cached on
        ``(path, st_ino, st_size, st_mtime_ns)`` and only files whose
        key is new are read, so ``latest()`` (once per publish) costs a
        directory walk plus footer reads for the segments written since
        the last call, not one footer read per segment in the log.
        Segment names carry a fresh uuid4 and a segment is never
        rewritten in place, so a key is never reused by different
        bytes; a file another handle or writer added is a new key,
        and keys no longer on disk are dropped each call.  A footer
        that failed to parse is never cached, and callers get copies.

        ``tolerant=True`` (the ops/polling callers: describe_topics)
        turns a corrupt or half-foreign footer into a FLAGGED row
        (``bad=True``, zero rows, no offset stats) instead of raising —
        one bad segment must not take down an engine-wide dashboard
        query (ADVICE r8).  Correctness-critical callers (retention,
        fsck, latest) keep the strict default: they must not act on a
        log they cannot fully read.

        Threads may share a handle (a publisher and ``subscribe()``'s
        followers do): one refresh runs at a time, so the cache always
        holds the newest completed listing — ``_publish_direct`` reads
        its mtime floor from it — and a footer is parsed once, not once
        per thread."""
        with self._footer_lock:
            cache = self._footer_cache
            seen: dict[tuple, dict] = {}
            out = []
            for path in segment_files(self.log_dir):
                st = os.stat(path)
                key = (path, st.st_ino, st.st_size, st.st_mtime_ns)
                rec = cache.get(key)
                if rec is None:
                    try:
                        rec = _footer_record(path, st.st_size)
                    except Exception:
                        if not tolerant:
                            raise
                        out.append(
                            {
                                "path": path,
                                "size": st.st_size,
                                "uuid": _segment_uuid(os.path.basename(path)),
                                "min_off": None,
                                "max_off": None,
                                "max_ts_us": None,
                                "num_rows": 0,
                                "bad": True,
                            }
                        )
                        continue
                seen[key] = rec
                out.append(dict(rec))
            self._footer_cache = seen
            return out

    def fsck(self, deep: bool = False) -> dict:
        """Log integrity audit — the fsck for a topic.  Cheap mode runs
        ENTIRELY on parquet footer statistics (no Spark job): per
        offset-sorted COMMIT GROUP (all files of one publish uuid) it
        checks that offset stats exist, that no two groups' offset
        ranges overlap (a duplicated/re-ingested segment), that each
        group is internally dense (max-min+1 == its row count — the
        per-GROUP invariant every publish guarantees, even when a
        partitioned write splits one offset run across date files),
        and that the whole log is one contiguous offset suffix (gaps
        appear when a middle segment is lost — retention only ever
        trims whole-group prefixes).  ``deep=True``
        additionally runs one Spark aggregate asserting distinct
        offsets == rows (corruption INSIDE a file that footer ranges
        cannot see).

        Returns {"ok": bool, "n_files": int, "n_rows": int,
        "min_offset", "max_offset", "issues": [str, ...]}.  At 100 TB
        the cheap mode is one ranged footer read per file — the same
        cost profile as retention — so it can run on every maintenance
        cycle; holes from ``redact`` ARE reported by the cheap checks
        too — a redact that removes rows from the middle of a commit
        group makes that group's density check (span != rows) fire,
        and one that removes a group's whole tail can open a suffix
        gap.  Those issues are accurate (the log really is sparse
        there), just expected: run fsck BEFORE redact for a clean
        baseline, or treat post-redact density/gap issues as the
        documented audit trail of the redaction."""
        issues: list[str] = []
        segs = self._segment_stats()
        n_rows = sum(s["num_rows"] for s in segs)
        offs = [s for s in segs if s["min_off"] is not None]
        for s in segs:
            if s["num_rows"] and s["min_off"] is None:
                issues.append(f"missing offset stats: {s['path']}")
        # Check at the COMMIT-GROUP granularity (all files sharing one
        # publish uuid): a publish is atomic and dense as a GROUP, but
        # its files may interleave offsets — a partitioned publish_df
        # spanning two pub_dates splits one contiguous offset run
        # across date files.  Per-file density would false-positive on
        # that healthy layout; per-group it cannot.
        groups: dict[str, list[dict]] = {}
        for s in offs:
            groups.setdefault(s["uuid"], []).append(s)
        gstats = sorted(
            (
                {
                    "uuid": u,
                    "gmin": min(s["min_off"] for s in gs),
                    "gmax": max(s["max_off"] for s in gs),
                    "grows": sum(s["num_rows"] for s in gs),
                }
                for u, gs in groups.items()
            ),
            key=lambda g: g["gmin"],
        )
        for g in gstats:
            span = g["gmax"] - g["gmin"] + 1
            if span != g["grows"]:
                issues.append(
                    f"non-dense publish group {g['uuid']}: "
                    f"range {span} != rows {g['grows']}"
                )
        for a, b in zip(gstats, gstats[1:]):
            if b["gmin"] <= a["gmax"]:
                issues.append(
                    f"offset overlap: group {a['uuid']} "
                    f"[{a['gmin']},{a['gmax']}] vs group {b['uuid']} "
                    f"[{b['gmin']},{b['gmax']}]"
                )
            elif b["gmin"] != a["gmax"] + 1:
                issues.append(
                    f"offset gap: {a['gmax']} -> {b['gmin']} "
                    f"(between groups {a['uuid']} and {b['uuid']})"
                )
        if deep and offs:
            row = (
                self.log()
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.countDistinct("offset").alias("d"),
                )
                .first()
            )
            if row["n"] != row["d"]:
                issues.append(
                    f"duplicate offsets inside files: {row['n']} rows, "
                    f"{row['d']} distinct"
                )
        return {
            "ok": not issues,
            "n_files": len(segs),
            "n_rows": n_rows,
            "min_offset": min((s["min_off"] for s in offs), default=0),
            "max_offset": max((s["max_off"] for s in offs), default=0),
            "issues": issues,
        }

    def enforce_retention(self, cap_bytes: int) -> int:
        """Size-bounded FIFO eviction (ref: 5 MiB capped collection,
        src/topic.js:8-9).  Storage-level maintenance, not a query
        concern.  Eviction unit is a whole publish batch (all part
        files sharing one commit UUID), ordered by MIN OFFSET from the
        parquet footers (not file mtime, which ties within filesystem
        granularity) — so surviving offsets are always a contiguous
        suffix of the log.  Returns #files deleted."""
        groups: dict[str, list[dict]] = {}
        for seg in self._segment_stats():
            groups.setdefault(seg["uuid"], []).append(seg)

        def _group_key(segs: list[dict]):
            # Three classes (ADVICE r8): zero-row groups hold no
            # offsets, so evicting them first can never break the
            # contiguous-suffix invariant; stated groups evict oldest-
            # first by footer min offset; groups with ROWS but no
            # offset stats sort LAST and STOP eviction (the age rule's
            # "no stats: keep") — their log position is unknown, and a
            # stats-less segment holding the newest offsets must not be
            # evicted before older fully-stated groups.
            if all(s["num_rows"] == 0 for s in segs):
                return (0, 0)
            if any(s["min_off"] is not None for s in segs):
                return (1, min(
                    s["min_off"] for s in segs if s["min_off"] is not None
                ))
            return (2, 0)

        ordered = sorted(groups.values(), key=_group_key)
        # the newest STATED group is the offset anchor and always
        # survives (stated groups are contiguous in the ordering, so
        # it is the last index whose class is 1)
        anchor = max(
            (i for i, segs in enumerate(ordered) if _group_key(segs)[0] == 1),
            default=None,
        )
        total = sum(s["size"] for segs in ordered for s in segs)
        deleted = 0
        for i, segs in enumerate(ordered):
            if (
                total <= cap_bytes
                or i == anchor
                or i == len(ordered) - 1
                or _group_key(segs)[0] == 2
            ):
                break
            for s in segs:
                os.remove(s["path"])
                total -= s["size"]
                deleted += 1
        return deleted

    def enforce_retention_age(self, max_age_seconds: float) -> int:
        """Time-based retention (Kafka's ``retention.ms`` analog; the
        reference has only the size cap).  Evicts the longest PREFIX of
        the offset-ordered log whose files are entirely older than the
        horizon (footer ts stats, UTC micros — immune to the driver's
        OS timezone), stopping at the first young-enough or
        stats-less file — so surviving offsets stay a contiguous
        suffix even when old ``ts`` values are backfilled after new
        ones.  The tail file always survives as the offset anchor.
        Returns #files deleted."""
        horizon_us = int((time.time() - max_age_seconds) * 1_000_000)
        segs = [s for s in self._segment_stats() if s["min_off"] is not None]
        tail = max((s["max_off"] for s in segs), default=0)
        deleted = 0
        for s in sorted(segs, key=lambda s: s["min_off"]):
            if (
                s["max_ts_us"] is None  # no stats: keep, stop the prefix
                or s["max_ts_us"] >= horizon_us
                or s["max_off"] >= tail
            ):
                break  # prefix semantics: first surviving file ends eviction
            os.remove(s["path"])
            deleted += 1
        return deleted

    def truncate_before(self, offset: int) -> int:
        """Kafka ``deleteRecords(beforeOffset)`` analog: evict every
        segment file whose max offset is below ``offset`` (whole-file
        granularity — the same contiguous-suffix invariant as the
        retention jobs; messages inside a partially-covered segment
        survive, matching Kafka's log-start-offset rounding to segment
        boundaries).  The tail file always survives as the offset
        anchor.  Returns #files deleted."""
        segs = [s for s in self._segment_stats() if s["min_off"] is not None]
        tail = max((s["max_off"] for s in segs), default=0)
        deleted = 0
        for s in sorted(segs, key=lambda s: s["min_off"]):
            if s["max_off"] >= offset or s["max_off"] >= tail:
                break  # prefix semantics: stop at first surviving file
            os.remove(s["path"])
            deleted += 1
        return deleted

    def describe(self) -> dict:
        """Topic introspection (Kafka describeTopics + log dirs in one):
        message count, offset range, byte size, segment count, and
        known subscribers — all from footer stats and directory
        listings except the message count (one metadata-only Spark
        count over the footers)."""
        segs = self._segment_stats()
        offs = [s for s in segs if s["min_off"] is not None]
        subs = [r["name"] for r in self.subscribers().collect()] if segs else []
        return {
            "topic": self.name,
            "n_segments": len(segs),
            "bytes": sum(s["size"] for s in segs),
            "min_offset": min((s["min_off"] for s in offs), default=0),
            "max_offset": max((s["max_off"] for s in offs), default=0),
            "n_messages": self.log().count(),
            "subscribers": sorted(subs),
        }

    def compact(
        self,
        target_files: int | None = None,
        *,
        target_bytes: int = TARGET_BYTES_DEFAULT,
    ) -> int:
        """Merge small log segments — the companion job to streaming
        ingest (many tiny appends degrade file listing; see SCALE.md
        §6).  Offsets ride in the data, so content and order are
        exactly preserved.

        The packing unit is BYTES, not a file count: by default the
        rewrite lands at ``sum over directories of ceil(dir bytes /
        target_bytes)`` files (~128 MiB each — the task size the
        engine's own scan-plan audit, q_audit_scan_partition_plan, and
        the r10 8-file layout study converged on; compacting a large
        topic toward ONE file per partition would serialize its
        scans).  On a flat topic that is exactly ``ceil(log bytes /
        target_bytes)``; on a pub_date-partitioned topic the sum
        carries the one-file-per-date floor the layout imposes, and
        the range keys below keep buckets date-aligned so the actual
        count exceeds it by at most one straddle file per interior
        date boundary (ADVICE r11).  Pass an explicit ``target_files``
        to override the arithmetic.  Multi-file rewrites are
        range-partitioned on offset — (pub_date, offset) when
        partitioned — so every output file covers a disjoint
        contiguous offset range within its directory — replay/seek
        footer pruning keeps working.

        Run this QUIESCED — it is a maintenance op, not a concurrent
        one: (a) the dir swap is two renames, so a reader listing the
        log in the gap sees a missing path and fails (an ACTIVE
        streaming poll would die, not just re-deliver); (b) a resumed
        subscriber checkpoint tracks *filenames*, so a stream restarted
        after compaction re-delivers the compacted range —
        at-least-once, never lost.  Returns the number of data files
        after compaction."""
        if target_files is None:
            by_dir: dict[str, int] = {}
            for s in self._segment_stats():
                if s["num_rows"]:
                    d = os.path.dirname(s["path"])
                    by_dir[d] = by_dir.get(d, 0) + s["size"]
            target_files = sum(
                _files_for_bytes(b, target_bytes) for b in by_dir.values()
            ) or 1
        current = self.log().cache()
        n_before = current.count()  # materialize before the swap
        frame = (
            current.withColumn("pub_date", F.to_date("ts"))
            if self.partitioned
            else current
        )

        def validate(after: DataFrame) -> str | None:
            n_after = after.count()
            if n_after != n_before:
                return f"compaction row-count mismatch ({n_after} != {n_before})"
            return None

        self._swap_log_with(
            frame,
            target_files,
            validate,
            release=lambda: current.unpersist(blocking=True),
        )
        return len(segment_files(self.log_dir))

    def compact_small(
        self,
        small_bytes: int = 1 << 20,
        target_files: int | None = None,
        *,
        target_bytes: int = TARGET_BYTES_DEFAULT,
    ) -> int:
        """SELECTIVE segment compaction: merge only data files smaller
        than ``small_bytes``, leaving full-size segments untouched —
        unlike ``compact()``, whose whole-log rewrite costs O(log
        bytes) every run.  This is the steady-state maintenance job for
        a streaming-ingest topic: rewrite cost is proportional to the
        small-file backlog (typically the last few micro-batches), so
        at 100 TB it stays a constant-size job no matter how large the
        log has grown.

        Small files are grouped per directory (a date-partitioned topic
        keeps its layout) AND per offset-ADJACENCY run within the
        directory: only consecutive-in-offset-order small files merge,
        so a merged file's offset range can never enclose an untouched
        large segment between two small runs — which would both trip
        fsck's overlap check and, worse, make retention (ordered by
        min offset, whole-group eviction) evict the NEWEST data first.
        Offsets ride in the data — content and order are exactly
        preserved; validation re-reads the merged files and aborts
        (originals untouched) on any count mismatch.  Like the other
        compaction ops, run quiesced.  Returns the net reduction in
        file count.

        Like ``compact``, the packing unit defaults to BYTES: each
        adjacency run merges to ``ceil(run bytes / target_bytes)``
        files (never fewer than one), so a 300 MiB small-file backlog
        lands at ~3 files of ~128 MiB — the task size the scan-plan
        audit says a 1000-executor scan wants — not one fat file.
        ``target_files`` overrides the arithmetic per run.  This is
        the same rule ``Engine.compaction_advice`` quotes in its
        ``files_after`` column, so advice → action → re-advice
        converges.

        Crash safety (r12): each run journals its move plan to a
        ``.smallcompact.<id>.intent`` file (renamed into place
        complete) before any file enters or leaves the live directory;
        ``vacuum`` completes a crashed run from the journal — rollback
        while the staging tmp survives, roll-forward once it is gone —
        so no crash point can leave the run's rows duplicated.  The
        whole sweep is proven step-by-step in
        tests/test_vacuum_crash_sweep.py."""
        # An offset GAP also breaks a run, not just an intervening
        # large segment in the same directory: with caller-supplied
        # ts, a later publish (higher offsets) can land in an EARLIER
        # pub_date dir, so two small files here can be
        # offset-non-contiguous while the gap's rows live in another
        # directory.  Merging across that gap would create a non-dense
        # commit group that overlaps the other directory's range —
        # tripping fsck and mis-ordering retention's min-offset
        # whole-group eviction.  The grouping lives in
        # _adjacency_runs, SHARED with compaction_advice so the advice
        # can only ever quote what this action does.
        runs = _adjacency_runs(self._segment_stats(), small_bytes)
        removed = 0
        for d, smalls in runs:
            run_files = (
                target_files
                if target_files is not None
                else _files_for_bytes(
                    sum(s["size"] for s in smalls), target_bytes
                )
            )
            if len(smalls) <= run_files:
                continue
            paths = sorted(s["path"] for s in smalls)
            merged = self.spark.read.parquet(*paths)
            n_before = merged.count()
            tmp = self.log_dir + f".smallcompact.{uuid4().hex}.tmp"
            # Range-partition on offset so EACH output file covers a
            # disjoint contiguous offset range — coalesce(n>1) would
            # concatenate arbitrary input subsets and interleave
            # ranges, which fsck() rightly flags as overlap.
            writer = (
                merged.repartitionByRange(run_files, F.col("offset"))
                if run_files > 1
                else merged.coalesce(1)
            )
            writer.write.mode("overwrite").parquet(tmp)
            _prune_empty_parts(tmp)
            new_files = [os.path.basename(p) for p in segment_files(tmp)]
            n_after = self.spark.read.parquet(
                *[os.path.join(tmp, f) for f in new_files]
            ).count()
            if n_after != n_before:
                shutil.rmtree(tmp)
                raise RuntimeError(
                    f"small-segment compaction mismatch in {d} "
                    f"({n_after} != {n_before}); originals untouched"
                )
            # INTENT journal (r12): the move phase below is multi-step
            # (k file moves, a tmp rmtree, m original removes) and a
            # crash inside it would leave the run's rows DUPLICATED —
            # merged files plus surviving originals — which fsck flags
            # but nothing could heal.  Durably record the exact plan
            # first, so vacuum can finish the job from either side:
            # tmp still present => nothing irreversible happened, roll
            # BACK (remove moved-in files, drop tmp); tmp gone => every
            # merged file is live, roll FORWARD (remove surviving
            # originals).  Either way the log converges to exactly one
            # copy of every row.  The journal itself is written via
            # rename so a crash mid-write cannot leave a half-readable
            # plan next to moved files.
            _crash_point("small_pre_intent")
            intent = tmp[: -len(".tmp")] + ".intent"
            staged_intent = intent + ".writing"
            with open(staged_intent, "w") as fh:
                json.dump(
                    {"dir": d, "new": new_files, "originals": paths}, fh
                )
            os.replace(staged_intent, intent)
            _crash_point("small_post_intent")
            # merged files enter the live dir BEFORE originals leave, so
            # a concurrent (non-quiesced) reader sees duplicates, never
            # loss — the at-least-once direction.
            for i, f in enumerate(new_files):
                os.replace(os.path.join(tmp, f), os.path.join(d, f))
                if i == 0:
                    _crash_point("small_mid_move")
            _crash_point("small_post_move")
            shutil.rmtree(tmp)
            _crash_point("small_post_tmp_rm")
            for i, p in enumerate(paths):
                os.remove(p)
                if i == 0:
                    _crash_point("small_mid_remove")
            _crash_point("small_post_remove")
            os.remove(intent)
            removed += len(paths) - len(new_files)
        return removed

    def _swap_log_with(
        self, frame: DataFrame, target_files: int, validate, release=None
    ) -> None:
        """Shared rewrite protocol for the compaction ops: write
        ``frame`` to a tmp dir, re-read THE TMP DIR and
        ``validate(after)`` (returns an error string or None) — an
        invalid rewrite raises with the live log untouched — and only
        then two-rename swap the proven-good tmp in as the log.
        Validation runs BEFORE the swap (review r12): when it ran
        after, a crash inside the validate window made a row-dropping
        rewrite the live log with the old dir already swap-marked, so
        vacuum rule 2 would eventually delete the only good copy.
        With pre-swap validation every crash point during the swap is
        a rename-protocol state the marker rules already recover, and
        bad data can never be committed at all.  Partitioned topics
        keep their ``pub_date`` layout (``frame`` must carry the
        column).

        ``release`` is called after validation, BEFORE the swap:
        callers that cached the pre-swap log MUST drop that cache here
        (blocking) so no stale cached plan aliases the log path across
        the swap.  (Validation itself reads the tmp path, which no
        caller has cached.)

        Multi-file rewrites range-partition on offset (one dense
        commit group either way, so fsck is satisfied, but disjoint
        per-file offset ranges keep replay/seek footer pruning
        effective — coalesce(n>1) would interleave ranges across
        files)."""
        tmp = self.log_dir + ".compact.tmp"
        # Partitioned rewrites lead the range keys with pub_date so the
        # sampled bucket boundaries align with the date directories the
        # writer is about to split on anyway: a bucket then straddles
        # at most one date boundary, and the output file count stays
        # within one straddle file per interior boundary of the
        # per-directory byte arithmetic compact()/compaction_advice
        # quote (ADVICE r11).  Ranging on offset alone would split
        # EVERY bucket that crosses a date, multiplying files.
        keys = (
            [F.col("pub_date"), F.col("offset")]
            if self.partitioned
            else [F.col("offset")]
        )
        shaped = (
            frame.repartitionByRange(target_files, *keys)
            if target_files > 1
            else frame.coalesce(1)
        )
        writer = shaped.write.mode("overwrite")
        if self.partitioned:
            writer = writer.partitionBy("pub_date")
        writer.parquet(tmp)
        _prune_empty_parts(tmp)
        err = validate(self._read_dir(tmp))
        _crash_point("post_validate")
        if err:
            shutil.rmtree(tmp)
            raise RuntimeError(f"{err}; log untouched")
        if release is not None:
            release()
        # The swap phase (renames + validate + rollback) runs under the
        # writer lock (ADVICE r11): compactions are documented
        # run-quiesced, but the lock makes the rename window safe
        # against a concurrently-CONSTRUCTED handle's crash-restore
        # (which also takes the lock) — without it, that restore could
        # steal the old dir between our two renames and the second
        # os.replace would land on a now-repopulated log path.
        old = self.log_dir + ".compact.old"
        with writer_lock(self.root, what="compact-swap"):
            _crash_point("pre_rename1")
            os.replace(self.log_dir, old)
            # rename PRESERVES the dir's own mtime, so a just-swapped-out
            # old dir would look hours stale to vacuum() — stamp the swap
            # time explicitly (review r11)
            os.utime(old)
            _crash_point("post_rename1")
            # the swap-state marker distinguishes "swap completed, old is
            # garbage" from "swap crashed, old is the data": written just
            # before the second rename, so a marked old WITH a live log
            # means the new log is authoritative — vacuum must never
            # restore over it (a full redact would otherwise resurrect the
            # erased rows).  A marked old WITHOUT a live log (crash between
            # the marker and the second rename) still restores — rule 1
            # keys on the missing log, not the marker.
            with open(os.path.join(old, _SWAP_MARKER), "w") as fh:
                fh.write("committing")
            _crash_point("post_marker")
            os.replace(tmp, self.log_dir)
            _crash_point("post_rename2")
            shutil.rmtree(old)

    def vacuum(
        self, stale_s: float = 3600.0, *, restore_seeded: bool = False
    ) -> dict:
        """Garbage-collect compaction STAGING artifacts and recover
        from crashed rewrites — the maintenance op a 100 TB deployment
        runs alongside retention (Delta/Iceberg's VACUUM analog, sized
        down to this log's two-rename swap protocol).

        Handles, in safety order (all under the topic's writer lock —
        recovery must not race a publish into the directories it moves):

        1. **Lost log** (``log`` missing, ``log.compact.old`` present —
           a crash between _swap_log_with's two renames): restore the
           old dir as the log, unconditionally — an incomplete swap's
           data must come back.  Topic construction does this too, so
           simply re-preparing a topic heals it; vacuum is the
           explicit, reporting entry point.
        2. **Completed-swap garbage** (``.compact.old`` carrying the
           ``.swap_state`` marker while a live log exists — the swap's
           second rename happened, the live log is authoritative):
           removed once stale, NEVER restored.  This is what makes a
           crashed redact-to-zero safe: its old dir is marked, so the
           erased rows can never be resurrected by recovery.
        3. **Seeded-over log?** (UNMARKED ``.compact.old`` with rows
           while the live log holds ZERO data rows): AMBIGUOUS, and
           reported ``kept`` by default (ADVICE r11).  The state could
           be a pre-marker handle's empty seed over crash-window data
           (the old dir IS the data) — but it is byte-identical to a
           PRE-marker-era completed redact-to-zero whose crash landed
           after the second rename (the old dir is the erased rows,
           and auto-restoring would violate right-to-be-forgotten).
           An operator who has established the former passes
           ``restore_seeded=True`` to drop the empty seed and restore
           the old dir — still gated on staleness so an in-flight swap
           is never raced.  Row counts come from parquet footers, and
           an UNREADABLE footer counts as data — the destructive
           branch is unreachable on anything that might hold rows.
           All swaps from the marker era onward self-describe, so this
           ambiguity only ever concerns legacy artifacts.
        4. **Completed-swap garbage, legacy** (UNMARKED ``.compact.old``
           next to a log WITH rows): auto-adjudicated in two steps
           (r12).  First a free footer prefilter: if the old dir's
           [min, max] offset range is not contained in the live log's,
           the live log cannot supersede it — kept.  If the ranges ARE
           nested, the offsets alone don't prove anything (a seed-over
           resets the offset counter, so enough later publishes can
           cover the old range with DIFFERENT data — review r12), so
           one bounded Spark anti-join verifies true row containment:
           every (offset, ts, event, message) row of the old dir must
           exist verbatim in the live log.  Only then is the old dir a
           completed pre-marker ``compact()``'s leftover (offset-
           preserving, possibly with later publishes on top) and
           removed once stale.  Any other relationship — ranges not
           nested, a missing old row, unreadable footers — stays
           ambiguous and is reported kept for the operator.
        5. **Small-compaction intent journals**
           (``.smallcompact.*.intent`` — a ``compact_small`` run
           crashed inside its move phase, the one window where the log
           can hold duplicate rows): completed deterministically from
           the journal — staging tmp still present means nothing
           irreversible happened and the moved-in merged files are
           rolled BACK; tmp gone means every merged file is live and
           the surviving originals are rolled FORWARD out.  Either way
           the log converges to exactly one copy of every row.  Fresh
           journals belong to a run in flight and are kept.
        6. **Write staging** (``.compact.tmp`` / ``.smallcompact.*.tmp``
           / ``.smallcompact.*.intent.writing`` from crashed writes):
           removed once older than ``stale_s``
           (default 1 h); younger artifacts are reported as kept —
           they may belong to a compaction in flight right now.  A tmp
           whose sibling intent journal still exists is NEVER removed
           here regardless of age (the tmp is written before, and so
           ages faster than, its intent): rule 5 adjudicates
           journal+staging as one unit, and the tmp's presence is what
           makes that recovery a rollback instead of a roll-forward.

        Layout (flat vs pub_date-partitioned) is re-detected after any
        restore, so a handle constructed against the seed keeps
        working.  Returns {"recovered": [...], "removed": [...],
        "kept": [...]} with the affected paths."""
        import glob as _glob

        with writer_lock(self.root, what="vacuum"):
            now = time.time()
            out: dict = {"recovered": [], "removed": [], "kept": []}
            old = self.log_dir + ".compact.old"
            marker = os.path.join(old, _SWAP_MARKER)
            if not os.path.isdir(self.log_dir) and os.path.isdir(old):
                os.replace(old, self.log_dir)
                with contextlib.suppress(FileNotFoundError):
                    os.remove(os.path.join(self.log_dir, _SWAP_MARKER))
                self._redetect_layout()
                out["recovered"].append(old)
            elif os.path.isdir(old):
                stale = now - os.path.getmtime(old) >= stale_s
                if os.path.exists(marker):
                    (out["removed"] if stale else out["kept"]).append(old)
                    if stale:
                        shutil.rmtree(old)
                elif not stale:
                    out["kept"].append(old)
                else:
                    # footer walks only on the rare stale-unmarked path
                    # (review r12: the common marked/fresh branches must
                    # not pay a full live-log footer scan per sweep)
                    live_rows = _dir_rows(self.log_dir)
                    if live_rows == 0 and _dir_rows(old) > 0:
                        # rule 3: ambiguous legacy state — restore only
                        # on explicit operator instruction
                        if restore_seeded:
                            shutil.rmtree(self.log_dir)
                            os.replace(old, self.log_dir)
                            self._redetect_layout()
                            out["recovered"].append(old)
                        else:
                            out["kept"].append(old)
                    elif _dir_rows(old) == 0:
                        shutil.rmtree(old)
                        out["removed"].append(old)
                    elif self._old_rows_contained_in_log(old):
                        # rule 4: proven completed-swap garbage
                        shutil.rmtree(old)
                        out["removed"].append(old)
                    else:
                        out["kept"].append(old)
            # rule 5 (r12): small-compaction INTENT journals.  An intent
            # on disk means a compact_small run crashed inside its move
            # phase — the one window where the log can hold DUPLICATE
            # rows (merged files moved in, originals not yet removed).
            # The journal records the exact plan, so recovery completes
            # it deterministically: tmp still present => roll BACK
            # (remove moved-in merged files; the tmp GC below drops the
            # staging); tmp gone => roll FORWARD (remove surviving
            # originals).  Both converge to exactly one copy of every
            # row.  Fresh intents belong to a run in flight and are
            # kept.
            for intent in sorted(
                _glob.glob(
                    _glob.escape(self.log_dir) + ".smallcompact.*.intent"
                )
            ):
                if now - os.path.getmtime(intent) < stale_s:
                    out["kept"].append(intent)
                    continue
                run_tmp = intent[: -len(".intent")] + ".tmp"
                try:
                    with open(intent) as fh:
                        plan = json.load(fh)
                except (OSError, ValueError):
                    plan = None
                if plan is not None:
                    if os.path.isdir(run_tmp):
                        for f in plan["new"]:
                            with contextlib.suppress(FileNotFoundError):
                                os.remove(os.path.join(plan["dir"], f))
                    else:
                        for p in plan["originals"]:
                            with contextlib.suppress(FileNotFoundError):
                                os.remove(p)
                # an unreadable journal can only predate its own moves
                # (it is renamed into place complete, before any move):
                # nothing entered the live dir, so dropping journal +
                # staging is the rollback
                os.remove(intent)
                out["recovered"].append(intent)
            tmps = [self.log_dir + ".compact.tmp"] + sorted(
                _glob.glob(_glob.escape(self.log_dir) + ".smallcompact.*.tmp")
            )
            for p in tmps:
                if not os.path.isdir(p):
                    continue
                # a tmp whose sibling INTENT still exists belongs to
                # rule 5, which must adjudicate journal+staging as one
                # unit: the tmp's PRESENCE is what makes the recovery a
                # rollback — GC'ing it here (tmp goes stale before its
                # younger intent) would flip a later recovery into a
                # roll-forward that removes the originals while none of
                # the merged files ever went live (review r12)
                if p.endswith(".tmp") and os.path.exists(
                    p[: -len(".tmp")] + ".intent"
                ):
                    out["kept"].append(p)
                    continue
                if now - os.path.getmtime(p) >= stale_s:
                    shutil.rmtree(p)
                    out["removed"].append(p)
                else:
                    out["kept"].append(p)
            # half-written journals (crash mid-json.dump, before the
            # rename into place) are plain staging garbage
            for p in sorted(
                _glob.glob(
                    _glob.escape(self.log_dir)
                    + ".smallcompact.*.intent.writing"
                )
            ):
                if now - os.path.getmtime(p) >= stale_s:
                    os.remove(p)
                    out["removed"].append(p)
                else:
                    out["kept"].append(p)
            return out

    def _old_rows_contained_in_log(self, old: str) -> bool:
        """Rule-4 adjudicator: is EVERY row of the stale unmarked
        ``old`` dir present verbatim in the live log?

        Step 1 is free (footer offset ranges): if old's [min, max]
        isn't nested inside live's, live can't supersede it.  Step 2 is
        one bounded Spark anti-join on the full envelope — offsets
        alone can't prove containment because a seed-over RESETS the
        offset counter, so later publishes can cover old's range with
        different data (review r12); a single surviving anti-join row
        means old holds data the live log doesn't, and it must be kept.
        Cost: one scan of the old dir plus an offset-range-pruned probe
        of the live log — paid only for a stale legacy artifact, never
        on the routine sweep path."""

        def span(root: str) -> tuple[int, int] | None:
            # [min, max] offset of root's data rows from footer stats;
            # None when not fully established (no rows, an unreadable
            # footer, missing stats) — never adjudicable
            try:
                recs = [r for r in segment_records(root) if r["num_rows"]]
            except Exception:
                return None
            if not recs or any(r["min_off"] is None for r in recs):
                return None
            return (
                min(r["min_off"] for r in recs),
                max(r["max_off"] for r in recs),
            )

        old_rng = span(old)
        live_rng = span(self.log_dir)
        if (
            old_rng is None
            or live_rng is None
            or old_rng[0] < live_rng[0]
            or old_rng[1] > live_rng[1]
        ):
            return False
        old_df = (
            self.spark.read.schema(ENVELOPE)
            .option("recursiveFileLookup", "true")
            .parquet(old)
            .select("offset", "ts", "event", "message")
        )
        live = self.log().select("offset", "ts", "event", "message").filter(
            (F.col("offset") >= F.lit(int(old_rng[0])))
            & (F.col("offset") <= F.lit(int(old_rng[1])))
        )
        missing = old_df.join(
            live, ["offset", "ts", "event", "message"], "left_anti"
        )
        return missing.limit(1).count() == 0

    def _redetect_layout(self) -> None:
        """Take the partitioned flag from the on-disk layout when the
        log shows one, in BOTH directions: at construction (a fresh
        Engine must not misread a partitioned topic as flat, and
        partitioned=True over an existing FLAT log must not make log()
        synthesize an empty frame — latest()==0 would then reassign
        duplicate offsets) and after a recovery moved directories under
        this handle (review r11: a handle that detected a flat empty
        seed must not keep treating a restored pub_date-partitioned log
        as flat)."""
        layout = detect_partitioned(self.log_dir)
        if layout is not None:
            self.partitioned = layout

    def offset_for_time(self, ts) -> int | None:
        """Earliest offset whose ``ts`` >= the given time (Kafka's
        ``offsetsForTimes`` analog; the reference can only seek by id).
        ``ts`` is epoch seconds (int/float, TZ-safe), a tz-aware
        ``datetime`` (absolute instant), or a naive ``datetime``
        interpreted in the DRIVER's local zone — i.e. exactly what
        ``log().collect()`` hands back, so collected ``ts`` values seek
        to themselves on any machine.  For a portable absolute time,
        pass epoch seconds or an aware datetime.

        Segment pruning happens on parquet FOOTER stats before any
        Spark work: a file whose max(ts) < target cannot contain a
        match, so only the boundary segments are scanned — on a 100 TB
        log that is a handful of footer reads plus one small scan, not
        a log scan.  Returns None when no message is that recent."""
        if isinstance(ts, (int, float)):
            target_us = int(ts * 1_000_000)
        else:
            # naive datetimes round-trip exactly with collect()ed ts
            # values (both sit in the driver's zone); aware ones are
            # absolute instants either way
            target_us = int(ts.timestamp() * 1_000_000)
        cand = [
            s["path"]
            for s in self._segment_stats()
            if s["max_ts_us"] is None or s["max_ts_us"] >= target_us
        ]
        if not cand:
            return None
        row = (
            self.spark.read.schema(ENVELOPE)
            .parquet(*cand)
            .filter(F.col("ts") >= F.timestamp_micros(F.lit(target_us)))
            .agg(F.min("offset").alias("o"))
            .first()
        )
        return int(row["o"]) if row["o"] is not None else None

    def compact_keyed(self, key: str = "event", target_files: int = 1) -> int:
        """Kafka-style LOG COMPACTION: rewrite the log keeping only the
        LATEST record per key (default key = the event name; pass any
        SQL expression, e.g. ``get_json_object(message, '$.id')``).
        Distinct from ``compact()``, which merges segments without
        dropping rows.  Offsets of surviving records are preserved, so
        subscriber positions stay meaningful (same contract as Kafka:
        compaction never reorders, only removes superseded records).

        Run quiesced, like ``compact()`` (same two-rename swap).  The
        scale shape is one shuffle keyed on the compaction key with
        ``max_by(struct, offset)`` map-side partials — never a window
        sort over the whole log.  Returns rows removed."""
        cur = self.log().cache()
        n_before = cur.count()
        data_cols = [c for c in cur.columns]
        latest = (
            cur.groupBy(F.expr(key).alias("_k"))
            .agg(
                F.max_by(F.struct(*data_cols), F.col("offset")).alias("_row")
            )
            .select("_row.*")
        )
        n_keys = cur.select(F.expr(key)).distinct().count()
        max_before = cur.agg(F.coalesce(F.max("offset"), F.lit(0))).first()[0]

        def validate(after: DataFrame) -> str | None:
            n_after = after.count()
            max_after = after.agg(F.coalesce(F.max("offset"), F.lit(0))).first()[0]
            if n_after != n_keys or max_after != max_before:
                return (
                    f"keyed compaction invariant broken ({n_after} rows vs "
                    f"{n_keys} keys, tail {max_after} vs {max_before})"
                )
            return None

        self._swap_log_with(
            latest,
            target_files,
            validate,
            release=lambda: cur.unpersist(blocking=True),
        )
        return n_before - n_keys

    def redact(self, predicate: str, target_files: int = 1) -> int:
        """GDPR-style targeted erasure: permanently remove every
        message matching ``predicate`` (a SQL boolean over the
        envelope columns — e.g.
        ``get_json_object(message, '$.user') = 'u-42'``), keeping all
        other offsets untouched.  The right-to-be-forgotten op the
        reference cannot express (its capped collection only FIFO-
        evicts, /root/reference/src/topic.js:9).

        Contract: surviving rows keep their offsets (holes are fine —
        the same replay tolerance keyed compaction already relies on),
        so subscriber acks stay meaningful.  [NS] like compaction, run
        quiesced (two-rename swap).  A no-match predicate is a no-op:
        the log is NOT rewritten.  Returns rows removed.

        Scale: the match probe is one filtered count (predicate pushed
        into the parquet scan).  The rewrite here re-writes the whole
        log; at 100 TB a partitioned topic would first narrow to
        affected ``pub_date`` partitions via the same probe grouped by
        partition, and swap only those directories — the protocol
        (write-tmp, two renames, validate, rollback) is unchanged."""
        cur = self.log().cache()
        n_before = cur.count()
        n_match = cur.filter(F.expr(predicate)).count()
        if n_match == 0:
            cur.unpersist(blocking=False)
            return 0
        # NULL-safe complement: a predicate that evaluates to NULL on a
        # row (e.g. get_json_object on a payload without the field)
        # must KEEP that row — a bare ~expr drops NULL rows too, which
        # both over-redacts and breaks the count invariant below.
        kept = cur.filter(~F.coalesce(F.expr(predicate), F.lit(False)))
        if self.partitioned:
            kept = kept.withColumn("pub_date", F.to_date("ts"))

        def validate(after: DataFrame) -> str | None:
            n_after = after.count()
            n_left = after.filter(F.expr(predicate)).count()
            if n_after != n_before - n_match or n_left != 0:
                return (
                    f"redaction invariant broken ({n_after} rows vs "
                    f"{n_before}-{n_match}, {n_left} matches left)"
                )
            return None

        self._swap_log_with(
            kept,
            target_files,
            validate,
            release=lambda: cur.unpersist(blocking=True),
        )
        return n_match

    # -- streaming handles --------------------------------------------

    def stream(
        self,
        event: str | None = None,
        max_files_per_trigger: int | None = None,
        max_bytes_per_trigger: int | None = None,
    ) -> DataFrame:
        """Streaming view of the log (the tailable cursor,
        src/topic.js:53-61 — but checkpointable and gap-free).

        ``max_files_per_trigger`` and ``max_bytes_per_trigger`` are the
        backpressure knobs (≙ the reference's one-doc-at-a-time
        trampoline, src/topic.js:79-87) — file-SOURCE read options, so
        they must be set here, not on the sink writer.  Either bounds
        each micro-batch even under ``trigger(availableNow=True)`` (the
        backlog drains in capped chunks).  The byte bound admits files
        while their total size stays within it, and always at least
        one file, so a segment larger than the bound is a batch of its
        own.  Spark accepts only one of the two per source."""
        if max_files_per_trigger is not None and max_bytes_per_trigger is not None:
            raise ValueError(
                "set max_files_per_trigger or max_bytes_per_trigger, not both"
            )
        reader = self.spark.readStream
        if max_files_per_trigger is not None:
            reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
        if max_bytes_per_trigger is not None:
            reader = reader.option("maxBytesPerTrigger", str(max_bytes_per_trigger))
        schema = ENVELOPE
        if self.partitioned:
            schema = StructType(ENVELOPE.fields + [StructField("pub_date", DateType(), True)])
        df = reader.schema(schema).parquet(self.log_dir)
        if event is not None:
            df = df.filter(F.col("event") == F.lit(event))
        return df

    def mirror_to(self, dst: "Topic", _after_snapshot=None) -> int:
        """Offset-PRESERVING replication into ``dst`` — the MirrorMaker
        analog for DR / cross-region migration the reference lacks
        (its only replication story is MongoDB's, src/topic.js has
        none).  Every message with ``offset > dst.latest()`` is copied
        VERBATIM (offset, ts, event, message — no reassignment), so a
        durable subscriber can fail over to the mirror and resume from
        its last acked offset unchanged (identity offset translation —
        the property MirrorMaker 2 needs a translation service for).

        Incremental and idempotent: re-running mirrors only the delta;
        a no-op mirror returns 0.  ``dst`` must be a prefix-mirror of
        this topic (same offsets — start it empty or keep it mirrored;
        ``dst.fsck()`` verifies density/contiguity after).  A
        retention-trimmed source mirrors from its surviving first
        offset, which fsck treats as the legal trimmed-prefix shape.

        Three phases, so a large catch-up copy never blocks the source
        producer (r8 held both locks for the whole copy; at 100× a
        first-time mirror of a fat topic would be minutes of source
        write-unavailability):

        1. SNAPSHOT under both writer locks (path-ordered — two
           opposite-direction mirrors cannot deadlock), held only for
           footer reads: pin ``tail = dst.latest()`` and the exact
           LIST of source segment files that can hold offsets > tail.
           The source lock here closes the r8 watermark race (a list
           taken mid-commit of a concurrent multi-file publish could
           see offsets 101-150 but miss 51-100, and the watermark
           would skip the hole FOREVER).
        2. COPY lock-free from the pinned files — parquet segments are
           immutable once visible, so concurrent source publishes are
           invisible to the pinned scan and simply ride the next
           mirror.  The delta is staged as finished parquet under a
           hidden directory in ``dst.root`` (same filesystem — the
           final move is an atomic rename).  Retention is the only
           mutator of pinned files; a file evicted mid-copy fails the
           scan, and the mirror retries with a fresh snapshot.
        3. APPEND under the DESTINATION lock only: re-verify the dst
           tail is still ``tail`` (a foreign append would break the
           prefix-mirror contract — retried as a fresh delta), then
           rename the staged segments into the dst log dir.

        ``_after_snapshot`` is a test seam invoked between phases 1
        and 2 (no locks held) — used to prove a source publish
        succeeds WHILE the copy is in flight.

        Scale: one pushed-down scan of the pinned source tail (offset
        predicate prunes row groups on footer stats), one range
        partitioning of the delta on offset (a sampling pass and a
        shuffle; each staged file then holds a contiguous offset
        range) and one parquet append — no offset rewrite.  Returns
        the number of rows mirrored."""
        if os.path.abspath(dst.root) == os.path.abspath(self.root):
            raise ValueError("mirror_to: destination is the source topic")
        first, second = sorted((self.root, dst.root), key=os.path.abspath)
        last_err: Exception | None = None
        for _attempt in range(3):
            # -- phase 1: snapshot (both locks, footer reads only) ----
            with writer_lock(first, what="mirror"), writer_lock(
                second, what="mirror"
            ):
                tail = dst.latest()
                pinned = [
                    s["path"]
                    for s in self._segment_stats()
                    if s["num_rows"]
                    and (s["max_off"] is None or s["max_off"] > tail)
                ]
            if _after_snapshot is not None:
                _after_snapshot()
            if not pinned:
                return 0
            # -- phase 2: copy from immutable pinned files (no locks) -
            staging = os.path.join(dst.root, f".mirror-stage-{uuid4().hex}")
            try:
                # Range-partition on offset so every staged file of a
                # flat destination covers a CONTIGUOUS offset range (a
                # partitioned one also splits at pub_date boundaries,
                # like compact's rewrites): a plain scan lets Spark
                # pack several small pinned segments into one task,
                # and a file holding {1, 2, 5} next to one holding
                # {3, 4} has no rename order that keeps the visible
                # prefix contiguous (phase 3 below).
                pending = (
                    self.spark.read.schema(ENVELOPE)
                    .parquet(*pinned)
                    .filter(F.col("offset") > F.lit(int(tail)))
                    .select("offset", "ts", "event", "message")
                    .orderBy("offset")
                )
                if dst.partitioned:
                    (
                        pending.withColumn("pub_date", F.to_date("ts"))
                        .write.partitionBy("pub_date")
                        .parquet(staging)
                    )
                else:
                    pending.write.parquet(staging)
            except Exception as err:  # pinned file evicted mid-copy
                shutil.rmtree(staging, ignore_errors=True)
                last_err = err
                continue
            recs = [r for r in segment_records(staging) if r["num_rows"]]
            if not recs:
                shutil.rmtree(staging, ignore_errors=True)
                return 0
            n = sum(r["num_rows"] for r in recs)
            # Rename in ASCENDING offset order: a crash mid-phase then
            # leaves a contiguous prefix of the delta visible, and the
            # next mirror_to's watermark (dst.latest()) resumes exactly
            # after it.  Listing order would let a higher-offset file
            # land first, and a crash before its lower siblings would
            # freeze a hole UNDER the watermark forever (review r9).
            # Staged ranges are contiguous and disjoint (phase 2), so
            # ordering by each file's newest offset orders the ranges.
            staged = sorted((_segment_max(r), r["path"]) for r in recs)
            # -- phase 3: append (destination lock only) --------------
            with writer_lock(dst.root, what="mirror"):
                if dst.latest() != tail:
                    # foreign append moved the dst tail: our staged
                    # delta is against a stale watermark — recompute
                    shutil.rmtree(staging, ignore_errors=True)
                    last_err = RuntimeError(
                        "mirror_to: destination tail moved during copy"
                    )
                    continue
                for _max_off, path in staged:
                    rel = os.path.relpath(path, staging)
                    target = os.path.join(dst.log_dir, rel)
                    os.makedirs(os.path.dirname(target), exist_ok=True)
                    os.replace(path, target)
            shutil.rmtree(staging, ignore_errors=True)
            return n
        raise RuntimeError(
            f"mirror_to: snapshot invalidated 3 times; last error: {last_err}"
        )

    def close(self) -> None:
        """Mark the handle closed (ref closes its tail cursor,
        src/topic.js:20-24; each subscription here owns its follower or
        query, so there is no shared cursor to tear down).  The durable log
        is untouched — a later ``prepare_topic`` returns a FRESH handle
        over the same directory, mirroring the reference's
        recreate-when-closed memoization (src/connection.js:40-50)."""
        self.closed = True


class Engine:
    """Connection + topic factory/cache (ref: src/connection.js:6-57 and
    the kafkaish() factory, src/index.js:3-5).  ``root`` plays the role
    of the MongoDB database; topics are memoized per name
    (ref: src/connection.js:40-50)."""

    def __init__(self, spark: SparkSession | None = None, root: str | None = None):
        from kafkaish_spark.session import get_spark

        self.spark = spark or get_spark()
        self.root = root or tempfile.mkdtemp(prefix="kafkaish_spark_")
        self._topics: dict[str, Topic] = {}

    def prepare_topic(
        self,
        name: str,
        retention_bytes: int | None = None,
        partitioned: bool = False,
    ) -> Topic:
        # recreate-when-closed, exactly the reference's memoization:
        # `if (!this.topics[name] || this.topics[name].closed)` builds
        # a new Topic, else the cached handle is returned
        # (src/connection.js:40-50)
        cached = self._topics.get(name)
        if cached is None or cached.closed:
            self._topics[name] = Topic(
                self.spark, self.root, name, retention_bytes, partitioned
            )
        return self._topics[name]

    # camelCase alias mirroring the reference API surface
    prepareTopic = prepare_topic

    def union_topics(self, names: Iterable[str] | None = None) -> DataFrame:
        """All (or the named) topics as one frame with a ``topic``
        column — the read side of the shard-into-N-topics pattern for
        multi-writer throughput (SURVEY.md scale notes): each shard
        keeps its own strictly-increasing offsets, the union relaxes to
        per-shard order exactly as a multi-partition Kafka topic does."""
        names = list(names) if names is not None else self.topics()
        if not names:
            schema = StructType(
                [StructField("topic", StringType(), False)] + list(ENVELOPE.fields)
            )
            return self.spark.createDataFrame([], schema)
        frames = [
            self.prepare_topic(n).log().select(
                F.lit(n).alias("topic"), "offset", "ts", "event", "message"
            )
            for n in names
        ]
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    def topics_matching(self, pattern: str) -> list[str]:
        """Topic names matching a regex — the Kafka ``subscribe(Pattern)``
        analog.  Listing is a directory scan (no data touched), so a
        pattern consumer picks up newly created matching topics on its
        next call."""
        import re

        rx = re.compile(pattern)
        return [n for n in self.topics() if rx.fullmatch(n)]

    def union_matching(self, pattern: str) -> DataFrame:
        """union_topics over the regex match set."""
        return self.union_topics(self.topics_matching(pattern))

    def sql(self, statement: str) -> DataFrame:
        """Run SQL with every topic registered as ``topic_<name>``
        (batch view over the log — offset/ts/event/message).  The SQL
        face of the processing layer: the reference has no query
        capability at all over its stored messages; here the log is
        just a table.

        Views are (re)registered per call — cheap (no data touched) and
        always current with the directory listing.  Non-identifier
        characters in topic names map to ``_`` in the view name, so one
        oddly-named topic can't wedge every sql() call."""
        import re

        for name in self.topics():
            view = "topic_" + re.sub(r"[^A-Za-z0-9_]", "_", name)
            self.prepare_topic(name).log().createOrReplaceTempView(view)
        return self.spark.sql(statement)

    def describe_topics(self) -> DataFrame:
        """Engine-wide system table — one row per topic with
        footer-stat economics only (NO Spark job per topic): file and
        row counts, byte size, the live offset range, and the durable
        subscriber count.  The ops dashboard for a topic root: hot
        topics (bytes), fragmentation (n_files vs n_rows — compaction
        candidates), retention head (min_offset > 1 = trimmed), and
        fan-out (n_subscribers).  Kafka analog:
        ``kafka-topics --describe`` + the log-dir size report.

        Cost: one directory walk + one ranged footer read per segment
        (the retention/fsck/latest machinery) — safe to poll.  Footer
        reads run TOLERANT: a corrupt/foreign segment surfaces as
        ``n_bad_files > 0`` on its topic's row instead of raising the
        whole system table (ADVICE r8); its bytes still count, its rows
        and offsets are unknown."""
        rows = []
        for name in self.topics():
            topic = self.prepare_topic(name)
            all_segs = topic._segment_stats(tolerant=True)
            n_bad = sum(1 for s in all_segs if s.get("bad"))
            segs = [s for s in all_segs if s["num_rows"] or s.get("bad")]
            offs = [s for s in segs if s["min_off"] is not None]
            n_subs = sum(
                1
                for fn in (
                    os.listdir(topic.sub_dir)
                    if os.path.isdir(topic.sub_dir)
                    else []
                )
                if fn.endswith(".ack.json")
            )
            rows.append(
                (
                    name,
                    len(segs),
                    int(sum(s["num_rows"] for s in segs)),
                    int(sum(s["size"] for s in segs)),
                    min((s["min_off"] for s in offs), default=None),
                    max((s["max_off"] for s in offs), default=None),
                    n_subs,
                    n_bad,
                )
            )
        return self.spark.createDataFrame(
            rows,
            "topic string, n_files long, n_rows long, bytes long, "
            "min_offset long, max_offset long, n_subscribers long, "
            "n_bad_files long",
        )

    def compaction_advice(
        self,
        *,
        target_bytes: int = TARGET_BYTES_DEFAULT,
        small_frac: float = 0.25,
        min_files: int = 4,
    ) -> DataFrame:
        """The describe_topics fragmentation signal turned into ACTION
        (the log-layer twin of the query layer's join-strategy advisor,
        functions/advisor.py): per topic, the file-size economics and
        the verdict, in BOTH directions of the layout knee:

        - ``split`` — some segment holds >= 2x ``target_bytes`` (a fat
          file — e.g. one bulk publish_df(target_files=1) — that would
          serialize its share of the topic's scans on a wide cluster);
          action = ``Topic.compact(target_bytes=row.target_bytes)``,
          the whole-log byte-targeted range rewrite, and
          ``files_after`` is the PER-DIRECTORY byte arithmetic
          sum(ceil(dir bytes / target_bytes)) — on a flat topic that
          is exactly ceil(bytes / target_bytes) and exactly what the
          action produces; on a pub_date-partitioned topic it carries
          the at-least-one-file-per-date floor the layout imposes, and
          the action (which range-partitions on (pub_date, offset))
          can exceed it by at most one straddle file per interior date
          boundary — advice → action → re-advice still converges
          because nothing the rewrite emits reaches the 2x hysteresis
          (ADVICE r11; tests/test_review_r12.py drives the partitioned
          loop end-to-end).  Split wins over compact_small
          when both apply — the whole-log repack fixes the small
          backlog too.  The 2x hysteresis keeps the verdict stable (a
          rewrite adds per-file overhead bytes; a topic already at ~1
          target unit per file must not re-advise forever) and means
          the 16-file knee (BASELINE.md r10: sub-MB tasks cost more
          than they parallelize) can't be crossed — nothing below 2
          target units is ever split.
        - ``compact_small`` — at least ``min_files`` segments sit
          under the cutoff ``small_frac * target_bytes`` AND merging
          them would actually reduce the file count; action =
          ``Topic.compact_small(small_bytes=row.small_cutoff,
          target_bytes=row.target_bytes)`` — the row CARRIES the
          cutoff precisely so the advised call uses the same
          small-file definition the verdict did (compact_small's own
          default is a different, steady-state cutoff).
          ``files_after`` comes from the SAME per-directory
          offset-adjacency-run arithmetic the action executes
          (_adjacency_runs, shared code), never a global estimate.
        - ``ok`` — the layout already matches the byte rule.

        Cost: footer stats only, no Spark job — safe to poll; both
        advised actions preserve offsets and replay semantics (their
        own tests).  advice → action (with the row's parameters) →
        re-advice converges, driven end-to-end in
        tests/test_review_r11.py.  At 100 TB the same rows gate a
        compaction scheduler symmetrically: merge when tiny-file
        listing/task overhead dominates, split when per-file
        parallelism is the bottleneck."""
        rows = []
        cutoff = int(small_frac * target_bytes)
        for name in self.topics():
            topic = self.prepare_topic(name)
            segs = [
                s
                for s in topic._segment_stats(tolerant=True)
                if s["num_rows"] and not s.get("bad")
            ]
            small = [s for s in segs if s["size"] < cutoff]
            fat = [s for s in segs if s["size"] >= 2 * target_bytes]
            total = sum(s["size"] for s in segs)
            small_bytes = sum(s["size"] for s in small)
            gain = _small_compaction_gain(segs, cutoff, target_bytes)
            if fat:
                advice = "split"
                by_dir: dict[str, int] = {}
                for s in segs:
                    d = os.path.dirname(s["path"])
                    by_dir[d] = by_dir.get(d, 0) + s["size"]
                n_after = sum(
                    _files_for_bytes(b, target_bytes)
                    for b in by_dir.values()
                )
            elif len(small) >= min_files and gain > 0:
                advice = "compact_small"
                n_after = len(segs) - gain
            else:
                advice = "ok"
                n_after = len(segs)
            rows.append(
                (
                    name,
                    len(segs),
                    len(small),
                    int(total),
                    int(small_bytes),
                    int(cutoff),
                    int(target_bytes),
                    int(n_after),
                    advice,
                )
            )
        return self.spark.createDataFrame(
            rows,
            "topic string, n_files long, n_small long, bytes long, "
            "small_bytes long, small_cutoff long, target_bytes long, "
            "files_after long, advice string",
        )

    def vacuum(
        self, stale_s: float = 3600.0, *, restore_seeded: bool = False
    ) -> dict:
        """Engine-wide Topic.vacuum sweep.  Scans the ROOT listing
        directly rather than ``topics()``: a topic whose log vanished
        mid-compaction-swap has no ``log`` subdir and would be
        invisible to the normal listing — exactly the one that most
        needs recovering.  (Constructing its handle performs the
        restore; its vacuum then handles staging garbage.)
        ``restore_seeded`` forwards to each topic's vacuum (rule 3's
        explicit operator override — see Topic.vacuum)."""
        out: dict = {"recovered": [], "removed": [], "kept": []}
        if not os.path.isdir(self.root):
            return out
        for name in sorted(os.listdir(self.root)):
            tdir = os.path.join(self.root, name)
            if not os.path.isdir(tdir):
                continue
            has_log = os.path.isdir(os.path.join(tdir, "log"))
            has_old = os.path.isdir(os.path.join(tdir, "log.compact.old"))
            if not (has_log or has_old):
                continue
            if not has_log:  # init-time restore IS the recovery
                out["recovered"].append(
                    os.path.join(tdir, "log.compact.old")
                )
            sub = self.prepare_topic(name).vacuum(
                stale_s, restore_seeded=restore_seeded
            )
            for k in out:
                out[k].extend(p for p in sub[k] if p not in out[k])
        return out

    def topics(self) -> list[str]:
        """All topics under this root, prepared or not (the reference
        exposes no listing; Mongo's collection list is the analog)."""
        if not os.path.isdir(self.root):
            return []
        return sorted(
            d
            for d in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, d, "log"))
        )

    def drop_topic(self, name: str) -> bool:
        """Delete a topic's log, subscriber state, and pipelines.
        Returns False if it didn't exist."""
        self._topics.pop(name, None)
        path = os.path.join(self.root, name)
        if not os.path.isdir(path):
            return False
        shutil.rmtree(path)
        return True

    def close(self) -> None:
        self._topics.clear()
