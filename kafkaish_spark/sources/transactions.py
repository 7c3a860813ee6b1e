"""Cross-topic transactional publish — all-or-nothing appends over
several topics, with journaled crash recovery.

The reference can only append to one collection at a time; a producer
feeding N shard topics (``Engine.union_topics`` readers) or a
topic-plus-DLQ pair has no way to keep them consistent across a crash.
Kafka solves this with transactions; the log-structured analog here is
the classic two-phase journal:

1. **Stage**: every payload is written as FINAL log segments (offsets
   already assigned after each topic's tail) into a transaction
   directory — durable, but invisible to readers.
2. **Commit point**: the journal's state flips ``staged`` ->
   ``committing`` (one atomic file replace).  Everything before the
   flip rolls BACK on recovery; everything after rolls FORWARD.
3. **Publish**: each staged segment is renamed into its topic's log
   dir (rename is atomic per file), then the journal is deleted.

``recover_transactions`` scans the journal directory: ``staged``
transactions are dropped wholesale (no reader ever saw them),
``committing`` transactions finish their remaining renames (the data
is durable and possibly partially visible — roll-forward is the only
choice that preserves atomicity without un-publishing).  A staged
segment whose offsets another writer took since the crash (``publish``
and ``publish_df`` do not recover first) is re-offset after the tail
before its rename, so the log's offsets stay unique and contiguous.
``publish_transaction`` runs recovery first, so a crashed process's
debris never blocks or corrupts the next writer.

Recovery never touches a LIVE transaction: its owner holds an
exclusive ``flock`` on ``_txn/<id>.lock`` from before the transaction
directory exists until ``publish_transaction`` returns or raises (the
kernel drops it when the owner process dies), and recovery resolves
only the transactions whose lock it takes without blocking.

Contract notes: each topic a transaction appends to is held under its
``writer_lock`` from staging to the last rename, so offsets are
assigned from tails no other writer can move meanwhile — the per-topic
contract every publish path here has; transactions on disjoint topics
run concurrently, from threads or processes.  Isolation is
read-uncommitted DURING the rename window (a reader may see topic A's
rows before topic B's — Kafka's default isolation), but never a torn
PER-TOPIC batch (a parquet segment appears atomically) and never a
partial transaction after recovery.  An empty payload stages no
segment.  Partitioned (pub_date) topics are not supported — their
layout splits one logical append across directories, which file
renames cannot make atomic.
"""

from __future__ import annotations

import contextlib
import fcntl
import json
import os
import shutil
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafkaish_spark.sources.topic_log import (
    Engine,
    _footer_record,
    _offsets_in_one_partition,
    log_tail,
    segment_records,
    writer_lock,
)


def _txn_root(engine: Engine) -> str:
    return os.path.join(engine.root, "_txn")


def _journal_path(txn_dir: str) -> str:
    return os.path.join(txn_dir, "journal.json")


def _write_journal(txn_dir: str, doc: dict) -> None:
    tmp = _journal_path(txn_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(doc, f, indent=1)
    os.replace(tmp, _journal_path(txn_dir))


def _lock(txn_dir: str, block: bool) -> int | None:
    """The descriptor holding the exclusive ``flock`` of ``txn_dir``'s
    lock file, or None (``block=False``) when another holder has it.
    A lock taken on a file that was unlinked meanwhile (a recovery
    releasing it) guards nothing: open the path again."""
    path = f"{txn_dir}.lock"
    while True:
        fd = os.open(path, os.O_CREAT | os.O_RDWR, 0o644)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX | (0 if block else fcntl.LOCK_NB))
        except BlockingIOError:
            os.close(fd)
            return None
        try:
            if os.stat(path).st_ino == os.fstat(fd).st_ino:
                return fd
        except FileNotFoundError:
            pass
        os.close(fd)


def _unlock(txn_dir: str, fd: int) -> None:
    """Remove the lock file, then release the lock: a transaction
    directory left behind is resolved by the next recovery."""
    with contextlib.suppress(FileNotFoundError):
        os.remove(f"{txn_dir}.lock")
    os.close(fd)


def recover_transactions(engine: Engine) -> dict:
    """Resolve every pending transaction under the engine root whose
    owner is gone: ``staged`` -> rolled back (deleted), ``committing``
    -> rolled forward (remaining renames performed).  A transaction
    whose owner still holds its lock is left alone.  Returns counts."""
    root = _txn_root(engine)
    out = {"rolled_back": 0, "rolled_forward": 0}
    if not os.path.isdir(root):
        return out
    for txn in sorted({n.removesuffix(".lock") for n in os.listdir(root)}):
        txn_dir = os.path.join(root, txn)
        fd = _lock(txn_dir, block=False)
        if fd is None:
            continue  # its owner is running
        try:
            if not os.path.isdir(txn_dir):
                continue  # finished, or its owner died before staging
            jpath = _journal_path(txn_dir)
            if not os.path.exists(jpath):
                shutil.rmtree(txn_dir, ignore_errors=True)  # pre-journal debris
                continue
            with open(jpath) as f:
                doc = json.load(f)
            if doc["state"] == "staged":
                shutil.rmtree(txn_dir)
                out["rolled_back"] += 1
            else:  # committing: finish the moves, then the offset commits
                for mv in doc["moves"]:
                    if os.path.exists(mv["src"]) and not os.path.exists(mv["dst"]):
                        _land(mv)
                _apply_acks(engine, doc.get("acks", []))
                shutil.rmtree(txn_dir)
                out["rolled_forward"] += 1
        finally:
            _unlock(txn_dir, fd)
    return out


def _land(mv: dict) -> None:
    """Rename a crashed transaction's staged segment into its log.
    Staged rows are invisible to ``latest()``, so a writer that appended
    to the topic since the crash took their offsets: under the topic's
    writer lock, a segment that would collide is first re-offset after
    the current tail, its rows kept contiguous and in staged order."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    log_dir = os.path.dirname(mv["dst"])
    with writer_lock(os.path.dirname(log_dir), what="recovery"):
        shift = log_tail(segment_records(log_dir)) + 1 - _footer_record(mv["src"])["min_off"]
        if shift > 0:
            tbl = pq.read_table(mv["src"])
            i = tbl.schema.get_field_index("offset")
            moved = pc.add(tbl["offset"], pa.scalar(shift, pa.int64()))
            tmp = f"{mv['src']}.tmp"
            pq.write_table(tbl.set_column(i, tbl.field(i), moved), tmp, compression="snappy")
            os.replace(tmp, mv["src"])
        os.rename(mv["src"], mv["dst"])


def _apply_acks(engine: Engine, ack_docs: list[dict]) -> None:
    for a in ack_docs:
        engine.prepare_topic(a["topic"]).ack(a["group"], a["offset"])


def publish_transaction(
    engine: Engine,
    publishes: list[tuple[str, DataFrame]],
    acks: list[tuple[str, str, int]] | None = None,
    _crash_after: str | int | None = None,  # test hook: simulate crashes
) -> dict:
    """Atomically append each DataFrame(event, message[, ts]) to its
    topic.  Returns {topic: rows_published}.  See the module docstring
    for the staging/commit/recovery protocol.

    ``acks`` — (topic, group, offset) triples committed IN the same
    transaction: the consume-transform-produce loop's exactly-once
    contract (Kafka's sendOffsetsToTransaction).  A consumer that
    polls topic A, publishes results to topic B, and passes its read
    position here can crash anywhere: either the outputs AND the
    group offset both land (roll-forward) or neither does (rollback),
    so resumed processing never skips NOR double-produces a batch.
    Acks apply after the segment renames during commit/roll-forward;
    they are monotonic upserts, so re-applying on recovery is
    idempotent."""
    recover_transactions(engine)
    txn_id = uuid.uuid4().hex
    txn_dir = os.path.join(_txn_root(engine), txn_id)
    os.makedirs(_txn_root(engine), exist_ok=True)
    owner = _lock(txn_dir, block=True)
    moves: list[dict] = []
    counts: dict[str, int] = {}
    # single-writer guard on every involved topic for the whole
    # stage->commit window (sorted acquisition: no deadlock with a
    # concurrent transaction touching an overlapping topic set)
    locks = contextlib.ExitStack()
    try:
        os.makedirs(txn_dir)
        # acquisition INSIDE the try: if the Nth topic's lock times
        # out, locks already entered release via the finally below
        # instead of blocking other writers until the stale-break
        # (r5 advice, low)
        for _name in sorted({n for n, _ in publishes}):
            locks.enter_context(
                writer_lock(
                    engine.prepare_topic(_name).root, what="transaction"
                )
            )
        # -- stage: final-format segments, offsets assigned after tails
        for i, (name, df) in enumerate(publishes):
            topic = engine.prepare_topic(name)
            if topic.partitioned:
                raise ValueError(
                    "publish_transaction does not support "
                    "date-partitioned topics"
                )
            if "ts" not in df.columns:
                df = df.withColumn("ts", F.current_timestamp())
            # one staged segment per topic per transaction: atomic
            # visibility needs one rename per topic, and a transaction
            # is a control-plane batch by contract (bulk corpus loads
            # go through publish_df, whose offset assignment is fully
            # partition-parallel) — so the single task here is bounded
            # by design, not an accident.  Staged segments are
            # invisible to latest(): when the same topic appears twice
            # in one transaction, offset the later batch by the rows
            # already staged for it or the committed log would contain
            # duplicate offsets
            out = _offsets_in_one_partition(
                df.select("event", "message", "ts"),
                topic.latest() + counts.get(name, 0),
            ).select(
                F.col("offset"),
                F.col("ts").cast("timestamp").alias("ts"),
                F.col("event").cast("string").alias("event"),
                F.col("message").cast("string").alias("message"),
            )
            stage_sub = os.path.join(txn_dir, f"t{i}")
            out.write.mode("overwrite").parquet(stage_sub)
            # an empty payload writes one 0-row file: it holds no
            # offsets, so it stays out of the log
            staged = [r for r in segment_records(stage_sub) if r["num_rows"]]
            for j, rec in enumerate(staged):
                moves.append(
                    {
                        "src": rec["path"],
                        # one commit group per staged payload
                        # (topic_log._segment_uuid), for retention and fsck
                        "dst": os.path.join(
                            topic.log_dir,
                            f"part-{j:05d}-txn{txn_id}-{i}.parquet",
                        ),
                    }
                )
            counts[name] = counts.get(name, 0) + sum(
                rec["num_rows"] for rec in staged
            )
        ack_docs = [
            {"topic": t, "group": g, "offset": int(o)}
            for t, g, o in (acks or [])
        ]
        _write_journal(
            txn_dir, {"state": "staged", "moves": moves, "acks": ack_docs}
        )
        if _crash_after == "staged":
            raise RuntimeError("simulated crash after staging")
        # -- commit point
        _write_journal(
            txn_dir,
            {"state": "committing", "moves": moves, "acks": ack_docs},
        )
        for k, mv in enumerate(moves):
            if _crash_after == k:
                raise RuntimeError(f"simulated crash after {k} moves")
            os.rename(mv["src"], mv["dst"])
        if _crash_after == len(moves):
            raise RuntimeError(f"simulated crash after {len(moves)} moves")
        _apply_acks(engine, ack_docs)
        shutil.rmtree(txn_dir)
        return counts
    except RuntimeError:
        raise  # simulated crashes leave the journal for recovery
    except Exception:
        # real staging failures before the commit point: clean rollback
        if os.path.exists(_journal_path(txn_dir)):
            with open(_journal_path(txn_dir)) as f:
                if json.load(f)["state"] == "committing":
                    raise  # past the commit point: recovery rolls forward
        shutil.rmtree(txn_dir, ignore_errors=True)
        raise
    finally:
        locks.close()
        _unlock(txn_dir, owner)


# ---------------------------------------------------------------- oracle query
from kafkaish_spark.plans.registry import query  # noqa: E402
from kafkaish_spark.sources.tables import load_table as _t  # noqa: E402

_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


@query(
    "q_txn_split_publish_union",
    oracle="""
    SELECT lang AS event,
           CAST(COUNT(*) AS BIGINT) AS n_msgs,
           CAST(SUM(doc_id) AS BIGINT) AS sum_doc_id,
           CAST(SUM(n_chars) AS BIGINT) AS sum_n_chars
    FROM documents GROUP BY lang
    """,
)
def q_txn_split_publish_union(spark, sf: str):
    """documents split by doc_id parity and published to TWO topics in
    ONE transaction, then union_topics + JSON extraction rebuilds the
    per-lang fingerprint the oracle computes from parquet.  Any torn
    transaction (one topic with data, the other without), offset
    collision, or payload corruption moves a sum — the atomicity
    contract checked as data, not just as pytest control flow."""
    d = _t(spark, sf, "documents")
    n_docs, fp_docs = d.agg(
        F.count(F.lit(1)), F.sum("doc_id").cast("long")
    ).first()
    root = os.path.join(
        _REPO_ROOT, "spark-warehouse", "_txnq",
        os.path.basename(sf.rstrip("/")) or "default",
    )
    eng = Engine(spark, root)
    even = eng.prepare_topic("docs_even")
    odd = eng.prepare_topic("docs_odd")

    def _topics_fp():
        # content fingerprint, not just counts: regenerated testdata
        # with the same row count must still force a rebuild
        row = eng.union_topics(["docs_even", "docs_odd"]).agg(
            F.count(F.lit(1)),
            F.sum(F.get_json_object("message", "$.doc_id").cast("long")),
        ).first()
        return row[0], row[1]

    if even.latest() + odd.latest() != n_docs or _topics_fp() != (
        n_docs,
        fp_docs,
    ):
        if even.latest() or odd.latest():  # stale from regenerated data
            shutil.rmtree(root, ignore_errors=True)
            eng = Engine(spark, root)
            even = eng.prepare_topic("docs_even")
            odd = eng.prepare_topic("docs_odd")
        payload = d.select(
            F.col("lang").alias("event"),
            F.to_json(F.struct("doc_id", "n_chars")).alias("message"),
            (F.col("doc_id") % 2).alias("par"),
        )
        publish_transaction(
            eng,
            [
                ("docs_even", payload.filter(F.col("par") == 0).drop("par")),
                ("docs_odd", payload.filter(F.col("par") == 1).drop("par")),
            ],
        )
    both = eng.union_topics(["docs_even", "docs_odd"])
    return both.groupBy("event").agg(
        F.count(F.lit(1)).alias("n_msgs"),
        F.sum(F.get_json_object("message", "$.doc_id").cast("long"))
        .cast("long")
        .alias("sum_doc_id"),
        F.sum(F.get_json_object("message", "$.n_chars").cast("long"))
        .cast("long")
        .alias("sum_n_chars"),
    )
