"""Streaming sink ↔ error-queue integration: the reference client's
event loop (validate → apply clean rows → divert failures AND their
keys' later events to the error queue → dependency-ordered drain),
exactly-once across both ledgers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hermes_spark.schema import CHANGE_EVENT_SCHEMA
from hermes_spark.streaming.errorqueue import DeadLetterQueue
from hermes_spark.streaming.sink import ExactlyOnceSink
from hermes_spark.tables import ParquetMergeTable

PAYLOAD = T.StructType(
    [f for f in CHANGE_EVENT_SCHEMA.fields if f.name != "op"]
)


def _batch(spark, rows):
    ddl = ("conv_id string, turn_idx int, op string, role string, "
           "text string, tool string, ts string, cksum string")
    return spark.createDataFrame(rows, ddl).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )


@pytest.fixture()
def rig(spark, tmp_work):
    target = ParquetMergeTable(
        spark, f"{tmp_work}/target", key=["conv_id", "turn_idx"],
        schema=CHANGE_EVENT_SCHEMA, compact_every=None,
    )
    dlq = DeadLetterQueue(
        spark, f"{tmp_work}/dlq", key=["conv_id", "turn_idx"],
        payload_schema=PAYLOAD,
    )
    sink = ExactlyOnceSink(
        target, dlq=dlq,
        validator=lambda df: ~F.col("text").contains("POISON"),
    )
    return target, dlq, sink


B0 = [
    ("a", 0, "insert", "user", "hello", None, "2026-01-01 00:00:00", "c1"),
    ("b", 0, "insert", "user", "POISON pill", None, "2026-01-01 00:00:01", "c2"),
]
B1 = [
    ("a", 1, "insert", "user", "more", None, "2026-01-01 01:00:00", "c3"),
    # valid row, but key (b,0) is queued → must divert (per-key FIFO)
    ("b", 0, "update", "user", "fixed text", None, "2026-01-01 01:00:01", "c4"),
    ("c", 0, "insert", "user", "new conv", None, "2026-01-01 01:00:02", "c5"),
]


def test_failures_and_queued_keys_divert(spark, rig):
    target, dlq, sink = rig
    sink(_batch(spark, B0), 0)
    assert {(r.conv_id, r.turn_idx) for r in target.read().collect()} == {("a", 0)}
    q = dlq.read().collect()
    assert [(r.conv_id, r.op, r.err) for r in q] == [("b", "insert", "validation failed")]

    sink(_batch(spark, B1), 1)
    assert {(r.conv_id, r.turn_idx) for r in target.read().collect()} == {
        ("a", 0), ("a", 1), ("c", 0)
    }
    # the queued key's run compacted at enqueue: insert+update → insert
    # with the newest payload, error text retained from the failed event
    q = {(r.conv_id, r.turn_idx): r for r in dlq.read().collect()}
    assert set(q) == {("b", 0)}
    assert q[("b", 0)].op == "insert" and q[("b", 0)].text == "fixed text"

    # drain: the handler now succeeds → queue empties, rows apply
    def apply_fn(cands):
        cands = cands.cache()
        if cands.count():
            target.merge(
                cands.select([f.name for f in CHANGE_EVENT_SCHEMA.fields]),
                batch_id=f"drain-{cands.first().offset}",
            )
        return cands.select("conv_id", "turn_idx")

    assert dlq.drain(apply_fn) == 0
    got = {(r.conv_id, r.turn_idx): r.text for r in target.read().collect()}
    assert got[("b", 0)] == "fixed text"


def test_replay_is_noop_on_both_ledgers(spark, rig):
    target, dlq, sink = rig
    sink(_batch(spark, B0), 0)
    sink(_batch(spark, B1), 1)
    tv, qv = target.current_version(), dlq.table.current_version()
    sink(_batch(spark, B0), 0)
    sink(_batch(spark, B1), 1)
    assert target.current_version() == tv
    assert dlq.table.current_version() == qv


def test_crash_between_target_and_queue_replays_clean(spark, rig):
    """Target committed, queue write crashed: the replay skips the
    target, recomputes the identical split against the pre-batch queue
    state, and lands the queue write."""
    target, dlq, sink = rig
    real_enqueue = dlq.enqueue
    dlq.enqueue = lambda *a, **kw: (_ for _ in ()).throw(RuntimeError("crash"))
    with pytest.raises(RuntimeError):
        sink(_batch(spark, B0), 0)
    dlq.enqueue = real_enqueue
    assert 0 in target.committed_batch_ids()
    assert "sink-0" not in dlq.table.committed_batch_ids()

    sink(_batch(spark, B0), 0)  # replay
    assert "sink-0" in dlq.table.committed_batch_ids()
    assert {(r.conv_id, r.turn_idx) for r in target.read().collect()} == {("a", 0)}
    assert [(r.conv_id, r.err) for r in dlq.read().collect()] == [
        ("b", "validation failed")
    ]


def test_inline_and_persisted_splits_share_one_sidecar_shape(spark, rig):
    """Batch 0 meets an empty queue (inline split, written with the
    delta), batch 1 a non-empty one (gated, persisted split): both
    sidecars are queue events — payload + offset + err — so a catalog
    twin appending both to one sidecar table sees one schema, and the
    target's own reads never see the sidecar-only columns."""
    target, _dlq, sink = rig
    sink(_batch(spark, B0), 0)
    sink(_batch(spark, B1), 1)
    inline, gated = (target.read_sidecar_of_batch(b) for b in (0, 1))
    assert target.commit_info_of_batch(0).get("split") == "inline"
    assert target.commit_info_of_batch(1).get("split") is None

    def shape(df):
        return {f.name: f.dataType for f in df.schema.fields}

    assert shape(inline) == shape(gated)
    assert {"offset", "err"} <= set(inline.columns)
    assert [(r.conv_id, r.err) for r in inline.collect()] == [
        ("b", "validation failed")
    ]
    assert target.read().columns == [f.name for f in CHANGE_EVENT_SCHEMA.fields]


def test_empty_sidecar_read_latches_without_enqueue(spark, tmp_work):
    """A target answering a batch without rejects with an EMPTY sidecar
    frame (a catalog's shared sidecar table, once it exists) latches
    the queue ledger — no queue delta, the queue stays known-empty, so
    the next trigger keeps the fast path."""
    from hermes_spark.tables import empty_frame

    class SharedSidecarTable(ParquetMergeTable):
        def read_sidecar_of_batch(self, batch_id):
            side = super().read_sidecar_of_batch(batch_id)
            return side if side is not None else empty_frame(
                self.spark, self.schema
            )

    target = SharedSidecarTable(
        spark, f"{tmp_work}/target", key=["conv_id", "turn_idx"],
        schema=CHANGE_EVENT_SCHEMA, compact_every=None,
    )
    dlq = DeadLetterQueue(
        spark, f"{tmp_work}/dlq", key=["conv_id", "turn_idx"],
        payload_schema=PAYLOAD,
    )
    sink = ExactlyOnceSink(
        target, dlq=dlq,
        validator=lambda df: ~F.col("text").contains("POISON"),
    )
    sink(_batch(spark, B0[:1]), 0)
    assert "sink-0" in dlq.table.committed_batch_ids()
    assert dlq.table.current_version() is None  # nothing enqueued
    assert dlq._empty_hint is True


def test_enqueueing_trigger_runs_the_classifier_once(spark, tmp_work):
    """A trigger whose rows fail validation reports the same state-store
    rows total as a healthy trigger over the same state: the delta
    write keeps the rejected rows as its sidecar in the same job, so
    the stateful classifier is not re-run to find them (each extra read
    of the foreachBatch frame would re-execute it and add its rows
    total again)."""
    import datetime as dt

    from hermes_spark.schema import TRANSCRIPT_SCHEMA
    from hermes_spark.streaming.pipeline import CdcPipeline

    t0 = dt.datetime(2026, 1, 1)
    src = f"{tmp_work}/src"

    def publish(turns, poison=()):
        rows = [
            (c, i, "user", ("POISON " if (c, i) in poison else "") + f"{c}{i}",
             None, t0 + dt.timedelta(minutes=i))
            for c in ("a", "b", "c") for i in turns
        ]
        spark.createDataFrame(rows, TRANSCRIPT_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    publish(range(0, 4))
    publish(range(4, 6), poison={("b", 4), ("b", 5)})
    pipe = CdcPipeline(
        spark, src, f"{tmp_work}/run", max_files_per_trigger=1,
        validator=lambda df: ~F.col("text").contains("POISON"),
    )
    q = pipe.start()
    try:
        q.processAllAvailable()
        prog = [p for p in q.recentProgress if p.numInputRows > 0]
    finally:
        q.stop()
    assert [p.numInputRows for p in prog] == [12, 6]
    healthy, poisoned = (p.stateOperators[0].numRowsTotal for p in prog)
    assert healthy > 0 and poisoned == healthy
    assert sorted((r.conv_id, r.turn_idx) for r in pipe.dlq.read().collect()) == [
        ("b", 4), ("b", 5)
    ]
    assert pipe.target_live().count() == 16
