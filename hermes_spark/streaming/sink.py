"""Exactly-once sink: foreachBatch → idempotent MERGE + lineage metrics.

Reference anchors: the producer's synchronous ack with abort-and-retry
(at-least-once delivery made effectively-once by content dedup,
/root/reference/server/hermesserver.py:697-711), the client's
per-event offset commit (clients/__init__.py:113-120, 913-955), and the
write-if-changed atomic cache snapshot (lib/datamodel/serialization.py:
373-510).

Spark restatement: Structured Streaming replays an uncommitted
micro-batch after restart with the *same* batch_id; the sink MERGE is
keyed on (batch_id, pkey) — `ParquetMergeTable.merge` records batch_id
in its atomic commit log and no-ops on replay, yielding end-to-end
exactly-once on top of at-least-once delivery.

Per-batch lineage/metrics (the reference's diff counters + per-phase
timings, hermesserver.py:584-616, dataobjectlist.py:313-321) are
collected with ZERO extra Spark jobs: an ``Observation`` rides the
single delta-write job (op counts, rows) and lands inside the same
atomic commit entry as the data — crash-consistent by construction.
Per-partition lineage detail is derivable on demand from the delta
snapshot files themselves (one file set per batch).  One job per
micro-batch is also the scaling-efficiency lever: serial driver work
per batch is what flattens the N→4N curve.
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hermes_spark.operators.ordering import with_apply_order
from hermes_spark.tables import ParquetMergeTable, empty_frame

# batch ids are int|str in the ledger (streaming batch numbers, but
# also "dlq-<tag>-p<n>" drain merges and "sink-N" queue entries) — the
# metrics surfaces carry them verbatim as strings
METRICS_SCHEMA = T.StructType(
    [
        T.StructField("batch_id", T.StringType(), True),
        T.StructField("op", T.StringType(), True),
        T.StructField("rows", T.LongType(), True),
        T.StructField("wall_ms", T.LongType(), True),
    ]
)

PARTITION_METRICS_SCHEMA = T.StructType(
    [
        T.StructField("batch_id", T.StringType(), True),
        T.StructField("partition_id", T.IntegerType(), True),
        T.StructField("op", T.StringType(), True),
        T.StructField("rows", T.LongType(), True),
    ]
)


def _latest_change_per_key(changes: DataFrame, key: list[str]) -> DataFrame:
    """Within one micro-batch, MERGE must see at most one row per key —
    keep the newest classification (max ts, then op rank so a delete
    re-delivered after an update wins deterministically)."""
    ordered = with_apply_order(changes)
    return (
        ordered.groupBy(*key)
        .agg(
            F.max_by(
                F.struct(*[c for c in ordered.columns if c not in key]),
                F.struct(F.col("ts"), F.col("_op_rank")),
            ).alias("_last")
        )
        .select(*key, "_last.*")
        .drop("_op_rank")
    )


class ExactlyOnceSink:
    """foreachBatch body: (optional dedupe) → idempotent MERGE with
    observed metrics — exactly one Spark job per micro-batch."""

    def __init__(
        self,
        target: ParquetMergeTable,
        transform: Callable[[DataFrame], DataFrame] | None = None,
        assume_unique_keys: bool = True,
        evolve_on_new_columns: bool = True,
        dlq=None,
        validator: Callable[[DataFrame], "F.Column"] | None = None,
        type_col: str | None = None,
        type_names: "Sequence[str] | None" = None,
    ) -> None:
        self.target = target
        self.transform = transform
        # per-objtype diff counters (the reference's status verb
        # reports added/modified/removed PER TYPE,
        # server/hermesserver.py:584-616): when ``type_col`` names a
        # column carrying the fanout local-type name and
        # ``type_names`` lists the types the plan declares (fanout
        # type names are STATIC — the keys of fanout_events' result),
        # the per-(type, op) counts ride the SAME Observation as the
        # global counters — still zero extra jobs.  Rows whose type is
        # not in the list land in an ``"other"`` bucket (derived, not
        # counted).  The type column never reaches the target schema.
        self.type_col = type_col
        self.type_names = tuple(type_names or ())
        # the stateful classifier emits at most one compacted event per
        # key per batch, so the per-batch dedupe shuffle is skipped by
        # default; pass False when feeding raw (unclassified) changes.
        self.assume_unique_keys = assume_unique_keys
        # mid-stream schema evolution: when a batch carries columns the
        # target doesn't know, publish a dataschema event AHEAD of the
        # data commit and evolve the target (reference
        # server/hermesserver.py:340-443 → clients/__init__.py:876-887).
        # Without this the MERGE would silently drop the new columns.
        self.evolve_on_new_columns = evolve_on_new_columns
        # the reference's client event loop (clients/__init__.py:
        # 913-1020): each event is validated/handled; failures land in
        # the error queue, and subsequent events for a queued key — or
        # for an FK-parent of a queued key, per foreignkeys_policy —
        # divert to the queue instead of applying (per-key FIFO).
        # ``validator(df) -> boolean Column`` marks rows that apply
        # cleanly; everything else (plus gated keys) goes to ``dlq``.
        self.dlq = dlq
        self.validator = validator

    @staticmethod
    def _in_ledger(batch_id, ids: set) -> bool:
        """Format-neutral membership: ParquetMergeTable preserves ids
        verbatim (int stays int), Iceberg snapshot summaries are
        string-typed — an int-only compare would make every replay
        undetected on the cluster twin."""
        return batch_id in ids or str(batch_id) in ids

    def _delta_is_empty(self, committed) -> bool | None:
        """True/False when the committed delta's data files can be
        inspected driver-side (local version dirs), None when the
        table format cannot show us (Iceberg snapshot ids) — callers
        treat None as best-effort."""
        import os

        vd = getattr(self.target, "_version_dir", None)
        if vd is None:
            # Iceberg target: merge() returns an int ONLY when the
            # MERGE created a snapshot, i.e. the delta changed rows —
            # an empty MERGE returns the "batch-<id>" string marker.
            # An int therefore PROVES the delta was non-empty, so a
            # real Observation failure must propagate instead of
            # zero-filling lineage counters for an applied batch.
            return False if isinstance(committed, int) else None
        if not isinstance(committed, int):
            return None
        try:
            path = vd(committed)
            for _root, _dirs, files in os.walk(path):
                if any(f.endswith(".parquet") for f in files):
                    return False
            return True
        except Exception:
            return None

    def ledger_state(self, batch_id) -> tuple[bool, bool]:
        """(target committed, queue closed) for this batch — THE
        two-ledger replay probe, exposed so wrapping sinks (the join
        classifier's fast path) share one implementation of the id
        scheme and the format-neutral membership test instead of
        duplicating the protocol."""
        t_done = self._in_ledger(batch_id, self.target.committed_batch_ids())
        q_done = (
            self.dlq is None
            or f"sink-{batch_id}" in self.dlq.table.committed_batch_ids()
        )
        return t_done, q_done

    def __call__(self, changes: DataFrame, batch_id: int) -> None:
        t0 = time.monotonic()
        t_done, q_done = self.ledger_state(batch_id)
        if t_done:
            # replayed batch: the MERGE will no-op, but the batch plan
            # must still execute end-to-end — Spark validates that
            # foreachBatch drove every partition of a stateful operator
            # (state-store commits), and an early return fails the
            # batch with STATE_STORE_COMMIT_VALIDATION_FAILED
            changes.count()
        if t_done and q_done:
            return  # replayed batch — exactly-once no-op
        if self.dlq is None:
            if self.transform is not None:
                changes = self.transform(changes)
            self._apply(changes, batch_id, t0)
            return
        # Two-ledger protocol with a PERSISTED split: the DLQ gating
        # decision is written as a sidecar of the target commit (same
        # atomic ledger append), and the queue write always enqueues
        # the persisted rows.  A replay after a crash between the two
        # commits therefore re-enqueues the ORIGINAL split even if
        # resolve()/drain() changed the queue in between — recomputing
        # the split there could silently drop rows (gated→process with
        # the target merge already skipped) or duplicate them into the
        # queue (process→gated with the rows already applied).
        #
        # FAST PATH — the healthy steady state: when the queue is
        # provably EMPTY, gating is a no-op (no key can be queued, no
        # FK-parent can be errored) and the split collapses to the
        # validator alone, which is DETERMINISTIC in the batch.  Then:
        # no gating joins, no persist — the delta write keeps the
        # rejected rows (if any) as its sidecar in the same job, and a
        # replay without them recomputes the identical split (the
        # commit line carries a ``split: inline`` marker).  One Spark
        # job per micro-batch, same as a plain sink.
        if not t_done:
            if self.transform is not None:
                changes = self.transform(changes)
            if (
                self.dlq.known_empty()
                and self.assume_unique_keys  # per-key dedupe spans the split
                and getattr(self.target, "commit_info_of_batch", None)
                is not None
            ):
                self._apply_inline_split(changes, batch_id, t0, q_done)
                return
            # persist the classified batch: the split produces THREE
            # actions over it (sidecar write, delta write, enqueue/
            # empty-check), and without the cache each re-executes the
            # full stateful-classify plan — measured 2.4× wall on a
            # clean stream.  O(batch) rows, MEMORY_AND_DISK, released
            # before the trigger ends.
            changes = changes.persist()
            to_enqueue = None
            try:
                process, to_enqueue = self._split_failures(changes)
                to_enqueue = to_enqueue.persist()
                self._apply(process, batch_id, t0, sidecar=to_enqueue)
                if not q_done:
                    # the frame we just persisted as the commit sidecar
                    # IS the split — no read-back needed on the normal
                    # path (the parquet round-trip is for replays only)
                    self._enqueue_split(batch_id, to_enqueue)
            finally:
                changes.unpersist()
                if to_enqueue is not None:
                    to_enqueue.unpersist()
        elif not q_done:
            # replay after a crash between target-commit and
            # queue-commit: re-enqueue the ORIGINAL persisted split
            info = (
                self.target.commit_info_of_batch(batch_id)
                if getattr(self.target, "commit_info_of_batch", None)
                is not None else None
            )
            if (info or {}).get("split") == "inline":
                # the original commit took the fast path: the split was
                # validator-only (queue empty, gating skipped) and is
                # deterministic in the replayed batch — recompute it
                if self.transform is not None:
                    changes = self.transform(changes)
                self._enqueue_split(batch_id, self._validator_failures(changes))
                return
            persisted = self.target.read_sidecar_of_batch(batch_id)
            if persisted is not None:
                self._enqueue_split(batch_id, persisted)
            else:
                # the split expired (vacuum retention / purge_columns
                # ran during the downtime): there is nothing left to
                # re-enqueue — latch the queue ledger closed, or this
                # branch re-runs on every future replay and the
                # two-ledger protocol never converges for this batch
                self.dlq.table.mark_batch(f"sink-{batch_id}")

    def _validator_ok(self, changes: DataFrame):
        """The exhaustive per-row verdict Column: NULL = "no opinion"
        = the event applies (see the NULL-tombstone note in
        ``_split_failures``)."""
        ok = (
            self.validator(changes) if self.validator is not None
            else F.lit(True)
        )
        return F.coalesce(ok, F.lit(True))

    @staticmethod
    def _as_failures(rejected: DataFrame) -> DataFrame:
        """Validator rejects as queue events: offset = event-time micros
        (the last-writer order the classifier already enforces).  Both
        names are queue columns, so no payload carries them."""
        return rejected.withColumn(
            "offset", F.unix_micros(F.col("ts"))
        ).withColumn("err", F.lit("validation failed"))

    def _validator_failures(self, changes: DataFrame) -> DataFrame:
        """The validator-only enqueue frame (no gating) — the fast
        path's split, recomputable deterministically on replay."""
        return self._as_failures(changes.where(~self._validator_ok(changes)))

    def _enqueue_split(self, batch_id: int, failed: DataFrame | None) -> None:
        if failed is None or failed.isEmpty():
            self.dlq.table.mark_batch(f"sink-{batch_id}")
        else:
            self.dlq.enqueue(failed, batch_id=f"sink-{batch_id}")

    def _apply_inline_split(
        self, changes: DataFrame, batch_id: int, t0: float, q_done: bool
    ) -> None:
        """The empty-queue fast path: ONE Spark job for a healthy
        micro-batch on a local target, no persist.  The delta write
        splits on the verdict — accepted rows form the delta, rejected
        rows (as queue events, the persisted split's shape) its sidecar,
        in the same job — so the stateful classifier runs once even
        when rows fail: every further read of ``changes`` would re-run
        it (with a state-store load and changelog replay).  The commit
        carries ``split: inline`` so a crash-replay knows the split is
        recomputable (deterministic — no queue state involved)."""
        ev = self._as_failures(
            changes.withColumn("_ok", self._validator_ok(changes))
        )
        self._apply(
            ev, batch_id, t0, commit_info={"split": "inline"}, split="_ok"
        )
        if not q_done:
            self._enqueue_split(
                batch_id, self.target.read_sidecar_of_batch(batch_id)
            )

    def _split_failures(self, changes: DataFrame):
        """Reference client loop (clients/__init__.py:913-1020): rows
        failing validation divert to the error queue with an error
        message; ``gate_incoming`` then diverts the valid rows whose
        key is already queued (per-key FIFO) or FK-parents a queued
        object (foreignkeys_policy).  Offsets = event-time micros (the
        last-writer order the classifier already enforces)."""
        # the split must be EXHAUSTIVE: a NULL verdict (any content
        # validator over a NULL column — which is every delete
        # tombstone, text IS NULL) is neither true nor ~true, so the
        # row would fall through BOTH branches and silently vanish —
        # neither applied nor enqueued (measured: a text validator
        # dropped every delete in the stream).  NULL = "no opinion" =
        # the event applies; a validator wanting strictness returns an
        # explicit false.  (_validator_ok coalesces the verdict.)
        ev = changes.withColumn(
            "offset", F.unix_micros(F.col("ts"))
        ).withColumn("_ok", self._validator_ok(changes))
        bad = ev.where(~F.col("_ok")).withColumn(
            "err", F.lit("validation failed")
        )
        process, gated = self.dlq.gate_incoming(ev.where(F.col("_ok")))
        to_enqueue = bad.unionByName(
            gated.withColumn("err", F.lit(None).cast("string"))
        ).drop("_ok")
        return process.drop("offset", "_ok"), to_enqueue

    def _apply(
        self,
        changes: DataFrame,
        batch_id: int,
        t0: float,
        sidecar: DataFrame | None = None,
        commit_info: dict | None = None,
        split: str | None = None,
    ) -> None:
        """Observed MERGE of ``changes``; with ``split`` (a boolean
        column) only its true rows merge and count, and the false rows —
        queue events — land in the commit's sidecar."""
        if self.evolve_on_new_columns:
            known = {f.name for f in self.target.schema.fields}
            skip = {self.type_col, split, "offset", "err"} if split else {
                self.type_col
            }
            extra = [
                f for f in changes.schema.fields
                if f.name not in known and f.name not in skip
            ]
            if extra:
                # idempotent under replay-after-crash: once evolved, the
                # diff is empty and no duplicate event is published
                self.target.evolve(
                    T.StructType(list(self.target.schema.fields) + extra)
                )
        if not self.assume_unique_keys:
            changes = _latest_change_per_key(changes, self.target.key)
        obs = Observation(f"lineage_{batch_id}")
        kept = F.col(split) if split else F.lit(True)

        def n(cond):
            return F.sum((kept & cond).cast("long"))

        aggs = [n(F.lit(True)).alias("rows")] + [
            n(F.col("op") == o).alias(f"{o}s")
            for o in ("insert", "update", "delete")
        ]
        # per-objtype counters: static count_ifs per declared (type,
        # op) pair, riding the same single job — NOT a groupBy (that
        # would be a second aggregation/shuffle) and NOT collect_list
        # (that would ship O(rows) to the driver)
        ops = ("insert", "update", "delete")
        per_type = (
            self.type_names
            if self.type_col is not None
            and self.type_col in changes.columns
            else ()
        )
        for i, t in enumerate(per_type):
            for opname in ops:
                aggs.append(
                    n(
                        (F.col(self.type_col) == t) & (F.col("op") == opname)
                    ).alias(f"bt_{i}_{opname}")
                )
        observed = changes.observe(obs, *aggs)
        committed = self.target.merge(
            changes=observed, batch_id=batch_id, sidecar=sidecar,
            commit_info=commit_info, split=split,
        )
        if committed is not None:
            try:
                got = dict(obs.get)
            except Exception:
                # an all-stale batch writes an EMPTY delta; on a
                # PARTITIONED target the repartition-by-bucket write
                # runs ZERO tasks, the metrics row never materializes,
                # and obs.get raises deep in py4j — the batch applied
                # nothing, so every counter is zero (same guard as the
                # join sink's density observation).  Zero-fill is gated
                # on the delta ACTUALLY being empty where the table can
                # show us (local version dirs): swallowing a real
                # observation failure on a non-empty batch would
                # silently under-report applied work in every metrics
                # surface.
                if self._delta_is_empty(committed) is False:
                    raise
                got = {}
            info = {
                "rows": got.get("rows", 0) or 0,
                "inserts": got.get("inserts", 0) or 0,
                "updates": got.get("updates", 0) or 0,
                "deletes": got.get("deletes", 0) or 0,
                "wall_ms": int((time.monotonic() - t0) * 1000),
            }
            if per_type:
                by_type = {
                    t: {
                        f"{op}s": int(got.get(f"bt_{i}_{op}", 0) or 0)
                        for op in ops
                    }
                    for i, t in enumerate(per_type)
                }
                other = {
                    f"{op}s": int(info[f"{op}s"] or 0)
                    - sum(v[f"{op}s"] for v in by_type.values())
                    for op in ops
                }
                if any(other.values()):
                    by_type["other"] = other
                info["by_type"] = by_type
            self.target.annotate_commit(committed, info)

    # -- metrics surfaces ---------------------------------------------------

    def metrics(self) -> DataFrame:
        """Per-batch op counts + sink wall (from commit-log entries)."""
        rows = []
        for c in self.target._read_commits():
            info = c.get("info")
            if not info or c.get("batch_id") is None:
                continue
            for op in ("inserts", "updates", "deletes"):
                rows.append(
                    (
                        str(c["batch_id"]),
                        op.rstrip("s"),
                        int(info.get(op, 0)),
                        int(info.get("wall_ms", 0)),
                    )
                )
        return self.target.spark.createDataFrame(rows, METRICS_SCHEMA)

    def partition_lineage(self) -> DataFrame:
        """Per (batch, partition, op) row counts, derived from the delta
        snapshot files (one file set per committed batch) — the detailed
        lineage view, computed on demand instead of per trigger."""
        import os

        spark = self.target.spark
        parts = []
        for c in self.target._read_commits():
            if c.get("kind") != "delta" or c.get("batch_id") is None:
                continue
            path = self.target._version_dir(c["version"])
            if not os.path.isdir(path):
                # vacuumed by maintenance — per-partition detail exists
                # only for retained snapshots (aggregate counts survive
                # in the ledger via metrics())
                continue
            d = spark.read.schema(self.target.schema).parquet(path)
            parts.append(
                d.withColumn("partition_id", F.spark_partition_id())
                .groupBy("partition_id", "op")
                .agg(F.count(F.lit(1)).cast("long").alias("rows"))
                .withColumn("batch_id", F.lit(str(c["batch_id"])))
                .select("batch_id", "partition_id", "op", "rows")
            )
        if not parts:
            return empty_frame(spark, PARTITION_METRICS_SCHEMA)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
