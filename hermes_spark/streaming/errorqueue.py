"""Dead-letter queue with per-key ordering, FK dependency blocking and
enqueue-time compaction — the reference's error-queue machinery
(/root/reference/clients/errorqueue.py) as table operations.

Model: failed change events land in a dead-letter table
(key..., offset, op, payload..., err, step, partially_processed).
Retry passes drain it in dependency order:

  1. candidates = oldest event per key (W3, errorqueue.py:611-641)
     minus keys that are FK-parents of other errored keys
     (errorqueue.py:700-711);
  2. the caller's apply function processes candidates; successes are
     removed, failures stay with an updated error;
  3. repeat while progress is made (the reference's multi-pass drain,
     clients/__init__.py:741-753).

Enqueue-time autoremediation (``enqueue``): events for a key already
in the queue are compacted with the queued ones (first/last-state
truth table, as ``compact_events``, or the full field-level
``_mergeEvents`` fold, errorqueue.py:187-417).

Enqueue-time FK policy (``foreignkeys_policy``, reference
clients/__init__.py:133-141): ``gate_incoming`` diverts an incoming
event up-front when its key is queued (per-key FIFO) or its object is
the FK-parent of a queued one and its op is in the policy set —
``disabled`` (never), ``on_remove_event`` (deletes), ``on_every_event``.

Scale: queue writes are MERGE *deltas* keyed on (key..., offset) —
O(affected keys) per enqueue/resolve.  The table's own ``op`` column is
the *event* op, so the MERGE uses a separate ``_qop`` channel for
upsert/delete-row semantics.  A drain that moved rows hands the rows
it left to ``maintain()``, which rewrites them as the one base.

Cost model — every operation reads its inputs once, in a fixed number
of Spark jobs (adaptive execution runs each shuffle stage as a job):
``enqueue`` ≤ 3 jobs into an empty queue (a never-written table reads
as a task-free empty relation), ≤ 4 otherwise (one queue fold, one
keyed pass, one write); ``gate_incoming`` runs none itself, and either
side of its split materializes in ≤ 4; one ``drain`` pass through
``pipeline.drain_queue`` — validate, apply, resolve, compact — ≤ 15,
folding the queue once.  Pinned by ``tests/test_error_path_jobs.py``.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hermes_spark.operators.compaction import compacted_op
from hermes_spark.operators.eventmerge import (
    by_offset, finalize_fold, fold_state,
)
from hermes_spark.operators.ordering import unblocked_retry_candidates
from hermes_spark.tables import ParquetMergeTable

# policy name → ops diverted to the queue when the object is an
# FK-parent of an errored object (both reference and CDC vocabularies)
FOREIGNKEYS_POLICIES: dict[str, tuple[str, ...]] = {
    "disabled": (),
    "on_remove_event": ("removed", "delete"),
    "on_every_event": (
        "added", "modified", "removed", "insert", "update", "delete"
    ),
}


class DeadLetterQueue:
    def __init__(
        self,
        spark,
        path: str,
        key: Sequence[str],
        payload_schema: T.StructType,
        fk_map: Sequence[tuple[str, str]] | None = None,
        foreignkeys_policy: str = "disabled",
    ) -> None:
        if foreignkeys_policy not in FOREIGNKEYS_POLICIES:
            raise ValueError(
                f"unknown foreignkeys_policy {foreignkeys_policy!r}; "
                f"one of {sorted(FOREIGNKEYS_POLICIES)}"
            )
        self.key = list(key)
        self.fk_map = list(fk_map or [])
        self.foreignkeys_policy = foreignkeys_policy
        fields = (
            list(payload_schema.fields)
            + [
                T.StructField("offset", T.LongType(), False),
                T.StructField("op", T.StringType(), False),
                T.StructField("err", T.StringType(), True),
                T.StructField("step", T.IntegerType(), True),
                T.StructField("partially_processed", T.BooleanType(), True),
            ]
        )
        # the queue table never self-compacts: see drain/maintain
        self.table = ParquetMergeTable(
            spark, path, key=self.key + ["offset"],
            schema=T.StructType(fields), compact_every=None,
        )
        self.spark = spark
        # driver-side emptiness hint (None = unknown).  A healthy
        # stream's queue is EMPTY, and gating against an empty queue is
        # a provable no-op — the sink skips the whole gating plan then
        # (the reference client only consults a non-empty queue,
        # clients/__init__.py:1020).  Never wrongly True: enqueue()
        # latches it False; True comes only from a never-written
        # table, a measured empty read, or a drain that left no rows.
        self._empty_hint: bool | None = None

    def known_empty(self) -> bool:
        """True iff the queue is provably empty right now.  Zero Spark
        jobs for a never-written queue; one cached isEmpty() probe the
        first time an existing queue is opened."""
        if self._empty_hint is None:
            if not self.table._read_commits():
                self._empty_hint = True
            else:
                self._empty_hint = self.read().isEmpty()
        return self._empty_hint

    @property
    def _fields(self) -> list[str]:
        return [f.name for f in self.table.schema.fields]

    def _conform(self, df: DataFrame) -> DataFrame:
        """Fill optional metadata columns absent from the caller's
        frame (err/step/partially_processed are part of the queue
        schema but not every producer carries them)."""
        return df.select(*[
            (F.col(f.name) if f.name in df.columns else F.lit(None))
            .cast(f.dataType).alias(f.name)
            for f in self.table.schema.fields
        ])

    def _deletes_for(self, rows: DataFrame) -> DataFrame:
        """The MERGE-channel tombstones that remove these queue rows."""
        return rows.select(*self._fields, F.lit("delete").alias("_qop"))

    def read(self) -> DataFrame:
        # the queue's own `op` is the EVENT op; row liveness rides the
        # out-of-schema `_qop` channel recorded per delta
        return self.table.read(op_col="_qop")

    def maintain(self, rows: DataFrame | None = None) -> None:
        """Queue compaction (``rows``, default the folded queue, become
        the one-file base) plus snapshot GC.  Not ``table.compact()``:
        that folds liveness through the schema's ``op`` column, which
        here is the EVENT op — a queued delete-event must survive."""
        self.table.overwrite(
            (self.read() if rows is None else rows).coalesce(1)
        )
        self.table.vacuum(retain_superseded=1)

    # -- enqueue-time FK policy ----------------------------------------

    def gate_incoming(
        self, events: DataFrame, op_col: str = "op", order_col: str = "offset"
    ) -> tuple[DataFrame, DataFrame]:
        """Split an incoming event batch into (process_now, enqueue).

        An event is diverted to the queue when its key already has
        queued events (per-key FIFO — processing it would reorder), or
        when its object is the FK-parent of an errored object and its
        op is in the ``foreignkeys_policy`` set (reference
        clients/__init__.py:133-141, :1020, :1153).  Order-faithful
        within the batch: from a key's FIRST diverted event onward,
        all its later events divert too (in the reference they would
        find the key queued); earlier ones process normally."""
        cur = self.read()
        # per-key gate threshold = offset of the first diverted event;
        # a key already queued gates all its events
        thr = cur.select(*self.key).distinct().withColumn(
            "_thr", F.lit(-(1 << 62)).cast("long")
        )
        kinds = FOREIGNKEYS_POLICIES[self.foreignkeys_policy]
        if kinds and self.fk_map:
            refs = cur.select(
                *[F.col(c).alias(f"__q_{c}") for _p, c in self.fk_map]
            ).distinct()
            cond = [
                F.col(p).eqNullSafe(F.col(f"__q_{c}")) for p, c in self.fk_map
            ]
            parent_hits = (
                events.where(F.col(op_col).isin(list(kinds)))
                .join(refs, cond, "left_semi")
                .groupBy(*self.key)
                .agg(F.min(order_col).cast("long").alias("_thr"))
            )
            thr = thr.unionByName(parent_hits).groupBy(*self.key).agg(
                F.min("_thr").alias("_thr")
            )
        ev = events.join(thr, self.key, "left")
        gate = F.col("_thr").isNotNull() & (
            F.col(order_col).cast("long") >= F.col("_thr")
        )
        enqueue = ev.where(gate).drop("_thr")
        process = ev.where(~F.coalesce(gate, F.lit(False))).drop("_thr")
        return process, enqueue

    # -- writes (MERGE deltas, O(affected); a drain also rebases) ---------

    def enqueue(
        self,
        failed: DataFrame,
        autoremediate: bool = True,
        field_level: bool = False,
        prior: DataFrame | None = None,
        batch_id: int | str | None = None,
    ) -> None:
        """Append failed events; when a key already has queued events,
        compact the key's whole run to one effective event.

        ``field_level=True`` applies the reference's FULL ``_mergeEvents``
        semantics (errorqueue.py:187-417) instead of the op truth table:
        the payload carries the map columns (attrs, added, modified,
        removed), and ``prior`` (key → cached flat attrs map) finalizes
        removed+added runs into modified-diff events like the
        reference's cache read.  Keys with a partially-processed event
        pass through uncompacted (errorqueue.py:437-460); the newest
        error text + step survive the fold (errorqueue.py:463-501).

        One ``groupBy(key)`` over (queue ∪ failed) folds each touched
        key's offset-ordered run and emits, in the same pass, its
        surviving event and tombstones for the queue rows it replaces."""
        fields = self._fields
        failed = self._conform(failed)
        if not autoremediate:
            self.table.merge(
                failed.withColumn("_qop", F.lit("put")).repartition(1),
                batch_id=batch_id, op_col="_qop",
            )
            self._empty_hint = False
            return

        def entries(df: DataFrame, queued: bool) -> DataFrame:
            return df.select(*self.key, F.struct(
                F.col("offset").alias("off"), F.struct(*fields).alias("r"),
                F.lit(queued).alias("q"),
            ).alias("e"))

        g = (
            entries(self.read(), True).unionByName(entries(failed, False))
            .groupBy(*self.key)
            .agg(F.array_sort(F.collect_list("e"), by_offset).alias("run"))
            .where(F.exists("run", lambda x: ~x["q"]))  # touched keys only
        )
        run = F.col("run")
        last = F.get(run, F.size(run) - 1)

        def newest(c: str) -> Column:
            # the newest NON-NULL value: gated events carry err=NULL,
            # step=NULL — they must not wipe the retry metadata
            hits = F.filter(run, lambda x: x["r"][c].isNotNull())
            return F.get(hits, F.size(hits) - 1)["r"][c]

        fold = {"err": newest("err"), "step": newest("step")}
        if field_level:
            g = g.withColumn("_s", fold_state(
                F.transform(run, lambda x: x["r"]), fields
            ))
            if prior is not None:
                g = g.join(prior.select(
                    *self.key, F.col("attrs").alias("_prior")
                ), self.key, "left")
            out = finalize_fold(
                F.col("_s"), F.col("_prior") if prior is not None else None
            )
            fold.update({c: out[c] for c in out if c in fields})
            fold["partially_processed"] = F.lit(False)
        else:
            fold["op"] = compacted_op(run[0]["r"]["op"], last["r"]["op"])
        survivor, op = last["r"], fold["op"]
        for c, v in fold.items():
            survivor = survivor.withField(c, v)

        def qop(r: Column, kind: str) -> Column:
            return F.struct(r.alias("r"), F.lit(kind).alias("_qop"))

        # a key holding a partially-processed event is not compacted:
        # its new events are put as they are.  Any other key puts its
        # survivor (none if the run annihilates) and tombstones every
        # queued row the survivor does not overwrite.
        pp = F.exists(run, lambda x: F.coalesce(
            x["r"]["partially_processed"], F.lit(False)
        ))
        emit = F.when(pp, F.transform(
            F.filter(run, lambda x: ~x["q"]), lambda x: qop(x["r"], "put")
        )).otherwise(F.concat(
            F.filter(F.array(qop(survivor, "put")), lambda _: op.isNotNull()),
            F.transform(F.filter(run, lambda x: x["q"] & (
                op.isNull() | (x["off"] != last["off"])
            )), lambda x: qop(x["r"], "delete")),
        ))
        changes = g.select(F.explode(emit).alias("x")).select("x.r.*", "x._qop")
        # one file per queue delta (an un-repartitioned write emits one
        # per PLAN partition: queue disk would grow with shuffle width);
        # repartition, not coalesce, keeps the fold itself parallel
        self.table.merge(
            changes.repartition(1), batch_id=batch_id, op_col="_qop"
        )
        self._empty_hint = False

    def retry_candidates(self, queue: DataFrame | None = None) -> DataFrame:
        return unblocked_retry_candidates(
            self.read() if queue is None else queue, self.key,
            parent_key_of=self.fk_map or None, order_col="offset",
        )

    def resolve(
        self, succeeded_keys: DataFrame, batch_id: int | str | None = None,
        queue: DataFrame | None = None,
    ) -> None:
        """Remove events whose key succeeded — one MERGE delta of
        tombstones, O(affected), in one file.  ``queue``: a persisted
        ``read()`` to take them from."""
        gone = (self.read() if queue is None else queue).join(
            succeeded_keys, self.key, "left_semi"
        )
        self.table.merge(
            self._deletes_for(gone).coalesce(1),
            batch_id=batch_id, op_col="_qop",
        )
        self._empty_hint = None  # only removed rows — may now be empty

    def drain(
        self,
        apply_fn: Callable[[DataFrame], DataFrame],
        max_passes: int = 10,
    ) -> int:
        """Multi-pass dependency-ordered drain: each pass retries the
        unblocked head of every key; ``apply_fn`` returns the key rows
        that succeeded.  Stops when a pass makes no progress (which
        also covers the empty queue) or empties the queue.  A pass
        folds the queue once (persisted): candidates, tombstones and
        the rows left all come from that fold.  When a pass moved rows,
        the rows left then become the queue's new base (no re-fold) and
        superseded snapshots expire — an idle queue never rewrites
        itself.  Returns rows remaining."""
        held: list[DataFrame] = []
        left = None  # rows left after the last pass that moved some
        try:
            for _ in range(max_passes):
                queue = rest = self.read().persist()
                held.append(queue)
                ok = apply_fn(self.retry_candidates(queue)).select(*self.key)
                if ok.isEmpty():
                    break
                self.resolve(ok, queue=queue)
                rest = queue.join(ok, self.key, "left_anti").persist()
                held.append(rest)
                left = rest.count()
                if left == 0:
                    break
            if left is not None:
                self.maintain(rest)
        finally:
            for df in held:
                df.unpersist()
        if left is None:
            # no pass moved anything: count afresh (``apply_fn`` may
            # have re-enqueued its failures with a new error)
            left = self.read().count()
        self._empty_hint = left == 0
        return left
