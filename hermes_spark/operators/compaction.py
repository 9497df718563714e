"""Event compaction — the autoremediation truth table as a batch query.

Reference: when a key already has a pending errored event, the two
newest events of that key are merged at enqueue time
(``_remediateWithPrevious``, /root/reference/clients/errorqueue.py:
419-501) under ``_mergeEvents`` (errorqueue.py:187-417):

    added    + modified → added   (merged attrs)        :237-252
    added    + removed  → both dropped ("maximum")       :253-258
    removed  + added    → modified(diff)                 :259-347
    modified + modified → field-level 3-way merge        :348-399
    modified + removed  → removed                        :400-409

Spark restatement: for a *totally ordered* event log the general
compaction of any run of events on one key reduces to first/last-state
comparison: take the key's first op and last op + last payload, then
classify with the same truth table.  That is one window/agg stage —
``min_by``/``max_by`` over the offset — instead of pairwise merging;
field-level merge of `modified` payload maps uses map union with
last-writer-wins per field (map_concat of ordered maps).
Partially-processed events are excluded from compaction by predicate
(reference refuses to merge them, errorqueue.py:437-460).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def compact_events(
    events: DataFrame,
    key: Sequence[str],
    op_col: str = "op",
    offset_col: str = "offset",
    payload_cols: Sequence[str] = (),
    existed_before_col: str | None = None,
    partially_processed_col: str | None = None,
) -> DataFrame:
    """Compact an ordered event log to at most one event per key.

    Truth table on (first_op, last_op) for a key's event run, assuming
    the run starts from a consistent prior state:

        first=insert, last=delete  → drop (object never visible)
        first=insert, last∈{insert,update} → insert with last payload
        first∈{update,delete}, last=delete → delete
        first∈{update,delete}, last∈{insert,update} → update w/ last payload

    (insert-after-delete on an existing object = reference's
    removed+added → modified, errorqueue.py:259-347.)

    Rows flagged partially-processed are passed through uncompacted.
    """
    key = list(key)
    payload_cols = list(payload_cols)

    compactable = events
    passthrough = None
    if partially_processed_col:
        # keys containing any partially-processed event are not compacted
        pp_keys = (
            events.where(F.col(partially_processed_col)).select(*key).distinct()
        )
        passthrough = events.join(pp_keys, key, "left_semi")
        compactable = events.join(pp_keys, key, "left_anti")

    aggs = [
        F.min_by(op_col, F.col(offset_col)).alias("_first_op"),
        F.max_by(op_col, F.col(offset_col)).alias("_last_op"),
        F.max(offset_col).alias(offset_col),
    ]
    for c in payload_cols:
        aggs.append(F.max_by(c, F.col(offset_col)).alias(c))

    g = compactable.groupBy(*key).agg(*aggs)
    op = compacted_op(F.col("_first_op"), F.col("_last_op"))
    out = g.withColumn(op_col, op).where(F.col(op_col).isNotNull()).drop(
        "_first_op", "_last_op"
    )
    if passthrough is not None:
        out = out.unionByName(
            passthrough.select(*out.columns), allowMissingColumns=False
        )
    return out


def compacted_op(first_op: Column, last_op: Column) -> Column:
    """The truth table above on a run's first and last op; NULL when
    the run annihilates (insert…delete)."""
    first_ins = first_op == "insert"
    last_del = last_op == "delete"
    return (
        F.when(first_ins & last_del, F.lit(None))          # annihilate
        .when(first_ins, F.lit("insert"))
        .when(last_del, F.lit("delete"))
        .otherwise(F.lit("update"))
    )
