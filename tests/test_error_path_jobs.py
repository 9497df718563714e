"""Error-path cost model: each error-queue operation runs a small, fixed
number of Spark jobs over inputs materialized once (see the
``streaming.errorqueue`` module docstring), and a never-written table
reads as a task-free empty relation."""

from __future__ import annotations

import uuid
from contextlib import contextmanager

from pyspark.sql import functions as F
from pyspark.sql import types as T

from hermes_spark.schema import CHANGE_EVENT_SCHEMA
from hermes_spark.streaming.errorqueue import DeadLetterQueue
from hermes_spark.streaming.pipeline import drain_queue
from hermes_spark.streaming.sink import ExactlyOnceSink
from hermes_spark.tables import ParquetMergeTable

KEY = ["conv_id", "turn_idx"]
PAYLOAD = T.StructType([f for f in CHANGE_EVENT_SCHEMA.fields if f.name != "op"])
# the documented bounds (``streaming.errorqueue`` module docstring)
GATE_JOBS = 4
DRAIN_JOBS = 15


@contextmanager
def spark_jobs(spark):
    """Counts the Spark jobs the body submits (job group + status
    tracker); the count lands in the yielded list on exit."""
    sc = spark.sparkContext
    group = f"budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job budget")
    out: list[int] = []
    try:
        yield out
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        out.append(len(sc.statusTracker().getJobIdsForGroup(group)))


def _events(spark, lo: int, hi: int, op: str = "insert"):
    """Queue-shaped failed events for keys (c<i>, 0), built JVM-side."""
    return spark.range(lo, hi).select(
        F.concat(F.lit("c"), F.col("id").cast("string")).alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.lit(op).alias("op"),
        F.lit("user").alias("role"),
        F.concat(F.lit("text "), F.col("id").cast("string")).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        (F.lit(1_700_000_000) + F.col("id")).cast("timestamp").alias("ts"),
        F.lit("x").alias("cksum"),
        (F.lit(1_700_000_000_000_000) + F.col("id") * 1_000_000).alias("offset"),
        F.lit("validation failed").alias("err"),
    )


def test_never_written_table_reads_without_python_tasks(spark, tmp_work):
    t = ParquetMergeTable(
        spark, f"{tmp_work}/t", key=KEY, schema=CHANGE_EVENT_SCHEMA,
        compact_every=None,
    )
    df = t.read()
    # exact schema, nullability included (conv_id/turn_idx are NOT NULL)
    assert df.schema == t.schema
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    with spark_jobs(spark) as n:
        assert df.collect() == [] and df.count() == 0
    assert n[0] <= 1  # at most a JVM count over zero rows
    # joins against it fold away at planning time
    joined = _events(spark, 0, 3).join(df.select(*KEY), KEY, "left_semi")
    assert joined._jdf.queryExecution().optimizedPlan().toString().count(
        "LocalRelation"
    ) == 1


def test_error_path_job_budget(spark, tmp_work):
    dlq = DeadLetterQueue(
        spark, f"{tmp_work}/dlq", key=KEY, payload_schema=PAYLOAD
    )
    # jobs under adaptive execution: one per shuffle stage, one per write
    # enqueue into an empty queue: the keyed fold and the one-file write
    with spark_jobs(spark) as n:
        dlq.enqueue(_events(spark, 0, 20), batch_id="e0")
    assert n[0] <= 3
    # enqueue into a non-empty queue (10 keys already queued): plus the
    # queue's own fold, nothing else
    with spark_jobs(spark) as n:
        dlq.enqueue(_events(spark, 10, 30, op="update"), batch_id="e1")
    assert n[0] <= 4
    q = {(r.conv_id, r.op) for r in dlq.read().collect()}
    assert len(q) == 30 and ("c15", "insert") in q and ("c25", "update") in q

    # gate_incoming is a plan: the call runs no job, and either side of
    # its split materializes in one pass over the queue fold
    with spark_jobs(spark) as n:
        process, gated = dlq.gate_incoming(_events(spark, 25, 45, op="update"))
    assert n[0] == 0
    with spark_jobs(spark) as n:
        assert sorted(r.conv_id for r in gated.collect()) == [
            f"c{i}" for i in range(25, 30)
        ]
    assert n[0] <= GATE_JOBS
    with spark_jobs(spark) as n:
        assert len(process.collect()) == 15
    assert n[0] <= GATE_JOBS

    # one drain pass through the pipeline's drain (validate, apply under
    # a content-stable id, resolve, compact): the queue is folded once
    target = ParquetMergeTable(
        spark, f"{tmp_work}/target", key=KEY, schema=CHANGE_EVENT_SCHEMA,
        compact_every=None,
    )
    sink = ExactlyOnceSink(target, dlq=dlq)
    fields = [f.name for f in CHANGE_EVENT_SCHEMA.fields]
    with spark_jobs(spark) as n:
        left = drain_queue(dlq, sink, None, fields, tag="t", max_passes=1)
    assert left == 0 and target.read().count() == 30
    assert n[0] <= DRAIN_JOBS
    assert dlq.read().count() == 0 and dlq.known_empty()
