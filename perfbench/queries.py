"""The ``batch_queries`` workload: declared ``queries()`` entries.

The corpus is the shipped read-only ``sf0.01`` testdata, copied verbatim
into ``perfbench/data/sf0.01`` (the benchmark reads nothing outside its
checkout).  It is fixed, so ``--seed`` has no effect on this workload.

Set-up starts the session and runs one trivial Python job, so the
Python worker pool exists before timing.  The timed pass then runs each
entry once, in a fresh JVM, collecting its full result into this
process; the same results are checked afterwards, untimed, against each
entry's DuckDB ``oracle_sql()`` on the same parquet files.
"""

from __future__ import annotations

import os
import time

from perfbench.metrics import ALGEBRA, NEAR_DUP
from perfbench.oracle import duckdb_results, frame_digest

SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

# the algebra family first: its short entries take the session's first
# planning and codegen, so the near-dup entries are not charged for them
ORDER = (*ALGEBRA, *NEAR_DUP)


def _warm_python(spark) -> None:
    def ident(batches):
        yield from batches

    spark.range(64, numPartitions=spark.sparkContext.defaultParallelism).mapInPandas(
        ident, "id long"
    ).count()


def run(ctx) -> dict:
    import __spark_entry__ as entry

    spark = ctx.spark
    qs = entry.queries()
    ctx.mark("entries_loaded")
    _warm_python(spark)
    ctx.mark_setup_done()

    walls: dict[str, float] = {}
    outputs = {}
    errors: dict[str, str] = {}
    w0 = time.time()
    for name in ORDER:
        t0 = time.perf_counter()
        try:
            if ctx.tracer is not None:
                with ctx.tracer.span(f"query.{name}"):
                    outputs[name] = qs[name](spark, SF_DIR).toPandas()
            else:
                outputs[name] = qs[name](spark, SF_DIR).toPandas()
        except Exception as e:  # a failing entry is reported, not fatal
            errors[name] = f"{type(e).__name__}: {str(e)[:200]}"
        walls[name] = time.perf_counter() - t0
    windows = [(w0, time.time())]
    ctx.mark_timed_done()

    # -- checks (untimed) --------------------------------------------------
    oracles = entry.oracle_sql()
    expected = duckdb_results(SF_DIR, {n: oracles[n] for n in outputs})
    mismatched = sorted(
        n for n in outputs if frame_digest(outputs[n]) != frame_digest(expected[n])
    )
    counters = candidate_counters(spark, entry) if ctx.tracer is not None else {}
    return {
        "walls": walls,
        "windows": windows,
        "errors": errors,
        "mismatched": mismatched,
        "rows": {n: len(df) for n, df in outputs.items()},
        "counters": counters,
        "ops": {"attempted": len(ORDER), "failed": len(errors) + len(mismatched)},
    }


def candidate_counters(spark, entry) -> dict[str, float]:
    """Candidate and pair volumes of the near-dup kernels on the same
    corpus (traced run only, untimed): how much work each bucketed join
    generates, and how much of it survives verification."""
    from pyspark.sql import functions as F

    from hermes_spark.functions.dedup import (
        minhash_dedup_pairs,
        simhash,
        simhash_near_pairs,
    )
    from hermes_spark.functions.similarity import cosine_neardup_pairs

    both = entry._docs_plus_noisy(spark, SF_DIR)
    mdf = entry.MAX_DOC_FREQ
    out = {
        "dedup.minhash_candidates": minhash_dedup_pairs(
            both, verify_threshold=None, max_doc_freq=mdf
        ).count(),
        "dedup.minhash_pairs": minhash_dedup_pairs(
            both, verify_threshold=0.8, max_doc_freq=mdf
        ).count(),
    }
    sig = simhash(both).persist()
    try:
        # max_hamming=64 makes the popcount filter vacuous: the pure
        # band-join candidate volume
        out["dedup.simhash_band_candidates"] = simhash_near_pairs(
            sig, max_hamming=64
        ).count()
        out["dedup.simhash_pairs"] = simhash_near_pairs(sig).count()
    finally:
        sig.unpersist()
    emb = entry._t(spark, SF_DIR, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    twins = emb.select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        entry._twin(F.col("embedding")).alias("embedding"),
    )
    eboth = emb.unionByName(twins)
    # threshold=-1 keeps every candidate the bucket join generates
    out["similarity.embed_lsh_candidates"] = cosine_neardup_pairs(
        eboth, dim=64, threshold=-1.0, n_planes=12
    ).count()
    out["similarity.embed_pairs"] = cosine_neardup_pairs(
        eboth, dim=64, threshold=0.999, n_planes=12
    ).count()
    return {k: float(v) for k, v in out.items()}
