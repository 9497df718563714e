"""From a workload's raw result to the reported figures.

``cdc_summary`` / ``batch_summary`` give the end-to-end values and the
per-phase figures of an untraced run; ``per_layer`` folds a traced run's
spans, trigger progress and event log into the ``PER_LAYER`` metrics.
"""

from __future__ import annotations

import json
import os

from perfbench.metrics import (
    ALGEBRA,
    END_TO_END,
    NEAR_DUP,
    PER_LAYER,
    geomean,
    median,
    metric,
    percentile,
    tail_percentile,
)

MB = float(1 << 20)


def _fig(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _rate(turns: int, wall_s: float) -> float:
    return turns / wall_s if wall_s > 0 else 0.0


def cdc_summary(res: dict) -> dict:
    ph = res["phases"]
    churn_ms = ph["churn"].trigger_ms
    tail = tail_percentile(churn_ms)
    err = [ph["poison"], ph["heal"]]
    figures = {
        "load_turns_per_s": _fig(_rate(ph["load"].turns, ph["load"].wall_s), "turns/s"),
        "churn_turns_per_s": _fig(_rate(ph["churn"].turns, ph["churn"].wall_s), "turns/s"),
        "trigger_ms_p50": _fig(median(churn_ms) if churn_ms else None, "ms"),
        "trigger_ms_tail": _fig(
            percentile(churn_ms, tail) if tail else None,
            f"ms (p{tail})" if tail else "ms (no percentile above the median "
            "has ten samples beyond it)",
        ),
        "churn_trigger_samples": _fig(len(churn_ms), "count"),
        "poison_trigger_ms_p50": _fig(
            median(ph["poison"].trigger_ms) if ph["poison"].trigger_ms else None, "ms"
        ),
        # the error phase's turns over its triggers plus the heal
        "turns_per_s": _fig(
            _rate(ph["poison"].turns, sum(p.wall_s for p in err)), "turns/s"
        ),
        "heal_s": _fig(ph["heal"].wall_s, "s"),
        "phase_wall_s": _fig({n: p.wall_s for n, p in ph.items()}, "s"),
        "trigger_ms": _fig({n: p.trigger_ms for n, p in ph.items() if p.trigger_ms}, "ms"),
    }
    return {
        # no churn sample only when every churn trigger failed its check
        "op_ms": median(churn_ms) if churn_ms else 0.0,
        "work_s": sum(p.wall_s for p in res["timed_phases"]),
        "figures": figures,
        "checks": res["checks"],
        "sizes": res["sizes"],
    }


def batch_summary(res: dict) -> dict:
    import pyarrow.parquet as pq

    from perfbench.queries import SF_DIR

    walls = res["walls"]
    figures = {
        "dedup_s": _fig(sum(walls[n] for n in NEAR_DUP), "s"),
        "algebra_s": _fig(sum(walls[n] for n in ALGEBRA), "s"),
        "entry_s": _fig(dict(walls), "s"),
    }
    corpus = {
        name[: -len(".parquet")]: pq.ParquetFile(os.path.join(SF_DIR, name)).metadata.num_rows
        for name in sorted(os.listdir(SF_DIR))
        if name.endswith(".parquet")
    }
    return {
        # the entries differ ~10x in cost, so their median jumps between
        # neighbouring entries from run to run; the geometric mean weighs
        # every entry alike and is about twice as steady
        "op_ms": geomean(walls.values()) * 1000.0,
        "work_s": sum(walls.values()),
        "figures": figures,
        "checks": {
            "mismatched": res["mismatched"],
            "errors": res["errors"],
            "rows": res["rows"],
            "seed_effect": "none: the corpus is fixed",
        },
        "sizes": {"corpus_rows": corpus},
    }


def end_to_end(setup_s: float, summary: dict) -> dict:
    """The untraced run's metrics, named and united as declared."""
    values = {"setup_s": setup_s, **{k: summary[k] for k in ("op_ms", "work_s")}}
    return {k: metric(values[k], END_TO_END[k]) for k in END_TO_END}


def tracing_overhead(results_path: str, tree: str, seconds: int, traced_work_s: float) -> dict:
    """The traced run's ``work_s`` against the median ``work_s`` of the
    untraced runs recorded in this checkout for the same source tree and
    ``--seconds``.  Without such a run the overhead is reported missing
    (None), not 0."""
    xs = []
    if os.path.exists(results_path):
        with open(results_path) as f:
            for line in f:
                r = json.loads(line) if line.strip() else {}
                if r.get("tree") == tree and r.get("seconds") == seconds:
                    xs.append(r["work_s"])
    base = median(xs) if xs else None
    return {
        "traced_work_s": traced_work_s,
        "untraced_work_s": base,
        "untraced_runs": len(xs),
        "overhead_frac": traced_work_s / base - 1.0 if base else None,
        "baseline": "median work_s of the untraced runs recorded in this "
        "checkout for the same source tree and --seconds; None when there "
        "is none",
    }


def per_layer(workload, res, spans, n_spans, listener, work, work_s) -> dict:
    """``spans``: per-name totals of the spans in the timed region."""
    from perfbench.tracing import eventlog_totals

    v = {k: 0.0 for k in PER_LAYER}

    def span_ms(name: str, key: str = "total") -> float:
        return spans.get(name, {}).get(key, 0.0) * 1000.0

    if workload == "cdc_stream":
        windows = [w for p in res["timed_phases"] for w in p.windows]
        _cdc_layers(v, res, listener, span_ms, spans)
    else:
        windows = res["windows"]
        for q in (*NEAR_DUP, *ALGEBRA):
            v[f"query.{q}_s"] = span_ms(f"query.{q}") / 1000.0
        v.update(res["counters"])
        if v["dedup.minhash_candidates"]:
            v["dedup.minhash_yield"] = v["dedup.minhash_pairs"] / v["dedup.minhash_candidates"]
        if v["similarity.embed_lsh_candidates"]:
            v["similarity.embed_yield"] = (
                v["similarity.embed_pairs"] / v["similarity.embed_lsh_candidates"]
            )

    ev = eventlog_totals(os.path.join(work, "eventlog"), windows)
    v["spark.jobs"] = ev["jobs"]
    v["spark.tasks"] = ev["tasks"]
    v["spark.task_run_s"] = ev["run_ms"] / 1000.0
    v["spark.task_cpu_s"] = ev["cpu_ns"] / 1e9
    v["spark.gc_s"] = ev["gc_ms"] / 1000.0
    v["spark.shuffle_write_mb"] = ev["sh_write"] / MB
    v["spark.shuffle_read_mb"] = ev["sh_read"] / MB
    v["spark.spill_mb"] = ev["spill"] / MB
    v["spark.driver_idle_s"] = ev["driver_idle_ms"] / 1000.0
    if workload == "cdc_stream":
        v["cdc.python_mb"] = ev["python_bytes"] / MB

    v["trace.spans"] = n_spans
    v["trace.work_s"] = work_s
    return {k: float(x) for k, x in v.items()}


# RocksDB state-store custom metrics: loading the state version a
# trigger starts from, and writing the trigger's changelog at commit
_LOAD_METRIC = "rocksdbLoadLatencyMs"
_CHANGELOG_METRIC = "rocksdbChangeLogWriterCommitLatencyMs"


def _cdc_layers(v, res, listener, span_ms, spans) -> None:
    query_id = res["progress"][0]["id"]
    timed_ids = {b for p in res["timed_phases"] for b in p.batch_ids}
    churn_ids = set(res["phases"]["churn"].batch_ids)
    # the listener saw every trigger; keep the timed ones of this query
    prog = [
        p for p in listener.progress
        if p["id"] == query_id and p["batchId"] in timed_ids
        and p.get("numInputRows", 0) > 0
    ]
    churn = [p for p in prog if p["batchId"] in churn_ids]

    def dur(p, *keys):
        d = p.get("durationMs") or {}
        return sum(float(d.get(k, 0)) for k in keys)

    def state(p):
        return (p.get("stateOperators") or [{}])[0]

    v["pipeline.triggers"] = len(prog)
    v["pipeline.input_rows"] = sum(p["numInputRows"] for p in prog)
    v["pipeline.offsets_ms"] = sum(
        dur(p, "latestOffset", "getBatch", "walCommit", "commitOffsets") for p in prog
    )
    v["pipeline.planning_ms"] = sum(dur(p, "queryPlanning") for p in prog)
    v["pipeline.add_batch_ms"] = sum(dur(p, "addBatch") for p in prog)

    if prog:
        v["cdc.state_rows_total"] = state(prog[-1]).get("numRowsTotal", 0)
        v["cdc.state_memory_mb"] = max(state(p).get("memoryUsedBytes", 0) for p in prog) / MB
    if churn:
        upd = [state(p).get("numRowsUpdated", 0) for p in churn]
        tot = [max(1, state(p).get("numRowsTotal", 0)) for p in churn]
        v["cdc.state_rows_updated"] = median(upd)
        v["cdc.state_updated_frac"] = median([u / t for u, t in zip(upd, tot)])
    for p in prog:
        st = state(p)
        custom = st.get("customMetrics") or {}
        v["cdc.state_commit_ms"] += st.get("commitTimeMs", 0)
        v["cdc.state_load_ms"] += custom.get(_LOAD_METRIC, 0)
        v["cdc.changelog_commit_ms"] += custom.get(_CHANGELOG_METRIC, 0)
    f = res["facts"]
    v["cdc.state_disk_mb"] = f["state_bytes"] / MB

    v["sink.call_ms"] = span_ms("sink")
    v["sink.self_ms"] = span_ms("sink", "self")
    for k in ("inserts", "updates", "deletes"):
        v[f"sink.{k}"] = f["ledger"][k]

    v["tables.merge_ms"] = span_ms("tables.merge")
    v["tables.compact_ms"] = span_ms("tables.compact_deltas")
    v["tables.vacuum_ms"] = span_ms("tables.vacuum")
    v["tables.commits"] = f["versions"]
    v["tables.files"] = f["target_files"]
    v["tables.disk_mb"] = f["target_bytes"] / MB
    v["tables.bytes_per_live_row"] = f["target_bytes"] / max(1, f["live_rows"])

    v["dlq.gate_ms"] = span_ms("dlq.gate_incoming")
    v["dlq.enqueue_ms"] = span_ms("dlq.enqueue")
    v["dlq.drain_ms"] = span_ms("dlq.drain")
    v["dlq.enqueues"] = spans.get("dlq.enqueue", {}).get("n", 0)
    v["dlq.depth_before_heal"] = res["checks"]["queue_before_heal"]
    v["dlq.depth_after_heal"] = res["checks"]["queue_after_heal"]
