"""The ``cdc_stream`` workload: the production pipeline, healthy, then
hit by bad input and healed.

The pipeline is built by ``hermes_spark.config.build_pipeline`` with the
shipped defaults and the ``examples/pipeline.yml`` validator and
cadences (``length(text) <= 4096``, ``retry_every: 4``,
``maintain_every: 8``, status listener attached).  The loop is closed,
like Hermes's poll cycle: the next file is published only after the
previous trigger committed (``processAllAvailable``).  Phases, in one
arrival-ordered stream:

* **bootstrap** (set-up, untimed): the first load trigger, which also
  warms the JVM and the Python workers;
* **load** (timed): the next big trigger — bulk ingest, where the
  classifier's Arrow/pandas work and the merge writes dominate;
* **churn** (timed): one small trigger per file over the loaded state —
  the per-trigger floor and the state-store rewrite dominate.  The
  error queue is empty, so the sink keeps its one-job fast path;
* **poison** (timed): one churn part cut in two triggers.  The first
  carries only the turns of ~1% of the conversations, with over-long
  texts, which fail the validator and are queued; the second, the rest
  of the part, meets the non-empty queue, so the sink takes its
  persisted-split slow path and gates every row against the queue
  (per-key FIFO);
* **heal** (timed): the operator's fix — rebuild the pipeline from the
  config with the limit raised, and run one drain (``retry_queue``).

Checked afterwards, untimed: the target equals the last-writer oracle
over everything delivered, the queue was not empty before the heal and
is empty after it, and every trigger read exactly its file.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

from perfbench.load import TEXT_LIMIT, Stream, StreamShape, generate, poison, publish, stage
from perfbench.oracle import last_writer, target_mismatches
from perfbench.tracing import count_files, dir_bytes, instrument_pipeline

VALIDATOR = f"coalesce(length(text) <= {TEXT_LIMIT}, true)"  # the shipped example's
HEALED = f"coalesce(length(text) <= {16 * TEXT_LIMIT}, true)"  # the operator's fix

# ~37k turns delivered in equal parts, in arrival order: a 2-part
# bootstrap trigger, a 10-part load trigger, one trigger per churn part
# (~2k turns with their re-deliveries) and one part for the two error
# triggers —
# the load/churn shape of a 1M-turn probe, scaled so a run fits the
# benchmark's time budget on 4 cores.  With six churn triggers the
# cadences put the one maintenance run on the last churn trigger and no
# scheduled drain on the error triggers.
STREAM = dict(n_convs=1500, mega_len=2500)
BOOTSTRAP, LOAD = 2, 10
UNTIMED = ("bootstrap",)


def churn_triggers(seconds: int) -> int:
    """The timed churn phase: one trigger per requested second, at
    least six."""
    return max(6, seconds)


def plan(seconds: int) -> list[tuple[str, int]]:
    """(phase, triggers), in order."""
    return [("bootstrap", 1), ("load", 1), ("churn", churn_triggers(seconds)), ("poison", 2)]


def parts(seconds: int) -> tuple[int, ...]:
    """Generated parts per trigger, before ``poison`` cuts the last one
    in two."""
    return (BOOTSTRAP, LOAD) + (1,) * churn_triggers(seconds) + (1,)


def config(work: str, validator: str) -> dict:
    run = os.path.join(work, "cdc_stream")
    return {
        "hermes-spark": {
            "pipeline": {
                "source": os.path.join(run, "src"),
                "work_dir": os.path.join(run, "run"),
                "validator": {"expr": validator},
                "retry_every": 4,
                "maintain_every": 8,
            },
            "status": {"path": os.path.join(run, "status.jsonl")},
        }
    }


@dataclass
class Phase:
    name: str
    turns: int = 0
    wall_s: float = 0.0
    trigger_ms: list[float] = field(default_factory=list)
    batch_ids: list[int] = field(default_factory=list)
    windows: list[tuple[float, float]] = field(default_factory=list)

    def timed(self, fn) -> None:
        t0, w0 = time.perf_counter(), time.time()
        fn()
        self.wall_s += time.perf_counter() - t0
        self.windows.append((w0, time.time()))


class StreamRun:
    """One pipeline and its staged stream, driven trigger by trigger."""

    def __init__(self, spark, cfg: dict, stream: Stream, tracer=None) -> None:
        from hermes_spark.config import build_pipeline

        self.src = cfg["hermes-spark"]["pipeline"]["source"]
        os.makedirs(self.src, exist_ok=True)
        self.stream = stream
        self.staged = stage(stream, os.path.join(os.path.dirname(self.src), "staged"))
        self.pipe = build_pipeline(spark, cfg)
        self.tracer = tracer
        if tracer is not None:
            instrument_pipeline(self.pipe, tracer)
        self.query = None
        self.next = 0          # index of the next trigger to publish
        self.live_rows = 0

    def start(self) -> None:
        self.query = self.pipe.start()

    def stop(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query.awaitTermination(60)

    def run(self, phase: Phase, n: int) -> None:
        """Publish the next ``n`` files, one trigger each, closed loop."""
        for _ in range(n):
            if self.tracer is not None:
                with self.tracer.span("pipeline.trigger"):
                    phase.timed(self._one)
            else:
                phase.timed(self._one)
            phase.turns += len(self.stream.triggers[self.next - 1])

    def _one(self) -> None:
        publish(self.staged[self.next], self.src)
        self.next += 1
        self.query.processAllAvailable()

    def progress(self) -> list[dict]:
        """Progress of every trigger that read input, by batch id.  The
        session keeps more progress updates than a run has triggers
        (``spark.sql.streaming.numRecentProgressUpdates``)."""
        prog = [json.loads(p.json) for p in self.query.recentProgress]
        return sorted((p for p in prog if p["numInputRows"] > 0), key=lambda p: p["batchId"])

    def check(self) -> int:
        expected = last_writer(self.stream.deliveries(self.next))
        got = self.pipe.target_live().select("conv_id", "turn_idx", "text").toPandas()
        self.live_rows = len(got)
        return target_mismatches(got, expected)

    def facts(self) -> dict:
        """Ledger counts and on-disk layout of the target, read without
        a Spark job (call after ``check``)."""
        applied = self.pipe.status_api.status(include_queue_depth=False)["applied"]
        return {
            "ledger": {k: applied[k] for k in ("inserts", "updates", "deletes")},
            "versions": self.pipe.target.current_version() or 0,
            "target_files": count_files(self.pipe.target.path, ".parquet"),
            "target_bytes": dir_bytes(self.pipe.target.path),
            "state_bytes": dir_bytes(os.path.join(self.pipe.checkpoint, "state")),
            "live_rows": self.live_rows,
        }


def assign_progress(phases: dict, steps: list[tuple[str, int]], prog: list[dict], stream: Stream) -> int:
    """Give each phase the progress of its own triggers.  The closed
    loop publishes one file per trigger, so the k-th trigger with input
    (by batch id) read the k-th file; a trigger whose row count is not
    its file's, or that is missing, is returned as failed."""
    failed, k = 0, 0
    for n, count in steps:
        for _ in range(count):
            if k >= len(prog):
                failed += 1
            elif prog[k]["numInputRows"] != len(stream.triggers[k]):
                failed += 1
            else:
                phases[n].trigger_ms.append(float(prog[k]["durationMs"]["triggerExecution"]))
                phases[n].batch_ids.append(prog[k]["batchId"])
            k += 1
    return failed + max(0, len(prog) - k)


def run(ctx) -> dict:
    from hermes_spark.config import build_pipeline

    steps = plan(ctx.seconds)
    groups = parts(ctx.seconds)
    stream = generate(StreamShape(groups=groups, **STREAM), ctx.seed)
    poisoned = poison(stream, len(groups) - 1, ctx.seed, STREAM["mega_len"])
    ctx.mark("generated")
    cfg = config(ctx.work, VALIDATOR)
    sr = StreamRun(ctx.spark, cfg, stream, ctx.tracer)
    ctx.mark("staged_and_built")
    phases = {n: Phase(n) for n, _k in steps}
    phases["heal"] = Phase("heal")
    healed = {}

    def heal():
        fixed = dict(cfg["hermes-spark"])
        fixed["pipeline"] = dict(fixed["pipeline"], validator={"expr": HEALED})
        healed["pipe"] = build_pipeline(ctx.spark, {"hermes-spark": fixed})
        if ctx.tracer is not None:
            instrument_pipeline(healed["pipe"], ctx.tracer)
        healed["left"] = healed["pipe"].retry_queue(tag="heal")

    sr.start()
    ctx.mark("query_started")
    try:
        for n, count in steps:
            if n not in UNTIMED and ctx.timed_start is None:
                ctx.mark_setup_done()
            sr.run(phases[n], count)
        prog = sr.progress()
        sr.stop()
        depth_before = sr.pipe.dlq.read().count()  # untimed
        if ctx.tracer is not None:
            with ctx.tracer.span("heal"):
                phases["heal"].timed(heal)
        else:
            phases["heal"].timed(heal)
        ctx.mark_timed_done()
    finally:
        sr.stop()
    sr.pipe, left = healed["pipe"], healed["left"]

    # -- checks (untimed) --------------------------------------------------
    bad_triggers = assign_progress(phases, steps, prog, stream)
    mismatches = sr.check()
    checks = {
        "target_mismatches": mismatches,
        "triggers_published": sr.next,
        "triggers_seen": len(prog),
        "triggers_failed": bad_triggers,
        "poisoned_turns": poisoned,
        "queue_before_heal": int(depth_before),
        "queue_after_heal": int(left),
    }
    timed = [phases[n] for n, _k in steps if n not in UNTIMED] + [phases["heal"]]
    attempted = sum(k for n, k in steps if n not in UNTIMED) + 1
    failed = (
        int(mismatches > 0) + int(left > 0) + int(depth_before == 0) + bad_triggers
    )
    facts = sr.facts()
    return {
        "phases": phases,
        "timed_phases": timed,
        "ops": {"attempted": attempted, "failed": failed},
        "checks": checks,
        "progress": prog,
        "facts": facts,
        "sizes": {
            "turns_by_phase": {n: p.turns for n, p in phases.items() if n != "heal"},
            "triggers_by_phase": dict(steps),
            "live_rows": facts["live_rows"],
            "final_state_rows": (
                (prog[-1].get("stateOperators") or [{}])[0].get("numRowsTotal")
                if prog else None
            ),
        },
    }
