"""Self-tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import layers  # noqa: E402
from perfbench.load import TEXT_LIMIT, Stream, poison  # noqa: E402
from perfbench.metrics import (  # noqa: E402
    END_TO_END,
    PER_LAYER,
    percentile,
    tail_percentile,
)
from perfbench.oracle import frame_digest, last_writer, target_mismatches  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402


def _ts(s: int) -> pd.Timestamp:
    return pd.Timestamp("2026-01-01") + pd.Timedelta(seconds=s)


@pytest.fixture()
def deliveries() -> pd.DataFrame:
    rows = [
        ("c1", 0, "hello", 1),
        ("c1", 1, "world", 2),
        ("c1", 1, "world [edited]", 9),   # update: newer ts wins
        ("c2", 0, "bye", 3),
        ("c2", 0, None, 8),               # tombstone removes the key
        ("c3", 0, "dup", 4),
        ("c3", 0, "dup", 7),              # duplicate: no change
        ("c3", 1, "late", 6),
    ]
    return pd.DataFrame(
        [{"conv_id": c, "turn_idx": t, "text": x, "ts": _ts(s)} for c, t, x, s in rows]
    )


def test_last_writer_semantics(deliveries):
    exp = last_writer(deliveries).set_index(["conv_id", "turn_idx"])["text"].to_dict()
    assert exp == {
        ("c1", 0): "hello",
        ("c1", 1): "world [edited]",
        ("c3", 0): "dup",
        ("c3", 1): "late",
    }


def test_oracle_accepts_the_exact_target(deliveries):
    exp = last_writer(deliveries)
    got = exp.sample(frac=1.0, random_state=3)  # order must not matter
    assert target_mismatches(got, exp) == 0


def test_oracle_rejects_a_dropped_key(deliveries):
    exp = last_writer(deliveries)
    assert target_mismatches(exp.iloc[1:], exp) == 1


def test_oracle_rejects_an_altered_text(deliveries):
    exp = last_writer(deliveries)
    got = exp.copy()
    got.loc[got.index[0], "text"] = got["text"].iloc[0] + "!"
    assert target_mismatches(got, exp) == 1


def test_oracle_rejects_an_extra_or_repeated_key(deliveries):
    exp = last_writer(deliveries)
    extra = pd.concat(
        [exp, pd.DataFrame([{"conv_id": "c9", "turn_idx": 0, "text": "x"}])],
        ignore_index=True,
    )
    assert target_mismatches(extra, exp) == 1
    repeated = pd.concat([exp, exp.iloc[:1]], ignore_index=True)
    assert target_mismatches(repeated, exp) >= 1


def test_frame_digest_is_order_insensitive_and_value_sensitive():
    a = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, None, 2.0]})
    b = a.iloc[::-1][["v", "k"]]
    assert frame_digest(a) == frame_digest(b)
    c = a.copy()
    c.loc[0, "v"] = 0.25
    assert frame_digest(a) != frame_digest(c)


@pytest.mark.parametrize("n", [1, 9, 19, 20, 21, 39, 40, 41, 99, 100, 200, 1000, 1001])
def test_tail_percentile_keeps_ten_samples_beyond(n):
    samples = [float(i) for i in range(n)]
    p = tail_percentile(samples)
    if p is None:
        # not even the median has ten samples above it
        assert sum(x > percentile(samples, 50) for x in samples) < 10
        return
    assert sum(x > percentile(samples, p) for x in samples) >= 10
    for higher in (75, 90, 95, 99):
        if higher > p:
            assert sum(x > percentile(samples, higher) for x in samples) < 10


def test_tail_percentile_examples():
    assert tail_percentile(list(range(40))) == 75
    assert tail_percentile(list(range(39))) == 50
    assert tail_percentile(list(range(100))) == 90
    assert tail_percentile(list(range(12))) is None


def _declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_every_end_to_end_metric_is_declared():
    decl = {m["name"]: m for m in _declared()["end_to_end"]}
    assert all(0 < m["bound"] <= 0.25 for m in decl.values())
    emitted = layers.end_to_end(1.0, {"op_ms": 2.0, "work_s": 3.0})
    assert set(emitted) == set(decl) == set(END_TO_END)
    assert all(v["unit"] == decl[k]["unit"] for k, v in emitted.items())


def test_every_per_layer_metric_is_declared(tmp_path):
    decl = {m["name"]: m for m in _declared()["per_layer"]}
    assert set(decl) == set(PER_LAYER)
    # what a traced run emits: every per-layer metric, nothing else
    (tmp_path / "eventlog").mkdir()
    res = {"windows": [(time.time() - 1, time.time())], "counters": {}}
    values = layers.per_layer("batch_queries", res, {}, 0, None, str(tmp_path), 1.0)
    assert set(values) == set(decl)
    assert all(isinstance(v, float) for v in values.values())


def test_tracing_overhead_needs_a_matching_untraced_run(tmp_path):
    path = tmp_path / "cdc_stream.jsonl"
    rows = [
        {"seed": 1, "seconds": 10, "tree": "old", "work_s": 1.0},
        {"seed": 2, "seconds": 20, "tree": "new", "work_s": 2.0},
        {"seed": 3, "seconds": 10, "tree": "new", "work_s": 4.0},
        {"seed": 4, "seconds": 10, "tree": "new", "work_s": 6.0},
    ]
    path.write_text("".join(json.dumps(r) + "\n" for r in rows))
    got = layers.tracing_overhead(str(path), "new", 10, 5.5)
    assert got["untraced_runs"] == 2
    assert got["overhead_frac"] == pytest.approx(0.1)
    missing = layers.tracing_overhead(str(path), "other", 10, 5.5)
    assert missing["overhead_frac"] is None and missing["untraced_runs"] == 0


def _stream() -> Stream:
    def frame(conv_ids, s0):
        n = len(conv_ids)
        return pd.DataFrame({
            "conv_id": conv_ids, "turn_idx": list(range(n)),
            "text": [f"t{i}" for i in range(n)], "ts": [_ts(s0 + i) for i in range(n)],
        })

    convs = [f"c{i:03d}" for i in range(200)]
    # c000 is a mega conversation: 50 turns in the second trigger
    return Stream(triggers=[frame(convs, 0), frame(convs[:1] * 50 + convs[1:], 1000)])


def test_poison_cuts_one_percent_of_conversations_into_a_failing_trigger():
    stream = _stream()
    before = stream.triggers[1].copy()
    n = poison(stream, 1, seed=5, mega_len=40)
    assert len(stream.triggers) == 3
    bad, rest = stream.triggers[1:]
    assert n == len(bad) == 2  # 1% of 200 conversations, one turn each
    assert bad["conv_id"].nunique() == 2 and "c000" not in set(bad["conv_id"])
    assert (bad["text"].str.len() > TEXT_LIMIT).all()
    assert (rest["text"].str.len() <= TEXT_LIMIT).all()
    # the two triggers carry the same turns as the one they replace
    assert len(bad) + len(rest) == len(before)
    merged = pd.concat([bad.assign(text=bad["text"].str[: -(TEXT_LIMIT + 1)]), rest])
    pd.testing.assert_frame_equal(
        merged.sort_values(["ts", "conv_id"]).reset_index(drop=True),
        before.sort_values(["ts", "conv_id"]).reset_index(drop=True),
    )
    # the same seed poisons the same turns
    again = _stream()
    poison(again, 1, seed=5, mega_len=40)
    pd.testing.assert_frame_equal(again.triggers[1], bad)


def test_progress_is_matched_to_triggers_by_batch_id():
    from perfbench.cdc import Phase, assign_progress

    stream = _stream()
    steps = [("load", 1), ("churn", 1)]
    n0, n1 = (len(f) for f in stream.triggers)

    def prog(bid, rows):
        return {"batchId": bid, "numInputRows": rows, "durationMs": {"triggerExecution": bid}}

    phases = {n: Phase(n) for n, _ in steps}
    assert assign_progress(phases, steps, [prog(3, n0), prog(5, n1)], stream) == 0
    assert phases["churn"].batch_ids == [5] and phases["churn"].trigger_ms == [5.0]
    # a trigger that read the wrong number of rows, or none, fails
    phases = {n: Phase(n) for n, _ in steps}
    assert assign_progress(phases, steps, [prog(3, n0), prog(5, 7)], stream) == 1
    phases = {n: Phase(n) for n, _ in steps}
    assert assign_progress(phases, steps, [prog(3, n0)], stream) == 1


def test_declared_workloads_are_runnable():
    from perfbench.run import WORKLOADS

    assert [w["name"] for w in _declared()["workloads"]] == list(WORKLOADS)


def test_self_time_excludes_child_spans():
    tr = Tracer("t")
    with tr.span("parent"):
        time.sleep(0.02)
        with tr.span("child"):
            time.sleep(0.05)
    tot = tr.totals()
    assert tot["child"]["n"] == 1
    par = tot["parent"]
    assert par["total"] >= 0.07
    assert par["self"] == pytest.approx(par["total"] - tot["child"]["total"], abs=1e-6)
    assert all(s["run_id"] == "t" for s in tr.spans)
    assert tr.spans[1]["parent"] == tr.spans[0]["id"]
