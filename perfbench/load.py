"""Seeded load generator for the CDC workloads.

Runs in the benchmark process before any timing.  The transcript
stream comes from the engine's own fixture generator
(``generate_transcripts`` / ``generate_change_batches``), seeded from
the benchmark's ``--seed``; the files are staged with pyarrow, not
through Spark, so the system under test never touches its own input
before the timed region.  Timestamps are written UTC-adjusted, which
``TRANSCRIPT_SCHEMA`` reads as ``TimestampType``.

``poison`` cuts the turns of ~1% of the conversations out of one
trigger into a trigger of their own, with over-long texts that fail the
shipped validator.

A stream is a list of trigger frames.  Each is written to a staging
directory up front; the closed loop moves the next one into the source
directory with an atomic rename, so a trigger never sees a half-written
file.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ARROW_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


@dataclass(frozen=True)
class StreamShape:
    """One generated stream: ``n_convs`` conversations cut into
    ``sum(groups)`` equal change batches, in arrival order; trigger i
    carries the next ``groups[i]`` of them."""

    n_convs: int
    mega_len: int
    groups: tuple[int, ...]


@dataclass
class Stream:
    triggers: list[pd.DataFrame]   # one frame per trigger, in order

    def deliveries(self, upto: int | None = None) -> pd.DataFrame:
        return pd.concat(self.triggers[:upto], ignore_index=True)


def generate(shape: StreamShape, seed: int) -> Stream:
    from hermes_spark.fixtures import (
        TranscriptConfig,
        generate_change_batches,
        generate_transcripts,
    )

    base = generate_transcripts(
        TranscriptConfig(n_convs=shape.n_convs, seed=seed, mega_len=shape.mega_len)
    )
    parts = generate_change_batches(base, n_batches=sum(shape.groups), seed=seed + 1)
    ends = np.cumsum(shape.groups)
    return Stream(
        triggers=[
            pd.concat(parts[e - g : e], ignore_index=True)
            for g, e in zip(shape.groups, ends)
        ]
    )


# the shipped validator (examples/pipeline.yml) rejects longer texts
TEXT_LIMIT = 4096
# share of the stream's conversations whose turns the error phase poisons
POISON_CONV_FRAC = 0.01


def poison(stream: Stream, at: int, seed: int, mega_len: int) -> int:
    """Cut trigger ``at`` in two, in place: first the turns of
    ``POISON_CONV_FRAC`` of the stream's conversations (at least one), with
    texts longer than ``TEXT_LIMIT``, then the rest of the trigger.  The
    conversations are drawn from those the trigger carries, the
    generator's ``mega_len``-turn conversations excepted, so every seed
    poisons a few dozen turns.  Tombstones stay tombstones.  Returns the
    number of turns in the first, poisoned trigger."""
    frame = stream.triggers[at]
    turns = stream.deliveries()["conv_id"].value_counts()
    present = np.sort(frame["conv_id"].unique())
    ordinary = present[turns[present].to_numpy() < mega_len]
    k = min(len(ordinary), max(1, int(round(len(turns) * POISON_CONV_FRAC))))
    chosen = np.random.default_rng(seed + 2).choice(ordinary, size=k, replace=False)
    hit = frame["conv_id"].isin(chosen) & frame["text"].notna()
    bad = frame[hit].copy()
    bad["text"] = bad["text"] + " " + "~" * TEXT_LIMIT
    stream.triggers[at : at + 1] = [
        bad.reset_index(drop=True), frame[~hit].reset_index(drop=True)
    ]
    return len(bad)


def stage(stream: Stream, staging_dir: str) -> list[str]:
    """Write every trigger frame to ``staging_dir``; returns the paths
    in trigger order."""
    os.makedirs(staging_dir, exist_ok=True)
    paths = []
    for i, frame in enumerate(stream.triggers):
        df = frame.copy()
        df["ts"] = df["ts"].dt.tz_localize("UTC")
        table = pa.Table.from_pandas(df, schema=ARROW_SCHEMA, preserve_index=False)
        path = os.path.join(staging_dir, f"part-{i:05d}.parquet")
        pq.write_table(table, path)
        paths.append(path)
    return paths


def publish(staged_path: str, source_dir: str) -> None:
    """Make one staged file visible to the file source (atomic rename)."""
    os.replace(staged_path, os.path.join(source_dir, os.path.basename(staged_path)))
