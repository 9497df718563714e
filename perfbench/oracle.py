"""Output checks, run outside the timed region.

* CDC targets are compared with the last-writer oracle: per key the
  delivery with the largest ``(ts, turn_idx)`` wins and a tombstone
  (``text`` NULL) removes the key.  The comparison is per-turn text
  under stable turn ordering — the ``input_hint`` invariant.
* Batch entries are compared with their DuckDB ``oracle_sql()`` on the
  same parquet files, by row count, column names and an
  order-insensitive hash of canonically stringified rows.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import os

import pandas as pd

KEY = ["conv_id", "turn_idx"]


def last_writer(deliveries: pd.DataFrame) -> pd.DataFrame:
    """The expected live target after applying ``deliveries``."""
    ordered = deliveries.sort_values(["ts", "turn_idx"], kind="stable")
    final = ordered.drop_duplicates(subset=KEY, keep="last")
    final = final[final["text"].notna()]
    return final[[*KEY, "text"]].reset_index(drop=True)


def target_mismatches(got: pd.DataFrame, expected: pd.DataFrame) -> int:
    """Keys whose text differs, plus keys present on one side only.
    Both frames carry ``conv_id, turn_idx, text``; a key repeated in
    ``got`` counts as a mismatch too."""
    dup = int(got.duplicated(subset=KEY).sum())
    m = expected[[*KEY, "text"]].merge(
        got[[*KEY, "text"]], on=KEY, how="outer",
        suffixes=("_exp", "_got"), indicator=True,
    )
    one_side = m["_merge"] != "both"
    differs = (m["text_exp"] != m["text_got"]) & ~one_side
    return int(one_side.sum() + differs.sum()) + dup


def _canon(v) -> str:
    if v is None or v is pd.NaT:
        return "␀"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, bool):
        return "true" if v else "false"
    if hasattr(v, "tolist"):  # numpy scalars and arrays
        return _canon(v.tolist())
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def frame_digest(pdf: pd.DataFrame) -> tuple[int, tuple[str, ...], str]:
    """(rows, sorted column names, order-insensitive sha256)."""
    cols = sorted(pdf.columns)
    lines = sorted(
        "|".join(_canon(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return len(lines), tuple(cols), h.hexdigest()


TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def duckdb_results(sf_dir: str, sql_by_name: dict[str, str]) -> dict[str, pd.DataFrame]:
    import duckdb

    con = duckdb.connect()
    try:
        for t in TABLES:
            p = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
        return {name: con.execute(sql).df() for name, sql in sql_by_name.items()}
    finally:
        con.close()
