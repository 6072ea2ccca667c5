"""Independent references for the correctness checks, computed with
DuckDB straight from the generated files — no engine code involved.

The CDC reference restates the op semantics from their definition:
``signup``/``error``/other -> insert/delete/update, ``user_id % 5`` ->
namespace, external version ``floor(epoch(ts)) << 32 | event_id*4 +
bump`` (u +1, d +2), always-on guards (``system.`` collections, GridFS
``.chunks``, the ``config``/``monstache`` databases), and per (ns, id)
the max-version op wins with deletes winning ties; keys whose winner is
a delete are absent.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa

_LAST_STATE_SQL = r"""
WITH env AS (
  SELECT
    CASE user_id % 5 WHEN 0 THEN 'test.users' WHEN 1 THEN 'test.accounts'
      WHEN 2 THEN 'skipme.audit' WHEN 3 THEN 'test.system.profiles'
      ELSE 'fs.files.chunks' END AS ns,
    CAST(user_id AS VARCHAR) AS id,
    CASE event_type WHEN 'signup' THEN 'i' WHEN 'error' THEN 'd' ELSE 'u' END AS op,
    event_id AS ts_ord,
    value,
    CAST(regexp_extract(props, '-?[0-9]+') AS BIGINT) AS k,
    epoch_us(ts) AS ts_us,
    CAST(floor(epoch(ts)) AS BIGINT) * 4294967296 + event_id * 4
      + CASE event_type WHEN 'signup' THEN 0 WHEN 'error' THEN 2 ELSE 1 END AS version
  FROM read_parquet($files)
),
kept AS (
  SELECT * FROM env
  WHERE NOT regexp_matches(ns, 'system\..+$')
    AND NOT regexp_matches(ns, '\.chunks$')
    AND split_part(ns, '.', 1) NOT IN ('config', 'monstache')
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY ns, id ORDER BY version DESC, (op = 'd') DESC) AS rn
  FROM kept
)
SELECT ns, id, version, ts_ord, value, k, ts_us FROM ranked
WHERE rn = 1 AND op <> 'd'
"""

STATE_COLS = ["ns", "id", "version", "ts_ord", "value", "k", "ts_us"]


def last_state(files: list[str]) -> pd.DataFrame:
    with duckdb.connect() as con:
        return con.execute(_LAST_STATE_SQL, {"files": files}).df()


def _state_frame(table: pa.Table) -> pd.DataFrame:
    """Engine state (``StateTable.read()``) in the reference's columns."""
    ts = table.column("last_ts").cast(pa.timestamp("us", tz="UTC")).cast(pa.int64())
    return pd.DataFrame(
        {
            "ns": table.column("ns").to_pandas(),
            "id": table.column("id").to_pandas(),
            "version": table.column("version").to_pandas(),
            "ts_ord": table.column("last_ts_ord").to_pandas(),
            "value": table.column("last_value").to_pandas(),
            "k": table.column("last_k").to_pandas(),
            "ts_us": ts.to_pandas(),
        }
    )


def frame_hash(df: pd.DataFrame) -> int:
    """Order-insensitive hash: the wrapping sum of per-row hashes."""
    rows = pd.util.hash_pandas_object(df, index=False).to_numpy(dtype=np.uint64)
    return int(rows.sum(dtype=np.uint64))


def _canonical(df: pd.DataFrame) -> pd.DataFrame:
    out = df[STATE_COLS].copy()
    for c in ("version", "ts_ord", "k", "ts_us"):
        out[c] = out[c].astype("int64")
    out["value"] = out["value"].astype("float64")
    for c in ("ns", "id"):
        out[c] = out[c].astype(str)
    return out.reset_index(drop=True)


def compare_state(got: pa.Table, want: pd.DataFrame) -> tuple[bool, str]:
    g = _canonical(_state_frame(got))
    w = _canonical(want)
    if len(g) != len(w):
        return False, f"rows {len(g)} != reference {len(w)}"
    hg, hw = frame_hash(g), frame_hash(w)
    if hg != hw:
        return False, f"hash {hg:x} != reference {hw:x} over {len(g)} rows"
    return True, f"{len(g)} rows, hash {hg:x}"
