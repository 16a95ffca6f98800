"""Watermark state store (S5/S6): the reference's ``srv_wf_settings`` key→JSON
document table (``modules/load_deliveries.py:28-38,66-79``,
``sql/deliveries_stg_to_dds.sql:13-16,44-56``), re-expressed over a tiny parquet
state file.

Design (scale-safe by being *small*, not distributed): one row per workflow key,
``workflow_settings`` is a JSON text document ``{"last_loaded_ts": "..."}`` exactly
like the reference's jsonb. The store is a few KB regardless of warehouse size, so
it is control-plane state and lives on the driver: reads and writes go through
pyarrow and fire no Spark job and start no Python worker.

- **Layout.** The store directory holds one parquet file, ``wf_settings.parquet``,
  with ``WF_SETTINGS_SCHEMA``; Spark (``spark.read.parquet(dir)``) and
  ``pq.read_table`` read it like any table. A directory an older Spark writer
  left (``part-*.parquet`` beside ``_SUCCESS`` and ``.crc`` files) reads back
  the same, and the first write replaces it with the single file.
- **Atomic writes.** A write goes to a hidden temp file in the directory and
  lands with one ``os.replace``: a crash before the rename leaves the previous
  cursor readable, never a torn file. The rename is atomic on a local or
  mounted POSIX filesystem, where the lakehouse keeps its tables.
- **Forward-only.** A cursor at or behind the stored one is a no-op, the same
  guard ``sources.jdbc.JdbcWatermarkStore`` keeps in SQL: a replayed run can
  never move the watermark back.
- **Ordering.** Writes happen *after* the data writes they describe: a crash
  between data-write and cursor-write causes reprocessing, which the SCD0/SCD1
  merges absorb idempotently (SURVEY.md §3.3 — facts first, watermark last).

Cursors cross the Python/JVM boundary as ``TS_FMT`` strings, never as Python
``datetime`` objects: pyspark converts those through the driver process's zone,
while the lake's timestamps live in the session zone. ``cursor_lit`` binds a
stored cursor into a plan as a session-zone literal — constant-folded, so the
watermark predicate still pushes down into the parquet scan (SURVEY.md §4) —
and ``cursor_max`` reads a cursor out of a plan in the same zone.
"""

from __future__ import annotations

import json
import os
import uuid
from datetime import datetime
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

from airflow_courier_payout_ledger_pipeline_spark.schemas import WF_SETTINGS_SCHEMA

TS_FMT = "%Y-%m-%d %H:%M:%S"
STATE_FILE = "wf_settings.parquet"


def cursor_lit(ts: datetime) -> Column:
    """A stored cursor as a session-zone timestamp literal."""
    return F.lit(ts.strftime(TS_FMT)).cast("timestamp")


def cursor_max(col: str) -> Column:
    """``max(col)`` as a ``TS_FMT`` string in the session zone (NULL when empty);
    ``parse_cursor`` turns the collected value back into a cursor."""
    return F.date_format(F.max(col), "yyyy-MM-dd HH:mm:ss")  # TS_FMT, Spark's spelling


def parse_cursor(raw: str | None) -> datetime | None:
    return None if raw is None else datetime.strptime(raw[:19], TS_FMT)


class WatermarkStore:
    """Key→JSON state in one parquet file under ``path``. The ``spark``
    arguments keep the API of ``JdbcWatermarkStore``; this store does not use
    them."""

    def __init__(self, path: str) -> None:
        self.path = path

    def _files(self) -> list[Path]:
        root = Path(self.path)
        if (root / STATE_FILE).exists():
            return [root / STATE_FILE]
        if not root.is_dir():
            return []
        return sorted(p for p in root.glob("*.parquet") if not p.name.startswith(("_", ".")))

    def _read_all(self) -> dict[str, str]:
        state: dict[str, str] = {}
        for f in self._files():
            t = pq.read_table(f)
            state.update(
                zip(t.column("workflow_key").to_pylist(), t.column("workflow_settings").to_pylist())
            )
        return state

    def _write_all(self, state: dict[str, str]) -> None:
        root = Path(self.path)
        root.mkdir(parents=True, exist_ok=True)
        keys = sorted(state)
        table = pa.table(
            [keys, [state[k] for k in keys]], schema=to_arrow_schema(WF_SETTINGS_SCHEMA)
        )
        tmp = root / f".{STATE_FILE}.{uuid.uuid4().hex[:8]}.tmp"
        try:
            pq.write_table(table, tmp)
            os.replace(tmp, root / STATE_FILE)
        finally:
            tmp.unlink(missing_ok=True)
        # everything else is a legacy Spark-written part file, its _SUCCESS and
        # .crc companions, or an orphaned temp file of a crashed write
        for p in root.iterdir():
            if p.name != STATE_FILE and p.is_file():
                p.unlink()

    def read_last_loaded_ts(
        self, spark: SparkSession, workflow_key: str, default: datetime
    ) -> datetime:
        """``coalesce((settings->>'last_loaded_ts')::timestamp, default)`` —
        modules/load_deliveries.py:30-36 / sql/deliveries_stg_to_dds.sql:13-16."""
        doc = self._read_all().get(workflow_key)
        ts = None if doc is None else parse_cursor(json.loads(doc).get("last_loaded_ts"))
        return default if ts is None else ts

    def write_last_loaded_ts(
        self, spark: SparkSession, workflow_key: str, ts: datetime | None
    ) -> None:
        """Upsert the cursor (``ON CONFLICT (workflow_key) DO UPDATE``), forward
        only; skipped when the increment was empty (``where last_loaded_ts is
        not null``, sql/deliveries_stg_to_dds.sql:54)."""
        if ts is None:
            return
        state = self._read_all()
        val = ts.strftime(TS_FMT)
        doc = state.get(workflow_key)
        held = None if doc is None else json.loads(doc).get("last_loaded_ts")
        if held is not None and held[:19] >= val:
            return
        state[workflow_key] = json.dumps({"last_loaded_ts": val})
        self._write_all(state)
