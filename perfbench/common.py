"""Helpers shared by the workloads: the run context, timed operations and the
order-insensitive result digest."""

from __future__ import annotations

import time
import traceback
from dataclasses import dataclass, field

import duckdb
import pyarrow as pa
import pyarrow.compute as pc

PACKAGE = "airflow_courier_payout_ledger_pipeline_spark"


@dataclass
class Context:
    """What a workload needs from the runner."""

    spark: object
    seed: int
    work: str  # per-run scratch directory inside the checkout
    corrupt: str | None  # output to corrupt, so the self-test sees a check fail
    sizes: dict


@dataclass
class Op:
    """One timed operation: a query, or one DAG job."""

    name: str
    seconds: float
    ok: bool = True
    error: str | None = None
    layers: dict = field(default_factory=dict)


def run_op(name: str, fn) -> tuple[Op, object]:
    """Call ``fn()``; an exception marks the operation failed and is kept as
    text, so one failing query does not stop the pass."""
    t0 = time.perf_counter()
    try:
        out = fn()
    except Exception:  # the boundary: record, report, carry on
        return Op(name, time.perf_counter() - t0, False, traceback.format_exc(limit=4)), None
    return Op(name, time.perf_counter() - t0), out


def run_check(name: str, fn) -> str | None:
    """Run one output check: ``fn()`` returns None when the output holds and
    a message when it does not. An exception fails the check, so a missing
    table reads as a failed check, not as a crashed run."""
    op, msg = run_op(name, fn)
    if not op.ok:
        return f"{name}: {op.error}"
    return None if msg is None else f"{name}: {msg}"


def _sql_type(typ: pa.DataType) -> str | None:
    if pa.types.is_integer(typ):
        return "BIGINT"
    if pa.types.is_floating(typ) or pa.types.is_decimal(typ):
        return "DOUBLE"
    if pa.types.is_string(typ) or pa.types.is_large_string(typ):
        return "VARCHAR"
    return None


def digest(table: pa.Table) -> str:
    """Order-insensitive digest of a result: its column names, its row count and
    the sum of DuckDB's hash of every row. Integers, floats and strings are
    widened to one type first, and zoned timestamps (Spark hands session-UTC
    values over with a zone) lose the zone, so a Spark result and its DuckDB
    oracle digest equal exactly when they hold the same rows."""
    for i, field in enumerate(table.schema):
        if pa.types.is_timestamp(field.type) and field.type.tz is not None:
            naive = pc.cast(table.column(i), pa.timestamp(field.type.unit))
            table = table.set_column(i, field.name, naive)
    names = sorted(table.column_names)
    cols = []
    for n in names:
        sql_type = _sql_type(table.schema.field(n).type)
        cols.append(f'"{n}"::{sql_type}' if sql_type else f'"{n}"')
    con = duckdb.connect()
    try:
        con.register("result", table)
        rows, total = con.execute(
            f"SELECT count(*), coalesce(sum(hash({', '.join(cols)})::HUGEINT), 0) FROM result"
        ).fetchone()
    finally:
        con.close()
    return f"{','.join(names)}|{rows}|{total}"
