"""``nightly_chain``: the reference DAG over simulated days on one warm session.

Set-up seeds the fake delivery API and runs the cold-start day (day 0, the
first fetch over the 7-day window). Each timed pass is the next day: the seven
``promotions`` jobs in DAG order, with ``sleep_s=0``. A run times at least two
days, so ``pass_s`` is a median and not one day's time.

After the last day the run checks the lake against the generator's
predictions (STG, fact and quarantine row counts, both watermarks, every
courier's name in ``dm_couriers``) and checks the mart: ``dm_courier_ledger``
must digest-equal DuckDB running the reference payout cascade of the
registry's ``LEDGER_ORACLE`` over the run's own DDS parquet, and the mart's
quarantine must hold exactly the oracle rows that break the mart's DDL checks.
"""

from __future__ import annotations

import glob
import json
import os
from datetime import datetime

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import probes
from common import Context, Op, digest, run_check, run_op
from courier_api import CourierApi

FIRST_DS = datetime(2023, 6, 1)  # set-up loads May; the timed days deliver in June
MAX_DAYS = 8

JOBS = (
    "load_couriers",
    "load_deliveries",
    "couriers_stg_to_dds",
    "timestamps_stg_to_dds",
    "orders_stg_to_dds",
    "deliveries_stg_to_dds",
    "courier_ledger_update",
)

#: per-layer metric that carries each job's wall time
JOB_METRICS = {
    name: "plans.ledger.update_s"
    if name == "courier_ledger_update"
    else f"plans.promotions.{name}_s"
    for name in JOBS
}

MART_COLUMNS = (
    "courier_id::VARCHAR AS courier_id, courier_name, "
    "settlement_year::INTEGER AS settlement_year, "
    "settlement_month::INTEGER AS settlement_month, "
    "orders_count::INTEGER AS orders_count, "
    "orders_total_sum::DOUBLE AS orders_total_sum, rate_avg::DOUBLE AS rate_avg, "
    "order_processing_fee::DOUBLE AS order_processing_fee, "
    "courier_order_sum::DOUBLE AS courier_order_sum, "
    "courier_tips_sum::DOUBLE AS courier_tips_sum, "
    "courier_reward_sum::DOUBLE AS courier_reward_sum"
)

# operators.validate.ledger_checks, as SQL: every column present, ranges held
# (a row is clean when this IS TRUE; NULL in any column makes it NULL)
MART_CLEAN = (
    "courier_id IS NOT NULL AND courier_name IS NOT NULL "
    "AND orders_count >= 0 AND orders_total_sum >= 0 "
    "AND rate_avg BETWEEN 0 AND 5 AND order_processing_fee >= 0 "
    "AND courier_order_sum >= 0 AND courier_tips_sum >= 0 AND courier_reward_sum >= 0 "
    "AND settlement_year BETWEEN 2022 AND 2100 AND settlement_month BETWEEN 1 AND 12"
)

# the mart's grouping over the DDS tables (plans.ledger.courier_ledger's joins);
# the payout cascade that follows is the registry's LEDGER_ORACLE from ``u1``
DDS_MAIN = """
WITH main AS (
    SELECT f.courier_id AS courier_sk,
           c.courier_name AS courier_name,
           t.year AS settlement_year,
           t.month AS settlement_month,
           COUNT(f.order_id) AS orders_count_l,
           CAST(SUM(f.order_sum) AS DECIMAL(14,2)) AS orders_total_sum_x,
           avg(f.rating) FILTER (WHERE f.rating BETWEEN 1 AND 5) AS rate_avg_x,
           CAST(SUM(f.tips) AS DECIMAL(14,2)) AS courier_tips_sum_x
    FROM fct_deliveries f
    JOIN dm_couriers c ON f.courier_id = c.id
    JOIN dm_orders o ON f.order_id = o.id
    JOIN dm_timestamps t ON o.timestamp_id = t.id
    GROUP BY 1, 2, 3, 4
),
"""


def _files(path: str) -> list[str]:
    return sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))


def _rows(path: str) -> int:
    return sum(pq.read_metadata(f).num_rows for f in _files(path))


def mart_oracle_sql() -> str:
    from airflow_courier_payout_ledger_pipeline_spark.registry import LEDGER_ORACLE

    return DDS_MAIN + LEDGER_ORACLE[LEDGER_ORACLE.index("u1 AS (") :]


class NightlyChain:
    min_passes = 2  # timed days a run makes at least

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.root = os.path.join(ctx.work, "lake")
        sizes = ctx.sizes
        self.api = CourierApi(
            ctx.seed, FIRST_DS, MAX_DAYS, n_couriers=sizes["couriers"], per_day=sizes["per_day"]
        )
        self.day = 0

    def describe(self) -> dict:
        s = self.ctx.sizes
        return {
            "couriers": s["couriers"],
            "deliveries_per_day": s["per_day"],
            "first_ds": self.api.ds(0),
        }

    def setup(self) -> list[Op]:
        """Seed the lake with the cold-start day; returns its (untimed) jobs."""
        from airflow_courier_payout_ledger_pipeline_spark.plans import promotions
        from airflow_courier_payout_ledger_pipeline_spark.sources.lakehouse import Lakehouse

        self.P = promotions
        self.lake = Lakehouse(self.root)
        return self.run_pass("day0", traced=False)

    def has_next(self) -> bool:
        return self.day < MAX_DAYS

    def _job(self, name: str, day: int):
        P, spark, lake, ds = self.P, self.ctx.spark, self.lake, self.api.ds(day)
        if name == "load_couriers":
            return lambda: P.load_couriers_job(spark, lake, self.api.couriers(day), sleep_s=0.0)
        if name == "load_deliveries":
            return lambda: P.load_deliveries_job(
                spark, lake, self.api.deliveries(day), ds, sleep_s=0.0
            )
        return lambda: getattr(P, f"{name}_job")(spark, lake)

    def run_pass(self, label: str, traced: bool) -> list[Op]:
        day, sc = self.day, self.ctx.spark.sparkContext
        fct = os.path.join(self.root, "dds", "fct_deliveries")
        quarantine = os.path.join(self.root, "dds", "fct_deliveries_quarantine")
        if traced:
            rest0 = self.api.counters.snapshot()
            facts0, q0 = _rows(fct), _rows(quarantine)
            files = probes.lake_snapshot(self.root)
        ops = []
        for name in JOBS:
            sc.setJobGroup(f"{label}:{name}", name)
            op, _ = run_op(name, self._job(name, day))
            if traced:
                before, files = files, probes.lake_snapshot(self.root)
                op.layers["bytes_written"], op.layers["files_written"] = probes.lake_diff(
                    before, files
                )
            ops.append(op)
        self.day += 1
        if traced:
            rest = self.api.counters
            fetched = rest.delivery_records - rest0.delivery_records
            ops[-1].layers.update(
                fetch_s=rest.fetch_s - rest0.fetch_s,
                pages=rest.pages - rest0.pages,
                records=rest.records - rest0.records,
                new_facts_per_record=(_rows(fct) - facts0) / fetched if fetched else 0.0,
                quarantined_rows=_rows(quarantine) - q0,
                live_files=sum(1 for f in files if f.endswith(".parquet")),
            )
        return ops

    # --- checks ---------------------------------------------------------------

    def _corrupt_mart(self) -> None:
        """Add one cent to the reward of one mart row, in place."""
        files = _files(os.path.join(self.root, "cdm", "dm_courier_ledger"))
        path = next(f for f in files if pq.read_metadata(f).num_rows > 0)
        table = pq.read_table(path)
        i = table.schema.get_field_index("courier_reward_sum")
        col = table.column(i)
        values = col.to_pylist()
        values[0] = values[0] + type(values[0])("0.01")
        table = table.set_column(i, table.field(i), pa.array(values, col.type))
        pq.write_table(table, path)

    def _mart_check(self) -> str | None:
        if self.ctx.corrupt == "mart":
            self._corrupt_mart()
        dds, cdm = os.path.join(self.root, "dds"), os.path.join(self.root, "cdm")
        con = duckdb.connect()
        try:
            for t in ("fct_deliveries", "dm_couriers", "dm_orders", "dm_timestamps"):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{dds}/{t}/*.parquet')"
                )
            con.execute(f"CREATE VIEW oracle AS SELECT {MART_COLUMNS} FROM ({mart_oracle_sql()})")
            mart = con.execute(
                f"SELECT {MART_COLUMNS} FROM read_parquet('{cdm}/dm_courier_ledger/*.parquet')"
            ).arrow()
            want = con.execute(f"SELECT * FROM oracle WHERE ({MART_CLEAN}) IS TRUE").arrow()
            n_bad = con.execute(
                f"SELECT count(*) FROM oracle WHERE ({MART_CLEAN}) IS NOT TRUE"
            ).fetchone()[0]
        finally:
            con.close()
        got_bad = _rows(os.path.join(cdm, "dm_courier_ledger_quarantine"))
        failed = []
        if digest(mart) != digest(want):
            failed.append("mart differs from oracle")
        if got_bad != n_bad:
            failed.append(f"mart quarantine holds {got_bad} rows, oracle {n_bad}")
        return "; ".join(failed) or None

    def _watermark(self, layer: str, key: str) -> str | None:
        rows = pq.read_table(_files(os.path.join(self.root, layer, "srv_wf_settings"))).to_pylist()
        docs = [r["workflow_settings"] for r in rows if r["workflow_key"] == key]
        return json.loads(docs[0])["last_loaded_ts"] if len(docs) == 1 else None

    def _courier_names(self) -> dict[str, str]:
        rows = pq.read_table(_files(os.path.join(self.root, "dds", "dm_couriers"))).to_pylist()
        return {r["courier_key"]: r["courier_name"] for r in rows}

    def finish(self) -> tuple[int, list[str]]:
        """The run's output checks; returns (checks made, failed checks)."""
        exp = self.api.expected(self.day)
        dds = os.path.join(self.root, "dds")
        got = {
            "stg_rows": lambda: _rows(os.path.join(self.root, "stg", "deliverysystem_deliveries")),
            "fact_rows": lambda: _rows(os.path.join(dds, "fct_deliveries")),
            "quarantined_rows": lambda: _rows(os.path.join(dds, "fct_deliveries_quarantine")),
            "stg_watermark": lambda: self._watermark("stg", self.P.STG_WM_KEY),
            "dds_watermark": lambda: self._watermark("dds", self.P.DDS_WM_KEY),
            "courier_names": self._courier_names,
        }

        def predicted(name: str) -> str | None:
            value, want = got[name](), getattr(exp, name)
            if value == want:
                return None
            if isinstance(want, dict):
                return f"{sum(value.get(k) != v for k, v in want.items())} differ"
            return f"got {value!r}, predicted {want!r}"

        results = [run_check(name, lambda n=name: predicted(n)) for name in got]
        results.append(run_check("mart", self._mart_check))
        return len(results), [r for r in results if r is not None]

    def storage_ratio(self) -> float:
        return probes.tree_bytes(self.root) / max(self.api.counters.json_bytes, 1)
