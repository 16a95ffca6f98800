"""End-to-end lakehouse pipeline test against a fake delivery API (SURVEY.md §5.3,
FIXTURES.md §4): two daily runs exercising watermark incrementality, SCD0 duplicate
suppression, SCD1 courier rename, late-arrival drop, missing-dim drop, and the
golden ledger output; plus re-run idempotency."""

from __future__ import annotations

import glob
import os
import time
from datetime import datetime
from decimal import Decimal as D

import pyarrow.parquet as pq
import pytest

from airflow_courier_payout_ledger_pipeline_spark import schemas as S
from airflow_courier_payout_ledger_pipeline_spark.plans import promotions as P
from airflow_courier_payout_ledger_pipeline_spark.sources.lakehouse import Lakehouse


def fake_api(records: list[dict], time_field: str | None = None):
    """Mimics the delivery-system API: from/to window filter, sort, offset/limit."""

    def fetch(params: dict) -> list[dict]:
        rows = records
        if time_field and "from" in params:
            rows = [r for r in rows if params["from"] <= r[time_field] < params["to"]]
        rows = sorted(rows, key=lambda r: r[params["sort_field"]] if params["sort_field"] != "date" else r[time_field])
        off, lim = params.get("offset", 0), params.get("limit", 50)
        return rows[off : off + lim]

    return fetch


def _delivery(did, oid, courier, d_ts, o_ts, rate, total, tip):
    return {
        "order_id": oid,
        "order_ts": o_ts,
        "delivery_id": did,
        "courier_id": courier,
        "address": f"addr-{did}",
        "delivery_ts": d_ts,
        "rate": rate,
        "sum": total,
        "tip_sum": tip,
    }


DAY1_COURIERS = [{"_id": "c1", "name": "Alice"}, {"_id": "c2", "name": "Bob"}]
DAY1_DELIVERIES = [
    _delivery("d1", "o1", "c1", "2023-05-10 10:00:00", "2023-05-10 09:30:00", 5, 1000.00, 10.00),
    _delivery("d2", "o2", "c1", "2023-05-10 11:00:00", "2023-05-10 10:30:00", 5, 2000.00, 0.00),
    _delivery("d3", "o3", "c2", "2023-05-10 12:00:00", "2023-05-10 11:30:00", 3, 500.00, 5.00),
]

DAY2_COURIERS = [{"_id": "c1", "name": "Alice Cooper"}, {"_id": "c2", "name": "Bob"}]
DAY2_DELIVERIES = DAY1_DELIVERIES + [
    # new normal delivery for c1 (June order month!)
    _delivery("d4", "o4", "c1", "2023-05-11 09:00:00", "2023-06-01 08:00:00", 4, 3000.00, 30.00),
    # duplicate resubmission of d1 with altered sum — must be ignored (SCD0)
    _delivery("d1", "o1", "c1", "2023-05-11 10:00:00", "2023-05-10 09:30:00", 1, 9999.00, 99.00),
    # late arrival with ts before the day-1 watermark — silently dropped (§2.8)
    _delivery("d5", "o5", "c2", "2023-05-10 11:59:00", "2023-05-10 11:00:00", 5, 700.00, 7.00),
]


@pytest.fixture()
def lake(tmp_path):
    return Lakehouse(str(tmp_path / "lake"))


def jobs_fired(spark, group: str, fn) -> int:
    """Run ``fn`` under its own Spark job group; the number of jobs it fired."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _run_fixture_days(spark, lake) -> None:
    P.run_daily(
        spark, lake, fake_api(DAY1_COURIERS), fake_api(DAY1_DELIVERIES, "delivery_ts"),
        "2023-05-11",
    )
    P.run_daily(
        spark, lake, fake_api(DAY2_COURIERS), fake_api(DAY2_DELIVERIES, "delivery_ts"),
        "2023-05-12",
    )


def _ledger(spark, lake):
    rows = lake.read(spark, "cdm", "dm_courier_ledger", S.DM_COURIER_LEDGER_SCHEMA).collect()
    return {(r.courier_name, r.settlement_year, r.settlement_month): r for r in rows}


def test_two_day_pipeline(spark, lake):
    # --- day 1 ---
    P.run_daily(
        spark,
        lake,
        fake_api(DAY1_COURIERS),
        fake_api(DAY1_DELIVERIES, "delivery_ts"),
        "2023-05-11",
    )
    led = _ledger(spark, lake)
    a = led[("Alice", 2023, 5)]
    # Alice: 3000 total, avg 5.0 → 10% = 300 ≥ 2×200? 300 < 400 → floor 400
    assert a.orders_count == 2
    assert a.orders_total_sum == D("3000.00")
    assert a.rate_avg == D("5.00")
    assert a.courier_order_sum == D("400.00")
    assert a.courier_reward_sum == D("409.50")  # 400 + 0.95×10
    b = led[("Bob", 2023, 5)]
    # Bob: 500 total, avg 3.0 → 5% = 25 < 100 → floor 100; reward 100 + 4.75
    assert b.courier_order_sum == D("100.00")
    assert b.courier_reward_sum == D("104.75")

    # --- day 2: rename, new delivery, duplicate, late arrival ---
    P.run_daily(
        spark,
        lake,
        fake_api(DAY2_COURIERS),
        fake_api(DAY2_DELIVERIES, "delivery_ts"),
        "2023-05-12",
    )
    led2 = _ledger(spark, lake)

    # SCD1 rename propagated into the mart
    assert ("Alice", 2023, 5) not in led2
    a_may = led2[("Alice Cooper", 2023, 5)]
    # duplicate d1 ignored: May figures unchanged
    assert a_may.orders_total_sum == D("3000.00")
    assert a_may.orders_count == 2
    # d4 settles in JUNE (order month), despite May delivery date
    a_jun = led2[("Alice Cooper", 2023, 6)]
    assert a_jun.orders_total_sum == D("3000.00")
    assert a_jun.rate_avg == D("4.00")
    assert a_jun.courier_order_sum == D("210.00")  # 7% of 3000 = 210 ≥ 200 floor
    assert a_jun.courier_reward_sum == D("238.50")  # 210 + 0.95×30
    # late d5 dropped by the watermark: Bob unchanged
    assert led2[("Bob", 2023, 5)].orders_total_sum == D("500.00")

    # facts: exactly d1-d4 present, d1 with original sum
    facts = {
        r.delivery_key: r
        for r in lake.read(spark, "dds", "fct_deliveries", S.FCT_DELIVERIES_SCHEMA).collect()
    }
    assert set(facts) == {"d1", "d2", "d3", "d4"}
    assert facts["d1"].order_sum == D("1000.00")


def test_rerun_is_idempotent(spark, lake):
    P.run_daily(
        spark, lake, fake_api(DAY1_COURIERS), fake_api(DAY1_DELIVERIES, "delivery_ts"), "2023-05-11"
    )
    before = sorted(map(tuple, _ledger(spark, lake).values()))
    n_facts = lake.read(spark, "dds", "fct_deliveries", S.FCT_DELIVERIES_SCHEMA).count()
    # same day re-run: same API data, watermark already advanced
    P.run_daily(
        spark, lake, fake_api(DAY1_COURIERS), fake_api(DAY1_DELIVERIES, "delivery_ts"), "2023-05-11"
    )
    assert sorted(map(tuple, _ledger(spark, lake).values())) == before
    assert (
        lake.read(spark, "dds", "fct_deliveries", S.FCT_DELIVERIES_SCHEMA).count() == n_facts
    )


def test_missing_order_dim_drops_fact(spark, lake, monkeypatch):
    """A delivery whose order never reaches dm_orders is dropped by J2 (inner join),
    exactly like the reference (sql/deliveries_stg_to_dds.sql:33)."""
    deliveries = [
        _delivery("d1", "o1", "c1", "2023-05-10 10:00:00", "2023-05-10 09:30:00", 5, 1000.00, 10.00),
    ]
    # simulate the upstream orders feed missing: skip orders_stg_to_dds_job
    P.load_couriers_job(spark, lake, fake_api(DAY1_COURIERS))
    P.load_deliveries_job(spark, lake, fake_api(deliveries, "delivery_ts"), "2023-05-11")
    P.couriers_stg_to_dds_job(spark, lake)
    P.timestamps_stg_to_dds_job(spark, lake)
    P.deliveries_stg_to_dds_job(spark, lake)
    assert lake.read(spark, "dds", "fct_deliveries", S.FCT_DELIVERIES_SCHEMA).count() == 0


def test_dim_feeders_are_single_writer_per_table(spark, lake):
    """The DAG's parallel ``dims`` group is safe only if each dim table has exactly
    ONE feeder task (r15 verdict item 1: two jobs anti-joining dm_timestamps
    against the same pre-state double-insert a timestamp present in both
    increments — an order_ts equal to a delivery_ts, routine for same-second
    events). Pin the single-writer split: orders_stg_to_dds_job never touches
    dm_timestamps, and timestamps_stg_to_dds_job feeds BOTH timestamp kinds,
    so any schedule interleaving of the dims group yields a unique dim."""
    deliveries = [
        # order_ts EXACTLY equals delivery_ts — the hazard case
        _delivery("d1", "o1", "c1", "2023-05-10 10:00:00", "2023-05-10 10:00:00", 5, 1000.00, 10.00),
        _delivery("d2", "o2", "c2", "2023-05-10 11:00:00", "2023-05-10 10:30:00", 4, 500.00, 0.00),
    ]
    P.load_couriers_job(spark, lake, fake_api(DAY1_COURIERS))
    P.load_deliveries_job(spark, lake, fake_api(deliveries, "delivery_ts"), "2023-05-11")
    # run orders FIRST to prove it no longer feeds the calendar dim
    P.orders_stg_to_dds_job(spark, lake)
    dmt = lake.read(spark, "dds", "dm_timestamps", S.DM_TIMESTAMPS_SCHEMA)
    assert dmt.count() == 0, "orders_stg_to_dds_job must not write dm_timestamps"
    P.timestamps_stg_to_dds_job(spark, lake)
    dmt = lake.read(spark, "dds", "dm_timestamps", S.DM_TIMESTAMPS_SCHEMA)
    rows = {r.ts for r in dmt.collect()}
    # one row per DISTINCT ts across both kinds: the shared 10:00:00, the
    # 11:00:00 delivery ts, and the 10:30:00 order ts
    assert dmt.count() == 3 and len(rows) == 3
    assert dmt.groupBy("ts").count().filter("count > 1").count() == 0
    # the full downstream still works: facts resolve both dims, mart lands
    P.couriers_stg_to_dds_job(spark, lake)
    P.deliveries_stg_to_dds_job(spark, lake)
    P.courier_ledger_update_job(spark, lake)
    assert (
        lake.read(spark, "dds", "fct_deliveries", S.FCT_DELIVERIES_SCHEMA).count() == 2
    )
    assert len(_ledger(spark, lake)) == 2


def test_pagination_cap_and_short_page_stop():
    from airflow_courier_payout_ledger_pipeline_spark.sources.rest import paginate

    data = [{"_id": f"c{i}", "name": f"N{i}"} for i in range(120)]
    calls = []

    def fetch(params):
        calls.append(params["offset"])
        return data[params["offset"] : params["offset"] + params["limit"]]

    out = paginate(fetch, {"sort_field": "name", "sort_direction": "asc"})
    assert len(out) == 120
    assert calls == [0, 50, 100]  # stopped on the short page

    # hard cap: an API that never returns a short page stops at max_pages
    def endless(params):
        return [{"_id": "x"}] * params["limit"]

    capped = paginate(endless, {}, max_pages=7)
    assert len(capped) == 7 * 50


def test_distributed_fetch_paces_requests(spark):
    """The distributed fetcher must bound the aggregate API request rate: with one
    partition and a per-page sleep, n pages take >= (n-1) * sleep wall-clock."""
    import time

    from airflow_courier_payout_ledger_pipeline_spark.queries_core import (
        _fake_courier_api_page,
    )
    from airflow_courier_payout_ledger_pipeline_spark.sources.rest import (
        fetch_pages_distributed,
    )

    t0 = time.time()
    df = fetch_pages_distributed(
        spark,
        _fake_courier_api_page,
        {},
        n_pages=4,
        max_concurrency=1,
        sleep_between_pages_s=0.2,
    )
    assert df.count() == 200
    assert time.time() - t0 >= 3 * 0.2


def _lake_outputs(lake) -> dict:
    """The chain's outputs read with pyarrow straight from the lake: timestamps
    come back as naive UTC wall-clock values, so nothing here passes through
    the driver process's zone."""

    def rows(layer: str, table: str) -> list[dict]:
        files = sorted(glob.glob(os.path.join(lake.path(layer, table), "**", "*.parquet"),
                                 recursive=True))
        return sorted((r for f in files for r in pq.read_table(f).to_pylist()), key=repr)

    marks = {
        r["workflow_key"]: r["workflow_settings"]
        for layer in ("stg", "dds")
        for r in rows(layer, "srv_wf_settings")
    }
    return {
        "dm_timestamps": rows("dds", "dm_timestamps"),
        "fct_deliveries": rows("dds", "fct_deliveries"),
        "dm_courier_ledger": rows("cdm", "dm_courier_ledger"),
        "watermarks": marks,
    }


@pytest.fixture()
def new_york_driver(monkeypatch):
    """The driver process runs in New York; the JVM and the session zone (UTC)
    stay where they are."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def test_chain_does_not_depend_on_driver_time_zone(spark, tmp_path, request):
    """Payload timestamps and cursors live in the session zone: a driver in
    another zone must land the same calendar dim, facts, watermarks and mart."""
    utc = Lakehouse(str(tmp_path / "utc"))
    _run_fixture_days(spark, utc)
    want = _lake_outputs(utc)
    # anchor the UTC run itself: payload '2023-05-10 10:00:00' is 10:00 UTC
    assert datetime(2023, 5, 10, 10) in {r["ts"] for r in want["dm_timestamps"]}
    assert want["watermarks"] == {
        P.STG_WM_KEY: '{"last_loaded_ts": "2023-05-11 09:00:00"}',
        P.DDS_WM_KEY: '{"last_loaded_ts": "2023-05-11 09:00:00"}',
    }

    request.getfixturevalue("new_york_driver")
    assert time.localtime(0).tm_hour == 19  # the driver really is in New York
    ny = Lakehouse(str(tmp_path / "ny"))
    _run_fixture_days(spark, ny)
    got = _lake_outputs(ny)
    for table in want:
        assert got[table] == want[table], table


#: Spark jobs each DAG task fires on the fixture's steady day 2, pinned at
#: today's exact counts: tightening a budget is free, loosening one is a
#: reviewed decision recorded in CHANGES.md.
JOB_BUDGET = {
    "load_couriers": 4,
    "load_deliveries": 5,
    "couriers_stg_to_dds": 5,
    "timestamps_stg_to_dds": 5,
    "orders_stg_to_dds": 4,
    "deliveries_stg_to_dds": 17,
    "courier_ledger_update": 12,
}


def test_steady_day_spark_job_budget(spark, lake):
    P.run_daily(
        spark, lake, fake_api(DAY1_COURIERS), fake_api(DAY1_DELIVERIES, "delivery_ts"),
        "2023-05-11",
    )
    couriers, deliveries = fake_api(DAY2_COURIERS), fake_api(DAY2_DELIVERIES, "delivery_ts")
    steps = {
        "load_couriers": lambda: P.load_couriers_job(spark, lake, couriers),
        "load_deliveries": lambda: P.load_deliveries_job(spark, lake, deliveries, "2023-05-12"),
    }
    for name in list(JOB_BUDGET)[2:]:
        steps[name] = lambda name=name: getattr(P, f"{name}_job")(spark, lake)
    got = {name: jobs_fired(spark, f"test_job_budget:{name}", step) for name, step in steps.items()}
    over = {n: (got[n], b) for n, b in JOB_BUDGET.items() if got[n] > b}
    assert not over, f"jobs over budget (fired, budget): {over}"
