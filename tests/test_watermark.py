"""The parquet watermark store (``operators.watermark.WatermarkStore``): driver-side
reads and writes that fire no Spark job, atomic replacement, forward-only
advance, and compatibility with stores written by the earlier Spark writer."""

from __future__ import annotations

import os
from datetime import datetime

import pyarrow.parquet as pq
import pytest

from airflow_courier_payout_ledger_pipeline_spark.operators import watermark as W
from airflow_courier_payout_ledger_pipeline_spark.schemas import WF_SETTINGS_SCHEMA
from tests.test_pipeline import jobs_fired

D0 = datetime(2022, 1, 1)
MAR, APR = datetime(2022, 3, 1, 8, 30, 0), datetime(2022, 4, 1, 12, 0, 0)


def test_store_reads_and_writes_fire_no_spark_job(spark, tmp_path):
    store = W.WatermarkStore(str(tmp_path / "wm"))
    seen = []

    def round_trip():
        seen.append(store.read_last_loaded_ts(spark, "wf", D0))
        store.write_last_loaded_ts(spark, "wf", MAR)
        store.write_last_loaded_ts(spark, "other", APR)
        seen.append(store.read_last_loaded_ts(spark, "wf", D0))

    assert jobs_fired(spark, "test_watermark_no_jobs", round_trip) == 0
    assert seen == [D0, MAR]
    assert os.listdir(tmp_path / "wm") == [W.STATE_FILE]


def test_store_is_forward_only(spark, tmp_path):
    store = W.WatermarkStore(str(tmp_path / "wm"))
    store.write_last_loaded_ts(spark, "wf", APR)
    for older in (MAR, APR, None):  # behind, equal, empty increment: all no-ops
        store.write_last_loaded_ts(spark, "wf", older)
        assert store.read_last_loaded_ts(spark, "wf", D0) == APR


def test_failed_write_keeps_previous_cursor(spark, tmp_path, monkeypatch):
    store = W.WatermarkStore(str(tmp_path / "wm"))
    store.write_last_loaded_ts(spark, "wf", MAR)

    def torn_write(table, where, **kw):
        with open(where, "wb") as f:
            f.write(b"PAR1 half a file")
        raise OSError("disk full")

    monkeypatch.setattr(W.pq, "write_table", torn_write)
    with pytest.raises(OSError, match="disk full"):
        store.write_last_loaded_ts(spark, "wf", APR)
    monkeypatch.undo()
    assert store.read_last_loaded_ts(spark, "wf", D0) == MAR
    assert os.listdir(tmp_path / "wm") == [W.STATE_FILE]


def test_legacy_spark_written_store_reads_and_is_replaced(spark, tmp_path):
    path = str(tmp_path / "wm")
    # the layout the earlier Spark writer left behind
    rows = [
        ("wf", '{"last_loaded_ts": "2022-03-01 08:30:00"}'),
        ("other", '{"last_loaded_ts": "2022-02-01 00:00:00"}'),
    ]
    spark.createDataFrame(rows, WF_SETTINGS_SCHEMA).coalesce(1).write.parquet(path)
    names = os.listdir(path)
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    assert any(n.startswith("part-") and n.endswith(".snappy.parquet") for n in names)

    store = W.WatermarkStore(path)
    assert store.read_last_loaded_ts(spark, "wf", D0) == MAR
    store.write_last_loaded_ts(spark, "wf", APR)
    assert os.listdir(path) == [W.STATE_FILE]
    assert store.read_last_loaded_ts(spark, "wf", D0) == APR
    assert store.read_last_loaded_ts(spark, "other", D0) == datetime(2022, 2, 1)


def test_spark_and_pyarrow_read_the_store_file(spark, tmp_path):
    path = str(tmp_path / "wm")
    store = W.WatermarkStore(path)
    store.write_last_loaded_ts(spark, "wf", MAR)
    store.write_last_loaded_ts(spark, "other", APR)
    want = [
        ("other", '{"last_loaded_ts": "2022-04-01 12:00:00"}'),
        ("wf", '{"last_loaded_ts": "2022-03-01 08:30:00"}'),
    ]
    got = spark.read.schema(WF_SETTINGS_SCHEMA).parquet(path).collect()
    assert sorted(map(tuple, got)) == want
    table = pq.read_table(os.path.join(path, W.STATE_FILE))
    assert list(zip(*table.to_pydict().values())) == want
