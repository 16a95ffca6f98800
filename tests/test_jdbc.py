"""JDBC source/sink against embedded Derby (the JDBC engine on Spark's own
classpath): partitioned parallel reads, filter pushdown into the database, and
the staged-MERGE upserts' equivalence to the DataFrame merge operators."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airflow_courier_payout_ledger_pipeline_spark.operators.merge import (
    scd0_new_rows,
    scd1_upsert,
)
from airflow_courier_payout_ledger_pipeline_spark.sources import jdbc

DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


@pytest.fixture()
def url(tmp_path):
    return f"jdbc:derby:{tmp_path}/db;create=true"


def _rows(df, cols=None):
    cols = cols or df.columns
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_roundtrip_and_partitioned_parallel_read(spark, url):
    src = spark.range(1000).select(
        F.col("id"), (F.col("id") % 7).alias("grp"), (F.col("id") * 2).alias("v")
    )
    jdbc.write_append(src, url, "t_round", driver=DRIVER, mode="overwrite")
    back = jdbc.read_table(
        spark, url, "t_round",
        partition_column="id", lower_bound=0, upper_bound=1000, num_partitions=4,
        driver=DRIVER,
    )
    # the range spec must split the scan into 4 independent slice queries
    assert back.rdd.getNumPartitions() == 4
    assert _rows(back) == _rows(src)


def test_filter_and_projection_push_into_database(spark, url):
    """The filter and the column pruning must reach the JDBCRelation scan —
    i.e. run inside the database — not in Spark after a full-table fetch."""
    src = spark.range(100).select(F.col("id"), (F.col("id") % 3).alias("k"))
    jdbc.write_append(src, url, "t_push", driver=DRIVER, mode="overwrite")
    q = (
        jdbc.read_table(spark, url, "t_push", driver=DRIVER)
        .filter(F.col("k") == 1)
        .select("id")
    )
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "k" in plan.split("PushedFilters")[1][:80]
    # projection pruned to the single selected column (+ the pushed filter col)
    assert q.count() == 33
    assert q.columns == ["id"]


def test_read_query_pushes_subquery_to_database(spark, url):
    src = spark.range(50).select(F.col("id"), (F.col("id") % 5).alias("k"))
    jdbc.write_append(src, url, "t_sub", driver=DRIVER, mode="overwrite")
    # alias quoted: Derby would case-fold an unquoted alias to N
    agg = jdbc.read_query(
        spark, url, 'SELECT "k", count(*) AS "n" FROM t_sub GROUP BY "k"', driver=DRIVER
    )
    assert sorted((r["k"], r["n"]) for r in agg.collect()) == [(i, 10) for i in range(5)]


def test_upsert_scd1_matches_dataframe_merge(spark, url):
    target0 = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k int, name string, v int"
    )
    inc = spark.createDataFrame(
        [(2, "B", 200), (4, "d", 40)], "k int, name string, v int"
    )
    jdbc.write_append(target0, url, "t_scd1", driver=DRIVER, mode="overwrite")
    jdbc.upsert_scd1(inc, url, "t_scd1", ["k"], driver=DRIVER)
    got = jdbc.read_table(spark, url, "t_scd1", driver=DRIVER)
    expected = scd1_upsert(target0, inc, ["k"])
    assert _rows(got, ["k", "name", "v"]) == _rows(expected, ["k", "name", "v"])
    # idempotence: replaying the same increment changes nothing
    jdbc.upsert_scd1(inc, url, "t_scd1", ["k"], driver=DRIVER)
    again = jdbc.read_table(spark, url, "t_scd1", driver=DRIVER)
    assert _rows(again, ["k", "name", "v"]) == _rows(expected, ["k", "name", "v"])


def test_insert_ignore_matches_scd0(spark, url):
    target0 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, name string")
    inc = spark.createDataFrame([(2, "XX"), (3, "c")], "k int, name string")
    jdbc.write_append(target0, url, "t_scd0", driver=DRIVER, mode="overwrite")
    jdbc.insert_ignore(inc, url, "t_scd0", ["k"], driver=DRIVER)
    got = jdbc.read_table(spark, url, "t_scd0", driver=DRIVER)
    expected = target0.unionByName(scd0_new_rows(inc, target0, ["k"]))
    assert _rows(got, ["k", "name"]) == _rows(expected, ["k", "name"])


def test_duplicate_key_increment_is_rejected_loudly(spark, url):
    target0 = spark.createDataFrame([(1, "a")], "k int, name string")
    dup_inc = spark.createDataFrame([(2, "x"), (2, "y")], "k int, name string")
    jdbc.write_append(target0, url, "t_dup", driver=DRIVER, mode="overwrite")
    with pytest.raises(ValueError, match="unique"):
        jdbc.upsert_scd1(dup_inc, url, "t_dup", ["k"], driver=DRIVER)
    # target untouched, staging never merged
    got = jdbc.read_table(spark, url, "t_dup", driver=DRIVER)
    assert _rows(got, ["k", "name"]) == [(1, "a")]


def test_failed_merge_rolls_back_and_keeps_target(spark, url):
    target0 = spark.createDataFrame([(1, "a")], "k int, name string")
    jdbc.write_append(target0, url, "t_rb", driver=DRIVER, mode="overwrite")
    with pytest.raises(Exception):
        jdbc.execute(
            spark, url,
            'UPDATE t_rb SET "name" = \'z\'',
            "THIS IS NOT SQL",
            driver=DRIVER,
        )
    got = jdbc.read_table(spark, url, "t_rb", driver=DRIVER)
    assert _rows(got, ["k", "name"]) == [(1, "a")]  # first statement rolled back


def test_failed_upsert_drops_unique_staging_table(spark, url):
    """A failed MERGE must not leave its committed staging table behind, and
    concurrent-safe staging names are unique per run (no fixed {target}_stg
    that two writers would clobber)."""
    target0 = spark.createDataFrame([(1, "a")], "k int, v string")
    jdbc.write_append(target0, url, "t_clean", driver=DRIVER, mode="overwrite")
    # increment carries a column the target lacks -> MERGE INSERT list fails
    inc = spark.createDataFrame([(2, "b", "extra")], "k int, v string, w string")
    with pytest.raises(Exception):
        jdbc.upsert_scd1(inc, url, "t_clean", ["k"], driver=DRIVER)
    leftovers = jdbc.read_table(
        spark, url,
        '(SELECT TABLENAME FROM SYS.SYSTABLES WHERE TABLETYPE = \'T\') cat',
        driver=DRIVER,
    )
    names = [r["TABLENAME"] for r in leftovers.collect()]
    assert not [n for n in names if "_STG" in n.upper()], names
    got = jdbc.read_table(spark, url, "t_clean", driver=DRIVER)
    assert _rows(got, ["k", "v"]) == [(1, "a")]  # target untouched


def test_missing_table_classified_by_real_sqlstate(spark, url):
    """The bootstrap branch keys off the REAL SQLState walked from the Java
    exception chain (Derby 42X05), not message text; a different SQL error
    (missing COLUMN, 42X04) must not classify as a missing table even though
    its message also says 'not in any table'."""
    from airflow_courier_payout_ledger_pipeline_spark.sources.jdbc import JdbcWarehouse

    wh = JdbcWarehouse(url, driver=DRIVER)
    try:
        jdbc.read_table(spark, url, "dds_nope", driver=DRIVER).collect()
        raise AssertionError("read of missing table should raise")
    except Exception as e:
        assert "42X05" in wh._java_sqlstates(e)
        assert wh._is_missing_table(e, "dds_nope")

    t = spark.createDataFrame([(1,)], "k int")
    jdbc.write_append(t, url, "t_state", driver=DRIVER, mode="overwrite")
    try:
        jdbc.read_table(
            spark, url, '(SELECT "no_such_col" FROM t_state) q', driver=DRIVER
        ).collect()
        raise AssertionError("read of missing column should raise")
    except Exception as e:
        states = wh._java_sqlstates(e)
        assert states and "42X05" not in states, states
        assert not wh._is_missing_table(e, "t_state")


def test_jdbc_watermark_cursor_guarded_advance(spark, url):
    from datetime import datetime

    from airflow_courier_payout_ledger_pipeline_spark.sources.jdbc import (
        JdbcWatermarkStore,
    )

    store = JdbcWatermarkStore(url, driver=DRIVER)
    store.ensure_table(spark)
    store.ensure_table(spark)  # idempotent
    d0 = datetime(2022, 1, 1)
    assert store.read_last_loaded_ts(spark, "wf_a", d0) == d0  # coalesce default
    t1, t2 = datetime(2022, 5, 1, 12, 0, 0), datetime(2022, 6, 1, 8, 30, 0)
    store.write_last_loaded_ts(spark, "wf_a", t1)
    assert store.read_last_loaded_ts(spark, "wf_a", d0) == t1
    store.write_last_loaded_ts(spark, "wf_a", t2)  # forward: advances
    assert store.read_last_loaded_ts(spark, "wf_a", d0) == t2
    store.write_last_loaded_ts(spark, "wf_a", t1)  # replayed older run: no-op
    assert store.read_last_loaded_ts(spark, "wf_a", d0) == t2
    store.write_last_loaded_ts(spark, "wf_a", None)  # empty increment: no-op
    assert store.read_last_loaded_ts(spark, "wf_a", d0) == t2
    # keys are independent
    store.write_last_loaded_ts(spark, "wf_b", t1)
    assert store.read_last_loaded_ts(spark, "wf_b", d0) == t1
    assert store.read_last_loaded_ts(spark, "wf_a", d0) == t2


def test_jdbc_watermark_interchangeable_with_parquet_store(spark, url, tmp_path):
    """Same API, same observable behavior as operators.watermark.WatermarkStore:
    a pipeline can swap stores without changing plan code."""
    from datetime import datetime

    from airflow_courier_payout_ledger_pipeline_spark.operators.watermark import (
        WatermarkStore,
    )
    from airflow_courier_payout_ledger_pipeline_spark.sources.jdbc import (
        JdbcWatermarkStore,
    )

    jw = JdbcWatermarkStore(url, driver=DRIVER)
    jw.ensure_table(spark)
    pw = WatermarkStore(str(tmp_path / "wm"))
    d0 = datetime(2022, 1, 1)
    assert jw.read_last_loaded_ts(spark, "wf", d0) == pw.read_last_loaded_ts(spark, "wf", d0) == d0
    # non-monotone on purpose: both stores are forward-only, so the February
    # replay is a no-op in each and they agree after every write
    seq = [datetime(2022, 3, 1), datetime(2022, 2, 1), datetime(2022, 4, 1)]
    held = [datetime(2022, 3, 1), datetime(2022, 3, 1), datetime(2022, 4, 1)]
    for ts, want in zip(seq, held):
        jw.write_last_loaded_ts(spark, "wf", ts)
        pw.write_last_loaded_ts(spark, "wf", ts)
        assert jw.read_last_loaded_ts(spark, "wf", d0) == want
        assert pw.read_last_loaded_ts(spark, "wf", d0) == want


def test_full_dag_runs_on_jdbc_warehouse_and_matches_lakehouse(spark, url, tmp_path):
    """The complete reference DAG (load → stg → dds → cdm, two daily runs with
    renames, duplicates, and late arrivals) executed UNCHANGED against a JDBC
    warehouse — the reference's actual deployment topology — and the resulting
    mart must equal the parquet-lakehouse run row for row (cross-storage
    equivalence of the whole pipeline, not just one operator)."""
    from airflow_courier_payout_ledger_pipeline_spark import schemas as S
    from airflow_courier_payout_ledger_pipeline_spark.plans import promotions as P
    from airflow_courier_payout_ledger_pipeline_spark.sources.jdbc import JdbcWarehouse
    from airflow_courier_payout_ledger_pipeline_spark.sources.lakehouse import Lakehouse
    from tests.test_pipeline import (
        DAY1_COURIERS,
        DAY1_DELIVERIES,
        DAY2_COURIERS,
        DAY2_DELIVERIES,
        fake_api,
    )

    wh = JdbcWarehouse(url, driver=DRIVER)
    lake = Lakehouse(str(tmp_path / "lake"))
    for store in (wh, lake):
        P.run_daily(
            spark, store, fake_api(DAY1_COURIERS),
            fake_api(DAY1_DELIVERIES, "delivery_ts"), "2023-05-11",
        )
        P.run_daily(
            spark, store, fake_api(DAY2_COURIERS),
            fake_api(DAY2_DELIVERIES, "delivery_ts"), "2023-05-12",
        )

    cols = [f.name for f in S.DM_COURIER_LEDGER_SCHEMA.fields]
    jdbc_mart = wh.read(spark, "cdm", "dm_courier_ledger", S.DM_COURIER_LEDGER_SCHEMA)
    lake_mart = lake.read(spark, "cdm", "dm_courier_ledger", S.DM_COURIER_LEDGER_SCHEMA)
    assert _rows(jdbc_mart, cols) == _rows(lake_mart, cols)
    assert jdbc_mart.count() > 0
    # and the JDBC run is idempotent: replaying day 2 changes nothing
    P.run_daily(
        spark, wh, fake_api(DAY2_COURIERS),
        fake_api(DAY2_DELIVERIES, "delivery_ts"), "2023-05-12",
    )
    again = wh.read(spark, "cdm", "dm_courier_ledger", S.DM_COURIER_LEDGER_SCHEMA)
    assert _rows(again, cols) == _rows(lake_mart, cols)


def test_warehouse_upsert_dedupes_within_batch_like_lakehouse(spark, url):
    """A page-overlap increment carrying the same key twice must upsert (one
    row per key), exactly like the parquet Lakehouse path — not crash the
    MERGE, and not persist duplicates through the bootstrap branch."""
    from airflow_courier_payout_ledger_pipeline_spark.sources.jdbc import JdbcWarehouse
    from pyspark.sql.types import (
        IntegerType, StringType, StructField, StructType,
    )

    schema = StructType(
        [StructField("k", IntegerType()), StructField("name", StringType())]
    )
    wh = JdbcWarehouse(url, driver=DRIVER)
    dup_inc = spark.createDataFrame([(1, "x"), (1, "x"), (2, "y")], schema)
    # bootstrap day: duplicates must collapse before the create
    wh.upsert_scd1(spark, dup_inc, "dds", "t_dedup", schema, ["k"])
    got = wh.read(spark, "dds", "t_dedup", schema)
    assert got.count() == 2
    # steady-state day: overlap again, still one row per key, update applied
    dup_inc2 = spark.createDataFrame([(2, "Y2"), (2, "Y2"), (3, "z")], schema)
    wh.upsert_scd1(spark, dup_inc2, "dds", "t_dedup", schema, ["k"])
    got2 = {r["k"]: r["name"] for r in wh.read(spark, "dds", "t_dedup", schema).collect()}
    assert got2 == {1: "x", 2: "Y2", 3: "z"}


def test_jdbc_watermark_advances_over_null_cursor_row(spark, url):
    """A row seeded with a NULL cursor (external tooling/migration) must be
    advanceable — a plain `cursor_ts < ?` guard is UNKNOWN against NULL and
    would freeze the watermark forever."""
    from datetime import datetime

    from airflow_courier_payout_ledger_pipeline_spark.sources.jdbc import (
        JdbcWatermarkStore,
    )

    store = JdbcWatermarkStore(url, driver=DRIVER)
    store.ensure_table(spark)
    jvm = spark._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    st.execute("INSERT INTO srv_wf_settings (wk, cursor_ts, ws) VALUES ('wf_n', NULL, NULL)")
    st.close(); conn.close()
    d0 = datetime(2022, 1, 1)
    assert store.read_last_loaded_ts(spark, "wf_n", d0) == d0  # NULL -> default
    store.write_last_loaded_ts(spark, "wf_n", datetime(2022, 7, 1))
    assert store.read_last_loaded_ts(spark, "wf_n", d0) == datetime(2022, 7, 1)


def test_missing_schema_error_propagates_not_bootstraps(spark, tmp_path):
    """A typo'd database path must raise, never silently read-as-empty (which
    would flip upsert into a destructive bootstrap overwrite)."""
    from airflow_courier_payout_ledger_pipeline_spark.sources.jdbc import JdbcWarehouse
    from pyspark.sql.types import IntegerType, StructField, StructType

    schema = StructType([StructField("k", IntegerType())])
    # create=true omitted -> connecting to a nonexistent database errors
    wh = JdbcWarehouse(f"jdbc:derby:{tmp_path}/no_such_db", driver=DRIVER)
    with pytest.raises(Exception):
        wh.read(spark, "dds", "t", schema)


# --- property: staged-MERGE upsert ≡ DataFrame SCD1 on arbitrary increments -------

import hypothesis.strategies as st  # noqa: E402
from hypothesis import HealthCheck, given, settings  # noqa: E402

_SET = settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

_state_strategy = st.tuples(
    # target: key -> value (unique keys by construction)
    st.dictionaries(st.integers(0, 8), st.integers(0, 99), min_size=1, max_size=6),
    # increment: list of (key, value) — duplicate keys ALLOWED (page overlap)
    st.lists(
        st.tuples(st.integers(0, 8), st.integers(100, 199)), min_size=1, max_size=8
    ),
)


@_SET
@given(data=_state_strategy)
def test_staged_merge_equals_dataframe_scd1_on_random_states(spark, tmp_path_factory, data):
    """For ANY target state and ANY increment (overlapping, disjoint, duplicate
    keys), the JDBC staged MERGE converges to the same state as the DataFrame
    scd1_upsert with the same deterministic tiebreaker (last = highest value)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        IntegerType, StructField, StructType,
    )

    from airflow_courier_payout_ledger_pipeline_spark.sources.jdbc import JdbcWarehouse

    target0, inc_rows = data
    schema = StructType(
        [StructField("k", IntegerType()), StructField("v", IntegerType())]
    )
    tdf = spark.createDataFrame(sorted(target0.items()), schema)
    idf = spark.createDataFrame(inc_rows, schema)

    url = f"jdbc:derby:{tmp_path_factory.mktemp('prop')}/db;create=true"
    wh = JdbcWarehouse(url, driver=DRIVER)
    wh.overwrite(tdf, "dds", "t_prop", )
    wh.upsert_scd1(spark, idf, "dds", "t_prop", schema, ["k"], tiebreaker=F.col("v"))
    got = sorted(
        (r["k"], r["v"]) for r in wh.read(spark, "dds", "t_prop", schema).collect()
    )

    expected_state = dict(target0)
    for k, v in sorted(inc_rows, key=lambda t: t[1]):  # highest v wins per key
        expected_state[k] = v
    assert got == sorted(expected_state.items())


def test_warehouse_partition_specs_parallelize_fact_reads(spark, url, tmp_path):
    """A fact table named in partition_specs reads as N parallel range slices;
    the whole DAG still converges to the identical mart (spec'd vs unspec'd
    warehouse runs over the same database shape)."""
    from airflow_courier_payout_ledger_pipeline_spark.sources.jdbc import JdbcWarehouse
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    schema = StructType(
        [StructField("k", LongType()), StructField("v", IntegerType())]
    )
    plain = JdbcWarehouse(url, driver=DRIVER)
    src = spark.range(200).select(F.col("id").alias("k"), (F.col("id") % 9).cast("int").alias("v"))
    plain.overwrite(src, "dds", "facts", )
    spec = JdbcWarehouse(
        url, driver=DRIVER, partition_specs={"dds.facts": ("k", 0, 200, 4)}
    )
    got_plain = plain.read(spark, "dds", "facts", schema)
    got_spec = spec.read(spark, "dds", "facts", schema)
    assert got_plain.rdd.getNumPartitions() == 1
    assert got_spec.rdd.getNumPartitions() == 4
    assert _rows(got_spec, ["k", "v"]) == _rows(got_plain, ["k", "v"])
    # unspec'd tables on the spec'd warehouse still read single-connection
    assert spec.read(spark, "dds", "facts2" , schema).count() == 0  # missing -> empty


def test_empty_first_run_bootstraps_cleanly_on_jdbc(spark, url):
    """Cold start with an API returning NOTHING: every job must no-op cleanly
    (no tables half-created, no cursor written), and a later real run must
    proceed as if it were day one."""
    from airflow_courier_payout_ledger_pipeline_spark import schemas as S
    from airflow_courier_payout_ledger_pipeline_spark.plans import promotions as P
    from airflow_courier_payout_ledger_pipeline_spark.sources.jdbc import JdbcWarehouse
    from tests.test_pipeline import DAY1_COURIERS, DAY1_DELIVERIES, fake_api

    wh = JdbcWarehouse(url, driver=DRIVER)
    P.run_daily(spark, wh, fake_api([]), fake_api([], "delivery_ts"), "2023-05-11")
    assert (
        wh.read(spark, "cdm", "dm_courier_ledger", S.DM_COURIER_LEDGER_SCHEMA).count()
        == 0
    )
    # real day after the empty one: full pipeline output appears
    P.run_daily(
        spark, wh, fake_api(DAY1_COURIERS),
        fake_api(DAY1_DELIVERIES, "delivery_ts"), "2023-05-11",
    )
    mart = wh.read(spark, "cdm", "dm_courier_ledger", S.DM_COURIER_LEDGER_SCHEMA)
    assert mart.count() > 0


def test_sweep_stale_staging_drops_only_orphans(spark, url):
    """A hard death between the staging load's commit and the MERGE leaves an
    orphan {target}_stg_<hex12> table no except-block can clean (the process
    is gone). The startup sweep must drop exactly those — never the target,
    never a human-named table that happens to share the prefix shape."""
    src = spark.range(5).select(F.col("id"), (F.col("id") * 2).alias("v"))
    jdbc.write_append(src, url, "t_swp", driver=DRIVER, mode="overwrite")
    # simulate the orphan: a committed staging load whose merging process died
    jdbc.write_append(src, url, "t_swp_stg_deadbeef0123", driver=DRIVER)
    # near-misses that must survive: wrong hex length / non-hex suffix
    jdbc.write_append(src, url, "t_swp_stg_xyz", driver=DRIVER)
    jdbc.write_append(src, url, "t_swp_stg_0123", driver=DRIVER)

    swept = jdbc.sweep_stale_staging(spark, url, "t_swp", driver=DRIVER)
    assert [s.lower() for s in swept] == ["t_swp_stg_deadbeef0123"]
    # target and near-misses intact; the orphan is gone
    assert jdbc.read_table(spark, url, "t_swp", driver=DRIVER).count() == 5
    assert jdbc.read_table(spark, url, "t_swp_stg_xyz", driver=DRIVER).count() == 5
    with pytest.raises(Exception):
        jdbc.read_table(spark, url, "t_swp_stg_deadbeef0123", driver=DRIVER).count()
    # idempotent: a second sweep finds nothing
    assert jdbc.sweep_stale_staging(spark, url, "t_swp", driver=DRIVER) == []
