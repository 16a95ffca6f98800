"""JDBC warehouse source/sink — the reference's actual storage interface.

The reference pipeline talks to Postgres through Airflow's PostgresHook
(modules/load_couriers.py:20) and upserts with ``INSERT .. ON CONFLICT DO
UPDATE`` (sql/couriers_stg_to_dds.sql:22-27, sql/courier_ledger_update.sql:
76-104). This module re-expresses that interface Spark-first:

- **reads** go through ``spark.read.format("jdbc")`` so Catalyst pushes filters
  and prunes columns INTO the database (``PushedFilters`` on the JDBCRelation
  scan), and a ``partition_column``/``num_partitions`` spec splits the table
  into range slices fetched by independent executors — the 100 TB ingest shape
  (a single-connection JDBC read is a one-task bottleneck however big the
  cluster);
- **upserts** use the engine-portable two-step the reference's ON CONFLICT
  compiles to at scale: bulk-load the (key-unique) increment into a staging
  table through the parallel JDBC writer, then one atomic ANSI ``MERGE``
  (Derby 10.11+, Postgres 15+; older Postgres: swap the MERGE text for
  INSERT..ON CONFLICT — same staging flow) executed driver-side in a single
  transaction. Row-at-a-time upserts through the driver do not scale past
  toy increments; per-row Python never touches this path.

Tested against Derby embedded (the JDBC engine already on Spark's classpath —
no new dependency); the surface is driver-agnostic and the tests pin the
equivalence laws JDBC upsert ≡ ``operators.merge.scd1_upsert`` /
``scd0_new_rows`` on identical inputs.
"""

from __future__ import annotations

import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from airflow_courier_payout_ledger_pipeline_spark.session import empty_frame

#: Rows per database round-trip. Too small → chatty reads; the default of many
#: drivers (Postgres: fetch-all) OOMs an executor on a big slice.
DEFAULT_FETCHSIZE = 10_000
#: Rows per INSERT batch on write (executeBatch granularity).
DEFAULT_BATCHSIZE = 10_000


def _q(ident: str) -> str:
    """Quote an identifier, preserving the exact case Spark's JDBC writer used
    to create it (unquoted identifiers would be case-folded by the database and
    miss the writer-created quoted columns)."""
    return '"' + ident.replace('"', '""') + '"'


def read_table(
    spark: SparkSession,
    url: str,
    table: str,
    *,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
    fetchsize: int = DEFAULT_FETCHSIZE,
    driver: str | None = None,
) -> DataFrame:
    """Scan a table (or ``(subquery) q`` alias) over JDBC.

    With a ``partition_column`` (+ integer bounds + ``num_partitions``) the scan
    becomes N range-predicate queries executed by N tasks in parallel; without
    it the read is a single task regardless of cluster size — fine for dims,
    wrong for facts. Filters/projections on the returned DataFrame are pushed
    into the database by Catalyst (asserted in tests/test_jdbc.py)."""
    r = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("fetchsize", str(fetchsize))
    )
    if driver:
        r = r.option("driver", driver)
    if partition_column is not None:
        if lower_bound is None or upper_bound is None or num_partitions is None:
            raise ValueError(
                "partitioned JDBC read needs partition_column, lower_bound, "
                "upper_bound, and num_partitions together"
            )
        r = (
            r.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    return r.load()


def read_query(spark: SparkSession, url: str, query: str, **kw) -> DataFrame:
    """Push an arbitrary SQL text to the database (``dbtable = (query) q``):
    the database computes the subquery; Spark reads only its result."""
    return read_table(spark, url, f"({query}) q", **kw)


def write_append(
    df: DataFrame,
    url: str,
    table: str,
    *,
    batchsize: int = DEFAULT_BATCHSIZE,
    driver: str | None = None,
    mode: str = "append",
    varchar_len: int | None = 4096,
) -> None:
    """Parallel JDBC write: each partition opens one connection and streams
    batched INSERTs — N-way parallel for an N-partition DataFrame. ``overwrite``
    drops/recreates the table from the DataFrame schema (used for staging).

    String columns are declared ``VARCHAR(varchar_len)`` instead of the
    dialect default (Derby maps StringType to CLOB, which can't be a MERGE
    join key and is pathological as any key type); an over-length value fails
    the INSERT loudly rather than truncating. ``varchar_len=None`` restores
    the dialect default."""
    from pyspark.sql.types import StringType

    w = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
        .mode(mode)
    )
    if varchar_len is not None:
        strings = [f.name for f in df.schema.fields if isinstance(f.dataType, StringType)]
        if strings:
            w = w.option(
                "createTableColumnTypes",
                ", ".join(f"{c} VARCHAR({varchar_len})" for c in strings),
            )
    if driver:
        w = w.option("driver", driver)
    w.save()


def execute(
    spark: SparkSession, url: str, *statements: str, driver: str | None = None
) -> None:
    """Run DDL/DML statements driver-side in ONE transaction (commit after the
    last, rollback on any failure). This is control-plane work — a MERGE, a
    DROP — never a data-plane row pump."""
    jvm = spark._jvm
    if driver:
        jvm.java.lang.Class.forName(driver)
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        conn.setAutoCommit(False)
        stmt = conn.createStatement()
        try:
            for sql in statements:
                stmt.execute(sql)
            conn.commit()
        except Exception:
            conn.rollback()
            raise
        finally:
            stmt.close()
    finally:
        conn.close()


def _merge_sql(
    target: str,
    staging: str,
    columns: Sequence[str],
    keys: Sequence[str],
    *,
    update_on_match: bool,
) -> str:
    on = " AND ".join(f"t.{_q(k)} = s.{_q(k)}" for k in keys)
    non_keys = [c for c in columns if c not in keys]
    ins_cols = ", ".join(_q(c) for c in columns)
    ins_vals = ", ".join(f"s.{_q(c)}" for c in columns)
    clauses = [f"MERGE INTO {target} t USING {staging} s ON ({on})"]
    if update_on_match and non_keys:
        sets = ", ".join(f"{_q(c)} = s.{_q(c)}" for c in non_keys)
        clauses.append(f"WHEN MATCHED THEN UPDATE SET {sets}")
    clauses.append(f"WHEN NOT MATCHED THEN INSERT ({ins_cols}) VALUES ({ins_vals})")
    return "\n".join(clauses)


def _staged_merge(
    increment: DataFrame,
    url: str,
    target: str,
    keys: Sequence[str],
    *,
    update_on_match: bool,
    staging: str | None,
    driver: str | None,
    check_unique: bool,
) -> None:
    from airflow_courier_payout_ledger_pipeline_spark.operators.validate import (
        assert_unique,
    )

    if check_unique:
        # ANSI MERGE rejects (or worse, nondeterministically applies) multiple
        # source rows per target row; surface the broken increment loudly.
        # At very large increments pre-dedupe with merge._dedup_within_batch
        # and pass check_unique=False.
        assert_unique(increment, keys)
    # Per-run staging name: two concurrent upserts to the same target must not
    # overwrite each other's staging rows mid-merge. Target-level MERGE
    # serialization is still the database's job (row locks); the unique name
    # only removes the staging collision. Callers pinning `staging` explicitly
    # accept single-writer semantics for that name.
    staging = staging or f"{target}_stg_{uuid.uuid4().hex[:12]}"
    write_append(increment, url, staging, driver=driver, mode="overwrite")
    try:
        execute(
            increment.sparkSession,
            url,
            _merge_sql(target, staging, increment.columns, keys, update_on_match=update_on_match),
            f"DROP TABLE {staging}",
            driver=driver,
        )
    except Exception:
        # The MERGE transaction rolled back; the staging table was committed
        # by the bulk load above and would otherwise linger. Best-effort drop
        # (its own transaction), never masking the original failure.
        try:
            execute(increment.sparkSession, url, f"DROP TABLE {staging}", driver=driver)
        except Exception:
            pass
        raise


def upsert_scd1(
    increment: DataFrame,
    url: str,
    target: str,
    keys: Sequence[str],
    *,
    staging: str | None = None,
    driver: str | None = None,
    check_unique: bool = True,
) -> None:
    """SCD1 ``ON CONFLICT DO UPDATE`` against a JDBC warehouse: parallel bulk
    load into staging, one atomic MERGE (matched → update non-key columns,
    unmatched → insert), staging dropped in the same transaction. Equivalent to
    ``operators.merge.scd1_upsert`` on a key-unique increment (law pinned in
    tests/test_jdbc.py)."""
    _staged_merge(
        increment, url, target, keys,
        update_on_match=True, staging=staging, driver=driver,
        check_unique=check_unique,
    )


def insert_ignore(
    increment: DataFrame,
    url: str,
    target: str,
    keys: Sequence[str],
    *,
    staging: str | None = None,
    driver: str | None = None,
    check_unique: bool = True,
) -> None:
    """SCD0 ``ON CONFLICT DO NOTHING``: same staged flow, MERGE inserts
    unmatched keys only — existing warehouse rows are never touched
    (modules/load_deliveries.py:62 semantics). Equivalent to
    ``operators.merge.scd0_new_rows`` + append."""
    _staged_merge(
        increment, url, target, keys,
        update_on_match=False, staging=staging, driver=driver,
        check_unique=check_unique,
    )


def sweep_stale_staging(
    spark: SparkSession, url: str, target: str, *, driver: str | None = None
) -> list[str]:
    """Drop orphaned ``{target}_stg_<hex12>`` staging tables and return their
    names. The staged-merge flow drops its staging table in the MERGE
    transaction (and best-effort on MERGE failure), but a HARD death between
    the bulk load's commit and the MERGE — kill -9, OOM, power loss — leaves
    the staging table behind with no process left to clean it. Run this at
    pipeline startup (before the first upsert of a scheduled run): any staging
    table for this target that still exists then is by definition orphaned —
    a LIVE concurrent upsert's staging table only exists between its load and
    its merge, and startup-sweep-then-write ordering within one pipeline keys
    the sweep to a moment it owns the target.

    Table discovery goes through JDBC ``DatabaseMetaData.getTables`` (engine-
    portable — no dialect-specific catalog queries) RESTRICTED to the
    connection's CURRENT catalog + schema: staging tables are created
    unqualified in their creator's default schema, so a same-shaped name in
    another schema/catalog belongs to a DIFFERENT deployment of the same
    pipeline (dev/prod schemas in one database) whose live staging table this
    sweep must never touch — the startup-sweep-then-write ownership argument
    only holds within one schema. The name match is case-insensitive
    (unquoted identifiers case-fold, e.g. Derby upper-cases) and anchored to
    the exact ``_stg_`` + 12-hex-digit shape so the target itself or a
    human-named table can never match. Each DROP is its own statement; a
    table that vanished between listing and drop (a racing startup's sweep)
    is skipped — the existence re-check escapes JDBC LIKE wildcards
    (``getSearchStringEscape``; ``_stg_``'s underscores would otherwise match
    name-twins) — but any OTHER drop failure (permissions, locks) re-raises:
    a sweep that silently leaves orphans behind defeats its purpose."""
    import re  # noqa: PLC0415

    pat = re.compile(re.escape(target) + r"_stg_[0-9a-f]{12}$", re.IGNORECASE)
    jvm = spark._jvm
    if driver:
        jvm.java.lang.Class.forName(driver)
    conn = jvm.java.sql.DriverManager.getConnection(url)
    swept: list[str] = []
    try:
        gw = spark.sparkContext._gateway
        types = gw.new_array(gw.jvm.java.lang.String, 1)
        types[0] = "TABLE"
        meta = conn.getMetaData()
        esc = meta.getSearchStringEscape()

        def _like_exact(s: str) -> str:
            return (
                s.replace(esc, esc + esc).replace("_", esc + "_").replace("%", esc + "%")
            )

        catalog, schema = conn.getCatalog(), conn.getSchema()
        schema_pat = _like_exact(schema) if schema else None
        rs = meta.getTables(catalog, schema_pat, None, types)
        stale = []
        while rs.next():
            name = rs.getString("TABLE_NAME")
            if name and pat.fullmatch(name):
                stale.append(name)
        rs.close()
        stmt = conn.createStatement()
        try:
            for name in sorted(stale):
                try:
                    # unqualified, like the creator wrote it: the listing is
                    # already scoped to this connection's schema
                    stmt.execute(f"DROP TABLE {_q(name)}")
                    swept.append(name)
                except Exception:
                    # vanished (racing sweep) → skip; still listed → real
                    # failure, surface it
                    chk = meta.getTables(catalog, schema_pat, _like_exact(name), types)
                    still_there = chk.next()
                    chk.close()
                    if still_there:
                        raise
        finally:
            stmt.close()
    finally:
        conn.close()
    return swept


class JdbcWatermarkStore:
    """The reference's ``srv_wf_settings`` cursor table on its ACTUAL medium —
    a JDBC warehouse (modules/load_deliveries.py:28-38: key→jsonb document in
    Postgres) — with the same API as the parquet ``operators.watermark.
    WatermarkStore`` so pipelines swap stores without touching plan code.

    Scale/correctness notes:
    - state is one row per workflow key — driver-side control-plane work;
      reads bind the cursor as a literal so the watermark predicate stays
      constant-foldable into the fact scan, exactly like the parquet store;
    - the advance is GUARDED IN SQL (``... AND cursor_ts < ?``): a replayed
      run carrying an older cursor (the at-least-once case) is a no-op at the
      database, not just by driver-side convention;
    - write-after-data ordering is the caller's contract (facts first, cursor
      last — SURVEY.md §3.3); a crash before the cursor write reprocesses an
      increment that the SCD0/SCD1 merges absorb idempotently.

    Values travel through PreparedStatement parameters — no SQL-literal
    escaping of user-controlled strings.
    """

    TS_FMT = "%Y-%m-%d %H:%M:%S"

    def __init__(self, url: str, table: str = "srv_wf_settings", driver: str | None = None) -> None:
        self.url = url
        self.table = table
        self.driver = driver

    def _conn(self, spark: SparkSession):
        jvm = spark._jvm
        if self.driver:
            jvm.java.lang.Class.forName(self.driver)
        return jvm.java.sql.DriverManager.getConnection(self.url)

    def ensure_table(self, spark: SparkSession) -> None:
        conn = self._conn(spark)
        try:
            stmt = conn.createStatement()
            try:
                stmt.execute(
                    f"CREATE TABLE {self.table} (wk VARCHAR(256) PRIMARY KEY, "
                    "cursor_ts VARCHAR(19), ws VARCHAR(4096))"
                )
            except Exception as e:
                # already-exists ONLY (Derby X0Y32 / Postgres 42P07 / the ANSI
                # message). A missing schema or bad database also says
                # "... does not exist" — those must propagate, not be swallowed.
                msg = str(e)
                if not ("X0Y32" in msg or "42P07" in msg or "already exists" in msg.lower()):
                    raise
            finally:
                stmt.close()
        finally:
            conn.close()

    def read_last_loaded_ts(self, spark: SparkSession, workflow_key: str, default):
        """coalesce((settings->>'last_loaded_ts')::timestamp, default)."""
        from datetime import datetime

        conn = self._conn(spark)
        try:
            ps = conn.prepareStatement(
                f"SELECT cursor_ts FROM {self.table} WHERE wk = ?"
            )
            ps.setString(1, workflow_key)
            rs = ps.executeQuery()
            raw = rs.getString(1) if rs.next() else None
            ps.close()
        finally:
            conn.close()
        if raw is None:
            return default
        return datetime.strptime(raw[:19], self.TS_FMT)

    def write_last_loaded_ts(self, spark: SparkSession, workflow_key: str, ts) -> None:
        """Advance the cursor, forward-only: the UPDATE carries the guard in its
        WHERE (older/equal replays no-op inside the database); a missing key is
        inserted. Skipped entirely for an empty increment (ts is None) —
        sql/deliveries_stg_to_dds.sql:54."""
        import json as _json

        if ts is None:
            return
        val = ts.strftime(self.TS_FMT)
        doc = _json.dumps({"last_loaded_ts": val})

        def _guarded_update(conn) -> int:
            # IS NULL arm: a row seeded with a NULL cursor (external tooling,
            # migration) must be advanceable — plain `cursor_ts < ?` is UNKNOWN
            # against NULL and would freeze the watermark forever.
            upd = conn.prepareStatement(
                f"UPDATE {self.table} SET cursor_ts = ?, ws = ? "
                "WHERE wk = ? AND (cursor_ts IS NULL OR cursor_ts < ?)"
            )
            upd.setString(1, val); upd.setString(2, doc)
            upd.setString(3, workflow_key); upd.setString(4, val)
            try:
                return upd.executeUpdate()
            finally:
                upd.close()

        conn = self._conn(spark)
        try:
            conn.setAutoCommit(False)
            try:
                if _guarded_update(conn) == 0:
                    chk = conn.prepareStatement(
                        f"SELECT 1 FROM {self.table} WHERE wk = ?"
                    )
                    chk.setString(1, workflow_key)
                    exists = chk.executeQuery().next()
                    chk.close()
                    if not exists:
                        try:
                            ins = conn.prepareStatement(
                                f"INSERT INTO {self.table} (wk, cursor_ts, ws) "
                                "VALUES (?, ?, ?)"
                            )
                            ins.setString(1, workflow_key)
                            ins.setString(2, val); ins.setString(3, doc)
                            ins.executeUpdate()
                            ins.close()
                        except Exception as e:
                            # two first-ever runs raced: the loser's INSERT hits
                            # the primary key (SQLState 23505). Fall back to the
                            # guarded UPDATE against the winner's row.
                            if "23505" not in str(e) and "duplicate" not in str(e).lower():
                                raise
                            conn.rollback()
                            _guarded_update(conn)
                conn.commit()
            except Exception:
                conn.rollback()
                raise
        finally:
            conn.close()


class JdbcWarehouse:
    """Drop-in storage backend for the promotion jobs (``plans/promotions.py``)
    over a JDBC warehouse — the reference's ACTUAL deployment topology (Airflow
    tasks promoting stg→dds→cdm inside Postgres). Implements the same surface
    the parquet ``Lakehouse`` exposes to the jobs (``read`` / ``append`` /
    ``overwrite`` / ``upsert_scd1`` / ``wm_store``), so ``run_daily`` executes
    the full DAG against a database without touching plan code —
    tests/test_jdbc.py runs the two-day e2e on Derby and pins mart equality
    with the lakehouse run.

    Tables live as ``{layer}_{table}``. Reads conform to the declared schema
    (cast per column) so JDBC type round-trips (e.g. DECIMAL scale) can't leak
    into plan semantics; a never-created table reads as empty with its schema
    (first-run bootstrap), exactly like the parquet store. Array/map/struct
    columns cross the JDBC boundary as JSON text (the reference's own jsonb
    convention) — serialized on write, ``from_json``-restored on read.

    ``partition_specs`` maps ``"layer.table"`` → ``(column, lower, upper,
    num_partitions)``: reads of those tables become N parallel range-slice
    queries instead of a one-connection scan. Dims can stay unspec'd (a
    single connection is right for small tables); FACT tables must be
    spec'd at scale — a 100 TB fact behind one JDBC connection is a
    one-task bottleneck no cluster can help."""

    def __init__(
        self,
        url: str,
        driver: str | None = None,
        partition_specs: dict[str, tuple[str, int, int, int]] | None = None,
    ) -> None:
        self.url = url
        self.driver = driver
        self.partition_specs = dict(partition_specs or {})

    def _name(self, layer: str, table: str) -> str:
        return f"{layer}_{table}"

    @staticmethod
    def _to_sql_types(df: DataFrame) -> DataFrame:
        from pyspark.sql import functions as F
        from pyspark.sql.types import ArrayType, MapType, StructType

        exprs = [
            F.to_json(F.col(f.name)).alias(f.name)
            if isinstance(f.dataType, (ArrayType, MapType, StructType))
            else F.col(f.name)
            for f in df.schema.fields
        ]
        return df.select(*exprs)

    #: SQLStates meaning "table/view not found": Derby 42X05, Postgres 42P01,
    #: SQL-standard / MySQL-family 42S02.
    _MISSING_TABLE_STATES = frozenset({"42X05", "42P01", "42S02"})

    @staticmethod
    def _java_sqlstates(e: Exception) -> set[str]:
        """Walk the py4j exception's Java cause / SQLException chains and
        collect every getSQLState() value. Empty set = no Java SQLException
        reachable (pure-Python error, or a wrapper without a SQL cause)."""
        states: set[str] = set()
        seen: set[int] = set()
        stack = [getattr(e, "java_exception", None)]
        while stack:
            je = stack.pop()
            if je is None or id(je) in seen or len(seen) > 16:
                continue
            seen.add(id(je))
            try:
                s = je.getSQLState()
                if s:
                    states.add(str(s))
            except Exception:
                pass  # not a SQLException — still follow its cause
            for meth in ("getCause", "getNextException"):
                try:
                    stack.append(getattr(je, meth)())
                except Exception:
                    pass
        return states

    def _is_missing_table(self, e: Exception, name: str) -> bool:
        """Missing-TABLE errors only — a false positive here silently turns a
        read failure into an empty bootstrap frame, and the upsert's bootstrap
        branch would then overwrite a live target. Primary signal: the REAL
        SQLState read off the Java exception chain (Derby 42X05 / Postgres
        42P01 / 42S02). When any SQLState is present, it alone decides —
        message text is driver- and locale-dependent. Only when no SQLState is
        reachable do we fall back to the message naming THIS table: a missing
        schema or database also phrases itself as "... does not exist" and
        must propagate."""
        states = self._java_sqlstates(e)
        if states:
            return bool(states & self._MISSING_TABLE_STATES)
        msg = str(e)
        if any(st in msg for st in self._MISSING_TABLE_STATES):
            return True
        return name.lower() in msg.lower() and "does not exist" in msg.lower()

    def read(self, spark: SparkSession, layer: str, table: str, schema) -> DataFrame:
        from pyspark.sql import functions as F
        from pyspark.sql.types import ArrayType, MapType, StructType

        name = self._name(layer, table)
        spec = self.partition_specs.get(f"{layer}.{table}")
        kw = {}
        if spec is not None:
            pcol, lo, hi, nparts = spec
            kw = dict(
                partition_column=pcol,
                lower_bound=lo,
                upper_bound=hi,
                num_partitions=nparts,
            )
        try:
            df = read_table(spark, self.url, name, driver=self.driver, **kw)
        except Exception as e:
            if not self._is_missing_table(e, name):
                raise
            return empty_frame(spark, schema)
        return df.select(
            *[
                F.from_json(F.col(f.name), f.dataType).alias(f.name)
                if isinstance(f.dataType, (ArrayType, MapType, StructType))
                else F.col(f.name).cast(f.dataType).alias(f.name)
                for f in schema.fields
            ]
        )

    def append(self, df: DataFrame, layer: str, table: str) -> None:
        write_append(
            self._to_sql_types(df), self.url, self._name(layer, table), driver=self.driver
        )

    def overwrite(self, df: DataFrame, layer: str, table: str) -> None:
        write_append(
            self._to_sql_types(df), self.url, self._name(layer, table),
            driver=self.driver, mode="overwrite",
        )

    def _is_empty_or_missing(self, spark: SparkSession, name: str) -> bool:
        """Cheap bootstrap probe: 1-row scan, no schema-cast projection."""
        try:
            probe = read_table(spark, self.url, name, driver=self.driver)
        except Exception as e:
            if not self._is_missing_table(e, name):
                raise
            return True
        return probe.limit(1).isEmpty()

    def upsert_scd1(
        self, spark: SparkSession, df: DataFrame, layer: str, table: str, schema, keys,
        tiebreaker=None,
    ) -> None:
        from airflow_courier_payout_ledger_pipeline_spark.operators.merge import (
            _dedup_within_batch,
        )

        name = self._name(layer, table)
        # Lakehouse-parity semantics: within-batch duplicates collapse to one
        # row per key (last wins under a tiebreaker) BEFORE the merge — a page
        # overlap in an at-least-once extract must upsert, not crash the MERGE.
        deduped = _dedup_within_batch(df, list(keys), tiebreaker, keep_last=True)
        sql_df = self._to_sql_types(deduped)
        if self._is_empty_or_missing(spark, name):
            # bootstrap: no target yet (or an empty one) — plain create/replace
            write_append(sql_df, self.url, name, driver=self.driver, mode="overwrite")
            return
        upsert_scd1(
            sql_df, self.url, name, list(keys), driver=self.driver,
            check_unique=False,  # just deduplicated above
        )

    def wm_store(self, layer: str, table: str = "srv_wf_settings"):
        key = (layer, table)
        cache = getattr(self, "_wm_stores", None)
        if cache is None:
            cache = self._wm_stores = {}
        if key not in cache:
            # cached per layer: the ensure-once flag survives across the DAG's
            # jobs instead of re-paying a CREATE round-trip per store lookup
            cache[key] = _EnsuringStore(
                JdbcWatermarkStore(
                    self.url, table=self._name(layer, table), driver=self.driver
                )
            )
        return cache[key]


class _EnsuringStore:
    """Lazily creates the cursor table on first use so wm_store() stays cheap
    and side-effect-free (parquet-store parity: reading a missing store yields
    the default; writing creates it)."""

    def __init__(self, inner: JdbcWatermarkStore) -> None:
        self._inner = inner
        self._ensured = False

    def _ensure(self, spark: SparkSession) -> None:
        if not self._ensured:
            self._inner.ensure_table(spark)
            self._ensured = True

    def read_last_loaded_ts(self, spark: SparkSession, workflow_key: str, default):
        self._ensure(spark)
        return self._inner.read_last_loaded_ts(spark, workflow_key, default)

    def write_last_loaded_ts(self, spark: SparkSession, workflow_key: str, ts) -> None:
        self._ensure(spark)
        return self._inner.write_last_loaded_ts(spark, workflow_key, ts)
