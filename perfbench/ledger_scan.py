"""``ledger_scan``: the mart family's read path over seeded TPC-H-like tables.

A pass constructs, plans and fully materializes each query of ``QUERIES`` once,
in order, through the registry's public callables. Every output is compared
with the query's DuckDB oracle from the registry by order-insensitive digest.
"""

from __future__ import annotations

import glob
import os
import time

import duckdb

import probes
import tpch
from common import Context, Op, digest, run_check, run_op

# The benchmark's run budget (48 runs in 3,420 s) leaves out the costliest
# query (incremental_mart_maintenance) and the three over the events table
# (json_extract, event_sessionization, rolling_distinct_users_7d).
QUERIES = (
    "courier_ledger",
    "courier_ledger_sql",
    "courier_ledger_bucketed",
    "tier_payout",
    "dim_lookup_join",
    "filtered_agg",
    "scd0_insert_ignore",
    "scd1_upsert",
    "watermark_filter",
    "timestamp_dim",
    "salted_join_agg",
)


class LedgerScan:
    min_passes = 1

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.sf = ctx.sizes["sf"]
        self.sf_dir = os.path.join(ctx.work, "data")
        self.digests: dict[str, list[str]] = {q: [] for q in QUERIES}
        self.input_bytes = 0

    def describe(self) -> dict:
        return {"sf": self.sf, "rows": tpch.sizes(self.sf), "queries": list(QUERIES)}

    def setup(self) -> list[Op]:
        """Write the inputs and run an untimed pass; returns its operations."""
        from airflow_courier_payout_ledger_pipeline_spark.registry import all_queries

        self.input_bytes = tpch.write(self.sf_dir, self.ctx.seed, self.sf)
        self.queries = all_queries()
        # untimed warm-up: bucketed lake, schema memos, codegen, JIT
        return self.run_pass("warmup", traced=False, check=False)

    def has_next(self) -> bool:
        return True

    def _query(self, name: str, label: str, traced: bool) -> tuple[dict, object]:
        spark = self.ctx.spark
        sc = spark.sparkContext
        layers: dict = {}
        sc.setJobGroup(f"{label}:{name}#construct", name)
        t0 = time.perf_counter()
        if traced:
            with probes.Py4jCounter(spark) as counter:
                df = self.queries[name](spark, self.sf_dir)
            layers["py4j_calls"] = counter.calls
        else:
            df = self.queries[name](spark, self.sf_dir)
        construct_s = time.perf_counter() - t0
        sc.setJobGroup(f"{label}:{name}", name)
        t1 = time.perf_counter()
        plan = df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        table = df.toArrow()
        t3 = time.perf_counter()
        layers.update(construct_s=construct_s, plan_s=t2 - t1, execute_s=t3 - t2)
        if traced:
            layers["exchanges"] = probes.count_exchanges(plan)
        return layers, table

    def run_pass(self, label: str, traced: bool, check: bool = True) -> list[Op]:
        ops = []
        for name in QUERIES:
            op, out = run_op(name, lambda n=name: self._query(n, label, traced))
            if out is not None:
                op.layers, table = out
                if check:
                    dop, got = run_op("digest", lambda t=table: digest(t))
                    self.digests[name].append(got if dop.ok else f"no digest: {dop.error}")
            ops.append(op)
        return ops

    def oracle_digests(self) -> dict[str, str]:
        from airflow_courier_payout_ledger_pipeline_spark.registry import all_oracles

        oracles = all_oracles()
        con = duckdb.connect()
        try:
            for t in tpch.TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(self.sf_dir, t)}.parquet'"
                )
            out = {q: digest(con.execute(oracles[q]).arrow()) for q in QUERIES}
        finally:
            con.close()
        if self.ctx.corrupt == "oracle":
            q = QUERIES[0]
            out[q] = out[q][:-1] + ("0" if out[q][-1] != "0" else "1")
        return out

    def finish(self) -> tuple[int, list[str]]:
        """Compare every timed output with its oracle. Returns the number of
        extra checks made (none: each comparison belongs to its query's
        operation) and one message per operation whose output differs. If the
        oracles cannot be computed, every comparison fails."""
        expected: dict[str, str] = {}
        error = run_check("oracles", lambda: expected.update(self.oracle_digests()))
        failures = [
            f"{q}: {error}" if error else f"{q}: output {got} differs from oracle {expected[q]}"
            for q in QUERIES
            for got in self.digests[q]
            if error or got != expected[q]
        ]
        return 0, failures

    def storage_ratio(self) -> float:
        """Bytes of the bucketed lakes ``courier_ledger_bucketed`` writes
        (``cl_bucketed_*`` temp roots) per input parquet byte."""
        lakes = glob.glob(os.path.join(self.ctx.work, "tmp", "cl_bucketed_*"))
        return sum(probes.tree_bytes(d) for d in lakes) / max(self.input_bytes, 1)
