"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload {nightly_chain,ledger_scan} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root. The process sets up the workload (generated
inputs, Spark session on ``local[k]``, untimed warm-up), then runs timed passes
until ``--seconds`` have passed (at least one), checks every output, and
prints as its last stdout line one JSON object:

    {"correct": bool, "attempted": int, "failed": int, "metrics": {...}}

With ``--trace 0`` the metrics are the ``end_to_end`` list of
``BENCHMARK.json``; with ``--trace 1`` they are the ``per_layer`` list, and
passes alternate between untraced and traced so the run also reports the
tracing overhead. The line before it (``perfbench-detail: {...}``) holds the
per-pass, per-query and per-job breakdown and the run environment.

Everything the run writes goes under ``.perfbench_work/`` in the repository
root and is removed at exit.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK_ROOT = os.path.join(REPO, ".perfbench_work")
MAX_CPUS = 4

#: workload -> default sizes (overridable for the self-test)
SIZES = {
    "nightly_chain": {"couriers": 500, "per_day": 1_000},
    "ledger_scan": {"sf": 0.02},
}
MAX_PASSES = 60


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SIZES))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # size overrides and output corruption, for perfbench/selftest.py
    p.add_argument("--sf", type=float)
    p.add_argument("--per-day", type=int)
    p.add_argument("--corrupt", choices=("oracle", "mart"))
    return p.parse_args(argv)


def _environment(work: str, cpus: int) -> None:
    """Exported before the JVM starts, so the JVM and its Python workers
    inherit them: workers import the package from the repository root, and
    temporary files stay inside the run's work directory."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = REPO + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    if REPO not in sys.path:
        sys.path.insert(0, REPO)


def _start_spark(work: str, cpus: int, trace: bool):
    from airflow_courier_payout_ledger_pipeline_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
            }
        )
    spark = get_spark(
        "perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _versions(spark) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "spark": spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
    }


# --- metrics -------------------------------------------------------------


def _pass_layers(p: dict, events) -> dict:
    """One traced pass -> {per-layer metric: value}, summed over its operations."""
    from nightly_chain import JOB_METRICS

    out: dict[str, float] = {}

    def add(name: str, v: float) -> None:
        out[name] = out.get(name, 0) + v

    for op in p["ops"]:
        lay = op["layers"]
        for k in ("construct_s", "py4j_calls"):
            add(f"registry.{k}", lay.get(k, 0))
        for k in ("plan_s", "exchanges", "execute_s"):
            add(f"operators.{k}", lay.get(k, 0))
        for k in ("fetch_s", "pages", "records"):
            add(f"sources.rest.{k}", lay.get(k, 0))
        for k in ("bytes_written", "files_written", "live_files"):
            add(f"sources.lakehouse.{k}", lay.get(k, 0))
        add("operators.merge.new_facts_per_record", lay.get("new_facts_per_record", 0))
        add("operators.validate.quarantined_rows", lay.get("quarantined_rows", 0))
        group = f"{p['label']}:{op['name']}"
        op["events"] = events.group(group)
        for k in events.FIELDS:
            add(f"operators.{k}", op["events"][k])
        add("registry.construct_jobs", events.group(group + "#construct")["jobs"])
        if op["name"] in JOB_METRICS:
            add(JOB_METRICS[op["name"]], op["seconds"])
    for k, v in p["cpu"].items():
        add(f"session.{k}_cpu_s", v)
    return out


def _run_passes(wl, cpu, seconds: float, trace: bool) -> list[dict]:
    """Timed passes until ``seconds`` have passed, and at least the workload's
    ``min_passes``. A traced run alternates untraced and traced passes and
    runs at least untraced, traced, untraced, so the warm-up drift between
    consecutive passes cancels out of the tracing overhead."""
    passes: list[dict] = []
    min_passes = max(wl.min_passes, 3 if trace else 1)
    t0 = time.monotonic()
    while len(passes) < MAX_PASSES and wl.has_next():
        traced = trace and len(passes) % 2 == 1
        label = f"p{len(passes)}"
        c0 = cpu.sample() if traced else None
        ops = wl.run_pass(label, traced)
        passes.append(
            {
                "label": label,
                "traced": traced,
                # summed operation times: probes between operations are excluded
                "seconds": sum(op.seconds for op in ops),
                "ops": [vars(op) for op in ops],
                "cpu": {k: v - c0[k] for k, v in cpu.sample().items()} if traced else {},
            }
        )
        if len(passes) >= min_passes and time.monotonic() - t0 >= seconds:
            break
    return passes


def _measure(args, work: str, cpus: int, sizes: dict) -> dict:
    """Set up, run the passes and check the outputs on one Spark session."""
    import probes
    from common import Context

    spark = _start_spark(work, cpus, bool(args.trace))
    try:
        jvm_pid = spark.sparkContext._gateway.proc.pid
        session_s = time.monotonic() - T_START
        ctx = Context(spark, args.seed, work, args.corrupt, sizes)
        if args.workload == "ledger_scan":
            from ledger_scan import LedgerScan as Workload
        else:
            from nightly_chain import NightlyChain as Workload
        wl = Workload(ctx)
        warmup = wl.setup()
        setup_s = time.monotonic() - T_START
        passes = _run_passes(wl, probes.ProcessCpu(jvm_pid), args.seconds, bool(args.trace))
        extra_checks, check_failures = wl.finish()
        return {
            "session_s": session_s,
            "setup_s": setup_s,
            "passes": passes,
            "warmup_ops": [vars(op) for op in warmup],
            "extra_checks": extra_checks,
            "check_failures": check_failures,
            "peak_rss_mb": probes.peak_rss_mb(jvm_pid),
            "storage_ratio": wl.storage_ratio(),
            "environment": {
                "nproc": os.cpu_count(),
                "master": f"local[{cpus}]",
                "shuffle_partitions": cpus,
                **_versions(spark),
                "seed": args.seed,
                "sizes": wl.describe(),
            },
        }
    finally:
        _stop_spark(spark)


def _metrics(run: dict, trace: bool, work: str, per_layer: list[dict]) -> tuple[dict, dict]:
    """(metric values by name, the detail record)."""
    from statistics import median, quantiles

    passes = run["passes"]
    ops = run["warmup_ops"] + [op for p in passes for op in p["ops"]]
    failures = [f"{op['name']}: {op['error']}" for op in ops if not op["ok"]]
    failures += run["check_failures"]
    attempted = len(ops) + run["extra_checks"]
    untraced = [p for p in passes if not p["traced"]]
    op_times = [op["seconds"] for p in untraced for op in p["ops"]]
    values = {
        "setup_s": run["setup_s"],
        "pass_s": median([p["seconds"] for p in untraced]),
        "success_rate": 1.0 - len(failures) / attempted,
        "lake_bytes_per_input_byte": run["storage_ratio"],
    }
    detail = {
        "environment": run["environment"],
        "session_s": run["session_s"],
        "setup_s": run["setup_s"],
        "attempted": attempted,
        "failures": failures,
        # a run pools only 14 (nightly_chain) or 11 (ledger_scan) operations,
        # so these percentiles are single operations' times: reported, not gated
        "op_s": {
            "p50": median(op_times),
            "p90": quantiles(op_times, n=10, method="inclusive")[8],
            "samples": len(op_times),
        },
        "peak_rss_mb": run["peak_rss_mb"],
    }
    if trace:
        import probes

        events = probes.EventLog(os.path.join(work, "eventlog"))
        traced = [p for p in passes if p["traced"]]
        per_pass = [_pass_layers(p, events) for p in traced]
        for m in per_layer:
            values[m["name"]] = median([pp.get(m["name"], 0) for pp in per_pass])
        values["session.peak_rss_mb"] = run["peak_rss_mb"]
        values["trace.overhead_s"] = median([p["seconds"] for p in traced]) - values["pass_s"]
        detail["trace_overhead_s"] = values["trace.overhead_s"]
    detail["passes"] = [
        {k: p[k] for k in ("label", "traced", "seconds", "cpu")}
        | {"ops": [{k: v for k, v in op.items() if k != "error"} for op in p["ops"]]}
        for p in passes
    ]
    return values, detail


def main(argv=None) -> int:
    args = _args(argv)
    from common import PACKAGE

    if not os.path.isdir(os.path.join(REPO, PACKAGE)):
        print(f"perfbench: package {PACKAGE!r} not found under {REPO}", file=sys.stderr)
        return 2
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    cpus = min(MAX_CPUS, len(os.sched_getaffinity(0)))
    sizes = dict(SIZES[args.workload])
    for key, val in (("sf", args.sf), ("per_day", args.per_day)):
        if val is not None:
            sizes[key] = val
    work = os.path.join(WORK_ROOT, f"{args.workload}-{args.seed}-{os.getpid()}")
    _environment(work, cpus)
    try:
        run = _measure(args, work, cpus, sizes)
        values, detail = _metrics(run, bool(args.trace), work, bench["per_layer"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass  # another run is using it
    wanted = bench["per_layer" if args.trace else "end_to_end"]
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    failed = len(detail["failures"])
    print("perfbench-detail: " + json.dumps({"workload": args.workload, **detail}, default=str))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": detail["attempted"],
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
