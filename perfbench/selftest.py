"""Self-test of the benchmark at a tiny size.

    python3 perfbench/selftest.py

Run from the repository root (about five minutes on four cores). It checks
that:

- ``BENCHMARK.json`` is well formed (keys, name and unit syntax, bounds);
- each workload, run untraced at a tiny size (``ledger_scan`` at sf 0.001,
  ``nightly_chain`` with days of 200 deliveries), passes its output checks and
  prints every ``end_to_end`` metric with its unit;
- each workload, run traced, also passes its output checks (the probes do not
  change results) and prints every ``per_layer`` metric with its unit;
- each output check can fail: with one oracle digest altered
  (``ledger_scan``) or one mart row's reward altered (``nightly_chain``) the
  run reports ``correct: false``;
- without the program next to it, the benchmark exits non-zero and prints no
  result.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
TINY = {
    "ledger_scan": ["--sf", "0.001"],
    "nightly_chain": ["--per-day", "200"],
}


def check_benchmark_json(bench: dict) -> None:
    assert set(bench) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }, sorted(bench)
    assert 2 <= len(bench["workloads"]) <= 8
    names = [w["name"] for w in bench["workloads"]]
    for w in bench["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in bench["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}, m
        assert 0 < m["bound"] <= 0.25, m
    for m in bench["per_layer"]:
        assert set(m) == {"name", "unit", "better"}, m
    for m in bench["end_to_end"] + bench["per_layer"]:
        names.append(m["name"])
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher"), m
    assert all(NAME.match(n) for n in names) and len(names) == len(set(names)), names
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
    assert isinstance(bench["run_seconds"], int) and 1 <= bench["run_seconds"] <= 60


def run(cwd: str, workload: str, trace: int, *extra: str) -> tuple[int, dict | None]:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
        "--seconds", "1", "--trace", str(trace), *TINY[workload], *extra,
    ]  # fmt: skip
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if proc.returncode != 0 and result is not None:
        raise AssertionError(f"{workload}: exit {proc.returncode} after printing a result")
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-3000:])
    return proc.returncode, result


def check_metrics(result: dict, wanted: list[dict], where: str) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, where
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1, where
    got = result["metrics"]
    assert set(got) == {m["name"] for m in wanted}, (where, sorted(got))
    for m in wanted:
        entry = got[m["name"]]
        assert entry["unit"] == m["unit"], (where, m["name"], entry)
        assert isinstance(entry["value"], (int, float)), (where, m["name"], entry)


def main() -> int:
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    check_benchmark_json(bench)
    print("BENCHMARK.json: well formed", flush=True)

    corrupt = {"ledger_scan": "oracle", "nightly_chain": "mart"}
    for w in bench["workloads"]:
        name = w["name"]
        code, res = run(REPO, name, 0)
        assert code == 0 and res is not None, name
        check_metrics(res, bench["end_to_end"], f"{name} untraced")
        assert res["correct"] and res["failed"] == 0, (name, res)
        for m in bench["end_to_end"]:
            assert res["metrics"][m["name"]]["value"] > 0, (name, m["name"])
        print(f"{name}: untraced run correct, {len(res['metrics'])} metrics", flush=True)

        code, res = run(REPO, name, 1)
        assert code == 0 and res is not None, name
        check_metrics(res, bench["per_layer"], f"{name} traced")
        assert res["correct"] and res["failed"] == 0, (name, res)
        print(f"{name}: traced run correct, {len(res['metrics'])} metrics", flush=True)

        code, res = run(REPO, name, 0, "--corrupt", corrupt[name])
        assert code == 0 and res is not None, name
        check_metrics(res, bench["end_to_end"], f"{name} corrupted")
        assert not res["correct"] and res["failed"] >= 1, (name, res)
        print(f"{name}: {corrupt[name]} corrupted -> correct=false", flush=True)

    bare = os.path.join(REPO, ".perfbench_work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), bare)
    try:
        code, res = run(bare, bench["workloads"][0]["name"], 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert code != 0 and res is None, (code, res)
    print("without the program: exit", code, "and no result", flush=True)
    print("perfbench selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
