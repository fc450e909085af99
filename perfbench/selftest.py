"""Self-test of the benchmark itself (not of sheep_spark):

    python3 perfbench/selftest.py

1. BENCHMARK.json is well formed, and its metric names and units are the
   ones run.py and spans.py print.
2. Every workload (including the manual ``repartition-eval``) runs
   through the same code on a ~10k-edge input: a traced run must pass
   its checks and print exactly the per-layer names; a run with one
   expected value corrupted must count a failure and print exactly the
   end-to-end names.
3. In a directory that holds only BENCHMARK.json and perfbench/, the
   command exits non-zero without printing a result.

Prints one line per check and exits non-zero on the first failure.
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
sys.path.insert(0, HERE)

import run  # noqa: E402
import spans  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
SELFTEST_RAW_EDGES = 10_000


def fail(msg: str) -> None:
    print(f"FAIL {msg}", flush=True)
    sys.exit(1)


def ok(msg: str) -> None:
    print(f"ok   {msg}", flush=True)


def check_spec(spec: dict) -> None:
    if set(spec) != {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}:
        fail(f"BENCHMARK.json keys {sorted(spec)}")
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]] + [w["name"] for w in spec["workloads"]]
    if len(names) != len(set(names)) or not all(NAME.match(n) for n in names):
        fail("metric/workload names must be unique and well formed")
    for w in spec["workloads"]:
        if set(w) != {"name", "why"} or not 0 < len(w["why"]) <= 200 or "\n" in w["why"]:
            fail(f"workload entry {w}")
        if w["name"] not in run.WORKLOADS:
            fail(f"run.py does not know workload {w['name']}")
    for m in spec["end_to_end"]:
        if set(m) != {"name", "unit", "better", "bound"} or not 0 < m["bound"] <= 0.25:
            fail(f"end_to_end entry {m}")
    for m in spec["per_layer"]:
        if set(m) != {"name", "unit", "better"}:
            fail(f"per_layer entry {m}")
    for m in spec["end_to_end"] + spec["per_layer"]:
        if not UNIT.match(m["unit"]) or m["better"] not in ("lower", "higher"):
            fail(f"unit/better of {m['name']}")
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"]
    if not setup or setup[0]["unit"] != "s" or setup[0]["better"] != "lower" \
            or setup[0]["bound"] != max(m["bound"] for m in spec["end_to_end"]):
        fail("setup_s must be present, in s, lower, with the largest bound")
    if {m["name"]: m["unit"] for m in spec["end_to_end"]} != run.E2E_UNITS:
        fail("end_to_end names/units differ from run.E2E_UNITS")
    if {m["name"]: m["unit"] for m in spec["per_layer"]} != spans.per_layer_units():
        fail("per_layer names/units differ from spans.per_layer_units()")
    ok("BENCHMARK.json is well formed and matches the printed names")


def bench(args: list[str], cwd: str = REPO) -> tuple[int, dict | None]:
    proc = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=300)
    lines = proc.stdout.strip().splitlines()
    try:
        return proc.returncode, json.loads(lines[-1]) if lines else None
    except ValueError:
        return proc.returncode, None


def check_workload(spec: dict, workload: str) -> None:
    want_layer = [m["name"] for m in spec["per_layer"]]
    want_e2e = [m["name"] for m in spec["end_to_end"]]
    common = ["--workload", workload, "--seed", "7", "--seconds", "1",
              "--raw-edges", str(SELFTEST_RAW_EDGES)]
    code, res = bench(common + ["--trace", "1"])
    if code != 0 or res is None or not res["correct"] or res["failed"] != 0:
        fail(f"{workload} traced run: exit {code}, result {res}")
    if sorted(res["metrics"]) != sorted(want_layer):
        fail(f"{workload} traced run printed other per-layer names")
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"{workload} result keys {sorted(res)}")
    ok(f"{workload}: traced run correct, per-layer names match")
    code, res = bench(common + ["--trace", "0", "--corrupt"])
    if code != 0 or res is None or res["correct"] or res["failed"] < 1:
        fail(f"{workload} corrupted expectation was not counted as a failure: {res}")
    if sorted(res["metrics"]) != sorted(want_e2e):
        fail(f"{workload} printed other end-to-end names")
    ok(f"{workload}: corrupted expectation counted as failed ({res['failed']}/{res['attempted']})")


def check_bare_directory() -> None:
    bare = os.path.join(run.WORK, f"bare-{os.getpid()}")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(os.path.join(bare, "perfbench"))
    try:
        shutil.copy(os.path.join(REPO, "BENCHMARK.json"), bare)
        for f in os.listdir(HERE):
            if os.path.isfile(os.path.join(HERE, f)):
                shutil.copy(os.path.join(HERE, f), os.path.join(bare, "perfbench"))
        code, res = bench(["--workload", "analytics", "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if code == 0 or res is not None:
        fail(f"without the program the command exited {code} with result {res}")
    ok(f"without the program the command exits {code} and prints no result")


def main() -> None:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    check_spec(spec)
    check_bare_directory()
    for workload in run.WORKLOADS:
        check_workload(spec, workload)
    print("selftest passed", flush=True)


if __name__ == "__main__":
    main()
