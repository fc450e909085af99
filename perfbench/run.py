"""sheep_spark benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload pipeline-cli --seed 1 --seconds 5 --trace 0

Workloads (why each exists: BENCHMARK.json; definitions: README.md):

- ``pipeline-cli``: scripts/run_pipeline.py as a child process on a raw
  XS1 edge list (k=8, partitioned parquet sink);
- ``repartition-eval``: a saved tree and sequence re-partitioned at
  k=8 and k=64, each followed by the full 10-metric evaluate;
- ``analytics``: PageRank (10 supersteps), connected components and
  triangle count on a canonical parquet graph.

Inputs come from ``--seed`` (gen.py, cached under perfbench/.cache by
seed and size, together with the oracle expectations). An in-process
run sets up Spark and discards one warm-up pass; every run then measures
passes for ``--seconds`` (at least ``MIN_PASSES``) and checks each one. With
``--trace 1`` it then runs one more pass with spans on, writes the spans
to perfbench/.results and reports per-layer metrics instead.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
the line before it holds the details (all samples, run context).
Exits non-zero, printing no result, when the program is not beside the
benchmark.

The command itself only supervises: it runs the benchmark in a child
process in a session of its own and returns once that child and every
process it started have ended. Spark's JVM outlives the Python driver
that stopped it by about a second, and the CLI's JVM outlives the CLI.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
RESULTS = os.path.join(HERE, ".results")
WORK = os.path.join(HERE, ".work")
TMP = os.path.join(WORK, "tmp")  # shared: holds the compiled C kernel cache

WORKLOADS = ("pipeline-cli", "repartition-eval", "analytics")
KIND = {"pipeline-cli": "cli", "repartition-eval": "repart", "analytics": "analytics"}
RAW_EDGES = {"pipeline-cli": 200_000, "repartition-eval": 100_000, "analytics": 100_000}
SEED_SALT = {"cli": 0, "repart": 1, "analytics": 2}  # a different graph per workload

E2E_UNITS = {"setup_s": "s", "wall_s": "s", "driver_peak_rss_mb": "MB", "success_rate": "ratio"}
# Untraced passes a run measures at least, whatever --seconds says. An
# analytics pass after the warm-up still reads ~10% slower than the next,
# so analytics measures a fixed count: were it to follow --seconds, a
# slow host would measure fewer, and slower, passes. A traced run
# measures one untraced pass.
MIN_PASSES = {"pipeline-cli": 1, "repartition-eval": 1, "analytics": 3}
HARD_LIMIT_S = 160.0  # the benchmark process arms SIGALRM with this
WORKER_LIMIT_S = 166.0  # the supervisor stops the benchmark process after this
EXIT_GRACE_S = 4.0  # leftover processes get this long to end by themselves
RESERVE_S = 15.0  # stop, probe and output after the last pass
LAZY_NOTE = ("Spark is lazy: a job is charged to the span whose call ran the action "
             "(collect/count/write), not to the call that built its plan.")


class PassTimeout(Exception):
    pass


def program_present() -> bool:
    return all(os.path.isfile(os.path.join(REPO, p)) for p in
               ("sheep_spark/__init__.py", "scripts/run_pipeline.py", "bench.py"))


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def child_env(run_dir: str) -> dict:
    """Environment shared by this process and its children: every temp
    and Spark scratch file stays inside the checkout."""
    env = dict(os.environ)
    env["TMPDIR"] = TMP
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    env["SPARK_GRAFT_CPUS"] = str(nproc())
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") +
                                f" -Djava.io.tmpdir={TMP} -XX:-UsePerfData").strip()
    return env


def prepare(workload: str, seed: int, raw_edges: int, env: dict) -> tuple[str, dict]:
    """Cached input dir and its expectations; generation runs in its own
    process, apart from every metric."""
    kind = KIND[workload]
    inp = os.path.join(CACHE, f"{kind}-s{seed}-e{raw_edges}")
    if not os.path.isdir(inp):
        os.makedirs(CACHE, exist_ok=True)
        subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), "--kind", kind,
             "--seed", str(seed * len(SEED_SALT) + SEED_SALT[kind]),
             "--raw-edges", str(raw_edges), "--out", inp],
            env={**env, "SPARK_GRAFT_NO_CSWEEP": "1"}, check=True, timeout=120,
        )
    # build step: compile the driver's C kernels into the shared cache
    from sheep_spark import _csweep

    _csweep.loaded()
    with open(os.path.join(inp, "expected.json")) as f:
        return inp, json.load(f)


def run_context(spark_cores: int, csweep: int) -> dict:
    sys.path.insert(0, REPO)
    import bench

    sha = None
    if os.path.isdir(os.path.join(REPO, ".git")):
        got = subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True, text=True)
        sha = got.stdout.strip() or None
    # the probe's cgroup quota would write outside the checkout; run it plain
    bench._cgroup_setup = lambda name, n_cpus: None
    return {
        "nproc": nproc(),
        "spark_cores": spark_cores,
        "csweep_compiled": csweep,
        "git_sha": sha,
        "host_mem_per_core": bench.host_mem_probe(cores=2, dur=1.0),
        "env": {k: v for k, v in sorted(os.environ.items())
                if k.startswith(("MALLOC_", "ARROW_", "SPARK_GRAFT_", "OMP_"))},
    }


def _median(xs):
    return statistics.median(xs) if xs else None


def end_to_end(samples: dict, attempted: int, failed: int) -> dict:
    vals = {
        "setup_s": _median(samples["setup_s"]),
        "wall_s": _median(samples["wall_s"]),
        "driver_peak_rss_mb": _median(samples["peak_rss_mb"]),
        "success_rate": 1.0 - failed / attempted,
    }
    return {k: {"value": vals[k], "unit": E2E_UNITS[k]} for k in E2E_UNITS}


class Run:
    """State of one benchmark invocation: samples, failures, deadline."""

    def __init__(self, args, inp: str, expected: dict, env: dict, run_dir: str):
        self.args, self.inp, self.expected, self.env, self.run_dir = args, inp, expected, env, run_dir
        self.t_start = time.perf_counter()
        self.samples = {"setup_s": [], "wall_s": [], "step_s": [], "peak_rss_mb": []}
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.extra: dict = {}

    def remaining(self) -> float:
        return HARD_LIMIT_S - (time.perf_counter() - self.t_start)

    def attempt(self, fn, check, record: bool):
        """Run one pass and its check; failures are counted, not raised."""
        self.attempted += 1
        try:
            res = fn()
            bad = check(res)
        except Exception as e:  # a failed pass is a result, not a crash
            res, bad = None, [f"{type(e).__name__}: {e}"]
            traceback.print_exc(file=sys.stderr)
        if bad:
            self.failed += 1
            self.problems += bad[:5]
            return None
        if record:
            self.samples["wall_s"].append(res["wall_s"])
            self.samples["step_s"].extend(res["steps"])
            if "phases_s" in res:
                self.extra.setdefault("phases_s", []).append(res["phases_s"])
        return res

    def measure(self, one_pass, check) -> list:
        """Passes until --seconds have elapsed and MIN_PASSES are done,
        while the next pass fits before the hard limit."""
        least = 1 if self.args.trace else MIN_PASSES[self.args.workload]
        t0 = time.perf_counter()
        done: list[float] = []
        while not done or ((len(done) < least or time.perf_counter() - t0 < self.args.seconds)
                           and self.remaining() > RESERVE_S + 1.5 * max(done)):
            t1 = time.perf_counter()
            self.attempt(one_pass, check, record=True)
            done.append(time.perf_counter() - t1)
        return done


def corrupt(expected: dict) -> None:
    """Self-test hook: make one expected value wrong."""
    if "metrics" in expected:
        for m in expected["metrics"].values():
            m["ecv_down"] += 1
    else:
        expected["triangles"] += 1


def run_cli(run: Run, tracer_out: dict) -> dict:
    import workloads

    env = dict(run.env, PERFBENCH_TRACE="0", PERFBENCH_RUN_ID=f"{os.getpid()}")
    expected = run.expected
    tags = iter(range(1000))

    def one(trace: bool = False):
        tag = str(next(tags))
        e = dict(env, PERFBENCH_TRACE="1" if trace else "0")
        res = workloads.cli_pass(run.inp, run.run_dir, e, max(run.remaining() - 5, 10), tag)
        if not trace:
            run.samples["setup_s"].extend(res["setup_s"])
            run.samples["peak_rss_mb"].append(res["peak_rss_mb"])
        run.extra["csweep"] = res["side"]["csweep_compiled"]
        run.extra.setdefault("reports", []).append(res["report"])
        return res

    def check(res):
        try:
            return workloads.check_cli(res, run.inp, expected)
        finally:
            shutil.rmtree(res["sink"], ignore_errors=True)

    run.measure(one, check)
    if run.args.trace:
        res = run.attempt(lambda: one(trace=True), check, record=False)
        if res is not None:
            side = res["side"]
            t_exit = res["t_launch"] + res["wall_s"]
            partition_s = res["steps"][0]
            counters = dict(side["counters"], **{"cli.partition_s": partition_s,
                                                 "cli.partition_share": partition_s / res["wall_s"]})
            tracer_out.update(spans=side["spans"], counters=counters,
                              lo=res["t_launch"], hi=t_exit, wall=res["wall_s"],
                              csweep=side["csweep_compiled"])
    report = run.extra["reports"][-1]  # partition quality at k=8, as the CLI printed it
    run.extra["ecv_down_per_edge"] = report["ecv_down_per_edge"]
    run.extra["down_balance_ratio"] = report["down_balance"] / -(-report["n_edges"] // workloads.CLI_K)
    return {"spark_cores": nproc(), "csweep": run.extra.pop("csweep")}


def run_inprocess(run: Run, tracer_out: dict) -> dict:
    import spans
    import workloads

    tracer = spans.Tracer(str(os.getpid()))
    spans.install(tracer)
    from sheep_spark import _csweep, session

    workload = run.args.workload
    tracer.enabled = bool(run.args.trace)
    spark = session.get_spark(f"perfbench-{workload}", cores=nproc())
    tracer.enabled = False
    run.samples["setup_s"].extend(tracer.setup_s)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        if workload == "repartition-eval":
            def run_pass():
                return workloads.repart_pass(spark, run.inp, tracer)

            def check(res):
                return workloads.check_repart(res, run.expected)
        else:
            def run_pass():
                return workloads.analytics_pass(spark, run.inp)

            def check(res):
                return workloads.check_analytics(res, run.inp, run.expected)

        def one():
            try:
                return run_pass()
            finally:
                spark.catalog.clearCache()

        t0 = time.perf_counter()
        run.attempt(one, lambda res: [], record=False)  # warm-up, discarded
        run.extra["warmup_s"] = time.perf_counter() - t0
        walls = run.measure(one, check)
        run.extra["pass_walls_s"] = walls
        if run.args.trace:
            def traced():
                tracer.enabled = True
                try:
                    with tracer.span("pass") as root:
                        res = one()
                finally:
                    tracer.enabled = False
                tracer_out.update(lo=root["start"], hi=root["end"], wall=res["wall_s"])
                return res

            if run.attempt(traced, check, record=False) is not None:
                tracer.collect_spark(spark.sparkContext)
                tracer_out.update(spans=tracer.spans, counters=tracer.counters)
        csweep = int(_csweep.loaded() is not None)
        tracer_out["csweep"] = csweep
        cores = spark.sparkContext.defaultParallelism
    finally:
        t0 = time.perf_counter()
        spark.stop()
        run.extra["stop_s"] = time.perf_counter() - t0
    import resource

    run.samples["peak_rss_mb"].append(resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0)
    return {"spark_cores": cores, "csweep": csweep}


def traced_metrics(run: Run, t: dict) -> dict:
    """Per-layer metrics from the traced pass, and the spans file."""
    import spans
    import workloads

    wl = run.args.workload
    # the CLI's spans include its own session setup; in-process the traced
    # pass is the root span and setup was recorded before it
    missing = spans.missing_calls(t["spans"], workloads.EXPECTED_CALLS[wl])
    if missing:
        sys.stderr.write(f"perfbench: traced {wl} never called {', '.join(missing)}\n")
        sys.exit(3)
    layer_spans = [s for s in t["spans"] if s["name"] != "pass"]
    for s in layer_spans:
        if s["parent"] is not None and not any(p["id"] == s["parent"] for p in layer_spans):
            s["parent"] = None  # children of the pass root are top-level layer spans
    per_layer = spans.layer_metrics(layer_spans, t["counters"])
    covered = spans.covered_seconds(layer_spans, t["lo"], t["hi"])
    untraced = statistics.median(run.samples["wall_s"]) if run.samples["wall_s"] else t["wall"]
    per_layer["csweep.compiled"] = t["csweep"]
    per_layer["trace.uncovered_share"] = max(t["wall"] - covered, 0.0) / t["wall"]
    per_layer["trace.overhead_s"] = t["wall"] - untraced
    os.makedirs(RESULTS, exist_ok=True)
    path = os.path.join(RESULTS, f"{wl}-seed{run.args.seed}.spans.json")
    with open(path, "w") as f:
        json.dump({"workload": wl, "seed": run.args.seed, "traced_wall_s": t["wall"],
                   "untraced_wall_s_median": untraced, "note": LAZY_NOTE,
                   "per_layer": per_layer, "spans": t["spans"]}, f, indent=1)
    sys.stderr.write(f"perfbench: spans written to {path}\n")
    units = spans.per_layer_units()
    return {k: {"value": per_layer[k], "unit": units[k]} for k in units}


def main() -> None:
    ap = argparse.ArgumentParser(description="sheep_spark benchmark (one run of one workload)")
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--raw-edges", type=int, help="input size override (self-test)")
    ap.add_argument("--corrupt", action="store_true", help="corrupt one expected value (self-test)")
    args = ap.parse_args()
    if not program_present():
        sys.stderr.write(f"perfbench: sheep_spark, scripts/run_pipeline.py or bench.py missing under {REPO}\n")
        sys.exit(2)

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "local"), exist_ok=True)
    os.makedirs(TMP, exist_ok=True)
    env = child_env(run_dir)
    os.environ.update(env)
    sys.path.insert(0, HERE)
    sys.path.insert(0, REPO)

    def on_alarm(signum, frame):
        raise PassTimeout("pass exceeded the run's time limit")

    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(int(HARD_LIMIT_S))
    try:
        t0 = time.perf_counter()
        inp, expected = prepare(args.workload, args.seed, args.raw_edges or RAW_EDGES[args.workload], env)
        prep_s = time.perf_counter() - t0
        if args.corrupt:
            corrupt(expected)
        run = Run(args, inp, expected, env, run_dir)
        tracer_out: dict = {}
        if args.workload == "pipeline-cli":
            info = run_cli(run, tracer_out)
        else:
            info = run_inprocess(run, tracer_out)
        signal.alarm(0)
        t0 = time.perf_counter()
        context = run_context(info["spark_cores"], info["csweep"])
        run.extra["context_s"] = time.perf_counter() - t0
    finally:
        signal.alarm(0)
        shutil.rmtree(run_dir, ignore_errors=True)
        # session.get_spark leaves one package zip per driver process
        for stale in glob.glob(os.path.join(TMP, "sheep_spark_pyfiles_*.zip")):
            os.remove(stale)

    if args.trace and tracer_out.get("spans"):
        metrics = traced_metrics(run, tracer_out)
    elif args.trace:  # the traced pass failed, and was counted as such
        import spans

        metrics = {k: {"value": 0, "unit": u} for k, u in spans.per_layer_units().items()}
    else:
        metrics = end_to_end(run.samples, run.attempted, run.failed)
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "input": os.path.relpath(inp, REPO), "n_raw": expected["n_raw"],
        "n_edges": expected["n_edges"], "n_vertices": expected["n_vertices"],
        "prep_s": prep_s, "prep": expected["prep"], "samples": run.samples,
        "problems": run.problems, "context": context, **run.extra,
    }
    if run.samples["step_s"]:
        detail["step_s"] = statistics.median(run.samples["step_s"])
        if args.workload == "analytics":
            detail["pagerank_edges_per_s"] = expected["n_directed_edges"] / detail["step_s"]
        if args.workload == "pipeline-cli":
            # share of the CLI's wall that partitioning (load + tree_partition) takes
            detail["partition_share"] = detail["step_s"] / statistics.median(run.samples["wall_s"])
    os.makedirs(RESULTS, exist_ok=True)
    with open(os.path.join(RESULTS, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump({"detail": detail, "metrics": metrics}, f, indent=1)
    print(json.dumps({"detail": detail}), flush=True)
    print(json.dumps({"correct": run.failed == 0 and run.attempted > 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}), flush=True)


# -- supervisor: the command's own process ---------------------------------

def _proc_table() -> dict[int, tuple[int, int]]:
    """pid → (parent pid, session id) of every live process."""
    table = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except (OSError, IndexError):
                continue
            table[int(d)] = (int(fields[1]), int(fields[3]))
    return table


def descendants(sid: int) -> list[int]:
    """Processes below this one, or in session ``sid``."""
    table = _proc_table()
    me, found = os.getpid(), set()
    frontier = [me]
    while frontier:
        parent = frontier.pop()
        kids = [p for p, (pp, _) in table.items() if pp == parent and p not in found]
        found.update(kids)
        frontier += kids
    found.update(p for p, (_, s) in table.items() if s == sid)
    found.discard(me)
    return sorted(found)


def reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_all(sid: int, grace: float) -> None:
    """Wait ``grace`` seconds for every process below this one to end, then
    SIGTERM them, then SIGKILL them; return once none is left."""
    t0 = time.monotonic()
    while True:
        reap()
        left = descendants(sid)
        if not left:
            return
        waited = time.monotonic() - t0
        if waited > grace:
            sig = signal.SIGKILL if waited > grace + 2 else signal.SIGTERM
            for pid in left:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        if waited > grace + 10:
            sys.stderr.write(f"perfbench: processes {left} did not end\n")
            return
        time.sleep(0.05)


class Stopped(Exception):
    pass


def supervise(argv: list[str]) -> int:
    """Run the benchmark in a child in its own session; return its exit
    code once it and everything it started have ended."""
    try:  # orphans (a JVM whose driver exited) are re-parented here
        import ctypes

        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass  # the session id still finds them

    def on_signal(signum, frame):
        raise Stopped(signal.Signals(signum).name)

    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, on_signal)
    worker = subprocess.Popen([sys.executable, os.path.abspath(__file__), *argv],
                              env=dict(os.environ, PERFBENCH_WORKER="1"), start_new_session=True)
    grace, code = EXIT_GRACE_S, 1
    try:
        code = worker.wait(timeout=WORKER_LIMIT_S)
        code = code if code >= 0 else 1
    except subprocess.TimeoutExpired:
        sys.stderr.write(f"perfbench: run exceeded {WORKER_LIMIT_S:.0f} s, stopped\n")
        grace = 0.0
    except Stopped as e:
        sys.stderr.write(f"perfbench: {e}, stopping the run\n")
        grace = 0.0
    finally:
        for sig in (signal.SIGTERM, signal.SIGINT):
            signal.signal(sig, signal.SIG_IGN)  # finish stopping, whatever comes
        stop_all(worker.pid, grace)
        shutil.rmtree(os.path.join(WORK, f"run-{worker.pid}"), ignore_errors=True)
    return code


if __name__ == "__main__":
    if os.environ.get("PERFBENCH_WORKER") == "1":
        main()
    else:
        sys.exit(supervise(sys.argv[1:]))
