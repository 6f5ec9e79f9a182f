#!/usr/bin/env python3
"""Encode/decode/commit benchmark for cpp_parquet_spark.

    python3 perfbench/run.py --workload repo_pipeline --seed 1 --seconds 8 --trace 0

Run from the root of a checkout.  One process runs one workload (see
``workloads.py``) as a closed loop from a single client against a Spark
``local[k]`` session, k = min(4, usable cores); ``--workload all`` runs
every workload, each in its own process, so no JVM outlives its
workload.  Inputs are generated from ``--seed``; every operation's
output is checked exactly against its input.

Set-up: the session is started once (the JVM launch), then input
generation, load and warm-up run ``SETUP_ROUNDS`` times in it;
``setup_s`` is the start time plus the median round.  Operations then
run back to back for ``--seconds`` (at least ``MIN_OPS``); the median
leaves out the first ``WARM_OPS``.

``--trace 0`` prints the end-to-end metrics of ``BENCHMARK.json``.
``--trace 1`` spends half the time untraced and half in a session with
the Spark event log on and driver-side spans around the engine's
planning calls, then replays the kernels and the Parquet writer on one
core, and prints the per-layer metrics (see README.md).

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  Everything the benchmark writes lives in
``.perfbench_work/`` under the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_ROUNDS = 3
# The first two operations in a fresh JVM are still JIT-compiling their
# code paths, so they are run and checked but left out of the median.
# Later operations still vary by about a tenth within a run, so at least
# four steady ones follow and one slow one cannot set the median.
WARM_OPS = 2
MIN_OPS = WARM_OPS + 4
TRACE_OPS = WARM_OPS + 1  # per half of a traced run
MAX_CORES = 4


def host() -> dict:
    """Cores and driver heap sized from this host, not from defaults."""
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    return {
        "cores": cores,
        "nproc": os.cpu_count(),
        "mem_total_mb": mem_kb // 1024,
        "driver_mb": max(1024, min(mem_kb // 1024 // 8, 4096)),
    }


def start_session(work: str, box: dict, event_dir: str | None = None):
    """A local[k] session whose scratch, temp and event-log files all
    stay under ``work``.  The first call launches the gateway JVM; later
    calls start a new SparkContext in it."""
    from pyspark.sql import SparkSession

    from cpp_parquet_spark.session import MALLOC_ENV, apply_malloc_env

    apply_malloc_env()
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": f"{box['driver_mb']}m",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(2 * box["cores"]),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
        "spark.eventLog.enabled": str(event_dir is not None).lower(),
    }
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    conf.update({f"spark.executorEnv.{k}": v for k, v in MALLOC_ENV.items()})
    builder = SparkSession.builder.master(f"local[{box['cores']}]").appName("perfbench")
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(spark) -> None:
    """Stop the session and the gateway JVM, and wait until the JVM and
    every Python worker it started have exited."""
    from pyspark import SparkContext

    from layers import descendants

    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    started = descendants(os.getpid())
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    # the worker daemon and its workers exit when their pipes to the JVM close
    deadline = time.monotonic() + 10
    while (alive := [p for p in started if os.path.exists(f"/proc/{p}")]) and time.monotonic() < deadline:
        time.sleep(0.05)
    for pid in alive:
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)


def cpu_counters() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat: a shared host that steals
    CPU time shows here, not in the benchmark's own numbers."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def measure(wl, work: str, seconds: float, min_ops: int, tag: str, job_group=None) -> dict:
    """Closed loop: the next operation starts when the previous one has
    finished and been checked.  Each operation writes to its own fresh
    directory, kept until the run ends, so no deletion (and its discard
    I/O) lands inside the loop."""
    durations: list[float] = []
    attempted = failed = 0
    deadline = time.perf_counter() + seconds
    while attempted < min_ops or time.perf_counter() < deadline:
        attempted += 1
        scratch = fresh_dir(os.path.join(work, f"{tag}-{attempted}"))
        if job_group is not None:
            job_group(f"op-{attempted}")
        try:
            durations.append(wl.op(scratch))
        except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            failed += 1
    return {"durations": durations, "attempted": attempted, "failed": failed, "scratch": scratch}


def setup(wl, work: str, box: dict) -> tuple[object, float, list[float]]:
    """Start the session once (timed), then SETUP_ROUNDS timed rounds of
    input generation + load + warm-up in it.  The expected results are
    computed once, untimed."""
    from gen import digest

    t0 = time.perf_counter()
    spark = start_session(work, box)
    start_s = time.perf_counter() - t0
    rounds, digests = [], set()
    for r in range(SETUP_ROUNDS):
        t0 = time.perf_counter()
        paths = wl.generate(os.path.join(work, f"input-{r}"))
        wl.load(spark, paths)
        wl.warm()
        rounds.append(time.perf_counter() - t0)
        digests.add(digest(paths))
        shutil.rmtree(os.path.join(work, f"input-{r - 1}"), ignore_errors=True)
    if len(digests) != 1:
        raise RuntimeError("the same seed generated different input files")
    wl.prepare()
    return spark, start_s, rounds


def steady_median(durations: list[float]) -> float:
    return statistics.median(durations[WARM_OPS:])


def end_to_end(wl, run: dict, setup_s: float, chunks) -> dict:
    from workloads import chunk_totals

    totals = chunk_totals(chunks)
    # only operations that passed their check count as throughput
    steady = run["durations"][WARM_OPS:]
    return {
        "setup_s": setup_s,
        "op_mb_per_s": wl.plain_bytes / 1e6 / statistics.median(steady) if steady else 0.0,
        "compression_ratio": totals["plain_bytes"] / totals["encoded_bytes"],
    }


def traced(wl, spark, work: str, box: dict, seconds: float, untraced: list[float]) -> tuple[dict, dict, object]:
    """Restart the session with the event log on, run the traced half,
    replay kernels and writer, and return (per-layer metrics, run,
    session)."""
    import layers
    from cpp_parquet_spark import engine
    from workloads import chunk_totals

    event_dir = os.path.join(work, "events")
    spark.stop()
    spark = start_session(work, box, event_dir=event_dir)
    sc = spark.sparkContext
    wl.load(spark, wl.paths)
    sc.setJobGroup("warm", "warm-up")
    wl.warm()
    wl.spans = spans = layers.Spans()
    undo = [
        spans.wrap(engine, "presample_codecs", "engine.presample_s"),
        spans.wrap(engine, "partition_for_encoding", "engine.skew_sample_s"),
    ]
    try:
        run = measure(wl, work, seconds, TRACE_OPS, "traced", job_group=lambda g: sc.setJobGroup(g, g))
    finally:
        for u in undo:
            u()
    ops = len(run["durations"])
    groups = {f"op-{i}" for i in range(1, run["attempted"] + 1)}
    sc.setJobGroup("aux", "chunk table and pruning")
    out = layers.closure(spans, ops, wl.OP_SPANS)
    out["trace_overhead_frac"] = steady_median(run["durations"]) / steady_median(untraced) - 1
    chunks = wl.chunk_table(run["scratch"])
    part_bytes = chunk_totals(chunks)["part_bytes"]
    out["engine.partition_bytes_max_over_median"] = part_bytes[-1] / statistics.median(part_bytes)
    out.update(layers.replay_kernels(chunks, wl.table.schema, spans.results.get("engine.presample_s", {})))
    out.update(wl.layer_extras(run["scratch"]))
    spark.stop()
    (log,) = glob.glob(os.path.join(event_dir, "*"))
    out.update(layers.event_log_layers(log, groups, ops))
    return out, run, spark


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> dict:
    t_start = time.perf_counter()
    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("cpp_parquet_spark") is None:
        raise SystemExit("perfbench: cpp_parquet_spark not found; run from the repository root")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    box = host()
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = fresh_dir(os.path.join(work_root, f"{name}-{os.getpid()}"))
    # before pyspark is imported: temp files, Spark scratch and the
    # Python workers' environment all stay in the work dir
    os.environ["TMPDIR"] = tempfile.tempdir = fresh_dir(os.path.join(work, "tmp"))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # spark-submit's launcher JVM: no hsperfdata file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tempfile.tempdir}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(0, HERE)
    import layers
    from workloads import WORKLOADS

    wl = WORKLOADS[name](seed, box["cores"], layers.Spans())
    spark = None
    try:
        spark, start_s, rounds = setup(wl, work, box)
        setup_s = start_s + statistics.median(rounds)
        wl.spans.samples.clear()
        info = {"workload": name, "seed": seed, **box, "rows": wl.rows, "plain_bytes": wl.plain_bytes,
                "session_start_s": start_s, "setup_rounds_s": rounds, **wl.facts}
        steal0, total0 = cpu_counters()
        with layers.RssSampler() as rss:
            run = measure(wl, work, seconds / 2, TRACE_OPS, "op") if trace else measure(wl, work, seconds, MIN_OPS, "op")
        steal1, total1 = cpu_counters()
        info["op_s"] = run["durations"]
        info["cpu_steal_frac"] = (steal1 - steal0) / max(total1 - total0, 1)
        attempted, failed = run["attempted"], run["failed"]
        if trace:
            layer, traced_run, spark = traced(wl, spark, work, box, seconds / 2, run["durations"])
            layer["peak_rss_mb"] = rss.peak / 1e6
            layer["engine.salted_keys"] = float(wl.facts.get("salted_keys", 0))
            metrics = dict.fromkeys((m["name"] for m in spec["per_layer"]), 0.0)
            unknown = set(layer) - set(metrics)
            if unknown:
                raise RuntimeError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
            metrics.update(layer)
            info["traced_op_s"] = traced_run["durations"]
            attempted += traced_run["attempted"]
            failed += traced_run["failed"]
            wanted = spec["per_layer"]
        else:
            metrics = end_to_end(wl, run, setup_s, wl.chunk_table(run["scratch"]))
            wanted = spec["end_to_end"]
        info.update({"failed_op_frac": failed / attempted, "phases_s": dict(wl.spans.samples),
                     "wall_s": time.perf_counter() - t_start})
        print(json.dumps(info), flush=True)
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted},
        }
    finally:
        stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(work_root)  # only when no other run is using it


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.workload != "all":
        result = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
        print(json.dumps(result))
        return 0
    # one process per workload: each stops its own JVM before the next starts
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOADS:
        cmd = [sys.executable, __file__, "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True).stdout
        print(out, end="")
        res = json.loads(out.strip().splitlines()[-1])
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        merged["metrics"].update({f"{name}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(merged))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
