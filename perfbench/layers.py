"""Per-layer measurement, all from outside the engine.

* :class:`Spans` — driver-side timers around calls into the engine's
  public functions, kept in memory.
* :class:`RssSampler` — peak summed RSS of this process and its
  descendants (the gateway JVM and its Python workers), from ``/proc``.
* :func:`event_log_layers` — stage and Python-worker metrics read from
  the Spark event log of the traced session.
* :func:`replay_kernels` / :func:`replay_writer` — the kernel, selector,
  stats and Parquet-writer functions timed in-process on one core over
  the workload's own chunks and row groups.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time
from collections import defaultdict

import pyarrow as pa

# EncodeJob.run's ``timings`` keys -> per-layer names
LINEAGE_TIMINGS = {
    "resume_scan_sec": "lineage.resume_scan_s",
    "encode_and_stage_write_sec": "lineage.stage_write_s",
    "lineage_derive_sec": "lineage.derive_s",
    "lineage_commit_sec": "lineage.commit_s",
    "publish_rename_sec": "lineage.publish_s",
}

# Driver-timeline spans that do not overlap within one operation: with
# ``unattributed_s`` they sum to the operation's wall time.
ATTRIBUTED = [
    "engine.presample_s",
    "engine.skew_sample_s",
    "engine.encode_action_s",
    "engine.decode_action_s",
    "engine.roundtrip_action_s",
    "sink.write_action_s",
    *LINEAGE_TIMINGS.values(),
]


class _Span:
    seconds = 0.0


class Spans:
    """Named durations, one list entry per call."""

    def __init__(self) -> None:
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.results: dict[str, object] = {}

    @contextlib.contextmanager
    def span(self, name: str):
        s = _Span()
        t0 = time.perf_counter()
        try:
            yield s
        finally:
            s.seconds = time.perf_counter() - t0
            self.samples[name].append(s.seconds)

    def add_lineage(self, timings: dict) -> None:
        for key, name in LINEAGE_TIMINGS.items():
            if key in timings:
                self.samples[name].append(float(timings[key]))

    def wrap(self, module, attr: str, name: str):
        """Time every call to ``module.attr`` and keep its last result
        in ``results[name]``; returns the undo."""
        orig = getattr(module, attr)

        def timed(*a, **kw):
            with self.span(name):
                self.results[name] = orig(*a, **kw)
                return self.results[name]

        setattr(module, attr, timed)
        return lambda: setattr(module, attr, orig)

    def total(self, name: str) -> float:
        return sum(self.samples.get(name, ()))


def closure(spans: Spans, ops: int, op_names: list[str]) -> dict[str, float]:
    """Mean per-operation seconds of each attributed layer, the mean
    operation wall time and the unattributed remainder."""
    wall = sum(spans.total(n) for n in op_names) / ops
    out = {name: spans.total(name) / ops for name in ATTRIBUTED}
    out["op_wall_s"] = wall
    out["unattributed_s"] = wall - sum(out[name] for name in ATTRIBUTED)
    return out


# ---------------------------------------------------------------- memory

def descendants(root: int) -> list[int]:
    """Process ids below ``root`` (the gateway JVM, the Python worker
    daemon and its workers), from /proc."""
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children[ppid].append(int(entry))
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _tree_rss_bytes(root: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Peak summed RSS of this process tree, sampled every ``period`` s
    while running."""

    def __init__(self, period: float = 0.1) -> None:
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(root))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# ---------------------------------------------------------------- event log

_MB = 1e6


def _plan_metric_types(info: dict, out: dict[int, str]) -> None:
    for m in info.get("metrics", ()):
        out[m["accumulatorId"]] = m["metricType"]
    for child in info.get("children", ()):
        _plan_metric_types(child, out)


def event_log_layers(path: str, groups: set[str], ops: int) -> dict[str, float]:
    """Stage (``spark.*``) and Python-worker (``python.*``) metrics of
    the jobs whose job group is in ``groups``, per operation."""
    metric_type: dict[int, str] = {}
    stages: set[int] = set()
    jobs = stages_run = tasks = failed = 0
    run_ms = gc_ms = fetch_ms = 0
    cpu_ns = shuffle_w = shuffle_r = 0
    py = defaultdict(float)
    task_ms: dict[int, list[int]] = defaultdict(list)
    py_names = {
        "time to run Python workers": "python.run_s",
        "time to start Python workers": "python.boot_s",
        "time to initialize Python workers": "python.init_s",
        "data sent to Python workers": "python.sent_mb",
        "data returned from Python workers": "python.received_mb",
    }
    scale = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1 / _MB}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if "sparkPlanInfo" in e:
                _plan_metric_types(e["sparkPlanInfo"], metric_type)
            elif kind == "SparkListenerJobStart":
                if (e.get("Properties") or {}).get("spark.jobGroup.id") in groups:
                    jobs += 1
                    stages.update(e["Stage IDs"])
            elif kind == "SparkListenerStageCompleted":
                stages_run += e["Stage Info"]["Stage ID"] in stages
            elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stages:
                info, m = e["Task Info"], e.get("Task Metrics") or {}
                tasks += 1
                failed += e["Task End Reason"]["Reason"] != "Success"
                task_ms[e["Stage ID"]].append(info["Finish Time"] - info["Launch Time"])
                run_ms += m.get("Executor Run Time", 0)
                cpu_ns += m.get("Executor CPU Time", 0)
                gc_ms += m.get("JVM GC Time", 0)
                sw = m.get("Shuffle Write Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                shuffle_w += sw.get("Shuffle Bytes Written", 0)
                shuffle_r += sr.get("Local Bytes Read", 0) + sr.get("Remote Bytes Read", 0)
                fetch_ms += sr.get("Fetch Wait Time", 0)
                for acc in info.get("Accumulables", ()):
                    name = py_names.get(acc.get("Name"))
                    if name and "Update" in acc:
                        py[name] += float(acc["Update"]) * scale.get(metric_type.get(acc["ID"]), 1.0)
    # straggler ratio of the stage with the most task time
    skew = 0.0
    if task_ms:
        durations = max(task_ms.values(), key=sum)
        skew = max(durations) / max(statistics.median(durations), 1)
    out = {
        "spark.jobs": jobs / ops,
        "spark.stages": stages_run / ops,
        "spark.tasks": tasks / ops,
        "spark.tasks_failed": failed / ops,
        "spark.executor_run_s": run_ms / 1e3 / ops,
        "spark.executor_cpu_s": cpu_ns / 1e9 / ops,
        "spark.gc_s": gc_ms / 1e3 / ops,
        "spark.shuffle_write_mb": shuffle_w / _MB / ops,
        "spark.shuffle_read_mb": shuffle_r / _MB / ops,
        "spark.shuffle_fetch_wait_s": fetch_ms / 1e3 / ops,
        "spark.task_max_over_median": skew,
    }
    out.update({name: py[name] / ops for name in py_names.values()})
    return out


# ---------------------------------------------------------------- kernels

# the metric set is fixed by BENCHMARK.json: a codec added to the engine
# later is not reported until the benchmark lists it
CODECS = ("plain", "dict", "rle", "fsst", "for", "lined", "delta", "alpha", "boolpack")


# encode_dataframe's per-task codec memo: cleared every RESELECT chunks
RESELECT = 16
FSST_CAP_BYTES = 32e6  # a memoized fsst above this is reselected


def replay_kernels(chunks: pa.Table, schema: pa.Schema, hints: dict[str, str]) -> dict[str, float]:
    """Time shred, encode (with the codec the engine recorded), stats
    and decode on every chunk of one operation, one core.

    ``select_codec`` is timed only where the engine runs it, replaying
    the per-task memo of ``encode_dataframe``: the memo starts from the
    presample ``hints`` in each partition and is cleared every
    ``RESELECT`` chunks, and a column is selected when the memo has no
    codec for it, holds an over-cap fsst, or holds a codec other than
    the one recorded (the drift guard reselected).  A drift-guard
    reselection that picked the memoized codec again is not seen."""
    from cpp_parquet_spark.chunk import decode_chunk_to_column, serialize_chunk
    from cpp_parquet_spark.kernels.levels import shred
    from cpp_parquet_spark.schema_plan import plan_from_schema
    from cpp_parquet_spark.selector import column_stats, select_codec, shortlist
    from cpp_parquet_spark.stats import chunk_stats

    plans = {p.dotted: p for p in plan_from_schema(schema)}
    t = dict.fromkeys(["kernels.decode_s", "kernels.shred_s", "kernels.encode_s", "stats.chunk_stats_s",
                       "selector.select_s"], 0.0)
    per_codec = defaultdict(lambda: [0, 0.0, 0.0])  # plain bytes, encode s, decode s
    shortlist_lens = []
    d = chunks.select(["part_id", "chunk_id", "column", "codec", "plain_bytes", "payload"]).to_pydict()
    # in each partition's chunk order (a store's part_id is a hive
    # partition column, which Arrow reads as a dictionary and cannot sort)
    rows = sorted(zip(*d.values()), key=lambda r: (r[0], r[1]))
    clock = time.perf_counter
    memo: dict[str, str] = {}
    at = None  # (part_id, chunk_id) being replayed
    for part_id, chunk_id, column, codec, plain, payload in rows:
        if at is None or part_id != at[0]:
            memo = dict(hints)
        if (part_id, chunk_id) != at and chunk_id % RESELECT == 0 and chunk_id > 0:
            memo.clear()
        at = (part_id, chunk_id)
        plan = plans[column]
        t0 = clock()
        arr = decode_chunk_to_column(payload, plan)
        t1 = clock()
        sh = shred(arr, plan)
        t2 = clock()
        serialize_chunk(sh, codec)
        t3 = clock()
        chunk_stats(sh.values)
        t4 = clock()
        held = memo.get(column)
        if held != codec or (held == "fsst" and sh.values.nbytes > FSST_CAP_BYTES):
            select_codec(sh.values, plan.physical)
            t["selector.select_s"] += clock() - t4
            shortlist_lens.append(len(shortlist(column_stats(sh.values, plan.physical), plan.physical)))
            memo[column] = codec
        t["kernels.decode_s"] += t1 - t0
        t["kernels.shred_s"] += t2 - t1
        t["kernels.encode_s"] += t3 - t2
        t["stats.chunk_stats_s"] += t4 - t3
        c = per_codec[codec]
        c[0] += plain
        c[1] += t3 - t2
        c[2] += t1 - t0
    out = dict(t)
    out["selector.selections"] = float(len(shortlist_lens))
    out["selector.shortlist_len"] = statistics.fmean(shortlist_lens) if shortlist_lens else 0.0
    for codec in CODECS:
        plain, enc_s, dec_s = per_codec.get(codec, (0, 0.0, 0.0))
        out[f"kernels.{codec}.encode_mb_per_s"] = plain / _MB / enc_s if enc_s else 0.0
        out[f"kernels.{codec}.decode_mb_per_s"] = plain / _MB / dec_s if dec_s else 0.0
    return out


def replay_writer(table: pa.Table, path: str, row_group_rows: int = 1 << 16) -> dict[str, float]:
    """Time ParquetWriter.write_row_group per 64Ki-row group and close."""
    from cpp_parquet_spark.parquet_writer import ParquetWriter

    clock = time.perf_counter
    w = ParquetWriter(path, table.schema)
    t0 = clock()
    for start in range(0, table.num_rows, row_group_rows):
        w.write_row_group(table.slice(start, row_group_rows))
    t1 = clock()
    w.close()
    t2 = clock()
    os.unlink(path)
    return {"parquet_writer.write_row_group_s": t1 - t0, "parquet_writer.close_s": t2 - t1}
