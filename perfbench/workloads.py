"""The three benchmark workloads.

A workload generates its input from the seed, loads it into a Spark
session (computing the expected results once), and runs one
closed-loop operation at a time.  ``op`` returns the operation's timed
wall seconds; everything it checks afterwards is untimed.  Any failed
check raises :class:`CheckFailed`.

Correctness checks are exact and row-order independent: a Spark-side
fingerprint (row count, sum of per-row ``xxhash64`` over all columns
modulo 2**40, and their XOR) of the decoded data is compared with the
same fingerprint of the input, and the Parquet files the sink writes are
read back with pyarrow and compared value for value.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import gen
from layers import Spans


class CheckFailed(AssertionError):
    """An operation's output did not match its input."""


def fingerprint(df: DataFrame, by: tuple[str, ...] = ()) -> list[tuple]:
    h = F.xxhash64(*[F.col(c) for c in df.columns])
    rows = df.groupBy(*by).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(h, F.lit(1 << 40))).alias("s"),
        F.bit_xor(h).alias("x"),
    ).collect()
    return sorted(tuple(r) for r in rows)


def chunk_totals(chunks: pa.Table) -> dict:
    """Exact byte counts from a chunk table (CHUNK_SCHEMA columns)."""
    d = chunks.select(["part_id", "column", "num_rows", "plain_bytes", "encoded_bytes"]).to_pydict()
    first = d["column"][0]
    per_part: dict[int, int] = {}
    for p, b in zip(d["part_id"], d["plain_bytes"]):
        per_part[p] = per_part.get(p, 0) + b
    return {
        "rows": sum(n for c, n in zip(d["column"], d["num_rows"]) if c == first),
        "plain_bytes": sum(d["plain_bytes"]),
        "encoded_bytes": sum(d["encoded_bytes"]),
        "part_bytes": sorted(per_part.values()),
    }


def _expect(what: str, got, want) -> None:
    if got != want:
        raise CheckFailed(f"{what}: got {got!r}, want {want!r}")


class Workload:
    name = ""
    rows = 0

    def __init__(self, seed: int, cores: int, spans: Spans) -> None:
        self.seed = seed
        self.cores = cores
        self.spans = spans
        self.table: pa.Table | None = None
        self.facts: dict[str, float] = {}  # per-run facts for the info line

    def generate(self, directory: str) -> list[str]:
        self.table = self.make_table()
        self.plain_bytes = sum(gen.plain_bytes(c) for c in self.table.columns)
        return gen.write_input(self.table, directory, files=self.cores)

    def make_table(self) -> pa.Table:
        raise NotImplementedError

    def load(self, spark, paths: list[str]) -> None:
        self.spark = spark
        self.paths = paths
        self.df = spark.read.parquet(*paths)
        self.schema = self.df.schema

    def prepare(self) -> None:
        """Compute the expected results (untimed, after set-up)."""
        raise NotImplementedError

    def warm(self) -> None:
        """Spawn the k Python workers and import the engine in each."""
        from cpp_parquet_spark.engine import encode_dataframe

        k = self.cores
        encode_dataframe(self.df.limit(k * 256).repartition(k)).agg(F.sum("encoded_bytes")).collect()

    def op(self, scratch: str) -> float:
        raise NotImplementedError

    def chunk_table(self, scratch: str) -> pa.Table:
        """The chunk table (with payloads) of the last operation, for
        the compression ratio and the in-process kernel replay."""
        raise NotImplementedError

    def layer_extras(self, scratch: str) -> dict[str, float]:
        """Per-layer metrics only this workload's path has."""
        return {}


class RepoPipeline(Workload):
    name = "repo_pipeline"
    rows = 40_000
    OP_SPANS = ["op.encode_s", "op.decode_s"]

    def make_table(self) -> pa.Table:
        return gen.repo_table(self.seed, self.rows)

    def prepare(self) -> None:
        self.expected = fingerprint(self.df)
        self.facts["salted_keys"] = self.salted_keys()

    def salted_keys(self) -> int:
        """(lang, repo) keys that encode_pipeline's repartition spreads
        over more than one partition.  Without salting, hash
        partitioning puts every key in exactly one."""
        from cpp_parquet_spark import engine

        spans = Spans()
        undo = spans.wrap(engine, "partition_for_encoding", "plan")
        try:
            engine.encode_pipeline(self.df)  # lazy: only the planning jobs run
        finally:
            undo()
        placed = spans.results["plan"].select("lang", "repo", F.spark_partition_id().alias("pid")).distinct()
        return placed.groupBy("lang", "repo").count().filter(F.col("count") > 1).count()

    def op(self, scratch: str) -> float:
        from cpp_parquet_spark import engine

        out = os.path.join(scratch, "chunks")
        with self.spans.span("op.encode_s") as enc:
            chunks = engine.encode_pipeline(self.df)
            with self.spans.span("engine.encode_action_s"):
                chunks.write.mode("overwrite").parquet(out)
        with self.spans.span("op.decode_s") as dec:
            decoded = engine.decode_dataframe(self.spark.read.parquet(out), self.schema)
            with self.spans.span("engine.decode_action_s"):
                got = fingerprint(decoded)
        _expect("decoded fingerprint", got, self.expected)
        _expect("chunk-table rows", chunk_totals(self.chunk_table(scratch))["rows"], self.rows)
        return enc.seconds + dec.seconds

    def chunk_table(self, scratch: str) -> pa.Table:
        return pq.read_table(os.path.join(scratch, "chunks"))


class LineitemRoundtrip(Workload):
    name = "lineitem_roundtrip"
    rows = 400_000
    FLAGS = ("l_returnflag", "l_linestatus")
    OP_SPANS = ["op.roundtrip_s"]

    def make_table(self) -> pa.Table:
        return gen.lineitem_table(self.seed, self.rows)

    def prepare(self) -> None:
        self.expected = fingerprint(self.df, by=self.FLAGS)

    def _encoded(self) -> DataFrame:
        from cpp_parquet_spark.engine import encode_dataframe

        # half-width fan-out: the chained encode+decode stage runs two
        # Python workers per task
        n = max(1, self.spark.sparkContext.defaultParallelism // 2)
        return encode_dataframe(self.df.repartition(n), codec="auto")

    def op(self, scratch: str) -> float:
        from cpp_parquet_spark.engine import decode_dataframe

        with self.spans.span("op.roundtrip_s") as rt:
            decoded = decode_dataframe(self._encoded(), self.schema, grouped=True)
            with self.spans.span("engine.roundtrip_action_s"):
                got = fingerprint(decoded, by=self.FLAGS)
        _expect("per-flag fingerprint", got, self.expected)
        return rt.seconds

    def chunk_table(self, scratch: str) -> pa.Table:
        out = os.path.join(scratch, "chunks")
        self._encoded().write.mode("overwrite").parquet(out)
        return pq.read_table(out)


class DurableWrite(Workload):
    name = "durable_write"
    rows = 120_000
    PRED = ("id", 0, rows // 4 - 1)  # a quarter of the rows
    OP_SPANS = ["op.parquet_write_s", "op.store_commit_s", "op.pruned_decode_s"]

    def make_table(self) -> pa.Table:
        return gen.durable_table(self.seed, self.rows)

    def prepare(self) -> None:
        self.expected = fingerprint(self._exact(self.df))
        self.sorted_input = self.table.sort_by("id")

    def _exact(self, df: DataFrame) -> DataFrame:
        col, lo, hi = self.PRED
        return df.filter((F.col(col) >= lo) & (F.col(col) <= hi))

    def job(self, scratch: str):
        from cpp_parquet_spark.lineage import EncodeJob

        return EncodeJob(os.path.join(scratch, "store"), num_parts=2 * self.cores, keys=("k",))

    def op(self, scratch: str) -> float:
        from cpp_parquet_spark import sink

        pq_dir = os.path.join(scratch, "parquet")
        job = self.job(scratch)
        with self.spans.span("op.parquet_write_s") as pw:
            written = sink.write_dataset(self.df, pq_dir)
            with self.spans.span("sink.write_action_s"):
                manifest = written.collect()
        with self.spans.span("op.store_commit_s") as sc:
            res = job.run(self.df)
        self.spans.add_lineage(res.get("timings", {}))
        with self.spans.span("op.pruned_decode_s") as pd:
            decoded = self._exact(job.decode(self.spark, self.schema, predicate=self.PRED))
            with self.spans.span("engine.decode_action_s"):
                got = fingerprint(decoded)
        self.manifest = manifest
        _expect("manifest rows", sum(r["rows"] for r in manifest), self.rows)
        reread = pq.read_table(pq_dir).sort_by("id")
        for name in self.sorted_input.column_names:
            want = self.sorted_input.column(name)
            if not reread.column(name).cast(want.type).equals(want):
                raise CheckFailed(f"Parquet reread differs in column {name!r}")
        _expect("store committed partitions", res["committed_partitions"] > 0, True)
        _expect("pruned-decode fingerprint", got, self.expected)
        return pw.seconds + sc.seconds + pd.seconds

    def chunk_table(self, scratch: str) -> pa.Table:
        return pq.read_table(os.path.join(scratch, "store", "chunks"))

    def layer_extras(self, scratch: str) -> dict[str, float]:
        from cpp_parquet_spark.engine import prune_chunks
        from layers import replay_writer

        chunks = self.job(scratch).chunks(self.spark)
        groups = chunks.select("part_id", "chunk_id").distinct().count()
        kept = prune_chunks(chunks, self.schema, *self.PRED).select("part_id", "chunk_id").distinct().count()
        file_bytes = sum(r["bytes"] for r in self.manifest)
        return {
            "engine.prune_kept_frac": kept / groups,
            "sink.files": float(len(self.manifest)),
            "sink.row_groups": float(sum(r["row_groups"] for r in self.manifest)),
            "sink.file_ratio": self.plain_bytes / file_bytes,
            **replay_writer(self.table, os.path.join(scratch, "replay.parquet")),
        }


WORKLOADS = {w.name: w for w in (RepoPipeline, LineitemRoundtrip, DurableWrite)}
