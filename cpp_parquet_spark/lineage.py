"""Per-partition checkpoint / lineage with resume — emulated Iceberg.

North-rule component: "per-partition checkpoint/lineage records in an
Iceberg metadata table enabling resume after failure".  No Iceberg jars
are available (SURVEY.md §7), so the catalog is emulated with Iceberg's
own design: data files that are written once and never move, plus
committed manifests that list them.  A lineage row matches an Iceberg
snapshot/manifest row (snapshot_id, partition, files, chunk count,
record_count, bytes, status, attempt, committed_at); the engine touches
the store only through this module, so a real Iceberg catalog could be
dropped in behind the same calls.

Determinism is the key design point: the partition id is a *content
hash* — pmod(xxhash64(lang, repo, salt), num_parts) — not a task id,
so a resumed job re-derives exactly the same partition → rows mapping
and skips the partitions its snapshot already committed with a filter.

Orphans are handled by visibility, not repair: readers open only the
files a committed manifest lists, so the file of a task whose job died
before its commit, or lost a commit race, is never read.  Unlisted
files are garbage-collected once they are older than
``stale_staging_sec``.
"""

from __future__ import annotations

import contextlib
import functools
import os
import time
from collections import defaultdict

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema, to_arrow_schema

from cpp_parquet_spark.engine import CHUNK_SCHEMA, DEFAULT_CHUNK_ROWS, chunk_encoder, decode_dataframe


class ConcurrentCommitError(RuntimeError):
    """Raised when the snapshot-commit CAS loses to a concurrent writer
    (two EncodeJobs racing on the same base_dir + snapshot_id)."""


LINEAGE_SCHEMA = pa.schema(
    [
        ("snapshot_id", pa.string()),
        ("part_id", pa.int32()),
        ("chunk_count", pa.int64()),
        ("record_count", pa.int64()),
        ("encoded_bytes", pa.int64()),
        ("plain_bytes", pa.int64()),
        ("status", pa.string()),
        ("attempt", pa.int32()),
        ("committed_at", pa.string()),
        ("files", pa.list_(pa.string())),  # chunk file names under chunks/
    ]
)

# one row per (chunk file, part_id), returned by the task-side writer
_MANIFEST = pa.schema(
    [
        ("file", pa.string()),
        ("part_id", pa.int32()),
        ("chunk_count", pa.int64()),
        ("record_count", pa.int64()),
        ("encoded_bytes", pa.int64()),
        ("plain_bytes", pa.int64()),
    ]
)
_TOTALS = ("chunk_count", "record_count", "encoded_bytes", "plain_bytes")


def _listdir(path: str) -> list[str]:
    return os.listdir(path) if os.path.isdir(path) else []


class EncodeJob:
    """A checkpointed encode job writing to ``base_dir``.

    Layout:
      base_dir/chunks/<snapshot>-a<attempt>-p<pid>-t<task>.parquet
          CHUNK_SCHEMA rows of one encode task (``part_id`` is a
          column); written once, never moved
      base_dir/chunks/.<name>.tmp
          a task's file while it is being written
      base_dir/lineage/commit-<snapshot>-a<attempt>.parquet
          the commit: one lineage row per partition, whose ``files``
          lists the chunk files holding it
    """

    def __init__(
        self,
        base_dir: str,
        num_parts: int = 64,
        keys: tuple[str, ...] = ("lang", "repo"),
        codec: str = "auto",
        chunk_rows: int = DEFAULT_CHUNK_ROWS,
        snapshot_id: str = "snap-0",
        stale_staging_sec: float = 3600.0,
    ) -> None:
        self.base_dir = base_dir
        self.chunks_dir = os.path.join(base_dir, "chunks")
        self.lineage_dir = os.path.join(base_dir, "lineage")
        self.num_parts = num_parts
        self.keys = keys
        self.codec = codec
        self.chunk_rows = chunk_rows
        self.snapshot_id = snapshot_id
        # minimum age before an unlisted chunk file / commit tmp is
        # treated as a crash leftover rather than the uncommitted output
        # of a live concurrent writer
        self.stale_staging_sec = stale_staging_sec

    # -------------------------------------------------- partition key

    def with_part(self, df: DataFrame) -> DataFrame:
        """Deterministic content-hash partition id (salted for skew)."""
        others = [c for c in df.columns if c not in self.keys]
        salt = F.pmod(F.xxhash64(*[F.col(c) for c in others] or [F.lit(0)]), F.lit(64))
        key = F.xxhash64(*[F.col(k) for k in self.keys], salt)
        return df.withColumn("_part", F.pmod(key, F.lit(self.num_parts)).cast("int"))

    # -------------------------------------------------- catalog

    def lineage(self, spark: SparkSession) -> DataFrame | None:
        if not os.path.isdir(self.lineage_dir) or not os.listdir(self.lineage_dir):
            return None
        return spark.read.parquet(self.lineage_dir)

    def _catalog(self) -> list[dict]:
        """Every committed lineage row of every snapshot, read
        driver-side with pyarrow (no Spark job)."""
        rows: list[dict] = []
        for name in sorted(_listdir(self.lineage_dir)):
            if name.startswith((".", "_")):
                continue
            tbl = pq.read_table(os.path.join(self.lineage_dir, name))
            if "files" not in tbl.column_names:
                raise ValueError(
                    f"commit {name!r} in {self.lineage_dir} has no 'files' column: it "
                    "comes from the old part_id=N directory layout, which this build "
                    "cannot read; re-encode into a new base_dir"
                )
            rows += tbl.to_pylist()
        return rows

    def _gc(self, listed: set[str]) -> list[str]:
        """Delete chunk files that no commit lists, and commit tmps, once
        they are older than ``stale_staging_sec``; a fresh one may belong
        to a live writer that has not committed yet.  The catalog is
        re-read just before deleting, so a commit that landed since
        ``listed`` was read keeps its files."""
        now = time.time()

        def stale(root: str, names: list[str]) -> list[str]:
            out = []
            for name in names:
                path = os.path.join(root, name)
                with contextlib.suppress(FileNotFoundError):
                    if os.path.isfile(path) and now - os.path.getmtime(path) > self.stale_staging_sec:
                        out.append(path)
            return out

        doomed = stale(self.chunks_dir, [n for n in _listdir(self.chunks_dir) if n not in listed])
        if doomed:
            listed = {f for r in self._catalog() for f in r["files"]}
        doomed += stale(self.base_dir, [n for n in _listdir(self.base_dir) if n.startswith(".commit-")])
        removed = []
        for path in doomed:
            if os.path.basename(path) not in listed:
                with contextlib.suppress(FileNotFoundError):
                    os.unlink(path)
                    removed.append(os.path.basename(path))
        return removed

    # -------------------------------------------------- write / commit

    def _write(self, pending: DataFrame, attempt: int) -> DataFrame:
        """The store write, one Python map per task: shuffle ``pending``
        by ``_part``, run the engine's chunk encoder and write its chunk
        rows to one file under ``chunks_dir`` in the same UDF, so the
        payloads never go back through the JVM (the encoder also runs
        ``session.drop_runtime_zip_finders`` first).  The file follows
        ``sink.write_dataset``'s lifecycle: a ``.``-prefixed temp name,
        ``os.replace``'d on close to a name unique to this snapshot,
        attempt, driver process and task attempt.  Returns the lazy
        manifest: one row per (file, part_id)."""
        chunks_dir = self.chunks_dir
        prefix = f"{self.snapshot_id}-a{attempt}-p{os.getpid()}"
        os.makedirs(chunks_dir, exist_ok=True)
        shuffled = pending.repartition(self.num_parts, F.col("_part")).sortWithinPartitions("_part")
        encode = chunk_encoder(
            to_arrow_schema(shuffled.schema), codec=self.codec, chunk_rows=self.chunk_rows, part_col="_part"
        )

        def task(batches):
            from pyspark import TaskContext

            name = f"{prefix}-t{TaskContext.get().taskAttemptId()}.parquet"
            tmp = os.path.join(chunks_dir, f".{name}.tmp")
            writer = None
            totals: dict[int, dict] = defaultdict(lambda: dict.fromkeys(_TOTALS, 0))
            records: dict[tuple[int, int], int] = {}  # (part, chunk) -> rows
            for b in encode(batches):
                if writer is None:
                    writer = pq.ParquetWriter(tmp, b.schema)
                writer.write_batch(b)
                cols = b.select(["part_id", "chunk_id", "num_rows", "encoded_bytes", "plain_bytes"])
                for part, chunk, rows, enc, plain in zip(*cols.to_pydict().values()):
                    records[(part, chunk)] = rows  # every column chunk repeats it
                    t = totals[part]
                    t["chunk_count"] += 1
                    t["encoded_bytes"] += enc
                    t["plain_bytes"] += plain
            if writer is None:
                return  # no pending partition reached this task
            writer.close()
            os.replace(tmp, os.path.join(chunks_dir, name))
            for (part, _), rows in records.items():
                totals[part]["record_count"] += rows
            yield pa.RecordBatch.from_pylist(
                [{"file": name, "part_id": p, **t} for p, t in totals.items()],
                schema=_MANIFEST,
            )

        return shuffled.mapInArrow(task, from_arrow_schema(_MANIFEST))

    def _commit(self, rows: list[dict], attempt: int) -> None:
        """Commit ``rows`` atomically as (snapshot, attempt), or raise
        ConcurrentCommitError and delete this attempt's (unlisted,
        uniquely named) files."""
        files = [os.path.join(self.chunks_dir, f) for r in rows for f in r["files"]]

        def lose(msg: str) -> ConcurrentCommitError:
            for path in files:
                with contextlib.suppress(FileNotFoundError):
                    os.unlink(path)
            return ConcurrentCommitError(msg + "; re-run to resume from the winner's lineage")

        # pre-commit recheck (optimistic concurrency, phase 1): a writer
        # that committed any of our partitions while we were encoding
        # wins.  The same-attempt CAS below closes the remaining window
        # where both writers pass this check.
        committed = {r["part_id"] for r in self._catalog() if r["snapshot_id"] == self.snapshot_id}
        overlap = sorted(committed & {r["part_id"] for r in rows})
        if overlap:
            raise lose(f"partitions {overlap} were committed by a concurrent writer while this attempt was encoding")
        # atomic + optimistic-concurrency commit (Iceberg snapshot CAS):
        # write the full file to a per-process temp path on the same
        # filesystem, then os.link() it into place — link fails with
        # FileExistsError if another writer committed this (snapshot,
        # attempt) first, and a crash mid-write never leaves a truncated
        # commit file in lineage_dir.  The commit is <= num_parts rows,
        # so it is a driver-side pyarrow write, not a Spark job.
        os.makedirs(self.lineage_dir, exist_ok=True)
        tmp = os.path.join(self.base_dir, f".commit-{self.snapshot_id}-a{attempt}-p{os.getpid()}.tmp")
        dst = os.path.join(self.lineage_dir, f"commit-{self.snapshot_id}-a{attempt}.parquet")
        pq.write_table(pa.Table.from_pylist(rows, schema=LINEAGE_SCHEMA), tmp)
        try:
            os.link(tmp, dst)
        except FileExistsError:
            raise lose(f"snapshot {self.snapshot_id!r} attempt {attempt} was committed by a concurrent writer ({dst} exists)") from None
        except FileNotFoundError:  # pragma: no cover - cleaner race
            raise lose("commit tmp vanished before linking (a concurrent cleaner treated it as stale)") from None
        finally:
            with contextlib.suppress(FileNotFoundError):
                os.unlink(tmp)

    # -------------------------------------------------- run / resume

    def run(self, df: DataFrame, only_parts: list[int] | None = None) -> dict:
        """Encode all partitions of ``df`` not yet committed under this
        ``snapshot_id`` and commit them; idempotent — a second call is a
        no-op, a call after a partial failure finishes the remainder.

        ``only_parts`` restricts the run (used by tests to simulate an
        interrupted job).

        The returned dict carries a ``timings`` sub-dict splitting the
        run into its phases (catalog read + GC, encode + chunk-file
        write, lineage commit) so the write-side cost can be audited
        separately from encode compute.
        """
        timings: dict[str, float] = {}
        t0 = time.time()
        catalog = self._catalog()
        mine = [r for r in catalog if r["snapshot_id"] == self.snapshot_id]
        completed = {r["part_id"] for r in mine}
        attempt = 1 + max((r["attempt"] for r in mine), default=0)
        orphans = self._gc({f for r in catalog for f in r["files"]})
        timings["resume_scan_sec"] = round(time.time() - t0, 3)

        pending = self.with_part(df)
        if completed:
            pending = pending.filter(~F.col("_part").isin(*completed))
        if only_parts is not None:
            pending = pending.filter(F.col("_part").isin(*only_parts))
        t0 = time.time()
        manifest = self._write(pending, attempt).collect()
        # key name shared with the perf ledger (perfbench/layers.py)
        timings["encode_and_stage_write_sec"] = round(time.time() - t0, 3)

        # the repartition on _part puts each partition in one task, so
        # one manifest row (one file) per partition
        committed_at = time.strftime("%Y-%m-%dT%H:%M:%S")
        rows = [
            {"snapshot_id": self.snapshot_id, "part_id": m["part_id"], **{k: m[k] for k in _TOTALS},
             "status": "committed", "attempt": attempt, "committed_at": committed_at, "files": [m["file"]]}
            for m in manifest
        ]
        if rows:
            t0 = time.time()
            self._commit(rows, attempt)
            timings["lineage_commit_sec"] = round(time.time() - t0, 3)
        return {
            "committed_partitions": len(rows),
            "skipped_partitions": len(completed),
            "orphans_cleaned": orphans,
            "attempt": attempt,
            "timings": timings,
        }

    # -------------------------------------------------- read back

    def chunks(self, spark: SparkSession) -> DataFrame:
        """The committed chunk rows: exactly the files that committed
        manifests list, across all snapshots.  Every snapshot numbers
        its chunks from 0 within a part, so the k-th snapshot (in
        snapshot_id order) has its chunk ids shifted by ``k << 32`` to
        keep (part_id, chunk_id) — the key decode and pruning group
        on — unique store-wide."""
        files: dict[str, set[str]] = defaultdict(set)  # a file may hold several parts
        for r in self._catalog():
            files[r["snapshot_id"]].update(os.path.join(self.chunks_dir, f) for f in r["files"])
        reads = [
            spark.read.schema(CHUNK_SCHEMA).parquet(*sorted(files[snap]))
            .withColumn("chunk_id", F.col("chunk_id") + F.lit(k << 32))
            for k, snap in enumerate(sorted(files))
        ]
        if not reads:
            return spark.createDataFrame([], CHUNK_SCHEMA)
        return functools.reduce(DataFrame.unionByName, reads)

    def decode(self, spark: SparkSession, schema, predicate=None, num_partitions=None) -> DataFrame:
        """Decode the committed store; ``predicate=(column, lo, hi)``
        prunes chunks JVM-side before any payload reaches Python
        (the store's predicate-pushdown surface).  ``num_partitions``
        passes through to decode_dataframe's exchange sizing (default
        one task per core; each decode task streams one chunk group at
        a time, so task memory is bounded by chunk size, not partition
        size)."""
        return decode_dataframe(
            self.chunks(spark), schema, predicate=predicate, num_partitions=num_partitions
        )
