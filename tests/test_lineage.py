"""Checkpoint / lineage / resume tests."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from cpp_parquet_spark.datagen import source_repos_from_documents
from cpp_parquet_spark.lineage import ConcurrentCommitError, EncodeJob


@pytest.fixture()
def workdir(tmp_path):
    return str(tmp_path / "job")


def _src(spark):
    return source_repos_from_documents(spark, "/root/testdata/sf0.001")


def _assert_same_rows(want, got):
    """Equal row counts and equal per-row sha256 multisets."""
    assert got.count() == want.count()
    a = want.select(F.sha2("content", 256).alias("s"))
    b = got.select(F.sha2("content", 256).alias("s"))
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def _parts(job, src):
    return sorted(r["_part"] for r in job.with_part(src).select("_part").distinct().collect())


def _store_state(job):
    """(name, mtime, size) of every chunk and commit file."""
    return {
        (d, n, os.path.getmtime(os.path.join(d, n)), os.path.getsize(os.path.join(d, n)))
        for d in (job.chunks_dir, job.lineage_dir)
        for n in os.listdir(d)
    }


def test_full_run_and_decode(spark, workdir):
    src = _src(spark)
    job = EncodeJob(workdir, num_parts=8, chunk_rows=4096)
    res = job.run(src)
    assert res["committed_partitions"] >= 1
    assert res["skipped_partitions"] == 0
    decoded = job.decode(spark, src.schema)
    assert decoded.count() == src.count()
    # per-row sha equality
    a = src.select(F.sha2("content", 256).alias("s"))
    b = decoded.select(F.sha2("content", 256).alias("s"))
    assert a.exceptAll(b).count() == 0


def test_rerun_is_noop(spark, workdir):
    src = _src(spark)
    job = EncodeJob(workdir, num_parts=4, chunk_rows=4096)
    first = job.run(src)
    second = job.run(src)
    assert second["committed_partitions"] == 0
    assert second["skipped_partitions"] == first["committed_partitions"]
    # no duplicated data
    assert job.decode(spark, src.schema).count() == src.count()


def test_resume_after_partial_failure(spark, workdir):
    src = _src(spark)
    job = EncodeJob(workdir, num_parts=8, chunk_rows=4096)
    all_parts = _parts(job, src)
    assert len(all_parts) >= 2
    # simulate a job that died after committing only some partitions
    first_half = all_parts[: len(all_parts) // 2]
    r1 = job.run(src, only_parts=first_half)
    assert r1["committed_partitions"] == len(first_half)
    # a crash leftover: a chunk file no commit lists, older than the
    # staleness gate (unreadable, so reading it would fail the decode)
    orphan = os.path.join(job.chunks_dir, "snap-0-a9-p1-t1.parquet")
    with open(orphan, "wb") as f:
        f.write(b"not parquet at all")
    old = os.path.getmtime(orphan) - 2 * job.stale_staging_sec
    os.utime(orphan, (old, old))

    r2 = job.run(src)
    assert r2["skipped_partitions"] == len(first_half)
    assert os.path.basename(orphan) in r2["orphans_cleaned"]
    assert not os.path.exists(orphan)
    assert r2["committed_partitions"] == len(all_parts) - len(first_half)

    decoded = job.decode(spark, src.schema)
    assert decoded.count() == src.count()
    a = src.select(F.sha2("content", 256).alias("s"))
    b = decoded.select(F.sha2("content", 256).alias("s"))
    assert a.exceptAll(b).count() == 0


def test_resume_never_scans_committed_files(spark, workdir):
    """VERDICT r1 #6: resume derives its lineage from the files it just
    wrote, never by re-reading the committed store — proven by making
    every committed data file unreadable garbage and resuming anyway."""
    src = _src(spark)
    job = EncodeJob(workdir, num_parts=8, chunk_rows=4096)
    all_parts = _parts(job, src)
    first_half = all_parts[: len(all_parts) // 2]
    job.run(src, only_parts=first_half)
    # corrupt every committed chunk file: any rescan of the store fails
    committed = os.listdir(job.chunks_dir)
    assert committed
    for name in committed:
        with open(os.path.join(job.chunks_dir, name), "wb") as fh:
            fh.write(b"not parquet at all")
    r2 = job.run(src)
    assert r2["skipped_partitions"] == len(first_half)
    assert r2["committed_partitions"] == len(all_parts) - len(first_half)


def test_lineage_schema(spark, workdir):
    src = _src(spark)
    job = EncodeJob(workdir, num_parts=4, snapshot_id="snap-42")
    job.run(src)
    lin = job.lineage(spark)
    rows = lin.collect()
    assert all(r["snapshot_id"] == "snap-42" for r in rows)
    assert all(r["status"] == "committed" for r in rows)
    assert sum(r["record_count"] for r in rows) == src.count()
    assert all(r["encoded_bytes"] > 0 for r in rows)
    assert all(r["files"] for r in rows)


def test_store_layout_lists_only_committed_files(spark, workdir):
    """Chunk files sit directly under chunks/ (part_id is a column, not
    a directory), every one of them is listed by a commit, and any
    Parquet reader on chunks/ sees exactly the committed chunk rows."""
    src = _src(spark)
    job = EncodeJob(workdir, num_parts=8, chunk_rows=4096)
    job.run(src)
    names = os.listdir(job.chunks_dir)
    assert names and all(os.path.isfile(os.path.join(job.chunks_dir, n)) for n in names)
    assert not [n for n in names if n.startswith((".", "part_id="))]
    lin = job.lineage(spark).collect()
    assert {f for r in lin for f in r["files"]} == set(names)
    tbl = pq.read_table(job.chunks_dir)
    per_part = tbl.group_by("part_id").aggregate([("chunk_id", "count")]).to_pydict()
    assert dict(zip(per_part["part_id"], per_part["chunk_id_count"])) == {
        r["part_id"]: r["chunk_count"] for r in lin
    }
    assert job.chunks(spark).count() == tbl.num_rows


def test_commit_is_atomic_and_tmp_cleaned(spark, workdir):
    """ADVICE r4: the lineage commit file must appear atomically — no
    pq.write_table directly into lineage_dir.  A stale commit tmp from
    a crashed attempt is dropped on resume and never poisons reads."""
    src = _src(spark)
    job = EncodeJob(workdir, num_parts=4)
    job.run(src)
    # no tmp leftovers after a clean commit
    assert not [n for n in os.listdir(workdir) if n.endswith(".tmp")]
    # plant a crash leftover: truncated tmp in base_dir, aged past the
    # staleness gate (a FRESH tmp may belong to a live writer and must
    # be left alone — ADVICE r5)
    tmp_path = os.path.join(workdir, ".commit-snap-0-a9.tmp")
    with open(tmp_path, "wb") as fh:
        fh.write(b"half a parquet file")
    old = os.path.getmtime(tmp_path) - 2 * job.stale_staging_sec
    os.utime(tmp_path, (old, old))
    r = job.run(src)  # resume: no-op, but cleans the stale tmp
    assert r["committed_partitions"] == 0
    assert not [n for n in os.listdir(workdir) if n.endswith(".tmp")]
    assert job.lineage(spark).count() > 0  # lineage dir fully readable


def test_fresh_unlisted_chunk_file_survives_gc(spark, workdir):
    """A fresh chunk file (or task temp) that no commit lists may be a
    live concurrent writer's uncommitted output: resume leaves it, and
    readers never open it.  A stale one is a crash leftover and is
    deleted."""
    src = _src(spark)
    job = EncodeJob(workdir, num_parts=4)
    job.run(src)
    committed = set(os.listdir(job.chunks_dir))
    planted = [
        os.path.join(job.chunks_dir, "snap-0-a7-p1-t1.parquet"),
        os.path.join(job.chunks_dir, ".snap-0-a7-p1-t2.parquet.tmp"),
    ]
    for path in planted:
        with open(path, "wb") as fh:
            fh.write(b"not parquet at all")
    r = job.run(src)  # no-op resume
    assert r["orphans_cleaned"] == []
    assert all(os.path.exists(p) for p in planted), "fresh unlisted files must survive"
    assert job.decode(spark, src.schema).count() == src.count()  # never read
    for path in planted:
        old = os.path.getmtime(path) - 2 * job.stale_staging_sec
        os.utime(path, (old, old))
    r = job.run(src)
    assert sorted(r["orphans_cleaned"]) == sorted(os.path.basename(p) for p in planted)
    assert set(os.listdir(job.chunks_dir)) == committed


def test_crash_after_write_before_commit(spark, workdir):
    """A driver that dies after its chunk files are written but before
    the commit leaves decode returning exactly the committed rows, once;
    the next run re-encodes the uncommitted partitions."""
    src = _src(spark)
    job = EncodeJob(workdir, num_parts=8, chunk_rows=4096)
    all_parts = _parts(job, src)
    first_half = all_parts[: len(all_parts) // 2]
    job.run(src, only_parts=first_half)
    lineage_before = sorted(os.listdir(job.lineage_dir))

    class Crash(Exception):
        pass

    class CrashingJob(EncodeJob):
        def _commit(self, rows, attempt):
            raise Crash

    with pytest.raises(Crash):
        CrashingJob(workdir, num_parts=8, chunk_rows=4096).run(src)
    assert sorted(os.listdir(job.lineage_dir)) == lineage_before
    listed = {f for r in job.lineage(spark).collect() for f in r["files"]}
    assert set(os.listdir(job.chunks_dir)) - listed, "the crashed run wrote files"

    committed = job.with_part(src).filter(F.col("_part").isin(*first_half))
    _assert_same_rows(committed, job.decode(spark, src.schema))

    r = job.run(src)
    assert r["skipped_partitions"] == len(first_half)
    assert r["committed_partitions"] == len(all_parts) - len(first_half)
    _assert_same_rows(src, job.decode(spark, src.schema))


def test_concurrent_commit_loser_raises(spark, workdir):
    """VERDICT r4 #7: snapshot-commit CAS — two jobs racing on the same
    (base_dir, snapshot_id) cannot silently clobber; the loser raises
    ConcurrentCommitError, and the winner's files, lineage and decode
    are untouched."""
    src = _src(spark)
    winner = EncodeJob(workdir, num_parts=4)
    winner.run(src)
    before = _store_state(winner)

    class RacingJob(EncodeJob):
        # simulate the race window: the loser read the catalog BEFORE
        # the winner committed, so it sees no lineage and recomputes
        # the same attempt number
        def _catalog(self):
            return []

    loser = RacingJob(workdir, num_parts=4)
    with pytest.raises(ConcurrentCommitError, match="exists"):
        loser.run(src)
    # the loser's own files are gone too
    assert _store_state(winner) == before
    assert winner.lineage(spark).filter(F.col("status") == "committed").count() == 4
    _assert_same_rows(src, winner.decode(spark, src.schema))


def test_concurrent_commit_detected_before_commit(spark, workdir):
    """Phase-1 concurrency check: if the winner commits while the loser
    is encoding, the loser's pre-commit recheck aborts before the CAS —
    the winner's files, lineage and decode are untouched."""
    src = _src(spark)
    winner = EncodeJob(workdir, num_parts=4)
    winner.run(src)
    before = _store_state(winner)

    class LateLoser(EncodeJob):
        # real-race timeline: when the loser read the catalog the
        # winner had not committed; the winner finished while the loser
        # was encoding, so only the pre-commit recheck sees it
        calls = 0

        def _catalog(self):
            self.calls += 1
            return [] if self.calls == 1 else super()._catalog()

    with pytest.raises(ConcurrentCommitError, match="while this attempt was encoding"):
        LateLoser(workdir, num_parts=4).run(src)
    assert _store_state(winner) == before
    _assert_same_rows(src, winner.decode(spark, src.schema))


def test_snapshots_share_a_store(spark, workdir):
    """Two snapshots on one base_dir (two streaming micro-batches): each
    commits all of its own partitions, resume skips only partitions of
    its own snapshot, and decode returns every row of both, once."""
    src = _src(spark)
    half = F.pmod(F.xxhash64("content"), F.lit(2))
    for i in range(2):
        batch = EncodeJob(workdir, num_parts=4, chunk_rows=4096, snapshot_id=f"b{i}")
        r = batch.run(src.filter(half == i))
        assert r["skipped_partitions"] == 0 and r["committed_partitions"] >= 1
    redelivered = EncodeJob(workdir, num_parts=4, chunk_rows=4096, snapshot_id="b1")
    r = redelivered.run(src.filter(half == 1))
    assert r["committed_partitions"] == 0 and r["skipped_partitions"] >= 1
    job = EncodeJob(workdir)
    _assert_same_rows(src, job.decode(spark, src.schema))
    # (part_id, chunk_id) stays unique across snapshots
    chunks = job.chunks(spark)
    assert chunks.select("part_id", "chunk_id", "column").distinct().count() == chunks.count()


def test_old_layout_store_is_rejected(spark, workdir):
    """A commit without a ``files`` column comes from the old
    part_id=N directory layout: fail loudly instead of reading nothing."""
    job = EncodeJob(workdir)
    os.makedirs(job.lineage_dir)
    old = pa.table({"snapshot_id": ["snap-0"], "part_id": [0], "status": ["committed"], "attempt": [1]})
    pq.write_table(old, os.path.join(job.lineage_dir, "commit-snap-0-a1.parquet"))
    with pytest.raises(ValueError, match="old part_id=N directory layout"):
        job.chunks(spark)
    with pytest.raises(ValueError, match="old part_id=N directory layout"):
        job.run(_src(spark))


def test_store_write_is_one_python_map(spark, workdir, monkeypatch):
    """EncodeJob encodes and writes each task's chunk file in one Python
    UDF: the plan ``run`` executes holds exactly one Python map node, so
    the chunk payloads never go back through the JVM to a second
    worker."""
    import re

    src = _src(spark)
    plans = []
    collect = type(src).collect

    def recording(self):
        rows = collect(self)
        plan = self._jdf.queryExecution().executedPlan()
        if plan.nodeName() == "AdaptiveSparkPlan":
            plan = plan.executedPlan()  # the final plan only
        plans.append(plan.toString())
        return rows

    monkeypatch.setattr(type(src), "collect", recording)
    res = EncodeJob(workdir, num_parts=4, chunk_rows=4096).run(src)
    monkeypatch.undo()
    assert res["committed_partitions"] == 4
    (plan,) = plans
    assert len(re.findall(r"MapInArrow|MapInPandas|EvalPython", plan)) == 1, plan
    _assert_same_rows(src, EncodeJob(workdir, num_parts=4).decode(spark, src.schema))
