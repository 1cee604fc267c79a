"""The parquet sinks' commit protocol (streaming/apply.py,
``BucketedParquetSink``) under faults: a commit-log write that dies
part-way, unreadable state, the crash window between the state write and
the commit log, a killed write's leftover staging directory, and the
per-batch job and write budget."""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import uuid
from collections import Counter

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from mongodb_mysql_cdc_spark.catalog import load
from mongodb_mysql_cdc_spark.sources.cdc import ENVELOPE_SCHEMA, envelopes_from_events
from mongodb_mysql_cdc_spark.streaming import apply
from mongodb_mysql_cdc_spark.streaming.apply import (
    CdcParquetSink,
    Scd2ParquetSink,
    cdc_apply_batch,
    scd2_versions,
)

# kind -> (sink class, its read-back table, the batch fold it must equal)
SINKS = {
    "lww": (CdcParquetSink, lambda s: s.current(), cdc_apply_batch),
    "scd2": (Scd2ParquetSink, lambda s: s.history(), scd2_versions),
}


def _rows(df, cols):
    return Counter(tuple(r) for r in df.select(*cols).collect())


def _envelopes(spark, sf_dir):
    return envelopes_from_events(load(spark, sf_dir, "events"))


def _split(env, parts):
    """Cut the feed into ``parts`` slices of its global seq order, the
    order the replay delivers per key."""
    qs = env.agg(
        F.expr(f"percentile_approx(seq, array({','.join(str(i / parts) for i in range(1, parts))}))")
    ).collect()[0][0]
    bounds = [None, *qs, None]
    out = []
    for lo, hi in zip(bounds, bounds[1:]):
        cond = F.lit(True)
        if lo is not None:
            cond &= F.col("seq") > lo
        if hi is not None:
            cond &= F.col("seq") <= hi
        out.append(env.filter(cond))
    return out


def _bucket_files(root):
    state = os.path.join(root, "state")
    return sorted(
        os.path.join(state, d, f)
        for d in os.listdir(state)
        if d.startswith("bucket=")
        for f in os.listdir(os.path.join(state, d))
        if f.endswith(".parquet")
    )


def test_commit_log_survives_a_failed_write(spark, monkeypatch):
    """The commit log is replaced atomically: a dump that dies part-way
    leaves the previous log readable and unchanged."""
    empty = spark.createDataFrame([], ENVELOPE_SCHEMA)
    sink = CdcParquetSink(spark, tempfile.mkdtemp(prefix="commit_atomic_"))
    sink.apply_batch(empty, 0)
    assert sink._load_commits() == {0}

    def dump_then_die(obj, f):
        f.write(json.dumps(obj)[:2])
        raise OSError("disk full")

    with monkeypatch.context() as m:
        m.setattr(apply.json, "dump", dump_then_die)
        with pytest.raises(OSError, match="disk full"):
            sink.apply_batch(empty, 1)
    assert sink._load_commits() == {0}

    sink.apply_batch(empty, 1)
    assert sink._load_commits() == {0, 1}


def test_fresh_sink_has_no_state_and_reads_nothing(spark):
    root = tempfile.mkdtemp(prefix="fresh_sink_")
    sink = CdcParquetSink(spark, root)
    assert sink.state() is None
    assert sink.current().count() == 0
    # a state dir with no bucket directory (e.g. only a killed write's
    # staging dir) is still "no state yet"
    os.makedirs(os.path.join(root, "state", f".spark-staging-{uuid.uuid4()}"))
    assert sink.state() is None


def test_unreadable_state_fails_loudly(spark, sf_dir):
    """A corrupt bucket file is an error for readers and for the next
    commit, never "no state yet" (which would let the next batch
    overwrite the touched buckets with the batch alone)."""
    env = _envelopes(spark, sf_dir)
    root = tempfile.mkdtemp(prefix="corrupt_state_")
    sink = CdcParquetSink(spark, root, n_buckets=4)
    sink.apply_batch(env, 0)
    victim = _bucket_files(root)[0]
    with open(victim, "r+b") as f:
        f.truncate(os.path.getsize(victim) // 2)

    with pytest.raises(Exception, match="(?i)parquet"):
        sink.current().collect()
    # the whole feed again touches every bucket, the corrupt one included
    with pytest.raises(Exception, match="(?i)parquet"):
        sink.apply_batch(env, 1)
    assert sink._load_commits() == {0}


@pytest.mark.parametrize("kind", sorted(SINKS))
def test_replay_after_commit_log_rollback(spark, sf_dir, kind):
    """Crash between the state write and the commit-log update: the batch
    is in state but not in the log, so the restart delivers it again onto
    its own output. The fold must absorb it."""
    sink_cls, read, batch_fold = SINKS[kind]
    env = _envelopes(spark, sf_dir)
    first, second = _split(env, 2)
    root = tempfile.mkdtemp(prefix=f"rollback_{kind}_")
    sink = sink_cls(spark, root, n_buckets=8)
    sink.apply_batch(first, 0)
    sink.apply_batch(second, 1)
    with open(os.path.join(root, "_commits.json"), "w") as f:
        json.dump([0], f)

    restarted = sink_cls(spark, root, n_buckets=8)
    restarted.apply_batch(second, 1)
    assert restarted._load_commits() == {0, 1}
    want = batch_fold(env)
    assert _rows(read(restarted), want.columns) == _rows(want, want.columns)


@pytest.mark.parametrize("kind", sorted(SINKS))
def test_leftover_staging_dir_is_invisible(spark, sf_dir, kind):
    """A write killed before job commit leaves ``state/.spark-staging-*``
    holding complete parquet files. They change neither the read-back
    table nor later commits."""
    sink_cls, read, batch_fold = SINKS[kind]
    env = _envelopes(spark, sf_dir)
    parts = _split(env, 3)
    root = tempfile.mkdtemp(prefix=f"staging_{kind}_")
    sink = sink_cls(spark, root, n_buckets=8)
    sink.apply_batch(parts[0], 0)
    sink.apply_batch(parts[1], 1)
    cols = batch_fold(env).columns
    before = _rows(read(sink), cols)

    src = _bucket_files(root)[0]
    bucket_dir = os.path.basename(os.path.dirname(src))
    staged = os.path.join(root, "state", f".spark-staging-{uuid.uuid4()}", bucket_dir)
    os.makedirs(staged)
    shutil.copy(src, staged)
    assert _rows(read(sink), cols) == before

    sink.apply_batch(parts[2], 2)
    want = batch_fold(env)
    assert _rows(read(sink), cols) == _rows(want, cols)


def test_incremental_apply_job_and_write_budget(spark, sf_dir, monkeypatch):
    """One incremental LWW commit runs at most 5 Spark jobs and exactly
    one parquet write, straight into ``state/`` (no staging copy)."""
    env = _envelopes(spark, sf_dir)
    first, second = _split(env, 2)
    root = tempfile.mkdtemp(prefix="job_budget_")
    sink = CdcParquetSink(spark, root, n_buckets=8)
    sink.apply_batch(first, 0)

    writes = []
    real_parquet = DataFrameWriter.parquet

    def spy(self, path, *args, **kwargs):
        writes.append(path)
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    tracker = spark.sparkContext.statusTracker()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = set(tracker.getJobIdsForGroup(None))
    sink.apply_batch(second, 1)
    bus.waitUntilEmpty()
    jobs = set(tracker.getJobIdsForGroup(None)) - before

    assert 1 <= len(jobs) <= 5, sorted(jobs)
    assert writes == [os.path.join(root, "state")]
    assert not [d for d in os.listdir(root) if d.startswith("state_tmp_")]
    assert sink._load_commits() == {0, 1}
