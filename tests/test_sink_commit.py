"""The parquet sinks' commit protocol (streaming/apply.py,
``BucketedParquetSink``) under faults: a commit-log write that dies
part-way, unreadable state, the crash window between the state write and
the commit log, a killed write's leftover staging directory, the
per-batch job and write budget, and the LWW write's shape: one shuffle,
one sort, one file per bucket."""

from __future__ import annotations

import json
import os
import re
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


def _jobs_of(spark, run):
    """The Spark job ids ``run()`` starts."""
    tracker = spark.sparkContext.statusTracker()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    before = set(tracker.getJobIdsForGroup(None))
    run()
    bus.waitUntilEmpty()
    return set(tracker.getJobIdsForGroup(None)) - before


def test_first_apply_skips_the_bucket_collect(spark, sf_dir):
    """A sink with no state yet (the snapshot) writes its fold directly:
    no touched-bucket collect, at most the shuffle and the write job."""
    env = _envelopes(spark, sf_dir)
    sink = CdcParquetSink(spark, tempfile.mkdtemp(prefix="first_apply_"))
    jobs = _jobs_of(spark, lambda: sink.apply_batch(env, -1))
    assert 1 <= len(jobs) <= 2, sorted(jobs)
    want = cdc_apply_batch(env)
    assert _rows(sink.current(), want.columns) == _rows(want, want.columns)


@pytest.fixture
def confs(spark):
    """Sets session confs for one test and restores them afterwards."""
    saved = {}

    def set_conf(key, value):
        saved.setdefault(key, spark.conf.get(key))
        spark.conf.set(key, value)

    yield set_conf
    for key, value in saved.items():
        spark.conf.set(key, value)


@pytest.mark.parametrize("aqe", ["true", "false"])
def test_lww_writes_one_file_per_bucket(spark, sf_dir, confs, aqe):
    """The LWW fold clusters by bucket before its shuffle, so each touched
    bucket is written by one task as one file, whatever the shuffle
    partition count and whether AQE re-plans the stage."""
    confs("spark.sql.shuffle.partitions", "7")
    confs("spark.sql.adaptive.enabled", aqe)
    env = _envelopes(spark, sf_dir)
    root = tempfile.mkdtemp(prefix=f"one_file_aqe_{aqe}_")
    sink = CdcParquetSink(spark, root)
    snapshot, *tail = _split(env, 3)
    sink.apply_batch(snapshot, -1)
    for batch_id, part in enumerate(tail):
        sink.apply_batch(part, batch_id)

    files = Counter(os.path.dirname(f) for f in _bucket_files(root))
    assert files and set(files.values()) == {1}, files
    want = cdc_apply_batch(env)
    assert _rows(sink.current(), want.columns) == _rows(want, want.columns)


def _plan_tree(description):
    """The final physical plan tree of a formatted plan description."""
    tree = description.split("\n\n(1) ")[0]
    return tree.split("== Initial Plan ==")[0]


def test_lww_write_is_one_exchange_and_one_sort(spark, sf_dir):
    """An incremental LWW commit's write shuffles once, and the aggregate's
    one sort by (bucket, key) also serves the partitioned write."""
    env = _envelopes(spark, sf_dir)
    first, second = _split(env, 2)
    sink = CdcParquetSink(spark, tempfile.mkdtemp(prefix="write_plan_"))
    sink.apply_batch(first, 0)

    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def recent_executions():
        # the store keeps executions ordered by id and may evict old ones
        bus.waitUntilEmpty()
        tail = store.executionsList(max(0, store.executionsCount() - 50), 50)
        return [tail.apply(i) for i in range(tail.size())]

    last_id = max((e.executionId() for e in recent_executions()), default=-1)
    sink.apply_batch(second, 1)
    writes = [
        _plan_tree(e.physicalPlanDescription())
        for e in recent_executions()
        if e.executionId() > last_id
        and "InsertIntoHadoopFsRelationCommand" in e.physicalPlanDescription()
    ]

    assert len(writes) == 1, writes
    assert len(re.findall(r"\bExchange \(\d+\)", writes[0])) == 1, writes[0]
    assert len(re.findall(r"\bSort \(\d+\)", writes[0])) == 1, writes[0]
