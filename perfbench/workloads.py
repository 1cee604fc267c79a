"""The benchmark's workloads.

Each workload takes a ``Ctx`` and returns a ``Result``: its end-to-end
metrics, the layer metrics it measures itself, the operation windows the
traced run attributes Spark jobs to, attempted / failed operation counts
and details for the artifact. Only public package entry points are called,
and everything is timed from outside the package:

- replication: ``ParquetReplaySource`` (staging through
  ``stage_event_chunks``, ``read_event_stream`` and
  ``envelopes_from_events``), ``ReplicationPipeline.snapshot / tail /
  current / status`` and ``expected_state`` for the output check;
- analytics: ``registry.queries()[name]`` for each ``bench.HEADLINE``
  query, checked once per run against ``registry.oracles()`` on DuckDB
  with ``tools/check_oracle.table_digest``.

Every workload is closed loop with one client: the whole feed is staged
before the tail starts and the stream drains one chunk per micro-batch, so
the replication figures are capacity at the stated batch size, not
replication lag under an arrival rate.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import time
from collections.abc import Callable
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import feeds
from spans import ProgressListener, Tracer, batch_window, data_batches

Metrics = dict[str, tuple[float, str]]


@dataclass
class Ctx:
    spark: SparkSession
    work: str
    seed: int
    seconds: float
    trace: bool
    tracer: Tracer
    listener: ProgressListener
    jvm_pid: int


@dataclass
class Result:
    # (mean over every op, {op name: mean over that name's ops}) -> metrics
    traced_layers: Callable[[dict, dict[str, dict]], Metrics]
    end_to_end: Metrics = field(default_factory=dict)
    layers: Metrics = field(default_factory=dict)
    feed_s: list[float] = field(default_factory=list)
    stage_s: list[float] = field(default_factory=list)
    warmup_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    checks_passed: bool = False
    op_windows: list[tuple[float, float]] = field(default_factory=list)
    op_names: list[str] = field(default_factory=list)
    details: dict = field(default_factory=dict)


# Set-up is repeated within a run and its median reported, so that one
# slow staging job does not move the gated setup_s.
SETUP_ROUNDS = 3

def p75(samples: list[float]) -> float:
    """The fixed tail percentile. A run sees about 6 (small batches), 3
    (large state) or 28 (analytics) operations, which supports no percentile
    with ten samples beyond it, and a percentile chosen per run would change
    the metric's meaning with the sample count."""
    if len(samples) < 2:
        return samples[0]
    return statistics.quantiles(samples, n=4, method="inclusive")[2]


def materialize(df: DataFrame) -> tuple[int, int]:
    """The benchmark's one materializing action: row count plus
    ``bit_xor(xxhash64(struct(*)))``, which forces every output column to be
    computed (a bare ``count()`` lets Catalyst prune the projection)."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(F.struct(*[F.col(c) for c in df.columns]))).alias("h"),
    ).collect()[0]
    return row["n"], row["h"]


def cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by the JVM and by this Python driver. Unlike
    wall time, it does not grow while co-tenants hold the host's CPUs."""
    with open(f"/proc/{jvm_pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    t = os.times()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK") + t.user + t.system


def _error(res: Result, what: str, ex: Exception) -> None:
    res.details.setdefault("errors", []).append(f"{what}: {ex!r}"[:500])


def _job_ids(spark: SparkSession) -> set[int]:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
    )


def _reapplied_events(sink_dir: str, snapshot_files: set[str]) -> int:
    """Events the tail read from files the snapshot had already applied.
    The stream's checkpoint lists the files each micro-batch read; their
    row counts come from the parquet footers."""
    log_dir = os.path.join(sink_dir, "_checkpoint", "sources", "0")
    read: set[str] = set()
    for name in os.listdir(log_dir):
        if not name.startswith("."):
            with open(os.path.join(log_dir, name)) as f:
                read.update(json.loads(line)["path"] for line in f if line.startswith("{"))
    return sum(
        pq.ParquetFile(path.removeprefix("file://")).metadata.num_rows
        for path in read & snapshot_files
    )


# -- replication ---------------------------------------------------------------


@dataclass(frozen=True)
class FeedShape:
    events: int
    keys: int
    chunks: int


def _stage(ctx: Ctx, feed_dir: str, shape: FeedShape, prefix: str):
    from mongodb_mysql_cdc_spark.sources.adapters import ParquetReplaySource

    src = ParquetReplaySource(
        ctx.spark, feed_dir, n_chunks=shape.chunks, snapshot_chunks=1, dir_prefix=prefix
    )
    src.snapshot()  # stages the time-ordered chunk files once per source
    return src


def _replicate_once(ctx: Ctx, src, sink_dir: str) -> dict:
    """snapshot + tail into a fresh sink; returns walls and batch progress."""
    from mongodb_mysql_cdc_spark.replication import ReplicationPipeline

    pipe = ReplicationPipeline(ctx.spark, source=src, sink_dir=sink_dir)
    cpu0 = cpu_s(ctx.jvm_pid)
    with ctx.tracer.span("replication.pass") as sp:
        with ctx.tracer.span("replication.snapshot") as snap:
            pipe.snapshot()
        with ctx.tracer.span("replication.tail") as tail:
            pipe.tail()
    cpu = cpu_s(ctx.jvm_pid) - cpu0
    progress = data_batches(ctx.listener.drain(ctx.listener.last_started()))
    for p in progress:
        ctx.tracer.add("apply.micro_batch", *batch_window(p), tail)
    return {
        "pipe": pipe,
        "pass_s": sp.wall,
        "cpu_s": cpu,
        "snapshot_s": snap.wall,
        "tail_s": tail.wall,
        "progress": progress,
        "sink_dir": sink_dir,
    }


def _replication_traced(ops: dict, _per_op: dict) -> Metrics:
    return {
        "apply.jobs_per_batch": (ops["jobs"], "count"),
        "apply.stages_per_batch": (ops["stages"], "count"),
        "apply.tasks_per_batch": (ops["tasks"], "count"),
        "apply.driver_s_per_batch": (ops["driver_s"], "s"),
        "apply.core_busy_ratio": (ops["core_busy_ratio"], "ratio"),
        "apply.cpu_s_per_batch": (ops["cpu_s"], "s"),
        "apply.gc_s_per_batch": (ops["gc_s"], "s"),
        "apply.shuffle_bytes_per_batch": (ops["shuffle_bytes"], "bytes"),
        "apply.bytes_written_per_batch": (ops["bytes_written"], "bytes"),
        "apply.files_written_per_batch": (ops["files_written"], "count"),
        # bucket directories the dynamic-partition overwrite replaced
        "apply.buckets_rewritten_per_batch": (ops["partitions_replaced"], "count"),
    }


def _replication(ctx: Ctx, shape: FeedShape, warm_shape: FeedShape) -> Result:
    from mongodb_mysql_cdc_spark.replication import expected_state

    res = Result(traced_layers=_replication_traced)
    # The first replication in a process runs 1.3-1.5x slower (class
    # loading, codegen, JIT), and its first batches longer still: warm up
    # on a feed of a few chunks before anything is timed, set-up included.
    t0 = time.perf_counter()
    with ctx.tracer.span("warmup"):
        warm_dir = feeds.write_events_feed(
            os.path.join(ctx.work, "feed_warm"), ctx.seed + 1, warm_shape.events, warm_shape.keys
        )
        warm_src = _stage(ctx, warm_dir, warm_shape, "warm")
        _replicate_once(ctx, warm_src, os.path.join(ctx.work, "sink_warm"))
    res.warmup_s = time.perf_counter() - t0

    src = feed_dir = None
    for i in range(SETUP_ROUNDS):
        t0 = time.perf_counter()
        with ctx.tracer.span("setup.feed"):
            feed_dir = feeds.write_events_feed(
                os.path.join(ctx.work, f"feed_{i}"), ctx.seed, shape.events, shape.keys
            )
        t1 = time.perf_counter()
        with ctx.tracer.span("replay.stage"):
            src = _stage(ctx, feed_dir, shape, f"stage{i}")
        res.feed_s.append(t1 - t0)
        res.stage_s.append(time.perf_counter() - t1)

    snapshot_files = set(src.snapshot().inputFiles())
    passes, pass_cpu, batches, add_batch, trig_overhead, offsets = [], [], [], [], [], []
    snapshots, tails, status_s, status_jobs, diverging = [], [], [], [], []
    input_rows = state_bytes = commit_log_bytes = reapplied = 0
    deadline = time.perf_counter() + ctx.seconds
    while res.attempted == 0 or time.perf_counter() < deadline:
        res.attempted += 1
        try:
            run = _replicate_once(ctx, src, os.path.join(ctx.work, f"sink_{res.attempted}"))
        except Exception as ex:  # a failed replication is a failed operation
            res.failed += 1
            _error(res, "replication", ex)
            continue
        passes.append(run["pass_s"])
        pass_cpu.append(run["cpu_s"])
        snapshots.append(run["snapshot_s"])
        tails.append(run["tail_s"])
        for p in run["progress"]:
            d = p["durationMs"]
            batches.append(d["triggerExecution"] / 1000.0)
            add_batch.append(d["addBatch"] / 1000.0)
            trig_overhead.append(d["triggerExecution"] - d["addBatch"])
            offsets.append(sum(d.get(k, 0) for k in (
                "latestOffset", "walCommit", "commitOffsets", "getBatch", "queryPlanning")))
            input_rows += p["numInputRows"]
            res.op_windows.append(batch_window(p))
            res.op_names.append("apply.micro_batch")
        state_bytes = _dir_bytes(os.path.join(run["sink_dir"], "state"))
        commit_log_bytes = os.path.getsize(os.path.join(run["sink_dir"], "_commits.json"))
        reapplied = _reapplied_events(run["sink_dir"], snapshot_files)
        # outside the timed region: status() cost, then the output check
        before = _job_ids(ctx.spark)
        with ctx.tracer.span("replication.status") as st:
            run["pipe"].status()
        status_s.append(st.wall)
        status_jobs.append(len(_job_ids(ctx.spark) - before))
        with ctx.tracer.span("check"):
            try:
                cur = run["pipe"].current()
                exp = expected_state(ctx.spark, feed_dir)
                bad = cur.exceptAll(exp).count() + exp.exceptAll(cur).count()
            except Exception as ex:
                bad = -1
                _error(res, "check", ex)
        diverging.append(bad)
        if bad != 0:
            res.failed += 1
    if not batches:
        raise RuntimeError(f"no replication completed: {res.details.get('errors')}")

    res.checks_passed = all(d == 0 for d in diverging)
    # A run has 3-6 batches: their mean estimates the batch cost more
    # steadily than their median; comparisons take medians across runs.
    res.end_to_end = {
        "batch_mean_s": (statistics.mean(batches), "s"),
        "events_per_s": (shape.events / statistics.median(passes), "1/s"),
        "cpu_ms_per_event": (1000 * statistics.median(pass_cpu) / shape.events, "ms"),
    }
    res.layers = {
        "replay.stage_s": (statistics.median(res.stage_s), "s"),
        "replay.trigger_overhead_ms": (statistics.median(trig_overhead), "ms"),
        "replay.offsets_ms": (statistics.median(offsets), "ms"),
        "sources.input_rows_per_event": (input_rows / (shape.events * len(passes)), "ratio"),
        "apply.batch_s": (statistics.median(add_batch), "s"),
        "apply.batch_p50_s": (statistics.median(batches), "s"),
        "apply.batch_p75_s": (p75(batches), "s"),
        "apply.reapplied_event_ratio": (reapplied / shape.events, "ratio"),
        "apply.state_bytes": (state_bytes, "bytes"),
        "apply.commit_log_bytes": (commit_log_bytes, "bytes"),
        "replication.snapshot_s": (statistics.median(snapshots), "s"),
        "replication.tail_s": (statistics.median(tails), "s"),
        "replication.status_s": (statistics.median(status_s), "s"),
        "replication.status_jobs": (statistics.median(status_jobs), "count"),
    }
    res.details.update({
        "feed": {"events": shape.events, "keys": shape.keys, "chunks": shape.chunks,
                 "snapshot_chunks": 1},
        "batches": len(batches),
        "pass_s": passes,
        "pass_cpu_s": pass_cpu,
        "diverging_rows": diverging,
        "batch_s": batches,
        "snapshot_s": snapshots,
        "tail_s": tails,
        "status_s": status_s,
        "status_jobs": status_jobs,
        "trigger_overhead_ms": trig_overhead,
        "offsets_ms": offsets,
    })
    return res


def replicate_small_batches(ctx: Ctx) -> Result:
    return _replication(ctx, FeedShape(3_000, 300, 6), FeedShape(2_000, 200, 4))


def replicate_large_state(ctx: Ctx) -> Result:
    return _replication(ctx, FeedShape(240_000, 120_000, 3), FeedShape(40_000, 20_000, 4))


# -- analytics -----------------------------------------------------------------

ANALYTICS_SCALE = 0.01


def _analytics_traced(ops: dict, per_op: dict[str, dict]) -> Metrics:
    out = {
        "suite.jobs": (ops["jobs"], "count"),
        "suite.stages": (ops["stages"], "count"),
        "suite.driver_s": (ops["driver_s"], "s"),
        "suite.core_busy_ratio": (ops["core_busy_ratio"], "ratio"),
        "suite.cpu_s": (ops["cpu_s"], "s"),
        "suite.gc_s": (ops["gc_s"], "s"),
        "suite.shuffle_bytes": (ops["shuffle_bytes"], "bytes"),
        "suite.input_bytes": (ops["input_bytes"], "bytes"),
        "suite.spill_bytes": (ops["spill_bytes"], "bytes"),
    }
    for name, o in sorted(per_op.items()):
        out[f"suite.{name}.jobs"] = (o["jobs"], "count")
        out[f"suite.{name}.shuffle_bytes"] = (o["shuffle_bytes"], "bytes")
    return out


def analytics_headline(ctx: Ctx) -> Result:
    import duckdb
    from bench import HEADLINE
    from tools.check_oracle import table_digest

    from mongodb_mysql_cdc_spark import registry
    from mongodb_mysql_cdc_spark.catalog import TABLES, load, path_for

    qs, oracles = registry.queries(), registry.oracles()
    res = Result(traced_layers=_analytics_traced)
    tables = None
    for i in range(SETUP_ROUNDS):
        t0 = time.perf_counter()
        with ctx.tracer.span("setup.feed"):
            tables = feeds.write_analytics_tables(
                os.path.join(ctx.work, f"tables_{i}"), ctx.seed, ANALYTICS_SCALE
            )
        t1 = time.perf_counter()
        with ctx.tracer.span("catalog.load"):
            for t in TABLES:
                load(ctx.spark, tables, t)
        res.feed_s.append(t1 - t0)
        res.stage_s.append(time.perf_counter() - t1)

    # Oracle check, once per run and untimed; it also warms the process up.
    t0 = time.perf_counter()
    reference: dict[str, tuple[int, int]] = {}
    oracle_ok: dict[str, bool] = {}
    with ctx.tracer.span("check"), duckdb.connect() as con:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path_for(tables, t)}')")
        for name in HEADLINE:
            try:
                df = qs[name](ctx.spark, tables)
                got = table_digest([tuple(r) for r in df.collect()], df.columns)
                rel = con.sql(oracles[name])
                oracle_ok[name] = got == table_digest(rel.fetchall(), rel.columns)
                # a second, fresh execution: the hash every timed one must
                # reproduce, and the warm-up the first timed pass needs
                reference[name] = materialize(qs[name](ctx.spark, tables))
            except Exception as ex:
                oracle_ok[name] = False
                _error(res, name, ex)
    res.warmup_s = time.perf_counter() - t0

    order = list(HEADLINE)
    rng = random.Random(ctx.seed)
    build: dict[str, list[float]] = {n: [] for n in HEADLINE}
    execute: dict[str, list[float]] = {n: [] for n in HEADLINE}
    mismatched: dict[str, int] = {}
    passes = 0
    deadline = time.perf_counter() + ctx.seconds
    while passes == 0 or time.perf_counter() < deadline:
        passes += 1
        rng.shuffle(order)
        for name in order:
            res.attempted += 1
            start = time.time()
            try:
                with ctx.tracer.span(f"suite.{name}.build") as b:
                    df = qs[name](ctx.spark, tables)
                with ctx.tracer.span(f"suite.{name}.exec") as e:
                    got = materialize(df)
            except Exception as ex:
                res.failed += 1
                _error(res, name, ex)
                continue
            if not oracle_ok[name] or got != reference.get(name):
                res.failed += 1
                mismatched[name] = mismatched.get(name, 0) + 1
            res.op_windows.append((start, time.time()))
            res.op_names.append(name)
            build[name].append(b.wall)
            execute[name].append(e.wall)
    runs = [b + e for n in HEADLINE for b, e in zip(build[n], execute[n])]
    if not runs:
        raise RuntimeError(f"no query completed: {res.details.get('errors')}")

    medians = {n: statistics.median(b + e for b, e in zip(build[n], execute[n]))
               for n in HEADLINE if build[n]}
    res.checks_passed = all(oracle_ok.values())
    res.end_to_end = {
        "query_p50_s": (statistics.median(runs), "s"),
        "query_p75_s": (p75(runs), "s"),
        # the sum of per-query medians, as bench.py sums per-query bests
        "suite_s": (sum(medians.values()), "s"),
    }
    res.layers = {
        "catalog.load_s": (statistics.median(res.stage_s), "s"),
        "suite.build_s": (statistics.median(x for n in HEADLINE for x in build[n]), "s"),
        "suite.exec_s": (statistics.median(x for n in HEADLINE for x in execute[n]), "s"),
    }
    for n in HEADLINE:
        if build[n]:
            res.layers[f"suite.{n}.build_s"] = (statistics.median(build[n]), "s")
            res.layers[f"suite.{n}.exec_s"] = (statistics.median(execute[n]), "s")
    res.details.update({
        "scale": ANALYTICS_SCALE,
        "passes": passes,
        "oracle_matches": sum(oracle_ok.values()),
        "oracle_total": len(HEADLINE),
        "oracle_failed": sorted(n for n, ok in oracle_ok.items() if not ok),
        "hash_mismatches": mismatched,
        "query_median_s": medians,
    })
    return res


WORKLOADS = {
    "replicate_small_batches": replicate_small_batches,
    "replicate_large_state": replicate_large_state,
    "analytics_headline": analytics_headline,
}
