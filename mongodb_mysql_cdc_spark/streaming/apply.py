"""cdc_apply — fold a CDC envelope stream into a current-state table.

This is the engine's flagship stateful operator: the Structured-Streaming
re-expression of "apply the oplog to MySQL with INSERT … ON DUPLICATE KEY
UPDATE / DELETE" (SURVEY.md §2.9, §3-C).

- ``reconcile``: pure batch algebra. Per key it keeps the image with the
  greatest (ts, seq). It is associative, reconcile(reconcile(a, b), c) ==
  reconcile(a ∪ b ∪ c), so micro-batches fold in any grouping; that is
  the exactly-once argument under micro-batch replay.
- Tombstones stay in the state table (op='d' rows keep their (ts, seq)):
  dropping them would let a late, older event resurrect a deleted key.
  ``current_state`` filters them at read time.
- ``BucketedParquetSink``: the foreachBatch commit protocol shared by the
  LWW sink ``CdcParquetSink`` and the SCD2 history sink
  ``Scd2ParquetSink``. State is parquet partitioned by a hash bucket of
  the key. The first write (the snapshot) writes its fold directly; every
  later micro-batch reads only the buckets its keys touch. Either way one
  dynamic partition overwrite replaces the touched buckets, then the
  batch id goes into an atomically replaced commit log; replaying a
  committed batch id is a no-op. The LWW fold shuffles once, on the
  bucket, so each touched bucket is written by one task as one file.
- ``cdc_apply_stateful_stream``: the same LWW apply with the per-key image
  in the Spark StateStore instead of a parquet table.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mongodb_mysql_cdc_spark.sources.cdc import OP_DELETE

STATE_COLS = ("key", "op", "ts", "seq", "after")


def reconcile(envelopes: DataFrame, *key_derived: str) -> DataFrame:
    """Collapse an envelope bag to one image per key: last-writer-wins by
    (ts, seq) — seq (the resume-token stand-in) breaks ts ties exactly the
    way the oplog's total order would.

    One ``max(struct(ts, seq, op, after))`` picks the winner: (ts, seq)
    leads the struct and seq is the globally unique oplog position, so
    within a key the comparison reaches op/after only for byte-identical
    re-delivered rows, where either pick is the same row.

    ``key_derived`` names columns that are functions of ``key`` (the
    sinks' ``bucket``). They lead the grouping, which leaves one group per
    key, and come back after the state columns."""
    m = envelopes.groupBy(*key_derived, "key").agg(
        F.max(F.struct("ts", "seq", "op", "after")).alias("_m")
    )
    return m.select(
        "key",
        F.col("_m.op").alias("op"),
        F.col("_m.ts").alias("ts"),
        F.col("_m.seq").alias("seq"),
        F.col("_m.after").alias("after"),
        *key_derived,
    )


def merge_states(state: DataFrame, delta: DataFrame) -> DataFrame:
    """Fold a delta (raw envelopes or reconciled rows) onto an existing
    state — same LWW rule, so it is just reconcile(state ∪ delta) over
    STATE_COLS."""
    return reconcile(state.select(*STATE_COLS).unionByName(delta.select(*STATE_COLS)))


def current_state(state: DataFrame) -> DataFrame:
    """The queryable sink table: tombstones filtered, document flattened —
    what the MySQL table would contain."""
    return state.filter(F.col("op") != OP_DELETE).select(
        F.col("key"),
        F.col("ts").alias("last_ts"),
        F.col("after.event_type").alias("last_event_type"),
        F.col("after.value").alias("last_value"),
        F.col("after.k").alias("last_k"),
    )


def cdc_apply_batch(envelopes: DataFrame) -> DataFrame:
    """Batch form of the whole apply: reconcile + tombstone filter."""
    return current_state(reconcile(envelopes))


# --- applyInPandasWithState form (SURVEY.md §2.9: "at scale
# applyInPandasWithState for in-flight state") -------------------------------
#
# The parquet sinks below re-read and rewrite the touched state buckets per
# micro-batch — correct, but the state round-trips through the filesystem.
# This form keeps the per-key LWW image in the Spark StateStore instead:
# executor-local, versioned, checkpointed incrementally — the shape that
# holds at 100 TB where the hot state must never be a full-table rewrite.

STATEFUL_STATE_SCHEMA = T.StructType(
    [
        T.StructField("op", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("seq", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("k", T.LongType()),
    ]
)

STATEFUL_OUTPUT_SCHEMA = T.StructType(
    [T.StructField("key", T.LongType())] + list(STATEFUL_STATE_SCHEMA.fields)
)


def cdc_apply_stateful_stream(env: DataFrame) -> DataFrame:
    """Streaming LWW apply via applyInPandasWithState over a flattened
    envelope stream (key, op, ts, seq, event_type, value, k)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    # NB: the kernel is a NESTED function on purpose — cloudpickle ships
    # nested functions by value, while a module-level function is pickled
    # by reference and the executor's Python worker would have to import
    # this package (which is only importable when the driver happens to run
    # from the repo root). Same rule as every other kernel in operators/.
    def lww_update_kernel(key, pdf_iter, state):
        """Per-key LWW fold over Arrow batches + GroupState. Emits the
        post-merge image whenever the key appears in a batch (update
        mode)."""
        import pandas as pd

        if state.exists:
            op, ts, seq, event_type, value, k = state.get
            ts = pd.Timestamp(ts)
        else:
            op = ts = seq = event_type = value = k = None

        for pdf in pdf_iter:
            best = pdf.sort_values(["ts", "seq"]).iloc[-1]
            if seq is None or (best["ts"], best["seq"]) > (ts, seq):
                # every nullable field gets the pd.isna guard — a bare
                # str(None)/float(None) would store the literal "None"/NaN
                # instead of NULL and diverge from the SQL oracle
                op = None if pd.isna(best["op"]) else str(best["op"])
                ts = best["ts"]
                seq = int(best["seq"])
                event_type = (
                    None if pd.isna(best["event_type"]) else str(best["event_type"])
                )
                value = None if pd.isna(best["value"]) else float(best["value"])
                k = None if pd.isna(best["k"]) else int(best["k"])

        state.update((op, ts.to_pydatetime(), seq, event_type, value, k))
        yield pd.DataFrame(
            [
                {
                    "key": key[0],
                    "op": op,
                    "ts": ts,
                    "seq": seq,
                    "event_type": event_type,
                    "value": value,
                    "k": k,
                }
            ]
        )

    flat = env.select(
        "key",
        "op",
        "ts",
        "seq",
        F.col("after.event_type").alias("event_type"),
        F.col("after.value").alias("value"),
        F.col("after.k").alias("k"),
    )
    return flat.groupBy("key").applyInPandasWithState(
        lww_update_kernel,
        STATEFUL_OUTPUT_SCHEMA,
        STATEFUL_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def scd2_versions(envelopes: DataFrame) -> DataFrame:
    """SCD2 version rows from one envelope bag: every non-delete envelope
    opens an interval; the key's next envelope (delete included) closes
    it. Same (key)-partitioned window the apply path shuffles by."""
    w = Window.partitionBy("key").orderBy("ts", "seq")
    versioned = envelopes.select(
        "key", "ts", "seq", "op", F.col("after.value").alias("value")
    ).withColumn("next_ts", F.lead("ts").over(w))
    return versioned.filter(F.col("op") != OP_DELETE).select(
        "key",
        "seq",
        "value",
        F.col("ts").alias("valid_from"),
        F.col("next_ts").alias("valid_to"),
        F.col("next_ts").isNull().alias("is_current"),
    )


@dataclass
class BucketedParquetSink:
    """foreachBatch sink keeping a keyed parquet state table, applied
    exactly once per batch id. Subclasses supply ``fold``.

    Layout under ``state_dir``:

    - ``state/bucket=<b>/*.parquet`` with ``b = pmod(xxhash64(key),
      n_buckets)`` (``bucket()``);
    - ``_commits.json``: a JSON list of the committed batch ids.

    ``fold(batch_df, old_touched)`` returns the new rows of every bucket
    the batch touches, with their ``bucket`` column. ``old_touched`` holds
    those buckets' current rows without it, or is None when there is no
    state yet.

    ``apply_batch(batch_df, batch_id)``:

    1. A batch id already in the commit log is a replay: return.
    2. Probe the state (a directory listing, no Spark job). With no state
       yet, which is the snapshot, go to step 5 with ``fold(batch_df,
       None)``: there is nothing to prune.
    3. Collect the distinct buckets of the batch keys (at most
       ``n_buckets`` ints, the only driver-side collect). An empty list is
       an empty batch, committed as a no-op.
    4. Read only those bucket directories of the old state, with the state
       schema given explicitly (the schema of ``fold``'s plan), so no
       schema-inference job runs.
    5. Write the fold once, straight into ``state/`` with
       ``partitionOverwriteMode=dynamic``: only the bucket directories
       present in the output are replaced, and the files of every other
       bucket keep their paths and mtimes.
    6. Add the batch id to the commit log: ``_commits.json.tmp`` is
       written, fsynced and ``os.replace``-d over ``_commits.json``.

    A fold that clusters its rows by ``bucket`` before its shuffle (the LWW
    fold does) gives one task and one file per touched bucket; its final
    stage then runs at most ``n_buckets`` tasks, whatever the shuffle
    partition count.

    Step 5 may overwrite the directories it reads because a dynamic
    overwrite writes all task output under ``state/.spark-staging-<job>/``
    and swaps bucket directories in only at job commit, after every task,
    and so every read of the old buckets, has finished. File listing skips
    ``.``-prefixed names, so the staging directory of a killed write is
    invisible to readers and to later writes.

    Crash windows. A crash between steps 5 and 6 leaves the batch written
    but not committed, and the restart replays it onto its own output; the
    swap in step 5 is per bucket, so a crash inside it leaves some touched
    buckets folded and others not. ``fold`` must therefore be idempotent
    per bucket: folding a batch onto state that already holds it changes
    nothing. The swap deletes a bucket directory before renaming its
    replacement in, and a crash between the two loses that bucket; this
    protocol does not close that window.
    """

    spark: SparkSession
    state_dir: str
    n_buckets: int = 16

    def bucket(self) -> Column:
        """The state bucket of each row's ``key``."""
        return F.pmod(F.xxhash64("key"), F.lit(self.n_buckets))

    def fold(self, batch_df: DataFrame, old_touched: DataFrame | None) -> DataFrame:
        """The new rows of the buckets ``batch_df`` touches, with the
        ``bucket`` column last. ``old_touched`` holds those buckets'
        current rows without it, or is None before the first write."""
        raise NotImplementedError

    @property
    def _state_path(self) -> str:
        return os.path.join(self.state_dir, "state")

    @property
    def _commit_log(self) -> str:
        return os.path.join(self.state_dir, "_commits.json")

    def _load_commits(self) -> set[int]:
        if os.path.exists(self._commit_log):
            with open(self._commit_log) as f:
                return set(json.load(f))
        return set()

    def _save_commits(self, committed: set[int]) -> None:
        # a committed no-op batch can come before any state write, so the
        # directory may not exist yet
        os.makedirs(self.state_dir, exist_ok=True)
        tmp = self._commit_log + ".tmp"
        with open(tmp, "w") as f:
            json.dump(sorted(committed), f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._commit_log)

    def state(self, schema: T.StructType | None = None) -> DataFrame | None:
        """The state table with its ``bucket`` column, or None when no
        bucket directory exists yet. Every other read error raises:
        unreadable state must never pass for empty state."""
        path = self._state_path
        if not os.path.isdir(path) or not any(
            d.startswith("bucket=") for d in os.listdir(path)
        ):
            return None
        reader = self.spark.read if schema is None else self.spark.read.schema(schema)
        return reader.parquet(path)

    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        committed = self._load_commits()
        if batch_id in committed:
            return
        new = self.fold(batch_df, None)
        old = self.state(new.schema)
        if old is not None:
            touched = [r[0] for r in batch_df.select(self.bucket()).distinct().collect()]
            new = None  # an empty batch touches no bucket: nothing to write
            if touched:
                old_touched = old.filter(F.col("bucket").isin(touched)).drop("bucket")
                new = self.fold(batch_df, old_touched)
        if new is not None:
            (
                new.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("bucket")
                .parquet(self._state_path)
            )
        committed.add(batch_id)
        self._save_commits(committed)


class CdcParquetSink(BucketedParquetSink):
    """Last-writer-wins state table: one row per key, tombstones kept.
    ``fold`` is ``reconcile(old ∪ batch)``; reconcile is associative and
    idempotent, so a replayed batch folds to the same rows.

    The fold computes the bucket before its one shuffle, an exchange on
    ``bucket``, and reconciles grouped by (bucket, key). The aggregate's
    sort by (bucket, key) is then also the sort the partitioned write
    needs, and each bucket is written by one task."""

    def fold(self, batch_df: DataFrame, old_touched: DataFrame | None) -> DataFrame:
        rows = batch_df.select(*STATE_COLS)
        if old_touched is not None:
            rows = old_touched.select(*STATE_COLS).unionByName(rows)
        clustered = rows.withColumn("bucket", self.bucket()).repartition("bucket")
        return reconcile(clustered, "bucket")

    def current(self) -> DataFrame:
        st = self.state()
        if st is None:
            # an empty feed writes no state: the sink table is empty
            return self.spark.createDataFrame(
                [],
                "key long, last_ts timestamp, last_event_type string,"
                " last_value double, last_k long",
            )
        return current_state(st)


class Scd2ParquetSink(BucketedParquetSink):
    """SCD2 history table maintained incrementally: the streaming twin of
    the batch ``cdc_scd2`` window, with the same oracle (micro-batch
    folding must be invisible).

    ``fold``: the batch's own envelopes become version rows through
    ``scd2_versions``; each touched key's open row in state is closed at
    the key's first (ts, seq) in the batch (delete envelopes close without
    opening). Correct because per-key (ts, seq) never decreases across
    micro-batches, the oplog's total order (SURVEY §1.1).

    Two per-row guards make the fold idempotent, as the base class
    requires, and are no-ops on a first delivery:

    - close-guard: an open row is closed only when the batch's first
      (ts, seq) for its key is strictly greater than the row's own
      (valid_from, seq). A replayed batch's first envelope never out-orders
      the open row it created, so that row is not re-closed with an older
      timestamp.
    - add-guard: version rows are added through a (key, seq) anti-join
      against the touched state, so rows already folded are not
      duplicated.

    Key joins are null-safe: a NULL document key is one key group, as the
    batch window partitions it.
    """

    def fold(self, batch_df: DataFrame, old_touched: DataFrame | None) -> DataFrame:
        versions = scd2_versions(batch_df)
        if old_touched is None:
            return versions.withColumn("bucket", self.bucket())
        first = batch_df.groupBy(F.col("key").alias("_ft_key")).agg(
            F.min(F.struct("ts", "seq")).alias("_first_delta")
        )
        # aliased to the aggregated struct's field names so the comparison
        # is well-typed
        row_pos = F.struct(F.col("valid_from").alias("ts"), F.col("seq").alias("seq"))
        closed = (
            old_touched.join(
                F.broadcast(first), F.col("key").eqNullSafe(F.col("_ft_key")), "left"
            )
            .drop("_ft_key")
            .withColumn(
                "valid_to",
                F.when(
                    F.col("is_current")
                    & F.col("_first_delta").isNotNull()
                    & (row_pos < F.col("_first_delta")),
                    F.col("_first_delta.ts"),
                ).otherwise(F.col("valid_to")),
            )
            .withColumn("is_current", F.col("valid_to").isNull())
            .drop("_first_delta")
        )
        existing = old_touched.select(
            F.col("key").alias("_ex_key"), F.col("seq").alias("_ex_seq")
        )
        fresh = versions.join(
            existing,
            F.col("key").eqNullSafe(F.col("_ex_key")) & (F.col("seq") == F.col("_ex_seq")),
            "left_anti",
        )
        return closed.unionByName(fresh).withColumn("bucket", self.bucket())

    def history(self) -> DataFrame:
        st = self.state()
        if st is None:
            # an empty feed writes no state: the history is empty
            return self.spark.createDataFrame(
                [],
                "key long, seq long, value double, valid_from timestamp,"
                " valid_to timestamp, is_current boolean",
            )
        return st.select("key", "seq", "value", "valid_from", "valid_to", "is_current")
