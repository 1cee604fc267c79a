"""The headline query list and the one timing method every harness shares.

``bench.py`` (the driver's JSON line), ``tools/profile_headline.py`` and
``tools/bench_scale.py`` all time a query the same way: build its DataFrame
and run :func:`materialize` on it, ``n`` times, with ``time.perf_counter``,
and report the best run. Best-of-N suppresses one-time codegen/JIT cost and
co-tenant noise (first/best spreads on a loaded box reach 2-13x) while
every run still pays scan, shuffle and compute.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

T = TypeVar("T")

# One representative per operator family: scan/agg, join strategies, window,
# set-op, CDC apply, dedup, similarity, text.
HEADLINE = [
    "pricing_summary",
    "join_inner_hash",
    "join_broadcast",
    "join_asof",
    "topk_per_group",
    "win_running",
    "agg_rollup",
    "cdc_apply_batch",
    "dedup_exact",
    "dedup_minhash_lsh",
    "sim_search_topk",
    "sim_search_lsh",
    "tfidf",
    "text_stats",
]


def warm_up(spark: SparkSession, sf_dir: str) -> None:
    """Pay the one-time JVM, codegen and parquet datasource/footer-cache
    costs a long-lived cluster never re-pays. Reads the 5-row region table
    so no query's actual data is pre-warmed."""
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/region.parquet").count()


def materialize(df: DataFrame) -> tuple[int, int]:
    """Row count plus ``bit_xor(xxhash64(struct(*)))`` of ``df``.

    A bare ``count()`` lets Catalyst prune the final projection, so
    map-heavy queries would be timed without computing their output
    columns; hashing the struct of every column forces each one to be
    produced. ``bit_xor`` rather than ``sum``: summing 64-bit hashes
    overflows under ANSI mode."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(F.struct(*[F.col(c) for c in df.columns]))).alias("h"),
    ).collect()[0]
    return row["n"], row["h"]


def write_noop(df: DataFrame) -> None:
    """Compute every column of every row through the noop sink: no driver
    collect and no extra aggregate."""
    df.write.format("noop").mode("overwrite").save()


def time_runs(n: int, run: Callable[[], T]) -> tuple[list[float], T | None]:
    """Call ``run`` ``n`` times; return each call's wall seconds and the
    last call's result (None when ``n`` is 0). Callers report ``min``."""
    runs: list[float] = []
    out = None
    for _ in range(n):
        t0 = time.perf_counter()
        out = run()
        runs.append(time.perf_counter() - t0)
    return runs, out
