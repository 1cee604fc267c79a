"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ..., plus box telemetry}.

Timing method (``mongodb_mysql_cdc_spark.timing``): one warm-up pass to
absorb JVM/session startup, then each query is built and run through the
full materializing action (row count + bit_xor of xxhash64 over ALL output
columns) three times, and the BEST of the three is reported. All raw
timings go to stderr.
"""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from mongodb_mysql_cdc_spark import registry
from mongodb_mysql_cdc_spark.session import get_session
from mongodb_mysql_cdc_spark.timing import HEADLINE, materialize, time_runs, warm_up


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # The 1-min load average at start and end is recorded in the artifact so
    # an outlier value can be attributed to a busy box from the artifact alone.
    load1_start = round(os.getloadavg()[0], 2)
    spark = get_session("bench")
    qs = registry.queries()
    # Registered headline queries only, so bench never breaks mid-build.
    names = [n for n in HEADLINE if n in qs]
    warm_up(spark, sf_dir)

    timings: dict[str, float] = {}
    for name in names:
        runs, (n, _) = time_runs(3, lambda: materialize(qs[name](spark, sf_dir)))
        timings[name] = round(min(runs), 3)
        print(
            f"# {name}: {timings[name]:.3f}s best of {[round(r, 3) for r in runs]} ({n} rows)",
            file=sys.stderr,
        )

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "headline_suite_wall_clock",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "load1_start": load1_start,
                "load1_end": round(os.getloadavg()[0], 2),
                # What this run actually used (the session honors
                # $SPARK_GRAFT_CPUS), so a core-scaling probe can confirm
                # the env contract from the artifact alone.
                "cpus": spark.sparkContext.defaultParallelism,
                "master": spark.sparkContext.master,
                "shuffle_partitions": int(
                    spark.conf.get("spark.sql.shuffle.partitions")
                ),
            }
        )
    )


if __name__ == "__main__":
    main()
