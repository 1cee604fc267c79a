"""Best-of-N wall-clock comparison of registry queries across two sf dirs
(the BASELINE.md 10× scale-validation harness).

Each run builds the query and runs the shared materializing action of
``mongodb_mysql_cdc_spark.timing`` (the same per-query quantity bench.py
reports). Prints one ``RESULT <name>: a=<sec>s ...`` line per query, which
tools/prebench.py parses.

Usage:
  python tools/bench_scale.py --queries q1,q2 [--a /root/testdata/sf0.1]
                              [--b /tmp/sf10x] [--n 2]
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from mongodb_mysql_cdc_spark.registry import queries
from mongodb_mysql_cdc_spark.session import get_session
from mongodb_mysql_cdc_spark.timing import materialize, time_runs


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", required=True)
    ap.add_argument("--a", default="/root/testdata/sf0.1")
    ap.add_argument("--b", default="/tmp/sf10x")
    ap.add_argument("--n", type=int, default=2)
    args = ap.parse_args()
    spark = get_session("bench_scale")
    reg = queries()
    for name in args.queries.split(","):
        fn = reg[name]
        ra, (na, _) = time_runs(args.n, lambda: materialize(fn(spark, args.a)))
        rb, (nb, _) = time_runs(args.n, lambda: materialize(fn(spark, args.b)))
        ta, tb = min(ra), min(rb)
        growth = tb / ta if ta > 0 else float("inf")
        print(
            f"RESULT {name}: a={ta:.2f}s ({na} rows)  b={tb:.2f}s ({nb} rows)"
            f"  growth={growth:.1f}x",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
