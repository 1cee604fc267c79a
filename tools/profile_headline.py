"""Per-query profile of the headline bench queries (or any --queries list).

Times each query with the shared method of ``mongodb_mysql_cdc_spark.timing``
(warm-up, then best of --n) in three columns:

  build   DataFrame construction alone (driver-side: parquet footer reads,
          py4j expression building — no job runs)
  noop    build + a noop-sink write: computes every column of every row,
          with no driver collect and no extra aggregate
  bench   build + the hash action — the per-query number bench.py reports
          and BENCH_rNN.json records

and writes `.explain("formatted")` to plans/<round>/<name>_<tag>.txt.

Usage:
  python tools/profile_headline.py [--n 3] [--tag before] [--round r14]
                                   [--queries a,b,c] [--sf DIR] [--no-plans]
                                   [--executed]

--n 0 only writes the plans. --executed additionally runs each query once
and appends the POST-RUN plan (AQE final plan: ReusedExchange /
AQEShuffleRead visible) to the dump — the static explain only shows
isFinalPlan=false.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from mongodb_mysql_cdc_spark.registry import queries
from mongodb_mysql_cdc_spark.session import get_session
from mongodb_mysql_cdc_spark.timing import HEADLINE, materialize, time_runs, warm_up, write_noop


def explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=3)
    ap.add_argument("--tag", default="before")
    ap.add_argument("--queries", default=None)
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--no-plans", action="store_true")
    ap.add_argument("--round", default="r14")
    ap.add_argument("--executed", action="store_true")
    args = ap.parse_args()

    names = args.queries.split(",") if args.queries else HEADLINE
    spark = get_session("profile")
    sc = spark.sparkContext
    qs = queries()
    warm_up(spark, args.sf)

    plans_dir = Path(__file__).resolve().parent.parent / "plans" / args.round
    plans_dir.mkdir(parents=True, exist_ok=True)

    out = {}
    for name in names:
        fn = qs[name]
        builds, _ = time_runs(args.n, lambda: fn(spark, args.sf))
        sc.setJobDescription(f"{name}: noop")
        noops, _ = time_runs(args.n, lambda: write_noop(fn(spark, args.sf)))
        sc.setJobDescription(f"{name}: bench-action")
        benches, _ = time_runs(args.n, lambda: materialize(fn(spark, args.sf)))
        sc.setJobDescription(None)
        rec = {
            "build": round(min(builds, default=0.0), 3),
            "noop": round(min(noops, default=0.0), 3),
            "bench": round(min(benches, default=0.0), 3),
        }
        out[name] = rec
        print(f"# {name}: build={rec['build']} noop={rec['noop']} bench={rec['bench']}", file=sys.stderr)
        if not args.no_plans:
            df = fn(spark, args.sf)
            text = explain(df)
            if args.executed:
                # collect() runs THIS DataFrame's QueryExecution, so the
                # subsequent explain shows the AQE final plan (a noop
                # write would execute a separate wrapping QE instead)
                df.collect()
                text += "\n== Post-run (AQE final) plan ==\n" + explain(df)
            (plans_dir / f"{name}_{args.tag}.txt").write_text(text)
    print(json.dumps({"sf": args.sf, "n": args.n, "timings": out}))


if __name__ == "__main__":
    main()
