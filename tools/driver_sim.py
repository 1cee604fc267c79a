"""Plain-session driver simulation — the round gate check_strict.py can't do.

The grading driver runs from its OWN cwd with a PLAIN SparkSession (none
of session.py's configs). Two failure classes only appear under those
conditions:

- a Python kernel or DataSource class pickled BY REFERENCE (module-level
  def) works when cwd is the repo root and dies on the driver
  (executors can't ``import mongodb_mysql_cdc_spark``);
- results whose pandas canonicalization crashes (array/map cells) or
  that depend on session.py settings (timezone, shuffle partitions, AQE).

So: chdir to a scratch dir FIRST, build a bare session, then run every
query (or the first-50 window with --window) through toPandas + the
driver-shaped sort, and print a hash of the sorted rows so two checkouts
can be compared.

Usage:  python tools/driver_sim.py [--sf /root/testdata/sf0.01] [--window] [name ...]
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys
import tempfile
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parent.parent)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--window", action="store_true", help="first 50 names only")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    # the load-bearing step: leave the repo before Spark ships anything
    os.chdir(tempfile.mkdtemp(prefix="driver_sim_"))
    sys.path.insert(0, REPO)
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.master("local[8]").getOrCreate()
    sys.path.insert(0, REPO)  # spark may reset path ordering
    import __spark_entry__ as e

    qs = e.queries()
    assert set(e.oracle_sql()) <= set(qs)
    names = args.names or (list(qs)[:50] if args.window else list(qs))
    fails = []
    for n in names:
        t0 = time.time()
        try:
            pdf = qs[n](spark, args.sf).toPandas()
            pdf = pdf[sorted(pdf.columns)]
            if len(pdf.columns) and len(pdf):
                pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort")
            digest = hashlib.sha1(pdf.to_csv(index=False).encode()).hexdigest()[:16]
            print(f"OK {n} ({len(pdf)} rows) hash={digest} [{time.time()-t0:.1f}s]", flush=True)
        except Exception as ex:
            fails.append(n)
            print(f"ERR {n}: {type(ex).__name__}: {str(ex)[:300]}", flush=True)
    print(f"\n{len(names) - len(fails)} ok, {len(fails)} failed: {fails}")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
