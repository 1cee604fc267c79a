"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds nothing: the package under test
is the checkout's ``mongodb_mysql_cdc_spark``. One process, one
``local[nproc]`` session, one workload (see ``perfbench/README.md``).

- ``--trace 0`` prints the end-to-end metrics;
- ``--trace 1`` enables the Spark event log for this process only (through
  the session's ``SPARK_GRAFT_EXTRA_CONF`` lever), records spans and prints
  the per-layer metrics.

The last line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. The full artifact (box telemetry, details, the
traced layer table) goes to ``.perfbench_out/`` under the checkout root,
and all scratch data to ``.perfbench_work/``, which is removed on exit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
import uuid
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = ROOT / "mongodb_mysql_cdc_spark"

def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_env(work: Path, trace: bool) -> None:
    """Keep every file Spark and Python write inside the checkout."""
    for d in ("tmp", "local", "jtmp", "eventlog"):
        (work / d).mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(_cores()))
    conf = [
        f"spark.sql.warehouse.dir={work / 'warehouse'}",
        f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={work / 'jtmp'}",
        "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        conf += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{work / 'eventlog'}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    prior = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    os.environ["SPARK_GRAFT_EXTRA_CONF"] = ";".join(filter(None, [prior, *conf]))
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _source_id() -> dict:
    """git HEAD when the checkout is a repository, and always a digest of the
    package sources, so an artifact names the code it measured."""
    head = None
    if (ROOT / ".git").exists():
        try:
            head = subprocess.run(
                ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=10,
            ).stdout.strip() or None
        except (OSError, subprocess.SubprocessError):
            pass
    h = hashlib.sha256()
    for p in sorted(PACKAGE.rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return {"git_head": head, "package_sha256": h.hexdigest()[:16]}


def _jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def _stop_jvm(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it to end."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (PACKAGE / "__init__.py").is_file() or not (ROOT / "bench.py").is_file():
        print(f"perfbench: package under test not found next to {HERE}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(ROOT)]
    from workloads import WORKLOADS, Ctx

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    # SIGTERM runs the cleanup below: the JVM is stopped and waited for
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_id = uuid.uuid4().hex[:12]
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{run_id}"
    out_dir = ROOT / ".perfbench_out"
    trace = bool(args.trace)
    spark = None
    try:
        _prepare_env(work, trace)
        telemetry = {
            "nproc": _cores(),
            "load1_start": os.getloadavg()[0],
            "python": platform.python_version(),
            **_source_id(),
        }
        from spans import ProgressListener, Tracer
        from mongodb_mysql_cdc_spark.session import get_session

        tracer = Tracer(run_id)
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            spark = get_session("perfbench")
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        listener = ProgressListener()
        spark.streams.addListener(listener)
        import pyspark

        telemetry.update(
            master=spark.sparkContext.master,
            default_parallelism=spark.sparkContext.defaultParallelism,
            shuffle_partitions=int(spark.conf.get("spark.sql.shuffle.partitions")),
            spark_version=spark.version,
            pyspark_version=pyspark.__version__,
        )
        jvm_pid = _jvm_pid(spark)
        ctx = Ctx(spark, str(work), args.seed, args.seconds, trace, tracer, listener, jvm_pid)
        res = WORKLOADS[args.workload](ctx)
        peak_rss_mb = _vm_hwm_mb(jvm_pid)
        _stop_jvm(spark)
        spark = None
        telemetry["load1_end"] = os.getloadavg()[0]

        # Set-up is what a deployment pays before its first change is
        # applied. The warm-up (one replication, or the analytics oracle
        # check) is excluded: its cost is the measured operation's, and
        # as one sample per run it was the noisiest part of set-up.
        setup_s = session_s + statistics.median(
            f + s for f, s in zip(res.feed_s, res.stage_s)
        )
        end_to_end = {"setup_s": (setup_s, "s"), **res.end_to_end}
        layers = {
            "session.start_s": (session_s, "s"),
            "jvm.peak_rss_mb": (peak_rss_mb, "MB"),
            "setup.feed_s": (statistics.median(res.feed_s), "s"),
            "setup.warmup_s": (res.warmup_s, "s"),
            **res.layers,
        }
        artifact = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "run_id": run_id,
            "telemetry": telemetry,
            "end_to_end": {k: v for k, (v, _) in end_to_end.items()},
            "setup": {
                "session_start_s": session_s,
                "feed_s": res.feed_s,
                "stage_s": res.stage_s,
                "warmup_s": res.warmup_s,
            },
            "details": res.details,
        }
        if trace:
            from spans import event_log_file, layer_table, op_breakdown, parse_event_log

            cores = _cores()
            log = parse_event_log(event_log_file(str(work / "eventlog")))
            per_op = {
                name: op_breakdown(
                    log, [w for w, n in zip(res.op_windows, res.op_names) if n == name], cores
                )
                for name in dict.fromkeys(res.op_names)
            }
            layers.update(res.traced_layers(op_breakdown(log, res.op_windows, cores), per_op))
            artifact.update(
                per_op=per_op,
                layer_table=layer_table(tracer.spans, log.jobs),
                spans=tracer.as_records(),
            )
        artifact["layers"] = {k: v for k, (v, _) in layers.items()}
        metrics = layers if trace else end_to_end

        out_dir.mkdir(exist_ok=True)
        name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
        (out_dir / name).write_text(json.dumps(artifact, indent=1, default=str))
        print(json.dumps({k: artifact[k] for k in ("workload", "telemetry", "setup")}), file=sys.stderr)
        print(json.dumps({
            "correct": res.failed == 0 and res.checks_passed,
            "attempted": res.attempted,
            "failed": res.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            try:
                _stop_jvm(spark)
            except Exception:
                traceback.print_exc()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
