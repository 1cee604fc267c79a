"""Per-layer report: each workload run untraced and traced with one seed.

    python3 perfbench/layers.py --seed 1 --seconds 10

Runs ``run.py`` twice per workload (``--trace 0`` then ``--trace 1``), reads
both artifacts from ``.perfbench_out/`` and writes
``.perfbench_out/layers.md``: box telemetry, the end-to-end values with the
tracing overhead (traced minus untraced), the per-layer metrics, each
span's self time with the Spark work submitted inside it, the per-query
breakdown, the replication phase figures and the busy-ratio contrast
between the two replication workloads.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".perfbench_out"


def _run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    cmd = [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.exit(f"{' '.join(cmd)} failed:\n{p.stderr[-4000:]}")
    artifact = json.loads((OUT / f"{workload}-seed{seed}-trace{trace}.json").read_text())
    artifact["result"] = json.loads(p.stdout.strip().splitlines()[-1])
    return artifact


def _fmt(v) -> str:
    if isinstance(v, float):
        return f"{v:.4g}"
    return str(v)


def _table(header: list[str], rows: list[list]) -> list[str]:
    out = ["| " + " | ".join(header) + " |", "|" + "---|" * len(header)]
    out += ["| " + " | ".join(_fmt(c) for c in r) + " |" for r in rows]
    return out + [""]


def _section(name: str, plain: dict, traced: dict) -> list[str]:
    res = traced["result"]
    lines = [f"## {name}", "", "Telemetry: " + json.dumps(traced["telemetry"]), "",
             f"correct={plain['result']['correct']}/{res['correct']}, "
             f"attempted={plain['result']['attempted']}/{res['attempted']}, "
             f"failed={plain['result']['failed']}/{res['failed']} (untraced/traced)", ""]
    lines += ["### End to end and tracing overhead", ""]
    lines += _table(
        ["metric", "untraced", "traced", "overhead", "overhead %"],
        [[k, v, traced["end_to_end"][k], traced["end_to_end"][k] - v,
          100 * (traced["end_to_end"][k] - v) / v]
         for k, v in plain["end_to_end"].items()],
    )
    lines += ["### Per-layer metrics", ""]
    lines += _table(["metric", "value", "unit"],
                    [[k, v["value"], v["unit"]] for k, v in res["metrics"].items()])
    lines += ["### Layer self times (spans; jobs attributed to the innermost span)", ""]
    rows = sorted(traced["layer_table"].items(), key=lambda kv: -kv[1]["self_s"])
    cols = ["count", "wall_s", "self_s", "jobs", "tasks", "task_run_s", "cpu_s", "shuffle_bytes",
            "bytes_written"]
    lines += _table(["span path", *cols], [[k, *(r[c] for c in cols)] for k, r in rows])
    d = traced["details"]
    if "query_median_s" in d:
        lay, per_op = traced["layers"], traced["per_op"]
        lines += ["### Per query (suite.<query>)", ""]
        lines += _table(
            ["query", "build_s", "exec_s", "jobs", "stages", "shuffle_bytes", "cpu_s", "core_busy_ratio"],
            [[q, lay[f"suite.{q}.build_s"], lay[f"suite.{q}.exec_s"], o["jobs"], o["stages"],
              o["shuffle_bytes"], o["cpu_s"], o["core_busy_ratio"]] for q, o in per_op.items()],
        )
    else:
        lines += ["### Replication samples", ""]
        lines += _table(["figure", "values"], [
            [k, d[k]] for k in ("feed", "pass_s", "batch_s", "snapshot_s", "tail_s", "status_s",
                                "status_jobs", "trigger_overhead_ms", "offsets_ms", "diverging_rows")
        ])
    return lines


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    args = ap.parse_args()
    sys.path[:0] = [str(HERE), str(ROOT)]
    from workloads import WORKLOADS

    lines = ["# perfbench per-layer report", "",
             f"seed {args.seed}, {args.seconds:g} s per run; each workload run untraced, then traced.", ""]
    busy = {}
    for w in WORKLOADS:
        plain = _run(w, args.seed, args.seconds, 0)
        traced = _run(w, args.seed, args.seconds, 1)
        busy[w] = traced["layers"].get("apply.core_busy_ratio")
        lines += _section(w, plain, traced)
    small, large = busy.get("replicate_small_batches"), busy.get("replicate_large_state")
    if small and large:
        lines += ["## Contrast", "",
                  f"apply.core_busy_ratio: replicate_large_state {large:.3f} / replicate_small_batches "
                  f"{small:.3f} = {large / small:.2f}x (the workloads separate fixed-cost and "
                  f"per-event layers when this is at least 2x)", ""]
    OUT.mkdir(exist_ok=True)
    (OUT / "layers.md").write_text("\n".join(lines))
    print(OUT / "layers.md")
    return 0


if __name__ == "__main__":
    sys.exit(main())
