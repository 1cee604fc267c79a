"""Output contracts of the timing CLIs that other programs parse: bench.py's
single JSON line (read by the benchmark driver) and bench_scale.py's RESULT
lines (read by tools/prebench.py's regexes)."""

from __future__ import annotations

import json
import re
import subprocess
import sys
from pathlib import Path

import bench

ROOT = Path(__file__).resolve().parent.parent


def test_bench_prints_one_json_line_with_the_driver_keys(spark, sf_dir, monkeypatch, capsys):
    names = ["pricing_summary", "join_inner_hash"]
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", sf_dir)
    monkeypatch.setattr(bench, "HEADLINE", names)

    bench.main()

    lines = capsys.readouterr().out.splitlines()
    assert len(lines) == 1, lines
    rec = json.loads(lines[0])
    assert set(rec) == {
        "metric", "value", "unit", "queries", "sf", "load1_start",
        "load1_end", "cpus", "master", "shuffle_partitions",
    }
    assert set(rec["queries"]) == set(names)
    assert rec["value"] == round(sum(rec["queries"].values()), 3)
    assert rec["sf"] == 0.001


def test_bench_scale_result_line_matches_prebench_patterns(sf_dir):
    proc = subprocess.run(
        [
            sys.executable, str(ROOT / "tools/bench_scale.py"),
            "--queries", "pricing_summary",
            "--a", sf_dir, "--b", sf_dir, "--n", "1",
        ],
        capture_output=True, text=True, cwd=str(ROOT), timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    # the two patterns tools/prebench.py applies to this output
    assert re.search(r"RESULT pricing_summary: a=([\d.]+)s", proc.stdout), proc.stdout
    per = {
        m.group(1): float(m.group(2))
        for m in re.finditer(r"RESULT (\w+): a=([\d.]+)s", proc.stdout)
    }
    assert set(per) == {"pricing_summary"}
