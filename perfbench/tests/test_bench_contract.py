import json
import subprocess
import sys
from pathlib import Path

import run

REPO = Path(run.__file__).resolve().parents[1]


def test_benchmark_json_names_what_run_reports():
    bench = json.loads((REPO / "BENCHMARK.json").read_text())
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOAD_NAMES)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    one_pass = {"failures": [], "units": 10, "wall_s": 1.0, "cpu_s": 1.0,
                "peak_rss_mb": 5.0}
    reported = run.end_to_end([one_pass], 2.0, 2)
    assert e2e == {k: m["unit"] for k, m in reported.items()}


def test_without_the_package_it_fails_without_a_result(tmp_path):
    (tmp_path / "perfbench").mkdir()
    for f in (REPO / "perfbench").glob("*.py"):
        (tmp_path / "perfbench" / f.name).write_bytes(f.read_bytes())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "l10n_unique",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert proc.stdout == ""
