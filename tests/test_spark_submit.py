"""North-rule run mode: the job must work via
``spark-submit --py-files osml10n_spark.zip run_job.py`` with the
package shipped ONLY through the zip (cwd is a scratch dir, not the
repo), and a rerun against the same store must resume (0 new rows)."""
import json
import pathlib
import shutil
import subprocess
import sys

import pytest

REPO = pathlib.Path(__file__).resolve().parent.parent
SPARK_SUBMIT = shutil.which("spark-submit")


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")
def test_spark_submit_pyfiles_job_and_resume(tmp_path):
    zip_path = tmp_path / "osml10n_spark.zip"
    subprocess.run([sys.executable, str(REPO / "run_job.py"),
                    "--make-zip", str(zip_path)],
                   check=True, cwd=str(REPO), capture_output=True)
    assert zip_path.exists()

    store = tmp_path / "store"
    script = tmp_path / "run_job.py"
    shutil.copy(REPO / "run_job.py", script)

    def submit():
        return subprocess.run(
            [SPARK_SUBMIT, "--master", "local[4]",
             "--conf", "spark.sql.shuffle.partitions=8",
             "--py-files", str(zip_path), str(script),
             "--generate", "400", "--store", str(store), "--lang", "de"],
            cwd=str(tmp_path), capture_output=True, text=True, timeout=420)

    first = submit()
    assert first.returncode == 0, first.stderr[-3000:]
    summary1 = json.loads([l for l in first.stdout.splitlines()
                           if l.startswith("{")][-1])
    assert summary1["total_rows"] == 400
    assert summary1["resumed_from"] == 0
    assert len(summary1["snapshots"]) >= 1

    second = submit()
    assert second.returncode == 0, second.stderr[-3000:]
    summary2 = json.loads([l for l in second.stdout.splitlines()
                           if l.startswith("{")][-1])
    # everything already committed: resume finds all partitions done
    assert summary2["total_rows"] == 0
    assert summary2["resumed_from"] >= 1


def test_run_job_hex_res_flag(tmp_path):
    """--hex-res adds the H3-analog cell column on the localize path,
    bit-identical to the numpy kernel on the written rows."""
    import numpy as np
    import pyarrow.parquet as pq

    from osml10n_spark.spatial.hexindex import hexcell_from_lonlat

    out = tmp_path / "localized"
    r = subprocess.run(
        [sys.executable, str(REPO / "run_job.py"), "--generate", "200",
         "--output", str(out), "--hex-res", "8"],
        cwd=str(REPO), capture_output=True, text=True, timeout=420,
        env={**__import__("os").environ, "PYSPARK_PYTHON": sys.executable})
    assert r.returncode == 0, r.stderr[-3000:]
    t = pq.read_table(str(out), columns=["lon", "lat", "hexcell"]).to_pydict()
    assert len(t["hexcell"]) == 200
    want = hexcell_from_lonlat(np.array(t["lon"]), np.array(t["lat"]), 8)
    assert np.array_equal(want, np.array(t["hexcell"]))
