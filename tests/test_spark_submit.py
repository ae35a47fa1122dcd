"""North-rule run mode: the job must work via
``spark-submit --py-files osml10n_spark.zip run_job.py`` with the
package shipped ONLY through the zip (cwd is a scratch dir, not the
repo), and a rerun against the same store must resume (0 new rows).
Under spark-submit, --master / --conf win over the engine's defaults."""
import json
import pathlib
import shutil
import subprocess
import sys

import pytest

REPO = pathlib.Path(__file__).resolve().parent.parent
SPARK_SUBMIT = shutil.which("spark-submit")


def _make_zip(tmp_path):
    zip_path = tmp_path / "osml10n_spark.zip"
    subprocess.run([sys.executable, str(REPO / "run_job.py"),
                    "--make-zip", str(zip_path)],
                   check=True, cwd=str(REPO), capture_output=True)
    assert zip_path.exists()
    return zip_path


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")
def test_spark_submit_pyfiles_job_and_resume(tmp_path):
    zip_path = _make_zip(tmp_path)

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


@pytest.mark.skipif(SPARK_SUBMIT is None, reason="spark-submit not on PATH")
def test_spark_submit_conf_wins(tmp_path):
    """Under spark-submit, build_session applies an engine default only
    where --master / --conf left the key unset."""
    zip_path = _make_zip(tmp_path)
    script = tmp_path / "conf_probe.py"
    script.write_text(
        "import json\n"
        "from osml10n_spark.engine.session import build_session\n"
        "c = build_session('conf-probe').conf\n"
        "print(json.dumps({k: c.get(k) for k in ('spark.master', "
        "'spark.sql.session.timeZone', "
        "'spark.sql.autoBroadcastJoinThreshold')}))\n")
    r = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[1]",
         "--conf", "spark.sql.session.timeZone=America/New_York",
         "--py-files", str(zip_path), str(script)],
        cwd=str(tmp_path), capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-3000:]
    got = json.loads([l for l in r.stdout.splitlines()
                      if l.startswith("{")][-1])
    assert got == {"spark.master": "local[1]",
                   "spark.sql.session.timeZone": "America/New_York",
                   "spark.sql.autoBroadcastJoinThreshold": "67108864"}
