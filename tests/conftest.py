import atexit
import importlib.util
import os
import shutil
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

import pytest

from osml10n_spark.spatial.boundaries import REFERENCE_BOUNDARY_DIR


def _use_boundary_fixture() -> None:
    """Without reference boundaries, point OSML10N_BOUNDARIES at the
    seeded synthetic fixture (hk/jp/mo/th/tw) that the benchmark uses.
    Set at import, so the JVM, its Python workers and spark-submit
    subprocesses all inherit it."""
    if "OSML10N_BOUNDARIES" in os.environ or Path(REFERENCE_BOUNDARY_DIR).is_dir():
        return
    spec = importlib.util.spec_from_file_location(
        "perfbench_fixture", ROOT / "perfbench" / "fixture.py")
    fixture = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(fixture)
    d = tempfile.mkdtemp(prefix="osml10n-boundaries-")
    atexit.register(shutil.rmtree, d, True)
    os.environ["OSML10N_BOUNDARIES"] = str(fixture.write_fixture(d, 0))


_use_boundary_fixture()


@pytest.fixture(scope="session")
def spark():
    """local-mode SparkSession shared across the Spark test modules."""
    from osml10n_spark.engine.session import build_session

    s = build_session(app_name="osml10n-tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()
