"""The one boundary fallback of the tests and tools.

Without configured boundaries (``OSML10N_BOUNDARIES`` unset and no
reference checkout), point ``OSML10N_BOUNDARIES`` at the seeded
synthetic fixture (hk/jp/mo/th/tw) that the benchmark writes, in a
temporary directory removed at exit.  Call it before the Spark session
starts, so that the JVM, its Python workers and spark-submit
subprocesses all inherit the variable.
"""
from __future__ import annotations

import atexit
import importlib.util
import os
import shutil
import tempfile
from pathlib import Path

from osml10n_spark.spatial.boundaries import REFERENCE_BOUNDARY_DIR

ROOT = Path(__file__).resolve().parents[1]


def use_boundary_fixture() -> None:
    if "OSML10N_BOUNDARIES" in os.environ or Path(REFERENCE_BOUNDARY_DIR).is_dir():
        return
    spec = importlib.util.spec_from_file_location(
        "perfbench_fixture", ROOT / "perfbench" / "fixture.py")
    fixture = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(fixture)
    d = tempfile.mkdtemp(prefix="osml10n-boundaries-")
    atexit.register(shutil.rmtree, d, True)
    os.environ["OSML10N_BOUNDARIES"] = str(fixture.write_fixture(d, 0))
