import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

import pytest

from tools.boundary_fixture import use_boundary_fixture

use_boundary_fixture()


@pytest.fixture(scope="session")
def spark():
    """local-mode SparkSession shared across the Spark test modules."""
    from osml10n_spark.engine.session import build_session

    s = build_session(app_name="osml10n-tests", cores=4, shuffle_partitions=8)
    yield s
    s.stop()
