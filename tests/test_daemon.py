"""Spark-free tests of the package daemon's zip-directory reloads and of
the session gate that names it as ``spark.python.daemon.module``."""
import importlib.util
import os
import zipfile
import zipimport
from pathlib import Path

import pytest

from osml10n_spark import _daemon
from osml10n_spark.engine import session

eager = pytest.mark.skipif(
    not _daemon.EAGER, reason="zipimporter.invalidate_caches is lazy here")


def _write_zip(path, sources):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in sources.items():
            z.writestr(name, src)


def _load(importer, name):
    spec = importer.find_spec(name)
    assert spec is not None, name
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture
def reads(monkeypatch):
    """Patched ``invalidate_caches`` with fresh stamps; collects the
    archives whose zip directory is parsed."""
    got = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda p: got.append(p) or real(p))
    monkeypatch.setattr(_daemon, "_stamps", {})
    # set to itself so that the stock method is back after the test
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    assert _daemon.install()
    assert zipimport.zipimporter.invalidate_caches is _daemon._invalidate_caches
    return got


@eager
def test_unchanged_zip_is_not_reread_and_rewritten_zip_is(tmp_path, reads):
    path = tmp_path / "lib.zip"
    _write_zip(path, {"m.py": "X = 1\n", "pkg/__init__.py": ""})
    top = zipimport.zipimporter(str(path))
    sub = zipimport.zipimporter(str(path / "pkg"))   # a second importer of it
    assert _load(top, "m").X == 1
    reads.clear()
    top.invalidate_caches()          # no stamp yet: one read, stamped
    sub.invalidate_caches()
    for _ in range(3):
        top.invalidate_caches()
        sub.invalidate_caches()
    assert reads == [str(path)]

    _write_zip(path, {"m.py": "X = 2\n", "n.py": "Y = 3\n",
                      "pkg/__init__.py": "", "pkg/q.py": "Z = 4\n"})
    top.invalidate_caches()
    sub.invalidate_caches()          # takes the directory top re-read
    assert reads == [str(path)] * 2
    assert _load(top, "m").X == 2
    assert _load(top, "n").Y == 3
    assert _load(sub, "q").Z == 4


@eager
def test_missing_zip_is_dropped_like_a_failed_read(tmp_path, reads):
    path = tmp_path / "lib.zip"
    _write_zip(path, {"m.py": "X = 1\n"})
    zi = zipimport.zipimporter(str(path))
    zi.invalidate_caches()
    path.unlink()
    zi.invalidate_caches()
    assert str(path) not in zipimport._zip_directory_cache
    assert zi.find_spec("m") is None
    _write_zip(path, {"m.py": "X = 5\n"})
    zi.invalidate_caches()
    assert _load(zi, "m").X == 5


def test_daemon_conf_only_where_the_daemon_imports_the_package(tmp_path,
                                                              monkeypatch):
    """The daemon is named only where ``python -m`` from the working
    directory, with this ``PYTHONPATH``, finds this package's directory;
    never for a package inside a zip (``--py-files``)."""
    want = {"spark.python.daemon.module": "osml10n_spark._daemon"}
    root = Path(session.__file__).resolve().parents[2]
    monkeypatch.chdir(tmp_path)
    monkeypatch.setenv("PYTHONPATH", str(tmp_path / "elsewhere"))
    assert session.daemon_conf() == {}
    monkeypatch.setenv("PYTHONPATH", os.pathsep.join([str(tmp_path), str(root)]))
    assert session.daemon_conf() == want
    monkeypatch.delenv("PYTHONPATH")
    assert session.daemon_conf() == {}
    monkeypatch.chdir(root)
    assert session.daemon_conf() == want

    shipped = tmp_path / "osml10n_spark.zip"
    _write_zip(shipped, {"osml10n_spark/_daemon.py": ""})
    monkeypatch.setenv("PYTHONPATH", str(shipped))
    assert session.daemon_conf(shipped / "osml10n_spark") == {}
