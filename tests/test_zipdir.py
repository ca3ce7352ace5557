"""The stat-keyed zipimporter.invalidate_caches (boilerpipe_coffee_spark._zipdir).

No Spark: each test builds a small zip archive, puts it on sys.path and
drives ``importlib.invalidate_caches()`` the way a PySpark worker does
before every task.
"""

import importlib
import os
import sys
import types
import zipfile
import zipimport

import pytest

from boilerpipe_coffee_spark import _zipdir


@pytest.fixture
def archive(tmp_path):
    """A zip on sys.path holding ``zd_a.py``; yields its path."""
    path = str(tmp_path / "zd.zip")
    _write(path, {"zd_a.py": "X = 1\n"})
    sys.path.insert(0, path)
    yield path
    sys.path.remove(path)
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)
    for name in ("zd_a", "zd_b"):
        sys.modules.pop(name, None)


def _write(path, members):
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in members.items():
            zf.writestr(name, src)


def _importer(path):
    importer = sys.path_importer_cache[path]
    assert isinstance(importer, zipimport.zipimporter)
    return importer


def test_unchanged_archive_keeps_its_directory(archive):
    assert importlib.import_module("zd_a").X == 1
    importer = _importer(archive)
    importlib.invalidate_caches()  # first call keys the archive by its stat
    files = importer._files
    assert files is zipimport._zip_directory_cache[archive]
    for _ in range(3):
        importlib.invalidate_caches()
        assert importer._files is files


def test_directory_replaced_in_the_shared_cache_is_reread(archive):
    # another read put a directory in the cache that this one did not key
    importlib.import_module("zd_a")
    importer = _importer(archive)
    importlib.invalidate_caches()
    stale = zipimport._zip_directory_cache[archive] = {}
    importlib.invalidate_caches()
    assert importer._files is not stale
    assert "zd_a.py" in importer._files


@pytest.mark.parametrize("change", ["size", "mtime"])
def test_rewritten_archive_is_reread(archive, change):
    importlib.import_module("zd_a")
    importer = _importer(archive)
    importlib.invalidate_caches()
    files = importer._files
    st = os.stat(archive)
    if change == "size":
        _write(archive, {"zd_a.py": "X = 1\n", "zd_b.py": "Y = 2\n"})
        assert os.stat(archive).st_size != st.st_size
    else:  # same bytes, same size, later mtime
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert importer._files is not files
    assert importer._files is zipimport._zip_directory_cache[archive]
    if change == "size":
        assert "zd_b.py" in importer._files
        assert importlib.import_module("zd_b").Y == 2


def test_deleted_archive_takes_the_original_path(archive):
    importlib.import_module("zd_a")
    importer = _importer(archive)
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()
    # what the stock invalidate_caches does for an unreadable archive
    assert importer._files == {}
    assert archive not in zipimport._zip_directory_cache
    # and an archive that comes back is read again
    _write(archive, {"zd_b.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert "zd_b.py" in importer._files
    assert importlib.import_module("zd_b").Y == 2


def test_second_install_does_not_wrap_twice():
    patched = zipimport.zipimporter.invalidate_caches
    _zipdir.install()
    assert zipimport.zipimporter.invalidate_caches is patched


def _stand_in(drop=None, body=None):
    """A module shaped like zipimport, minus ``drop``, or with an
    ``invalidate_caches`` built from ``body``."""
    zi = types.ModuleType("zipimport_stand_in")
    ns = {}
    exec(
        body
        or (
            "def invalidate_caches(self):\n"
            "    self._files = _read_directory(self.archive)\n"
            "    _zip_directory_cache[self.archive] = self._files\n"
        ),
        ns,
    )
    zi.zipimporter = type("zipimporter", (), {"invalidate_caches": ns["invalidate_caches"]})
    zi._zip_directory_cache = {}
    if drop == "zipimporter.invalidate_caches":
        del zi.zipimporter.invalidate_caches
    elif drop:
        delattr(zi, drop)
    return zi


def test_install_on_a_complete_stand_in():
    zi = _stand_in()
    original = zi.zipimporter.invalidate_caches
    _zipdir.install(zi)
    assert zi.zipimporter.invalidate_caches is not original
    assert zi.zipimporter.invalidate_caches._stat_keyed
    assert not hasattr(original, "_stat_keyed")


@pytest.mark.parametrize(
    "drop, body, named",
    [
        ("zipimporter.invalidate_caches", None, "invalidate_caches"),
        ("zipimporter", None, "invalidate_caches"),
        ("_zip_directory_cache", None, "_zip_directory_cache"),
        (None, "def invalidate_caches(self):\n    _zip_directory_cache.pop(self.archive, None)\n", "_files"),
        (None, "def invalidate_caches(self):\n    self._files = _read_directory(self.path)\n", "archive"),
    ],
)
def test_install_fails_loudly_on_other_internals(drop, body, named):
    zi = _stand_in(drop, body)
    with pytest.raises(ImportError, match=named):
        _zipdir.install(zi)
