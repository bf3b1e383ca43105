"""zipcache: a zipimporter re-reads its archive only when it changed."""

import sys
import zipfile
import zipimport

import pytest

from ktpm___ocr_spark import zipcache

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="Python 3.13 re-reads lazily itself"
)


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_invalidate_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, ["mod_a"])
    zi = zipimport.zipimporter(str(archive))
    reads = []
    original = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or original(p)
    )
    zipcache.install()  # importing the package installed it already
    assert zipimport.zipimporter.invalidate_caches.stat_checked

    zi.invalidate_caches()  # first call: no stamp yet, so it re-reads
    zi.invalidate_caches()  # unchanged archive: no re-read
    zi.invalidate_caches()
    assert len(reads) == 1

    _write_zip(archive, ["mod_a", "mod_b"])  # replaced on disk
    zi.invalidate_caches()
    assert len(reads) == 2
    assert zi.find_spec("mod_b") is not None

    archive.unlink()  # a vanished archive is always re-read (and empties)
    zi.invalidate_caches()
    assert len(reads) == 3
    assert zi.find_spec("mod_a") is None
