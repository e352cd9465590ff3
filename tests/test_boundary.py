"""Package shipping in the Python boundary, without Spark: a fake context
records what would be added to the executors."""

from __future__ import annotations

import os
import tempfile
import zipfile

import pytest

from pdf_extraction_tests_spark import boundary

PKG = "pdf_extraction_tests_spark"


class _FakeSession:
    def __init__(self, app_id: str):
        self.sparkContext = self
        self.applicationId = app_id
        self.added: list[tuple[str, list[str]]] = []

    def addPyFile(self, path: str) -> None:
        with zipfile.ZipFile(path) as zf:
            self.added.append((path, zf.namelist()))


@pytest.fixture
def fresh_process(monkeypatch, tmp_path):
    """As if no session in this process had shipped yet, with temp files
    under ``tmp_path``."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(boundary, "_shipped", set())
    monkeypatch.setattr(boundary, "_zip_path", None)
    return tmp_path


def test_ships_the_current_package_not_a_leftover_zip(fresh_process):
    # what an earlier process with the same pid could have left behind:
    # an empty archive (22 bytes), or one holding old code
    stale = fresh_process / f"{PKG}-{os.getpid()}.zip"
    with zipfile.ZipFile(stale, "w"):
        pass
    s = _FakeSession("app-1")
    boundary.ship(s)
    [(path, names)] = s.added
    assert path != str(stale)
    for mod in ("boundary.py", "pipeline.py", "operators/dedup.py"):
        assert f"{PKG}/{mod}" in names


def test_ships_once_per_application(fresh_process):
    a, b = _FakeSession("app-1"), _FakeSession("app-2")
    boundary.ship(a)
    boundary.ship(a)
    boundary.ship(b)
    assert len(a.added) == 1 and len(b.added) == 1


def test_package_imported_from_a_zip_is_not_shipped_again(fresh_process,
                                                         monkeypatch):
    # spark-submit --py-files pipeline.zip: Spark ships that zip itself
    monkeypatch.setattr(boundary, "__file__", str(
        fresh_process / "pipeline.zip" / PKG / "boundary.py"))
    s = _FakeSession("app-1")
    boundary.ship(s)
    assert s.added == []
    assert not list(fresh_process.glob("*.zip"))
