"""The auto-shipped package zip: one file per driver process."""

from __future__ import annotations

import types
import zipfile

from xmlschemavalidator_spark import session


def test_ship_package_zip_is_per_process(tmp_path, monkeypatch):
    """Two driver processes on one host must not share the zip path: a
    second session rewriting the first one's zip breaks its running tasks
    ("exists and does not match contents")."""
    monkeypatch.setattr("tempfile.tempdir", str(tmp_path))
    added: list[str] = []
    spark = types.SimpleNamespace(sparkContext=types.SimpleNamespace(addPyFile=added.append))
    for pid in (4101, 4102):
        monkeypatch.setattr("os.getpid", lambda pid=pid: pid)
        session._ship_package(spark)

    assert len(added) == 2 and added[0] != added[1]
    names = []
    for path in added:
        with zipfile.ZipFile(path) as z:
            names.append(sorted(z.namelist()))
    assert names[0] == names[1]
    assert "xmlschemavalidator_spark/session.py" in names[0]
