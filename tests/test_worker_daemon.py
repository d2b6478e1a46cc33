"""The test session's worker daemon (tests/pyworker/worker_daemon.py): a
zip importer re-reads its archive only when the archive changed, and the
session's Python workers really run under it."""

from __future__ import annotations

import zipfile
import zipimport

from tests.pyworker import worker_daemon


def _write_zip(path, names):
    with zipfile.ZipFile(path, "w") as z:
        for name in names:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_invalidate_rereads_only_a_changed_archive(tmp_path):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["mod_a"])
    importer = zipimport.zipimporter(archive)
    worker_daemon.invalidate_if_changed(importer)
    reads = worker_daemon.stock_reads

    worker_daemon.invalidate_if_changed(importer)  # unchanged on disk
    assert worker_daemon.stock_reads == reads
    assert importer.find_spec("mod_b") is None

    _write_zip(archive, ["mod_a", "mod_b"])  # a new module: size changes
    worker_daemon.invalidate_if_changed(importer)
    assert worker_daemon.stock_reads == reads + 1
    assert importer.find_spec("mod_b") is not None


def test_session_workers_run_the_lazy_invalidate(spark):
    got = (
        spark.sparkContext.parallelize([0], 1)
        .map(lambda _: zipimport.zipimporter.invalidate_caches.__name__)
        .collect()
    )
    assert got == ["invalidate_if_changed"]
