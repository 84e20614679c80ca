"""The worker daemon re-reads a zip archive on sys.path only when it
changed, and what a task imports stays current."""

from __future__ import annotations

import os
import sys
import zipfile
import zipimport

import pytest

from airquality_data_pipeline_spark import worker_daemon


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="3.13 invalidates without a re-read")
def test_archive_reread_only_when_it_changed(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"aq_zip_v1": "X = 1\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches)
    first, second = zipimport.zipimporter(archive), zipimport.zipimporter(archive)
    reads, read = [], zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda a: reads.append(a) or read(a))

    first.invalidate_caches()  # no read recorded yet
    second.invalidate_caches()
    first.invalidate_caches()
    assert reads == [archive]

    _write_zip(archive, {"aq_zip_v1": "X = 1\n", "aq_zip_v2": "X = 2\n"})
    second.invalidate_caches()
    first.invalidate_caches()
    assert reads == [archive, archive]
    assert first.find_spec("aq_zip_v2") is not None
    assert second.find_spec("aq_zip_v2") is not None

    # same size, new mtime: still a change
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    first.invalidate_caches()
    assert reads == [archive] * 3


def test_worker_tasks_do_not_reread_archives(spark):
    def reads_in_task(_):
        import importlib
        import zipimport

        reads, read = [], zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or read(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        return [len(reads)]

    assert spark.sparkContext.parallelize([0], 1).mapPartitions(reads_in_task).collect() == [0]


def test_files_shipped_mid_session_import_in_next_task(spark, tmp_path):
    sc = spark.sparkContext
    archive = tmp_path / "aq_shipped_zip.zip"
    _write_zip(archive, {"aq_shipped_zip": "VALUE = 'zip'\n"})
    module = tmp_path / "aq_shipped_py.py"
    module.write_text("VALUE = 'py'\n")
    sc.addPyFile(str(archive))
    sc.addPyFile(str(module))

    def imported(_):
        import aq_shipped_py
        import aq_shipped_zip

        return [aq_shipped_zip.VALUE, aq_shipped_py.VALUE]

    assert sc.parallelize([0], 1).mapPartitions(imported).collect() == ["zip", "py"]
