"""Spark's Python worker daemons and DataSource planners start with the
package's hook (`_startup/sitecustomize.py`): they import pyspark from
installed byte code when it is the release of Spark's archives, else
re-read a zip archive on sys.path only when it changed, and what a task
imports stays current."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from airquality_data_pipeline_spark._startup import sitecustomize as hook


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, body in modules.items():
            z.writestr(f"{name}.py", body)


def _spark_path(tmp_path, spark_release, py4j_release, installed):
    """Spark's archives (no spark-core jar when `spark_release` is None),
    then a site directory with `installed`'s `*.dist-info` names, as a
    worker's sys.path lists them."""
    archives = [tmp_path / "pyspark.zip", tmp_path / f"py4j-{py4j_release}-src.zip"]
    if spark_release:
        archives.append(tmp_path / f"spark-core_2.13-{spark_release}.jar")
    for archive in archives:
        _write_zip(archive, {})
    site = tmp_path / "site"
    for name in installed:
        (site / f"{name}.dist-info").mkdir(parents=True)
    return [*map(str, archives), str(site)]


def test_archives_leave_the_path_when_the_install_matches(tmp_path, monkeypatch):
    path = _spark_path(tmp_path, "9.1.2", "0.10.9", ["pyspark-9.1.2", "py4j-0.10.9"])
    guard = zipimport.zipimporter.invalidate_caches
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", guard)
    hook.install(path)
    assert path == [str(tmp_path / "site")]
    assert zipimport.zipimporter.invalidate_caches is guard


@pytest.mark.parametrize(
    "spark_release, installed",
    [
        ("9.1.2", ["pyspark-9.1.3", "py4j-0.10.9"]),
        ("9.1.2", ["pyspark-9.1.2", "py4j-0.10.8"]),
        ("9.1.2", ["pyspark-9.1.2"]),
        ("9.1.2", []),
        (None, ["pyspark-9.1.2", "py4j-0.10.9"]),  # no jar names pyspark.zip's release
    ],
)
def test_archives_stay_without_a_matching_install(tmp_path, monkeypatch, spark_release, installed):
    path = _spark_path(tmp_path, spark_release, "0.10.9", installed)
    kept = list(path)
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", zipimport.zipimporter.invalidate_caches
    )
    hook.install(path)
    assert path == kept
    if sys.version_info < (3, 13):
        assert zipimport.zipimporter.invalidate_caches is hook.invalidate_caches


def test_a_shadowed_sitecustomize_still_runs(tmp_path):
    other = tmp_path / "other"
    other.mkdir()
    (other / "sitecustomize.py").write_text("import os\nos.environ['AQ_SHADOWED'] = 'ran'\n")
    probe = "import os, sitecustomize; print(os.environ.get('AQ_SHADOWED'), sitecustomize.__file__)"
    env = {**os.environ, "PYTHONPATH": os.pathsep.join([os.path.dirname(hook.__file__), str(other)])}
    env.pop("AQ_SHADOWED", None)
    out = subprocess.run(
        [sys.executable, "-c", probe], env=env, capture_output=True, text=True, check=True
    )
    assert out.stdout.split() == ["ran", hook.__file__]


def test_a_repeated_hook_directory_runs_each_sitecustomize_once(tmp_path):
    """Workers list the hook's directory twice: from the session's
    `spark.executorEnv.PYTHONPATH` and from the JVM's own environment.
    `site` drops the repeat before the hook looks below itself, so the
    lookup finds the shadowed hook, not the hook again."""
    other = tmp_path / "other"
    other.mkdir()
    (other / "sitecustomize.py").write_text("print('shadowed ran')\n")
    here = os.path.dirname(hook.__file__)
    env = {**os.environ, "PYTHONPATH": os.pathsep.join([here, str(other), here])}
    out = subprocess.run(
        [sys.executable, "-c", "import sys; print(sys.path.count(sys.argv[1]))", here],
        env=env, capture_output=True, text=True, check=True,
    )
    assert (out.stdout.split("\n"), out.stderr) == (["shadowed ran", "1", ""], "")


def test_rdd_tasks_and_datasource_reads_share_one_worker_daemon(spark):
    """Spark keys its worker daemons by worker environment; the session
    gives RDD tasks the variable the SQL runners set, so one daemon forks
    the workers of both."""
    from pyspark.sql.datasource import DataSource, DataSourceReader

    class Reader(DataSourceReader):
        def read(self, partition):
            import os

            yield (os.getppid(),)

    class Source(DataSource):
        @classmethod
        def name(cls):
            return "aq_daemon_probe"

        def schema(self):
            return "daemon int"

        def reader(self, schema):
            return Reader()

    spark.dataSource.register(Source)
    [(read_daemon,)] = spark.read.format("aq_daemon_probe").load().collect()
    rdd_daemon = spark.sparkContext.parallelize([0], 1).map(lambda _: os.getppid()).collect()
    assert rdd_daemon == [read_daemon]


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="3.13 invalidates without a re-read")
def test_archive_reread_only_when_it_changed(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"aq_zip_v1": "X = 1\n"})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", hook.invalidate_caches)
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


def _archive_read_counter():
    """A function, shipped by value to a Python worker, that counts the
    archive directory reads in one `importlib.invalidate_caches()`: the
    call `worker_util.setup_spark_files` makes per task and planner call."""

    def archive_reads():
        import importlib
        import zipimport

        reads, read = [], zipimport._read_directory
        zipimport._read_directory = lambda a: reads.append(a) or read(a)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read
        return len(reads)

    return archive_reads


def test_worker_tasks_do_not_reread_archives(spark):
    reads = _archive_read_counter()
    assert spark.sparkContext.parallelize([0], 1).mapPartitions(lambda _: [reads()]).collect() == [0]


def test_planner_and_task_import_pyspark_from_a_directory(spark):
    """`partitions()` runs in Spark's `plan_data_source_read` planner and
    `read()` in a task: both import pyspark from a directory, not an
    archive, and a planner call re-reads no archive."""
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    reads = _archive_read_counter()

    class Reader(DataSourceReader):
        def partitions(self):
            import pyspark

            return [InputPartition((pyspark.__file__, reads()))]

        def read(self, partition):
            import pyspark

            yield (*partition.value, pyspark.__file__)

    class Source(DataSource):
        @classmethod
        def name(cls):
            return "aq_import_probe"

        def schema(self):
            return "planner string, planner_reads int, task string"

        def reader(self, schema):
            return Reader()

    spark.dataSource.register(Source)
    [(planner, planner_reads, task)] = spark.read.format("aq_import_probe").load().collect()
    for origin in (planner, task):
        assert os.path.isdir(os.path.dirname(origin)), origin
    assert planner_reads == 0


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
