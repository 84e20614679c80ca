"""Local-mode session defaults come from the CPUs the process may run on.
The builder is a mock, so no second SparkSession starts."""

from __future__ import annotations

import os
from unittest import mock

import pytest

from airquality_data_pipeline_spark import session


@pytest.fixture
def builder(monkeypatch):
    b = mock.MagicMock()
    b.master.return_value = b.appName.return_value = b.config.return_value = b
    monkeypatch.setattr(session, "SparkSession", mock.MagicMock(builder=b))
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    return b


def test_local_master_sized_from_cpu_affinity(builder, monkeypatch):
    # one CPU allowed (taskset -c 0) on a four-CPU box
    monkeypatch.setattr(session.os, "cpu_count", lambda: 4)
    monkeypatch.setattr(session.os, "sched_getaffinity", lambda pid: {0})
    session.get_spark()
    builder.master.assert_called_once_with("local[1]")
    assert mock.call("spark.sql.shuffle.partitions", "1") in builder.config.call_args_list


@pytest.mark.parametrize("value", ["0", "-2"])
def test_non_positive_cpus_rejected(builder, monkeypatch, value):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", value)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        session.get_spark()


def test_workers_fork_from_the_package_daemon(builder):
    # the package's parent on the workers' path: they import the daemon
    # and the REST reader whatever the driver's cwd
    session.get_spark()
    parent = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))
    calls = builder.config.call_args_list
    assert mock.call("spark.python.daemon.module", "airquality_data_pipeline_spark.worker_daemon") in calls
    assert mock.call("spark.executorEnv.PYTHONPATH", parent) in calls
    assert os.path.isfile(os.path.join(parent, "airquality_data_pipeline_spark", "worker_daemon.py"))
