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


def test_workers_start_with_the_package_hook(builder):
    # the hook's directory first, then the package's parent: every Python
    # process Spark starts runs the hook and imports the REST reader
    # whatever the driver's cwd; Spark's own daemon forks the workers
    session.get_spark()
    pkg = os.path.dirname(os.path.abspath(session.__file__))
    hook = os.path.join(pkg, "_startup")
    calls = builder.config.call_args_list
    assert mock.call("spark.executorEnv.PYTHONPATH", f"{hook}{os.pathsep}{os.path.dirname(pkg)}") in calls
    # the directory goes first on the workers' path: it holds nothing else
    assert [n for n in os.listdir(hook) if n != "__pycache__"] == ["sitecustomize.py"]
    assert not any(c.args[0] == "spark.python.daemon.module" for c in calls)


@pytest.mark.parametrize(
    "gateway, before", [(None, None), (None, "/elsewhere"), (object(), "/elsewhere")]
)
def test_hook_leads_the_jvms_pythonpath_only_while_it_starts(builder, monkeypatch, gateway, before):
    # Spark starts the `lookup_data_sources` planner with the JVM's own
    # environment, which the driver's environment gives the JVM at launch;
    # a JVM already up keeps the environment it started with
    monkeypatch.setattr(session, "SparkContext", mock.MagicMock(_gateway=gateway))
    if before is None:
        monkeypatch.delenv("PYTHONPATH", raising=False)
    else:
        monkeypatch.setenv("PYTHONPATH", before)
    seen = []
    builder.getOrCreate.side_effect = lambda: seen.append(os.environ["PYTHONPATH"]) or mock.MagicMock()
    session.get_spark()
    launched = [session._PYTHONPATH] if gateway is None else []
    assert seen == [os.pathsep.join(filter(None, [*launched, before]))]
    assert os.environ.get("PYTHONPATH") == before
