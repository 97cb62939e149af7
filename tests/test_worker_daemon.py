"""Local Python workers start from the installed pyspark (plans.pydaemon):
the worker-path filter, the master guard in build_session, and what a task
of a local session sees — no zip or jar importer on its path."""

import os
import shutil
import subprocess
import sys
import zipfile

import pytest

from pii_detection_redaction_spark.plans.pydaemon import worker_path
from pii_detection_redaction_spark.plans.session import DAEMON_MODULE, worker_conf

from conftest import REPO


def _zip(path, members):
    with zipfile.ZipFile(path, "w") as z:
        for name, data in members.items():
            z.writestr(name, data)
    return str(path)


def _installed(root, pkg, version):
    d = root / pkg
    d.mkdir(parents=True)
    (d / "__init__.py").write_text("")
    (d / "version.py").write_text(version)
    return str(root)


def test_same_version_zip_dropped(tmp_path):
    site = _installed(tmp_path / "site", "pyspark", '__version__ = "4.1.2"\n')
    z = _zip(tmp_path / "pyspark.zip", {"pyspark/version.py": '__version__ = "4.1.2"\n'})
    py4j = _installed(tmp_path / "site4j", "py4j", '__version__ = "0.10.9.9"\n')
    z4j = _zip(
        tmp_path / "py4j-0.10.9.9-src.zip", {"py4j/version.py": '__version__ = "0.10.9.9"\n'}
    )
    assert worker_path(["", z, z4j, site, py4j]) == ["", site, py4j]


def test_different_version_zip_kept(tmp_path):
    site = _installed(tmp_path / "site", "pyspark", '__version__ = "4.1.1"\n')
    z = _zip(tmp_path / "pyspark.zip", {"pyspark/version.py": '__version__ = "4.1.2"\n'})
    assert worker_path([z, site]) == [z, site]


def test_zip_without_installed_copy_kept(tmp_path):
    other = tmp_path / "other"
    other.mkdir()
    z = _zip(tmp_path / "pyspark.zip", {"pyspark/version.py": '__version__ = "4.1.2"\n'})
    assert worker_path([z, str(other)]) == [z, str(other)]


def test_python_free_jar_dropped(tmp_path):
    jar = _zip(tmp_path / "spark-core.jar", {"org/apache/X.class": b"\xca\xfe"})
    assert worker_path([jar, str(tmp_path)]) == [str(tmp_path)]


def test_jar_with_python_kept(tmp_path):
    jar = _zip(tmp_path / "udfs.jar", {"org/X.class": b"\xca\xfe", "mod.py": "x = 1\n"})
    assert worker_path([jar]) == [jar]


@pytest.mark.parametrize("master", ["local", "local[4]", "local[*]", "local[4,2]"])
def test_local_masters_get_the_daemon(master):
    conf = worker_conf(master, {"spark.executorEnv.PYTHONPATH": "/srv/extra"})
    assert conf["spark.python.daemon.module"] == DAEMON_MODULE
    assert conf["spark.executorEnv.PYTHONPATH"].split(os.pathsep) == ["/srv/extra", REPO]


@pytest.mark.parametrize("master", ["local-cluster[2,2,2048]", "yarn", "spark://h:7077"])
def test_other_masters_keep_pysparks_daemon(master):
    extra = {"spark.executorEnv.PYTHONPATH": "/srv/extra"}
    assert worker_conf(master, extra) == extra


def test_caller_daemon_module_wins():
    extra = {"spark.python.daemon.module": "mydaemon"}
    assert worker_conf("local[4]", extra) == extra


def test_local_task_imports_installed_pyspark(spark):
    # nested: cloudpickle ships it by value (tests/ is not on the workers' path)
    def _task_view(_):
        import sys
        import zipimport

        import pyspark

        cache = sys.path_importer_cache.items()
        yield pyspark.__file__, [k for k, v in cache if isinstance(v, zipimport.zipimporter)]

    views = spark.sparkContext.parallelize(range(4), 4).mapPartitions(_task_view).collect()
    assert len(views) == 4
    for file, zipimporters in views:
        assert ".zip" not in file, file
        assert zipimporters == []


def test_spark_submit_local_master_and_daemon(tmp_path):
    """Under spark-submit the submitted master is the session's, and a local
    master's daemon resolves the package from any working directory — here
    only through the --py-files zip, as the driver imports it."""
    submit = shutil.which("spark-submit")
    if submit is None:
        pytest.skip("spark-submit not found")
    zpath = tmp_path / "pkg.zip"
    with zipfile.ZipFile(zpath, "w") as z:
        pkg = os.path.join(REPO, "pii_detection_redaction_spark")
        for root, _dirs, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, REPO))
    job = tmp_path / "job.py"
    job.write_text(
        "from pii_detection_redaction_spark.plans.session import build_session\n"
        "spark = build_session()\n"
        "sc = spark.sparkContext\n"
        "def f(_):\n"
        "    import pyspark\n"
        "    yield pyspark.__file__\n"
        "print('MASTER', sc.master)\n"
        "print('DAEMON', sc.getConf().get('spark.python.daemon.module'))\n"
        "print('WORKER', sc.parallelize([0], 1).mapPartitions(f).collect()[0])\n"
        "spark.stop()\n"
    )
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    env.pop("PYTHONPATH", None)
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    proc = subprocess.run(
        [submit, "--master", "local[3]", "--conf", "spark.ui.enabled=false",
         "--py-files", str(zpath), str(job)],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = dict(line.split(" ", 1) for line in proc.stdout.splitlines() if " " in line)
    assert out["MASTER"] == "local[3]"
    assert out["DAEMON"] == DAEMON_MODULE
    assert ".zip" not in out["WORKER"], out["WORKER"]
