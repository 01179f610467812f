"""get_spark's resource defaults follow the host; the env vars override
them. Its Python daemon module imports from any working directory, and its
workers import pyspark from a directory, not from Spark's archives."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

from rcspark.pydaemon import without_archives
from rcspark.session import (
    DRIVER_HEAP_CAP_GIB,
    DRIVER_HEAP_FALLBACK,
    PACKAGE_ROOT,
    PYTHON_DAEMON_MODULE,
    resource_defaults,
)

GIB = 1 << 30


def test_defaults_follow_the_host():
    assert resource_defaults({}, 4, 15 * GIB) == (4, "7g")
    assert resource_defaults({}, 64, 512 * GIB) == (64, f"{DRIVER_HEAP_CAP_GIB}g")
    # tiny or unknown hosts still get a usable session
    assert resource_defaults({}, None, 1 * GIB) == (1, "1g")
    assert resource_defaults({}, 2, None) == (2, DRIVER_HEAP_FALLBACK)


def test_env_overrides_win():
    env = {"SPARK_GRAFT_CPUS": "3", "RCSPARK_DRIVER_MEM": "3g"}
    assert resource_defaults(env, 32, 128 * GIB) == (3, "3g")
    # an empty override is no override
    env = {"SPARK_GRAFT_CPUS": "", "RCSPARK_DRIVER_MEM": ""}
    assert resource_defaults(env, 8, 32 * GIB) == (8, "16g")


def test_daemon_module_imports_from_any_cwd(tmp_path):
    """Every Python worker forks from PYTHON_DAEMON_MODULE: if it fails to
    import, no Python task runs. The workers' path holds PACKAGE_ROOT."""
    env = {**os.environ, "PYTHONPATH": PACKAGE_ROOT}
    r = subprocess.run(
        [sys.executable, "-c", f"import {PYTHON_DAEMON_MODULE}"],
        cwd=tmp_path, env=env, capture_output=True, text=True,
    )
    assert r.returncode == 0, r.stderr


def test_python_tasks_reread_no_archive(spark):
    """A worker calls importlib.invalidate_caches() before every task; each
    zipimporter the import system holds then re-reads its archive's directory
    (16 re-reads per task with pyspark.zip, py4j and the spark-core jar)."""

    def probe(_):
        import importlib
        import zipimport

        import pyspark

        reads = []
        read_directory = zipimport._read_directory

        def counted(archive):
            reads.append(archive)
            return read_directory(archive)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        zipimporters = sum(
            isinstance(f, zipimport.zipimporter)
            for f in sys.path_importer_cache.values()
        )
        yield zipimporters, len(reads), os.path.isfile(pyspark.__file__)

    rows = spark.sparkContext.parallelize(range(4), 4).mapPartitions(probe).collect()
    assert set(rows) == {(0, 0, True)}


def _package(root, name):
    (root / name).mkdir(parents=True)
    (root / name / "__init__.py").write_text("")


def test_archives_stay_when_a_package_needs_them(tmp_path):
    """The daemon drops archive path entries only if pyspark and py4j then
    import from a directory (a regular package, not a namespace portion)."""
    archive = tmp_path / "lib.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("py4j/__init__.py", "")
    both, py4j_only, namespace = (tmp_path / d for d in ("both", "py4j", "ns"))
    _package(both, "pyspark")
    _package(both, "py4j")
    _package(py4j_only, "py4j")
    _package(namespace, "py4j")
    (namespace / "pyspark").mkdir()

    path = [str(archive), str(both)]
    assert without_archives(path) == [str(both)]
    for d in (py4j_only, namespace):
        path = [str(archive), str(d)]
        assert without_archives(path) == path


def test_daemon_import_leaves_path_alone(tmp_path):
    """Only the daemon process, run as __main__, prunes its path."""
    archive = tmp_path / "lib.zip"
    zipfile.ZipFile(archive, "w").close()
    env = {**os.environ, "PYTHONPATH": os.pathsep.join([str(archive), PACKAGE_ROOT])}
    code = (
        "import sys; before = list(sys.path); "
        f"import {PYTHON_DAEMON_MODULE}; assert sys.path == before, sys.path"
    )
    r = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, env=env, capture_output=True, text=True
    )
    assert r.returncode == 0, r.stderr
