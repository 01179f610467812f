"""get_spark's resource defaults follow the host; the env vars override
them. Its Python daemon module imports from any working directory."""

from __future__ import annotations

import os
import subprocess
import sys

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
