"""Session defaults that need no running Spark."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_PROBE = """
from pyspark import SparkContext
from group_2_shopware_enterprise_data_engineering_project_spark import session
assert SparkContext._gateway is None  # importing must not start a JVM
print(session.DEFAULT_CPUS)
"""


def _default_cpus(env_value: str | None) -> int:
    env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
    if env_value is not None:
        env["SPARK_GRAFT_CPUS"] = env_value
    out = subprocess.run(
        [sys.executable, "-c", _PROBE],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
        check=True,
    )
    return int(out.stdout.strip().splitlines()[-1])


def test_default_cpus_falls_back_to_usable_cores():
    usable = len(os.sched_getaffinity(0))
    assert _default_cpus(None) == usable
    assert _default_cpus("") == usable
    assert _default_cpus("3") == 3
