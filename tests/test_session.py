"""Session factory: Python workers can import the package whatever
directory the driver was launched from."""

from __future__ import annotations

import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_workers_get_the_package_parent_on_pythonpath(spark):
    conf = spark.sparkContext.getConf().get("spark.executorEnv.PYTHONPATH")
    assert ROOT in conf.split(os.pathsep)
    # the environment PySpark ships to every Python worker
    assert ROOT in spark.sparkContext.environment["PYTHONPATH"].split(
        os.pathsep)
