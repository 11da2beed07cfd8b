from __future__ import annotations

import os

import pytest


@pytest.fixture(scope="session")
def spark():
    from language_identification_spark.session import get_spark

    # pin the suite's driver heap (the program's default is half the host's
    # RAM): under a 24g cap on a 15 GB, 4-core host with CPU steal, G1 grew
    # the suite's single JVM to 14.8 GB and the kernel's OOM killer ended
    # the run midway (uncontended runs peak at ~6.2 GB RSS)
    os.environ.setdefault("SPARK_DRIVER_MEM", "8g")
    s = get_spark("tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()
