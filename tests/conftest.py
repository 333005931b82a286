from __future__ import annotations

import os

import pytest

from eoreader_spark.session import get_spark


def pytest_configure(config):
    # `-m property` (the nightly lane) runs the Hypothesis sweeps at full
    # example counts; the default gate runs them at reduced counts.  Must
    # happen before test modules import (@settings evaluates at import).
    if "property" in (config.getoption("-m") or ""):
        os.environ.setdefault("EOREADER_PROPERTY_FULL", "1")


@pytest.fixture(scope="session")
def spark():
    # the suite runs at the host's core count ($SPARK_GRAFT_CPUS, else every
    # core); get_spark derives the shuffle partitions from it.  Heap capped
    # at half the host's RAM: with get_spark's 48g default the suite's
    # long-lived JVM outgrows a small host's physical memory and the kernel
    # kills it mid-suite, failing every later Spark test
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    s = get_spark("eoreader_spark_tests", cpus=cpus,
                  extra_conf={"spark.driver.memory": f"{min(48, max(2, ram_gb // 2))}g"})
    yield s


@pytest.fixture(scope="session")
def synth(spark, tmp_path_factory):
    """Small synthetic table set (60 images), materialized once."""
    from eoreader_spark import datagen

    out = str(tmp_path_factory.mktemp("synth"))
    datagen.write_all(spark, out, n_images=60)
    return out
