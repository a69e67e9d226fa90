from __future__ import annotations

import os

import pytest

from tsatool_app_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    spark = get_spark("tsatool-tests", shuffle_partitions=4)
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def checkpointed(spark, monkeypatch):
    """The frames passed to ``DataFrame.localCheckpoint`` during the test,
    in call order: their plans are the ones a checkpoint hides."""
    cls = type(spark.range(0))  # the session's concrete DataFrame class
    frames = []
    checkpoint = cls.localCheckpoint

    def spy(self, *args, **kwargs):
        frames.append(self)
        return checkpoint(self, *args, **kwargs)

    monkeypatch.setattr(cls, "localCheckpoint", spy)
    return frames
