"""Session factory defaults: the core count comes from the host, and an
explicit ``shuffle_partitions`` always wins."""

from __future__ import annotations

import os

import pytest

from webextract.session import get_spark

KEY = "spark.sql.shuffle.partitions"


@pytest.fixture
def restore_shuffle_partitions(spark):
    # get_spark on a live session rewrites the shared session's SQL conf
    before = spark.conf.get(KEY)
    yield
    spark.conf.set(KEY, before)


@pytest.mark.usefixtures("restore_shuffle_partitions")
def test_explicit_shuffle_partitions_wins_over_non_numeric_cpus(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "*")
    assert get_spark(master="local[4]", shuffle_partitions=7).conf.get(KEY) == "7"


@pytest.mark.usefixtures("restore_shuffle_partitions")
def test_shuffle_partitions_default_to_host_core_count(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert get_spark(master="local[4]").conf.get(KEY) == str(os.cpu_count())
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "*")
    assert get_spark(master="local[4]").conf.get(KEY) == str(os.cpu_count())
