"""``session.scoped_conf``: the one mechanism that pins a session conf for a
block (shuffle partitions of the stream runners, dynamic partition
overwrite, the z-order sample size, the Arrow collect)."""

from __future__ import annotations

import pytest

from samsa_spark import tables
from samsa_spark.session import scoped_conf

KEY = "spark.sql.execution.arrow.pyspark.enabled"


@pytest.fixture
def keep_conf(spark):
    prev = spark.conf.get(KEY, None)
    yield
    if prev is None:
        spark.conf.unset(KEY)
    else:
        spark.conf.set(KEY, prev)


def test_scoped_conf_restores_the_session_conf(spark, keep_conf):
    """Inside the block the conf holds the pinned value; after it, a conf
    the session never set is unset again, and an explicit ``"false"``
    stays ``"false"``. ``tables.arrow_to_pandas`` collects through it."""
    spark.conf.unset(KEY)
    with scoped_conf(spark, KEY, "true"):
        assert spark.conf.get(KEY, None) == "true"
    assert spark.conf.get(KEY, None) is None
    spark.conf.set(KEY, "false")
    with scoped_conf(spark, KEY, "true"):
        assert spark.conf.get(KEY, None) == "true"
    assert spark.conf.get(KEY, None) == "false"

    df = spark.range(3)
    spark.conf.unset(KEY)
    assert tables.arrow_to_pandas(df)["id"].tolist() == [0, 1, 2]
    assert spark.conf.get(KEY, None) is None


def test_scoped_conf_restores_when_the_block_raises(spark, keep_conf):
    spark.conf.set(KEY, "false")
    with pytest.raises(RuntimeError, match="boom"):
        with scoped_conf(spark, KEY, "true"):
            raise RuntimeError("boom")
    assert spark.conf.get(KEY, None) == "false"
    spark.conf.unset(KEY)
    with pytest.raises(RuntimeError, match="boom"):
        with scoped_conf(spark, KEY, "true"):
            raise RuntimeError("boom")
    assert spark.conf.get(KEY, None) is None
