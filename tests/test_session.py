"""get_spark on a live session: it must reuse the session as configured."""

from __future__ import annotations

from tsatool_app_spark.session import get_spark


def test_get_spark_keeps_live_session_settings(spark):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        again = get_spark("another-caller", shuffle_partitions=3)
        assert again.conf.get(key) == "7"
        assert spark.conf.get(key) == "7"
    finally:
        spark.conf.set(key, before)
