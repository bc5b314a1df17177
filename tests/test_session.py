"""Session factory contract: ``get_spark`` builds a session only when
none is active; a live session is returned with its confs untouched."""

from __future__ import annotations

from mle_proj_datapipeline_spark.session import get_spark

# Confs the factory's builder sets; pinned to values it would never pick.
_PINNED = {
    "spark.sql.shuffle.partitions": "5",
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.adaptive.skewJoin.enabled": "false",
    "spark.sql.adaptive.coalescePartitions.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": "1048576",
}


def test_get_spark_leaves_live_session_confs(spark):
    old = {k: spark.conf.get(k) for k in _PINNED}
    try:
        for k, v in _PINNED.items():
            spark.conf.set(k, v)
        again = get_spark(
            app_name="second_caller",
            shuffle_partitions=3,
            extra_conf={"spark.sql.adaptive.enabled": "true"},
        )
        assert again._jsparkSession.equals(spark._jsparkSession)
        assert {k: spark.conf.get(k) for k in _PINNED} == _PINNED
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
