"""The session-wide coalescing policy and the production-scale conf
passthrough (get_spark(extra_conf=...)): the 100 TB recommendation
documented in OPTIMIZATION_r16/r17 must be EXECUTABLE through this seam
while the contract session keeps the engine defaults — pinned here so
config guidance can't rot into prose."""

from __future__ import annotations

from distributed_computing_projects_spark.session import get_spark


def test_contract_session_coalesces_by_bytes(spark):
    assert spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.parallelismFirst") == "false"
    assert spark.conf.get(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning") == "true"


def test_get_spark_extra_conf_carries_production_settings():
    """The documented 100 TB settings land through the parameterized
    seam (conf names checked against this Spark version by actually
    setting them), without touching any other session's conf."""
    prod = {
        # the non-default value, so the override is what lands
        "spark.sql.adaptive.coalescePartitions.parallelismFirst":
            "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "256m",
    }
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    prior = {k: active.conf.get(k, None) for k in prod} if active \
        else {}
    s = get_spark(app_name="prod-seam-test", cpus=4,
                  shuffle_partitions=4, extra_conf=prod)
    try:
        # getOrCreate may return the shared session; extra_conf is
        # applied as runtime conf either way — assert it landed
        for k, v in prod.items():
            assert s.conf.get(k) == v
    finally:
        # restore so later tests see the contract session unchanged
        for k, v in prior.items():
            if v is None:
                s.conf.unset(k)
            else:
                s.conf.set(k, v)
