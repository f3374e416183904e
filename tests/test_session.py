"""The session factory's launch-conf handling."""

from geograypher_spark.session import conf_gaps


def test_conf_gaps_keeps_the_launch_conf(spark):
    """Under spark-submit the submit conf reaches the JVM as ``spark.*``
    system properties, and a builder default set on top of it would win.
    ``conf_gaps`` keeps only the keys the launch conf lacks."""
    key = "spark.geograypher.test.launchKey"
    system = spark._jvm.System
    assert conf_gaps({key: "default"}) == {key: "default"}
    system.setProperty(key, "submitted")
    try:
        assert conf_gaps({key: "default", key + "2": "x"}) == {key + "2": "x"}
    finally:
        system.clearProperty(key)
    assert conf_gaps({key: "default"}) == {key: "default"}
