"""The session factory's launch-conf handling."""

from geograypher_spark.session import conf_gaps, session_conf


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


def test_get_spark_conf_defers_to_the_launch_conf(spark):
    """``get_spark``'s defaults, its local master included, leave out every
    key the launch conf sets; explicit arguments still win."""
    system = spark._jvm.System
    saved = {k: system.getProperty(k)
             for k in ("spark.master", "spark.sql.session.timeZone")}
    try:
        for k in saved:
            system.clearProperty(k)
        conf = session_conf()
        assert conf["spark.master"].startswith("local[")
        assert conf["spark.sql.session.timeZone"] == "UTC"
        system.setProperty("spark.master", "spark://submitted:7077")
        system.setProperty("spark.sql.session.timeZone", "Etc/GMT+3")
        conf = session_conf()
        assert "spark.master" not in conf
        assert "spark.sql.session.timeZone" not in conf
        conf = session_conf(
            master="local[2]",
            extra_conf={"spark.sql.session.timeZone": "Etc/GMT-1"})
        assert conf["spark.master"] == "local[2]"
        assert conf["spark.sql.session.timeZone"] == "Etc/GMT-1"
    finally:
        for k, v in saved.items():
            if v is None:
                system.clearProperty(k)
            else:
                system.setProperty(k, v)
