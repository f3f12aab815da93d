"""The engine's SparkSession pins the settings its output depends on."""

from __future__ import annotations


def test_session_pins_ansi_utc_and_dynamic_overwrite(spark):
    conf = spark.conf
    assert conf.get("spark.sql.ansi.enabled") == "true"
    assert conf.get("spark.sql.session.timeZone") == "UTC"
    assert conf.get("spark.sql.sources.partitionOverwriteMode") == "dynamic"
