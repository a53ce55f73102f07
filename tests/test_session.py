"""Session defaults that operator code relies on."""

from __future__ import annotations

from apm_opentelemetry_collector_spark.session import get_spark


def test_get_spark_pins_unescaped_string_literals(spark):
    # SQL-expression strings escape backslashes for the parser's escape
    # pass; get_spark must restore that pass even when it was switched off
    key = "spark.sql.parser.escapedStringLiterals"
    spark.conf.set(key, "true")
    try:
        again = get_spark("pytest", cores=8, shuffle_partitions=8)
        assert again.conf.get(key) == "false"
        assert again.sql(r"SELECT 'a\\b' AS s").first()["s"] == "a\\b"
    finally:
        spark.conf.set(key, "false")
