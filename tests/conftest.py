import pytest


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("pdf_extraction_spark_tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture
def shifted_zones(spark, monkeypatch):
    """Process ``TZ`` and Spark session zone both off UTC and off each other,
    so a timestamp built or read in the wrong zone lands hours away."""
    import time

    prev = spark.conf.get("spark.sql.session.timeZone")
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)
        monkeypatch.undo()
        time.tzset()
