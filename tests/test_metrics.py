from pyspark.sql import functions as F

from open_bus_siri_etl_spark.metrics import observed


def test_observe(spark):
    df = spark.range(100)
    df, obs = observed(df, "m", rows=F.count(F.lit(1)), total=F.sum("id"))
    df.count()
    assert obs.get == {"rows": 100, "total": 4950}
