"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship spatial pipeline end-to-end on
sf0.001; ``queries()``/``oracle_sql()`` expose the operator registry
from ``mobilitydb_spark.queries`` (each Spark implementation paired
with a DuckDB oracle).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SF_SMOKE = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Builds a Common-Crawl-style pages table from ``documents`` (text
    kept byte-identical, one deterministic geotag appended per doc),
    then runs the full pipeline: geotag extraction (JVM regexp) →
    cell encoding → broadcast point-in-polygon join → web-mercator
    tile assignment.
    """
    from mobilitydb_spark import fixtures, pipeline, queries

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    pages = docs.select(
        F.concat(F.lit("https://"), "source", F.lit("/d/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.to_timestamp(F.lit("2001-06-01 00:00:00")).alias("warc_ts"),
        F.encode("text", "utf-8").alias("html"),
        F.concat(
            "text", F.lit(" geo:"),
            F.format_string("%.5f", F.expr(queries._LAT)), F.lit(","),
            F.format_string("%.5f", F.expr(queries._LON))).alias("text"),
        "lang")
    polys = fixtures.polygons_pd("admin", 24)
    return pipeline.flagship(pages, polys, zoom=12)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from mobilitydb_spark.queries import registry
    return {name: fn for name, (fn, _sql) in registry().items()}


def oracle_sql() -> dict[str, str]:
    from mobilitydb_spark.queries import registry
    return {name: sql for name, (_fn, sql) in registry().items()}
