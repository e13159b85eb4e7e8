"""SQL front-end: register every test-data table as a temp view so the
engine is queryable with raw ``spark.sql`` as well as the DataFrame
API.

The reference has no SQL surface at all; exposing one costs nothing in
Spark (views are metadata — same Catalyst plans, same pushdown and
pruning as the DataFrame form) and is how most analysts would actually
drive this engine. plans/analytics_queries.py::sql_nation_revenue runs
through this path end-to-end against the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from stock_trend_predictor_spark.sources.tables import TABLE_NAMES, load_table


def register_views(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] = TABLE_NAMES
) -> None:
    """Create/replace one temp view per table, named as in the oracle
    schema, so ``spark.sql`` text is portable between this engine and
    DuckDB."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
