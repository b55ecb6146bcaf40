"""Parquet sources for the driver testdata tables (TESTDATA.md)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")
