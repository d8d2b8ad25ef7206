"""Parquet table loaders for the driver testdata layout.

At cluster scale these would be Iceberg catalog reads
(``spark.read.format("iceberg").load(...)``); the sandbox ships parquet
files, so we read those.  Catalyst pushes filters/column pruning into either
source identically.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
