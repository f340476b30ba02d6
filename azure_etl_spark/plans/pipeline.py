"""Medallion pipeline: the reference's 19-task Airflow DAG
(etl-vini-azure.py:397-412) collapsed to its actual dataflow.

    ingest -> bronze(parquet) -> silver(dedup+sort, parquet)
           -> gold(agg+derive, partitioned) -> {document sink, warehouse sink}

Each stage is a named ``DataFrame -> DataFrame`` function; the runner
materializes layer boundaries to storage exactly like the reference
(bronze/silver/gold are real tables other teams read — the
materialization IS the contract, not an implementation detail).

Orchestration concerns (sensors, XCom scraping, terraform) are out of
engine scope (SURVEY.md §2.13); fan-out at serving is plain Python.

Scale notes: gold is written partitioned by the stamp date columns
(pruned reads for backfills); no ``coalesce(1)`` anywhere — the
reference's single-file habit (bronzeToSilver.scala:16) dies at scale.
"""

from __future__ import annotations

import datetime as _dt
import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from azure_etl_spark.operators.aggregate import grouped_min_max
from azure_etl_spark.operators.dedup import distinct_rows
from azure_etl_spark.operators.derive import stamp_date_parts, with_expr
from azure_etl_spark.sources.document import write_documents
from azure_etl_spark.sources.files import read_parquet, write_parquet, write_partitioned
from azure_etl_spark.sources.warehouse import write_warehouse

Stage = Callable[[DataFrame], DataFrame]


@dataclass
class MedallionPipeline:
    """The reference pipeline, generalized to any (key, value) table."""

    root: str
    key: str = "symbol"
    value: str = "price"
    as_of: _dt.date | None = None
    # The reference caches silver because it runs TWO actions on it
    # (display + write, bronzeToSilver.scala:12). Here the quality
    # metrics ride the write via Observation, so there is only one
    # action and a cache would be pure memory-store overhead — off by
    # default, opt-in for callers that add their own second action.
    cache_silver: bool = False
    results: dict[str, object] = field(default_factory=dict)
    # schema each layer was written with, so reading it back needs no
    # inference job; a layer this object did not write infers as usual.
    # Internal state, not a constructor option: a schema a caller passed
    # in could disagree with the files and null out their columns.
    _written: dict[str, StructType] = field(
        default_factory=dict, init=False, repr=False
    )

    def path(self, layer: str) -> str:
        return os.path.join(self.root, layer)

    # -- stages (each mirrors one reference notebook) -----------------

    def to_bronze(self, raw: DataFrame) -> DataFrame:
        """Raw snapshot union lands as-is in bronze parquet (the ADF
        copy, datafactory.tf:36-43)."""
        write_parquet(raw, self.path("bronze"))
        self._written["bronze"] = raw.schema
        return raw

    def bronze_to_silver(self, spark: SparkSession) -> DataFrame:
        """bronzeToSilver.scala: read bronze glob -> distinct -> sort.

        The silver write carries an ``Observation``: row count + null-key
        count ride along with the job (accumulator-style), so data-quality
        counters cost zero extra actions — at 100 TB a separate
        ``df.count()`` for metrics would double the scan.
        """
        obs = Observation("silver_quality")
        from azure_etl_spark.operators.dedup import distinct_sorted

        bronze = read_parquet(spark, self.path("bronze"), self._written.get("bronze"))
        df = distinct_sorted(bronze, [self.key])
        df = df.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.col(self.key).isNull().cast("long")).alias("null_keys"),
        )
        if self.cache_silver:
            df = df.cache()
        write_parquet(df, self.path("silver"))
        self._written["silver"] = df.schema
        self.results["silver_metrics"] = dict(obs.get)
        return df

    def silver_to_gold(self, spark: SparkSession) -> DataFrame:
        """silverToGold.scala: grouped min/max + difference + date parts,
        written partitioned by year/month/day."""
        silver = read_parquet(spark, self.path("silver"), self._written.get("silver"))
        gold = grouped_min_max(
            silver,
            keys=[self.key],
            value=self.value,
            min_alias=f"min_value_by_{self.key}",
            max_alias=f"max_value_by_{self.key}",
        )
        gold = with_expr(
            gold,
            "difference_between_min_max",
            f"max_value_by_{self.key} - min_value_by_{self.key}",
        )
        gold = stamp_date_parts(gold, as_of=self.as_of).orderBy(self.key)
        write_partitioned(gold, self.path("gold"), ["year", "month", "day"])
        return gold

    def gold_to_serving(self, spark: SparkSession, gold: DataFrame) -> None:
        """Fan-out: document sink (goldToCosmosdb) + staged warehouse
        sink (goldToSynapse)."""
        write_documents(gold, self.path("serving_documents"), mode="overwrite")
        staged = write_warehouse(
            gold, table="goldtable", mode="staged", temp_dir=self.path("serving_stage")
        )
        self.results["copy_sql"] = staged.copy_sql

    # -- runner -------------------------------------------------------

    def run(self, spark: SparkSession, raw: DataFrame) -> DataFrame:
        self.to_bronze(raw)
        self.bronze_to_silver(spark)
        gold = self.silver_to_gold(spark)
        self.gold_to_serving(spark, gold)
        for layer in ("bronze", "silver", "gold", "serving_documents", "serving_stage"):
            self.results[layer] = self.path(layer)
        return gold
