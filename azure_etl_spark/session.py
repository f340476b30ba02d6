"""SparkSession factory.

The reference delegates all session setup to Databricks defaults
(`k8s/resources/resources_2/databricks_cluster_notebooks.tf:11-48`,
`spark.master local[*, 4]`). Our engine owns the session: AQE on, sane
shuffle partitioning, Arrow for any pandas interchange, UTC session time
so results are reproducible against the DuckDB oracle.

Scale notes (100 TB / 1000 executors):
- `spark.sql.adaptive.enabled` + coalescePartitions + skewJoin let the
  runtime re-plan shuffles from actual map-output sizes, which is the
  only partition-count policy that survives a 1000x scale-up.
- `spark.sql.shuffle.partitions` here is only the *initial* number; AQE
  coalesces down (local tests) or the cluster config overrides up.
- We never hard-code `coalesce(1)` in the engine (the reference does —
  `bronzeToSilver.scala:16` — which is an anti-pattern at scale); small
  single-file output is an opt-in flag in sources/files.py.
- `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning` lets AQE
  size a persisted plan's final shuffle like any other stage. Spark's
  default (false) keeps every cached frame at the initial shuffle
  partition count whatever its size, so each re-read of a small funnel
  stage fans out to that many tasks, and at scale a large one cannot be
  split on skew. The trade-off: a consumer that relied on a cached
  frame's hash partitioning may pay one extra exchange. Results cannot
  change, only partition counts move.
- Rows the driver already holds enter Spark through ``local_frame``, as
  an Arrow-built local relation planned in the JVM. In classic PySpark
  ``createDataFrame(<list>)`` is ``sc.parallelize`` plus a PythonRDD:
  every read of that frame starts a Python worker and re-runs the
  conversion. ``tests/test_local_frame.py`` walks ``operators/`` and
  ``sources/`` and fails on any other ``createDataFrame`` call.
- ``spark.sql.parquet.outputTimestampType=TIMESTAMP_MICROS``: Spark's
  default still writes ``TIMESTAMP`` as INT96, a deprecated encoding
  that carries no Parquet statistics. Only legacy readers (Impala,
  Hive before 3, old parquet-mr) need INT96; every current reader,
  Spark, Delta, DuckDB and Arrow included, reads INT64 micros. With
  micros, snapshot commits take timestamp min/max from the footers
  (``sources/snapshot._collect_file_stats``) instead of an aggregate
  job over the files just written. A session the engine did not build
  still writes INT96; those columns fall back to the aggregate, so
  stats are the same either way.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

DEFAULT_APP_NAME = "azure-etl-spark"
CACHED_PLAN_REPARTITION = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
PARQUET_TIMESTAMP_TYPE = "spark.sql.parquet.outputTimestampType"


def session_builder(
    app_name: str = DEFAULT_APP_NAME,
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession.Builder:
    """Builder with the engine's defaults; callers may override any conf."""
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))
    return (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(CACHED_PLAN_REPARTITION, "true")
        .config(PARQUET_TIMESTAMP_TYPE, "TIMESTAMP_MICROS")
        # runtime bloom-filter semi-join pruning: a selective dim filter
        # builds a bloom filter that prunes the fact scan BEFORE its
        # shuffle — off by default in Spark, a large win for shuffle
        # joins at 100 TB (the planner only injects it where thresholds
        # make it profitable, so enabling globally is safe)
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # fixture `events.ts` is parquet TIMESTAMP(NANOS); Spark has no ns
        # timestamp — read as long, sources/files.py rescales to micros
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )


def get_session(**kwargs) -> SparkSession:
    return session_builder(**kwargs).getOrCreate()


def configure_for_oracle(spark: SparkSession) -> SparkSession:
    """Make an externally-provided session reproducible vs the DuckDB oracle.

    The driver hands our ``queries()`` callables its own session; runtime
    confs (timezone, AQE) are settable post-hoc, core confs are not.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set(CACHED_PLAN_REPARTITION, "true")
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # older/newer Spark without the legacy knob
    return spark


# Spark types whose Python values convert through Arrow exactly as the
# list path converts them. Timestamps are not among them: the list path
# reads a naive datetime in the Python process's local zone, Arrow reads
# it as UTC.
LOCAL_FRAME_TYPES = (
    T.BooleanType, T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType, T.StringType, T.BinaryType,
    T.DateType,
)


def local_frame(
    spark: SparkSession, rows: Iterable[tuple], schema: T.StructType | str
) -> DataFrame:
    """Driver-held rows as a JVM local relation.

    ``rows`` are tuples in ``schema`` field order; ``schema`` is a
    ``StructType`` or a DDL string. The rows are packed into a
    ``pyarrow.Table``, which ``createDataFrame`` always takes through
    Arrow whatever the session's Arrow conf: Spark plans it as a
    ``LocalRelation`` (a JVM RDD above
    ``spark.sql.execution.arrow.localRelationThreshold``), so reading
    it needs no Python worker and nothing re-runs per read.

    Values must reproduce exactly what ``createDataFrame(rows, schema)``
    would hold: a non-empty ``rows`` with a field outside
    ``LOCAL_FRAME_TYPES``, a row that is not a plain tuple of the
    schema's width, a NULL in a non-nullable field, or a value Arrow
    cannot convert losslessly (a decimal with excess scale) raises. An
    empty ``rows`` works for any schema.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    rows = list(rows)
    arrow_schema = to_arrow_schema(schema)
    width = len(schema.fields)
    if rows:
        inexact = [
            f"{f.name} {f.dataType.simpleString()}"
            for f in schema.fields
            if not isinstance(f.dataType, LOCAL_FRAME_TYPES)
        ]
        if inexact:
            raise TypeError(f"local_frame cannot hold {', '.join(inexact)} exactly")
        for r in rows:
            if type(r) is not tuple or len(r) != width:
                raise TypeError(
                    f"local_frame rows must be plain {width}-tuples, got {r!r}"
                )
    columns = list(zip(*rows)) if rows else [()] * width
    arrays = [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)]
    for f, a in zip(schema.fields, arrays):
        if not f.nullable and a.null_count:
            raise ValueError(f"field {f.name} is not nullable but holds NULL")
    table = pa.Table.from_arrays(arrays, schema=arrow_schema)
    return spark.createDataFrame(table, schema)
