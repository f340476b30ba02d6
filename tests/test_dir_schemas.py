"""Recorded data-dir schemas: every engine-written snapshot dir carries
its schema in the manifest (``dir_schemas``), and every read of it is
pinned to that schema instead of running Spark's schema-inference job.
A pinned read must plan exactly what inference would (same schema,
same rows) on partitioned, schema-evolved, column-mapped and
deletion-vector tables; manifests written before schemas were recorded
still read by inference. The job-count guards count completed jobs with
``statusTracker`` under a job group."""

from __future__ import annotations

import glob
import json
import os
import shutil
import uuid

from pyspark.sql import functions as F

from azure_etl_spark.sources import snapshot as S
from azure_etl_spark.sources.delta_export import (
    _dv_state,
    convert_from_delta_log,
    export_delta_log,
)
from tests.test_delta_export import _mapped_delta_fixture


def _jobs(spark, fn):
    """(result of ``fn()``, completed jobs it ran)."""
    sc = spark.sparkContext
    group = f"dir-schemas-{uuid.uuid4().hex}"
    try:
        sc.setJobGroup(group, "dir schema guard")
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _legacy_copy(path: str, dst: str) -> str:
    """The same table with every manifest stripped of ``dir_schemas``,
    as a writer from before schemas were recorded left it."""
    shutil.copytree(path, dst)
    for m in glob.glob(os.path.join(dst, S.MANIFEST_DIR, "v*.json")):
        with open(m) as f:
            manifest = json.load(f)
        manifest.pop("dir_schemas", None)
        with open(m, "w") as f:
            json.dump(manifest, f, sort_keys=True)
        crc = os.path.join(os.path.dirname(m), f".{os.path.basename(m)}.crc")
        if os.path.exists(crc):
            os.remove(crc)
    S._rename_map_cache.pop(dst.rstrip("/"), None)
    return dst


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _assert_pinned_equals_inferred(spark, path, tmp_path):
    latest = S._load_manifest(spark, path, S._resolve_version(spark, path, None))
    assert set(latest["dir_schemas"]) >= set(latest["data_dirs"])
    legacy = _legacy_copy(path, str(tmp_path / f"legacy-{uuid.uuid4().hex[:6]}"))
    pinned = S.read_snapshot(spark, path)
    inferred = S.read_snapshot(spark, legacy)
    assert pinned.schema == inferred.schema
    assert _rows(pinned) == _rows(inferred)
    files = S._manifest_files(spark, path, latest)[0]
    by_files = S._read_files(
        spark, path, files, with_positions=True, schemas=latest["dir_schemas"]
    )
    by_files_inferred = S._read_files(spark, legacy, files, with_positions=True)
    assert by_files.schema == by_files_inferred.schema
    assert _rows(by_files) == _rows(by_files_inferred)


def _frame(spark, lo, hi, extra: bool = False):
    cols = [
        F.col("id"),
        (F.col("id") % 3).cast("int").alias("p"),
        F.concat(F.lit("s"), F.col("id").cast("string")).alias("s"),
        (F.col("id") / 7).alias("d"),
    ]
    if extra:
        cols.append((F.col("id") * 2).alias("extra"))
    return spark.range(lo, hi, 1, 2).select(*cols)


def test_partitioned_table_reads_pinned(spark, tmp_path):
    path = str(tmp_path / "parted")
    S.write_snapshot(_frame(spark, 0, 60), path, partition_by=["p"])
    S.write_snapshot(_frame(spark, 60, 90), path, mode="append", partition_by=["p"])
    m = S._load_manifest(spark, path, 1)
    for d in m["data_dirs"]:
        names = [f["name"] for f in m["dir_schemas"][d]["fields"]]
        assert names == ["id", "s", "d"]  # partition column left out
        assert all(f["nullable"] for f in m["dir_schemas"][d]["fields"])
    _assert_pinned_equals_inferred(spark, path, tmp_path)


def test_schema_evolved_table_reads_pinned(spark, tmp_path):
    path = str(tmp_path / "evolved")
    S.write_snapshot(_frame(spark, 0, 40), path)
    S.write_snapshot(
        _frame(spark, 40, 80, extra=True), path, mode="append", merge_schema=True
    )
    # a COW delete carries untouched files (data_files) of both dirs
    S.delete_from_snapshot(spark, path, [("id", "<", 5)])
    m = S._load_manifest(spark, path, 2)
    assert m["data_files"]
    assert {S._base_dir_of(f) for f in m["data_files"]} <= set(m["dir_schemas"])
    _assert_pinned_equals_inferred(spark, path, tmp_path)


def test_column_mapped_convert_reads_pinned(spark, tmp_path):
    path = _mapped_delta_fixture(spark, tmp_path)
    assert convert_from_delta_log(spark, path) == 0
    extra = spark.range(200, 210).select(
        F.col("id").alias("k"),
        F.lit("north").alias("grp"),
        (F.col("id") * 10).alias("amount"),
    )
    S.write_snapshot(extra, path, mode="append", partition_by=["grp"])
    _assert_pinned_equals_inferred(spark, path, tmp_path)


def test_dv_table_reads_pinned_and_dv_state_matches(spark, tmp_path):
    path = str(tmp_path / "dv")
    S.write_snapshot(_frame(spark, 0, 100), path)
    S.delete_from_snapshot(spark, path, [("id", "<", 10)], mode="merge_on_read")
    files = S.resolve_scan(spark, path)[0]
    S.delete_positions_from_snapshot(spark, path, {files[-1]: [0, 3]})
    _assert_pinned_equals_inferred(spark, path, tmp_path)
    m = S._load_manifest(spark, path, S._resolve_version(spark, path, None))
    legacy = _legacy_copy(path, str(tmp_path / "dv-legacy"))
    legacy_m = S._load_manifest(spark, legacy, m["version"])
    assert _dv_state(spark, path, m) == _dv_state(spark, legacy, legacy_m)


def test_legacy_manifest_without_schemas_still_reads(spark, tmp_path):
    path = str(tmp_path / "old")
    S.write_snapshot(_frame(spark, 0, 30), path)
    legacy = _legacy_copy(path, str(tmp_path / "old-legacy"))
    S.write_snapshot(_frame(spark, 30, 50), legacy, mode="append")
    m = S._load_manifest(spark, legacy, 1)
    # only the dir written after the upgrade has a recorded schema
    assert list(m["dir_schemas"]) == [m["data_dirs"][1]]
    assert _rows(S.read_snapshot(spark, legacy)) == _rows(_frame(spark, 0, 50))


def test_unpartitioned_write_runs_one_job(spark, tmp_path):
    """The write itself is the only job: row counts and min/max come
    from the new files' footers (timestamps included, as micros)."""
    path = str(tmp_path / "one-job")
    df = _frame(spark, 0, 200).withColumn(
        "ts", F.timestamp_seconds(F.col("id") * 3600)
    )
    _, jobs = _jobs(spark, lambda: S.write_snapshot(df, path))
    assert jobs == 1
    _, jobs = _jobs(spark, lambda: S.write_snapshot(df, path, mode="append"))
    assert jobs == 1
    stats = S._manifest_stats(spark, path, S._load_manifest(spark, path, 1))
    assert sum(s["rows"] for s in stats.values()) == 400
    assert all("ts" in s["min"] for s in stats.values())


def test_reads_over_recorded_dirs_run_no_job(spark, tmp_path):
    path = str(tmp_path / "no-job")
    S.write_snapshot(_frame(spark, 0, 60), path, partition_by=["p"])
    S.write_snapshot(_frame(spark, 60, 90), path, mode="append", partition_by=["p"])
    S.delete_from_snapshot(spark, path, [("id", "<", 5)])
    files = S.resolve_scan(spark, path)[0]
    S.delete_positions_from_snapshot(spark, path, {files[0]: [0]})
    m = S._load_manifest(spark, path, S._resolve_version(spark, path, None))
    assert m["data_files"] and m["deletes"]
    _, jobs = _jobs(spark, lambda: S.read_snapshot(spark, path))
    assert jobs == 0
    _, jobs = _jobs(spark, lambda: S.read_snapshot(spark, path, where=[("id", ">", 50)]))
    assert jobs == 0
    _, jobs = _jobs(
        spark,
        lambda: S._read_files(
            spark, path, files, with_positions=True, schemas=m["dir_schemas"]
        ),
    )
    assert jobs == 0


def test_export_metadata_schema_runs_no_inference(spark, tmp_path):
    """``export_delta_log`` over recorded dirs: its metaData schema is
    the pinned read's, identical to the inferred one."""
    path = str(tmp_path / "export")
    S.write_snapshot(_frame(spark, 0, 40), path)
    S.write_snapshot(_frame(spark, 40, 60), path, mode="append")
    legacy = _legacy_copy(path, str(tmp_path / "export-legacy"))
    export_delta_log(spark, path)
    export_delta_log(spark, legacy)

    def _meta(p):
        with open(os.path.join(p, "_delta_log", f"{0:020d}.json")) as f:
            for line in f:
                a = json.loads(line)
                if "metaData" in a:
                    return a["metaData"]["schemaString"]

    assert _meta(path) == _meta(legacy)
