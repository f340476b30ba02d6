"""Differential test: per-file snapshot stats taken from Parquet
footers (``snapshot._collect_file_stats``) must be byte-identical to
the aggregate pass that re-reads the new files
(``snapshot._aggregate_file_stats`` over a schema-inferred read, the
way every commit collected them before footers were used). Covers every
fixture table plus frames built to break footer statistics: NULL, NaN,
signed zeros, empty and non-ASCII strings, all-null files, several row
groups, dates, decimals of all three physical widths, booleans,
timestamps, strings over 4 KB (no footer stats), INT96 timestamps (no
footer stats), Hive partitions, Bloom columns and a non-Spark writer."""

from __future__ import annotations

import glob
import json
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from azure_etl_spark.session import PARQUET_TIMESTAMP_TYPE, local_frame
from azure_etl_spark.sources import snapshot as S
from azure_etl_spark.sources.files import TABLES, load_table


def _both(spark, path: str, version: int) -> tuple[str, str]:
    """(footer stats of ``version``'s new dir as the manifest recorded
    them, aggregate stats of the same dir), each as sorted JSON."""
    m = S._load_manifest(spark, path, version)
    footer = S._load_stats_ref(spark, path, m["stats_refs"][-1])
    d = m["data_dirs"][-1]
    inferred = spark.read.option("basePath", f"{path}/{d}").parquet(f"{path}/{d}")
    agg = S._aggregate_file_stats(
        spark, inferred, path, S._stats_columns(inferred), m.get("bloom")
    )
    assert footer, "no stats recorded"
    return json.dumps(footer, sort_keys=True), json.dumps(agg, sort_keys=True)


def _write(spark, df, tmp_path, **kw) -> tuple[str, int]:
    path = str(tmp_path / f"t-{uuid.uuid4().hex[:8]}")
    return path, S.write_snapshot(df, path, **kw)


def _footers(path: str) -> list:
    return [
        pq.read_metadata(f)
        for f in glob.glob(os.path.join(path, "data", "**", "*.parquet"), recursive=True)
    ]


def _jobs(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"footer-stats-{uuid.uuid4().hex}"
    try:
        sc.setJobGroup(group, "footer stats")
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("table", TABLES)
def test_fixture_tables(spark, sf_dir, tmp_path, table):
    df = load_table(spark, sf_dir, table).repartition(3)
    path, v = _write(spark, df, tmp_path)
    footer, agg = _both(spark, path, v)
    assert footer == agg


_EDGE_COLUMNS = {
    # NULL, NaN and both signed zeros in one column (falls back: a file
    # may hold both zeros), and one-signed zero columns (footer-exact)
    "dn": "CASE WHEN id % 11 = 0 THEN NULL WHEN id % 13 = 0 THEN CAST('NaN' AS DOUBLE)"
    " WHEN id % 17 = 0 THEN -0.0D WHEN id % 19 = 0 THEN 0.0D ELSE id / 3.0 END",
    "dnan_first": "CASE WHEN id % 500 = 0 THEN CAST('NaN' AS DOUBLE) ELSE id * 1.5 END",
    "pz": "CASE WHEN id % 7 = 0 THEN 0.0D ELSE id / 7.0 END",
    "nz": "CASE WHEN id % 7 = 0 THEN -0.0D ELSE -id / 7.0 END",
    "f": "CAST(CASE WHEN id % 9 = 0 THEN NULL ELSE id / 9.0 - 50 END AS FLOAT)",
    "s": "CASE WHEN id % 5 = 0 THEN '' WHEN id % 23 = 0 THEN NULL"
    " WHEN id % 29 = 0 THEN concat('é', CAST(id AS STRING), '😀')"
    " ELSE concat('k', CAST(id AS STRING)) END",
    "none_s": "CAST(NULL AS STRING)",
    "none_i": "CAST(NULL AS INT)",
    "dt": "date_add(DATE'2019-12-30', CAST(id % 400 AS INT) - 200)",
    "d1": "CAST(id / 7 - 100 AS DECIMAL(5, 2))",
    "d2": "CAST(id * 1234567.891 - 99999 AS DECIMAL(15, 3))",
    "d3": "CAST(id * 98765432109876.5432 - 1 AS DECIMAL(30, 4))",
    "b": "id % 3 = 0",
    "by": "CAST(id % 200 - 100 AS TINYINT)",
    "sh": "CAST(id * 7 % 30000 - 15000 AS SMALLINT)",
    "ts": "timestamp_micros(id * 1000003 - 5000000000)",
    "half_null": "CASE WHEN id < 1500 THEN NULL ELSE id END",
}


def _edge_frame(spark, n: int = 3000, parts: int = 3):
    return spark.range(0, n, 1, parts).select(
        "id", *[F.expr(e).alias(c) for c, e in _EDGE_COLUMNS.items()]
    )


def test_edge_values_over_several_row_groups(spark, tmp_path, monkeypatch):
    """The edge frame, with ``half_null`` all-null in the first file,
    written with a tiny row-group size so each file holds several row
    groups. Only ``dn``, whose files hold both signed zeros, takes the
    aggregate pass."""
    fell_back = []
    aggregate = S._aggregate_file_stats

    def spy(spark, df, root, cols, bloom=None):
        fell_back.append(list(cols))
        return aggregate(spark, df, root, cols, bloom)

    monkeypatch.setattr(S, "_aggregate_file_stats", spy)
    spark.conf.set("parquet.block.size", "4096")
    try:
        path, v = _write(spark, _edge_frame(spark), tmp_path)
    finally:
        spark.conf.unset("parquet.block.size")
        monkeypatch.undo()
    assert fell_back == [["dn"]]
    assert max(f.num_row_groups for f in _footers(path)) > 1
    footer, agg = _both(spark, path, v)
    assert footer == agg
    # the footer stats carry the edge values themselves
    stats = json.loads(footer)
    mins = [s["min"] for s in stats.values()]
    assert all("none_s" not in m and "none_i" not in m for m in mins)
    assert any("half_null" not in m for m in mins)


def test_long_strings_fall_back(spark, tmp_path):
    """parquet-java writes no min/max for binary values over 4 KB; the
    column takes the aggregate pass, the rest stays footer-only."""
    df = spark.range(0, 50, 1, 2).select(
        "id", F.concat(F.expr("repeat('x', 5000)"), F.col("id").cast("string")).alias("big")
    )
    path = str(tmp_path / "big")
    jobs = _jobs(spark, lambda: S.write_snapshot(df, path))
    assert jobs > 1  # the write, then the fallback aggregate
    col = [
        f.row_group(0).column(1).statistics
        for f in _footers(path)
    ]
    assert not any(s is not None and s.has_min_max for s in col)
    footer, agg = _both(spark, path, 0)
    assert footer == agg
    assert all("big" in s["min"] for s in json.loads(footer).values())


def test_int96_timestamps_fall_back(spark, tmp_path):
    """A session writing the legacy INT96 encoding gets the same stats
    through the aggregate pass."""
    spark.conf.set(PARQUET_TIMESTAMP_TYPE, "INT96")
    try:
        path, v = _write(spark, _edge_frame(spark, 300, 2), tmp_path)
    finally:
        spark.conf.set(PARQUET_TIMESTAMP_TYPE, "TIMESTAMP_MICROS")
    ts = [
        f.schema.column(i).physical_type
        for f in _footers(path)
        for i in range(f.num_columns)
        if f.schema.column(i).path == "ts"
    ]
    assert ts and set(ts) == {"INT96"}
    footer, agg = _both(spark, path, v)
    assert footer == agg


def test_partitioned_dirs(spark, tmp_path):
    df = _edge_frame(spark, 600, 2).select(
        "id", "dn", "s", "ts",
        (F.col("id") % 3).alias("pi"),
        F.expr("CASE WHEN id % 4 = 0 THEN NULL ELSE concat('a b:', CAST(id % 2 AS STRING)) END").alias("ps"),
        F.expr("date_add(DATE'2024-02-27', CAST(id % 3 AS INT))").alias("pd"),
    )
    path, v = _write(spark, df, tmp_path, partition_by=["pi", "ps", "pd"])
    footer, agg = _both(spark, path, v)
    assert footer == agg
    assert any("pd" in s["min"] for s in json.loads(footer).values())


def test_bloom_columns(spark, tmp_path):
    path, v = _write(
        spark, _edge_frame(spark, 400, 2), tmp_path, bloom_cols=["s", "id"]
    )
    footer, agg = _both(spark, path, v)
    assert footer == agg
    assert all("bloom" in s for s in json.loads(footer).values())


def test_cow_rewrite_and_convert_of_foreign_files(spark, tmp_path):
    """A copy-on-write rewrite collects its stats the same way; a
    converted directory written by pyarrow (a writer whose float
    statistics are not trusted) still matches."""
    path, _ = _write(spark, _edge_frame(spark, 500, 2), tmp_path)
    v = S.delete_from_snapshot(spark, path, [("id", "<", 100)])["version"]
    footer, agg = _both(spark, path, v)
    assert footer == agg

    foreign = str(tmp_path / "foreign")
    os.makedirs(foreign)
    pq.write_table(
        pa.table({
            "k": pa.array(range(100), pa.int64()),
            "x": pa.array([float("nan") if i == 3 else i / 4 for i in range(100)]),
            "s": pa.array([f"v{i}" for i in range(100)]),
            "u32": pa.array([2**32 - 1 - i for i in range(100)], pa.uint32()),
            "u64": pa.array([2**63 + i for i in range(100)], pa.uint64()),
        }),
        os.path.join(foreign, "part-0.parquet"),
    )
    S.convert_to_snapshot(spark, foreign)
    footer, agg = _both(spark, foreign, 0)
    assert footer == agg


_DOUBLES = st.one_of(
    st.none(),
    st.floats(allow_nan=True, allow_infinity=True, width=64),
    st.sampled_from([0.0, -0.0]),
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            _DOUBLES,
            st.one_of(
                st.none(),
                st.text(st.characters(blacklist_categories=("Cs",)), max_size=6),
            ),
            st.one_of(st.none(), st.integers(-(2**63), 2**63 - 1)),
        ),
        min_size=1,
        max_size=40,
    ),
    parts=st.integers(1, 3),
)
def test_random_frames(spark, tmp_path, rows, parts):
    df = local_frame(spark, rows, "d double, s string, i long").repartition(parts)
    path, v = _write(spark, df, tmp_path)
    footer, agg = _both(spark, path, v)
    assert footer == agg
