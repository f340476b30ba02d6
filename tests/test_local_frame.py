"""Driver-held rows enter Spark as JVM local relations, and near-dup
dedup computes its MinHash signature once.

``session.local_frame`` must hold exactly what
``createDataFrame(rows, schema)`` holds, plan as a ``LocalRelation``
and refuse what it cannot reproduce. The fast paths of
``connected_components``, ``resolve_duplicate_clusters`` and the Delta
DV reader must carry no ``ExistingRDD`` scan (a PythonRDD that starts a
Python worker on every read), and no module under ``operators/`` or
``sources/`` may call ``createDataFrame`` outside the allow-list below.
"""

from __future__ import annotations

import ast
import datetime
import math
import os
import uuid
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from azure_etl_spark.operators.dedup import (
    connected_components,
    minhash_near_dup_pairs,
    resolve_duplicate_clusters,
)
from azure_etl_spark.operators.text import quality_score
from azure_etl_spark.session import local_frame
from azure_etl_spark.sources.files import ensure_min_partitions

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "azure_etl_spark")

# (path under azure_etl_spark/, enclosing function) -> why the call stays
# on createDataFrame
CREATE_DATAFRAME_ALLOWED = {
    ("sources/http.py", "snapshots_to_df"): (
        "rows are parsed JSON dicts under a caller-chosen schema; the list "
        "path's name-keyed dict conversion and per-type verification are "
        "the contract, and local_frame takes positional tuples only"
    ),
}


def _root(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().nodeName()


def _same_rows(got, want) -> bool:
    """Row equality with NaN == NaN (Python's == says NaN != NaN)."""

    def key(v):
        return "NaN" if isinstance(v, float) and math.isnan(v) else v

    return [tuple(map(key, r)) for r in got] == [tuple(map(key, r)) for r in want]


CASES = {
    "long": ("v long", [(1,), (-(2**63),), (2**63 - 1,), (None,)]),
    "int": ("v int", [(7,), (-(2**31),), (None,)]),
    "string": ("v string", [("a",), ("",), ("ü\x1fz",), (None,)]),
    "double": (
        "v double",
        [(1.5,), (float("nan"),), (None,), (float("inf"),), (-0.0,)],
    ),
    "decimal": ("v decimal(12,3)", [(Decimal("123456789.125"),), (Decimal("-0.001"),), (None,)]),
    "boolean": ("v boolean", [(True,), (False,), (None,)]),
    "date": ("v date", [(datetime.date(1970, 1, 1),), (datetime.date(2024, 2, 29),), (None,)]),
    "mixed": (
        "a long, b string, c double, d boolean",
        [(1, "x", 0.5, True), (2, None, float("nan"), None)],
    ),
    "empty": ("a long, b string, c double", []),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_matches_list_path(spark, case):
    schema, rows = CASES[case]
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert _same_rows(got.collect(), want.collect())
    assert _root(got) == "LocalRelation"


def test_local_frame_empty_rows_take_any_schema(spark):
    schema = "ts timestamp, m map<string, array<int>>, s struct<x: long>"
    got = local_frame(spark, [], schema)
    assert got.schema == spark.createDataFrame([], schema).schema
    assert got.collect() == []
    assert _root(got) == "LocalRelation"


def test_local_frame_refuses_what_it_cannot_reproduce(spark):
    # the list path reads a naive datetime in the process's local zone,
    # Arrow reads it as UTC
    with pytest.raises(TypeError, match="timestamp"):
        local_frame(spark, [(datetime.datetime(2024, 1, 1),)], "ts timestamp")
    with pytest.raises(TypeError, match="array"):
        local_frame(spark, [([1, 2],)], "a array<int>")
    # name-keyed rows (http.py's JSON dicts) stay on createDataFrame
    with pytest.raises(TypeError, match="tuples"):
        local_frame(spark, [{"symbol": "A", "price": "1"}], "symbol string, price string")
    with pytest.raises(TypeError, match="tuples"):
        local_frame(spark, [(1, 2)], "a long")
    from pyspark.sql.types import LongType, StructField, StructType

    strict = StructType([StructField("a", LongType(), nullable=False)])
    with pytest.raises(ValueError, match="not nullable"):
        local_frame(spark, [(None,)], strict)
    # excess decimal scale: the list path would round, Arrow refuses
    with pytest.raises(Exception):
        local_frame(spark, [(Decimal("1.2345"),)], "v decimal(10,2)")


def _create_dataframe_calls(path: str) -> list[tuple[str, int]]:
    """(enclosing function, line) of every ``.createDataFrame(`` call."""
    tree = ast.parse(open(path).read(), path)
    found = []

    def visit(node, func):
        for child in ast.iter_child_nodes(node):
            f = func
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                f = child.name if func is None else func
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "createDataFrame"
            ):
                found.append((f, child.lineno))
            visit(child, f)

    visit(tree, None)
    return found


def test_no_python_rdd_frames_in_operators_or_sources():
    """Every driver-built frame under operators/ and sources/ goes
    through session.local_frame; a new ``createDataFrame(<list>)``
    (a PythonRDD) fails here unless it joins the allow-list with a
    reason."""
    bad, used = [], set()
    for sub in ("operators", "sources"):
        for dirpath, _, files in os.walk(os.path.join(PKG, sub)):
            for name in sorted(files):
                if not name.endswith(".py"):
                    continue
                path = os.path.join(dirpath, name)
                rel = os.path.relpath(path, PKG).replace(os.sep, "/")
                for func, line in _create_dataframe_calls(path):
                    if (rel, func) in CREATE_DATAFRAME_ALLOWED:
                        used.add((rel, func))
                    else:
                        bad.append(f"{rel}:{line} in {func}")
    assert not bad, f"createDataFrame outside session.local_frame: {bad}"
    # a stale allow-list entry would silently re-admit a call later
    assert used == set(CREATE_DATAFRAME_ALLOWED)


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_connected_components_fast_path_is_a_local_relation(spark):
    pairs = local_frame(spark, [(1, 2), (2, 3), (7, 8)], "id_a long, id_b long")
    comp = connected_components(pairs)
    assert "ExistingRDD" not in _plan(comp)
    assert _root(comp) == "LocalRelation"
    assert sorted(map(tuple, comp.collect())) == [
        (1, 1), (2, 1), (3, 1), (7, 7), (8, 7),
    ]


def test_resolve_keep_by_fast_path_has_no_python_rdd(spark):
    docs = local_frame(
        spark,
        [
            (1, "a a a."),
            (2, "a well formed sentence with several words in it."),
            (3, "x"),
            (4, "unrelated"),
        ],
        "doc_id long, text string",
    )
    pairs = local_frame(spark, [(1, 2), (2, 3)], "id_a long, id_b long")
    kept = resolve_duplicate_clusters(docs, pairs, keep_by=quality_score("text"))
    assert "ExistingRDD" not in _plan(kept)
    ids = sorted(r["doc_id"] for r in kept.collect())
    assert len(ids) == 2 and 4 in ids


def _stages(spark, group: str) -> list:
    """Stage infos of every job run under ``group``, once the listener
    bus has delivered every event the tracker reads."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    st = spark.sparkContext.statusTracker()
    out = []
    for j in st.getJobIdsForGroup(group):
        info = st.getJobInfo(j)
        for s in info.stageIds if info else ():
            si = st.getStageInfo(s)
            if si is not None:
                out.append(si)
    return out


def test_near_dup_computes_the_signature_once_over_every_core(spark):
    """A persisted 3-partition input on local[4]: every stage that scans
    it runs exactly 3 tasks (AQE coalesces this little shuffle data to
    one partition, fan-out and the stored signature use 4). The whole
    near-dup dedup (pair mining, then components, which consume the
    pairs four times: two band-join sides x two union directions) must
    scan the input in ONE 3-task stage, and the signature stage must
    run on more than one core."""
    sc = spark.sparkContext
    base = [
        "the quick brown fox jumps over the lazy dog near the river bank today",
        "a completely different sentence about distributed query planning here",
        "minhash signatures estimate jaccard similarity between shingle sets well",
    ]
    rows = [
        (i, base[i % 3] + (" extra" if i % 2 else "") + f" tag{i // 6}")
        for i in range(60)
    ]
    docs = (
        local_frame(spark, rows, "doc_id long, text string").repartition(3).persist()
    )
    assert docs.count() == 60
    assert docs._jdf.queryExecution().toRdd().getNumPartitions() == 3
    try:
        group = f"near-dup-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "near-dup signature accounting")
        pairs = minhash_near_dup_pairs(docs, threshold=0.5)
        comp = connected_components(pairs).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        docs.unpersist()
    assert comp, "the fixture plants near-dup clusters"
    stages = _stages(spark, group)
    scans = [s for s in stages if s.numTasks == 3 and s.numCompletedTasks]
    assert sum(s.numCompletedTasks for s in scans) == 3, [
        (s.stageId, s.numTasks, s.numCompletedTasks) for s in stages
    ]
    assert any(
        s.numTasks == sc.defaultParallelism and s.numCompletedTasks == s.numTasks
        for s in stages
    )


def test_ensure_min_partitions_probe_runs_no_job(spark):
    """An uncached plan with an exchange: ``toRdd`` would execute its
    adaptive stages, so the probe leaves it alone and runs no job; a
    bare scan is still fanned out."""
    sc = spark.sparkContext
    agg = spark.range(0, 100, 1, 2).groupBy((F.col("id") % 5).alias("k")).count()
    group = f"probe-{uuid.uuid4().hex}"
    try:
        sc.setJobGroup(group, "partition probe")
        assert ensure_min_partitions(agg) is agg
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    scan = spark.range(0, 100, 1, 1)
    fanned = ensure_min_partitions(scan)
    assert fanned is not scan
    assert fanned._jdf.queryExecution().toRdd().getNumPartitions() == sc.defaultParallelism
