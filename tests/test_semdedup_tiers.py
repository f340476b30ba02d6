"""Differential test: ``semantic_dedup``'s driver tier (one collect, the
Lloyd fit and the within-cluster cosine pass in numpy) must return
exactly what the distributed path returns (``driver_max_rows=0``), row
for row and with the same schema. Inputs outside the tier (NULLs,
ragged or non-finite vectors, duplicate ids, sums that are not exact in
every order, zero norms in a shared cluster) must fall back to the
distributed path, and the tier must run at most two Spark jobs."""

from __future__ import annotations

import uuid

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.errors import PySparkException
from pyspark.sql import functions as F

from azure_etl_spark.operators._budget import collect_within
from azure_etl_spark.operators.similarity import semantic_dedup
from azure_etl_spark.sources.files import load_table


def _is_local(df) -> bool:
    return "LocalRelation" in df._jdf.queryExecution().analyzed().toString()


def _both(df, **kw):
    """(driver-tier result, distributed result); each is the sorted rows
    or the exception class it raised, with the frames for plan checks."""
    out = {}
    for name, budget in (("tier", 20_000), ("dist", 0)):
        try:
            frame = semantic_dedup(df, driver_max_rows=budget, **kw)
            out[name] = (frame, sorted(frame.collect()))
        except PySparkException as e:  # ANSI errors of the distributed path
            out[name] = (None, type(e))
    return out["tier"], out["dist"]


def _agree(df, local: bool, **kw):
    (tf, tr), (df_, dr) = _both(df, **kw)
    assert tr == dr
    if tf is not None:
        assert tf.schema == df_.schema
        assert _is_local(tf) is local
    return tr


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")


@pytest.mark.parametrize(
    "k,max_iter,threshold",
    [(8, 3, 0.95), (22, 3, 0.2), (40, 2, 0.3), (3, 1, 0.05), (8, 5, 0.5)],
)
def test_fixture_embeddings(emb, k, max_iter, threshold):
    rows = _agree(emb, True, k=k, max_iter=max_iter, threshold=threshold)
    assert len(rows) == emb.count()


def test_clone_doubled_rows_drop_every_clone(emb):
    doubled = emb.unionByName(emb.withColumn("vec_id", F.col("vec_id") + 100_000))
    rows = _agree(doubled, True, k=8, max_iter=3, threshold=0.999)
    dropped = {r["vec_id"] for r in rows if not r["kept"]}
    assert dropped == {r["vec_id"] + 100_000 for r in emb.collect()}


@pytest.mark.parametrize("parts", [1, 3, 7])
@pytest.mark.parametrize("elem", ["float", "double"])
def test_partitions_and_element_types(emb, parts, elem):
    df = emb.select(
        "vec_id", F.col("embedding").cast(f"array<{elem}>").alias("embedding")
    ).repartition(parts)
    _agree(df, True, k=12, max_iter=3, threshold=0.3)


def test_string_ids_and_column_names(emb):
    df = emb.select(
        F.format_string("d%05d", "vec_id").alias("doc"), F.col("embedding").alias("v")
    )
    _agree(df, True, k=8, max_iter=2, threshold=0.25, id_col="doc", vec_col="v")


def test_collated_string_ids_fall_back(emb):
    """Under UTF8_LCASE, Spark orders "B" before "c" and Python does
    not, so the tier cannot replay the init or the pair order."""
    df = emb.select(
        F.collate(
            F.format_string("%s%05d", F.when(F.col("vec_id") % 2 == 0, "B")
                            .otherwise("c"), "vec_id"),
            "UTF8_LCASE",
        ).alias("doc"),
        "embedding",
    )
    _agree(df, False, k=8, max_iter=2, threshold=0.25, id_col="doc")


@pytest.mark.parametrize("as_bytes", [True, False])
def test_binary_ids(spark, emb, as_bytes):
    """With binaryAsBytes off, Spark hands binary values to Python as
    unhashable bytearrays."""
    conf = "spark.sql.execution.pyspark.binaryAsBytes"
    old = spark.conf.get(conf)
    spark.conf.set(conf, str(as_bytes).lower())
    try:
        df = emb.select(
            F.unhex(F.format_string("%08x", "vec_id")).alias("digest"), "embedding"
        )
        rows = _agree(df, True, k=8, max_iter=2, threshold=0.25, id_col="digest")
        assert type(rows[0]["digest"]) is (bytes if as_bytes else bytearray)
    finally:
        spark.conf.set(conf, old)


@given(
    data=st.lists(
        st.lists(st.integers(-3, 3), min_size=4, max_size=4), min_size=2, max_size=14
    ),
    k=st.integers(1, 5),
    max_iter=st.integers(1, 3),
)
@settings(
    max_examples=6, deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_small_int_vectors(spark, data, k, max_iter):
    """Small integers force distance and centroid ties and exact cosine
    collisions; zero vectors are left out (they fall back, see below)."""
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(data) if any(v)]
    if not rows:
        return
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    _agree(df, True, k=k, max_iter=max_iter, threshold=0.999)


def _fallback_frame(spark, bad):
    base = [(i, [1.0 + i, 2.0, 0.5 * i, 1.0]) for i in range(6)]
    return spark.createDataFrame(base + bad, "vec_id long, embedding array<double>")


@pytest.mark.parametrize(
    "bad",
    [
        [(10, None)],                        # NULL vector
        [(10, [1.0, None, 2.0, 3.0])],       # NULL element
        [(10, [1.0, 2.0, 3.0])],             # ragged
        [(10, [1.0, float("nan"), 2.0, 3.0])],  # NaN
        [(10, [1.0, float("inf"), 2.0, 3.0])],  # inf
        [(3, [9.0, 9.0, 9.0, 9.0])],         # duplicate id
        [(None, [9.0, 9.0, 9.0, 9.0])],      # NULL id
        [(10, [1e-30, 1.0, 1.0, 1.0])],      # sums not exact in every order
        [(10, [0.0, 0.0, 0.0, 0.0])],        # zero vector in a shared cluster
    ],
    ids=["null_vec", "null_elem", "ragged", "nan", "inf", "dup_id", "null_id",
         "inexact_sum", "zero_norm"],
)
def test_fallback_inputs(spark, bad):
    _agree(_fallback_frame(spark, bad), False, k=2, max_iter=2, threshold=0.9)


def test_zero_vector_alone_in_its_cluster_stays_in_the_tier(spark):
    """No pair of a singleton cluster is divided, so Spark raises
    nothing there and the tier need not fall back."""
    df = spark.createDataFrame(
        [(0, [0.0] * 4), (1, [5.0] * 4), (2, [5.0, 5.0, 5.0, 6.0]),
         (3, [5.0, 5.0, 5.0, 6.0])],
        "vec_id long, embedding array<double>",
    )
    rows = _agree(df, True, k=2, max_iter=2, threshold=0.9)
    assert [(r["cid"], r["kept"]) for r in rows] == [
        (1, True), (2, True), (2, False), (2, False)
    ]


def test_pair_work_over_budget_falls_back(spark):
    """600 rows of dim 64 in one cluster: pair work 600^2 * 64 = 2.3e7
    multiply-adds fits an 800-row budget's cap (800 * 2^15) and not a
    600-row budget's (600 * 2^15), though the rows, their elements and
    the fit work fit both."""
    df = spark.createDataFrame(
        [(i, [1.0] * 63 + [1.0 + i / 1024]) for i in range(600)],
        "vec_id long, embedding array<double>",
    )
    kw = dict(k=1, max_iter=1, threshold=0.99995)
    tier = semantic_dedup(df, driver_max_rows=800, **kw)
    over = semantic_dedup(df, driver_max_rows=600, **kw)
    assert _is_local(tier) and not _is_local(over)
    rows = sorted(tier.collect())
    assert rows == sorted(over.collect())
    assert 0 < sum(r["kept"] for r in rows) < 600


@pytest.mark.parametrize(
    "dim,k,max_iter,limit",
    [
        (2048, 2, 2, 300 * 64 // 2048),                # element cap: 9 rows
        (64, 200, 3, 300 * (1 << 15) // (200 * 64 * 3)),  # fit cap: 256 rows
    ],
    ids=["elements", "fit_work"],
)
def test_budget_bounds_the_collect_before_it_runs(
    spark, monkeypatch, dim, k, max_iter, limit
):
    """300 rows fit a 300-row budget, but not its element cap at dim
    2048 nor its fit-work cap at dim 64 and k = 200: the probe must ask
    for no more rows than those caps admit and fall back."""
    from azure_etl_spark.operators import similarity

    seen = []

    def spy(df, budget, key):
        rows = collect_within(df, budget, key)
        seen.append((budget, rows))
        return rows

    monkeypatch.setattr(similarity, "collect_within", spy)
    df = spark.createDataFrame(
        [(i, [1.0 + (i * 7 + d) % 13 for d in range(dim)]) for i in range(300)],
        "vec_id long, embedding array<double>",
    )
    kw = dict(k=k, max_iter=max_iter, threshold=0.99)
    out = semantic_dedup(df, driver_max_rows=300, **kw)
    assert seen == [(limit, None)]
    assert not _is_local(out)
    if dim == 64:  # the 2048-d distributed reference is slow
        assert sorted(out.collect()) == sorted(
            semantic_dedup(df, driver_max_rows=0, **kw).collect()
        )


def test_tier_runs_at_most_two_jobs(spark, emb):
    sc = spark.sparkContext
    group = f"semdedup-{uuid.uuid4().hex}"
    try:
        sc.setJobGroup(group, "semantic dedup driver tier")
        out = semantic_dedup(emb, k=22, max_iter=3, threshold=0.95)
        n = len(out.collect())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert n == emb.count()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2
