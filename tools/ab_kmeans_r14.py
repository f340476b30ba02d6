#!/usr/bin/env python
"""Interleaved same-session A/B of the round-14 kmeans_fit rewrite
(per-round collect_list+broadcast chain -> driver-held literal
centroids): alternates the OLD (round-13) implementation — inlined
below, monkeypatched into operators.similarity — with the NEW shipped
one on the funnel's semantic stage shape (embeddings joined to doc
ids, k=45, dim=64), timing CONSTRUCTION+EXECUTION per run with the
frame rebuilt every run (bench discipline). Output parity asserted
every cycle.

    python tools/ab_kmeans_r14.py [cycles]   # default 6
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, Window, functions as F  # noqa: E402

from azure_etl_spark.operators import similarity  # noqa: E402
from azure_etl_spark.session import session_builder  # noqa: E402
from azure_etl_spark.sources.files import load_table  # noqa: E402


def _old_kmeans_fit(
    df: DataFrame,
    k: int = 8,
    max_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eager_rounds: bool = True,
    dim: int | None = None,
) -> tuple:
    """round-13 implementation, verbatim."""
    _sq_dist = similarity._sq_dist
    if dim is None:
        dim = len(df.select(vec_col).head()[0])

    def _round_ckpt(c: DataFrame) -> DataFrame:
        return c.localCheckpoint(eager=True) if eager_rounds else c

    centroids = _round_ckpt(
        df.orderBy(id_col)
        .limit(k)
        .select(
            F.row_number().over(Window.orderBy(id_col)).alias("cid"),
            F.col(vec_col).alias("centroid"),
        )
    )
    vecs = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    assign = None
    prev_collected = None
    mean_expr = F.expr(
        "array(" + ",".join(f"avg(v[{d}])" for d in range(dim)) + ")"
    )
    for _ in range(max_iter):
        carr = centroids.agg(
            F.collect_list(F.struct("cid", "centroid")).alias("__cs")
        )
        best = F.array_min(
            F.transform(
                F.col("__cs"),
                lambda c: F.struct(
                    _sq_dist(F.col("v"), c.getField("centroid")).alias("d"),
                    c.getField("cid").alias("cid"),
                ),
            )
        )
        assign = (
            vecs.join(F.broadcast(carr))
            .withColumn("cid", best.getField("cid"))
            .drop("__cs")
        )
        new_c = assign.groupBy("cid").agg(mean_expr.alias("centroid"))
        centroids = _round_ckpt(new_c)
        if eager_rounds:
            cur_collected = sorted(
                (r["cid"], tuple(r["centroid"])) for r in centroids.collect()
            )
            if cur_collected == prev_collected:
                break
            prev_collected = cur_collected
    return (
        assign.select("id", "cid").withColumnRenamed("id", id_col),
        centroids,
    )


NEW = similarity.kmeans_fit
OLD = _old_kmeans_fit


def build(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    ids = load_table(spark, sf_dir, "documents").select("doc_id")
    surviving = emb.join(ids, "doc_id")
    # driver_max_rows=0: the distributed path, the one that calls kmeans_fit
    return similarity.semantic_dedup(
        surviving, k=45, threshold=0.95, id_col="doc_id", driver_max_rows=0
    )


def main() -> None:
    cycles = int(sys.argv[1]) if len(sys.argv) > 1 else 6
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = session_builder(
        app_name="ab-kmeans-r14", master=f"local[{cpus}]"
    ).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    for impl in (OLD, NEW):  # warm both codegen paths
        similarity.kmeans_fit = impl
        build(spark, sf_dir).write.format("noop").mode("overwrite").save()

    times: dict[str, list[float]] = {"old": [], "new": []}
    rows: dict[str, list] = {}
    for c in range(cycles):
        for name, impl in (("old", OLD), ("new", NEW)):
            similarity.kmeans_fit = impl
            t0 = time.perf_counter()
            df = build(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            times[name].append(time.perf_counter() - t0)
            rows[name] = sorted(map(tuple, df.collect()))
        assert rows["old"] == rows["new"], "parity broken"
    similarity.kmeans_fit = NEW

    out = {}
    for name, ts in times.items():
        ts = sorted(ts)
        out[name] = {"min": round(ts[0], 3), "median": round(ts[len(ts) // 2], 3),
                     "n": len(ts)}
    print(json.dumps({"ab": "kmeans_r14_literal_centroids", "parity": "ok",
                      "results": out}))
    spark.stop()


if __name__ == "__main__":
    main()
