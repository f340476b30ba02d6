"""The benchmark's workloads.

A workload is a sequence of parts, each one path through the engine.
A part reads the engine's fixture tables from ``fixtures/sf<sf>/``
(verbatim copies of the engine's seed-42 test fixtures), builds the
derived inputs the ``--seed`` picks, runs through the engine's public
entry points, checks its outputs against an independent DuckDB
computation (or values recorded for the same seed), and turns a traced
run's spans and event-log totals into per-layer metrics.

Expected outputs are computed before the session starts (``expect``);
the engine-side inputs are built inside the timed set-up (``prepare``).
One iteration runs every part once, in order; part ``k`` writes only
under ``<out_root>/<k>``, and the runner deletes ``out_root`` after the
output check.
"""

from __future__ import annotations

import datetime as dt
import decimal
import json
import math
import os
import random
import statistics
import time

import duckdb
from pyspark.sql import Observation
from pyspark.sql import functions as F

from tracing import Tracer

AS_OF = dt.date(2024, 1, 15)
HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURES = os.path.join(HERE, "fixtures")
FUNNEL_EXPECTED = os.path.join(HERE, "funnel_expected.json")


def fixture_dir(sf: float) -> str:
    return os.path.join(FIXTURES, f"sf{sf}")


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def duck(data_dir: str, names) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in names:
        path = os.path.join(data_dir, f"{name}.parquet")
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def dir_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(root)
        for f in files
    )


def data_files(root: str) -> int:
    """Files a writer produced under ``root``, without checksums and
    commit markers."""
    return sum(
        1
        for _, _, files in os.walk(root)
        for f in files
        if not f.startswith((".", "_"))
    )


class Part:
    """One path through the engine; subclasses fill in every method."""

    sf = 0.01  # measured scale factor
    tiny_sf = 0.001  # self-check scale factor
    layer_units: dict = {}

    def expect(self, data_dir: str, sf: float, seed: int) -> dict:
        """Expected outputs, computed without Spark."""
        raise NotImplementedError

    def prepare(self, spark, data_dir: str, sf: float, seed: int) -> dict:
        """The engine-side inputs."""
        raise NotImplementedError

    def run(self, spark, inputs, out_root: str, tracer: Tracer) -> dict:
        raise NotImplementedError

    def check(self, spark, expected, result, out_root: str) -> list[str]:
        raise NotImplementedError

    def plant_wrong(self, expected) -> None:
        """Corrupt one expected value, so the output check must fail."""
        raise NotImplementedError

    def instrument(self, tracer: Tracer) -> None:
        """Install traced wrappers on the layer entry points (traced runs)."""

    def layers(self, tracer: Tracer, stats: list, results: list) -> dict:
        """Per-layer metric values (medians over the measured iterations)."""
        return {}


def _label_metrics(label: str, tracer: Tracer, stats, keys) -> dict:
    out = {}
    for key in keys:
        if key == "wall_s":
            out[f"{label}.wall_s"] = median(tracer.span_s(label))
        else:
            out[f"{label}.{key}"] = median(s.total(key, {label}) for s in stats)
    return out


# ------------------------------------------------------------ medallion

class MedallionBatch(Part):
    """MedallionPipeline.run over the crypto-shaped projection of
    lineitem, writing bronze, silver, gold and both serving sinks."""

    sf = 0.1
    LAYERS = ("to_bronze", "bronze_to_silver", "silver_to_gold", "gold_to_serving")
    layer_units = {
        **{
            f"pipeline.{layer}.{key}": unit
            for layer in LAYERS
            for key, unit in (
                ("wall_s", "s"), ("jobs", "count"),
                ("shuffle_write_bytes", "bytes"), ("bytes_written", "bytes"),
            )
        },
        "pipeline.silver.keep_ratio": "ratio",
        "files.files_written": "count",
    }

    def expect(self, data_dir, sf, seed):
        con = duck(data_dir, ("lineitem",))
        proj = (
            "SELECT l_returnflag AS symbol, "
            "CAST(l_extendedprice AS DECIMAL(10,2)) AS price FROM lineitem"
        )
        gold = {
            sym: (lo, hi)
            for sym, lo, hi in con.sql(
                f"SELECT symbol, min(price), max(price) FROM ({proj}) GROUP BY symbol"
            ).fetchall()
        }
        rows, null_keys, n_in = con.sql(
            f"SELECT count(*), count(*) FILTER (WHERE symbol IS NULL), "
            f"(SELECT count(*) FROM lineitem) FROM (SELECT DISTINCT * FROM ({proj}))"
        ).fetchone()
        con.close()
        return {"gold": gold, "silver": {"rows": rows, "null_keys": null_keys},
                "input_rows": n_in}

    def prepare(self, spark, data_dir, sf, seed):
        from azure_etl_spark.plans.queries import crypto_view

        return {"raw": crypto_view(spark, data_dir)}

    def plant_wrong(self, expected):
        expected["silver"]["rows"] += 1

    def instrument(self, tracer):
        from azure_etl_spark.plans.pipeline import MedallionPipeline

        for layer in self.LAYERS:
            tracer.patch(MedallionPipeline, layer, f"pipeline.{layer}")

    def run(self, spark, inputs, out_root, tracer):
        from azure_etl_spark.plans.pipeline import MedallionPipeline

        pipe = MedallionPipeline(root=out_root, as_of=AS_OF)
        pipe.run(spark, inputs["raw"])
        return dict(pipe.results)

    def check(self, spark, expected, result, out_root):
        errs = []
        silver = {k: int(v) for k, v in result["silver_metrics"].items()}
        if silver != expected["silver"]:
            errs.append(f"silver metrics {silver} != {expected['silver']}")
        got = {
            r["symbol"]: r
            for r in spark.read.parquet(os.path.join(out_root, "gold")).collect()
        }
        if set(got) != set(expected["gold"]):
            errs.append(f"gold keys {sorted(got)} != {sorted(expected['gold'])}")
        for sym, (lo, hi) in expected["gold"].items():
            r = got.get(sym)
            if r is None:
                continue
            want = (lo, hi, hi - lo, AS_OF.year, AS_OF.month, AS_OF.day)
            have = (
                r["min_value_by_symbol"], r["max_value_by_symbol"],
                r["difference_between_min_max"], r["year"], r["month"], r["day"],
            )
            if have != want:
                errs.append(f"gold[{sym}] {have} != {want}")
        for layer in ("serving_documents", "serving_stage"):
            if not data_files(os.path.join(out_root, layer)):
                errs.append(f"{layer} wrote no files")
        result["keep_ratio"] = result["silver_metrics"]["rows"] / expected["input_rows"]
        result["files_written"] = data_files(out_root)
        return errs

    def layers(self, tracer, stats, results):
        out = {}
        for layer in self.LAYERS:
            out.update(_label_metrics(
                f"pipeline.{layer}", tracer, stats,
                ("wall_s", "jobs", "shuffle_write_bytes", "bytes_written"),
            ))
        out["pipeline.silver.keep_ratio"] = median(r["keep_ratio"] for r in results)
        out["files.files_written"] = median(r["files_written"] for r in results)
        return out


# ------------------------------------------------------------ delta CDC

class DeltaCdc(Part):
    """Five commits of orders (each two key residues mod 10, in a
    seed-chosen order), a merge-on-read delete and a Delta-log export,
    then a tip read and an availableNow change-data-feed drain."""

    DELETE_BELOW = 1000
    PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit")
    layer_units = {
        "snapshot.write_snapshot.wall_s": "s",
        "snapshot.write_snapshot.bytes_written": "bytes",
        "snapshot.delete_from_snapshot.wall_s": "s",
        "delta_export.export_delta_log.wall_s": "s",
        "delta_export.read_delta_log_table.build_s": "s",
        "delta_export.read_delta_log_table.exec_s": "s",
        "delta_source.drain_s": "s",
        "delta_source.batches": "count",
        "delta_source.input_rows": "count",
        "delta_source.tasks": "count",
        **{f"delta_source.{p}_ms": "ms" for p in PHASES},
    }

    @staticmethod
    def commits(seed: int) -> list[list[int]]:
        """Key residues mod 10 of each commit, in a seed-chosen order."""
        order = list(range(10))
        random.Random(seed).shuffle(order)
        return [order[i:i + 2] for i in range(0, 10, 2)]

    def expect(self, data_dir, sf, seed):
        keys = ", ".join(str(r) for c in self.commits(seed) for r in c)
        con = duck(data_dir, ("orders",))
        n, n_del = con.sql(
            f"SELECT count(*), count(*) FILTER (WHERE o_orderkey < {self.DELETE_BELOW}) "
            f"FROM orders WHERE o_orderkey % 10 IN ({keys})"
        ).fetchone()
        con.close()
        # every insert, then every deleted row
        return {"tip_rows": n - n_del, "change_rows": n + n_del}

    def prepare(self, spark, data_dir, sf, seed):
        from azure_etl_spark.sources.files import load_table
        from azure_etl_spark.streaming import delta_source

        delta_source.register(spark)
        return {
            "orders": load_table(spark, data_dir, "orders").select(
                "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
            ),
            "commits": self.commits(seed),
        }

    def plant_wrong(self, expected):
        expected["tip_rows"] += 1

    def run(self, spark, inputs, out_root, tracer):
        from azure_etl_spark.sources.delta_export import (
            export_delta_log,
            read_delta_log_table,
        )
        from azure_etl_spark.sources.snapshot import delete_from_snapshot, write_snapshot

        path = os.path.join(out_root, "orders")
        orders = inputs["orders"]
        for i, residues in enumerate(inputs["commits"]):
            with tracer.span("snapshot.write_snapshot"):
                write_snapshot(
                    orders.filter((F.col("o_orderkey") % 10).isin(residues)).coalesce(2),
                    path,
                    mode="append" if i else "overwrite",
                )
        with tracer.span("snapshot.delete_from_snapshot"):
            delete_from_snapshot(
                spark, path, [("o_orderkey", "<", self.DELETE_BELOW)],
                mode="merge_on_read",
            )
        with tracer.span("delta_export.export_delta_log"):
            export_delta_log(spark, path)

        obs = Observation("tip")
        with tracer.span("delta_export.read_delta_log_table"):
            t0 = time.perf_counter()
            tip = read_delta_log_table(spark, path)
            t1 = time.perf_counter()
            tip.observe(obs, F.count(F.lit(1)).alias("n")).write.format(
                "noop"
            ).mode("overwrite").save()
            t2 = time.perf_counter()

        with tracer.span("delta_source.drain"):
            t3 = time.perf_counter()
            query = (
                spark.readStream.format("delta_log_table")
                .option("path", path)
                .option("readchangefeed", "true")
                .option("startingversion", "0")
                .load()
                .writeStream.format("noop")
                .option("checkpointLocation", os.path.join(out_root, "_checkpoint"))
                .trigger(availableNow=True)
                .start()
            )
            finished = query.awaitTermination(120)
            t4 = time.perf_counter()
        if not finished:
            query.stop()
            raise TimeoutError("change-data-feed drain did not finish in 120 s")
        if query.exception() is not None:
            raise RuntimeError(f"drain failed: {query.exception()}")
        progress = query.recentProgress
        return {
            "tip_rows": int(obs.get["n"]),
            "change_rows": sum(int(p["numInputRows"]) for p in progress),
            "build_s": t1 - t0,
            "exec_s": t2 - t1,
            "drain_s": t4 - t3,
            "batches": len(progress),
            "phases_ms": {
                ph: sum(float(p["durationMs"].get(ph, 0)) for p in progress)
                for ph in self.PHASES
            },
        }

    def check(self, spark, expected, result, out_root):
        return [
            f"{key} {result[key]} != {expected[key]}"
            for key in ("tip_rows", "change_rows")
            if result[key] != expected[key]
        ]

    def layers(self, tracer, stats, results):
        out = {}
        for label in (
            "snapshot.write_snapshot", "snapshot.delete_from_snapshot",
            "delta_export.export_delta_log",
        ):
            out[f"{label}.wall_s"] = median(tracer.span_s(label))
        out["snapshot.write_snapshot.bytes_written"] = median(
            s.total("bytes_written", {"snapshot.write_snapshot"}) for s in stats
        )
        pre = "delta_export.read_delta_log_table"
        out[f"{pre}.build_s"] = median(r["build_s"] for r in results)
        out[f"{pre}.exec_s"] = median(r["exec_s"] for r in results)
        out["delta_source.drain_s"] = median(r["drain_s"] for r in results)
        out["delta_source.batches"] = median(r["batches"] for r in results)
        out["delta_source.input_rows"] = median(r["change_rows"] for r in results)
        out["delta_source.tasks"] = median(
            s.total("tasks", {"delta_source.drain"}) for s in stats
        )
        for ph in self.PHASES:
            out[f"delta_source.{ph}_ms"] = median(r["phases_ms"][ph] for r in results)
        return out


# ------------------------------------------------------------ curation funnel

FUNNEL_LABELS = {
    # name in plans.corpus_pipeline's namespace -> layer label
    "exact_text_dedup": "dedup.exact_text_dedup",
    "minhash_near_dup_pairs": "dedup.minhash_near_dup_pairs",
    "resolve_duplicate_clusters": "dedup.resolve_duplicate_clusters",
    "media_near_dup_pairs": "corpus_pipeline.media_near_dup_pairs",
    "contamination_overlap": "curation.contamination_overlap",
    "pack_token_budget": "curation.pack_token_budget",
}
FUNNEL_STAGES = (
    "input", "lang_gate", "quality_gate", "exact_dedup", "near_dedup",
    "media_dedup", "semantic_dedup", "decontaminated", "packed",
)
FUNNEL_LAYER_LABELS = (
    *FUNNEL_LABELS.values(), "similarity.semantic_dedup", "corpus_pipeline.materialize",
)


class CurationFunnel(Part):
    """CurationPipeline.run with every optional stage armed: synthetic
    PNM media on 40% of the documents, embeddings for SemDeDup and an
    eval slice for decontamination."""

    TOKEN_BUDGET = 512
    layer_units = {
        **{
            f"{label}.{key}": unit
            for label in FUNNEL_LAYER_LABELS
            for key, unit in (
                ("wall_s", "s"), ("jobs", "count"), ("tasks", "count"),
                ("python_bytes", "bytes"),
            )
        },
        "corpus_pipeline.driver_gap_s": "s",
        "corpus_pipeline.spill_bytes": "bytes",
        **{f"curation.{stage}.keep_ratio": "ratio" for stage in FUNNEL_STAGES},
    }

    @staticmethod
    def residues(seed: int) -> tuple[int, int]:
        """(media residue class mod 5, eval-slice residue mod 97)."""
        return seed % 5, (seed // 5) % 2

    def expect(self, data_dir, sf, seed):
        recorded = {}
        if os.path.exists(FUNNEL_EXPECTED):
            with open(FUNNEL_EXPECTED) as fh:
                recorded = json.load(fh)
        media_r, eval_r = self.residues(seed)
        return {"stage_counts": recorded.get(f"{sf}:{media_r}:{eval_r}")}

    def prepare(self, spark, data_dir, sf, seed):
        from azure_etl_spark.operators.imagehash import attach_synth_pnm
        from azure_etl_spark.sources.files import ensure_min_partitions, load_table

        media_r, eval_r = self.residues(seed)
        docs = ensure_min_partitions(
            load_table(spark, data_dir, "documents").select("doc_id", "text", "lang")
        )
        media_ids = docs.filter(
            (F.col("doc_id") + (5 - media_r)) % 5 < 2
        ).select("doc_id")
        return {
            "docs": docs,
            "eval_docs": docs.filter(F.col("doc_id") % 97 == eval_r).select(
                (F.col("doc_id") + 900_000).alias("doc_id"), "text"
            ),
            "embeddings": load_table(spark, data_dir, "embeddings").select(
                F.col("vec_id").alias("doc_id"), "embedding"
            ),
            "media": attach_synth_pnm(media_ids).withColumn(
                "media_type", F.lit("image/pnm")
            ),
        }

    def plant_wrong(self, expected):
        expected["stage_counts"] = dict(expected["stage_counts"] or {}, packed=-1)

    def instrument(self, tracer):
        from azure_etl_spark.operators import similarity
        from azure_etl_spark.plans import corpus_pipeline

        for name, label in FUNNEL_LABELS.items():
            tracer.patch(corpus_pipeline, name, label)
        tracer.patch(similarity, "semantic_dedup", "similarity.semantic_dedup")

    def run(self, spark, inputs, out_root, tracer):
        from azure_etl_spark.plans.corpus_pipeline import CurationPipeline

        pipe = CurationPipeline(
            media_routes=("image/pnm",), token_budget=self.TOKEN_BUDGET
        )
        packed = pipe.run(
            inputs["docs"], eval_docs=inputs["eval_docs"],
            embeddings=inputs["embeddings"], media=inputs["media"],
        )
        return {"stage_counts": dict(pipe.stage_counts), "packed": packed}

    def check(self, spark, expected, result, out_root):
        errs = []
        if expected["stage_counts"] is None:
            errs.append("no stage counts recorded for this seed and scale")
        elif result["stage_counts"] != expected["stage_counts"]:
            errs.append(f"stage_counts {result['stage_counts']} != {expected['stage_counts']}")
        # contiguous fill: a sequence starts where the shard's running
        # token total crosses a multiple of the budget
        packed = result.pop("packed")
        rows = packed.select("shard", "doc_id", "n_tokens", "seq_id").collect()
        packed.unpersist()
        running: dict = {}
        for r in sorted(rows, key=lambda r: (r["shard"], r["doc_id"])):
            start = running.get(r["shard"], 0)
            if r["seq_id"] != start // self.TOKEN_BUDGET:
                errs.append(f"doc {r['doc_id']} packed into seq {r['seq_id']}, "
                            f"starts at token {start}")
                break
            running[r["shard"]] = start + r["n_tokens"]
        return errs

    def layers(self, tracer, stats, results):
        out = {}
        for label in FUNNEL_LAYER_LABELS:
            out.update(_label_metrics(
                label, tracer, stats, ("wall_s", "jobs", "tasks", "python_bytes"),
            ))
        funnel = set(FUNNEL_LAYER_LABELS)
        out["corpus_pipeline.driver_gap_s"] = median(
            s.gap_s(w.get("curation_funnel", ())) for s, w in zip(stats, tracer.windows)
        )
        out["corpus_pipeline.spill_bytes"] = median(
            s.total("spill_bytes", funnel) for s in stats
        )
        counts = results[-1]["stage_counts"] if results else {}
        n_in = counts.get("input") or 1
        for stage in FUNNEL_STAGES:
            out[f"curation.{stage}.keep_ratio"] = counts.get(stage, 0) / n_in
        return out


# ------------------------------------------------------------ query sweep

# bench-flagged registry queries the sweep runs: an aggregate, a
# broadcast join, a window, the nanosecond-timestamp events table, a sketch
SWEEP_QUERIES = (
    "flagship_gold_minmax", "tpch_q3ish", "window_minmax_partition",
    "events_hourly_rollup", "hll_sketch_rollup_users",
)


def _norm_cell(v):
    if v is None:
        return "<null>"
    if isinstance(v, decimal.Decimal):
        return f"dec:{v}"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"f:{v!r}"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, int):
        return f"i:{v}"
    return f"{type(v).__name__}:{v}"


def normalize(rows, cols) -> list:
    """Order-insensitive rows with columns sorted by name (the oracle
    parity rule of the engine's test suite)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)


def sweep_specs():
    from azure_etl_spark.plans.queries import QUERIES

    return [(name, QUERIES[name]) for name in SWEEP_QUERIES]


class QuerySweep(Part):
    """The ``SWEEP_QUERIES`` registry queries, each built and run to a
    noop sink, in order."""

    layer_units = {
        "queries.build_s": "s", "queries.exec_s": "s",
        **{f"queries.{name}.wall_s": "s" for name in SWEEP_QUERIES},
        "queries.jobs": "count", "queries.tasks": "count",
        "queries.shuffle_write_bytes": "bytes", "queries.spill_bytes": "bytes",
    }

    def expect(self, data_dir, sf, seed):
        from azure_etl_spark.sources.files import TABLES

        con = duck(data_dir, TABLES)
        expected = {}
        for name, spec in sweep_specs():
            rel = con.sql(spec.oracle)
            expected[name] = (sorted(rel.columns), normalize(rel.fetchall(), rel.columns))
        con.close()
        return {"queries": expected}

    def prepare(self, spark, data_dir, sf, seed):
        return {"data_dir": data_dir}

    def plant_wrong(self, expected):
        cols, rows = expected["queries"][SWEEP_QUERIES[0]]
        expected["queries"][SWEEP_QUERIES[0]] = (cols, rows[1:])

    def run(self, spark, inputs, out_root, tracer):
        timings, frames = {}, {}
        for name, spec in sweep_specs():
            with tracer.span(f"queries.{name}"):
                t0 = time.perf_counter()
                df = spec.fn(spark, inputs["data_dir"])
                t1 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            timings[name] = (t1 - t0, t2 - t1)
            frames[name] = df
        return {"timings": timings, "frames": frames}

    def check(self, spark, expected, result, out_root):
        errs = []
        for name, df in result.pop("frames").items():
            cols, want = expected["queries"][name]
            if sorted(df.columns) != cols:
                errs.append(f"{name}: columns {sorted(df.columns)} != {cols}")
                continue
            got = normalize([tuple(r) for r in df.collect()], df.columns)
            if got != want:
                errs.append(f"{name}: {len(got)} rows differ from the oracle's {len(want)}")
        return errs

    def layers(self, tracer, stats, results):
        out = {
            "queries.build_s": median(sum(b for b, _ in r["timings"].values()) for r in results),
            "queries.exec_s": median(sum(e for _, e in r["timings"].values()) for r in results),
        }
        for name in SWEEP_QUERIES:
            out[f"queries.{name}.wall_s"] = median(sum(r["timings"][name]) for r in results)
        labels = {f"queries.{name}" for name in SWEEP_QUERIES}
        for key in ("jobs", "tasks", "shuffle_write_bytes", "spill_bytes"):
            out[f"queries.{key}"] = median(s.total(key, labels) for s in stats)
        return out


# ------------------------------------------------------------ workloads

class Workload:
    """Parts run one after another in each iteration, each timed in a
    window named after it. Jobs started outside any traced call are
    labelled ``default_label``."""

    def __init__(self, name: str, default_label: str, **parts: Part):
        self.name = name
        self.default_label = default_label
        self.parts = parts
        self.layer_units = {f"{k}.wall_s": "s" for k in parts}
        for part in parts.values():
            self.layer_units.update(part.layer_units)

    def _scales(self, tiny: bool):
        for k, part in self.parts.items():
            sf = part.tiny_sf if tiny else part.sf
            yield k, part, fixture_dir(sf), sf

    def expect(self, seed: int, tiny: bool) -> dict:
        return {k: p.expect(d, sf, seed) for k, p, d, sf in self._scales(tiny)}

    def prepare(self, spark, seed: int, tiny: bool) -> dict:
        return {k: p.prepare(spark, d, sf, seed) for k, p, d, sf in self._scales(tiny)}

    def instrument(self, tracer: Tracer) -> None:
        for part in self.parts.values():
            part.instrument(tracer)

    def run(self, spark, inputs, out_root, tracer) -> dict:
        out = {}
        for k, part in self.parts.items():
            with tracer.mark(k):
                out[k] = part.run(spark, inputs[k], os.path.join(out_root, k), tracer)
        return out

    def check(self, spark, expected, result, out_root) -> list[str]:
        return [
            f"{k}: {e}"
            for k, part in self.parts.items()
            for e in part.check(spark, expected[k], result[k], os.path.join(out_root, k))
        ]

    def layers(self, tracer, stats, results) -> dict:
        out = {f"{k}.wall_s": median(tracer.span_s(k)) for k in self.parts}
        for k, part in self.parts.items():
            out.update(part.layers(tracer, stats, [r[k] for r in results]))
        return out


WORKLOADS = {
    w.name: w
    for w in (
        # the write paths: the paper's pipeline, then the Delta CDC cycle
        Workload("medallion_delta", "pipeline.run",
                 medallion_batch=MedallionBatch(), delta_cdc=DeltaCdc()),
        # the read-only paths: the curation funnel, then the query sweep
        Workload("curation_queries", "corpus_pipeline.materialize",
                 curation_funnel=CurationFunnel(), query_sweep=QuerySweep()),
    )
}
