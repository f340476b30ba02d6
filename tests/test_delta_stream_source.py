"""Streaming source over a FOREIGN Delta log (round 11, VERDICT r10
#5): ``spark.readStream.format("delta_log_table")`` tails a real
``_delta_log/`` — initial snapshot load through deletion vectors
(arrow-masked executor-side), per-commit appends, OPTIMIZE invisible,
COW/DV change commits loud unless ignorechanges, startingversion,
maxfilespertrigger pacing, classic-checkpoint seeds, column-mapping
refusal — the same contract surface as the snapshot-table source's
tests (tests/test_snapshot.py)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from azure_etl_spark.sources.delta_export import (
    export_delta_log,
    write_delta_checkpoint,
)
from azure_etl_spark.sources.snapshot import (
    compact_snapshot,
    delete_from_snapshot,
    read_snapshot,
    set_snapshot_properties,
    write_snapshot,
)
from azure_etl_spark.streaming import delta_source

DELTA_LOG_DIR = "_delta_log"


def _keyed(spark, lo, hi, tag):
    """Rows with id in [lo, hi) in a SINGLE file (pacing tests count
    per-file batches)."""
    return (
        spark.range(lo, hi)
        .select(
            F.col("id"), F.lit(tag).alias("tag"), (F.col("id") * 2).alias("val")
        )
        .coalesce(1)
    )


def _adopt_foreign(src: str, dst: str) -> str:
    """Copy data files + _delta_log (NOT _manifest): the result is a
    tree only the Delta protocol describes — a foreign table."""
    os.makedirs(dst, exist_ok=True)
    for entry in os.listdir(src):
        if entry == "_manifest":
            continue
        s = os.path.join(src, entry)
        d = os.path.join(dst, entry)
        if os.path.isdir(s):
            shutil.copytree(s, d)
        else:
            shutil.copy2(s, d)
    return dst


def _drain(spark, table, out_dir, ckpt, **opts):
    reader = spark.readStream.format("delta_log_table").option("path", table)
    for k, v in opts.items():
        reader = reader.option(k, v)
    q = (
        reader.load()
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.read.parquet(out_dir)


@pytest.mark.slow
def test_foreign_delta_tail_appends_and_changes(spark, tmp_path):
    """Initial load = replayed live set; each later commit is one
    micro-batch; OPTIMIZE (dataChange=false) emits nothing; a COW
    delete fails the tail loudly. The same _delta_log is extended by
    the armed mirror between drains — the stream follows a log it does
    not own."""
    delta_source.register(spark)
    src = str(tmp_path / "src")
    write_snapshot(_keyed(spark, 0, 100, "a"), src)
    write_snapshot(_keyed(spark, 100, 150, "b"), src, mode="append")
    export_delta_log(spark, src)
    foreign = _adopt_foreign(src, str(tmp_path / "foreign"))
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    out = _drain(spark, foreign, out_dir, ckpt)
    assert out.count() == 150
    assert set(out.columns) == {"id", "tag", "val"}

    # tail: extend the SOURCE table (mirror extends its log), re-adopt
    # the new commit's log entry + data into the foreign tree
    write_snapshot(_keyed(spark, 150, 170, "c"), src, mode="append")
    shutil.rmtree(foreign)
    _adopt_foreign(src, foreign)
    out = _drain(spark, foreign, out_dir, ckpt)
    assert out.count() == 170
    assert out.filter("tag = 'c'").count() == 20

    # OPTIMIZE exports as dataChange=false: invisible to the tail
    compact_snapshot(spark, src, target_file_bytes=1 << 30)
    shutil.rmtree(foreign)
    _adopt_foreign(src, foreign)
    assert _drain(spark, foreign, out_dir, ckpt).count() == 170

    # a COW delete (remove actions) breaks the append-only tail loudly
    delete_from_snapshot(spark, src, [("id", "between", (0, 10))])
    shutil.rmtree(foreign)
    _adopt_foreign(src, foreign)
    import pyspark.errors

    with pytest.raises(
        pyspark.errors.StreamingQueryException, match="removes files"
    ):
        _drain(spark, foreign, out_dir, ckpt)


@pytest.mark.slow
def test_foreign_delta_initial_load_applies_dvs(spark, tmp_path):
    """The initial snapshot load masks each live file's deletion vector
    (decoded executor-side via the pure-Python roaring codec) — the
    stream's first batch equals a real Delta reader's view at tip."""
    delta_source.register(spark)
    src = str(tmp_path / "src")
    write_snapshot(_keyed(spark, 0, 60, "a").coalesce(1), src)
    write_snapshot(_keyed(spark, 100, 140, "b").coalesce(1), src, mode="append")
    delete_from_snapshot(spark, src, [("id", "<", 20)], mode="merge_on_read")
    export_delta_log(spark, src)
    foreign = _adopt_foreign(src, str(tmp_path / "foreign"))

    out = _drain(
        spark, foreign, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    got = sorted(r["id"] for r in out.collect())
    want = sorted(r["id"] for r in read_snapshot(spark, src).collect())
    assert got == want and len(got) == 80


def test_foreign_delta_dv_commit_in_tail(spark, tmp_path):
    """A DV-carrying commit (file re-added under a deletion vector)
    breaks the append-only tail: loud by default, skipped with
    ignorechanges=true (already-delivered rows stay delivered — the
    ignoreDeletes caveat)."""
    delta_source.register(spark)
    src = str(tmp_path / "src")
    write_snapshot(_keyed(spark, 0, 50, "a").coalesce(1), src)
    export_delta_log(spark, src)
    foreign = _adopt_foreign(src, str(tmp_path / "foreign"))
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    assert _drain(spark, foreign, out_dir, ckpt).count() == 50

    delete_from_snapshot(spark, src, [("id", "<", 10)], mode="merge_on_read")
    shutil.rmtree(foreign)
    _adopt_foreign(src, foreign)
    import pyspark.errors

    with pytest.raises(
        pyspark.errors.StreamingQueryException, match="deletion vectors"
    ):
        _drain(spark, foreign, out_dir, ckpt)

    # fresh checkpoint with ignorechanges: the DV commit emits nothing
    out2 = _drain(
        spark, foreign, str(tmp_path / "out2"), str(tmp_path / "ckpt2"),
        ignorechanges="true", startingversion="1",
    )
    assert out2.count() == 0 if out2.schema.fields else True


def test_foreign_delta_partitioned_values_typed(spark, tmp_path):
    """Partition columns come back from add.partitionValues (strings in
    the log) as typed columns matching the schema."""
    delta_source.register(spark)
    src = str(tmp_path / "src")
    df = spark.range(40).select(
        F.col("id"), (F.col("id") % 3).alias("bucket"),
        (F.col("id") * 2).alias("val"),
    )
    write_snapshot(df, src, partition_by=["bucket"])
    export_delta_log(spark, src)
    foreign = _adopt_foreign(src, str(tmp_path / "foreign"))

    out = _drain(
        spark, foreign, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    # the exported schemaString decides the type (snapshot stats may
    # narrow the hive partition constant); values must be exact either way
    assert dict(out.dtypes)["bucket"] in ("int", "bigint")
    got = {(r["id"], int(r["bucket"]), r["val"]) for r in out.collect()}
    assert got == {(i, i % 3, i * 2) for i in range(40)}


def test_foreign_delta_max_files_per_trigger(spark, tmp_path):
    """maxfilespertrigger paces a multi-file backlog into bounded
    batches via sub-commit offsets with no duplicate delivery. (NOT
    availableNow: Spark's Python micro-batch stream falls back to
    single-batch execution there, bypassing admission control — same
    trade the snapshot source documents.)"""
    delta_source.register(spark)
    src = str(tmp_path / "src")
    write_snapshot(_keyed(spark, 0, 90, "a").repartition(3), src)
    export_delta_log(spark, src)
    foreign = _adopt_foreign(src, str(tmp_path / "foreign"))
    sizes: list[int] = []

    q = (
        spark.readStream.format("delta_log_table")
        .option("path", foreign)
        .option("maxfilespertrigger", "1")
        .load()
        .writeStream.foreachBatch(lambda df, bid: sizes.append(df.count()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="50 milliseconds")
        .start()
    )
    q.processAllAvailable()
    assert sum(sizes) == 90  # initial load: one uncapped batch, once

    # a 2-file commit and two 1-file commits land while the query runs:
    # the 4-file backlog drains one file per batch, nothing re-delivered
    sizes.clear()
    write_snapshot(_keyed(spark, 100, 140, "b").repartition(2), src, mode="append")
    write_snapshot(_keyed(spark, 200, 220, "c"), src, mode="append")
    write_snapshot(_keyed(spark, 300, 320, "d"), src, mode="append")
    # swap the foreign tree out from under the live query via rename —
    # a long rmtree+copy window would expose partial-log states the
    # 50ms trigger could plan against (the engine holds position on a
    # transiently-missing log, but a half-copied one is just a lie)
    staged = _adopt_foreign(src, str(tmp_path / "foreign_next"))
    shutil.rmtree(foreign)
    os.rename(staged, foreign)
    q.processAllAvailable()
    q.stop()
    assert sum(sizes) == 80
    assert [s for s in sizes if s] == [20, 20, 20, 20]


@pytest.mark.slow
def test_foreign_delta_starting_version(spark, tmp_path):
    """startingversion=N skips the initial snapshot and tails from
    commit N; 'latest' delivers only commits after the query starts."""
    delta_source.register(spark)
    src = str(tmp_path / "src")
    write_snapshot(_keyed(spark, 0, 30, "a"), src)            # v0
    write_snapshot(_keyed(spark, 100, 120, "b"), src, mode="append")  # v1
    export_delta_log(spark, src)
    foreign = _adopt_foreign(src, str(tmp_path / "foreign"))

    out = _drain(
        spark, foreign, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        startingversion="1",
    )
    assert sorted(r["id"] for r in out.collect()) == list(range(100, 120))

    ckpt2, out2 = str(tmp_path / "ckpt2"), str(tmp_path / "out2")
    _drain(spark, foreign, out2, ckpt2, startingversion="latest")
    assert not os.path.exists(out2) or spark.read.parquet(out2).count() == 0
    write_snapshot(_keyed(spark, 200, 210, "c"), src, mode="append")  # v2
    shutil.rmtree(foreign)
    _adopt_foreign(src, foreign)
    out = _drain(spark, foreign, out2, ckpt2, startingversion="latest")
    assert sorted(r["id"] for r in out.collect()) == list(range(200, 210))


def test_foreign_delta_checkpoint_seeded_log(spark, tmp_path):
    """A log whose early JSONs were cleaned up behind a classic
    checkpoint still serves the initial load (checkpoint seeds the
    replay) and tails the post-checkpoint commits."""
    delta_source.register(spark)
    src = str(tmp_path / "src")
    write_snapshot(_keyed(spark, 0, 40, "a"), src)            # v0
    write_snapshot(_keyed(spark, 100, 130, "b"), src, mode="append")  # v1
    export_delta_log(spark, src)
    lc = write_delta_checkpoint(spark, src)
    write_snapshot(_keyed(spark, 200, 220, "c"), src, mode="append")  # v2
    foreign = _adopt_foreign(src, str(tmp_path / "foreign"))
    # clean up the pre-checkpoint JSONs in the foreign tree
    for v in range(lc["version"] + 1):
        os.remove(os.path.join(foreign, DELTA_LOG_DIR, f"{v:020d}.json"))

    out = _drain(
        spark, foreign, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    got = sorted(r["id"] for r in out.collect())
    assert got == sorted(list(range(40)) + list(range(100, 130))
                         + list(range(200, 220)))


@pytest.mark.slow
def test_foreign_delta_streams_name_mapped_table(spark, tmp_path):
    """Round 11: a name-mode FLAT column-mapped foreign table (the
    common real-Databricks shape) STREAMS — the schema comes back
    logical, data columns resolve by physical parquet name at the
    arrow boundary, and physically-keyed partitionValues translate to
    typed logical columns. Round 12 (VERDICT r11 #3): the SAME table
    flipped to 'id' mode streams too — parquet files carrying field
    ids that match the declared mapping resolve by name; a file whose
    ids contradict the mapping refuses loudly."""
    import json

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    delta_source.register(spark)
    path = str(tmp_path / "mapped")
    os.makedirs(os.path.join(path, DELTA_LOG_DIR))
    files = []
    for i, (lo, grp) in enumerate([(0, "east"), (100, "west")]):
        pdf = pd.DataFrame({
            "col-k9aa": range(lo, lo + 50),
            "col-a7bb": [v * 10 for v in range(lo, lo + 50)],
        })
        fname = f"part-{i:05d}-feedf00d.snappy.parquet"
        pq.write_table(pa.Table.from_pandas(pdf), os.path.join(path, fname))
        files.append((fname, grp))
    schema = {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "col-k9aa"}},
            {"name": "grp", "type": "string", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": "col-g5cc"}},
            {"name": "amount", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 3,
                          "delta.columnMapping.physicalName": "col-a7bb"}},
        ],
    }
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {
            "id": "11111111-2222-3333-4444-666666666666",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema),
            "partitionColumns": ["grp"],
            "configuration": {"delta.columnMapping.mode": "name",
                              "delta.columnMapping.maxColumnId": "3"},
            "createdTime": 1700000000000,
        }},
    ]
    for fname, grp in files:
        actions.append({"add": {
            "path": fname,
            "partitionValues": {"col-g5cc": grp},  # PHYSICAL key
            "size": os.path.getsize(os.path.join(path, fname)),
            "modificationTime": 1700000000000,
            "dataChange": True,
        }})
    with open(os.path.join(path, DELTA_LOG_DIR, f"{0:020d}.json"), "w") as f:
        f.write("\n".join(json.dumps(a, sort_keys=True) for a in actions))

    out = _drain(spark, path, str(tmp_path / "out"), str(tmp_path / "ckpt"))
    assert set(out.columns) == {"k", "grp", "amount"}
    got = {(r["k"], r["grp"], r["amount"]) for r in out.collect()}
    assert (0, "east", 0) in got and (149, "west", 1490) in got
    assert len(got) == 100

    # the SAME table in 'id' mode: rewrite the files WITH matching
    # PARQUET:field_ids — streams with identical results
    p = os.path.join(path, DELTA_LOG_DIR, f"{0:020d}.json")
    lines = [json.loads(ln) for ln in open(p) if ln.strip()]
    for a in lines:
        if "metaData" in a:
            a["metaData"]["configuration"]["delta.columnMapping.mode"] = "id"
    with open(p, "w") as f:
        f.write("\n".join(json.dumps(a) for a in lines) + "\n")
    id_schema = pa.schema([
        pa.field("col-k9aa", pa.int64(),
                 metadata={b"PARQUET:field_id": b"1"}),
        pa.field("col-a7bb", pa.int64(),
                 metadata={b"PARQUET:field_id": b"3"}),
    ])
    for i, (lo, _grp) in enumerate([(0, "east"), (100, "west")]):
        pdf = pd.DataFrame({
            "col-k9aa": range(lo, lo + 50),
            "col-a7bb": [v * 10 for v in range(lo, lo + 50)],
        })
        fname = f"part-{i:05d}-feedf00d.snappy.parquet"
        pq.write_table(
            pa.Table.from_pandas(pdf, schema=id_schema, preserve_index=False),
            os.path.join(path, fname),
        )
    out = _drain(spark, path, str(tmp_path / "out2"), str(tmp_path / "ckpt2"))
    got2 = {(r["k"], r["grp"], r["amount"]) for r in out.collect()}
    assert got2 == got

    # a file whose field ids CONTRADICT the declared mapping refuses:
    # id 1 ('k' -> col-k9aa) stored under col-a7bb would mis-resolve
    bad_schema = pa.schema([
        pa.field("col-k9aa", pa.int64(),
                 metadata={b"PARQUET:field_id": b"3"}),
        pa.field("col-a7bb", pa.int64(),
                 metadata={b"PARQUET:field_id": b"1"}),
    ])
    pq.write_table(
        pa.Table.from_pandas(
            pd.DataFrame({"col-k9aa": [1], "col-a7bb": [2]}),
            schema=bad_schema, preserve_index=False,
        ),
        os.path.join(path, files[0][0]),
    )
    with pytest.raises(Exception, match="field id"):
        _drain(spark, path, str(tmp_path / "out3"), str(tmp_path / "ckpt3"))


@pytest.mark.slow
def test_foreign_delta_v2_and_multipart_checkpoint_seed(spark, tmp_path):
    """The streaming source's initial load seeds from ALL three
    checkpoint forms with pure local IO: a V2 manifest + sidecars
    (preferred by _last_checkpoint resolution order: parts -> classic
    -> V2), and the classic multi-part set. Pre-checkpoint JSONs are
    deleted, so the seed is the only route to the early state; a
    DV-carrying add inside the checkpoint must still arrive masked."""
    delta_source.register(spark)
    src = str(tmp_path / "src")
    write_snapshot(_keyed(spark, 0, 40, "a"), src)                     # v0
    delete_from_snapshot(spark, src, [("id", "<", 5)], mode="merge_on_read")  # v1
    set_snapshot_properties(spark, src, {"delta.checkpointPolicy": "v2"})  # v2
    export_delta_log(spark, src)
    lc = write_delta_checkpoint(spark, src, v2=True, max_actions_per_part=2)
    assert lc.get("parts", 0) >= 2 and lc["v2_sidecars"] >= 1
    write_snapshot(_keyed(spark, 200, 210, "c"), src, mode="append")   # v2
    foreign = _adopt_foreign(src, str(tmp_path / "foreign"))
    for v in range(lc["version"] + 1):
        os.remove(os.path.join(foreign, DELTA_LOG_DIR, f"{v:020d}.json"))

    want = sorted(list(range(5, 40)) + list(range(200, 210)))
    out = _drain(spark, foreign, str(tmp_path / "out"), str(tmp_path / "ckpt"))
    assert sorted(r["id"] for r in out.collect()) == want

    # remove the V2 artifacts: the multi-part classic path seeds the
    # same state from a fresh stream
    import glob as _glob

    ldir = os.path.join(foreign, DELTA_LOG_DIR)
    parts = set(_glob.glob(os.path.join(
        ldir, "*.checkpoint.??????????.??????????.parquet")))
    for m in _glob.glob(os.path.join(ldir, "*.checkpoint.*.parquet")):
        if m not in parts:
            os.remove(m)
    shutil.rmtree(os.path.join(ldir, "_sidecars"))
    out2 = _drain(spark, foreign, str(tmp_path / "out2"), str(tmp_path / "ckpt2"))
    assert sorted(r["id"] for r in out2.collect()) == want


def test_foreign_delta_starting_version_zero_walks_commits(spark, tmp_path):
    """startingversion=0 must walk the commits from version 0 (Delta's
    startingVersion semantics), not collide with the version:-1
    initial-snapshot sentinel: with ignorechanges=true a COW rewrite's
    files are re-delivered on top of the original delivery — different
    from the live-set-only initial load."""
    delta_source.register(spark)
    src = str(tmp_path / "src")
    write_snapshot(_keyed(spark, 0, 30, "a"), src)                    # v0
    delete_from_snapshot(spark, src, [("id", "<", 10)])               # v1 COW
    export_delta_log(spark, src)
    foreign = _adopt_foreign(src, str(tmp_path / "foreign"))

    out = _drain(
        spark, foreign, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        startingversion="0", ignorechanges="true",
    )
    got = sorted(r["id"] for r in out.collect())
    # v0 delivers 0..29; v1's rewrite file re-delivers the survivors
    assert got == sorted(list(range(30)) + list(range(10, 30)))

    # the plain initial load (no startingversion) sees only the live set
    out2 = _drain(spark, foreign, str(tmp_path / "out2"), str(tmp_path / "ckpt2"))
    assert sorted(r["id"] for r in out2.collect()) == list(range(10, 30))


def test_replay_state_ignores_newer_checkpoint(spark, tmp_path):
    """Exactly-once guard (round-11 self-review): reconstructing the
    initial-load state at version V must NOT seed from a checkpoint
    written at a LATER version — a restart replaying the recorded
    offset would otherwise deliver a newer live set as V. With the JSON
    chain intact the walk is authoritative; with it cleaned up the
    reconstruction refuses loudly."""
    from azure_etl_spark.streaming.delta_source import _replay_state

    src = str(tmp_path / "src")
    write_snapshot(_keyed(spark, 0, 20, "a"), src)                    # v0
    write_snapshot(_keyed(spark, 100, 110, "b"), src, mode="append")  # v1
    write_snapshot(_keyed(spark, 200, 205, "c"), src, mode="append")  # v2
    export_delta_log(spark, src)
    lc = write_delta_checkpoint(spark, src)
    assert lc["version"] == 2
    foreign = _adopt_foreign(src, str(tmp_path / "foreign"))

    live_v1, _ = _replay_state(foreign, 1)
    # v2's file must NOT be in the v1 state even though the checkpoint
    # (which contains it) is present
    assert len(live_v1) == 2

    # cleaned-up chain: v1 is no longer reconstructible — loud refusal
    os.remove(os.path.join(foreign, DELTA_LOG_DIR, f"{0:020d}.json"))
    with pytest.raises(ValueError, match="checkpoint is newer"):
        _replay_state(foreign, 1)
    # ...while the tip (>= checkpoint version) still seeds fine
    live_tip, _ = _replay_state(foreign, 2)
    assert len(live_tip) == 3


def test_foreign_delta_max_bytes_per_trigger(spark, tmp_path):
    """maxbytespertrigger paces by file SIZE (soft max, at least one
    file per batch): with a cap below one file's size, each batch
    admits exactly one file — same totals, no duplicates."""
    delta_source.register(spark)
    src = str(tmp_path / "src")
    write_snapshot(_keyed(spark, 0, 30, "a"), src)
    export_delta_log(spark, src)
    foreign = _adopt_foreign(src, str(tmp_path / "foreign"))
    sizes: list[int] = []

    q = (
        spark.readStream.format("delta_log_table")
        .option("path", foreign)
        .option("maxbytespertrigger", "1")  # below any parquet file
        .load()
        .writeStream.foreachBatch(lambda df, bid: sizes.append(df.count()))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="50 milliseconds")
        .start()
    )
    q.processAllAvailable()
    assert sum(sizes) == 30  # first batch uncapped (API trade)

    sizes.clear()
    write_snapshot(_keyed(spark, 100, 120, "b"), src, mode="append")
    write_snapshot(_keyed(spark, 200, 210, "c"), src, mode="append")
    for entry in os.listdir(foreign):
        p = os.path.join(foreign, entry)
        shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
    _adopt_foreign(src, foreign)
    q.processAllAvailable()
    q.stop()
    assert sum(sizes) == 30
    # 1-byte budget admits exactly one file per paced batch
    assert [s for s in sizes if s] == [20, 10]


def test_foreign_delta_checkpoint_only_log_streams(spark, tmp_path):
    """Round-11 self-review: a checkpoint-only log (cleanup removed
    every commit JSON — Delta log retention produces this on idle
    tables) must still stream its tip state; and a STALE
    _last_checkpoint whose file is gone falls back to the authoritative
    JSON walk instead of failing."""
    import glob as _glob

    delta_source.register(spark)
    src = str(tmp_path / "src")
    write_snapshot(_keyed(spark, 0, 25, "a"), src)
    write_snapshot(_keyed(spark, 100, 110, "b"), src, mode="append")
    export_delta_log(spark, src)
    write_delta_checkpoint(spark, src)
    foreign = _adopt_foreign(src, str(tmp_path / "foreign"))
    for name in os.listdir(os.path.join(foreign, DELTA_LOG_DIR)):
        if name.endswith(".json") and name[0].isdigit():
            os.remove(os.path.join(foreign, DELTA_LOG_DIR, name))

    out = _drain(spark, foreign, str(tmp_path / "out"), str(tmp_path / "ckpt"))
    assert sorted(r["id"] for r in out.collect()) == sorted(
        list(range(25)) + list(range(100, 110))
    )

    # stale pointer: checkpoint file deleted, complete JSON chain intact
    foreign2 = _adopt_foreign(src, str(tmp_path / "foreign2"))
    for cp in _glob.glob(os.path.join(foreign2, DELTA_LOG_DIR, "*.checkpoint*")):
        os.remove(cp)
    # _last_checkpoint still points at the removed file
    out2 = _drain(spark, foreign2, str(tmp_path / "out2"), str(tmp_path / "ckpt2"))
    assert out2.count() == 35


def test_foreign_delta_pacing_option_validation(spark, tmp_path):
    """Zero/negative pacing budgets would stall the stream forever
    (availableNow would 'succeed' with data undelivered) — both sources
    refuse at option parse time."""
    delta_source.register(spark)
    src = str(tmp_path / "src")
    write_snapshot(_keyed(spark, 0, 5, "a"), src)
    export_delta_log(spark, src)
    foreign = _adopt_foreign(src, str(tmp_path / "foreign"))
    for opt in ("maxfilespertrigger", "maxbytespertrigger"):
        with pytest.raises(Exception, match="must be positive"):
            (
                spark.readStream.format("delta_log_table")
                .option("path", foreign)
                .option(opt, "0")
                .load()
                .writeStream.format("noop")
                .option("checkpointLocation", str(tmp_path / f"ck_{opt}"))
                .trigger(availableNow=True)
                .start()
                .awaitTermination(60)
            )


def test_foreign_delta_streams_nested_mapped_table(spark, tmp_path):
    """Round 12 (VERDICT r11 #3): NESTED column mappings stream — a
    struct whose inner fields carry their own physical names (plus a
    list-of-struct element) reads back fully logical, rebuilt
    executor-side at the arrow boundary, with struct-null validity
    preserved. Parity vs the batch convert path on the same tree."""
    import json

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from azure_etl_spark.sources.delta_export import convert_from_delta_log

    delta_source.register(spark)
    path = str(tmp_path / "nested")
    os.makedirs(os.path.join(path, DELTA_LOG_DIR))
    pdf = pd.DataFrame({
        "col-k9aa": range(10),
        "col-s1": [
            None if i == 3 else {"col-x1": i * 2, "col-y2": f"v{i}"}
            for i in range(10)
        ],
        "col-l1": [
            None if i == 4 else [{"col-z9": i}, {"col-z9": i + 1}]
            for i in range(10)
        ],
    })
    fname = "part-00000-0ddba11.snappy.parquet"
    pq.write_table(pa.Table.from_pandas(pdf), os.path.join(path, fname))
    schema = {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "col-k9aa"}},
            {"name": "s", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": "col-s1"},
             "type": {"type": "struct", "fields": [
                 {"name": "x", "type": "long", "nullable": True,
                  "metadata": {"delta.columnMapping.id": 3,
                               "delta.columnMapping.physicalName": "col-x1"}},
                 {"name": "y", "type": "string", "nullable": True,
                  "metadata": {"delta.columnMapping.id": 4,
                               "delta.columnMapping.physicalName": "col-y2"}},
             ]}},
            {"name": "lst", "nullable": True,
             "metadata": {"delta.columnMapping.id": 5,
                          "delta.columnMapping.physicalName": "col-l1"},
             "type": {"type": "array", "containsNull": True,
                      "elementType": {"type": "struct", "fields": [
                          {"name": "z", "type": "long", "nullable": True,
                           "metadata": {
                               "delta.columnMapping.id": 6,
                               "delta.columnMapping.physicalName": "col-z9"}},
                      ]}}},
        ],
    }
    actions = [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {
            "id": "aaaaaaaa-bbbb-cccc-dddd-ffffffffffff",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema),
            "partitionColumns": [],
            "configuration": {"delta.columnMapping.mode": "name",
                              "delta.columnMapping.maxColumnId": "6"},
            "createdTime": 1700000000000,
        }},
        {"add": {
            "path": fname,
            "partitionValues": {},
            "size": os.path.getsize(os.path.join(path, fname)),
            "modificationTime": 1700000000000,
            "dataChange": True,
        }},
    ]
    with open(os.path.join(path, DELTA_LOG_DIR, f"{0:020d}.json"), "w") as f:
        f.write("\n".join(json.dumps(a, sort_keys=True) for a in actions))

    out = _drain(spark, path, str(tmp_path / "out"), str(tmp_path / "ckpt"))
    assert out.columns == ["k", "s", "lst"]
    got = {
        (r["k"],
         None if r["s"] is None else (r["s"]["x"], r["s"]["y"]),
         None if r["lst"] is None else tuple(e["z"] for e in r["lst"]))
        for r in out.collect()
    }
    assert (3, None, (3, 4)) in got
    assert (4, (8, "v4"), None) in got
    assert (0, (0, "v0"), (0, 1)) in got
    assert len(got) == 10

    # parity vs the batch convert on a copy of the same tree
    batch = _adopt_foreign(path, str(tmp_path / "batch"))
    convert_from_delta_log(spark, batch)
    want = {
        (r["k"],
         None if r["s"] is None else (r["s"]["x"], r["s"]["y"]),
         None if r["lst"] is None else tuple(e["z"] for e in r["lst"]))
        for r in read_snapshot(spark, batch).collect()
    }
    assert got == want


def test_foreign_delta_streams_cm_dv_reader3_roundtrip(spark, tmp_path):
    """Round 12 (ADVICE r11 #1): the engine's OWN export of a
    column-mapped table with deletion vectors declares columnMapping
    via the table-features protocol form (reader 3, readerFeatures) —
    the streaming source must accept that protocol and serve the
    DV-masked, logically-named initial load. Export-then-stream round
    trip, parity vs the batch read."""
    import json

    from azure_etl_spark.sources.delta_export import convert_from_delta_log
    from tests.test_delta_export import _mapped_delta_fixture

    delta_source.register(spark)
    path = _mapped_delta_fixture(spark, tmp_path, name="cmdv")
    assert convert_from_delta_log(spark, path) == 0
    delete_from_snapshot(spark, path, [("k", "<", 10)], mode="merge_on_read")
    export_delta_log(spark, path)

    # the exported protocol is the previously-refused shape
    with open(os.path.join(path, DELTA_LOG_DIR, f"{1:020d}.json")) as f:
        acts = [json.loads(ln) for ln in f if ln.strip()]
    proto = next(a["protocol"] for a in acts if "protocol" in a)
    assert proto["minReaderVersion"] == 3
    assert "columnMapping" in proto["readerFeatures"]
    assert "deletionVectors" in proto["readerFeatures"]

    foreign = _adopt_foreign(path, str(tmp_path / "foreign"))
    out = _drain(spark, foreign, str(tmp_path / "out"), str(tmp_path / "ckpt"))
    assert set(out.columns) == {"k", "grp", "amount"}
    got = {(r["k"], r["grp"], r["amount"]) for r in out.collect()}
    want = {(r["k"], r["grp"], r["amount"])
            for r in read_snapshot(spark, path).collect()}
    assert got == want and len(got) == 90
    assert min(k for k, _, _ in got) == 10  # the DV rows stayed masked


@pytest.mark.slow
def test_foreign_delta_readchangefeed_stream(spark, tmp_path):
    """Round 12 (VERDICT r11 #4): readchangefeed=true tails CHANGE rows
    — cdc-action commits read their _change_data parquet (in-data
    _change_type), appends derive inserts, and the result matches the
    batch CDF reader (table_changes) row-for-row. Restarting from the
    same checkpoint after a new commit delivers ONLY the new changes
    (exactly-once), and commits stripped of cdc actions derive
    full-file churn exactly as the protocol specifies."""
    import json

    from azure_etl_spark.sources.delta_export import table_changes

    delta_source.register(spark)
    src = str(tmp_path / "src")
    write_snapshot(_keyed(spark, 0, 50, "a"), src)                      # v0
    write_snapshot(_keyed(spark, 100, 130, "b"), src, mode="append")    # v1
    delete_from_snapshot(spark, src, [("id", "<", 10)])                 # v2 COW+cdc
    export_delta_log(spark, src)
    foreign = _adopt_foreign(src, str(tmp_path / "foreign"))

    out = _drain(
        spark, foreign, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        readchangefeed="true", startingversion="0",
    )
    assert {"_change_type", "_commit_version", "_commit_timestamp"} <= set(
        out.columns
    )
    got = {(r["id"], r["tag"], r["val"], r["_change_type"],
            r["_commit_version"]) for r in out.collect()}
    want = {(r["id"], r["tag"], r["val"], r["_change_type"],
             r["_commit_version"])
            for r in table_changes(spark, foreign, -1).collect()}
    assert got == want
    # shape sanity: v0/v1 inserts, v2 delete of ids<10 (+ churn per the
    # cdc the exporter wrote)
    assert {(i, "a", i * 2, "insert", 0) for i in range(50)} <= got
    assert {(i, "b", i * 2, "insert", 1) for i in range(100, 130)} <= got
    assert {(i, "a", i * 2, "delete", 2) for i in range(10)} <= got
    assert not out.filter("_commit_timestamp IS NULL").count()

    # exactly-once restart: a new commit delivers ONLY its changes
    write_snapshot(_keyed(spark, 300, 310, "c"), src, mode="append")    # v3
    staged = _adopt_foreign(src, str(tmp_path / "foreign_next"))
    shutil.rmtree(foreign)
    os.rename(staged, foreign)
    out2 = _drain(
        spark, foreign, str(tmp_path / "out"), str(tmp_path / "ckpt"),
        readchangefeed="true", startingversion="0",
    )
    got2 = {(r["id"], r["tag"], r["val"], r["_change_type"],
             r["_commit_version"]) for r in out2.collect()}
    assert got2 - got == {(i, "c", i * 2, "insert", 3) for i in range(300, 310)}

    # initial-snapshot CDF (no startingversion): current rows as
    # inserts at the tip version
    out3 = _drain(
        spark, foreign, str(tmp_path / "out3"), str(tmp_path / "ckpt3"),
        readchangefeed="true",
    )
    snap = {(r["id"], r["_change_type"], r["_commit_version"])
            for r in out3.collect()}
    live_ids = sorted(list(range(10, 50)) + list(range(100, 130))
                      + list(range(300, 310)))
    assert snap == {(i, "insert", 3) for i in live_ids}

    # derived path: strip v2's cdc actions — the same commit now
    # derives full-file churn (all 50 old rows delete, 40 re-insert)
    stripped = _adopt_foreign(src, str(tmp_path / "stripped"))
    p = os.path.join(stripped, DELTA_LOG_DIR, f"{2:020d}.json")
    lines = [json.loads(ln) for ln in open(p) if ln.strip()]
    with open(p, "w") as f:
        f.write("\n".join(json.dumps(a) for a in lines if "cdc" not in a) + "\n")
    out4 = _drain(
        spark, stripped, str(tmp_path / "out4"), str(tmp_path / "ckpt4"),
        readchangefeed="true", startingversion="2",
    )
    got4 = {(r["id"], r["_change_type"], r["_commit_version"])
            for r in out4.filter("_commit_version = 2").collect()}
    assert got4 == (
        {(i, "delete", 2) for i in range(50)}
        | {(i, "insert", 2) for i in range(10, 50)}
    )


@pytest.mark.slow
def test_foreign_delta_starting_timestamp(spark, tmp_path):
    """Round 12 (VERDICT r11 #7): startingtimestamp resolves commit
    timestamps (commitInfo.timestamp) to the startingversion walk —
    between two commits delivers the later one on, before the chain
    walks from v0, past the tip tails only future commits, a
    cleaned-up chain that no longer covers the timestamp refuses, and
    combining with startingversion refuses."""
    import datetime as _dt
    import json

    delta_source.register(spark)
    src = str(tmp_path / "src")
    write_snapshot(_keyed(spark, 0, 50, "a"), src)                    # v0
    write_snapshot(_keyed(spark, 100, 120, "b"), src, mode="append")  # v1
    write_snapshot(_keyed(spark, 200, 230, "c"), src, mode="append")  # v2
    export_delta_log(spark, src)
    foreign = _adopt_foreign(src, str(tmp_path / "foreign"))

    def commit_ts_ms(v):
        p = os.path.join(foreign, DELTA_LOG_DIR, f"{v:020d}.json")
        for ln in open(p):
            a = json.loads(ln)
            if "commitInfo" in a:
                return int(a["commitInfo"]["timestamp"])
        raise AssertionError("no commitInfo")

    def iso(ms):
        return _dt.datetime.fromtimestamp(
            ms / 1000, _dt.timezone.utc
        ).isoformat()

    t1, t2 = commit_ts_ms(1), commit_ts_ms(2)
    assert t2 > t1, "commit clock must advance for the boundary test"

    # strictly between v1 and v2: v2 on
    out = _drain(spark, foreign, str(tmp_path / "o1"), str(tmp_path / "c1"),
                 startingtimestamp=iso((t1 + t2) // 2))
    assert {r["tag"] for r in out.collect()} == {"c"}

    # inclusive at v1
    out = _drain(spark, foreign, str(tmp_path / "o2"), str(tmp_path / "c2"),
                 startingtimestamp=iso(t1))
    assert {r["tag"] for r in out.collect()} == {"b", "c"}

    # before the chain: walk from v0
    out = _drain(spark, foreign, str(tmp_path / "o3"), str(tmp_path / "c3"),
                 startingtimestamp="2000-01-01")
    assert out.count() == 100

    # past the tip: nothing now, the next commit arrives alone
    future = iso(t2 + 3_600_000)
    _drain(spark, foreign, str(tmp_path / "o4"), str(tmp_path / "c4"),
           startingtimestamp=future)
    assert not os.path.exists(os.path.join(str(tmp_path / "o4"), "_SUCCESS")) \
        or spark.read.parquet(str(tmp_path / "o4")).count() == 0
    write_snapshot(_keyed(spark, 300, 310, "d"), src, mode="append")
    staged = _adopt_foreign(src, str(tmp_path / "fnext"))
    shutil.rmtree(foreign)
    os.rename(staged, foreign)
    out = _drain(spark, foreign, str(tmp_path / "o4"), str(tmp_path / "c4"),
                 startingtimestamp=future)
    assert {r["tag"] for r in out.collect()} == {"d"}

    # a cleaned-up chain that no longer covers the timestamp refuses
    write_delta_checkpoint(spark, src)
    trunc = _adopt_foreign(src, str(tmp_path / "trunc"))
    for v in (0, 1):
        os.remove(os.path.join(trunc, DELTA_LOG_DIR, f"{v:020d}.json"))
    with pytest.raises(Exception, match="cleaned up"):
        _drain(spark, trunc, str(tmp_path / "o5"), str(tmp_path / "c5"),
               startingtimestamp=iso(t1))

    # both options: refuse
    with pytest.raises(Exception, match="not both"):
        _drain(spark, foreign, str(tmp_path / "o6"), str(tmp_path / "c6"),
               startingtimestamp=iso(t1), startingversion="1")


def _write_commit(path: str, v: int, actions: list) -> None:
    import json

    with open(os.path.join(path, DELTA_LOG_DIR, f"{v:020d}.json"), "w") as f:
        f.write("\n".join(json.dumps(a, sort_keys=True) for a in actions) + "\n")


def test_foreign_delta_cdf_with_name_mapping(spark, tmp_path):
    """Round 13 (VERDICT r12 #3): readchangefeed COMPOSED with column
    mapping. A name-mode mapped table's cdc commit stores DATA columns
    under physical names but ``_change_type`` under its literal name —
    the mapping walk must leave it alone — and cdc partitionValues are
    physically keyed. The stream's change rows match the batch CDF
    reader (table_changes) on the same log, both fully logical."""
    import json

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from azure_etl_spark.sources.delta_export import table_changes

    delta_source.register(spark)
    path = str(tmp_path / "cmcdf")
    os.makedirs(os.path.join(path, DELTA_LOG_DIR))

    def _data_file(name, ks):
        pdf = pd.DataFrame({"col-k9aa": ks, "col-a7bb": [k * 10 for k in ks]})
        pq.write_table(pa.Table.from_pandas(pdf), os.path.join(path, name))
        return os.path.getsize(os.path.join(path, name))

    schema = {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "col-k9aa"}},
            {"name": "grp", "type": "string", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": "col-g5cc"}},
            {"name": "amount", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 3,
                          "delta.columnMapping.physicalName": "col-a7bb"}},
        ],
    }
    f0 = "part-00000-aaaa.snappy.parquet"
    sz0 = _data_file(f0, list(range(5)))
    _write_commit(path, 0, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {
            "id": "11111111-2222-3333-4444-777777777777",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema),
            "partitionColumns": ["grp"],
            "configuration": {"delta.columnMapping.mode": "name",
                              "delta.columnMapping.maxColumnId": "3"},
            "createdTime": 1700000000000,
        }},
        {"add": {"path": f0, "partitionValues": {"col-g5cc": "east"},
                 "size": sz0, "modificationTime": 1700000000000,
                 "dataChange": True}},
        {"commitInfo": {"timestamp": 1700000000000}},
    ])
    # v1: a cdc commit — update rows ride _change_data parquet with
    # PHYSICAL data columns + literal _change_type, physically-keyed
    # partitionValues; the paired add/remove are invisible to CDF
    cdc_rel = "_change_data/cdc-00000-bbbb.snappy.parquet"
    os.makedirs(os.path.join(path, "_change_data"))
    cpdf = pd.DataFrame({
        "col-k9aa": [2, 2], "col-a7bb": [20, 999],
        "_change_type": ["update_preimage", "update_postimage"],
    })
    pq.write_table(pa.Table.from_pandas(cpdf),
                   os.path.join(path, cdc_rel))
    f1 = "part-00001-cccc.snappy.parquet"
    sz1 = _data_file(f1, [0, 1, 3, 4])
    _write_commit(path, 1, [
        {"cdc": {"path": cdc_rel, "partitionValues": {"col-g5cc": "east"},
                 "size": os.path.getsize(os.path.join(path, cdc_rel)),
                 "dataChange": False}},
        {"remove": {"path": f0, "dataChange": True,
                    "deletionTimestamp": 1700000001000,
                    "partitionValues": {"col-g5cc": "east"}}},
        {"add": {"path": f1, "partitionValues": {"col-g5cc": "east"},
                 "size": sz1, "modificationTime": 1700000001000,
                 "dataChange": True}},
        {"commitInfo": {"timestamp": 1700000001000}},
    ])

    out = _drain(spark, path, str(tmp_path / "out"), str(tmp_path / "ckpt"),
                 readchangefeed="true", startingversion="0")
    assert set(out.columns) >= {"k", "grp", "amount", "_change_type",
                                "_commit_version"}
    got = {(r["k"], r["grp"], r["amount"], r["_change_type"],
            r["_commit_version"]) for r in out.collect()}
    want_v0 = {(k, "east", k * 10, "insert", 0) for k in range(5)}
    want_v1 = {(2, "east", 20, "update_preimage", 1),
               (2, "east", 999, "update_postimage", 1)}
    assert got == want_v0 | want_v1
    # batch parity on the same log, also fully logical
    batch = {(r["k"], r["grp"], r["amount"], r["_change_type"],
              r["_commit_version"])
             for r in table_changes(spark, path, -1).collect()}
    assert batch == got


def test_foreign_delta_cdf_with_nested_id_mapping(spark, tmp_path):
    """Round 13: the CDF legs under ``id``-mode with a NESTED mapped
    struct — per-file PARQUET:field_id verification runs on the cdc
    file too (``_change_type`` carries no id, so it never trips the
    gate), inner struct fields rebuild under logical names, and the
    stream matches the batch reader."""
    import json

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from azure_etl_spark.sources.delta_export import table_changes

    delta_source.register(spark)
    path = str(tmp_path / "idcdf")
    os.makedirs(os.path.join(path, DELTA_LOG_DIR))

    inner = pa.struct([
        pa.field("col-x1", pa.int64(), metadata={b"PARQUET:field_id": b"3"}),
        pa.field("col-y2", pa.string(), metadata={b"PARQUET:field_id": b"4"}),
    ])
    data_schema = pa.schema([
        pa.field("col-k9aa", pa.int64(), metadata={b"PARQUET:field_id": b"1"}),
        pa.field("col-s1", inner, metadata={b"PARQUET:field_id": b"2"}),
    ])

    def _tbl(ks, extra=None):
        cols = {
            "col-k9aa": ks,
            "col-s1": [{"col-x1": k * 2, "col-y2": f"v{k}"} for k in ks],
        }
        sch = data_schema
        if extra is not None:
            cols["_change_type"] = extra
            sch = data_schema.append(pa.field("_change_type", pa.string()))
        return pa.Table.from_pandas(pd.DataFrame(cols), schema=sch,
                                    preserve_index=False)

    schema = {
        "type": "struct",
        "fields": [
            {"name": "k", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "col-k9aa"}},
            {"name": "s", "nullable": True,
             "metadata": {"delta.columnMapping.id": 2,
                          "delta.columnMapping.physicalName": "col-s1"},
             "type": {"type": "struct", "fields": [
                 {"name": "x", "type": "long", "nullable": True,
                  "metadata": {"delta.columnMapping.id": 3,
                               "delta.columnMapping.physicalName": "col-x1"}},
                 {"name": "y", "type": "string", "nullable": True,
                  "metadata": {"delta.columnMapping.id": 4,
                               "delta.columnMapping.physicalName": "col-y2"}},
             ]}},
        ],
    }
    f0 = "part-00000-dddd.snappy.parquet"
    pq.write_table(_tbl([0, 1, 2]), os.path.join(path, f0))
    _write_commit(path, 0, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        {"metaData": {
            "id": "11111111-2222-3333-4444-888888888888",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(schema),
            "partitionColumns": [],
            "configuration": {"delta.columnMapping.mode": "id",
                              "delta.columnMapping.maxColumnId": "4"},
            "createdTime": 1700000000000,
        }},
        {"add": {"path": f0, "partitionValues": {},
                 "size": os.path.getsize(os.path.join(path, f0)),
                 "modificationTime": 1700000000000, "dataChange": True}},
        {"commitInfo": {"timestamp": 1700000000000}},
    ])
    cdc_rel = "_change_data/cdc-00000-eeee.snappy.parquet"
    os.makedirs(os.path.join(path, "_change_data"))
    pq.write_table(_tbl([1], extra=["delete"]), os.path.join(path, cdc_rel))
    _write_commit(path, 1, [
        {"cdc": {"path": cdc_rel, "partitionValues": {},
                 "size": os.path.getsize(os.path.join(path, cdc_rel)),
                 "dataChange": False}},
        {"commitInfo": {"timestamp": 1700000001000}},
    ])

    out = _drain(spark, path, str(tmp_path / "out"), str(tmp_path / "ckpt"),
                 readchangefeed="true", startingversion="0")
    got = {(r["k"], (r["s"]["x"], r["s"]["y"]), r["_change_type"],
            r["_commit_version"]) for r in out.collect()}
    want = {(k, (k * 2, f"v{k}"), "insert", 0) for k in (0, 1, 2)} | {
        (1, (2, "v1"), "delete", 1)
    }
    assert got == want
    batch = {(r["k"], (r["s"]["x"], r["s"]["y"]), r["_change_type"],
              r["_commit_version"])
             for r in table_changes(spark, path, -1).collect()}
    assert batch == got


def test_gate_mapping_tolerates_additive_column_add(spark, tmp_path):
    """ADVICE r12: a purely additive mid-stream mapping change (a new
    mapped column; no pair removed or re-pointed) must NOT raise — the
    fixed stream schema simply never selects it. A RENAME (a pair
    re-pointed) still raises for a restart."""
    import json

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    delta_source.register(spark)
    path = str(tmp_path / "additive")
    os.makedirs(os.path.join(path, DELTA_LOG_DIR))

    def _file(name, cols):
        pq.write_table(pa.Table.from_pandas(pd.DataFrame(cols)),
                       os.path.join(path, name))
        return os.path.getsize(os.path.join(path, name))

    def _fields(extra=False):
        fields = [
            {"name": "k", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "col-k9aa"}},
        ]
        if extra:
            fields.append(
                {"name": "note", "type": "string", "nullable": True,
                 "metadata": {"delta.columnMapping.id": 2,
                              "delta.columnMapping.physicalName": "col-n2"}})
        return fields

    def _meta(extra=False, maxid="1"):
        return {"metaData": {
            "id": "11111111-2222-3333-4444-999999999999",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": json.dumps(
                {"type": "struct", "fields": _fields(extra)}),
            "partitionColumns": [],
            "configuration": {"delta.columnMapping.mode": "name",
                              "delta.columnMapping.maxColumnId": maxid},
            "createdTime": 1700000000000,
        }}

    f0 = "part-00000-aaaa.snappy.parquet"
    sz0 = _file(f0, {"col-k9aa": [0, 1, 2]})
    _write_commit(path, 0, [
        {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
        _meta(),
        {"add": {"path": f0, "partitionValues": {}, "size": sz0,
                 "modificationTime": 1700000000000, "dataChange": True}},
        {"commitInfo": {"timestamp": 1700000000000}},
    ])
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    assert _drain(spark, path, out_dir, ckpt).count() == 3

    # v1 ADDS a mapped column (superset mapping) + a new file: tolerated
    f1 = "part-00001-bbbb.snappy.parquet"
    sz1 = _file(f1, {"col-k9aa": [10], "col-n2": ["x"]})
    _write_commit(path, 1, [
        _meta(extra=True, maxid="2"),
        {"add": {"path": f1, "partitionValues": {}, "size": sz1,
                 "modificationTime": 1700000001000, "dataChange": True}},
        {"commitInfo": {"timestamp": 1700000001000}},
    ])
    out = _drain(spark, path, out_dir, ckpt)
    assert sorted(r["k"] for r in out.collect()) == [0, 1, 2, 10]

    # v2 RENAMES: k re-points to a different physical column. A replay
    # from v0 on a FRESH checkpoint resolves the mapping at the tip
    # (col-zz) and then meets v0's contradictory metaData (col-k9aa) —
    # one query run seeing BOTH mappings is the mis-read the gate
    # exists for. (A resume whose checkpoint is already past the old
    # metaData only ever sees the new mapping and proceeds.)
    renamed = _meta()
    renamed["metaData"]["schemaString"] = json.dumps({
        "type": "struct", "fields": [
            {"name": "k", "type": "long", "nullable": True,
             "metadata": {"delta.columnMapping.id": 1,
                          "delta.columnMapping.physicalName": "col-zz"}}]})
    f2 = "part-00002-cccc.snappy.parquet"
    sz2 = _file(f2, {"col-zz": [20]})
    _write_commit(path, 2, [
        renamed,
        {"add": {"path": f2, "partitionValues": {}, "size": sz2,
                 "modificationTime": 1700000002000, "dataChange": True}},
        {"commitInfo": {"timestamp": 1700000002000}},
    ])
    import pyspark.errors

    with pytest.raises(pyspark.errors.StreamingQueryException,
                       match="renamed mapped"):
        _drain(spark, path, str(tmp_path / "out_r"), str(tmp_path / "ckpt_r"),
               startingversion="0")


def test_batch_read_of_stream_format_redirects(spark, tmp_path):
    """spark.read (batch) on the streaming format raises with the
    remediation (read_delta_log_table / convert) instead of shipping a
    slow Python-data-source batch path."""
    delta_source.register(spark)
    src = str(tmp_path / "src")
    write_snapshot(_keyed(spark, 0, 10, "a"), src)
    export_delta_log(spark, src)
    with pytest.raises(Exception, match="read_delta_log_table"):
        spark.read.format("delta_log_table").option("path", src).load().count()


def test_minpartitionnum_defaults_to_registered_parallelism(
    spark, tmp_path, monkeypatch
):
    """Without the option, the scan-parallelism floor is the
    defaultParallelism ``register`` resolved on the driver: 64 small
    files plan to 64 partitions under a 64-way source and pack into 4
    under a 4-way one (planned directly, no 64-core session)."""
    path = str(tmp_path / "many")
    write_snapshot(
        spark.range(0, 64, 1, 64).select(F.col("id"), F.lit("t").alias("tag")),
        path,
    )
    export_delta_log(spark, path)

    def plan(source):
        src = source({"path": path})
        reader = src.streamReader(src.schema())
        return reader.partitions(reader.initialOffset(), reader.latestOffset())

    assert len(plan(delta_source.source_for(64))) == 64
    assert len(plan(delta_source.source_for(4))) == 4
    resolved = []
    source_for = delta_source.source_for
    monkeypatch.setattr(
        delta_source, "source_for", lambda n: resolved.append(n) or source_for(n)
    )
    delta_source.register(spark)
    assert resolved == [spark.sparkContext.defaultParallelism]
