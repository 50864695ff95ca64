"""Parquet log checkpoints for the jar-less Delta writer/reader.

At scale, snapshot replay must not reread every JSON commit since table
creation: checkpoint_log summarizes the log into one parquet file
(PROTOCOL.md action-per-row layout), expire_log deletes the summarized
commits, and every reader path (snapshot, metadata, append, vacuum) keeps
working from checkpoint + JSON tail alone.
"""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from polars_incremental_spark.checkpoints.delta import DeltaLog
from polars_incremental_spark.errors import PlanningError
from polars_incremental_spark.sinks.deltalog import (
    checkpoint_log,
    expire_log,
    read_delta_fallback,
    vacuum_fallback,
    write_delta_fallback,
)


@pytest.fixture()
def table(spark, tmp_path):
    path = str(tmp_path / "tbl")
    mk = lambda lo, hi: spark.range(lo, hi).withColumn("v", F.col("id") * 2)
    write_delta_fallback(mk(0, 10), path)          # v0: create
    write_delta_fallback(mk(10, 20), path)         # v1: append
    write_delta_fallback(mk(100, 120), path, mode="overwrite")  # v2: removes
    write_delta_fallback(mk(120, 130), path)       # v3: append
    return path


def test_checkpoint_snapshot_parity_and_expiry(spark, table):
    log = DeltaLog(table)
    before = [a["path"] for a in log.snapshot_files(log.latest_version())]
    rows_before = sorted(r["id"] for r in read_delta_fallback(spark, table).collect())

    cp = checkpoint_log(table)
    assert os.path.exists(cp) and log.checkpoint_version() == 3
    after = [a["path"] for a in log.snapshot_files(log.latest_version())]
    assert after == before  # checkpoint-seeded replay reproduces the snapshot

    expired = expire_log(table)
    assert len(expired) == 4  # v0..v3 JSON commits summarized away
    assert not glob.glob(os.path.join(table, "_delta_log", "*.json"))
    assert log.latest_version() == 3  # known from _last_checkpoint
    rows_after = sorted(r["id"] for r in read_delta_fallback(spark, table).collect())
    assert rows_after == rows_before
    meta = log.table_metadata()
    assert meta and "schemaString" in meta

    # history below the checkpoint floor is gone — clear error, not garbage
    with pytest.raises(PlanningError):
        log.actions(1)


def test_append_after_expiry_continues_version_chain(spark, table):
    checkpoint_log(table)
    expire_log(table)
    write_delta_fallback(
        spark.range(200, 210).withColumn("v", F.col("id") * 2), table
    )  # must become v4, replayed on top of the checkpoint
    log = DeltaLog(table)
    assert log.latest_version() == 4
    rows = sorted(r["id"] for r in read_delta_fallback(spark, table).collect())
    assert rows == list(range(100, 130)) + list(range(200, 210))

    # a second checkpoint supersedes; expiry drops the old checkpoint file
    checkpoint_log(table)
    removed = expire_log(table)
    names = {os.path.basename(p) for p in removed}
    assert any(n.endswith(".checkpoint.parquet") for n in names)
    assert DeltaLog(table).checkpoint_version() == 4
    rows2 = sorted(r["id"] for r in read_delta_fallback(spark, table).collect())
    assert rows2 == rows


def test_checkpoint_carries_tombstones_for_vacuum(spark, table):
    log = DeltaLog(table)
    checkpoint_log(table)
    removes = [
        a["remove"]["path"]
        for a in log.checkpoint_actions(3)
        if "remove" in a
    ]
    assert removes  # the v2 overwrite's tombstones survived into the checkpoint
    expire_log(table)
    # age the removed files and vacuum: they are reclaimable from the
    # checkpoint-backed snapshot alone
    for rel in removes:
        full = os.path.join(table, rel)
        os.utime(full, (1, 1))
    reclaimed = vacuum_fallback(table, retention_hours=0.0001)
    assert {os.path.basename(p) for p in reclaimed} >= {
        os.path.basename(r) for r in removes
    }
    rows = read_delta_fallback(spark, table).count()
    assert rows == 30  # snapshot untouched


def test_last_checkpoint_pointer_shape(table):
    checkpoint_log(table)
    with open(os.path.join(table, "_delta_log", "_last_checkpoint")) as fh:
        info = json.load(fh)
    assert info["version"] == 3 and info["size"] > 0


def test_writer_auto_checkpoints_at_interval(spark, tmp_path):
    """write_delta_fallback checkpoints every CHECKPOINT_INTERVAL commits
    on its own (real Delta behavior), so long-lived planned pipelines get
    O(tail) replay without ever calling checkpoint_log."""
    path = str(tmp_path / "auto")
    for i in range(11):  # versions 0..10
        write_delta_fallback(spark.range(i * 5, i * 5 + 5), path)
    log = DeltaLog(path)
    assert log.checkpoint_version() == 10
    assert os.path.exists(
        os.path.join(path, "_delta_log", f"{10:020d}.checkpoint.parquet")
    )
    assert read_delta_fallback(spark, path).count() == 55

    from polars_incremental_spark.maintenance import checkpoint_delta_log

    write_delta_fallback(spark.range(100, 105), path)  # v11
    checkpoint_delta_log(path, expire=True)
    assert DeltaLog(path).checkpoint_version() == 11
    assert not glob.glob(os.path.join(path, "_delta_log", "*.json"))
    assert read_delta_fallback(spark, path).count() == 60


def test_checkpoint_preserves_protocol_feature_lists(spark, tmp_path):
    """(3,7) protocols REQUIRE reader/writerFeatures; a checkpoint that
    drops them both violates PROTOCOL.md and disarms reader-feature gating
    once expire_log removes the JSON commit that carried them."""
    from polars_incremental_spark.sinks.delta import delete_rows, read_table, write_table

    path = str(tmp_path / "dvt")
    write_table(spark.range(10).selectExpr("id AS x").coalesce(1), path)
    delete_rows(spark, path, "x < 3", dv_max_rows_per_file=100)
    checkpoint_log(path)
    expire_log(path)
    log = DeltaLog(path)
    proto = log.protocol()
    assert proto["minReaderVersion"] == 3
    assert "deletionVectors" in (proto.get("readerFeatures") or [])
    assert "deletionVectors" in (proto.get("writerFeatures") or [])
    # DV still applies after expiry
    assert read_table(spark, path).count() == 7


def test_reader_gate_still_armed_after_expiry(spark, tmp_path):
    """An UNSUPPORTED reader feature must still be refused when its
    protocol action survives only inside the parquet checkpoint."""
    from polars_incremental_spark.sinks.deltalog import _write_commit

    path = str(tmp_path / "future")
    write_delta_fallback(spark.range(5).selectExpr("id AS x"), path)
    _write_commit(
        os.path.join(path, "_delta_log"),
        1,
        [
            {"commitInfo": {"timestamp": 1, "operation": "UPGRADE"}},
            {
                "protocol": {
                    "minReaderVersion": 3,
                    "minWriterVersion": 7,
                    "readerFeatures": ["columnMapping"],
                    "writerFeatures": ["columnMapping"],
                }
            },
        ],
    )
    checkpoint_log(path)
    expire_log(path)
    log = DeltaLog(path)
    with pytest.raises(Exception, match="columnMapping"):
        log.check_reader_supported()


def test_append_reads_table_metadata_once(spark, table, monkeypatch):
    """One metaData read per non-conflicting append, on a checkpointed
    table whose tail also evolves the schema."""
    checkpoint_log(table)
    write_delta_fallback(spark.range(200, 205).withColumn("w", F.lit("x")), table)
    calls = []
    real = DeltaLog.table_metadata

    def counting(self, *args, **kwargs):
        calls.append(args or kwargs)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(DeltaLog, "table_metadata", counting)
    write_delta_fallback(
        spark.range(300, 305).withColumn("v", F.col("id") * 2).withColumn("z", F.lit(1.0)),
        table,
    )
    assert len(calls) == 1
    monkeypatch.undo()
    log = DeltaLog(table)
    fields = [f["name"] for f in json.loads(log.table_metadata()["schemaString"])["fields"]]
    assert fields == ["id", "v", "w", "z"]
    assert len(read_delta_fallback(spark, table).collect()) == 40


def _replayed(log: DeltaLog, kind: str):
    """Latest ``kind`` action by full replay: every checkpoint row, then
    every commit after it."""
    cv = log.checkpoint_version()
    found = None
    for action in log.checkpoint_actions(cv):
        found = action.get(kind, found)
    for _, action in log.replay_actions(cv, log.latest_version()):
        found = action.get(kind, found)
    return found


@pytest.mark.parametrize("tail", [0, 2])
@pytest.mark.parametrize("parts", [None, 3])
def test_effective_action_projection_matches_full_replay(spark, table, tail, parts):
    active = len(DeltaLog(table).snapshot_files(3))  # JSON replay, no checkpoint yet
    checkpoint_log(table, parts=parts)
    for i in range(tail):
        write_delta_fallback(spark.range(i).withColumn("v", F.col("id") * 2), table)
    log = DeltaLog(table)
    for kind in ("metaData", "protocol"):
        assert log._effective_action(kind, None) == _replayed(log, kind)
    # the projected read returns only the asked-for action column
    cv = log.checkpoint_version()
    projected = log.checkpoint_actions(cv, "metaData")
    assert projected and all(list(a) == ["metaData"] for a in projected)
    full = log.checkpoint_actions(cv)
    assert [a for a in full if "metaData" in a] == projected
    assert sum("add" in a for a in full) == active
