"""FileSource's Parquet schema cache: every batch's schema and rows equal a
plain ``spark.read.parquet`` of the same files, a batch whose footer key
was seen before runs no Spark job, and every case outside the cache's
rules falls back to plain inference."""

import json
import os
import uuid
from contextlib import contextmanager

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from polars_incremental_spark import FilesSource, Pipeline, ReaderError
from polars_incremental_spark.checkpoints.types import BatchInfo
from polars_incremental_spark.sources.file import _parquet_schema_key

ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


def _write(table: pa.Table, path: str, mtime: int, **kwargs) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, **kwargs)
    os.utime(path, (mtime, mtime))
    return path


def _rows(df) -> list:
    return sorted(df.collect(), key=repr)


@contextmanager
def _jobs(spark):
    """Collect the ids of the Spark jobs the block submits."""
    sc = spark.sparkContext
    group = f"schema-cache-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "schema cache test")
    ids: list[int] = []
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def _source(path: str, tmp_path, **options):
    spec = FilesSource(path=path, file_format="parquet", options=options)
    return spec.with_checkpoint(str(tmp_path / f"ckpt-{uuid.uuid4().hex}"))


def _read(spark, source, files, batch_id=0):
    return source.read_batch(spark, BatchInfo(batch_id=batch_id, files=list(files)))


def _assert_same_as_plain(spark, df, files, **options):
    plain = spark.read.options(**options).parquet(*files)
    assert df.schema == plain.schema
    assert _rows(df) == _rows(plain)


def test_drifting_stream_matches_plain_reads(spark, tmp_path):
    src = str(tmp_path / "src")
    base = pa.table({"id": [1, 2, 3], "name": ["a", "b", None]})
    wider = base.append_column("score", pa.array([0.5, None, 1.5]))
    narrow_int = pa.table({"id": pa.array([4, 5], pa.int32()), "name": ["d", "e"]})
    tables = [base, base, wider, wider, narrow_int, base]
    for i, t in enumerate(tables):
        _write(t, f"{src}/f{i}.parquet", 1_700_000_000 + i)
    seen = []

    def writer(df, files):
        seen.append((list(files), df.schema, _rows(df)))

    Pipeline(
        source=FilesSource(path=src, file_format="parquet", max_files_per_trigger=1),
        checkpoint_dir=str(tmp_path / "ckpt"),
        writer=writer,
    ).run(spark)
    assert len(seen) == len(tables)
    for files, schema, rows in seen:
        plain = spark.read.parquet(*files)
        assert schema == plain.schema, files
        assert rows == _rows(plain), files
    assert [len(s.fields) for _, s, _ in seen] == [2, 2, 3, 3, 2, 2]


def test_steady_state_read_runs_no_job(spark, tmp_path):
    src = str(tmp_path / "src")
    t = pa.table({"id": [1, 2], "tags": [["x"], []], "kv": [{"k": 1}, {"k": 2}]})
    files = [_write(t, f"{src}/f{i}.parquet", 1_700_000_000 + i) for i in range(3)]
    source = _source(src, tmp_path)
    with _jobs(spark) as first:
        df = _read(spark, source, files[:1])
    assert len(first) >= 1  # a new key: Spark's inference job
    for i, path in enumerate(files[1:], start=1):
        with _jobs(spark) as steady:
            df = _read(spark, source, [path], batch_id=i)
        assert steady == []
        _assert_same_as_plain(spark, df, [path])


def test_key_separates_int96_from_int64_nanos(spark, tmp_path):
    src = str(tmp_path / "src")
    t = pa.table({"ts": pa.array([1, 2], pa.timestamp("ns")), "v": [1, 2]})
    int96 = _write(t, f"{src}/a.parquet", 1, use_deprecated_int96_timestamps=True)
    nanos = _write(t, f"{src}/b.parquet", 2, version="2.6", coerce_timestamps=None)
    assert pq.read_schema(int96) == pq.read_schema(nanos)  # same Arrow schema
    assert _parquet_schema_key(spark, [int96], {}) != _parquet_schema_key(spark, [nanos], {})
    source = _source(src, tmp_path)
    first = _read(spark, source, [int96])
    second = _read(spark, source, [nanos], batch_id=1)
    _assert_same_as_plain(spark, first, [int96])
    _assert_same_as_plain(spark, second, [nanos])
    assert first.schema["ts"].dataType != second.schema["ts"].dataType


def test_spark_written_files_with_row_metadata(spark, tmp_path):
    src = str(tmp_path / "src")
    files = []
    for i in range(2):
        out = str(tmp_path / f"spark-{i}")
        spark.range(i * 10, i * 10 + 5).selectExpr(
            "id",
            "cast(id as string) s",
            "cast(id as decimal(12, 3)) d",
            "named_struct('x', id, 'y', array(id)) st",
            "map('k', id) m",
            "timestamp_seconds(id) ts",
        ).coalesce(1).write.parquet(out)
        (part,) = [f for f in os.listdir(out) if f.endswith(".parquet")]
        files.append(f"{src}/f{i}.parquet")
        os.makedirs(src, exist_ok=True)
        os.rename(f"{out}/{part}", files[-1])
    assert ROW_METADATA in pq.read_metadata(files[0]).metadata
    source = _source(src, tmp_path)
    _read(spark, source, files[:1])
    with _jobs(spark) as steady:
        df = _read(spark, source, files[1:], batch_id=1)
    assert steady == []
    _assert_same_as_plain(spark, df, files[1:])


def test_row_metadata_is_part_of_the_key(spark, tmp_path):
    """Same Parquet tree, but one footer carries Spark row metadata with a
    column comment: Spark's inferred schema differs, so must the key."""
    src = str(tmp_path / "src")
    t = pa.table({"id": [1, 2]})
    plain = _write(t, f"{src}/a.parquet", 1)
    row_meta = json.dumps({"type": "struct", "fields": [
        {"name": "id", "type": "long", "nullable": True, "metadata": {"comment": "key"}}
    ]})
    tagged = _write(t.replace_schema_metadata({ROW_METADATA: row_meta}), f"{src}/b.parquet", 2)
    source = _source(src, tmp_path)
    first = _read(spark, source, [plain])
    second = _read(spark, source, [tagged], batch_id=1)
    _assert_same_as_plain(spark, second, [tagged])
    assert second.schema["id"].metadata == {"comment": "key"}
    assert first.schema["id"].metadata == {}


def test_conf_change_is_part_of_the_key(spark, tmp_path):
    src = str(tmp_path / "src")
    t = pa.table({"b": pa.array([b"x", b"y"], pa.binary())})
    files = [_write(t, f"{src}/f{i}.parquet", i) for i in range(2)]
    source = _source(src, tmp_path)
    first = _read(spark, source, files[:1])
    conf = "spark.sql.parquet.binaryAsString"
    spark.conf.set(conf, "true")
    try:
        second = _read(spark, source, files[1:], batch_id=1)
        _assert_same_as_plain(spark, second, files[1:])
    finally:
        spark.conf.unset(conf)
    assert first.schema["b"].dataType != second.schema["b"].dataType


@pytest.mark.parametrize("new_first", [False, True])
def test_batch_crossing_the_drift_matches_plain_read(spark, tmp_path, new_first):
    """Spark infers from the first file in path order only; a batch whose
    first file has a cached key is served from the cache whatever the
    other files hold, and still equals the plain read."""
    src = str(tmp_path / "src")
    old = pa.table({"id": [1, 2]})
    new = old.append_column("extra", pa.array(["x", "y"]))
    first, second = (new, old) if new_first else (old, new)
    f_seen = _write(first, f"{src}/a.parquet", 1)
    f_mixed = [_write(second, f"{src}/c.parquet", 3), _write(first, f"{src}/b.parquet", 2)]
    assert _parquet_schema_key(spark, f_mixed, {}) == _parquet_schema_key(spark, [f_seen], {})
    source = _source(src, tmp_path)
    _read(spark, source, [f_seen])  # caches the key of b.parquet's footer
    with _jobs(spark) as jobs:
        df = _read(spark, source, f_mixed, batch_id=1)
    assert jobs == []
    _assert_same_as_plain(spark, df, f_mixed)
    assert len(df.columns) == len(first.column_names)


def test_merge_schema_conf_infers(spark, tmp_path):
    src = str(tmp_path / "src")
    old = pa.table({"id": [1, 2]})
    files = [
        _write(old, f"{src}/a.parquet", 1),
        _write(old.append_column("extra", pa.array(["x", "y"])), f"{src}/b.parquet", 2),
    ]
    source = _source(src, tmp_path)
    _read(spark, source, files[:1])  # caches the key of a.parquet's footer
    conf = "spark.sql.parquet.mergeSchema"
    spark.conf.set(conf, "true")
    try:
        assert _parquet_schema_key(spark, files, {}) is None
        df = _read(spark, source, files, batch_id=1)
        _assert_same_as_plain(spark, df, files)
    finally:
        spark.conf.unset(conf)
    assert df.columns == ["id", "extra"]


def test_truncated_file_raises_the_same_reader_error(spark, tmp_path):
    src = str(tmp_path / "src")
    good = _write(pa.table({"id": [1, 2]}), f"{src}/a.parquet", 1)
    bad = f"{src}/b.parquet"
    with open(good, "rb") as handle:
        data = handle.read()
    with open(bad, "wb") as handle:
        handle.write(data[:-20])
    os.utime(bad, (2, 2))
    with pytest.raises(Exception) as plain_exc:
        spark.read.parquet(bad)
    batches = []
    pipeline = Pipeline(
        source=FilesSource(path=src, file_format="parquet", max_files_per_trigger=1),
        checkpoint_dir=str(tmp_path / "ckpt"),
        writer=lambda df, batch_id: batches.append(batch_id),
    )
    with pytest.raises(ReaderError) as exc:
        pipeline.run(spark)
    assert batches == [0]  # the good file went through (and filled the cache)
    assert "CANNOT_READ_FILE_FOOTER" in str(plain_exc.value)
    assert "CANNOT_READ_FILE_FOOTER" in str(exc.value)
    assert type(exc.value.__cause__) is type(plain_exc.value)


def test_hive_partitions_with_base_path(spark, tmp_path):
    base = str(tmp_path / "base")
    t = pa.table({"id": [1, 2], "name": ["a", "b"]})
    files = [
        _write(t, f"{base}/dt=2024-01-01/n=1/f.parquet", 1),
        _write(t, f"{base}/dt=2024-01-02/n=2/f.parquet", 2),
        _write(t, f"{base}/dt=2024-01-03/n=x/f.parquet", 3),  # n turns string
    ]
    source = _source(base, tmp_path, basePath=base)
    for i, path in enumerate(files):
        with _jobs(spark) as jobs:
            df = _read(spark, source, [path], batch_id=i)
        assert (jobs == []) == (i > 0)
        _assert_same_as_plain(spark, df, [path], basePath=base)
        assert df.columns == ["id", "name", "dt", "n"]
    # a partition directory named like a column of the file: inferred
    clash = _write(t, f"{base}/name=z/f.parquet", 4)
    assert _parquet_schema_key(spark, [clash], {"basePath": base}) is None
    df = _read(spark, source, [clash], batch_id=3)
    _assert_same_as_plain(spark, df, [clash], basePath=base)
