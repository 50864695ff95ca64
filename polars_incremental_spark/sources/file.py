"""Planned-mode file source: plan → read → commit (+ clean_source).

Parity: ``FileSource`` (reference: src/polars_incremental/sources/file.py:71-174).
Reading is a plain multi-path ``spark.read`` so Catalyst gets the full file
list at once (parallel scan, pushdown, pruning) rather than per-file loops.

Parquet schema cache: Spark infers a Parquet schema with one Spark job
(``mergeSchemasInParallel``), even for one file, and a micro-batch loop
would pay it on every batch.  Without schema merging that job reads one
footer only, the first data file's in path order (Spark's
``ParquetUtils.inferSchema``), so a ``FileSource`` keys the schema Spark
inferred on that file's footer and passes it back through
``reader.schema(...)`` on later batches with the same key, which then
launch no job.  Whatever the batch size, the key costs one
``pyarrow.parquet.read_metadata`` call (footer only, no data) and holds
everything the inference depends on:

- the Parquet schema tree: physical and logical types, repetition, field
  ids;
- the footer's ``org.apache.spark.sql.parquet.row.metadata`` value, which
  Spark prefers over the tree when present;
- the reader options;
- the session confs that change the Parquet-to-Spark type mapping
  (``_PARQUET_SCHEMA_CONFS``).

Every other case makes today's plain call and lets Spark infer: a new key
(its inferred schema is then stored), a first footer pyarrow cannot read
(Spark raises its own error), a ``mergeSchema`` option or
``spark.sql.parquet.mergeSchema`` conf, a user ``schema``, any
non-parquet format, and a ``basePath`` partition directory named like a
column of the file.  With ``basePath``, only the file's own columns are
cached; Spark still infers the partition columns from each batch's paths.
So every schema still comes from Spark's inference.
"""

from __future__ import annotations

import logging
import os
import shutil
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..checkpoints.file import FileStreamCheckpoint, list_files
from ..checkpoints.types import BatchInfo
from ..errors import UnsupportedFormatError
from .base import FilesSource

logger = logging.getLogger(__name__)

# session confs that change how Spark maps a Parquet footer to its schema
_PARQUET_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
)
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"


class FileSource:
    """A ``FilesSource`` spec bound to a checkpoint directory.

    Parquet batches without a user ``schema`` reuse the schema Spark
    inferred for the same footer key earlier in this instance's life (one
    ``Pipeline.run``); see the module docstring for the key and for when
    the read falls back to plain inference."""

    def __init__(self, spec: FilesSource, checkpoint_dir: str) -> None:
        self.spec = spec
        self.checkpoint = FileStreamCheckpoint(checkpoint_dir)
        self.format = spec.resolved_format()
        self._parquet_schemas: dict[tuple, StructType] = {}

    # ------------------------------------------------------------ planning
    def plan_batch(self) -> BatchInfo | None:
        listing = list_files(
            self.spec.path, pattern=self.spec.pattern, recursive=self.spec.recursive
        )
        return self.checkpoint.plan_batch(
            listing,
            start_offset=self.spec.start_offset,
            max_files=self.spec.max_files_per_trigger,
            max_bytes=self.spec.max_bytes_per_trigger,
            max_file_age_seconds=self.spec.max_file_age,
            allow_overwrites=self.spec.allow_overwrites,
        )

    # ------------------------------------------------------------- reading
    def read_batch(self, spark: SparkSession, batch: BatchInfo) -> DataFrame:
        if self.format == "parquet" and not self.spec.schema:
            return self._read_parquet(spark, batch.files)
        return read_files(
            spark,
            batch.files,
            self.format,
            options=self.spec.options,
            schema=self.spec.schema,
        )

    def _read_parquet(self, spark: SparkSession, files: list[str]) -> DataFrame:
        options = self.spec.options
        key = _parquet_schema_key(spark, files, options)
        cached = None if key is None else self._parquet_schemas.get(key)
        df = read_files(spark, files, "parquet", options=options, schema=cached)
        if key is not None and cached is None:
            partitions = _partition_dir_names(files, options)
            self._parquet_schemas[key] = StructType(
                [f for f in df.schema if f.name.lower() not in partitions]
            )
        return df

    # ------------------------------------------------------------- commit
    def commit_batch(self, batch: BatchInfo, metadata: dict[str, Any] | None = None) -> None:
        self.checkpoint.commit_batch(batch, metadata)
        if self.spec.clean_source:
            self._clean_source_files(batch.files)

    def _clean_source_files(self, files: list[str]) -> None:
        mode = self.spec.clean_source
        for path in files:
            try:
                if mode == "delete":
                    os.unlink(path)
                elif mode == "archive":
                    archive_dir = self.spec.clean_source_archive_dir
                    if not archive_dir:
                        raise ValueError(
                            "clean_source='archive' requires clean_source_archive_dir"
                        )
                    rel = os.path.relpath(path, self.spec.path)
                    dest = os.path.join(archive_dir, rel)
                    os.makedirs(os.path.dirname(dest), exist_ok=True)
                    shutil.move(path, dest)
            except FileNotFoundError:
                logger.warning("clean_source: file already gone: %s", path)


def read_files(
    spark: SparkSession,
    files: list[str],
    file_format: str,
    *,
    options: dict[str, Any] | None = None,
    schema: str | StructType | None = None,
) -> DataFrame:
    """Multi-file read for one micro-batch, one Spark scan per batch."""
    options = options or {}
    reader = spark.read
    if schema:
        reader = reader.schema(schema)
    if not files:
        raise ValueError("read_files called with an empty file list")
    if file_format == "parquet":
        return reader.options(**options).parquet(*files)
    if file_format == "orc":
        return reader.options(**options).orc(*files)
    if file_format == "csv":
        opts = {"header": "true", "inferSchema": "false" if schema else "true", **options}
        return reader.options(**opts).csv(files)
    if file_format == "json":
        # whole-document JSON (array or object per file), like pl.read_json
        return reader.options(multiLine="true", **options).json(files)
    if file_format == "ndjson":
        return reader.options(**options).json(files)
    if file_format == "text":
        return reader.options(**options).text(files)
    if file_format == "avro":
        try:
            return reader.format("avro").options(**options).load(files)
        except Exception:  # spark-avro jar absent: pure-Python fallback
            from .formats import read_avro_fallback

            return read_avro_fallback(spark, files)
    if file_format == "excel":
        return _read_excel(spark, files, options)
    raise UnsupportedFormatError(f"unsupported file format {file_format!r}")


def _parquet_schema_key(
    spark: SparkSession, files: list[str], options: dict[str, Any]
) -> tuple | None:
    """What Spark's schema inference for ``files`` depends on, or None when
    the read must infer: schema merging is on, the footer cannot be read,
    or a partition directory shares a column's name (Spark then orders the
    columns differently with a given schema)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if not files or any(k.lower() == "mergeschema" for k in options):
        return None
    if spark.conf.get("spark.sql.parquet.mergeSchema", "false").lower() == "true":
        return None
    # batch files are absolute paths, so string order is Spark's path order
    try:
        meta = pq.read_metadata(min(files))
    except (OSError, pa.ArrowException):  # Spark's inference raises its own error
        return None
    partitions = _partition_dir_names(files, options)
    if partitions:
        try:
            columns = meta.schema.to_arrow_schema().names
        except pa.ArrowException:
            return None
        if partitions & {n.lower() for n in columns}:
            return None
    return (
        # str() opens with a line naming the object's memory address
        str(meta.schema).partition("\n")[2],
        (meta.metadata or {}).get(_SPARK_ROW_METADATA),
        tuple(sorted((str(k), str(v)) for k, v in options.items())),
        tuple(spark.conf.get(k, None) for k in _PARQUET_SCHEMA_CONFS),
    )


def _partition_dir_names(files: list[str], options: dict[str, Any]) -> set[str]:
    """Lower-cased ``name`` of every ``name=value`` directory on the files'
    paths when a ``basePath`` option turns on partition discovery (Spark
    finds no partitions above explicitly listed files otherwise)."""
    if not any(k.lower() == "basepath" for k in options):
        return set()
    return {
        part.split("=", 1)[0].lower()
        for path in files
        for part in os.path.dirname(path).split("/")
        if "=" in part
    }


def _read_excel(spark: SparkSession, files: list[str], options: dict[str, Any]) -> DataFrame:
    """Excel via pandas bridge (no spark-excel jar in OSS Spark).

    Driver-side read per file is acceptable: Excel files are small by nature;
    the resulting DataFrame is distributed immediately.
    """
    try:
        import pandas as pd
    except ImportError as exc:  # pragma: no cover
        raise UnsupportedFormatError("excel requires pandas") from exc
    frames = []
    for path in files:
        try:
            frames.append(pd.read_excel(path, **options))
        except ImportError:  # no engine (openpyxl): stdlib zip+xml fallback
            from .formats import read_xlsx_fallback

            return read_xlsx_fallback(spark, files)
    merged = pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]
    return spark.createDataFrame(merged)
