"""Streaming ingest: tail-follow a directory of framed gzip proto files.

Continuous version of ``Warehouse.ingest`` (reference §3.1/§3.2 —
huckli-import/src/lib.rs:183-213): a ``binaryFile`` file-source stream
discovers new ``{prefix}.{epoch_ms}.gz`` objects. Only the source
differs from a ``--continue`` run — Hadoop-read file content instead
of a local file list; everything after it is the batch pipeline: the
same per-file frame splitter, ``Warehouse.decode`` (dropped frames
counted on ``dropped_frames``) and ``Warehouse.write_decoded`` in
``foreachBatch`` (Observation row counts, one ``files_processed``
checkpoint append per micro-batch, strictly after the data).

Delivery semantics: the file source tracks seen files in the Spark
streaming checkpoint, so a restarted stream never re-lists processed
files — strictly better than the reference's at-least-once
append-then-checkpoint gap (§3.1 step 8). Within a micro-batch,
``foreachBatch`` replay on crash is still at-least-once (same as the
reference); the idempotent upgrade is a Delta ``replaceWhere
file_source`` write (SURVEY §7 M6).

Scale: one 100 TB-day of new files is just more rows in the file-source
backlog; ``maxFilesPerTrigger`` bounds per-batch work, frame-split and
decode parallelize per file across executors, and no state accumulates
(the only streaming state is the file log).
"""

from __future__ import annotations

import gzip
import io
import os
from typing import TYPE_CHECKING, Iterator

from pyspark.sql import DataFrame, SparkSession

from huckli_spark.ingest.filetypes import REGISTRY
from huckli_spark.sources.framing import FRAMES_SCHEMA, frame_batches

if TYPE_CHECKING:
    import pandas as pd
    from pyspark.sql.streaming import StreamingQuery

    from huckli_spark.ingest.warehouse import Warehouse


def stream_frames(
    spark: SparkSession,
    directory: str,
    prefix: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming DataFrame of (file_source, frame_index, payload).

    ``binaryFile`` loads each object whole (content column); reference
    objects are single-digit-MB gzip files, far under task memory. The
    gzip+4-byte-BE-length frame split (A6) is the batch reader's
    per-file splitter (``frame_batches``) inside ``mapInPandas``, so it
    scales with the file count.
    """
    from huckli_spark.runtime import ensure_package_on_executors

    ensure_package_on_executors(spark)
    binary_schema = (
        "path STRING, modificationTime TIMESTAMP, length LONG, content BINARY"
    )
    reader = (
        spark.readStream.format("binaryFile")
        .schema(binary_schema)
        .option("pathGlobFilter", f"{prefix}*.gz")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.load(directory).select("path", "content")

    def split(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            for path, content in zip(pdf["path"], pdf["content"]):
                with gzip.GzipFile(fileobj=io.BytesIO(bytes(content))) as gz:
                    yield from frame_batches(os.path.basename(str(path)), gz)

    return raw.mapInPandas(split, FRAMES_SCHEMA)


def stream_ingest(
    spark: SparkSession,
    file_type: str,
    directory: str,
    warehouse: "Warehouse",
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
) -> "StreamingQuery":
    """Start the streaming pipeline for one file type.

    ``available_now=True`` drains the current backlog and stops (the
    reference's ``--continue`` run, minus the manual bookkeeping);
    ``False`` keeps tailing the directory.
    """
    frames = stream_frames(
        spark,
        directory,
        REGISTRY[file_type].prefix,
        max_files_per_trigger=max_files_per_trigger,
    )
    decoded = warehouse.decode(file_type, frames)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        warehouse.write_decoded(file_type, batch_df)

    writer = (
        decoded.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(f"ingest_{file_type}")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
