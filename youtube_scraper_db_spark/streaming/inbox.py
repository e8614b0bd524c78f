"""Streaming transcript inbox (T5; ref add_transcripts.py:209-243).

The reference polls an ``inbox/`` directory, parses each dropped file, and
deletes it. The idiomatic Spark shape is a Structured Streaming file
source: the checkpoint replaces the delete-after-processing bookkeeping
(exactly-once file accounting), ``cleanSource`` optionally archives or
deletes consumed files, and the parse is the *same* Column-expression
parser the batch reader uses (sources/transcript_files.py) — one code
path, two execution modes.

Each micro-batch applies the intended transcript-preference merge rule
(§2.11): a new transcript replaces the stored one unless the stored one
has timestamps and the new one doesn't.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.scalars import has_timestamps
from ..operators.merge import when_matched_keep_better
from ..sources.transcript_files import parse_transcript_text
from .drain import drain


def read_inbox_stream(
    spark: SparkSession,
    inbox_dir: str,
    clean_source: str | None = None,
    archive_dir: str | None = None,
) -> DataFrame:
    """Streaming DataFrame of parsed transcript records from ``inbox_dir``.

    ``clean_source`` ∈ {"delete", "archive"} reproduces the reference's
    consume-then-remove behavior; leave None to keep source files (the
    checkpoint still guarantees each file is processed once).
    """
    reader = (
        spark.readStream.format("text")
        .option("wholetext", True)
        .option("maxFilesPerTrigger", 64)
    )
    if clean_source:
        reader = reader.option("cleanSource", clean_source)
        if clean_source == "archive" and archive_dir:
            reader = reader.option("sourceArchiveDir", archive_dir)
    raw = reader.load(inbox_dir).select(
        "value", F.col("_metadata.file_path").alias("file_path")
    )
    return parse_transcript_text(raw, "value", "file_path")


def transcript_preference_merge(old: DataFrame, incoming: DataFrame) -> DataFrame:
    """Apply the §2.11 *intended* rule: keep the stored transcript when it
    has timestamps and the incoming one doesn't; otherwise the incoming row
    wins. ``old``/``incoming`` carry the ``transcripts`` table columns."""
    prefer_old = has_timestamps(F.col("transcript_old")) & ~has_timestamps(
        F.col("transcript_new")
    )
    return when_matched_keep_better(old, incoming, "video_id", prefer_old)


def run_inbox_once(
    spark: SparkSession,
    inbox_dir: str,
    checkpoint_dir: str,
    apply_batch: Callable[[DataFrame, int], None],
    clean_source: str | None = None,
) -> None:
    """Drain the inbox once (``Trigger.AvailableNow``) through
    ``foreachBatch(apply_batch)`` and block until done — the batch-driven
    equivalent of the reference's single processing pass, with streaming
    checkpoint semantics (a re-run skips already-consumed files)."""
    stream = read_inbox_stream(spark, inbox_dir, clean_source=clean_source)
    drain(stream, apply_batch, checkpoint_dir)
