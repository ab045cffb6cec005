"""Streaming deduplication: drop a document whose content already arrived.

The batch dedup family (operators/dedup.py) answers "which documents in this
corpus are duplicates"; a training-data INGESTION pipeline needs the
streaming twin — "is this arriving document new?" — answered continuously
with bounded state. ``streaming_dedup_builtin`` is
``dropDuplicatesWithinWatermark`` on the content hash: whole rows pass
through, the engine manages the state, and it expires once the watermark
passes it (duplicates separated by more than the watermark are treated as
new, the standard windowed-dedup contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def streaming_dedup_builtin(
    pages_stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "warc_ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """First-seen content dedup: dropDuplicatesWithinWatermark on the
    content hash — keeps whole rows, engine-managed bounded state."""
    return (
        pages_stream.withColumn(
            "text_hash", F.md5(F.lower(F.col(text_col)))
        )
        .withColumn("event_ts", F.col(ts_col).cast("timestamp"))
        .withWatermark("event_ts", watermark)
        .dropDuplicatesWithinWatermark(["text_hash"])
    )
