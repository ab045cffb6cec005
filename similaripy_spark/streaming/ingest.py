"""Structured-Streaming ingestion of pages into the index.

The reference is a pure batch library (SURVEY.md §2.6: streaming absent);
the engine's incremental story is delta indexes + merge (index_merge.py).
This module wires that into Structured Streaming: a file-source stream of
page parquet drops → ``foreachBatch`` → per-micro-batch delta index build →
periodic compaction via ``merge_indexes``.

Design points:
* ``foreachBatch`` (not a custom sink): each micro-batch is a normal batch
  DataFrame, so the exact same checkpoint-resumable ``IndexBuilder`` runs
  inside — no second build path to keep correct.
* Exactly-once: the streaming checkpoint tracks consumed files; the delta
  dir name is keyed by ``batch_id``, and a re-delivered batch overwrites its
  own delta (idempotent) rather than appending twice.
* Late/duplicate urls: pages are deduplicated within the batch by
  ``(url, warc_ts)`` keeping the latest ``warc_ts`` — the byte-identical
  text-per-url invariant makes replays harmless.
* Cross-micro-batch content dedup: the stream passes through
  ``streaming_dedup_builtin`` (dropDuplicatesWithinWatermark on the content
  hash, whole rows kept) BEFORE ``foreachBatch``, so a document whose text
  already arrived in an earlier micro-batch never enters a delta index at
  all (bounded state via the ``dedup_watermark``; duplicates separated by
  more than it are treated as new, the standard windowed contract).
* BM25 global stats drift across deltas by design; ``compact()`` re-weights
  from merged postings (the correct-by-construction path) — query a delta
  set only through ``compact()`` output.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from similaripy_spark.fulltext.index_build import IndexBuilder
from similaripy_spark.fulltext.index_merge import merge_indexes
from similaripy_spark.sources.pages import PAGES_SCHEMA


def dedup_latest_per_url(pages: DataFrame) -> DataFrame:
    """Keep the newest crawl per url (deterministic: ts desc, doc_id asc)."""
    w = Window.partitionBy("url").orderBy(
        F.col("warc_ts").desc(), F.col("doc_id").asc()
    )
    return (
        pages.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


class StreamingIndexer:
    """Incremental indexer over a file-source stream of page parquet drops."""

    def __init__(
        self,
        index_root: str,
        dedup_watermark: str | None = "1 hour",
        **builder_kwargs,
    ):
        #: dedup_watermark=None disables the cross-batch content dedup
        self.index_root = index_root
        self.dedup_watermark = dedup_watermark
        self.builder_kwargs = builder_kwargs
        os.makedirs(os.path.join(index_root, "deltas"), exist_ok=True)

    def delta_dirs(self) -> list[str]:
        root = os.path.join(self.index_root, "deltas")
        return sorted(
            os.path.join(root, d)
            for d in os.listdir(root)
            if d.startswith("batch_") and os.path.exists(
                os.path.join(root, d, "meta.json")
            )
        )

    def _process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        batch_df = dedup_latest_per_url(batch_df)
        if batch_df.isEmpty():
            return
        delta = os.path.join(self.index_root, "deltas", f"batch_{batch_id:08d}")
        # idempotent on re-delivery: rebuild this delta from scratch
        IndexBuilder(delta, **self.builder_kwargs).build(
            batch_df, resume=False
        )

    def start(
        self,
        spark: SparkSession,
        source_dir: str,
        checkpoint_dir: str | None = None,
        trigger_once: bool = True,
    ):
        """Start the stream; with ``trigger_once`` it drains available files
        and stops (the batch-oriented test/CI mode)."""
        stream = (
            spark.readStream.schema(PAGES_SCHEMA)
            .option("maxFilesPerTrigger", 4)
            .parquet(source_dir)
        )
        if self.dedup_watermark is not None:
            from similaripy_spark.streaming.dedup import streaming_dedup_builtin

            stream = streaming_dedup_builtin(
                stream, watermark=self.dedup_watermark
            ).drop("text_hash", "event_ts")
        writer = stream.writeStream.foreachBatch(self._process_batch).option(
            "checkpointLocation",
            checkpoint_dir or os.path.join(self.index_root, "_checkpoint"),
        )
        if trigger_once:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def compact(self, spark: SparkSession, out_name: str = "compacted") -> str:
        """Merge all committed deltas into one re-weighted index."""
        deltas = self.delta_dirs()
        if not deltas:
            raise ValueError("no committed deltas to compact")
        out = os.path.join(self.index_root, out_name)
        merge_indexes(spark, deltas, out)
        return out
