"""Document deletion: tombstone epochs + exact-result filtering + compaction.

Semantics (the Lucene model, stated honestly): a deleted document is never
returned by any query path, and the SURVIVING top-k is exact — tombstones
are applied INSIDE the scoring kernels before each shard's local top-k, so
deleted docs can never crowd survivors out of the per-shard emission.
Corpus statistics (idf df, N, avgdl) keep their pre-deletion values until
``compact_index`` rewrites the index — surviving docs' SCORES therefore
reflect the corpus as of the last build/compact, exactly like a Lucene
segment with live-docs bitmaps before a merge. This is SQL-expressible
(weights over the full corpus, results filtered), so the contract sits
under the DuckDB oracle gate (``bm25_delete_topk``).

Storage: ``tombstones_epoch_K/`` parquet (doc_id) via the commit protocol;
``meta.json`` carries ``n_tombstone_epochs``. Deleting an id twice, or an
id that never existed, is a no-op (epochs are distinct-unioned at read).

Scale: kernels receive the tombstone set as a sorted int64 array loaded
driver-side (pyarrow, no Spark job) and shipped in the cogroup closure —
bounded by ``TOMBSTONE_CAP`` (4M ids ≈ 32 MB). Above
the cap, queries refuse with instructions to ``compact_index`` (which
folds ANY number of tombstones into a rewrite and resets the count to
zero). Deletion fractions beyond a few percent should compact anyway —
dead postings still burn scan bandwidth on every query. Block and term
score bounds still include deleted docs, so they stay valid upper bounds
for the survivors (wand._ShardIndex); pruning is merely looser until a
compact.

The reference has no deletion concept at all (rebuild-per-call CSR);
extension surface, same category as append.py.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from similaripy_spark.fulltext.commit import (
    detect_commit_protocol,
    resolve_artifact,
)
from similaripy_spark.fulltext.index_build import IndexBuilder, read_meta

#: the most tombstones a query kernel takes in its closure
TOMBSTONE_CAP = 4_000_000


def delete_docs(
    spark: SparkSession, index_dir: str, doc_ids
) -> dict:
    """Tombstone the given doc_ids (list/array or a DataFrame with a
    ``doc_id`` column). Returns the updated meta. No posting data is
    touched; queries exclude the docs immediately."""
    meta = read_meta(index_dir)
    epoch = int(meta.get("n_tombstone_epochs", 0))
    # match the base index's backend (pointer objects on an object store
    # need pointer commits for the epoch dirs too)
    commit = detect_commit_protocol(index_dir)
    if isinstance(doc_ids, DataFrame):
        df = doc_ids.select(F.col("doc_id").cast("long")).distinct()
        if df.limit(1).count() == 0:
            # parity with the list path: an empty delete must not commit
            # a zero-row tombstone epoch (each epoch adds a permanent
            # driver-side dataset read to every query batch)
            raise ValueError("delete_docs: empty doc_id set")
    else:
        ids = np.unique(np.asarray([int(x) for x in doc_ids], np.int64))
        if not len(ids):
            raise ValueError("delete_docs: empty doc_id set")
        # dedup on the driver and write from a pandas frame: it plans as a
        # one-task LocalTableScan. A Python-list frame plans as a PythonRDD
        # (one Python task per core, each paying the worker's per-task
        # fixed cost) plus a distinct exchange — for a list already in
        # driver memory.
        df = spark.createDataFrame(
            pd.DataFrame({"doc_id": ids}), "doc_id long"
        ).coalesce(1)
    path = os.path.join(index_dir, f"tombstones_epoch_{epoch}")
    tmp = commit.stage_path(path)
    df.write.mode("overwrite").parquet(tmp)
    commit.commit_dir(tmp, path)
    new_meta = dict(meta)
    new_meta["n_tombstone_epochs"] = epoch + 1
    commit.publish_json(os.path.join(index_dir, "meta.json"), new_meta)
    return new_meta


def read_tombstones(spark: SparkSession, index_dir: str) -> DataFrame:
    """All tombstoned doc_ids (distinct across epochs); empty DataFrame if
    none."""
    n = int(read_meta(index_dir).get("n_tombstone_epochs", 0))
    if n == 0:
        return spark.createDataFrame([], "doc_id long")
    parts = [
        resolve_artifact(os.path.join(index_dir, f"tombstones_epoch_{e}"))
        for e in range(n)
    ]
    return spark.read.parquet(*parts).select("doc_id").distinct()


def tombstone_array(index_dir: str) -> np.ndarray | None:
    """Driver-side sorted int64 tombstone set for the scoring kernels
    (pyarrow read — no Spark job). None when the index has no tombstones;
    raises above TOMBSTONE_CAP (compact_index folds any number in)."""
    meta = read_meta(index_dir)
    n = int(meta.get("n_tombstone_epochs", 0))
    if n == 0:
        return None
    import pyarrow.dataset as pads

    parts = []
    for e in range(n):
        loc = resolve_artifact(
            os.path.join(index_dir, f"tombstones_epoch_{e}")
        )
        t = pads.dataset(loc).to_table(columns=["doc_id"])
        parts.append(t.column("doc_id").to_numpy(zero_copy_only=False))
    out = np.unique(np.concatenate(parts).astype(np.int64))
    if len(out) > TOMBSTONE_CAP:
        raise ValueError(
            f"{len(out)} tombstones exceed the kernel-closure cap "
            f"({TOMBSTONE_CAP}) — run "
            "delete.compact_index to fold deletions into a rewrite"
        )
    return out


def compact_index(
    spark: SparkSession, index_dir: str, out_dir: str, **builder_kwargs
) -> dict:
    """Rewrite the index WITHOUT its tombstoned documents: decode the
    committed blocks (one vectorized pass — index_merge.decode_segments),
    anti-join the tombstones, rebuild through the checkpoint-resumable
    builder with EXACT post-deletion corpus stats (df, N, avgdl all
    recomputed). The output carries no tombstone epochs and stays
    append-capable, with freshly pinned bounds_avgdl."""
    from similaripy_spark.fulltext.index_build import read_segments
    from similaripy_spark.fulltext.index_merge import decode_segments

    meta = read_meta(index_dir)
    tomb = read_tombstones(spark, index_dir)
    postings = decode_segments(read_segments(spark, index_dir)).join(
        tomb, "doc_id", "left_anti"
    )
    kwargs = dict(
        k1=meta["k1"],
        b=meta["b"],
        block_size=meta["block_size"],
        shard_size=meta["shard_size"],
        n_groups=meta["n_groups"],
        # carried so a later append_to_index keeps filtering the delta —
        # dropping it silently broke build(A∪B) == build(A);append(B)
        # after any compaction of a language-filtered index
        lang=meta.get("lang"),
    )
    kwargs.update(builder_kwargs)
    return IndexBuilder(out_dir, **kwargs).build_from_postings(postings)
