"""Append-only ingestion: grow a committed index without rewriting it.

The index format makes this EXACT. BM25 has three corpus-global inputs —
idf (from term_stats), N and avgdl — and one doc-local factor, the
tf-part, which depends on avgdl. Blocks store (tf, dl) and the query
kernel derives the tf-part at the CURRENT avgdl (wand._ShardIndex), so
appending documents (which shifts avgdl and idf) leaves no committed
block stale, and an append is just:

1. delta corpus scalars (n_docs, Σdl, max shard, min doc_id) from one
   aggregate, validated before anything commits — new documents must land
   in NEW shards (min doc_id ≥ n_shards × shard_size), so no committed
   shard is ever touched. Nothing is written: dl is stored in the blocks;
2. delta segment groups at ``group_base = n_groups`` — the same
   one-wide-exchange segment job as a fresh build, committed per group
   through the same lineage protocol (a crashed append re-runs and skips
   committed delta groups);
3. term_stats recomputed over committed block metadata (idempotent — safe
   to re-run after any crash; at web scale an incremental merge of the
   delta groups' stats into the old table under a two-phase versioned
   commit would avoid the full metadata scan, at the cost of a
   non-idempotent stats step);
4. meta.json swap: N, sum_dl → avgdl, n_shards, n_groups, epochs. Readers
   pick up the new scalars atomically (publish_json); ``bounds_avgdl``
   stays PINNED at the first build's value — block score bounds are
   ratio-scaled at read time (wand._ShardIndex.term_meta), so MaxScore
   pruning stays exact under any drift.

Equivalence contract (pinned in tests/test_append.py):
``build(A ∪ B)`` and ``build(A); append(B)`` return BIT-IDENTICAL query
results — same shard assignment (doc_id // shard_size), same stored
(tf, dl), and the kernel applies the same merged-corpus scalars.

The term-major ``merged/`` layout is segment-derived and would silently
miss appended documents, so a successful append RENAMES it to
``merged_stale_epoch<E>`` (never deletes); re-run
``index_merge.merge_to_term_major`` to rebuild it. Open ``IndexHandle``s
hold the pre-append meta/segment cache — reopen after an append.

Reference parity note: the reference (bogliosimone/similaripy) has no
incremental path at all — its CSR matrices are rebuilt per call
(similaripy/normalization.py recomputes stats on every invocation); this
module is part of the engine's web-scale extension surface, same category
as the streaming dedup operator.
"""

from __future__ import annotations

import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from similaripy_spark.fulltext.index_build import (
    IndexBuilder,
    _corpus_scalars,
    read_meta,
)
from similaripy_spark.fulltext.postings import build_postings, doc_lengths


def append_to_index(
    spark: SparkSession,
    index_dir: str,
    pages: DataFrame | None = None,
    postings: DataFrame | None = None,
    *,
    n_groups: int = 8,
    n_docs: int | None = None,
    input_layout: str = "shuffle",
) -> dict:
    """Append new documents to a committed index; returns the updated meta
    dict. Pass ``pages`` (doc_id, text[, lang]) or a
    pre-tokenized ``postings`` relation (doc_id, term, tf, dl).

    Every appended doc_id must be ≥ ``n_shards × shard_size`` (the next
    fresh shard boundary) — validated on the delta's own stats pass before
    anything is committed. ``n_groups`` is the number of commit units for
    THIS epoch. ``n_docs`` pins the declared delta size (reference N
    semantics — empty docs count if the caller says so).
    """
    meta = read_meta(index_dir)
    shard_size = int(meta["shard_size"])
    base_shard = int(meta["n_shards"])
    base_group = int(meta["n_groups"])
    base_doc = base_shard * shard_size
    epoch = int(meta.get("n_epochs", 1))  # epoch 0 = the initial build
    run_id = uuid.uuid4().hex[:12]

    if (pages is None) == (postings is None):
        raise ValueError("pass exactly one of pages / postings")
    lang = meta.get("lang")
    postings_input = pages is None
    if pages is not None:
        if lang is not None:
            pages = pages.filter(F.col("lang") == lang)
        postings = build_postings(pages)
    from similaripy_spark.fulltext.commit import detect_commit_protocol

    builder = IndexBuilder(
        index_dir,
        k1=float(meta["k1"]),
        b=float(meta["b"]),
        block_size=int(meta["block_size"]),
        shard_size=shard_size,
        n_groups=int(n_groups),
        input_layout=input_layout,
        # match the base index's backend: rename-committed delta groups
        # beside pointer-committed ones would be invisible to readers
        # (resolve_artifact_multi returns only pointer entries)
        commit=detect_commit_protocol(index_dir),
    )
    builder.group_base = base_group
    # block bounds stay comparable across epochs: encode them at the SAME
    # pinned avgdl the original build used (readers ratio-scale to current)
    builder._bounds_avgdl = float(meta["bounds_avgdl"])
    t0 = time.monotonic()

    if postings_input:
        # the caller's relation feeds BOTH the phase-1 stats job and the
        # phase-2 segment job — persist so its upstream DAG runs once
        # (the builder's own policy for stats-from-postings; the pages
        # path instead re-tokenizes for the count-only stats pass, the
        # measured-cheaper trade)
        postings = postings.persist()
    try:
        # ---- phase 1: delta corpus scalars (validated, nothing written) -
        if pages is not None:
            ds = doc_lengths(pages).filter(F.col("dl") > 0)
        else:
            ds = postings.groupBy("doc_id").agg(F.max("dl").alias("dl"))
        m = _corpus_scalars(ds, shard_size, F.min("doc_id").alias("min_doc"))
        n_seen = int(m["n_seen"] or 0)
        min_doc = m["min_doc"]
        if n_seen == 0:
            raise ValueError("append delta holds no non-empty documents")
        if int(min_doc) < base_doc:
            raise ValueError(
                f"appended doc_ids must start at the next shard boundary "
                f"(≥ {base_doc} = n_shards {base_shard} × shard_size "
                f"{shard_size}); got min doc_id {int(min_doc)} — committed "
                "shards are immutable"
            )
        n_delta = int(n_docs) if n_docs is not None else n_seen
        delta_shards = int(m["max_shard"]) - base_shard + 1

        # ---- phase 2: delta segment groups (same job shape as a build) --
        weighted = builder._weighted(postings)
        done = builder.committed_groups()
        pending = [
            g for g in range(base_group, base_group + int(n_groups))
            if g not in done
        ]
        if pending:
            builder._build_groups_batched(
                weighted, pending, delta_shards, run_id
            )

        # ---- phase 3: term_stats (full recompute — idempotent) -----------
        builder.n_groups = base_group + int(n_groups)  # all-committed gate
        builder._write_term_stats(spark)
    finally:
        if postings_input:
            postings.unpersist()

    # ---- phase 4: meta swap (atomic publish) -----------------------------
    sum_dl = float(meta["sum_dl"]) + float(m["sum_dl"] or 0.0)
    n_total = int(meta["n_docs"]) + n_delta
    new_meta = dict(meta)
    new_meta.update(
        {
            "n_docs": n_total,
            "sum_dl": sum_dl,
            "avgdl": sum_dl / max(n_total, 1),
            "n_shards": max(base_shard, int(m["max_shard"]) + 1),
            "n_groups": base_group + int(n_groups),
            "n_epochs": epoch + 1,
            "last_append": {
                "epoch": epoch,
                "run_id": run_id,
                "n_docs_delta": n_delta,
                "groups": [base_group, base_group + int(n_groups)],
                "wall_ms": int((time.monotonic() - t0) * 1000),
            },
        }
    )
    # ---- invalidate the (segment-derived) merged layout BEFORE the meta
    # swap: with the old order a crash between the two left a COMPLETED
    # append (meta published, no re-run) whose term-major layout silently
    # missed every appended doc forever. Renaming first is safe — a crash
    # after the rename merely invalidates merged/ early, and the re-run
    # finishes the meta swap.
    merged = os.path.join(index_dir, "merged")
    if os.path.isdir(merged):
        os.rename(merged, os.path.join(
            index_dir, f"merged_stale_epoch_{epoch}"
        ))
    builder.commit.publish_json(
        os.path.join(index_dir, "meta.json"), new_meta
    )
    return new_meta
