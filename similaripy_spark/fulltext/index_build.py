"""SPIMI-style index build: doc-sharded, checkpoint-resumable, skew-aware.

Layout decisions (the 100 TB argument):

* **Doc-range shards** (``shard = doc_id // shard_size``). Every term's
  posting list is physically split by shard, so a stopword appearing in 10%
  of 10^12 docs never forms a single giant group — the skew the reference
  fights with popularity column reordering (s_plus_utils.pyx:493-618) and
  that a term-partitioned build would hit as one hot reducer is dissolved by
  construction. The build shuffle is ``repartitionByRange(doc)`` — uniform by
  definition and nearly a no-op when the input is already doc-ordered.
* **Per-shard SPIMI**: within a shard partition, one dictionary-code
  ``np.lexsort`` groups (term, doc_id) inside the Arrow encoder kernel —
  no JVM row sort in the plan — then a single vectorized pass builds
  docID-sorted, delta+varint posting blocks (128 entries) with per-block
  ``(max_doc, max_score)`` — the Block-Max metadata (Ding & Suel 2011).
* **Checkpoint/resume**: shards map to ``n_groups`` commit units. ALL pending
  units are produced by ONE Spark job (``partitionBy(group)`` into a staging
  dir), then each unit is published independently (rename + lineage
  manifest, write-then-commit). Commit granularity stays per-group — a crash
  between publishes resumes from the committed set — but the compute is a
  single job: round 2 ran one job per group and the serial per-job fixed
  costs (scheduling, stage barriers, Python-worker spinup) dominated the
  build at every cluster size and sank the N→4N scaling pair (BENCH_r02
  fresh build efficiency 0.499; VERDICT r3 item 1). A re-run anti-joins
  pending groups against committed manifests and recomputes only the rest —
  FIXTURES.md §6 semantics.
* **Stats in one pass**: the corpus scalars (n_docs, Σdl, max shard) are
  one aggregate over the per-doc lengths; dl itself is stored only in the
  blocks' ``weights`` column. Term stats are derived AFTER the segment
  commit from block metadata (Σn, max/min of block max/min_score — a scan
  of blocks, ~1/128th of the postings), so the weighted postings relation
  is materialized exactly once, inside the segment job itself.
* Weights are float32 (reference compute dtype, s_plus.pyx:237-238); docIDs
  int64 end-to-end.

The term-major "merged global index" (partition-pruned by term bucket) is a
cheap second shuffle of the compressed blocks — index_merge.py.
"""

from __future__ import annotations

import functools
import json
import math
import os
import time
import uuid
import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from similaripy_spark.fulltext import codec
from similaripy_spark.fulltext.commit import (
    CommitProtocol,
    LocalFSCommitProtocol,
    resolve_artifact,
    resolve_artifact_multi,
)
from similaripy_spark.fulltext.postings import build_postings, doc_lengths
from similaripy_spark.fulltext.weights import tf_part_np

BLOCK_SIZE = 128

#: keep the shard count bounded as the corpus grows: the batch query path
#: (wand.segment_topk) replicates every query batch to every shard, so query
#: fan-out is proportional to n_shards — hold shards at ~target_shards by
#: growing the shard instead (the shard_size↑ knob for 100x corpora).
DEFAULT_TARGET_SHARDS = 256

#: at most this many blocks in the whole block table, a build aggregates
#: term_stats in the driver (pyarrow) instead of a Spark job
TERM_STATS_DRIVER_MAX_BLOCKS = 4_000_000


def derive_shard_size(
    n_docs: int,
    target_shards: int = DEFAULT_TARGET_SHARDS,
    min_shard_size: int = 1 << 14,
) -> int:
    """Power-of-two shard size that keeps n_docs/shard_size <= target_shards
    (never below min_shard_size — tiny shards waste per-group decode)."""
    need = max(int(math.ceil(n_docs / max(target_shards, 1))), 1)
    return max(min_shard_size, 1 << max(need - 1, 0).bit_length())

SEGMENT_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("block_id", T.IntegerType(), False),
        T.StructField("n", T.IntegerType(), False),
        T.StructField("first_doc", T.LongType(), False),
        T.StructField("max_doc", T.LongType(), False),
        T.StructField("max_score", T.FloatType(), False),
        T.StructField("min_score", T.FloatType(), False),
        T.StructField("doc_deltas", T.BinaryType(), False),
        T.StructField("tfs", T.BinaryType(), False),
        T.StructField("weights", T.BinaryType(), False),
    ]
)


def _encode_partition_arrow_unsorted(batches, block_size: int, bounds_fn):
    """The block encoder. Arrow over UNSORTED partitions: buffer the
    partition, dictionary-encode terms, one ``np.lexsort`` by (shard,
    term-code, doc_id), then encode each (shard, term) group into blocks.

    Why: a JVM ``sortWithinPartitions`` before a streaming encoder was
    the segment job's dominant reduce-side CPU (measured 300k docs,
    local[8]: 106 s executor CPU in the sort+encode stage, ~2/3 of it the
    row sort + row-format traffic). An int lexsort over dictionary codes
    does the same grouping at numpy speed. Group CONTIGUITY is all the
    block encoder needs — inter-group emission order is irrelevant to the
    committed index (readers group by (shard, term); parity tests compare
    after orderBy).

    Memory safety at scale, by input layout (ADVICE r4: keep this in sync
    with ``_segment_plan``): on the SHUFFLE path the plan hash-partitions
    on (shard, term-salt) into ``max(n_shards, cores)`` partitions, so a
    partition buffers at most a few shards' payloads, each bounded by
    ``shard_size`` — a deployment knob, not data-dependent; the cores
    floor only ever adds partitions (smaller ones), and corpus growth adds
    partitions, not partition size. On
    the ALIGNED path there is no exchange, so the buffered size is the
    INPUT partition — bounded only by the caller's corpus layout (one
    parquet split of complete shards). An aligned corpus with unusually
    fat input splits should be re-split at the source, or built with the
    default ``input_layout='shuffle'``."""
    import pyarrow as pa
    import pyarrow.compute as pc

    got = [b for b in batches if b.num_rows]
    if not got:
        return
    t = pa.Table.from_batches(got)
    shard = t.column("shard").to_numpy(zero_copy_only=False).astype(np.int32)
    doc = t.column("doc_id").to_numpy(zero_copy_only=False)
    tf = t.column("tf").to_numpy(zero_copy_only=False).astype(np.int64)
    w32 = t.column("weight").to_numpy(zero_copy_only=False).astype(np.float32)
    term = t.column("term").combine_chunks()
    codes = pc.dictionary_encode(term).indices.to_numpy(zero_copy_only=False)
    order = np.lexsort((doc, codes, shard))
    shard, doc, tf, w32 = shard[order], doc[order], tf[order], w32[order]
    codes = codes[order]
    term = term.take(pa.array(order))
    n = len(doc)
    # emit in ~1M-row slices cut at group boundaries (bounds the size of
    # each Arrow batch shipped back to the JVM without splitting a
    # (shard, term) group across encoder calls)
    change = np.empty(n, dtype=bool)
    change[0] = True
    change[1:] = (codes[1:] != codes[:-1]) | (shard[1:] != shard[:-1])
    gstart = np.flatnonzero(change)
    target = 1_000_000
    cuts = [0]
    while cuts[-1] + target < n:
        nxt = int(gstart[np.searchsorted(gstart, cuts[-1] + target)]) \
            if np.searchsorted(gstart, cuts[-1] + target) < len(gstart) \
            else n
        if nxt <= cuts[-1]:
            break
        cuts.append(nxt)
    cuts.append(n)
    enc = _encode_sorted_cols_factory(block_size, bounds_fn)
    for s, e in zip(cuts[:-1], cuts[1:]):
        if e > s:
            yield enc(shard[s:e], term.slice(s, e - s), codes[s:e],
                      doc[s:e], tf[s:e], w32[s:e])


def _encode_sorted_cols_factory(block_size: int, bounds_fn):
    """The (shard,term)-grouped column → block-rows encoder of
    ``_encode_partition_arrow_unsorted``.

    ``bounds_fn(tfs, w32) -> float32 scores``: per-block
    max_score/min_score bounds are computed over ITS output, not over the
    stored w32 payload — blocks store dl in the weights column, and the
    bounds are over the derived tf-part (weights.tf_part_np at the index's
    pinned bounds_avgdl)."""
    import pyarrow as pa

    def encode_cols(shards, terms, codes, docs, tfs, w32):
        starts, ends, block_id, dd, tt = codec.block_layout(
            shards, codes, docs, tfs, block_size
        )
        bscore = bounds_fn(tfs, w32)
        max_score = np.maximum.reduceat(bscore, starts)
        min_score = np.minimum.reduceat(bscore, starts)
        wbuf = w32.tobytes()
        ww = [wbuf[4 * s:4 * e] for s, e in zip(starts, ends)]
        return pa.RecordBatch.from_arrays(
            [
                pa.array(shards[starts], type=pa.int32()),
                terms.take(pa.array(starts)).cast(pa.string()),
                pa.array(block_id, type=pa.int32()),
                pa.array((ends - starts).astype(np.int32), type=pa.int32()),
                pa.array(docs[starts], type=pa.int64()),
                pa.array(docs[ends - 1], type=pa.int64()),
                pa.array(max_score, type=pa.float32()),
                pa.array(min_score, type=pa.float32()),
                pa.array(dd, type=pa.binary()),
                pa.array(tt, type=pa.binary()),
                pa.array(ww, type=pa.binary()),
            ],
            names=[f.name for f in SEGMENT_SCHEMA.fields],
        )

    return encode_cols


class IndexBuilder:
    """Builds (and resumes) a doc-sharded BM25 index on disk.

    index_dir/
      meta.json                 global stats + build params
      segments/group=G/         parquet, one commit unit per shard-group
      term_stats/               parquet (term, df, max_weight)
      lineage/group_G.json      commit manifests (stage metrics inside)

    Blocks store (tf, dl): dl rides in the weights column and tf in every
    block. The query kernels derive the doc-local tf-part from them at the
    CURRENT corpus avgdl and apply idf from term_stats — the reference's
    stats-pass/weight-pass separation (normalization.pyx:309-334) — so the
    segment job needs no term-stats aggregate or join, and an append
    shifts avgdl/idf with zero rewrite of committed blocks (append.py).
    Block score bounds are encoded at the pinned meta ``bounds_avgdl`` and
    ratio-scaled at read time, so MaxScore pruning stays exact under any
    corpus drift.
    """

    def __init__(
        self,
        index_dir: str,
        *,
        k1: float = 1.2,
        b: float = 0.75,
        block_size: int = BLOCK_SIZE,
        shard_size: int | str = 1 << 14,
        n_groups: int = 8,
        lang: str | None = None,
        commit: CommitProtocol | None = None,
        input_layout: str = "shuffle",
    ):
        if input_layout not in ("shuffle", "aligned"):
            raise ValueError(
                f"input_layout must be 'shuffle' or 'aligned', got "
                f"{input_layout!r}"
            )
        #: all artifact publishes go through the commit protocol — the
        #: local-FS rename backend here, an object-store pointer-swap
        #: backend in a cloud deployment (commit.py)
        self.commit = commit or LocalFSCommitProtocol()
        self.index_dir = index_dir
        self.k1, self.b = k1, b
        self.block_size = block_size
        self.shard_size = shard_size
        self.n_groups = n_groups
        self.lang = lang
        #: 'shuffle' (default): one global exchange physically forms the
        #: posting lists — correct for ANY input partitioning. 'aligned':
        #: the input already co-locates complete shards per partition (a
        #: crawl table stored with Iceberg bucket/range partitioning on the
        #: doc id, or generate_pages(align_to=shard_size)) — the build then
        #: runs WITHOUT any wide exchange of the postings stream: map-side
        #: postings → weighting → in-kernel lexsort + encode. A violated
        #: layout contract is caught at commit time by the duplicate-block
        #: check, failing the build instead of silently corrupting posting
        #: lists.
        self.input_layout = input_layout
        #: first group id this builder commits (append epochs build their
        #: delta groups at base = existing n_groups_total; plain builds: 0)
        self.group_base = 0
        #: avgdl the block score bounds are encoded at — pinned at first
        #: build, reused verbatim by every append epoch
        self._bounds_avgdl: float | None = None
        #: per-phase build wall (ms), reset per build_from_postings run
        self._phase_ms: dict[str, int] = {}
        #: encoder partition count of the last segment plan (None: aligned
        #: layout or no group built) — published beside the phases
        self._segment_parts: int | None = None

    # --- lineage helpers --------------------------------------------------
    def _lineage_path(self, group: int) -> str:
        return os.path.join(self.index_dir, "lineage", f"group_{group}.json")

    def _record_phase(self, name: str, t0: float) -> float:
        """Accumulate per-phase build wall into ``self._phase_ms`` (published
        as ``lineage/build_metrics.json`` — the north-star metrics table;
        also the tool that located the build's serial costs).  Returns a new
        t0 so call sites can chain phases."""
        t1 = time.monotonic()
        self._phase_ms[name] = self._phase_ms.get(name, 0) + int(
            (t1 - t0) * 1000
        )
        return t1

    def committed_groups(self) -> set[int]:
        d = os.path.join(self.index_dir, "lineage")
        return {
            rec["group"]
            for rec in self.commit.list_committed_json(d, "group_")
            if rec.get("status") == "done" and "group" in rec
        }

    def lineage(self) -> list[dict]:
        return [
            self.commit.read_json(self._lineage_path(g))
            for g in sorted(self.committed_groups())
        ]

    # --- build ------------------------------------------------------------
    def build(
        self,
        pages: DataFrame,
        *,
        resume: bool = True,
        n_docs: int | None = None,
    ) -> dict:
        """Build the index from a pages table; returns meta dict."""
        return self.build_from_postings(
            build_postings(pages, lang=self.lang),
            resume=resume,
            n_docs=n_docs,
            pages=pages,
        )

    def build_from_postings(
        self,
        postings: DataFrame,
        *,
        resume: bool = True,
        n_docs: int | None = None,
        pages: DataFrame | None = None,
    ) -> dict:
        """Build from a postings relation (doc_id, term, tf, dl) — also the
        re-weighting entry for incremental merges (index_merge.py).

        Phases of a fresh build:

        1. corpus scalars (the ``doc_stats`` phase of
           ``lineage/build_metrics.json``): one job with no exchange
           (``_corpus_scalars``) yields n_docs, Σdl and the max shard,
           which meta.json and the encoder's ``bounds_avgdl`` need
           before the segment job runs.
           With ``pages`` available (the ``build()`` entry) it is a
           count-only token pass over the raw text (doc_lengths — no
           split, no posting explosion); without pages, a
           ``groupBy(doc_id)`` over the postings (map-side combinable).
           It writes no table: dl is stored in the blocks;
        2. segments: the one big job — the (tf, dl) projection,
           repartition(shard, term-salt) → Arrow encode →
           ``partitionBy(group)`` staged write; every pending group then
           publishes independently (rename + lineage manifest);
        3. term_stats: Σn / max / min over committed block metadata —
           driver-side with pyarrow below the block-count gate (no Spark
           job), a Spark aggregate above it.

        With ``pages``, the postings relation has exactly ONE consumer (the
        segment job), so it is never persisted:
        tokenize runs once, streamed straight into the shard exchange —
        no 10^?-row cache encode/decode, which on a bandwidth-bound box is
        the difference between the stats phase scaling and not (measured
        300k docs: phase eff 0.31 persisted vs the count-only pass).
        """
        spark = postings.sparkSession
        self.commit.ensure_dir(os.path.join(self.index_dir, "lineage"))
        self.commit.ensure_dir(os.path.join(self.index_dir, "segments"))
        meta_path = os.path.join(self.index_dir, "meta.json")
        run_id = uuid.uuid4().hex[:12]
        self._phase_ms: dict[str, int] = {}
        self._segment_parts = None
        t_build0 = time.monotonic()

        resumed_meta = None
        if resume and self.commit.exists(meta_path):
            resumed_meta = check_weight_scheme(
                self.commit.read_json(meta_path), self.index_dir
            )
            self.shard_size = int(resumed_meta["shard_size"])
            # a resumed build must keep EVERY committed-groups parameter —
            # a changed n_groups would remap shard→group so the pending
            # groups cover the wrong shard residues (some shards never
            # built, the committed-groups==n_groups gate still passing);
            # changed k1/b would mix inconsistently-bounded blocks
            self.n_groups = int(resumed_meta["n_groups"])
            self.k1 = float(resumed_meta["k1"])
            self.b = float(resumed_meta["b"])
            self.block_size = int(resumed_meta["block_size"])

        # persist only when the plan reads the postings more than once:
        # stats-from-postings (no pages) — with pages the segment job is
        # the one consumer
        reuse = pages is None
        if reuse:
            postings = postings.persist()
        try:
            t_ph = time.monotonic()
            if resumed_meta is not None:
                meta = resumed_meta
            elif pages is not None:
                meta = self._build_stats_pages(pages, n_docs, run_id)
            else:
                meta = self._build_stats(postings, n_docs, run_id)
            t_ph = self._record_phase("doc_stats", t_ph)
            n_shards = int(meta["n_shards"])

            if self._bounds_avgdl is None:
                self._bounds_avgdl = float(meta["bounds_avgdl"])

            done = self.committed_groups() if resume else set()
            base = self.group_base
            pending = [
                g for g in range(base, base + self.n_groups) if g not in done
            ]
            if pending:
                self._build_groups_batched(
                    self._weighted(postings), pending, n_shards, run_id
                )
            # term stats from block metadata once every group is committed
            # (idempotent: recomputed whenever this run added groups)
            t_ph = time.monotonic()
            ts_path = os.path.join(self.index_dir, "term_stats")
            if len(self.committed_groups()) == self.n_groups and (
                pending or not self.commit.exists(ts_path)
            ):
                self._write_term_stats(spark)
            self._record_phase("term_stats", t_ph)
            self._phase_ms["total"] = int(
                (time.monotonic() - t_build0) * 1000
            )
            self.commit.publish_json(
                os.path.join(self.index_dir, "lineage", "build_metrics.json"),
                # segment_parts stays top-level: every phase_ms key is
                # read as a wall-time phase
                {"run_id": run_id, "phase_ms": dict(self._phase_ms),
                 "segment_parts": self._segment_parts},
            )
            return meta
        finally:
            if reuse:
                postings.unpersist()

    def _build_stats(self, postings: DataFrame, n_docs: int | None,
                     run_id: str) -> dict:
        """Phase 1 (postings entry): corpus scalars from the per-doc
        lengths + meta.json. The reference's N is the declared matrix
        shape incl. empty docs (normalization.pyx:315, 323) — pass
        ``n_docs`` to pin it; else the distinct doc count in the postings
        is used."""
        if self.shard_size == "auto":
            # one cheap max() action; doc ids are dense-ish by contract
            hi = postings.agg(F.max("doc_id").alias("m")).first()["m"] or 0
            self.shard_size = derive_shard_size(int(hi) + 1)
        ds = postings.groupBy("doc_id").agg(F.max("dl").alias("dl"))
        return self._write_stats(ds, n_docs, run_id)

    def _build_stats_pages(self, pages: DataFrame, n_docs: int | None,
                           run_id: str) -> dict:
        """Phase 1 (pages entry): corpus scalars straight from the raw text
        with the count-only token kernel (postings.doc_lengths) — no
        posting explosion, no postings persist, no groupBy shuffle. The
        ``dl > 0`` filter keeps the scalars identical to the
        postings-derived variant (a doc with no tokens emits no
        postings)."""
        if self.lang is not None:
            pages = pages.filter(F.col("lang") == self.lang)
        if self.shard_size == "auto":
            hi = pages.agg(F.max("doc_id").alias("m")).first()["m"] or 0
            self.shard_size = derive_shard_size(int(hi) + 1)
        ds = doc_lengths(pages).filter(F.col("dl") > 0)
        return self._write_stats(ds, n_docs, run_id)

    def _write_stats(self, ds: DataFrame, n_docs: int | None,
                     run_id: str) -> dict:
        m = _corpus_scalars(ds, self.shard_size)
        N = int(n_docs) if n_docs is not None else int(m["n_seen"] or 0)
        avgdl = float(m["sum_dl"] or 0.0) / max(N, 1)
        meta = {
            "version": 1,
            "run_id": run_id,
            "n_docs": N,
            "avgdl": avgdl,
            # corpus total dl: append epochs merge avgdl exactly as
            # (sum_dl + sum_dl_delta) / (N + N_delta) instead of the lossy
            # avgdl*N reconstruction
            "sum_dl": float(m["sum_dl"] or 0.0),
            # the avgdl block score bounds are encoded at (pinned forever;
            # readers ratio-scale bounds to the current avgdl)
            "bounds_avgdl": avgdl,
            "n_shards": int(m["max_shard"] or 0) + 1,
            "shard_size": self.shard_size,
            "block_size": self.block_size,
            "k1": self.k1,
            "b": self.b,
            "n_groups": self.n_groups,
            "lang": self.lang,
            "input_layout": self.input_layout,
            "weight_scheme": "raw",
        }
        self.commit.publish_json(
            os.path.join(self.index_dir, "meta.json"), meta
        )
        return meta

    def _weighted(self, postings: DataFrame) -> DataFrame:
        """The segment job's input: dl IS the stored weight, so there is no
        weighting expression at all (the tf-part is derived in the query
        kernel) — a map-side projection, so the job's only wide exchange
        is the doc→shard repartition (none on the aligned layout)."""
        return postings.select(
            "doc_id", "term", "tf", "dl",
            F.col("dl").cast("double").alias("weight"),
        ).withColumn("shard", (F.col("doc_id") / self.shard_size).cast("int"))

    def _segment_plan(self, weighted: DataFrame, n_shards_in: int):
        """repartition(shard, term-salt) → Arrow block encode (the encoder
        lexsorts its partition in-kernel: no JVM row sort in the plan).

        Partition count: ``max(n_shards, cores)`` — one task
        per shard (the positional sidecar's rule, positional.py), never
        fewer tasks than cores. The term salt splits each shard into 4
        sub-keys, so even n_parts == n_shards hash partitioning balances
        well (4S balls into S bins; worst bin ~3 shards).

        Every extra task costs more than its dispatch: each Python task
        pays a worker fixed cost before it runs any engine code, plus its
        own parquet file opens under ``partitionBy(group)``. That cost was
        ~0.2 CPU-s while workers imported pyspark from pyspark.zip (the
        per-task ``importlib.invalidate_caches()`` re-read the zip's
        directory once per cached zipimporter); with the
        ``similaripy_spark.pyworker`` daemon of local sessions it is
        ~0.02 CPU-s (4 cores, Python 3.11: a 16-task ``mapInArrow``
        identity job cost 0.29-0.36 Python CPU-s, against 3.0-3.8 s
        before). The old
        floor of 4× cores (and 8) bought load balance that small builds
        did not need: an 8-shard build and a 2-shard append epoch each ran
        16 encoder tasks on 4 cores, most of them near-empty, and the
        fixed cost dominated the build's Python CPU. When n_shards ≥
        4×cores the count is unchanged (one task per shard — the natural
        unit, since the encoder buffers per-partition memory bounded by
        shards-per-partition × shard_size), and so is every large-index
        measurement: at 300k docs/64 shards, 256 partitions → 64 cut the
        8-core segment job ~11% and the 2-core one ~18%."""
        bs = self.block_size

        # the exchange/sort payload is exactly what the encoder consumes:
        # dl is dead after weighting (drop 8 B/row) and weight is stored
        # float32 anyway (cast BEFORE the shuffle: 4 more B/row — ~30%
        # less shuffle+sort traffic on the build's one wide exchange;
        # float64→float32 here is bit-identical to the encoder's own cast)
        weighted = weighted.select(
            "shard", "term", "doc_id", "tf",
            F.col("weight").cast("float").alias("weight"),
        )

        # blocks store dl in the weights column; the block score bounds
        # are computed over the derived tf-part at the index's pinned
        # bounds_avgdl (meta.json) — valid for any later corpus avgdl via
        # the query-side ratio scaling (wand._ShardIndex)
        bfn = functools.partial(
            tf_part_np, k1=self.k1, b=self.b,
            avgdl=float(self._bounds_avgdl),
        )

        def encode(df):
            return df.mapInArrow(
                lambda it, bs=bs, bf=bfn: _encode_partition_arrow_unsorted(
                    it, bs, bf
                ),
                schema=SEGMENT_SCHEMA,
            )

        if self.input_layout == "aligned":
            # input partitions already hold complete shards (narrow lineage
            # preserved through build_postings): no exchange at all — the
            # encoder forms the posting lists in place, so the count is the
            # caller's input layout and none is planned here
            self._segment_parts = None
            return encode(weighted)
        n_parts = max(
            n_shards_in, weighted.sparkSession.sparkContext.defaultParallelism
        )
        self._segment_parts = n_parts
        return encode(
            weighted.repartition(
                n_parts, F.col("shard"), F.crc32(F.col("term")) % 4
            )
        )

    def _group_footer_stats(self, gdir: str) -> tuple[int, int, int]:
        """(blocks, postings, bytes) from parquet footers + one tiny column
        read, driver-side — a Spark job here costs ~1 s of scheduling per
        group, pure serial overhead at every cluster size."""
        import pyarrow.dataset as pads

        if not os.path.isdir(gdir):
            return 0, 0, 0
        ds = pads.dataset(gdir, format="parquet")
        blocks = ds.count_rows()
        postings = 0
        for batch in ds.to_batches(columns=["n"]):
            if batch.num_rows:
                postings += int(np.asarray(batch.column("n")).sum())
        disk_bytes = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _, fs in os.walk(gdir)
            for f in fs
        )
        return int(blocks), int(postings), int(disk_bytes)

    def _check_aligned_contract(self, gdir: str) -> None:
        """Aligned-mode guard: if an input partition straddled a shard (or a
        join re-hashed the stream), two partitions each start block_id 0 for
        the same (shard, term) — duplicate block keys. Fail the commit with
        the violation instead of publishing corrupt posting lists."""
        import pyarrow.dataset as pads

        if not os.path.isdir(gdir):
            return
        ds = pads.dataset(gdir, format="parquet")
        pdf = ds.to_table(columns=["shard", "term", "block_id"]).to_pandas()
        dups = pdf[pdf.duplicated(keep=False)]
        if len(dups):
            sample = dups.head(5).to_dict("records")
            raise ValueError(
                "input_layout='aligned' contract violated: input partitions "
                "do not hold complete shards (duplicate posting blocks "
                f"{sample}). Re-partition the source on the doc range "
                "(multiples of shard_size) or build with "
                "input_layout='shuffle'."
            )

    def _publish_lineage(self, g: int, run_id: str, blocks: int,
                         postings: int, disk_bytes: int, wall_ms: int) -> None:
        self.commit.publish_json(
            self._lineage_path(g),
            {
                "stage": "segment_build",
                "group": g,
                "status": "done",
                "run_id": run_id,
                "blocks": blocks,
                "postings": postings,
                "bytes": disk_bytes,
                "wall_ms": wall_ms,
            },
        )

    def _build_groups_batched(
        self, weighted: DataFrame, pending: list[int], n_shards: int,
        run_id: str,
    ) -> None:
        """ONE Spark job for every pending commit unit: stage with
        ``partitionBy(group)``, then publish each group independently.
        Lineage wall_ms is the batch wall amortized over the groups it
        produced (they shared one job)."""
        t0 = time.monotonic()
        base = self.group_base
        group_expr = (F.col("shard") % self.n_groups + F.lit(base)).cast(
            "int"
        )
        part = (
            weighted
            if len(pending) == self.n_groups
            else weighted.filter(group_expr.isin(pending))
        )
        shards_pending = max(
            1,
            -(-n_shards * len(pending) // self.n_groups),
        )
        seg = self._segment_plan(part, shards_pending).withColumn(
            "group", group_expr
        )
        stage_parent = self.commit.stage_path(
            os.path.join(self.index_dir, "segments_batch")
        )
        seg.write.mode("overwrite").partitionBy("group").parquet(stage_parent)
        t_ph = self._record_phase("segment_job", t0)
        wall_ms = int(
            (time.monotonic() - t0) * 1000 / max(len(pending), 1)
        )

        # per-group stats + aligned checks are driver-side pyarrow/file-I/O
        # (GIL-released) — run them concurrently across groups; at 64 groups
        # the serial version is seconds of pure fixed cost that no cluster
        # size can amortize. Commits/lineage publishes stay serial (cheap
        # renames; deterministic publish order).
        def inspect(g: int) -> tuple[int, tuple[int, int, int]]:
            gsrc = os.path.join(stage_parent, f"group={g}")
            if self.input_layout == "aligned":
                self._check_aligned_contract(gsrc)
            return g, self._group_footer_stats(gsrc)

        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(16, len(pending))) as pool:
            stats = dict(pool.map(inspect, pending))
        t_ph = self._record_phase("footer_stats", t_ph)
        for g in pending:
            gsrc = os.path.join(stage_parent, f"group={g}")
            gdir = os.path.join(self.index_dir, "segments", f"group={g}")
            blocks, n_postings, disk_bytes = stats[g]
            if not os.path.isdir(gsrc):
                # group with no shards (n_shards < n_groups): publish an
                # empty-but-committed unit so resume sees it as done
                self.commit.ensure_dir(gsrc)
            self.commit.commit_dir(gsrc, gdir)
            self._publish_lineage(
                g, run_id, blocks, n_postings, disk_bytes, wall_ms
            )
        self.commit.discard(stage_parent)
        self._record_phase("commit", t_ph)

    def _write_term_stats(self, spark: SparkSession) -> None:
        """Job 3: (term, df, max_weight, min_weight) from block metadata —
        df = Σn over a term's blocks (every posting appears in exactly one
        block), max/min from the Block-Max per-block scores. Scans blocks
        (~postings/block_size rows), never the postings.

        Small indexes skip the job entirely: per-group block counts are
        already in the lineage manifests, so when the whole block table is
        ≤ TERM_STATS_DRIVER_MAX_BLOCKS rows (4M ≈ a few
        hundred MB of postings) the four metadata columns are aggregated
        driver-side with pyarrow — a whole Spark job (~1.3-1.7 s of pure
        fixed cost per build at local[8]) gone. Anything bigger takes the
        distributed aggregate below; a 10^12-doc block table never comes
        near the driver."""
        ts_path = os.path.join(self.index_dir, "term_stats")
        try:
            total_blocks = sum(
                int(r.get("blocks", 0))
                for r in self.lineage()
                if r.get("stage") == "segment_build"
            )
        except (OSError, KeyError, ValueError):
            total_blocks = None
        if (
            total_blocks is not None
            and total_blocks <= TERM_STATS_DRIVER_MAX_BLOCKS
            and self._write_term_stats_driver(ts_path)
        ):
            return
        seg = read_segments(spark, self.index_dir)
        ts = (
            seg.groupBy("term")
            .agg(
                F.sum("n").cast("long").alias("df"),
                F.max("max_score").alias("max_weight"),
                F.min("min_score").alias("min_weight"),
            )
            .coalesce(4)
        )
        ts_tmp = self.commit.stage_path(ts_path)
        ts.write.mode("overwrite").parquet(ts_tmp)
        self.commit.commit_dir(ts_tmp, ts_path)

    def _write_term_stats_driver(self, ts_path: str) -> bool:
        """Small-index fast path: aggregate (term, n, max_score, min_score)
        over the committed group prefixes with pyarrow on the driver and
        publish through the same stage→commit protocol. Returns False when
        the layout can't be resolved locally (caller falls back to the
        Spark job). Output is dtype-identical to the job's parquet
        (TERM_STATS_SCHEMA) — pinned by a parity test."""
        import glob as _glob

        import pyarrow as pa
        import pyarrow.dataset as pads
        import pyarrow.parquet as pq

        seg_dir = os.path.join(self.index_dir, "segments")
        locs = resolve_artifact_multi(seg_dir, "group=")
        if locs is not None:
            paths = [loc for _, loc in locs]
        elif os.path.isdir(seg_dir):
            paths = [
                os.path.join(seg_dir, f)
                for f in os.listdir(seg_dir)
                if f.startswith("group=")
            ]
        else:
            return False
        # a committed group with no shards holds no files — skip it
        paths = [
            p for p in paths
            if os.path.isdir(p) and _glob.glob(os.path.join(p, "*.parquet"))
        ]
        if not paths:
            return False
        cols = ["term", "n", "max_score", "min_score"]
        t = pa.concat_tables(
            pads.dataset(p, format="parquet").to_table(columns=cols)
            for p in paths
        )
        agg = pa.TableGroupBy(t, "term").aggregate(
            [("n", "sum"), ("max_score", "max"), ("min_score", "min")]
        )
        # select the aggregate output BY NAME: the position of the group key
        # in TableGroupBy output is pyarrow-version-dependent (older
        # releases emitted keys last), so a positional rename_columns would
        # silently misassign columns across an upgrade (ADVICE r4)
        out = pa.table(
            {
                "term": agg["term"],
                "df": agg["n_sum"],
                "max_weight": agg["max_score_max"],
                "min_weight": agg["min_score_min"],
            }
        ).cast(
            pa.schema(
                [
                    ("term", pa.string()),
                    ("df", pa.int64()),
                    ("max_weight", pa.float32()),
                    ("min_weight", pa.float32()),
                ]
            )
        )
        ts_tmp = self.commit.stage_path(ts_path)
        os.makedirs(ts_tmp, exist_ok=True)
        pq.write_table(out, os.path.join(ts_tmp, "part-00000.parquet"))
        self.commit.commit_dir(ts_tmp, ts_path)
        return True


def _corpus_scalars(ds: DataFrame, shard_size: int, *extra) -> dict:
    """``n_seen``, ``sum_dl`` and ``max_shard`` (plus the ``extra``
    aggregates) of a per-doc ``(doc_id, dl)`` relation, in ONE Spark job
    with no exchange: the aggregates are observed on a ``noop`` write.
    ``ds.agg(...)`` would add a single-partition exchange, which adaptive
    execution runs as a second job."""
    from pyspark.sql import Observation

    obs = Observation("corpus")
    ds.observe(
        obs,
        F.count(F.lit(1)).alias("n_seen"),
        F.sum(F.col("dl").cast("double")).alias("sum_dl"),
        F.max((F.col("doc_id") / shard_size).cast("int")).alias("max_shard"),
        *extra,
    ).write.format("noop").mode("overwrite").save()
    return obs.get


def read_segments(spark: SparkSession, index_dir: str) -> DataFrame:
    """Backend-transparent: a rename-committed index is one directory tree;
    a pointer-committed one (ObjectStoreCommitProtocol) is read by resolving
    each group's pointer to its immutable versioned prefix. The resolved
    leaves live under ``_versions/`` where partition discovery can't see the
    ``group=G`` component, so the group column rename-mode discovery would
    add is reconstructed from the pointer stems — both backends yield the
    same segment schema."""
    seg_dir = os.path.join(index_dir, "segments")
    named = resolve_artifact_multi(seg_dir, "group=")
    if named is not None:
        # explicit schema: avoids a per-location inference job AND handles
        # a group whose shard range is empty (its committed location holds
        # no parquet files — fewer shards than groups, e.g. tiny corpora)
        parts = [
            spark.read.schema(SEGMENT_SCHEMA).parquet(loc)
            .withColumn(
                "group",
                F.lit(int(name.split("=", 1)[1])).cast("int"),
            )
            for name, loc in named
            if os.path.isdir(loc)
        ]
        if not parts:
            return (
                spark.createDataFrame([], SEGMENT_SCHEMA)
                .withColumn("group", F.lit(None).cast("int"))
            )
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df
    # explicit schema here too: inferring it runs a one-task Spark job on
    # every call (each open_index and one-shot segment_topk)
    return spark.read.schema(
        T.StructType(
            SEGMENT_SCHEMA.fields + [T.StructField("group", T.IntegerType())]
        )
    ).parquet(seg_dir)


def check_weight_scheme(meta: dict, index_dir: str) -> dict:
    """The index format check, run on every meta.json an opener reads
    (``read_meta``, and a resumed build's read through the commit
    protocol). Returns ``meta``.

    Only ``weight_scheme == "raw"`` is served: blocks store (tf, dl) and
    the kernels derive the BM25 weight at read time. The removed
    'factored' (stored tf-parts) and 'prod' (stored idf×tf products)
    formats, and round-3 metas with no weight_scheme field (those were
    'prod'), raise ValueError — decoding their payloads as (tf, dl)
    would return wrong scores without any error."""
    scheme = meta.get("weight_scheme")
    if scheme != "raw":
        name = (
            repr(scheme) if scheme is not None
            else "'prod' (meta.json has no weight_scheme field)"
        )
        raise ValueError(
            f"index {index_dir} uses the legacy weight_scheme {name}; only "
            "'raw' indexes can be served — rebuild it with IndexBuilder"
        )
    return meta


def epoch_pin(meta: dict) -> tuple[int, int]:
    """``(n_epochs, n_docs)`` of an index meta or of a sidecar's
    ``_meta.json``: a sidecar is fresh when its pin equals the index's
    (append_to_index grows both). A meta with no n_docs never matches."""
    return int(meta.get("n_epochs", 1)), int(meta.get("n_docs", -1))


def read_meta(index_dir: str) -> dict:
    with open(os.path.join(index_dir, "meta.json")) as f:
        return check_weight_scheme(json.load(f), index_dir)


#: static — pinned so readers skip the per-call schema-inference job
#: (visible as a driver job per query batch otherwise)
TERM_STATS_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType(), True),
        T.StructField("df", T.LongType(), True),
        T.StructField("max_weight", T.FloatType(), True),
        T.StructField("min_weight", T.FloatType(), True),
    ]
)


def read_term_stats(spark: SparkSession, index_dir: str) -> DataFrame:
    return spark.read.schema(TERM_STATS_SCHEMA).parquet(
        resolve_artifact(os.path.join(index_dir, "term_stats"))
    )


def describe_index(spark: SparkSession, index_dir: str) -> dict:
    """Operational index statistics — what an operator asks before pointing
    a query fleet at an index. Driver-cheap by construction:

    * ``meta.json`` scalars and the lineage build metrics are driver-side
      file reads (no job);
    * the physical stats run ONE column-pruned aggregate over the segment
      BLOCK METADATA (``shard``, ``term``, ``n`` — never the posting
      payload columns, so the scan reads kilobytes per block, not the
      index), which also yields the per-shard posting distribution — the
      skew signal that predicts straggler shards in the batch sweep.

    Works on both commit backends (reads go through ``read_segments``'s
    pointer resolution) and on merged and unmerged indexes.
    """
    from pyspark.sql import functions as F

    from similaripy_spark.fulltext.index_merge import merged_n_buckets

    meta = read_meta(index_dir)
    seg = read_segments(spark, index_dir).select("shard", "term", "n")
    row = (
        seg.groupBy("shard")
        .agg(
            F.sum("n").alias("postings"),
            F.count("*").alias("blocks"),
            F.countDistinct("term").alias("terms"),
        )
        .agg(
            F.sum("postings").alias("n_postings"),
            F.sum("blocks").alias("n_blocks"),
            F.count("*").alias("n_shards_nonempty"),
            F.min("postings").alias("shard_postings_min"),
            F.expr("percentile_approx(postings, 0.5)").alias(
                "shard_postings_median"
            ),
            F.max("postings").alias("shard_postings_max"),
            F.max("terms").alias("shard_terms_max"),
        )
        .first()
    )
    out = {
        "index_dir": index_dir,
        "n_docs": int(meta["n_docs"]),
        "n_shards": int(meta["n_shards"]),
        "shard_size": int(meta["shard_size"]),
        "avgdl": float(meta["avgdl"]),
        "n_postings": int(row["n_postings"] or 0),
        "n_blocks": int(row["n_blocks"] or 0),
        "n_shards_nonempty": int(row["n_shards_nonempty"] or 0),
        "shard_postings": {
            "min": int(row["shard_postings_min"] or 0),
            "median": int(row["shard_postings_median"] or 0),
            "max": int(row["shard_postings_max"] or 0),
        },
        "has_merged": os.path.isdir(os.path.join(index_dir, "merged")),
    }
    if out["has_merged"]:
        out["merged_n_buckets"] = merged_n_buckets(index_dir)
    from similaripy_spark.fulltext import positional

    if positional.has_positions(index_dir):
        side = positional.positions_meta(index_dir)
        out["positions"] = {
            "fresh": epoch_pin(side) == epoch_pin(meta),
            "block_size": int(side.get("block_size", 0)),
            "n_epochs": int(side.get("n_epochs", 1)),
        }
    from similaripy_spark.fulltext import docvalues

    dv = docvalues.docvalues_meta(index_dir)
    if dv is not None:
        out["docvalues"] = {
            "fresh": epoch_pin(dv) == epoch_pin(meta),
            "fields": {
                f: fm.get("kind", "dict")
                for f, fm in dv.get("field_meta", {}).items()
            },
        }
    bm = os.path.join(index_dir, "lineage", "build_metrics.json")
    if os.path.exists(bm):
        out["build_phase_ms"] = json.load(open(bm)).get("phase_ms")
    return out


def read_lineage(spark: SparkSession, index_dir: str) -> DataFrame:
    """Commit manifests as a queryable table
    (stage, group, status, run_id, blocks, postings, bytes, wall_ms)."""
    recs = IndexBuilder(index_dir).lineage()
    return spark.createDataFrame(
        recs,
        "stage string, group int, status string, run_id string, "
        "blocks long, postings long, bytes long, wall_ms long",
    )


def read_metrics(spark: SparkSession, index_dir: str) -> DataFrame:
    """Long-form metrics table (run_id, stage, metric, value) derived from
    lineage + meta — the engine's ProgressBar analog (progress_bar.h:16),
    queryable instead of printed."""
    meta = read_meta(index_dir)
    rows = []
    for rec in IndexBuilder(index_dir).lineage():
        for m in ("blocks", "postings", "bytes", "wall_ms"):
            rows.append(
                (rec["run_id"], f"{rec['stage']}/group_{rec['group']}", m,
                 float(rec[m]))
            )
    for m in ("n_docs", "n_shards", "avgdl"):
        rows.append((meta["run_id"], "corpus", m, float(meta[m])))
    return spark.createDataFrame(
        rows, "run_id string, stage string, metric string, value double"
    )
