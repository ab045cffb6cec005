"""Aligned-input index build: the no-shuffle fast path.

When the source already co-locates complete shards per partition (a crawl
table stored with Iceberg bucket/range partitioning on the doc id), the
build runs with NO wide exchange of the postings stream. These tests pin:
segment-level parity with the shuffle path, the absence of the exchange in
the physical plan, and that a violated layout contract fails the build
instead of publishing corrupt posting lists.
"""

from __future__ import annotations

import os

import pytest

from similaripy_spark.fulltext.index_build import IndexBuilder, read_segments
from similaripy_spark.fulltext.wand import segment_topk
from similaripy_spark.sources.pages import generate_pages, generate_queries_pandas

N_DOCS, VOCAB, SHARD = 3000, 900, 512


def _seg_pdf(spark, d):
    return (
        read_segments(spark, d)
        .orderBy("shard", "term", "block_id")
        .toPandas()
        .reset_index(drop=True)
    )


def test_aligned_build_parity_and_plan(spark, tmp_path):
    d_al, d_sh = str(tmp_path / "al"), str(tmp_path / "sh")
    aligned_pages = generate_pages(
        spark, N_DOCS, vocab_size=VOCAB, align_to=SHARD
    )
    b = IndexBuilder(d_al, shard_size=SHARD, n_groups=3,
                     input_layout="aligned")
    b.build(aligned_pages)

    IndexBuilder(d_sh, shard_size=SHARD, n_groups=3).build(
        generate_pages(spark, N_DOCS, vocab_size=VOCAB)
    )
    # identical physical segments, byte for byte (same blocks, same codec
    # payloads) — the two paths differ only in HOW rows reached the encoder
    pa, ps = _seg_pdf(spark, d_al), _seg_pdf(spark, d_sh)
    assert pa.equals(ps)

    # plan: the aligned segment job has NO exchange of ANY kind — not even
    # a broadcast. The weighting is the builder's (tf, dl) projection (no
    # term-stats join), so the vocabulary never has to fit in memory.
    from similaripy_spark.fulltext.postings import build_postings

    w = b._weighted(build_postings(aligned_pages))
    plan = b._segment_plan(w, 6)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Broadcast" not in plan


def test_aligned_query_parity(spark, tmp_path):
    d = str(tmp_path / "alq")
    IndexBuilder(d, shard_size=SHARD, n_groups=2,
                 input_layout="aligned").build(
        generate_pages(spark, N_DOCS, vocab_size=VOCAB, align_to=SHARD)
    )
    q = spark.createDataFrame(generate_queries_pandas(30, vocab_size=VOCAB))
    from similaripy_spark.fulltext.retrieve import topk

    got = topk(spark, d, q, k=10).orderBy("query_id", "rank").toPandas()
    assert len(got) == 300


def test_misaligned_input_fails_commit(spark, tmp_path):
    d = str(tmp_path / "bad")
    # partitions straddle shard boundaries (equal ranges of N/8=375 docs,
    # shard 512): the duplicate-block guard must fail the build
    bad_pages = generate_pages(spark, N_DOCS, vocab_size=VOCAB, partitions=8)
    with pytest.raises(ValueError, match="aligned.*contract violated"):
        IndexBuilder(d, shard_size=SHARD, n_groups=2,
                     input_layout="aligned").build(bad_pages)
    # nothing half-published: no committed groups
    assert IndexBuilder(d, shard_size=SHARD, n_groups=2).committed_groups() \
        == set()


def test_generator_alignment_is_byte_identical(spark):
    a = generate_pages(spark, 700, vocab_size=300, align_to=256).orderBy(
        "doc_id").toPandas()
    b = generate_pages(spark, 700, vocab_size=300).orderBy("doc_id").toPandas()
    assert a.equals(b)


def test_input_layout_validation(tmp_path):
    with pytest.raises(ValueError, match="input_layout"):
        IndexBuilder(str(tmp_path / "x"), input_layout="bogus")
