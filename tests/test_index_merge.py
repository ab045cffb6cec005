"""Merged (term-major) layout, decode round-trip, incremental index merge
with global re-weighting, and the term-major query path."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from similaripy_spark.fulltext.index_build import (
    IndexBuilder,
    read_meta,
    read_segments,
)
from similaripy_spark.fulltext.index_merge import (
    decode_segments,
    merge_indexes,
    merge_to_term_major,
)
from similaripy_spark.fulltext.postings import build_postings
from similaripy_spark.fulltext.query import bm25_topk
from similaripy_spark.fulltext.wand import (
    TermMajorIndex,
    segment_topk,
    term_major_topk,
)
from similaripy_spark.fulltext.weights import bm25_weights
from similaripy_spark.sources.pages import generate_pages, generate_queries_pandas

N_DOCS, VOCAB = 1000, 1200


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx"))
    pages = generate_pages(spark, N_DOCS, vocab_size=VOCAB)
    IndexBuilder(d, shard_size=256, n_groups=4).build(pages)
    merge_to_term_major(spark, d, n_buckets=16)
    return d, pages


def test_decode_roundtrip(spark, built):
    d, pages = built
    decoded = (
        decode_segments(read_segments(spark, d))
        .orderBy("doc_id", "term")
        .toPandas()
    )
    raw = (
        build_postings(pages)
        .select("doc_id", "term", "tf", "dl")
        .orderBy("doc_id", "term")
        .toPandas()
    )
    pd.testing.assert_frame_equal(
        decoded.reset_index(drop=True).astype({"tf": "int64"}),
        raw.reset_index(drop=True).astype({"tf": "int64"}),
    )


def test_merged_pruned_scan(spark, built):
    """The term-major reader's pyarrow filter opens only the queried
    terms' ``term_bucket=`` directories, and reads only their rows; the
    bucket count comes from ``merged/_meta.json``."""
    import re
    import zlib

    d, _ = built
    tm = TermMajorIndex(spark, d)
    assert tm.n_buckets == 16
    terms = ["t000001", "t000042"]
    filt = tm.blocks_filter(terms)
    read = {
        int(re.search(r"term_bucket=(\d+)", f.path).group(1))
        for f in tm.merged.get_fragments(filter=filt)
    }
    assert read == {zlib.crc32(t.encode()) % 16 for t in terms}
    rows = tm.merged.to_table(columns=["term"], filter=filt)
    assert set(rows.column("term").to_pylist()) == set(terms)


def test_term_major_topk_matches_sql(spark, built):
    d, pages = built
    queries_pd = generate_queries_pandas(15, vocab_size=VOCAB)
    queries = spark.createDataFrame(queries_pd)
    expected = (
        bm25_topk(bm25_weights(build_postings(pages)), queries, k=10)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    got = (
        term_major_topk(spark, d, queries, k=10)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    assert list(got["doc_id"]) == list(expected["doc_id"])
    np.testing.assert_allclose(got["score"], expected["score"], rtol=1e-4)


def test_shard_size_auto_derivation(spark, tmp_path):
    """shard_size='auto' holds the shard count at <= target as the corpus
    grows (query fan-out of the batch path is proportional to n_shards)."""
    from similaripy_spark.fulltext.index_build import (
        DEFAULT_TARGET_SHARDS,
        derive_shard_size,
    )

    for n in (1_000, 10_000_000, 10**9, 10**12):
        ss = derive_shard_size(n)
        assert -(-n // ss) <= DEFAULT_TARGET_SHARDS
    # end-to-end: auto resolves before sharding and is recorded in meta
    pages = generate_pages(spark, 300, vocab_size=400)
    d = str(tmp_path / "auto")
    meta = IndexBuilder(d, shard_size="auto", n_groups=2).build(pages)
    assert meta["shard_size"] >= 1 << 14 and meta["n_shards"] == 1


def test_incremental_merge_reweights_globally(spark, tmp_path):
    """Index halves separately, merge, compare against a from-scratch build
    of the union — BM25 df/avgdl must reflect the merged corpus."""
    pages = generate_pages(spark, 800, vocab_size=900)
    a = pages.filter("doc_id < 400")
    b = pages.filter("doc_id >= 400")
    da, db = str(tmp_path / "a"), str(tmp_path / "b")
    dm, dfull = str(tmp_path / "m"), str(tmp_path / "full")
    kw = dict(shard_size=128, n_groups=2)
    IndexBuilder(da, **kw).build(a)
    IndexBuilder(db, **kw).build(b)
    merge_indexes(spark, [da, db], dm)
    IndexBuilder(dfull, **kw).build(pages)

    sm = read_segments(spark, dm).orderBy("shard", "term", "block_id").toPandas()
    sf = read_segments(spark, dfull).orderBy("shard", "term", "block_id").toPandas()
    pd.testing.assert_frame_equal(sm.reset_index(drop=True), sf.reset_index(drop=True))
    assert read_meta(dm)["n_docs"] == 800

    # and queries over the merged index match the SQL path on the union
    queries = spark.createDataFrame(generate_queries_pandas(10, vocab_size=900))
    expected = (
        bm25_topk(bm25_weights(build_postings(pages)), queries, k=10)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    got = (
        segment_topk(read_segments(spark, dm), queries, k=10, index_dir=dm)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    assert list(got["doc_id"]) == list(expected["doc_id"])
    np.testing.assert_allclose(got["score"], expected["score"], rtol=1e-4)


def test_decode_segments_bulk_speedup():
    """VERDICT r3 item 3's 'done' gate: the shared bulk decoder
    (codec.decode_doc_blocks) must beat the round-2 per-block itertuples
    loop by >=5x on a 10k-block segment set, bit-identically."""
    import time

    from similaripy_spark.fulltext import codec

    rng = np.random.default_rng(7)
    n_blocks, bs = 10_000, 128
    ns = rng.integers(1, bs + 1, size=n_blocks).astype(np.int64)
    dd, firsts = [], np.empty(n_blocks, np.int64)
    expect_parts = []
    base = 0
    for i, n in enumerate(ns):
        docs = base + np.cumsum(rng.integers(1, 50, size=n))
        base = int(docs[-1]) + 1
        firsts[i] = docs[0]
        deltas = np.concatenate(([0], np.diff(docs)))
        dd.append(codec.encode_varints(deltas.astype(np.uint64)))
        expect_parts.append(docs)
    expect = np.concatenate(expect_parts)

    def per_block_loop():  # the round-2 per-block loop, verbatim shape
        parts = []
        for i in range(n_blocks):
            deltas = codec.decode_varints(dd[i], int(ns[i]))
            parts.append(codec.delta_decode(deltas, int(firsts[i])))
        return np.concatenate(parts)

    def best_of(f, n=3):
        best = None
        for _ in range(n):
            t0 = time.perf_counter()
            out = f()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        return out, best

    got, bulk_s = best_of(lambda: codec.decode_doc_blocks(dd, ns, firsts))
    np.testing.assert_array_equal(got, expect)
    looped, loop_s = best_of(per_block_loop)
    np.testing.assert_array_equal(looped, expect)

    assert loop_s / bulk_s >= 5.0, (
        f"bulk decode only {loop_s / bulk_s:.1f}x faster "
        f"({bulk_s * 1e3:.1f} ms vs {loop_s * 1e3:.1f} ms)"
    )
