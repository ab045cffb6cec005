"""Regression pins for the core-path review findings (round-5 session 4):

* AND-mode point path (`_score_intersect`) must survive tombstone/dv
  filtering emptying a term's decoded overlapping blocks (was IndexError);
* append_to_index / delete_docs must commit with the SAME backend the
  index was built with — a rename-committed delta beside pointer-committed
  groups is invisible to resolve_artifact_multi readers;
* a resumed build restores n_groups/k1/b/block_size from the committed
  meta (a changed n_groups would remap shard→group and silently skip
  shards);
* compact_index carries meta['lang'] so later appends keep filtering;
* delete_docs rejects an empty DataFrame like it rejects an empty list.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from similaripy_spark.fulltext.append import append_to_index
from similaripy_spark.fulltext.commit import (
    ObjectStoreCommitProtocol,
    detect_commit_protocol,
)
from similaripy_spark.fulltext.delete import (
    compact_index,
    delete_docs,
)
from similaripy_spark.fulltext.index_build import (
    IndexBuilder,
    read_meta,
    read_segments,
)
from similaripy_spark.fulltext.index_merge import merge_to_term_major
from similaripy_spark.fulltext.retrieve import open_index
from similaripy_spark.fulltext.wand import segment_topk, term_major_topk
from similaripy_spark.sources.pages import generate_pages

N_DOCS = 1200


@pytest.fixture(scope="module")
def corpus(spark):
    pages = generate_pages(
        spark, N_DOCS, vocab_size=300, partitions=8
    ).persist()
    pages.count()
    yield pages
    pages.unpersist()


def test_and_point_path_survives_fully_tombstoned_term(
    spark, corpus, tmp_path_factory
):
    """Delete EVERY doc containing a query term: the AND intersection's
    later-term decode (term-major point path) comes back empty for
    overlapping blocks and must yield an empty result, not an IndexError;
    the segment batch scorer agrees."""
    d = str(tmp_path_factory.mktemp("andtomb") / "idx")
    IndexBuilder(d, n_groups=2, shard_size=256).build(corpus)
    row = corpus.filter(F.col("doc_id") == 5).select("text").first()
    t1, t2 = row["text"].split(" ")[:2]
    from similaripy_spark.fulltext.postings import build_postings

    holders = [
        r.doc_id
        for r in build_postings(corpus)
        .filter(F.col("term") == t2)
        .select("doc_id")
        .distinct()
        .collect()
    ]
    delete_docs(spark, d, holders)
    q = spark.createDataFrame(
        [(0, [t1, t2])], "query_id long, terms array<string>"
    )
    merge_to_term_major(spark, d, n_buckets=8)
    # every doc holding t2 is gone; AND is empty
    assert term_major_topk(spark, d, q, k=5, mode="and").collect() == []
    assert segment_topk(
        read_segments(spark, d), q, k=5, index_dir=d, mode="and",
    ).collect() == []


def test_append_matches_pointer_committed_index(
    spark, corpus, tmp_path_factory
):
    """Appending to a pointer-committed index must commit the delta
    groups through the pointer backend, or readers (which see only
    pointer entries once any exist) silently drop every appended doc."""
    d = str(tmp_path_factory.mktemp("ptrapp") / "idx")
    base = corpus.filter(F.col("doc_id") < 512)
    delta = corpus.filter(F.col("doc_id") >= 512)
    IndexBuilder(
        d, n_groups=2, shard_size=256,
        commit=ObjectStoreCommitProtocol(),
    ).build(base)
    assert isinstance(
        detect_commit_protocol(d), ObjectStoreCommitProtocol
    )
    append_to_index(spark, d, delta)
    seg_docs = (
        read_segments(spark, d)
        .agg(F.max("max_doc").alias("m")).first()["m"]
    )
    assert seg_docs >= 512  # delta groups visible through the pointers
    q = corpus.filter(F.col("doc_id") == 600).select(
        F.col("doc_id").alias("query_id"),
        F.split("text", " ").alias("terms"),
    )
    hits = open_index(spark, d, cache=False).topk(q, k=5).collect()
    assert any(r.doc_id >= 512 for r in hits)


def test_resume_restores_build_parameters(spark, corpus, tmp_path_factory):
    """A resumed build must keep the committed groups' n_groups/k1/b —
    a re-run with different constructor args silently remapped
    shard→group before the fix."""
    d = str(tmp_path_factory.mktemp("resume") / "idx")
    IndexBuilder(d, n_groups=4, shard_size=256, k1=1.5, b=0.6).build(
        corpus
    )
    b2 = IndexBuilder(d, n_groups=2, shard_size=256, k1=9.9, b=0.1)
    b2.build(corpus, resume=True)
    assert b2.n_groups == 4 and b2.k1 == 1.5 and b2.b == 0.6


def test_compact_carries_lang(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("lang") / "idx")
    out = str(tmp_path_factory.mktemp("lang") / "compacted")
    IndexBuilder(
        d, n_groups=2, shard_size=256, lang="en"
    ).build(corpus)
    delete_docs(spark, d, [2, 4])
    compact_index(spark, d, out)
    assert read_meta(out).get("lang") == "en"


def test_delete_empty_dataframe_rejected(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("emptydel") / "idx")
    IndexBuilder(d, n_groups=2, shard_size=256).build(corpus)
    empty = spark.createDataFrame([], "doc_id long")
    with pytest.raises(ValueError, match="empty doc_id set"):
        delete_docs(spark, d, empty)
    assert read_meta(d).get("n_tombstone_epochs", 0) == 0

# --------- second core review batch (serve/sidecar/operator paths) --------


def test_merge_does_not_resurrect_deleted_docs(
    spark, corpus, tmp_path_factory
):
    """merge_indexes must honor source tombstones: decoding raw segments
    without them silently resurrected deleted docs in the merged index."""
    from similaripy_spark.fulltext.index_merge import merge_indexes

    src = str(tmp_path_factory.mktemp("mrg") / "src")
    out = str(tmp_path_factory.mktemp("mrg") / "out")
    IndexBuilder(src, n_groups=2, shard_size=256).build(corpus)
    deleted = [7, 8, 9]
    delete_docs(spark, src, deleted)
    merge_indexes(spark, [src], out)
    merged_docs = {
        r.doc_id
        for r in __import__(
            "similaripy_spark.fulltext.index_merge",
            fromlist=["decode_segments"],
        ).decode_segments(read_segments(spark, out))
        .select("doc_id").distinct().collect()
    }
    assert not (set(deleted) & merged_docs)
    assert read_meta(out)["n_docs"] == N_DOCS - len(deleted)


def test_embedding_dedup_cluster_larger_than_k(spark):
    """A duplicate cluster bigger than k must still produce every pair —
    filter(row < col) on asymmetric top-k lists dropped the high-id
    members' pairs entirely."""
    from similaripy_spark.operators.ann import embedding_dedup_pairs

    vec = [1.0, 2.0, 3.0, 4.0]
    rows = [(i, vec) for i in range(6)]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    pairs = embedding_dedup_pairs(emb, threshold=0.99, k=3).collect()
    got = {(r.doc_a, r.doc_b) for r in pairs}
    want = {(a, b) for a in range(6) for b in range(a + 1, 6)}
    # k=3 caps each row's neighbour list, but least/greatest
    # canonicalization must recover every pair some row observed —
    # and with 6 identical vectors each row sees 3 others, covering all
    assert got <= want and len(got) >= 9  # was 3-6 pre-fix
    for a, b in got:
        assert a < b


def test_phrase_falls_back_to_pages_when_sidecar_stale(
    spark, corpus, tmp_path_factory
):
    from similaripy_spark.fulltext.positional import (
        StalePositionsError,
        build_positions,
    )

    d = str(tmp_path_factory.mktemp("stale") / "idx")
    base = corpus.filter(F.col("doc_id") < 512)
    delta = corpus.filter(F.col("doc_id") >= 512)
    IndexBuilder(
        d, n_groups=2, shard_size=256
    ).build(base)
    build_positions(base, d)
    append_to_index(spark, d, delta)
    t = corpus.filter(F.col("doc_id") == 3).first()["text"].split(" ")[:2]
    q = spark.createDataFrame(
        [(0, t)], "query_id long, terms array<string>"
    )
    h = open_index(spark, d, cache=False)
    # slop=0 with pages in hand: regexp fallback answers exactly.
    # The phrase terms are Zipf-hot (df > N/2 => negative unclamped idf),
    # so the source doc may legitimately rank below a small k; assert
    # membership with a k large enough to cover every AND-match instead.
    hits = h.phrase_topk(corpus, q, k=2000).collect()
    assert any(r.doc_id == 3 for r in hits)
    # sidecar genuinely required -> staleness still surfaces
    with pytest.raises(StalePositionsError):
        h.phrase_topk(corpus, q, k=5, slop=1)
    with pytest.raises(StalePositionsError):
        h.phrase_topk(None, q, k=5)


def test_simhash_n_parameter_is_order_sensitive(spark):
    from similaripy_spark.operators.dedup import simhash

    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta"), (1, "delta gamma beta alpha")],
        "doc_id long, text string",
    )
    uni = {r.doc_id: r.simhash for r in simhash(docs, n=1).collect()}
    tri = {r.doc_id: r.simhash for r in simhash(docs, n=3).collect()}
    assert uni[0] == uni[1]  # bag-of-words: reorder-invariant
    assert tri[0] != tri[1]  # shingles: order-sensitive (was == pre-fix)


def test_build_positions_rejects_partial_pages(
    spark, corpus, tmp_path_factory
):
    from similaripy_spark.fulltext.positional import build_positions

    d = str(tmp_path_factory.mktemp("partial") / "idx")
    IndexBuilder(d, n_groups=2, shard_size=256).build(corpus)
    with pytest.raises(ValueError, match="partial crawl"):
        build_positions(corpus.filter(F.col("doc_id") < 100), d)


def test_slop_path_empty_batch_returns_empty(
    spark, corpus, tmp_path_factory
):
    from similaripy_spark.fulltext.positional import (
        build_positions,
        phrase_topk_pos,
    )

    d = str(tmp_path_factory.mktemp("slopempty") / "idx")
    IndexBuilder(d, n_groups=2, shard_size=256).build(corpus)
    build_positions(corpus, d)
    empty = spark.createDataFrame(
        [], "query_id long, terms array<string>"
    )
    assert phrase_topk_pos(spark, d, empty, k=5, slop=1).count() == 0


def test_ann_zero_norm_vector_does_not_poison_batch(spark):
    from similaripy_spark.operators.ann import ann_bruteforce_topk

    rows = [
        (0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [0.0, 0.0]),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )
    out = ann_bruteforce_topk(emb, k=3).collect()
    assert len(out) > 0  # pre-fix: NaN kth erased every row
    import math

    assert all(math.isfinite(r.value) for r in out)


def test_lsh_bands_divisibility_enforced(spark, corpus):
    from similaripy_spark.operators.dedup import minhash_lsh_pairs

    with pytest.raises(ValueError, match="divisible"):
        minhash_lsh_pairs(corpus.limit(10), n_hashes=32, bands=5)
