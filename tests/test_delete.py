"""Document deletion (fulltext/delete.py): tombstones + compaction.

Contract (delete.py docstring): deleted docs are never returned by ANY
query path and the surviving top-k is exact — tombstones filter at decode
time inside _ShardIndex, so they cannot inflate the MaxScore θ or crowd a
per-shard local top-k; surviving docs' scores keep pre-deletion corpus
stats until compact_index (the Lucene live-docs model, SQL-expressible:
weights over the full corpus, results filtered — which is exactly the
oracle used below and in the bm25_delete_topk gate entry).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from similaripy_spark.fulltext.delete import (
    compact_index,
    delete_docs,
    read_tombstones,
)
from similaripy_spark.fulltext.index_build import (
    IndexBuilder,
    read_meta,
    read_segments,
)
from similaripy_spark.fulltext.index_merge import merge_to_term_major
from similaripy_spark.fulltext.retrieve import open_index
from similaripy_spark.fulltext.wand import segment_topk, term_major_topk
from similaripy_spark.fulltext.weights import bm25_weights
from similaripy_spark.fulltext.postings import build_postings
from similaripy_spark.sources.pages import generate_pages

N_DOCS = 1500
DELETED = [d for d in range(N_DOCS) if d % 10 == 3]


@pytest.fixture(scope="module")
def corpus(spark):
    pages = generate_pages(
        spark, N_DOCS, vocab_size=400, partitions=8
    ).persist()
    pages.count()
    yield pages
    pages.unpersist()


@pytest.fixture(scope="module")
def queries(corpus):
    # deterministic query set — limit() without order can pick different
    # rows per action, desyncing the oracle from the paths under test
    return corpus.filter(F.col("doc_id") < 40).select(
        F.col("doc_id").alias("query_id"),
        F.split(F.col("text"), " ").alias("terms"),
    )


@pytest.fixture(scope="module")
def tombstoned(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("del") / "idx")
    IndexBuilder(d, n_groups=3, shard_size=256).build(corpus)
    meta = delete_docs(spark, d, DELETED)
    assert meta["n_tombstone_epochs"] == 1
    merge_to_term_major(spark, d, n_buckets=16)
    return d


def _rows(df):
    return [
        (r.query_id, r.doc_id, round(r.score, 9))
        for r in df.orderBy("query_id", "rank").collect()
    ]


def _assert_same_ranking(got, want, rtol=1e-4):
    """Same (query_id, doc_id) sequence; scores approx — the index stores
    float32 weights, the relational oracle computes float64 (the oracle
    gate entries bridge this by re-scoring picked pairs; here rank
    identity + rtol matches the repo's index-vs-relational convention)."""
    import numpy as np

    assert [(q, d) for q, d, _ in got] == [(q, d) for q, d, _ in want]
    assert np.allclose(
        [s for _, _, s in got], [s for _, _, s in want], rtol=rtol
    )
    assert len(got) > 0


@pytest.fixture(scope="module")
def oracle_rows(spark, corpus, queries):
    """Relational oracle: weights over the FULL corpus (stats include the
    deleted docs — the documented staleness), deleted docs filtered from
    the result side. A doc's score involves only its own postings, so
    filtering weights rows by doc_id equals filtering results."""
    from similaripy_spark.fulltext.query import bm25_topk

    w = bm25_weights(build_postings(corpus)).filter(
        ~F.col("doc_id").isin(DELETED)
    )
    return _rows(bm25_topk(w, queries, k=5))


def test_segment_paths_exclude_deleted_exactly(
    spark, tombstoned, queries, oracle_rows
):
    seg = read_segments(spark, tombstoned)
    got = _rows(segment_topk(seg, queries, k=5, index_dir=tombstoned))
    _assert_same_ranking(got, oracle_rows)


def test_term_major_and_bucket_exclude_deleted(
    spark, tombstoned, queries, oracle_rows
):
    _assert_same_ranking(_rows(
        term_major_topk(spark, tombstoned, queries, k=5)
    ), oracle_rows)


def test_handle_sees_new_tombstones_without_reopen(
    spark, tombstoned, queries, oracle_rows
):
    with open_index(spark, tombstoned) as h:
        _assert_same_ranking(
            _rows(h.topk(queries, k=5, path="segment")), oracle_rows
        )


def test_held_handle_point_topk_excludes_later_deletes(
    spark, corpus, queries, oracle_rows, tmp_path
):
    """A handle opened BEFORE ``delete_docs``: its auto-routed point
    batch re-reads the tombstones on every call, so the next call on the
    same handle already excludes the deleted docs, exactly."""
    from similaripy_spark.fulltext.retrieve import route

    d = str(tmp_path / "held")
    IndexBuilder(d, n_groups=3, shard_size=256).build(corpus)
    merge_to_term_major(spark, d, n_buckets=16)
    point = queries.filter(F.col("query_id") < 16)
    assert route(16, has_merged=True) == "term_major"
    want = [r for r in oracle_rows if r[0] < 16]
    with open_index(spark, d).warm() as h:
        before = _rows(h.topk(point, k=5))
        assert {doc for _, doc, _ in before} & set(DELETED)
        delete_docs(spark, d, DELETED)
        _assert_same_ranking(_rows(h.topk(point, k=5)), want)


def test_survivors_fill_all_k_slots(spark, tombstoned, queries):
    got = segment_topk(
        read_segments(spark, tombstoned), queries, k=5,
        index_dir=tombstoned,
    )
    counts = {
        r.query_id: r.n
        for r in got.groupBy("query_id").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    assert counts and all(v == 5 for v in counts.values())


def test_compact_matches_fresh_build_on_survivors(
    spark, corpus, tombstoned, queries, tmp_path
):
    compacted = str(tmp_path / "compacted")
    meta_c = compact_index(spark, tombstoned, compacted)
    fresh = str(tmp_path / "fresh")
    meta_f = IndexBuilder(fresh, n_groups=3, shard_size=256).build(
        corpus.filter(~F.col("doc_id").isin(DELETED))
    )
    assert meta_c["n_docs"] == meta_f["n_docs"]
    assert abs(meta_c["avgdl"] - meta_f["avgdl"]) < 1e-9
    assert meta_c.get("n_tombstone_epochs", 0) == 0
    a = _rows(segment_topk(
        read_segments(spark, compacted), queries, k=5, index_dir=compacted
    ))
    b = _rows(segment_topk(
        read_segments(spark, fresh), queries, k=5, index_dir=fresh
    ))
    assert a == b and len(a) > 0


def test_delete_unknown_ids_is_noop(spark, corpus, queries, tmp_path):
    d = str(tmp_path / "noop")
    IndexBuilder(d, n_groups=2, shard_size=256).build(corpus)
    before = _rows(segment_topk(
        read_segments(spark, d), queries, k=5, index_dir=d
    ))
    delete_docs(spark, d, [10_000_000, 10_000_001])
    after = _rows(segment_topk(
        read_segments(spark, d), queries, k=5, index_dir=d
    ))
    assert before == after


def test_delete_on_raw_appended_index(spark, corpus, queries, tmp_path):
    """Deletion composes with the raw scheme + append: tombstones from the
    base epoch still apply after an append, and appended docs serve."""
    from similaripy_spark.fulltext.append import append_to_index

    d = str(tmp_path / "raw_del")
    IndexBuilder(d, n_groups=2, shard_size=256).build(
        corpus.filter(F.col("doc_id") < 1024)
    )
    delete_docs(spark, d, [3, 13, 23])
    append_to_index(
        spark, d, pages=corpus.filter(F.col("doc_id") >= 1024), n_groups=2
    )
    got = segment_topk(
        read_segments(spark, d), queries, k=5, index_dir=d
    )
    docs = {r.doc_id for r in got.collect()}
    assert not docs & {3, 13, 23}
    assert read_tombstones(spark, d).count() == 3
    assert read_meta(d)["n_docs"] == N_DOCS  # stats staleness by design
