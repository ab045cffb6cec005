"""Append-only ingestion (fulltext/append.py) over (tf, dl) blocks.

Contract under test (append.py module docstring):

* ``build(A); append(B)`` ≡ ``build(A ∪ B)`` — query results identical,
  df identical, corpus scalars identical (avgdl merged via sum_dl);
* the term-major MaxScore path stays exact on a drifted index (block
  bounds were encoded at the pinned bounds_avgdl; the one-sided
  avgdl-ratio scaling + float32 cross-rounding widening keeps every bound
  valid);
* appends into committed shards are rejected before anything commits.

The reference has no incremental path (its CSR stats are recomputed per
call — similaripy/normalization.py); this is engine extension surface.
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from similaripy_spark.fulltext.append import append_to_index
from similaripy_spark.fulltext.index_build import (
    IndexBuilder,
    read_meta,
    read_segments,
    read_term_stats,
)
from similaripy_spark.fulltext.index_merge import (
    decode_segments,
    merge_indexes,
    merge_to_term_major,
)
from similaripy_spark.fulltext.postings import build_postings, doc_lengths
from similaripy_spark.fulltext.retrieve import open_index
from similaripy_spark.fulltext.wand import segment_topk, term_major_topk
from similaripy_spark.sources.pages import generate_pages

N_DOCS = 1600
SHARD = 256
SPLIT = 1024  # shard-aligned: docs < SPLIT in the base, rest appended


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


def _rows(df):
    return [
        (r.query_id, r.doc_id, round(r.score, 9))
        for r in df.orderBy("query_id", "rank").collect()
    ]


@pytest.fixture(scope="module")
def appended(spark, corpus, tmp_path_factory):
    """build(A); append(B) plus the full-corpus twin for comparison."""
    d = tmp_path_factory.mktemp("append")
    full_raw = str(d / "full_raw")
    inc = str(d / "inc")
    IndexBuilder(full_raw, n_groups=4, shard_size=SHARD).build(corpus)
    IndexBuilder(inc, n_groups=4, shard_size=SHARD).build(
        corpus.filter(F.col("doc_id") < SPLIT)
    )
    meta = append_to_index(
        spark, inc, pages=corpus.filter(F.col("doc_id") >= SPLIT),
        n_groups=3,
    )
    return {"full_raw": full_raw, "inc": inc, "meta": meta}


def test_append_equals_full_build(spark, appended, queries):
    a = _rows(segment_topk(
        read_segments(spark, appended["full_raw"]), queries, k=5,
        index_dir=appended["full_raw"],
    ))
    b = _rows(segment_topk(
        read_segments(spark, appended["inc"]), queries, k=5,
        index_dir=appended["inc"],
    ))
    assert a == b and len(a) > 0


def test_append_merges_corpus_scalars_exactly(spark, appended):
    m_full = read_meta(appended["full_raw"])
    m_inc = appended["meta"]
    assert m_inc["n_docs"] == m_full["n_docs"]
    assert m_inc["n_shards"] == m_full["n_shards"]
    assert abs(m_inc["avgdl"] - m_full["avgdl"]) < 1e-9
    assert m_inc["n_epochs"] == 2
    # bounds stay pinned at the BASE build's avgdl, not the merged one
    assert m_inc["bounds_avgdl"] != pytest.approx(m_inc["avgdl"], abs=1e-12)
    # df identical to the full build (max/min bounds legitimately differ:
    # they are encoded at each index's own pinned bounds_avgdl)
    tsf = {r.term: r.df for r in
           read_term_stats(spark, appended["full_raw"]).collect()}
    tsi = {r.term: r.df for r in
           read_term_stats(spark, appended["inc"]).collect()}
    assert tsf == tsi
    decoded = decode_segments(read_segments(spark, appended["inc"]))
    assert decoded.select("doc_id").distinct().count() == N_DOCS


def test_dl_is_read_from_every_epochs_blocks(spark, corpus, appended):
    """The segment blocks are the one store of dl: decoding an appended
    index gives every doc, base and appended, the dl of its page, and no
    build or append writes a separate doc-length table."""
    got = {
        (r.doc_id, r.dl)
        for r in decode_segments(read_segments(spark, appended["inc"]))
        .select("doc_id", "dl").distinct().collect()
    }
    want = {
        (r.doc_id, r.dl)
        for r in doc_lengths(corpus).filter(F.col("dl") > 0).collect()
    }
    assert got == want
    assert {d for d, _ in got if d >= SPLIT}, "no appended doc decoded"
    for d in (appended["full_raw"], appended["inc"]):
        assert not [f for f in os.listdir(d) if f.startswith("doc_stats")]


def test_merge_keeps_appended_docs(spark, appended, queries, tmp_path):
    """Merging an appended index keeps the docs of every epoch: the merge
    decodes (doc_id, term, tf, dl) from the blocks of every epoch's
    segment groups, so no appended doc is dropped."""
    out = str(tmp_path / "merged")
    merge_indexes(spark, [appended["inc"]], out)
    assert read_meta(out)["n_docs"] == N_DOCS
    full = appended["full_raw"]
    a = _rows(segment_topk(
        read_segments(spark, full), queries, k=5, index_dir=full,
    ))
    b = _rows(segment_topk(
        read_segments(spark, out), queries, k=5, index_dir=out,
    ))
    assert a == b and len(a) > 0


def test_pruned_paths_exact_on_drifted_index(spark, appended, queries):
    """avgdl ≠ bounds_avgdl after the append: the term-major MaxScore
    kernel must still match the exhaustive batch scorer (bounds validity
    under drift + float32 cross-rounding)."""
    inc = appended["inc"]
    seg = read_segments(spark, inc)
    base = _rows(segment_topk(seg, queries, k=5, index_dir=inc))
    merge_to_term_major(spark, inc, n_buckets=16)
    assert _rows(term_major_topk(spark, inc, queries, k=5)) == base


def test_append_invalidates_merged_layout(spark, corpus, tmp_path):
    inc = str(tmp_path / "inc_merged")
    IndexBuilder(inc, n_groups=2, shard_size=SHARD).build(
        corpus.filter(F.col("doc_id") < SPLIT)
    )
    merge_to_term_major(spark, inc, n_buckets=8)
    assert os.path.isdir(os.path.join(inc, "merged"))
    append_to_index(
        spark, inc, pages=corpus.filter(F.col("doc_id") >= SPLIT),
        n_groups=2,
    )
    assert not os.path.isdir(os.path.join(inc, "merged"))
    assert os.path.isdir(os.path.join(inc, "merged_stale_epoch_1"))


def test_append_serves_through_handle(spark, appended, queries):
    with open_index(spark, appended["inc"]) as h:
        got = _rows(h.topk(queries, k=5, path="segment"))
    want = _rows(segment_topk(
        read_segments(spark, appended["full_raw"]), queries, k=5,
        index_dir=appended["full_raw"],
    ))
    assert got == want


def test_append_rejects_docs_in_committed_shards(spark, corpus, tmp_path):
    inc = str(tmp_path / "inc_bad")
    IndexBuilder(inc, n_groups=2, shard_size=SHARD).build(
        corpus.filter(F.col("doc_id") < SPLIT)
    )
    with pytest.raises(ValueError, match="shard boundary"):
        append_to_index(
            spark, inc,
            pages=corpus.filter(F.col("doc_id") >= SPLIT - 8), n_groups=2,
        )
    # nothing committed: meta unchanged, no delta group, no manifest
    assert read_meta(inc).get("n_epochs", 1) == 1
    assert not os.path.exists(os.path.join(inc, "segments", "group=2"))
    assert not os.path.exists(os.path.join(inc, "lineage", "group_2.json"))


def test_append_unpersists_callers_postings_on_raise(spark, corpus,
                                                      tmp_path):
    """A postings= append persists the caller's frame for its two passes;
    a validation raise must release it like a successful append does."""
    inc = str(tmp_path / "inc_cache")
    IndexBuilder(inc, n_groups=2, shard_size=SHARD).build(
        corpus.filter(F.col("doc_id") < SPLIT)
    )
    delta = build_postings(corpus.filter(F.col("doc_id") >= SPLIT - 8))
    with pytest.raises(ValueError, match="shard boundary"):
        append_to_index(spark, inc, postings=delta, n_groups=2)
    assert delta.is_cached is False


def test_append_crash_resume(spark, corpus, queries, monkeypatch, tmp_path):
    """An append that dies after its segment groups committed but before
    term_stats/meta re-runs to the same final state: the delta corpus
    scalars are recomputed (same values — deterministic input), committed
    delta groups are skipped via the lineage manifests, and the idempotent
    term_stats recompute + atomic meta swap finish the epoch. A re-run
    AFTER the meta swap is a different epoch and fails the new-shards
    validation loudly instead of double-ingesting."""
    from similaripy_spark.fulltext import append as append_mod
    from similaripy_spark.fulltext.index_build import IndexBuilder as IB

    inc = str(tmp_path / "inc_crash")
    IB(inc, n_groups=2, shard_size=SHARD).build(
        corpus.filter(F.col("doc_id") < SPLIT)
    )
    orig = IB._write_term_stats
    calls = {"n": 0}

    def boom(self, s):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected crash before term_stats")
        return orig(self, s)

    monkeypatch.setattr(IB, "_write_term_stats", boom)
    delta = corpus.filter(F.col("doc_id") >= SPLIT)
    with pytest.raises(RuntimeError, match="injected"):
        append_to_index(spark, inc, pages=delta, n_groups=2)
    # groups are committed, meta is not: the index still reads as pre-append
    assert read_meta(inc).get("n_epochs", 1) == 1
    meta = append_to_index(spark, inc, pages=delta, n_groups=2)  # resume
    assert meta["n_docs"] == N_DOCS and meta["n_epochs"] == 2

    # equality with the never-crashed incremental build
    clean = str(tmp_path / "inc_clean")
    monkeypatch.setattr(IB, "_write_term_stats", orig)
    IB(clean, n_groups=2, shard_size=SHARD).build(
        corpus.filter(F.col("doc_id") < SPLIT)
    )
    append_to_index(spark, clean, pages=delta, n_groups=2)
    a = _rows(segment_topk(read_segments(spark, inc), queries, k=5,
                           index_dir=inc))
    b = _rows(segment_topk(read_segments(spark, clean), queries, k=5,
                           index_dir=clean))
    assert a == b and len(a) > 0

    # re-append of the SAME docs after the completed epoch: loud failure
    with pytest.raises(ValueError, match="shard boundary"):
        append_to_index(spark, inc, pages=delta, n_groups=2)
