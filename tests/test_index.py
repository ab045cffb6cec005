"""Codec round-trip, SPIMI build, checkpoint/resume, and query parity (the
segment batch scorer and the term-major Block-Max MaxScore path) vs the
relational SQL path."""

from __future__ import annotations

import glob
import os

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from similaripy_spark.fulltext import codec
from similaripy_spark.fulltext.index_build import (
    IndexBuilder,
    read_segments,
    read_term_stats,
)
from similaripy_spark.fulltext.postings import build_postings
from similaripy_spark.fulltext.query import bm25_topk
from similaripy_spark.fulltext.index_merge import merge_to_term_major
from similaripy_spark.fulltext.wand import segment_topk, term_major_topk
from similaripy_spark.fulltext.weights import bm25_weights
from similaripy_spark.sources.pages import generate_pages, generate_queries_pandas

N_DOCS, VOCAB = 1200, 1500


# --- codec ------------------------------------------------------------------

@pytest.mark.parametrize(
    "values",
    [
        np.array([0], dtype=np.uint64),
        np.array([1, 127, 128, 129, 16383, 16384], dtype=np.uint64),
        np.array([2**63 - 1, 2**64 - 1, 0, 1], dtype=np.uint64),
        np.arange(1000, dtype=np.uint64) ** 3,
    ],
)
def test_varint_roundtrip(values):
    buf = codec.encode_varints(values)
    out = codec.decode_varints(buf, len(values))
    np.testing.assert_array_equal(out, values)


def test_varint_roundtrip_random():
    rng = np.random.default_rng(0)
    for _ in range(20):
        mags = rng.integers(0, 63, size=500)
        vals = (rng.integers(0, 2**62, size=500).astype(np.uint64)
                >> mags.astype(np.uint64))
        buf = codec.encode_varints(vals)
        np.testing.assert_array_equal(codec.decode_varints(buf, 500), vals)


def test_delta_roundtrip():
    docs = np.sort(np.random.default_rng(1).choice(10**12, 5000, replace=False))
    deltas = codec.delta_encode(docs, int(docs[0]))
    np.testing.assert_array_equal(codec.delta_decode(deltas, int(docs[0])), docs)


# --- build + query -----------------------------------------------------------

@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("index"))
    pages = generate_pages(spark, N_DOCS, vocab_size=VOCAB)
    builder = IndexBuilder(d, shard_size=256, n_groups=4)
    meta = builder.build(pages)
    return d, meta, pages


def _merged_copy(spark, src: str, dst: str) -> str:
    """``src`` copied to ``dst`` and merged to the term-major layout, so
    the point path can run without touching the shared fixture index."""
    import shutil

    shutil.copytree(src, dst)
    merge_to_term_major(spark, dst, n_buckets=8)
    return dst


@pytest.fixture(scope="module")
def merged(spark, built, tmp_path_factory):
    return _merged_copy(
        spark, built[0], str(tmp_path_factory.mktemp("merged") / "idx")
    )


def _point_or_batch(spark, mode, d, queries, k, merged_dir=None):
    """'batch': the segment batch scorer; 'maxscore': the term-major
    Block-Max MaxScore path over ``merged_dir``."""
    if mode == "batch":
        return segment_topk(read_segments(spark, d), queries, k=k,
                            index_dir=d)
    return term_major_topk(spark, merged_dir, queries, k=k)


def test_meta_and_lineage(built):
    d, meta, _ = built
    assert meta["n_docs"] == N_DOCS
    assert meta["n_shards"] == (N_DOCS + 255) // 256
    lin = IndexBuilder(d, shard_size=256, n_groups=4).lineage()
    assert len(lin) == 4
    assert all(r["status"] == "done" and r["postings"] > 0 for r in lin)


def test_build_metrics_published(built):
    """Every build publishes lineage/build_metrics.json — the per-phase
    wall table (north-star metrics artifact; also how round 4 located the
    build's serial costs). It must NOT register as a lineage commit unit."""
    import json as _json

    d, _, _ = built
    p = os.path.join(d, "lineage", "build_metrics.json")
    assert os.path.exists(p)
    m = _json.load(open(p))
    phases = m["phase_ms"]
    for k in ("doc_stats", "segment_job", "footer_stats", "commit",
              "term_stats", "total"):
        assert k in phases, k
    assert phases["total"] >= phases["segment_job"]
    # metrics file is invisible to the group-commit ledger
    assert len(IndexBuilder(d, shard_size=256, n_groups=4).lineage()) == 4


def test_segments_wellformed(spark, built):
    d, meta, _ = built
    seg = read_segments(spark, d)
    bad = seg.filter(
        (F.col("first_doc") > F.col("max_doc"))
        | (F.col("n") <= 0)
        | (F.col("n") > meta["block_size"])
    ).count()
    assert bad == 0
    # postings total matches raw postings count
    total = seg.agg(F.sum("n")).first()[0]
    raw = build_postings(built[2]).count()
    assert total == raw


@pytest.mark.parametrize(
    "mode",
    ["batch", "maxscore"],
)
def test_segment_query_matches_sql_path(spark, built, merged, mode):
    d, meta, pages = built
    queries_pd = generate_queries_pandas(40, vocab_size=VOCAB)
    queries = spark.createDataFrame(queries_pd)

    weighted = bm25_weights(build_postings(pages))
    expected = (
        bm25_topk(weighted, queries, k=10)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    got = (
        _point_or_batch(spark, mode, d, queries, 10, merged)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    assert list(got["query_id"]) == list(expected["query_id"])
    assert list(got["doc_id"]) == list(expected["doc_id"]), (
        f"mode={mode}: rank order diverged"
    )
    np.testing.assert_allclose(got["score"], expected["score"], rtol=1e-4)


def test_segment_query_weighted_matches_sql_path(spark, built):
    """The batch segment scorer's weighted mode (Σ qw·weight, duplicates
    adding) is rank-identical to the relational weighted path."""
    import pandas as pd

    d, meta, pages = built
    queries_pd = generate_queries_pandas(30, vocab_size=VOCAB)
    # positional weights + a planted duplicate term on the first query
    queries_pd["terms"] = queries_pd["terms"].map(list)
    queries_pd.at[0, "terms"] = queries_pd.at[0, "terms"] + [
        queries_pd.at[0, "terms"][0]
    ]
    queries_pd["weights"] = queries_pd["terms"].map(
        lambda ts: [0.5 * (i + 1) for i in range(len(ts))]
    )
    queries = spark.createDataFrame(queries_pd)

    weighted = bm25_weights(build_postings(pages))
    expected = (
        bm25_topk(weighted, queries, k=10, query_weighted=True)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    got = (
        segment_topk(read_segments(spark, d), queries, k=10,
                     query_weighted=True, index_dir=d)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    assert list(got["doc_id"]) == list(expected["doc_id"])
    np.testing.assert_allclose(got["score"], expected["score"], rtol=1e-4)
    # the query-at-a-time segment scorer is gone, and its switch with it
    with pytest.raises(TypeError):
        segment_topk(read_segments(spark, d), queries, k=10,
                     query_weighted=True, batch=False, index_dir=d)


def test_segment_topk_index_dir_runs_no_discovery_job(spark, built):
    """segment_topk(index_dir=...) derives the shard list from meta.json —
    a driver-side file read. Plan CONSTRUCTION must launch zero Spark jobs,
    and results must match the relational SQL path."""
    d, meta, pages = built
    queries = spark.createDataFrame(generate_queries_pandas(10, vocab_size=VOCAB))
    seg = read_segments(spark, d)

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    df = segment_topk(seg, queries, k=10, index_dir=d)  # construction only
    after = set(tracker.getJobIdsForGroup(None))
    assert after == before, "plan construction launched a Spark job"

    got = df.toPandas().sort_values(["query_id", "rank"])
    expected = (
        bm25_topk(bm25_weights(build_postings(pages)), queries, k=10)
        .toPandas().sort_values(["query_id", "rank"])
    )
    assert list(got["doc_id"]) == list(expected["doc_id"])


@pytest.mark.parametrize("k", [100, 1000])
def test_segment_query_large_k(spark, built, merged, k):
    """Deep paging: rank identity vs the relational path at k=100 and
    k=1000 (beyond the reference's k default; k >= n_docs of a shard makes
    every candidate a keeper, exercising the kk == span branch of the
    batch scorer and the full-merge branch of the term-major MaxScore)."""
    d, meta, pages = built
    queries = spark.createDataFrame(
        generate_queries_pandas(10, vocab_size=VOCAB)
    )
    expected = (
        bm25_topk(bm25_weights(build_postings(pages)), queries, k=k)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    for mode in ("batch", "maxscore"):
        got = (
            _point_or_batch(spark, mode, d, queries, k, merged)
            .toPandas().sort_values(["query_id", "rank"])
            .reset_index(drop=True)
        )
        assert list(got["doc_id"]) == list(expected["doc_id"]), mode
        np.testing.assert_allclose(got["score"], expected["score"],
                                   rtol=1e-4)


def test_encoder_parity():
    """The Arrow block encoder (in-kernel lexsort over UNSORTED input)
    commits byte-identical blocks to the pandas reference encoder over the
    same rows SORTED by (shard, term, doc_id), bounds from the derived
    tf-part function. Both sides get several batches: the reference
    carries its tail group across them. Compared after sorting by (shard,
    term, block_id) — emission order is the only thing the encoders may
    differ on."""
    import functools

    import pyarrow as pa

    from similaripy_spark.fulltext.index_build import (
        BLOCK_SIZE,
        _encode_partition_arrow_unsorted,
    )
    from similaripy_spark.fulltext.weights import tf_part_np
    from tests.pandas_kernels import encode_partition_pandas

    rng = np.random.default_rng(5)
    parts = []
    for shard in range(3):
        for t in range(40):
            # hot terms span several blocks; rare ones a partial block
            df = int(rng.integers(300, 500)) if t < 4 else int(
                rng.integers(1, 60))
            docs = rng.choice(512, size=df, replace=False) + shard * 512
            parts.append(pd.DataFrame({
                "shard": np.int32(shard),
                "term": f"t{t:03d}",
                "doc_id": docs.astype(np.int64),
                "tf": rng.integers(1, 9, size=df).astype(np.int32),
                "weight": rng.integers(5, 400, size=df).astype(np.float32),
            }))
    rows = pd.concat(parts, ignore_index=True)
    shuffled = rows.sample(frac=1.0, random_state=3).reset_index(drop=True)
    ordered = rows.sort_values(["shard", "term", "doc_id"]).reset_index(
        drop=True)

    def batches(pdf, n):
        return [pdf.iloc[i:i + n] for i in range(0, len(pdf), n)]

    def canon(pdf):
        return pdf.sort_values(["shard", "term", "block_id"]).reset_index(
            drop=True)

    bfn = functools.partial(tf_part_np, k1=1.2, b=0.75, avgdl=120.0)
    ref = canon(pd.concat(
        encode_partition_pandas(batches(ordered, 1000), BLOCK_SIZE, bfn),
        ignore_index=True,
    ))
    arrow = canon(pa.Table.from_batches(list(
        _encode_partition_arrow_unsorted(
            [pa.RecordBatch.from_pandas(b, preserve_index=False)
             for b in batches(shuffled, 1000)],
            BLOCK_SIZE, bfn,
        )
    )).to_pandas())
    assert len(ref) > 3 * 40  # hot terms produced multi-block lists
    assert list(arrow.columns) == list(ref.columns)
    for col in ref.columns:
        assert list(arrow[col]) == list(ref[col]), col


def test_segments_with_idf_serve_path_parity(spark, tmp_path):
    """The segment kernel has one df source, the segment rows: plain
    segments get df joined on inside segment_topk (segments_with_idf),
    pre-annotated ones (as IndexHandle holds them) carry it already —
    both must give IDENTICAL rows (doc ids and float-exact scores)."""
    from similaripy_spark.fulltext.docvalues import build_docvalues
    from similaripy_spark.fulltext.wand import segments_with_idf

    d = str(tmp_path / "serve")
    pages = generate_pages(spark, N_DOCS, vocab_size=VOCAB)
    IndexBuilder(d, shard_size=256, n_groups=2).build(pages)
    build_docvalues(pages, d, ["lang"])
    queries = spark.createDataFrame(
        generate_queries_pandas(40, vocab_size=VOCAB)
    )
    plain = read_segments(spark, d)
    served = segments_with_idf(plain, d)
    assert "df" in served.columns and "df" not in plain.columns
    # the filtered case unions the doc-values sentinel rows after the df
    # join on the plain side and after the load-time one on the served side
    for dv_filter in (None, {"lang": ["en"]}):
        a, b = (
            segment_topk(seg, queries, k=10, index_dir=d,
                         dv_filter=dv_filter)
            .toPandas().sort_values(["query_id", "rank"])
            .reset_index(drop=True)
            for seg in (plain, served)
        )
        assert len(a) > 0
        assert list(a["doc_id"]) == list(b["doc_id"])
        np.testing.assert_array_equal(
            a["score"].to_numpy(), b["score"].to_numpy()
        )


@pytest.fixture(scope="module")
def legacy_source(spark, tmp_path_factory):
    """A small committed index whose meta.json each legacy case rewrites
    (in a copy)."""
    d = str(tmp_path_factory.mktemp("legacy") / "src")
    pages = generate_pages(spark, 300, vocab_size=200)
    IndexBuilder(d, shard_size=128, n_groups=2).build(pages)
    return d, pages


@pytest.mark.parametrize("scheme", ["prod", "factored", None])
def test_legacy_weight_scheme_rejected(spark, legacy_source, tmp_path,
                                       scheme):
    """Only (tf, dl) blocks can be scored: a meta.json that names another
    format — 'prod', 'factored', or no weight_scheme field at all (the
    round-3 'prod' format) — must fail on every entry that opens the
    index, never score with the wrong arithmetic."""
    import json
    import shutil

    from similaripy_spark.fulltext.append import append_to_index
    from similaripy_spark.fulltext.retrieve import IndexHandle, open_index

    src, pages = legacy_source
    d = str(tmp_path / "legacy")
    shutil.copytree(src, d)
    meta_path = os.path.join(d, "meta.json")
    with open(meta_path) as f:
        meta = json.load(f)
    assert meta["weight_scheme"] == "raw"
    if scheme is None:
        del meta["weight_scheme"]
    else:
        meta["weight_scheme"] = scheme
    with open(meta_path, "w") as f:
        json.dump(meta, f)

    queries = spark.createDataFrame(generate_queries_pandas(3, vocab_size=200))
    entries = {
        "open_index": lambda: open_index(spark, d),
        "IndexHandle": lambda: IndexHandle(spark, d, cache=False),
        "term_major_topk": lambda: term_major_topk(spark, d, queries, k=5),
        "segment_topk": lambda: segment_topk(
            read_segments(spark, d), queries, k=5, index_dir=d
        ),
        "append_to_index": lambda: append_to_index(spark, d, pages=pages),
        "resumed build": lambda: IndexBuilder(
            d, shard_size=128, n_groups=2
        ).build(pages),
    }
    # the rejection names the format it found and says to rebuild
    found = rf"weight_scheme '{scheme or 'prod'}'.*rebuild"
    for name, call in entries.items():
        with pytest.raises(ValueError, match=found):
            call()


def _crash_after_lineage_publishes(monkeypatch, n):
    """Make ``IndexBuilder._publish_lineage`` raise on its (n+1)-th call,
    so a build dies after n group commits."""
    orig = IndexBuilder._publish_lineage
    calls = {"n": 0}

    def boom(self, *args, **kwargs):
        if calls["n"] >= n:
            raise RuntimeError(f"injected failure after {n} groups")
        calls["n"] += 1
        return orig(self, *args, **kwargs)

    monkeypatch.setattr(IndexBuilder, "_publish_lineage", boom)


def test_resume_after_injected_failure(spark, tmp_path, monkeypatch):
    d1, d2 = str(tmp_path / "a"), str(tmp_path / "b")
    pages = generate_pages(spark, 600, vocab_size=800)

    # uninterrupted reference build
    IndexBuilder(d1, shard_size=128, n_groups=4).build(pages)

    # interrupted build: crash after 2 of 4 group commits
    b2 = IndexBuilder(d2, shard_size=128, n_groups=4)
    with monkeypatch.context() as mp:
        _crash_after_lineage_publishes(mp, 2)
        with pytest.raises(RuntimeError, match="injected failure"):
            b2.build(pages)
    assert len(b2.committed_groups()) == 2

    # resume recomputes exactly the missing groups
    b2.build(pages, resume=True)
    assert len(b2.committed_groups()) == 4

    s1 = read_segments(spark, d1).orderBy("shard", "term", "block_id").toPandas()
    s2 = read_segments(spark, d2).orderBy("shard", "term", "block_id").toPandas()
    pd.testing.assert_frame_equal(s1, s2)


def test_term_stats(spark, built):
    d, _, pages = built
    ts = read_term_stats(spark, d).toPandas().set_index("term")
    raw = (
        build_postings(pages)
        .groupBy("term")
        .agg(F.count("*").alias("df"))
        .toPandas()
        .set_index("term")
    )
    assert ts["df"].to_dict() == raw["df"].to_dict()
    assert (ts["max_weight"] >= ts["min_weight"]).all()


def test_term_stats_driver_path_matches_spark_job(spark, tmp_path, monkeypatch):
    """The small-index driver-side term_stats aggregate (pyarrow over the
    committed block metadata) must be value- AND dtype-identical to the
    Spark-job aggregate it replaces below the block-count gate."""
    from similaripy_spark.fulltext import index_build
    from similaripy_spark.fulltext.index_build import read_term_stats

    pages = generate_pages(spark, 700, vocab_size=900)
    d_drv = str(tmp_path / "ts_drv")
    IndexBuilder(d_drv, shard_size=256, n_groups=2).build(pages)
    d_job = str(tmp_path / "ts_job")
    monkeypatch.setattr(index_build, "TERM_STATS_DRIVER_MAX_BLOCKS", 0)
    IndexBuilder(d_job, shard_size=256, n_groups=2).build(pages)
    a = read_term_stats(spark, d_drv)
    b = read_term_stats(spark, d_job)
    assert a.schema == b.schema
    pa_, pb_ = (
        x.toPandas().sort_values("term").reset_index(drop=True)
        for x in (a, b)
    )
    assert list(pa_["term"]) == list(pb_["term"])
    np.testing.assert_array_equal(pa_["df"], pb_["df"])
    np.testing.assert_array_equal(pa_["max_weight"], pb_["max_weight"])
    np.testing.assert_array_equal(pa_["min_weight"], pb_["min_weight"])
