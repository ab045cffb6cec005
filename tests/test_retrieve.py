"""Unified front-end: routing rules + rank/score parity across the routing
boundary (VERDICT r3 item 6)."""

from __future__ import annotations

import numpy as np
import pytest

from similaripy_spark.fulltext.index_build import IndexBuilder
from similaripy_spark.fulltext.index_merge import merge_to_term_major, merged_n_buckets
from similaripy_spark.fulltext.retrieve import route, topk
from similaripy_spark.sources.pages import generate_pages, generate_queries_pandas

N_DOCS, VOCAB = 900, 1100


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ridx"))
    pages = generate_pages(spark, N_DOCS, vocab_size=VOCAB)
    IndexBuilder(d, shard_size=256, n_groups=3).build(pages)
    merge_to_term_major(spark, d, n_buckets=16)
    return d


def test_route_pure():
    assert route(5, has_merged=True) == "term_major"
    # measured: the shard sweep dominates beyond point batches
    assert route(500, has_merged=True) == "segment"
    assert route(10_000, has_merged=True) == "segment"
    # without the merged layout only the segment path exists
    assert route(5, has_merged=False) == "segment"
    assert route(500, has_merged=False) == "segment"


def test_merged_meta_records_buckets(built):
    assert merged_n_buckets(built) == 16


@pytest.fixture(scope="module")
def dup_built(spark, tmp_path_factory):
    """Every doc twice (ids i and i + 450): each doc's score ties exactly
    with its twin's, so ranks rest on the doc_id tie rule."""
    from pyspark.sql import functions as F

    d = str(tmp_path_factory.mktemp("ridx_dup"))
    base = generate_pages(spark, 450, vocab_size=VOCAB)
    pages = base.unionByName(
        base.withColumn("doc_id", F.col("doc_id") + 450)
    )
    IndexBuilder(d, shard_size=256, n_groups=3).build(pages)
    merge_to_term_major(spark, d, n_buckets=16)
    return d, pages


def _ranked(df):
    return (
        df.toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )


@pytest.mark.parametrize("n_queries", [8, 200])
def test_paths_rank_identical(spark, built, dup_built, n_queries):
    """Every physical path must return the same ranks and scores — routing
    is a physical choice, never a semantic one. On the duplicate-doc
    corpus scores tie exactly: the term-major kernel's own ranks must
    follow the same (score DESC, doc_id ASC) rule as the segment path's
    global merge and the relational ``bm25_topk``, in both modes."""
    from similaripy_spark.fulltext.postings import build_postings
    from similaripy_spark.fulltext.query import bm25_topk
    from similaripy_spark.fulltext.weights import bm25_weights

    queries = spark.createDataFrame(
        generate_queries_pandas(n_queries, vocab_size=VOCAB)
    )
    frames = {
        p: _ranked(topk(spark, built, queries, k=10, path=p))
        for p in ("segment", "term_major")
    }
    base, got = frames["segment"], frames["term_major"]
    assert list(got["query_id"]) == list(base["query_id"])
    assert list(got["doc_id"]) == list(base["doc_id"])
    np.testing.assert_allclose(got["score"], base["score"], rtol=1e-4)

    d, pages = dup_built
    key = ["query_id", "rank", "doc_id"]
    want = _ranked(
        bm25_topk(bm25_weights(build_postings(pages)), queries, k=10)
    )
    assert want.duplicated(["query_id", "score"]).any()  # exact ties
    for p in ("segment", "term_major"):
        got = _ranked(topk(spark, d, queries, k=10, path=p))
        assert got[key].values.tolist() == want[key].values.tolist(), p
        np.testing.assert_allclose(got["score"], want["score"], rtol=1e-6)
    seg_and, tm_and = (
        _ranked(topk(spark, d, queries, k=10, mode="and", path=p))
        for p in ("segment", "term_major")
    )
    assert seg_and.duplicated(["query_id", "score"]).any()
    assert tm_and[key].values.tolist() == seg_and[key].values.tolist()

    # a null term matches nothing on every path: query 1 ranks as if it
    # held only its non-null term, and the empty query 0 returns no rows
    schema = "query_id long, terms array<string>"
    nulls = spark.createDataFrame([(0, []), (1, ["t000001", None])], schema)
    clean = spark.createDataFrame([(0, []), (1, ["t000001"])], schema)
    weights = bm25_weights(build_postings(pages))
    want = _ranked(bm25_topk(weights, clean, k=10))
    assert len(want) and set(want["query_id"]) == {1}
    frames = {
        "bm25_topk": bm25_topk(weights, nulls, k=10),
        **{p: topk(spark, d, nulls, k=10, path=p)
           for p in ("segment", "term_major")},
    }
    for name, df in frames.items():
        got = _ranked(df)
        assert got[key].values.tolist() == want[key].values.tolist(), name
        np.testing.assert_allclose(got["score"], want["score"], rtol=1e-6)


def test_forced_term_major_batch_above_cap_raises(spark, built,
                                                  monkeypatch):
    """A forced term-major call collects its batch to the driver, capped
    at ``wand.TERM_MAJOR_MAX_QUERIES``: above the cap it raises and names
    the segment path; at the cap it serves."""
    from similaripy_spark.fulltext import wand

    monkeypatch.setattr(wand, "TERM_MAJOR_MAX_QUERIES", 4)
    over = spark.createDataFrame(generate_queries_pandas(5, vocab_size=VOCAB))
    with pytest.raises(ValueError, match="path='segment'"):
        topk(spark, built, over, k=10, path="term_major")
    with pytest.raises(ValueError, match="path='segment'"):
        wand.term_major_topk(spark, built, over, k=10)
    at = spark.createDataFrame(generate_queries_pandas(4, vocab_size=VOCAB))
    assert topk(spark, built, at, k=10, path="term_major").collect()


def test_term_major_batch_without_indexed_terms_is_empty(spark, built):
    """A point batch none of whose terms has a block in the index (absent
    or null terms only) returns no rows, in both modes."""
    q = spark.createDataFrame(
        [(0, ["zz_absent_term"]), (1, [None]), (2, [])],
        "query_id long, terms array<string>",
    )
    for mode in ("or", "and"):
        assert topk(spark, built, q, k=10, mode=mode).collect() == []


def test_idf_np_matches_idf_table(spark, built):
    """The kernels' numpy idf and the relational ``idf_table`` agree
    within 1 ulp over the index's whole vocabulary (Spark's ``log`` and
    ``np.log`` may differ in the last bit, so the kernels use only
    ``idf_np``)."""
    from similaripy_spark.fulltext.index_build import (
        read_meta,
        read_term_stats,
    )
    from similaripy_spark.fulltext.weights import idf_np, idf_table

    n_docs = int(read_meta(built)["n_docs"])
    ts = read_term_stats(spark, built)
    want = (
        idf_table(ts, n_docs).join(ts.select("term", "df"), "term")
        .toPandas()
    )
    assert len(want) > 100
    got = idf_np(want["df"].to_numpy(), n_docs)
    ulp = np.spacing(np.abs(want["idf"].to_numpy()))
    assert np.all(np.abs(got - want["idf"].to_numpy()) <= ulp)


def test_auto_routing_matches_forced(spark, built):
    queries = spark.createDataFrame(
        generate_queries_pandas(6, vocab_size=VOCAB)
    )
    auto = (
        topk(spark, built, queries, k=10)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    forced = (
        topk(spark, built, queries, k=10, path="term_major")
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    assert auto.equals(forced)


def test_missing_merged_rejected(spark, tmp_path):
    d = str(tmp_path / "nomerge")
    pages = generate_pages(spark, 300, vocab_size=400)
    IndexBuilder(d, shard_size=128, n_groups=2).build(pages)
    queries = spark.createDataFrame(generate_queries_pandas(4, vocab_size=400))
    # auto-routing silently falls back to the segment path…
    assert topk(spark, d, queries, k=5).count() > 0
    # …but an explicit merged-layout path is an error
    with pytest.raises(ValueError, match="merged layout"):
        topk(spark, d, queries, k=5, path="term_major")


def test_text_queries_tokenized_like_build(spark, built):
    """A raw ``text`` query column is tokenized with the build tokenizer
    inside topk — results identical to pre-tokenizing with tokenize_expr."""
    from pyspark.sql import functions as F

    from similaripy_spark.fulltext.tokenizer import tokenize_expr

    qp = generate_queries_pandas(40, vocab_size=VOCAB)
    text = spark.createDataFrame(qp).select(
        "query_id", F.array_join("terms", " ").alias("text")
    )
    terms = text.select(
        "query_id", tokenize_expr(F.col("text")).alias("terms")
    )
    a = (
        topk(spark, built, text, k=5)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    b = (
        topk(spark, built, terms, k=5)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    assert a.equals(b)
    assert len(a) > 0


def test_queries_without_terms_or_text_rejected(spark, built):
    bad = spark.range(3).withColumnRenamed("id", "query_id")
    with pytest.raises(ValueError, match="terms.*text|text.*terms"):
        topk(spark, built, bad, k=5)


def test_deep_paging_two_pass_rank_identity(spark, tmp_path):
    """The exact two-pass deep-paging scheme (per-shard cap k1 -> per-query
    tau floor -> filtered second sweep) must return the same ranking as the
    one-pass merge. k=300 over 2,000 pages runs two passes on both inputs
    (with few shards k1 >= k and segment_topk falls back to one-pass by
    construction):

    * 16 shards: k1=75 < k, and pass 1 sweeps a stride sample of the
      shards (sampling starts at 16 shards);
    * 8 shards: k1=150 < k, and pass 1 sweeps every shard. The sampled tau
      is merely a weaker valid floor than this one, never a different
      ranking."""
    from similaripy_spark.fulltext.index_build import read_meta, read_segments
    from similaripy_spark.fulltext.wand import segment_topk

    pages = generate_pages(spark, 2000, vocab_size=900)
    queries = spark.createDataFrame(generate_queries_pandas(30, vocab_size=900))
    for shard_size, n_shards in ((128, 16), (256, 8)):
        d = str(tmp_path / f"deep_{n_shards}")
        IndexBuilder(d, shard_size=shard_size, n_groups=4).build(pages)
        assert read_meta(d)["n_shards"] == n_shards
        seg = read_segments(spark, d)
        common = dict(k=300, index_dir=d)
        one = (
            segment_topk(seg, queries, deep_paging=False, **common)
            .toPandas().sort_values(["query_id", "rank"])
            .reset_index(drop=True)
        )
        two = (
            segment_topk(seg, queries, deep_paging=True, **common)
            .toPandas().sort_values(["query_id", "rank"])
            .reset_index(drop=True)
        )
        assert len(one) > 0
        assert list(two["query_id"]) == list(one["query_id"])
        assert list(two["doc_id"]) == list(one["doc_id"])
        np.testing.assert_allclose(two["score"], one["score"], rtol=1e-9)


def test_and_mode_relational_parity(spark, built):
    """mode='and' through the full index engine must equal the relational
    AND oracle: docs containing EVERY query term, scored by the same BM25
    sum, top-k by (score DESC, doc_id ASC). Batch and point paths agree,
    and the seg-side idf serve path gives identical rows."""
    from pyspark.sql import functions as F

    from similaripy_spark.fulltext.index_build import read_segments
    from similaripy_spark.fulltext.wand import (
        segment_topk,
        segments_with_idf,
        term_major_topk,
    )
    from similaripy_spark.fulltext.weights import bm25_weights
    from similaripy_spark.fulltext.postings import build_postings
    from similaripy_spark.operators.topk import top_k

    pages = generate_pages(spark, N_DOCS, vocab_size=VOCAB)
    queries = spark.createDataFrame(
        generate_queries_pandas(60, vocab_size=VOCAB)
    )
    got = (
        topk(spark, built, queries, k=10, mode="and")
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    # relational oracle: per-(query, doc) distinct-term match count must
    # equal the query's distinct term count
    w = bm25_weights(build_postings(pages))
    qt = queries.select(
        "query_id", F.explode(F.array_distinct("terms")).alias("term")
    )
    nreq = qt.groupBy("query_id").agg(F.count("*").alias("nreq"))
    joined = qt.join(w, "term").groupBy("query_id", "doc_id").agg(
        F.sum("weight").alias("score"),
        F.count("*").alias("nmatch"),
    )
    exp = (
        top_k(
            joined.join(nreq, "query_id")
            .filter(F.col("nmatch") == F.col("nreq"))
            .select("query_id", "doc_id", "score"),
            10, group="query_id", order_value="score", tiebreak="doc_id",
            keep_rank=True,
        )
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    assert list(got["doc_id"]) == list(exp["doc_id"])
    assert list(got["query_id"]) == list(exp["query_id"])
    np.testing.assert_allclose(got["score"], exp["score"], rtol=1e-4)

    # serve path (idf-annotated segments) + term-major point path parity
    seg = segments_with_idf(read_segments(spark, built), built)
    alts = {
        "segment": segment_topk(seg, queries, k=10, index_dir=built,
                                mode="and"),
        "term_major": term_major_topk(spark, built, queries, k=10,
                                      mode="and"),
    }
    for name, df in alts.items():
        alt = (
            df.toPandas().sort_values(["query_id", "rank"])
            .reset_index(drop=True)
        )
        assert list(alt["doc_id"]) == list(got["doc_id"]), name


def test_and_mode_term_major_parity(spark, built):
    """mode='and' through the term-major point path must equal the segment
    path row-for-row, including queries with an index-absent term (strict
    AND: empty — the nreq guard, since absent terms vanish at the
    blocks⋈terms join)."""
    import pandas as pd
    from pyspark.sql import functions as F  # noqa: F401

    qpd = generate_queries_pandas(12, vocab_size=VOCAB)
    qpd["terms"] = qpd["terms"].map(list)
    qpd.at[0, "terms"] = qpd.at[0, "terms"] + ["zz_absent_term"]
    queries = spark.createDataFrame(qpd)
    seg = (
        topk(spark, built, queries, k=10, mode="and", path="segment")
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    tm = (
        topk(spark, built, queries, k=10, mode="and", path="term_major")
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    assert list(tm["query_id"]) == list(seg["query_id"])
    assert list(tm["doc_id"]) == list(seg["doc_id"])
    np.testing.assert_allclose(tm["score"], seg["score"], rtol=1e-6)
    # the absent-term query returned nothing on either path
    assert 0 not in set(seg["query_id"])

    # alone, it is an empty frame that still has the rank column, on the
    # auto-routed handle and on the forced path
    from similaripy_spark.fulltext.retrieve import open_index

    absent = spark.createDataFrame(qpd.head(1))
    with open_index(spark, built, cache=False) as h:
        for path in (None, "term_major"):
            df = h.topk(absent, k=10, mode="and", path=path)
            assert df.columns == ["query_id", "doc_id", "score", "rank"]
            assert df.collect() == []


def test_open_index_handle_parity(spark, built):
    """The load-once handle (public serve path, VERDICT r4 missing #3) must
    return exactly the one-shot topk result on every routed path and mode,
    while reusing its cached segment relation across batches."""
    from similaripy_spark.fulltext.retrieve import open_index

    big = spark.createDataFrame(generate_queries_pandas(200, vocab_size=VOCAB))
    small = spark.createDataFrame(generate_queries_pandas(6, vocab_size=VOCAB))
    with open_index(spark, built).warm() as h:
        assert h.segments.storageLevel.useMemory  # cached serve relation
        for queries, mode in ((big, "or"), (small, "or"), (big, "and")):
            got = (
                h.topk(queries, k=10, mode=mode)
                .toPandas().sort_values(["query_id", "rank"])
                .reset_index(drop=True)
            )
            want = (
                topk(spark, built, queries, k=10, mode=mode)
                .toPandas().sort_values(["query_id", "rank"])
                .reset_index(drop=True)
            )
            assert list(got["query_id"]) == list(want["query_id"]), mode
            assert list(got["doc_id"]) == list(want["doc_id"]), mode
            np.testing.assert_allclose(got["score"], want["score"], rtol=1e-6)
    assert not h.segments.storageLevel.useMemory  # close() released it


def test_open_index_raw_text_queries(spark, built):
    """Raw 'text' queries tokenize with the build tokenizer inside the
    handle, same as the one-shot path."""
    from similaripy_spark.fulltext.retrieve import open_index

    qpd = generate_queries_pandas(5, vocab_size=VOCAB)
    raw = spark.createDataFrame(
        [(int(q.query_id), " ".join(q.terms)) for q in qpd.itertuples()],
        "query_id long, text string",
    )
    with open_index(spark, built, cache=False) as h:
        got = (
            h.topk(raw, k=5).toPandas()
            .sort_values(["query_id", "rank"]).reset_index(drop=True)
        )
    want = (
        topk(spark, built, spark.createDataFrame(qpd), k=5)
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    assert list(got["doc_id"]) == list(want["doc_id"])


def test_removed_query_options_raise(spark, built, tmp_path):
    """The bucket path, the term-major scorer choice, the segment path's
    query-at-a-time loop and the non-default block encoders are gone: an
    option that selected one now raises instead of silently running the
    default."""
    from similaripy_spark.fulltext.append import append_to_index
    from similaripy_spark.fulltext.index_build import read_segments
    from similaripy_spark.fulltext.postings import build_postings
    from similaripy_spark.fulltext.retrieve import open_index
    from similaripy_spark.fulltext.wand import segment_topk, term_major_topk

    queries = spark.createDataFrame(
        generate_queries_pandas(4, vocab_size=VOCAB)
    )
    h = open_index(spark, built, cache=False)
    with pytest.raises(ValueError, match="unknown path 'bucket'"):
        h.topk(queries, k=10, path="bucket")
    with pytest.raises(ValueError, match="unknown path 'bucket'"):
        topk(spark, built, queries, k=10, mode="and", path="bucket")
    for scorer in ("bmw", "maxscore"):
        with pytest.raises(TypeError, match="scorer"):
            term_major_topk(spark, built, queries, k=10, scorer=scorer)
    with pytest.raises(TypeError, match="prune"):
        term_major_topk(spark, built, queries, k=10, prune=False)
    for opt in ("n_buckets", "max_pruned_terms"):
        with pytest.raises(TypeError, match=opt):
            term_major_topk(spark, built, queries, k=10, **{opt: 16})
    seg = read_segments(spark, built)
    for opt in ("batch", "prune"):
        with pytest.raises(TypeError, match=opt):
            segment_topk(seg, queries, k=10, index_dir=built, **{opt: True})
    for enc in ("arrow", "arrow_stream", "pandas"):
        with pytest.raises(TypeError, match="encoder"):
            IndexBuilder(str(tmp_path / enc), encoder=enc)
    with pytest.raises(TypeError, match="encoder"):
        append_to_index(spark, built, pages=None, encoder="arrow")
    pages = generate_pages(spark, 10, vocab_size=VOCAB)
    with pytest.raises(TypeError, match="engine"):
        build_postings(pages, engine="pandas")


def test_describe_index(spark, built):
    """describe_index conservation laws: postings count equals the postings
    relation's row count, shard distribution brackets, merged metadata and
    build phases present; handle.describe() is the same dict."""
    from similaripy_spark.fulltext.index_build import (
        describe_index,
        read_meta,
    )
    from similaripy_spark.fulltext.postings import build_postings
    from similaripy_spark.fulltext.retrieve import open_index

    d = describe_index(spark, built)
    assert d["n_docs"] == N_DOCS
    pages = generate_pages(spark, N_DOCS, vocab_size=VOCAB)
    assert d["n_postings"] == build_postings(pages).count()
    sp = d["shard_postings"]
    assert 0 < sp["min"] <= sp["median"] <= sp["max"]
    assert d["n_shards_nonempty"] <= d["n_shards"]
    assert d["has_merged"] and d["merged_n_buckets"] == 16
    assert read_meta(built)["weight_scheme"] == "raw"
    assert "segment_job" in (d.get("build_phase_ms") or {})
    with open_index(spark, built, cache=False) as h:
        assert h.describe() == d


def test_min_match_relational_parity(spark, built):
    """min_match=m through the engine == the relational quorum oracle
    (HAVING count(distinct matched term) >= m); m=1 == OR ranking and
    m=len(terms) == AND on the same queries; invalid combos are loud."""
    from pyspark.sql import functions as F

    from similaripy_spark.fulltext.weights import bm25_weights
    from similaripy_spark.fulltext.postings import build_postings
    from similaripy_spark.operators.topk import top_k

    pages = generate_pages(spark, N_DOCS, vocab_size=VOCAB)
    # exactly-3-distinct-term queries so 2-of-3 is a real quorum and the
    # min_match=3 == AND bracket holds for every query
    qpdf = generate_queries_pandas(200, vocab_size=VOCAB)
    qpdf = qpdf[qpdf["terms"].map(len) >= 3].head(50).copy()
    qpdf["terms"] = qpdf["terms"].map(lambda t: sorted(t)[:3])
    assert len(qpdf) == 50
    queries = spark.createDataFrame(qpdf)

    def run(**kw):
        return (
            topk(spark, built, queries, k=10, **kw)
            .toPandas().sort_values(["query_id", "rank"])
            .reset_index(drop=True)
        )

    got = run(min_match=2)
    w = bm25_weights(build_postings(pages))
    qt = queries.select(
        "query_id", F.explode(F.array_distinct("terms")).alias("term")
    )
    joined = qt.join(w, "term").groupBy("query_id", "doc_id").agg(
        F.sum("weight").alias("score"), F.count("*").alias("nmatch")
    )
    exp = (
        top_k(
            joined.filter(F.col("nmatch") >= 2)
            .select("query_id", "doc_id", "score"),
            10, group="query_id", order_value="score", tiebreak="doc_id",
            keep_rank=True,
        )
        .toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    )
    assert list(got["query_id"]) == list(exp["query_id"])
    assert list(got["doc_id"]) == list(exp["doc_id"])
    np.testing.assert_allclose(got["score"], exp["score"], rtol=1e-4)

    # the quorum brackets: m=1 == plain OR, m=n_distinct == AND
    assert run(min_match=1)[["query_id", "doc_id"]].values.tolist() == \
        run()[["query_id", "doc_id"]].values.tolist()
    assert run(min_match=3)[["query_id", "doc_id"]].values.tolist() == \
        run(mode="and")[["query_id", "doc_id"]].values.tolist()

    with pytest.raises(ValueError, match="min_match only applies"):
        run(min_match=2, mode="and")
    with pytest.raises(ValueError, match="segment batch scorer"):
        run(min_match=2, path="term_major")


def test_more_like_this(spark, built):
    """MLT: seed docs as queries — relational twin of the term selection +
    scoring must rank-match; the seed doc never appears; k is not shorted
    when the seed would have ranked."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from similaripy_spark.fulltext.index_build import read_meta
    from similaripy_spark.fulltext.postings import build_postings_sql_plan
    from similaripy_spark.fulltext.retrieve import more_like_this, open_index
    from similaripy_spark.fulltext.weights import bm25_weights, idf_table
    from similaripy_spark.fulltext.postings import term_stats

    pages = generate_pages(spark, N_DOCS, vocab_size=VOCAB)
    seeds = [0, 137, 500, 899]
    k, max_terms = 10, 8

    got = more_like_this(
        spark, built, pages, seeds, k=k, max_terms=max_terms
    ).collect()
    assert {r["query_id"] for r in got} == set(seeds)
    assert all(r["doc_id"] != r["query_id"] for r in got)
    # full k results for every seed (exclusion must not short the list)
    from collections import Counter

    per_seed = Counter(r["query_id"] for r in got)
    assert all(per_seed[s] == k for s in seeds)

    # relational twin: same term selection, BM25 OR scoring, seed excluded
    posts = build_postings_sql_plan(pages)
    w = bm25_weights(posts)
    n_docs = int(read_meta(built)["n_docs"])
    idf = idf_table(term_stats(posts), n_docs)
    tf = posts.filter(F.col("doc_id").isin(seeds)).select(
        F.col("doc_id").alias("query_id"), "term", "tf"
    )
    win = Window.partitionBy("query_id").orderBy(
        (F.col("tf") * F.col("idf")).desc(), F.col("term").asc()
    )
    qterms = (
        tf.join(idf, "term")
        .withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= max_terms)
        .select("query_id", "term")
    )
    win2 = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    want = {
        (r["query_id"], r["doc_id"], r["rank"])
        for r in (
            qterms.join(w, "term")
            .filter(F.col("doc_id") != F.col("query_id"))
            .groupBy("query_id", "doc_id")
            .agg(F.sum("weight").alias("score"))
            .withColumn("rank", F.row_number().over(win2))
            .filter(F.col("rank") <= k)
            .collect()
        )
    }
    assert {(r["query_id"], r["doc_id"], r["rank"]) for r in got} == want

    # handle method with exclude_seed=False: the seed doc itself ranks
    # (it trivially matches its own top terms)
    with open_index(spark, built, cache=False) as h:
        inc = h.more_like_this(
            pages, seeds, k=k, max_terms=max_terms, exclude_seed=False
        ).filter(F.col("doc_id") == F.col("query_id")).count()
    assert inc == len(seeds)
