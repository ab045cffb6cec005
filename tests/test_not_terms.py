"""MUST_NOT exclusion (``not_terms`` query column — wand._score_batch).

Contract: docs containing ANY of a query's not_terms are excluded from
that query's ranking; survivors' scores are unchanged (exclusion, not
scoring). Shard-local decidable — a doc's postings live wholly in its
shard — so the global merge is untouched, and the exclusion composes
with mode / min_match / doc-values filters. The relational twin (and the
bm25_not_topk gate oracle) is an anti-join of the score relation against
the NOT-term match set.
"""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from similaripy_spark.fulltext.index_build import (
    IndexBuilder,
    read_segments,
)
from similaripy_spark.fulltext.postings import build_postings
from similaripy_spark.fulltext.retrieve import open_index
from similaripy_spark.fulltext.wand import segment_topk
from similaripy_spark.fulltext.weights import bm25_weights
from similaripy_spark.operators.topk import top_k
from similaripy_spark.sources.pages import generate_pages

N_DOCS = 1500
K = 5


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
    # positive terms = tokens 1-4, NOT terms = tokens 5-6 of each doc
    toks = F.split(F.col("text"), " ")
    return corpus.filter(F.col("doc_id") < 40).select(
        F.col("doc_id").alias("query_id"),
        F.slice(toks, 1, 4).alias("terms"),
        F.slice(toks, 5, 2).alias("not_terms"),
    )


@pytest.fixture(scope="module")
def indexed(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("nt") / "idx")
    IndexBuilder(d, n_groups=3, shard_size=256).build(corpus)
    return d


def _rows(df):
    return [
        (r.query_id, r.doc_id, round(r.score, 9))
        for r in df.orderBy("query_id", "rank").collect()
    ]


def _assert_same_ranking(got, want, rtol=1e-4):
    assert [(q, d) for q, d, _ in got] == [(q, d) for q, d, _ in want]
    assert np.allclose(
        [s for _, _, s in got], [s for _, _, s in want], rtol=rtol
    )
    assert len(got) > 0


def _twin(corpus, queries, min_match=None):
    """Relational MUST_NOT twin: anti-join scores vs NOT match set."""
    w = bm25_weights(build_postings(corpus))
    qt = queries.select(
        "query_id", F.explode("terms").alias("term")
    ).filter(F.col("term") != "").distinct()
    nqt = queries.select(
        "query_id", F.explode("not_terms").alias("term")
    ).filter(F.col("term") != "").distinct()
    excl = nqt.join(
        build_postings(corpus).select("term", "doc_id"), "term"
    ).select("query_id", "doc_id").distinct()
    scored = (
        qt.join(w, "term")
        .groupBy("query_id", "doc_id")
        .agg(F.sum("weight").alias("score"), F.count("*").alias("got"))
    )
    if min_match is not None:
        scored = scored.filter(F.col("got") >= min_match)
    kept = scored.join(excl, ["query_id", "doc_id"], "left_anti")
    return _rows(
        top_k(kept.select("query_id", "doc_id", "score"), K,
              group="query_id", order_value="score", tiebreak="doc_id",
              keep_rank=True)
    )


def test_not_terms_match_relational_twin(spark, corpus, queries, indexed):
    seg = read_segments(spark, indexed)
    got = _rows(segment_topk(seg, queries, k=K, index_dir=indexed))
    _assert_same_ranking(got, _twin(corpus, queries))
    # exclusion actually bites: the twin without NOT terms differs
    plain = _rows(
        segment_topk(seg, queries.drop("not_terms"), k=K,
                     index_dir=indexed)
    )
    assert got != plain


def test_not_terms_compose_with_min_match(spark, corpus, queries, indexed):
    got = _rows(
        open_index(spark, indexed, cache=False).topk(
            queries, k=K, min_match=2
        )
    )
    _assert_same_ranking(got, _twin(corpus, queries, min_match=2))


def test_empty_and_null_not_terms_are_noops(spark, corpus, indexed):
    toks = F.split(F.col("text"), " ")
    base = corpus.filter(F.col("doc_id") < 20).select(
        F.col("doc_id").alias("query_id"), F.slice(toks, 1, 4).alias("terms")
    )
    plain = _rows(
        segment_topk(read_segments(spark, indexed), base, k=K,
                     index_dir=indexed)
    )
    empt = base.withColumn(
        "not_terms", F.array().cast("array<string>")
    )
    nul = base.withColumn(
        "not_terms", F.lit(None).cast("array<string>")
    )
    seg = read_segments(spark, indexed)
    assert _rows(segment_topk(seg, empt, k=K, index_dir=indexed)) == plain
    assert _rows(segment_topk(seg, nul, k=K, index_dir=indexed)) == plain


def test_not_terms_unsupported_paths_raise(spark, queries, indexed):
    with pytest.raises(ValueError):
        open_index(spark, indexed, cache=False).topk(
            queries, k=K, path="term_major"
        )


def test_not_terms_compose_with_dv_filter(
    spark, corpus, queries, tmp_path_factory
):
    from similaripy_spark.fulltext.docvalues import build_docvalues

    d = str(tmp_path_factory.mktemp("ntdv") / "idx")
    IndexBuilder(d, n_groups=2, shard_size=256).build(corpus)
    build_docvalues(corpus, d, ["lang"])
    got = _rows(
        open_index(spark, d, cache=False).topk(
            queries, k=K, filter={"lang": ["en"]}
        )
    )
    # twin: NOT anti-join plus the attribute restriction
    w = bm25_weights(build_postings(corpus)).join(
        corpus.filter(F.col("lang") == "en").select("doc_id"),
        "doc_id", "semi",
    )
    qt = queries.select(
        "query_id", F.explode("terms").alias("term")
    ).filter(F.col("term") != "").distinct()
    nqt = queries.select(
        "query_id", F.explode("not_terms").alias("term")
    ).filter(F.col("term") != "").distinct()
    excl = nqt.join(
        build_postings(corpus).select("term", "doc_id"), "term"
    ).select("query_id", "doc_id").distinct()
    scored = (
        qt.join(w, "term")
        .groupBy("query_id", "doc_id")
        .agg(F.sum("weight").alias("score"))
        .join(excl, ["query_id", "doc_id"], "left_anti")
    )
    want = _rows(
        top_k(scored, K, group="query_id", order_value="score",
              tiebreak="doc_id", keep_rank=True)
    )
    _assert_same_ranking(got, want)
