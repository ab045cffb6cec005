"""Doc-values sidecar (fulltext/docvalues.py): filtered retrieval + facets.

Contract (docvalues.py docstring): a ``dv_filter`` restricts ranking to
docs whose attribute is IN the list (AND across fields) with EXACT
surviving top-k — the predicate filters at the kernel's decode choke
point, so excluded docs can never enter a candidate set or crowd a local
top-k. Corpus stats stay whole-corpus (Lucene filter-query semantics),
which is exactly the relational oracle used below and in the
bm25_filter_topk gate entry: weights over the full corpus, ranking
restricted by an attribute join. Facet counts are match-set aggregations
grouped by the attribute; their oracle is fully relational too.
"""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from similaripy_spark.fulltext.docvalues import (
    StaleDocValuesError,
    build_docvalues,
    build_lut,
    collapse_topk,
    facet_counts,
    load_dict,
)
from similaripy_spark.fulltext.delete import delete_docs
from similaripy_spark.fulltext.index_build import (
    IndexBuilder,
    read_segments,
)
from similaripy_spark.fulltext.postings import build_postings
from similaripy_spark.fulltext.query import bm25_topk
from similaripy_spark.fulltext.retrieve import open_index
from similaripy_spark.fulltext.wand import segment_topk
from similaripy_spark.fulltext.weights import bm25_weights
from similaripy_spark.sources.pages import generate_pages

N_DOCS = 1500


@pytest.fixture(scope="module")
def corpus(spark):
    # lang: 'xx' for doc_id % 20 == 0, else 'en' (sources/pages.py);
    # bucket: a second derived attribute for multi-field AND tests;
    # site: NULL for every fourth doc (collapse's NULL singleton groups)
    pages = (
        generate_pages(spark, N_DOCS, vocab_size=400, partitions=8)
        .withColumn(
            "bucket", F.concat(F.lit("b"), (F.col("doc_id") % 3))
        )
        .withColumn(
            "site",
            F.when(F.col("doc_id") % 4 == 0, F.lit(None)).otherwise(
                F.concat(F.lit("s"), F.col("doc_id") % 3)
            ),
        )
        .persist()
    )
    pages.count()
    yield pages
    pages.unpersist()


@pytest.fixture(scope="module")
def queries(corpus):
    return corpus.filter(F.col("doc_id") < 40).select(
        F.col("doc_id").alias("query_id"),
        F.split(F.col("text"), " ").alias("terms"),
    )


@pytest.fixture(scope="module")
def indexed(spark, corpus, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("dv") / "idx")
    IndexBuilder(d, n_groups=3, shard_size=256).build(corpus)
    build_docvalues(
        corpus, d, ["lang", "bucket", "site", ("warc_ts", "numeric")]
    )
    return d


@pytest.fixture(scope="module")
def tombstoned(spark, corpus, tmp_path_factory):
    """An index with every fifth doc (doc_id % 5 == 1) deleted →
    (index_dir, deleted ids)."""
    d = str(tmp_path_factory.mktemp("dvfacet") / "idx")
    IndexBuilder(d, n_groups=2, shard_size=256).build(corpus)
    build_docvalues(corpus, d, ["lang", "bucket"])
    deleted = [i for i in range(N_DOCS) if i % 5 == 1]
    delete_docs(spark, d, deleted)
    return d, deleted


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


def _oracle(corpus, queries, keep_expr, k=5):
    """Whole-corpus weights, ranking restricted to docs matching the
    attribute predicate — a doc's score involves only its own postings,
    so filtering weight rows by doc_id equals filtering results."""
    keep = corpus.filter(keep_expr).select("doc_id")
    w = bm25_weights(build_postings(corpus)).join(keep, "doc_id", "semi")
    return _rows(bm25_topk(w, queries, k=k))


def test_dict_and_lut(indexed):
    assert load_dict(indexed, "lang") == ["en", "xx"]
    lut = build_lut(indexed, "lang", ["xx"])
    assert lut.tolist() == [False, False, True]
    # unknown values match nothing, code 0 (NULL) never matches
    assert build_lut(indexed, "lang", ["nope"]).any() == False  # noqa: E712


def test_filtered_topk_exact_vs_relational(spark, corpus, queries, indexed):
    want = _oracle(corpus, queries, F.col("lang") == "xx")
    seg = read_segments(spark, indexed)
    got = _rows(
        segment_topk(seg, queries, k=5, index_dir=indexed,
                     dv_filter={"lang": ["xx"]})
    )
    _assert_same_ranking(got, want)


def test_filtered_point_path_and_and_mode(spark, corpus, queries, indexed):
    """AND mode composes with the filter: relational twin = docs matching
    every query term, restricted to the attribute. (Filtered queries of
    any batch size are served by the segment batch scorer.)"""
    seg = read_segments(spark, indexed)
    keep = corpus.filter(F.col("lang") == "en").select("doc_id")
    w = bm25_weights(build_postings(corpus)).join(keep, "doc_id", "semi")
    qt = queries.select(
        "query_id", F.explode("terms").alias("term")
    ).filter(F.col("term") != "").distinct()
    need = qt.groupBy("query_id").agg(F.count("*").alias("need"))
    scored = (
        qt.join(w, "term")
        .groupBy("query_id", "doc_id")
        .agg(F.sum("weight").alias("score"), F.count("*").alias("got"))
        .join(need, "query_id")
        .filter(F.col("got") == F.col("need"))
    )
    from similaripy_spark.operators.topk import top_k

    want_and = _rows(
        top_k(scored, 5, group="query_id", order_value="score",
              tiebreak="doc_id", keep_rank=True)
    )
    got_and = _rows(
        segment_topk(seg, queries, k=5, index_dir=indexed, mode="and",
                     dv_filter={"lang": ["en"]})
    )
    _assert_same_ranking(got_and, want_and)


def test_multi_field_and_in_list(spark, corpus, queries, indexed):
    want = _oracle(
        corpus, queries,
        (F.col("lang") == "en") & F.col("bucket").isin("b0", "b2"),
    )
    got = _rows(
        open_index(spark, indexed, cache=False).topk(
            queries, k=5, filter={"lang": ["en"], "bucket": ["b0", "b2"]}
        )
    )
    _assert_same_ranking(got, want)


def test_filter_composes_with_tombstones(
    spark, corpus, queries, tmp_path_factory
):
    d = str(tmp_path_factory.mktemp("dvtomb") / "idx")
    IndexBuilder(d, n_groups=2, shard_size=256).build(corpus)
    build_docvalues(corpus, d, ["lang"])
    deleted = [i for i in range(N_DOCS) if i % 7 == 2]
    delete_docs(spark, d, deleted)
    want = _oracle(
        corpus, queries,
        (F.col("lang") == "en") & ~F.col("doc_id").isin(deleted),
    )
    got = _rows(
        open_index(spark, d, cache=False).topk(
            queries, k=5, filter={"lang": ["en"]}
        )
    )
    _assert_same_ranking(got, want)


def test_empty_and_unknown_filters(spark, queries, indexed):
    handle = open_index(spark, indexed, cache=False)
    assert handle.topk(
        queries, k=5, filter={"lang": ["nope"]}
    ).count() == 0
    with pytest.raises(ValueError):
        handle.topk(queries, k=5, filter={})
    with pytest.raises(StaleDocValuesError):
        handle.topk(queries, k=5, filter={"missing_field": ["x"]})
    with pytest.raises(ValueError):
        handle.topk(queries, k=5, filter={"lang": ["en"]},
                    path="term_major")


def test_append_docvalues_matches_rebuild(
    spark, corpus, queries, tmp_path_factory
):
    """append_docvalues catches the sidecar up to an appended index:
    filtered results equal a full-corpus twin, the old dictionary stays a
    PREFIX of the merged one (append-only codes — an open reader's lut
    stays valid), and the misuse paths fail loudly."""
    from similaripy_spark.fulltext.append import append_to_index
    from similaripy_spark.fulltext.docvalues import (
        append_docvalues,
        load_dict,
    )

    # a dict value that only exists in the delta, to force dictionary
    # growth through the append path
    pages = corpus.withColumn(
        "bucket",
        F.when(
            (F.col("doc_id") >= 1024) & (F.col("doc_id") % 5 == 0),
            F.lit("zonly"),
        ).otherwise(F.concat(F.lit("b"), F.col("doc_id") % 3)),
    )
    base = pages.filter(F.col("doc_id") < 1024)
    delta = pages.filter(F.col("doc_id") >= 1024)
    d = str(tmp_path_factory.mktemp("dvapp") / "idx")
    IndexBuilder(
        d, n_groups=2, shard_size=256
    ).build(base)
    build_docvalues(base, d, ["bucket", ("warc_ts", "numeric")])
    old_dict = load_dict(d, "bucket")
    append_to_index(spark, d, delta)
    with pytest.raises(ValueError):
        append_docvalues(delta, d, fields=["bucket"])  # partial set
    with pytest.raises(ValueError):
        append_docvalues(base, d)  # wrong delta (count gap mismatch)
    side = append_docvalues(delta, d)
    assert side["n_docs"] == N_DOCS
    # append-only dictionary: old codes stable, new value appended
    new_dict = load_dict(d, "bucket")
    assert new_dict[: len(old_dict)] == old_dict
    assert "zonly" in new_dict
    handle = open_index(spark, d, cache=False)
    want = _oracle(pages, queries, F.col("bucket") == "zonly")
    got = _rows(handle.topk(queries, k=5, filter={"bucket": ["zonly"]}))
    _assert_same_ranking(got, want)
    lo = int(
        pages.selectExpr("percentile(unix_micros(warc_ts), 0.5)").first()[0]
    )
    want_r = _oracle(pages, queries, F.unix_micros("warc_ts") >= lo)
    got_r = _rows(handle.topk(queries, k=5, filter={"warc_ts": (lo, None)}))
    _assert_same_ranking(got_r, want_r)
    # already fresh — nothing to append
    with pytest.raises(ValueError):
        append_docvalues(delta, d)


def test_stale_after_append_raises(spark, corpus, queries, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("dvstale") / "idx")
    base = corpus.filter(F.col("doc_id") < 1024)
    delta = corpus.filter(F.col("doc_id") >= 1024)
    IndexBuilder(
        d, n_groups=2, shard_size=256
    ).build(base)
    build_docvalues(base, d, ["lang"])
    from similaripy_spark.fulltext.append import append_to_index

    append_to_index(spark, d, delta)
    with pytest.raises(StaleDocValuesError):
        open_index(spark, d, cache=False).topk(
            queries, k=5, filter={"lang": ["en"]}
        ).count()
    # rebuild over the grown corpus heals it
    build_docvalues(corpus, d, ["lang"])
    want = _oracle(corpus, queries, F.col("lang") == "xx")
    got = _rows(
        open_index(spark, d, cache=False).topk(
            queries, k=5, filter={"lang": ["xx"]}
        )
    )
    _assert_same_ranking(got, want)


def test_numeric_range_filter_exact(spark, corpus, queries, indexed):
    lo_us, hi_us = [
        int(r[0])
        for r in corpus.selectExpr(
            "percentile(unix_micros(warc_ts), 0.25)",
        ).collect()
    ] + [
        int(r[0])
        for r in corpus.selectExpr(
            "percentile(unix_micros(warc_ts), 0.75)",
        ).collect()
    ]
    want = _oracle(
        corpus, queries,
        (F.unix_micros("warc_ts") >= lo_us)
        & (F.unix_micros("warc_ts") <= hi_us),
    )
    handle = open_index(spark, indexed, cache=False)
    got = _rows(
        handle.topk(queries, k=5, filter={"warc_ts": (lo_us, hi_us)})
    )
    _assert_same_ranking(got, want)
    # datetime bounds coerce to the same epoch-micros ints
    import pandas as pd

    got_dt = _rows(
        handle.topk(
            queries, k=5,
            filter={"warc_ts": (pd.Timestamp(lo_us * 1000),
                                pd.Timestamp(hi_us * 1000))},
        )
    )
    assert got_dt == got
    # open-ended range + dict filter composition
    want_open = _oracle(
        corpus, queries,
        (F.unix_micros("warc_ts") >= lo_us) & (F.col("lang") == "en"),
    )
    got_open = _rows(
        handle.topk(
            queries, k=5,
            filter={"warc_ts": (lo_us, None), "lang": ["en"]},
        )
    )
    _assert_same_ranking(got_open, want_open)


def test_kind_mismatch_and_numeric_facet_raise(spark, queries, indexed):
    handle = open_index(spark, indexed, cache=False)
    with pytest.raises(ValueError):
        handle.topk(queries, k=5, filter={"lang": (0, 1)})
    with pytest.raises(ValueError):
        handle.topk(queries, k=5, filter={"warc_ts": ["2020"]})
    # a wrong-kind operator error names the operator to use instead
    with pytest.raises(ValueError, match="bucket it into a dict field"):
        facet_counts(spark, queries, indexed, "warc_ts")
    from similaripy_spark.fulltext.docvalues import facet_stats

    with pytest.raises(ValueError, match="use facet_counts"):
        facet_stats(spark, queries, indexed, "lang")


def _facet_twin(corpus, queries, mode="or", drop_ids=None):
    """Relational facet oracle straight off the corpus tables."""
    qt = queries.select(
        "query_id", F.explode("terms").alias("term")
    ).filter(F.col("term") != "").distinct()
    posts = build_postings(corpus).select("term", "doc_id")
    m = qt.join(posts, "term").select("query_id", "doc_id")
    if mode == "and":
        need = qt.groupBy("query_id").agg(F.count("*").alias("need"))
        m = (
            m.groupBy("query_id", "doc_id")
            .agg(F.count("*").alias("got"))
            .join(need, "query_id")
            .filter(F.col("got") == F.col("need"))
            .select("query_id", "doc_id")
        )
    else:
        m = m.distinct()
    if drop_ids:
        m = m.filter(~F.col("doc_id").isin(drop_ids))
    return {
        (r.query_id, r.lang): r.n
        for r in m.join(
            corpus.select("doc_id", "lang"), "doc_id"
        ).groupBy("query_id", "lang").agg(F.count("*").alias("n"))
        .collect()
    }


@pytest.mark.parametrize("mode,cap", [
    pytest.param("or", None, id="or"),
    pytest.param("and", None, id="and"),
    pytest.param("or", 1, id="or-cap1"),
])
def test_facet_counts_match_relational(spark, corpus, queries, indexed,
                                       monkeypatch, mode, cap):
    """cap=1 puts the batch's terms above the term-pushdown cap, so the
    scan semi-joins a broadcast of them instead of a literal isin."""
    if cap is not None:
        from similaripy_spark.fulltext import query

        monkeypatch.setattr(query, "TERM_PUSHDOWN_CAP", cap)
    got = {
        (r.query_id, r.value): r.n_docs
        for r in facet_counts(
            spark, queries, indexed, "lang", mode=mode
        ).collect()
    }
    assert got == _facet_twin(corpus, queries, mode=mode)
    assert len(got) > 0


def test_facet_stats_match_relational(spark, corpus, queries, indexed):
    from similaripy_spark.fulltext.docvalues import facet_stats

    got = {
        r.query_id: (r.n_docs, r.vmin, r.vmax, r.vsum, round(r.vavg, 9))
        for r in facet_stats(
            spark, queries, indexed, "warc_ts"
        ).collect()
    }
    qt = queries.select(
        "query_id", F.explode("terms").alias("term")
    ).filter(F.col("term") != "").distinct()
    m = (
        qt.join(build_postings(corpus).select("term", "doc_id"), "term")
        .select("query_id", "doc_id")
        .distinct()
        .join(
            corpus.select(
                "doc_id", F.unix_micros("warc_ts").alias("v")
            ),
            "doc_id",
        )
    )
    want = {
        r.query_id: (
            r.n, r.mn, r.mx, r.sm, round(r.sm / r.n, 9)
        )
        for r in m.groupBy("query_id").agg(
            F.count("*").alias("n"), F.min("v").alias("mn"),
            F.max("v").alias("mx"), F.sum("v").alias("sm"),
        ).collect()
    }
    assert got == want and len(got) > 0
    # dict fields are rejected
    with pytest.raises(ValueError):
        facet_stats(spark, queries, indexed, "lang")


@pytest.mark.parametrize("ascending", [False, True])
def test_sort_topk_matches_relational(spark, corpus, queries, indexed,
                                      ascending):
    """Sort-by-attribute retrieval: top-k matches per query ordered by
    the numeric doc-value (newest/oldest-first), doc_id tiebreak."""
    from similaripy_spark.fulltext.docvalues import sort_topk

    got = [
        (r.query_id, r.doc_id, r.value)
        for r in sort_topk(
            spark, queries, indexed, "warc_ts", k=5, ascending=ascending
        ).orderBy("query_id", "rank").collect()
    ]
    qt = queries.select(
        "query_id", F.explode("terms").alias("term")
    ).filter(F.col("term") != "").distinct()
    m = (
        qt.join(build_postings(corpus).select("term", "doc_id"), "term")
        .select("query_id", "doc_id")
        .distinct()
        .join(
            corpus.select(
                "doc_id", F.unix_micros("warc_ts").alias("value")
            ),
            "doc_id",
        )
    )
    from pyspark.sql import Window
    from pyspark.sql import functions as SF

    order = (
        [SF.col("value").asc(), SF.col("doc_id").asc()]
        if ascending
        else [SF.col("value").desc(), SF.col("doc_id").asc()]
    )
    w = Window.partitionBy("query_id").orderBy(*order)
    want = [
        (r.query_id, r.doc_id, r.value)
        for r in m.withColumn("rank", SF.row_number().over(w))
        .filter(SF.col("rank") <= 5)
        .orderBy("query_id", "rank")
        .collect()
    ]
    assert got == want and len(got) > 0


def test_sort_topk_composes_with_filter(spark, corpus, queries, indexed):
    from similaripy_spark.fulltext.docvalues import sort_topk

    got = sort_topk(
        spark, queries, indexed, "warc_ts", k=5,
        dv_filter={"lang": ["xx"]},
    ).collect()
    xx = {
        r.doc_id
        for r in corpus.filter("lang='xx'").select("doc_id").collect()
    }
    assert got and all(r.doc_id in xx for r in got)
    with pytest.raises(ValueError):
        sort_topk(spark, queries, indexed, "lang", k=5)


def test_facet_stats_survives_int64_sum_overflow(
    spark, corpus, queries, indexed
):
    """Sums accumulate in decimal(38,0): epoch-microsecond-scale values
    over a big match set overflow a LongType sum silently (non-ANSI
    wraparound) — 1500 docs at ~7e15 sum past int64's 9.2e18."""
    from decimal import Decimal

    from similaripy_spark.fulltext.docvalues import facet_stats

    big = corpus.withColumn(
        "big", (F.lit(7_000_000_000_000_000) + F.col("doc_id")).cast("long")
    )
    build_docvalues(big, indexed, [("big", "numeric")])
    row = facet_stats(spark, queries.limit(1), indexed, "big").first()
    want_sum = sum(7_000_000_000_000_000 + i for i in range(N_DOCS))
    assert want_sum > 2**63 - 1  # the trap is armed
    assert int(Decimal(row.vsum)) == want_sum
    assert abs(row.vavg - want_sum / N_DOCS) < 1e-3 * row.vavg


def test_sort_topk_keeps_int64_precision(spark, corpus, queries, indexed):
    """The ordering key stays int64: values differing by 1 above 2^53
    collapse under a double cast into doc_id-ordered ties — constructed
    so the collapsed order is exactly the WRONG order."""
    from similaripy_spark.fulltext.docvalues import sort_topk

    big = corpus.withColumn(
        "big2",
        (F.lit(2**53) + F.lit(N_DOCS) - F.col("doc_id")).cast("long"),
    )
    build_docvalues(big, indexed, [("big2", "numeric")])
    got = [
        r.doc_id
        for r in sort_topk(
            spark, queries.limit(1), indexed, "big2", k=5, ascending=True
        ).orderBy("rank").collect()
    ]
    # ascending value = descending doc_id; a double-collapsed tie would
    # return ascending doc_id instead
    assert got == [N_DOCS - 1 - i for i in range(5)]


def test_bare_string_filter_rejected(spark, queries, indexed):
    handle = open_index(spark, indexed, cache=False)
    with pytest.raises(ValueError, match="bare string"):
        handle.topk(queries, k=5, filter={"lang": "en"})


def test_partial_field_rebuild_on_moved_index_rejected(
    spark, corpus, tmp_path_factory
):
    """After the index grows, rebuilding a SUBSET of sidecar fields must
    not stamp untouched (still-stale) fields as fresh."""
    from similaripy_spark.fulltext.append import append_to_index
    from similaripy_spark.fulltext.docvalues import StaleDocValuesError

    d = str(tmp_path_factory.mktemp("dvpart") / "idx")
    base = corpus.filter(F.col("doc_id") < 1024)
    delta = corpus.filter(F.col("doc_id") >= 1024)
    IndexBuilder(
        d, n_groups=2, shard_size=256
    ).build(base)
    build_docvalues(base, d, ["lang"])
    append_to_index(spark, d, delta)
    with pytest.raises(StaleDocValuesError, match="rebuild ALL"):
        build_docvalues(corpus, d, ["bucket"])
    # rebuilding everything (old + new field) is the sanctioned path
    build_docvalues(corpus, d, ["lang", "bucket"])
    got = _rows(
        open_index(spark, d, cache=False).topk(
            corpus.filter(F.col("doc_id") < 40).select(
                F.col("doc_id").alias("query_id"),
                F.split(F.col("text"), " ").alias("terms"),
            ),
            k=5, filter={"bucket": ["b1"]},
        )
    )
    assert got


def _collapse_twin(corpus, queries, field, mode="or", keep=None,
                   drop_ids=None, k=5, per_value=2):
    """Relational collapse oracle: full BM25 over the corpus tables
    (whole-corpus weights), AND on the distinct-term count, the
    attribute/deletion restriction, per-(query, value) row_number with a
    NULL value its own group per doc, then global top-k."""
    from pyspark.sql import Window

    from similaripy_spark.operators.topk import top_k

    w = bm25_weights(build_postings(corpus))
    qt = queries.select(
        "query_id", F.explode("terms").alias("term")
    ).filter(F.col("term") != "").distinct()
    scored = qt.join(w, "term").groupBy("query_id", "doc_id").agg(
        F.sum("weight").alias("score"), F.count("*").alias("nm")
    )
    if mode == "and":
        need = qt.groupBy("query_id").agg(F.count("*").alias("need"))
        scored = scored.join(need, "query_id").filter(
            F.col("nm") == F.col("need")
        )
    docs = corpus if keep is None else corpus.filter(keep)
    if drop_ids:
        docs = docs.filter(~F.col("doc_id").isin(drop_ids))
    scored = scored.join(
        docs.select("doc_id", F.col(field).alias("value")), "doc_id"
    )
    grp = F.coalesce(
        F.col("value"), F.concat(F.lit("\x00"), F.col("doc_id").cast("string"))
    )
    vw = Window.partitionBy("query_id", grp).orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    best = scored.withColumn("vr", F.row_number().over(vw)).filter(
        F.col("vr") <= per_value
    )
    return [
        (r.query_id, r.doc_id, r.value, round(r.score, 6))
        for r in top_k(
            best.select("query_id", "doc_id", "value", "score"),
            k, group="query_id", order_value="score", tiebreak="doc_id",
            keep_rank=True,
        ).orderBy("query_id", "rank").collect()
    ]


def test_collapse_topk_matches_relational(spark, corpus, queries, indexed,
                                          tombstoned):
    """Field collapsing: at most per_value docs per attribute value, in
    OR and AND mode, under a dv_filter, over a tombstoned index, and with
    NULL-attribute docs (each its own group)."""
    for case in ("or", "and", "filter", "tombstones", "null"):
        _check_collapse(spark, corpus, queries, indexed, tombstoned, case)
    with pytest.raises(ValueError):
        collapse_topk(spark, queries, indexed, "warc_ts", k=5)


def _check_collapse(spark, corpus, queries, indexed, tombstoned, case):
    from collections import Counter

    field = "site" if case == "null" else "bucket"
    d, deleted = tombstoned if case == "tombstones" else (indexed, None)
    mode = "and" if case == "and" else "or"
    keep = (F.col("lang") == "en") if case == "filter" else None
    got = [
        (r.query_id, r.doc_id, r.value, round(r.score, 6))
        for r in collapse_topk(
            spark, queries, d, field, k=5, per_value=2, mode=mode,
            dv_filter={"lang": ["en"]} if case == "filter" else None,
        ).orderBy("query_id", "rank").collect()
    ]
    want = _collapse_twin(
        corpus, queries, field, mode=mode, keep=keep, drop_ids=deleted
    )
    assert [(q, d, v) for q, d, v, _ in got] == [
        (q, d, v) for q, d, v, _ in want
    ]
    assert np.allclose(
        [s for *_, s in got], [s for *_, s in want], rtol=1e-9
    )
    assert len(got) > 0, case
    # collapsing bites: no query has >2 docs of one (non-NULL) value
    for qid in {q for q, *_ in got}:
        c = Counter(v for q, _, v, _ in got if q == qid and v is not None)
        assert max(c.values(), default=0) <= 2, case
    if case == "null":
        assert any(v is None for _, _, v, _ in got)


def test_facet_counts_exclude_tombstones(spark, corpus, queries, tombstoned):
    d, deleted = tombstoned
    got = {
        (r.query_id, r.value): r.n_docs
        for r in facet_counts(spark, queries, d, "lang").collect()
    }
    assert got == _facet_twin(corpus, queries, drop_ids=deleted)
