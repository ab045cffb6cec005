"""End-to-end parity for the fulltext slice: generator determinism,
tokenizer equivalence, shuffle-free postings vs SQL plan, and BM25 top-k
rank-identity against the pure-Python oracle (FIXTURES.md §§1-3)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from similaripy_spark.fulltext.postings import (
    build_postings,
    build_postings_sql_plan,
)
from similaripy_spark.fulltext.query import bm25_topk
from similaripy_spark.fulltext.tokenizer import (
    arrow_tokens,
    tokenize_expr,
    tokenize_str,
)
from similaripy_spark.fulltext.weights import bm25_weights
from similaripy_spark.sources.pages import (
    generate_pages,
    generate_pages_pandas,
    generate_queries_pandas,
)
from tests import oracle_fulltext as OF

N_DOCS, VOCAB = 1000, 2000


@pytest.fixture(scope="module")
def pages(spark):
    df = generate_pages(spark, N_DOCS, vocab_size=VOCAB).cache()
    df.count()
    return df


@pytest.fixture(scope="module")
def pages_pd():
    return generate_pages_pandas(N_DOCS, vocab_size=VOCAB)


def test_generator_deterministic_across_partitioning(spark, pages_pd):
    a = generate_pages(spark, 200, vocab_size=VOCAB, partitions=2)
    b = generate_pages(spark, 200, vocab_size=VOCAB, partitions=7)
    pa = a.select("doc_id", "text", "url", "lang").toPandas().sort_values("doc_id")
    pb = b.select("doc_id", "text", "url", "lang").toPandas().sort_values("doc_id")
    pd.testing.assert_frame_equal(pa.reset_index(drop=True), pb.reset_index(drop=True))
    # matches the driver-side twin (byte-identical text per doc/url)
    ref = pages_pd[pages_pd.doc_id < 200]
    assert list(pa["text"]) == list(ref["text"])


def test_pages_shape(pages):
    row = pages.filter("doc_id = 0").first()
    assert row["url"].startswith("https://example-000000.test/p/00000000")
    assert row["html"].startswith(b"<html><body>")
    assert set(
        r["lang"] for r in pages.select("lang").distinct().collect()
    ) == {"en", "xx"}
    lens = pages.select(F.size(F.split("text", " ")).alias("n")).agg(
        F.min("n"), F.max("n")).first()
    assert lens[0] >= 5 and lens[1] <= 2000


def test_tokenizer_expr_udf_agree(spark):
    """The Catalyst form (tokenize_expr) and the Arrow token stream
    (arrow_tokens) of the tokenize rule agree with each other, with its
    plain-Python form (tokenize_str) and with the oracle tokenizer; null text has no tokens (tokenize_expr yields a null
    array for it, which explode treats as empty), and the Kelvin sign
    lowers into [a-z] before the split."""
    import pyarrow as pa

    texts = [
        "Hello, WORLD!  foo-bar_baz 42",
        "  leading and trailing  ",
        "ALLCAPS",
        "",
        "a;b:c.d,e",
        "ünïcödé stripped?",
        None,
        "\u212aelvin 5\u212a",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = [
        r["e"] or [] for r in df.orderBy("doc_id").select(
            tokenize_expr(F.col("text")).alias("e")
        ).collect()
    ]
    doc_ids, doc_idx, toks = arrow_tokens(pa.RecordBatch.from_arrays(
        [pa.array(range(len(texts)), type=pa.int64()),
         pa.array(texts, type=pa.string())],
        names=["doc_id", "text"],
    ))
    assert list(doc_ids) == list(range(len(texts)))
    assert (np.diff(doc_idx) >= 0).all()
    arrow = [[] for _ in texts]
    for i, t in zip(doc_idx, toks.to_pylist()):
        arrow[i].append(t)
    assert got == arrow
    for t, e in zip(texts, got):
        assert e == OF.tokenize(t or "") == tokenize_str(t or "")
    assert got[-2] == [] and got[-1] == ["kelvin", "5k"]


def test_postings_mapside_equals_sql_plan(spark, pages):
    a = build_postings(pages).toPandas().sort_values(["doc_id", "term"]).reset_index(drop=True)
    b = (
        build_postings_sql_plan(pages)
        .select("doc_id", "term", "tf", "dl")
        .toPandas()
        .sort_values(["doc_id", "term"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        a.astype({"tf": "int64", "dl": "int64"}),
        b.astype({"tf": "int64", "dl": "int64"}),
    )


def _count_terms_both(pdf):
    """(Arrow kernel rows, pandas reference rows) for one (doc_id, text)
    frame fed to both as three batches; both sorted by (doc_id, term)."""
    import pyarrow as pa

    from similaripy_spark.fulltext.postings import _count_terms_arrow
    from tests.pandas_kernels import count_terms_pandas

    n = max(1, -(-len(pdf) // 3))
    parts = [pdf.iloc[i:i + n] for i in range(0, len(pdf), n)]
    arrow = pa.Table.from_batches(list(_count_terms_arrow(
        [pa.RecordBatch.from_pandas(p, preserve_index=False)
         for p in parts]
    ))).to_pandas()
    ref = pd.concat(count_terms_pandas(parts), ignore_index=True)

    def canon(df):
        return df.sort_values(["doc_id", "term"]).reset_index(drop=True)

    return canon(arrow), canon(ref)


def test_postings_null_text_is_empty_doc(spark):
    """A nullable text column (valid in an evolved Iceberg table) must
    behave like empty text in BOTH kernels, not feed NaN-cast garbage
    counts into np.repeat inside the Arrow kernel."""
    df = spark.createDataFrame(
        [(0, "alpha beta alpha"), (1, None), (2, ""), (3, "gamma")],
        "doc_id long, text string",
    )
    outs = {"spark": build_postings(df).toPandas()}
    outs["arrow"], outs["pandas"] = _count_terms_both(df.toPandas())
    for name, out in outs.items():
        assert sorted(out["doc_id"].unique()) == [0, 3], name
        assert out[out.doc_id == 0]["tf"].sum() == 3, name


def test_count_terms_arrow_matches_pandas_reference(pages_pd):
    """The Arrow tokenize+count kernel emits exactly the rows of the pandas
    reference kernel (tests/pandas_kernels.py), same values and dtypes.
    Hand rows add case, punctuation, digits and empty/null text."""
    extra = pd.DataFrame({
        "doc_id": np.arange(N_DOCS, N_DOCS + 4, dtype=np.int64),
        "text": ["Hello, WORLD! hello--world 42x", "  ÉTÉ été  ", "", None],
    })
    arrow, ref = _count_terms_both(
        pd.concat([pages_pd[["doc_id", "text"]], extra], ignore_index=True)
    )
    assert len(ref) > N_DOCS
    assert ref[ref.doc_id == N_DOCS]["tf"].max() == 2  # "hello" twice
    pd.testing.assert_frame_equal(arrow, ref)


def test_bm25_topk_rank_identical_to_oracle(spark, pages, pages_pd):
    queries_pd = generate_queries_pandas(60, vocab_size=VOCAB)
    queries = spark.createDataFrame(queries_pd)

    postings = build_postings(pages)
    weighted = bm25_weights(postings)
    got = (
        bm25_topk(weighted, queries, k=10)
        .toPandas()
        .sort_values(["query_id", "rank"])
    )

    index = OF.build_index(dict(zip(pages_pd.doc_id, pages_pd.text)))
    n_checked = 0
    for qid, terms in zip(queries_pd.query_id, queries_pd.terms):
        exp = OF.search(index, list(terms), k=10)
        sub = got[got.query_id == qid]
        assert len(sub) == len(exp), f"query {qid}"
        for (_, row), (rank, doc, score) in zip(sub.iterrows(), exp):
            assert row["rank"] == rank and row["doc_id"] == doc, (
                f"query {qid} rank {rank}: got doc {row['doc_id']} want {doc}"
            )
            np.testing.assert_allclose(row["score"], score, rtol=1e-4)
            n_checked += 1
    assert n_checked > 300  # sanity: queries actually matched docs


def test_bm25_topk_query_weighted(spark, pages):
    """query_weighted=True scores Σ qw·weight: qw=1 on distinct terms
    reproduces the binarized path; scaled/duplicated weights scale scores."""
    postings = build_postings(pages)
    weighted = bm25_weights(postings).cache()

    qpd = pd.DataFrame(
        {
            "query_id": [0, 1],
            "terms": [["t000001", "t000007"], ["t000003", "t000005"]],
        }
    )
    plain = bm25_topk(
        weighted, spark.createDataFrame(qpd), k=5
    ).toPandas()

    # qw=1 over distinct terms == the binarized path
    w1 = qpd.assign(weights=[[1.0] * len(t) for t in qpd.terms])
    got1 = bm25_topk(
        weighted, spark.createDataFrame(w1), k=5, query_weighted=True
    ).toPandas()
    a = plain.sort_values(["query_id", "rank"]).reset_index(drop=True)
    b = got1.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert (a.doc_id == b.doc_id).all()
    np.testing.assert_allclose(a.score, b.score, rtol=1e-12)

    # doubling every qw doubles every score (ranks unchanged)
    w2 = w1.assign(weights=[[2.0] * len(w) for w in w1.weights])
    got2 = bm25_topk(
        weighted, spark.createDataFrame(w2), k=5, query_weighted=True
    ).toPandas().sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert (got2.doc_id == b.doc_id).all()
    np.testing.assert_allclose(got2.score, 2.0 * b.score, rtol=1e-12)

    # a duplicated term contributes twice (qw mass adds)
    dup = pd.DataFrame(
        {
            "query_id": [0],
            "terms": [["t000003", "t000003"]],
            "weights": [[1.0, 1.0]],
        }
    )
    one = pd.DataFrame(
        {"query_id": [0], "terms": [["t000003"]], "weights": [[2.0]]}
    )
    gd = bm25_topk(weighted, spark.createDataFrame(dup), k=5,
                   query_weighted=True).toPandas()
    go = bm25_topk(weighted, spark.createDataFrame(one), k=5,
                   query_weighted=True).toPandas()
    np.testing.assert_allclose(
        gd.sort_values("rank").score.to_numpy(),
        go.sort_values("rank").score.to_numpy(), rtol=1e-12,
    )
    weighted.unpersist()


def test_bm25_weights_language_filter(spark, pages):
    """lang predicate pushes into the scan; xx docs excluded end-to-end."""
    postings = build_postings(pages, lang="en")
    xx_ids = {r["doc_id"] for r in pages.filter("lang = 'xx'").select("doc_id").collect()}
    got_ids = {r["doc_id"] for r in postings.select("doc_id").distinct().collect()}
    assert got_ids.isdisjoint(xx_ids)


def test_doc_lengths_match_postings_dl(spark, pages):
    """The count-only dl kernel (no split, no explosion — what the build's
    stats pass runs) must agree exactly with the tokenizing kernel's dl on
    every doc that has tokens, and emit dl=0 (not a crash, not a row drop)
    for token-free docs."""
    from similaripy_spark.fulltext.postings import doc_lengths

    a = (
        doc_lengths(pages)
        .filter("dl > 0")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    b = (
        build_postings(pages)
        .select("doc_id", "dl")
        .distinct()
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b)


def test_doc_lengths_edge_cases(spark):
    """Null text, empty text, separator-only text → dl 0; the Kelvin sign
    (U+212A) lowercases INTO [a-z], so counting must run on lowered text
    exactly as the tokenizer does."""
    from similaripy_spark.fulltext.postings import doc_lengths

    df = spark.createDataFrame(
        [(0, "alpha beta alpha"), (1, None), (2, ""), (3, "--- ;; !"),
         (4, "Kelvin UPPER x9")],
        "doc_id long, text string",
    )
    out = dict(doc_lengths(df).toPandas().itertuples(index=False))
    assert out == {0: 3, 1: 0, 2: 0, 3: 0, 4: 3}
