"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes one entry per implemented operator (SURVEY.md §2
inventory + the fulltext stack + training-data pipeline ops); each has an
ANSI-SQL oracle in ``oracle_sql()`` runnable by DuckDB over the same parquet
views. Numeric outputs are rounded (6 dp) in BOTH engines; all intermediate
aggregates are exact (integer-valued doubles or DECIMAL) wherever possible so
cross-engine hashes match bit-for-bit.

Matrix conventions used by the similarity entries:
* ``lineitem`` matrix: row = l_orderkey, col = l_partkey,
  value = sum(l_quantity) (integer-valued → exact aggregation).
* ``documents`` postings: doc_id × term with tf counts, tokenizer =
  lowercase split on [^a-z0-9]+ (identical regex both engines).
"""

from __future__ import annotations

import math

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# shared loaders / fragments
# ---------------------------------------------------------------------------

def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _li_matrix(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    # Cluster by the row key BELOW the aggregate: grouping by (orderkey,
    # partkey) is satisfied by hashpartitioning(orderkey) (subset rule), so
    # the aggregate runs on this one exchange, and the similarity kernel's
    # own row repartition (same key, same count) elides as redundant — one
    # full-matrix exchange per join side instead of two. Map-side partial
    # aggregation loses nothing: (orderkey, partkey) pairs are ~unique in
    # lineitem, so the pre-exchange combine never shrank the stream.
    # Measured (cosine_topk, sf0.1, noop best-of-6): 2.19 s → 1.87 s,
    # printed plan 10 → 6 Exchange nodes; identical rows (sum order only —
    # integer-valued quantities sum exactly in any order).
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    return (
        li.select("l_orderkey", "l_partkey", "l_quantity")
        .repartition(n_part, F.col("l_orderkey"))
        .groupBy("l_orderkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("value"))
        .select(
            F.col("l_orderkey").alias("row"),
            F.col("l_partkey").alias("col"),
            F.col("value").cast("double").alias("value"),
        )
    )


def _postings(spark, sf_dir):
    """Postings for the document entries, via the engine's map-side Arrow
    tokenizer (identical rows to the SQL-plan twin — parity is pinned in
    tests — with no token-level shuffle). The BM25 entries consume the
    postings relation three times (weights join, term stats, corpus
    scalars); the three map-side passes are cheaper than any
    materialization barrier — a
    localCheckpoint variant was measured ~2 s SLOWER on the first (timed)
    invocation for its extra materialization job and ExistingRDD scans,
    at equal steady state."""
    from similaripy_spark.fulltext.postings import build_postings

    return build_postings(_docs(spark, sf_dir))


_R = 6  # rounding for float outputs


def _r6(c):
    """Engine-independent 6-dp rounding: floor(x*1e6 + 0.5)/1e6 — identical
    IEEE ops in Spark and any SQL oracle engine (plain ROUND differs between
    half-up and half-even at exactly-representable .5 boundaries)."""
    if isinstance(c, str):
        c = F.col(c)
    return F.floor(c * 1000000.0 + 0.5) / 1000000.0


# SQL fragment: the lineitem matrix
_SQL_LI_M = """
  m AS (SELECT l_orderkey AS row, l_partkey AS col,
               CAST(SUM(l_quantity) AS DOUBLE) AS value
        FROM lineitem GROUP BY 1, 2)
"""

# SQL fragment: documents postings with per-doc length
_SQL_POSTINGS = """
  toks AS (
    SELECT doc_id, t.term FROM (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
      FROM documents) t
    WHERE t.term <> ''),
  postings AS (
    SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM toks GROUP BY 1, 2),
  doclen AS (
    SELECT doc_id, term, tf, SUM(tf) OVER (PARTITION BY doc_id) AS dl
    FROM postings)
"""

# SQL fragment: full s_plus-style joined aggregates over the lineitem matrix
_SQL_XY = """
  xy AS (SELECT a.row, b.row AS col, SUM(a.value * b.value) AS xy
         FROM m a JOIN m b ON a.col = b.col
         GROUP BY 1, 2),
  xsq AS (SELECT row, SUM(value * value) AS xsq FROM m GROUP BY 1),
  ysq AS (SELECT row AS col, SUM(value * value) AS ysq FROM m GROUP BY 1)
"""
# NOTE: m2 = transpose(m) ⇒ join on the shared m-col dimension and the output
# col is the other matrix's row; ysq over m2 columns == per-row Σv² of m.


def _topk_sql(score_expr: str, k: int = 10, extra_joins: str = "",
              where: str = "TRUE") -> str:
    """Window top-k over the xy/xsq/ysq CTEs with deterministic tie rule."""
    return f""",
  scored AS (
    SELECT xy.row, xy.col, {score_expr} AS score
    FROM xy JOIN xsq ON xy.row = xsq.row JOIN ysq ON xy.col = ysq.col
    {extra_joins}),
  kept AS (SELECT * FROM scored WHERE score >= 0 AND score <> 0 AND {where}),
  ranked AS (
    SELECT row, col, score,
           ROW_NUMBER() OVER (PARTITION BY row ORDER BY score DESC, col ASC) AS rn
    FROM kept)
  SELECT row, col, FLOOR((score) * 1000000 + 0.5) / 1000000 AS score FROM ranked WHERE rn <= {k}
"""


def _emit_topk(df: DataFrame) -> DataFrame:
    return df.select("row", "col", _r6("value").alias("score"))


# ---------------------------------------------------------------------------
# entry — flagship query (driver smoke check, sf0.001)
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: BM25 top-10 fulltext retrieval over the documents table with
    data-derived queries (every 25th doc's first three tokens)."""
    return _q_bm25_topk(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# individual queries
# ---------------------------------------------------------------------------

def _q_postings(spark, sf_dir):
    return _postings(spark, sf_dir).select(
        "doc_id", "term", F.col("tf").cast("long").alias("tf"),
        F.col("dl").cast("long").alias("dl"),
    )


def _q_term_df(spark, sf_dir):
    from similaripy_spark.fulltext.postings import term_stats

    return term_stats(_postings(spark, sf_dir)).select(
        "term", F.col("df").cast("long").alias("df")
    )


def _q_bm25_weights(spark, sf_dir):
    from similaripy_spark.fulltext.weights import bm25_weights

    w = bm25_weights(_postings(spark, sf_dir))
    return w.select("doc_id", "term", _r6("weight").alias("weight"))


def _q_bm25plus_weights(spark, sf_dir):
    from similaripy_spark.fulltext.weights import bm25_weights

    w = bm25_weights(_postings(spark, sf_dir), delta=1.0)
    return w.select("doc_id", "term", _r6("weight").alias("weight"))


def _q_tfidf_weights(spark, sf_dir):
    from similaripy_spark.functions.normalization import tfidf

    m = _postings(spark, sf_dir).select(
        F.col("doc_id").alias("row"),
        F.col("term").alias("col"),
        F.col("tf").cast("double").alias("value"),
    )
    # tfidf on string col ids works — grouping keys are opaque
    out = tfidf(m, tf_mode="sqrt", idf_mode="smooth")
    return out.select(
        F.col("row").alias("doc_id"),
        F.col("col").alias("term"),
        _r6("value").alias("weight"),
    )


_SQL_TFIDF = f"""
WITH {_SQL_POSTINGS},
  stats AS (SELECT term, COUNT(*) AS df FROM postings WHERE tf > 0 GROUP BY 1),
  corpus AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM postings)
SELECT d.doc_id, d.term,
       FLOOR((sqrt(d.tf) * ln(c.n_docs / (1 + s.df))) * 1000000 + 0.5) / 1000000 AS weight
FROM doclen d JOIN stats s ON d.term = s.term CROSS JOIN corpus c
"""


def _q_norm(spark, sf_dir, norm, axis=1):
    from similaripy_spark.functions.normalization import normalize

    m = _li_matrix(spark, sf_dir)
    out = normalize(m, norm=norm, axis=axis)
    return out.select("row", "col", _r6("value").alias("value"))


_SQL_NORM = {
    ("l1", 1): f"WITH {_SQL_LI_M} SELECT row, col, FLOOR((value / SUM(ABS(value)) OVER (PARTITION BY row)) * 1000000 + 0.5) / 1000000 AS value FROM m",
    ("l2", 1): f"WITH {_SQL_LI_M} SELECT row, col, FLOOR((value / SQRT(SUM(value*value) OVER (PARTITION BY row))) * 1000000 + 0.5) / 1000000 AS value FROM m",
    ("max", 1): f"WITH {_SQL_LI_M} SELECT row, col, FLOOR((value / MAX(value) OVER (PARTITION BY row)) * 1000000 + 0.5) / 1000000 AS value FROM m",
    ("l2", 0): f"WITH {_SQL_LI_M} SELECT row, col, FLOOR((value / SQRT(SUM(value*value) OVER (PARTITION BY col))) * 1000000 + 0.5) / 1000000 AS value FROM m",
}


def _q_bm25_topk(spark, sf_dir):
    from similaripy_spark.fulltext.query import bm25_topk
    from similaripy_spark.fulltext.weights import bm25_weights

    docs = _docs(spark, sf_dir)
    queries = docs.filter(F.col("doc_id") % 25 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.slice(F.split(F.lower("text"), "[^a-z0-9]+"), 1, 3).alias("terms"),
    )
    w = bm25_weights(_postings(spark, sf_dir))
    out = bm25_topk(w, queries, k=10)
    return out.select(
        "query_id", "doc_id", _r6("score").alias("score")
    )


def _q_bm25_index_topk(spark, sf_dir):
    """BM25 top-10 through the FULL index engine: build a raw SPIMI
    index (doc-sharded posting blocks storing tf and dl; the tf-part is
    derived and idf applied at query time from term_stats —
    index_build.IndexBuilder) from the
    documents table, query
    it with the auto-routed front-end (retrieve.topk → segment scorer).

    The index stores float32 factors, so for the hash-exact oracle compare
    the returned (query_id, doc_id) pairs are RE-SCORED with the exact
    float64 relational weights — rank identity of the index path vs the
    relational path is pinned separately in tests (rtol 1e-4 grid,
    tests/test_index.py); this entry proves the end-to-end index engine
    selects exactly the rows the SQL oracle does. Shares _SQL_BM25_TOPK.
    """
    import tempfile

    from similaripy_spark.fulltext.index_build import IndexBuilder
    from similaripy_spark.fulltext import retrieve
    from similaripy_spark.fulltext.weights import bm25_weights

    docs = _docs(spark, sf_dir)
    queries = docs.filter(F.col("doc_id") % 25 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.slice(F.split(F.lower("text"), "[^a-z0-9]+"), 1, 3).alias("terms"),
    )
    d = tempfile.mkdtemp(prefix="entry_idx_")
    IndexBuilder(d, shard_size=1 << 14, n_groups=2).build(docs)
    # the PUBLIC load-once serve handle (round 5): meta + per-term idf
    # segment annotation paid at open; .topk() is the per-batch call.
    # cache=False — this is a single batch, nothing to amortize.
    picked = retrieve.open_index(spark, d, cache=False).topk(
        queries, k=10
    ).select("query_id", "doc_id")
    w = bm25_weights(_postings(spark, sf_dir))
    qterms = queries.select(
        "query_id", F.explode("terms").alias("term")
    ).filter(F.col("term") != "").distinct()
    exact = (
        qterms.join(w, "term")
        .groupBy("query_id", "doc_id")
        .agg(F.sum("weight").alias("score"))
    )
    return picked.join(exact, ["query_id", "doc_id"]).select(
        "query_id", "doc_id", _r6("score").alias("score")
    )


def _q_bm25_filter_topk(spark, sf_dir):
    """FILTERED retrieval through the doc-values sidecar (docvalues.py):
    build the index + a dictionary-encoded per-shard ``lang`` attribute
    array, then rank ONLY docs with lang IN ('de','fr') — the predicate
    filters at the kernel's decode choke point (wand._ShardIndex._live_mask)
    so excluded docs never enter a candidate set; corpus stats stay
    whole-corpus (Lucene filter-query semantics), which is exactly what
    the SQL oracle expresses: full-corpus BM25 weights, ranking restricted
    by an attribute join. Selected pairs are re-scored with exact float64
    relational weights as in bm25_index_topk."""
    import tempfile

    from similaripy_spark.fulltext.index_build import IndexBuilder
    from similaripy_spark.fulltext import retrieve
    from similaripy_spark.fulltext.docvalues import build_docvalues
    from similaripy_spark.fulltext.weights import bm25_weights

    docs = _docs(spark, sf_dir)
    queries = docs.filter(F.col("doc_id") % 25 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.slice(F.split(F.lower("text"), "[^a-z0-9]+"), 1, 3).alias("terms"),
    )
    d = tempfile.mkdtemp(prefix="entry_dv_")
    IndexBuilder(d, shard_size=1 << 14, n_groups=2).build(docs)
    build_docvalues(docs, d, ["lang"])
    picked = retrieve.open_index(spark, d, cache=False).topk(
        queries, k=10, filter={"lang": ["de", "fr"]}
    ).select("query_id", "doc_id")
    w = bm25_weights(_postings(spark, sf_dir))
    qterms = queries.select(
        "query_id", F.explode("terms").alias("term")
    ).filter(F.col("term") != "").distinct()
    exact = (
        qterms.join(w, "term")
        .groupBy("query_id", "doc_id")
        .agg(F.sum("weight").alias("score"))
    )
    return picked.join(exact, ["query_id", "doc_id"]).select(
        "query_id", "doc_id", _r6("score").alias("score")
    )


def _q_bm25_range_topk(spark, sf_dir):
    """NUMERIC-RANGE filtered retrieval (docvalues kind='numeric'): the
    per-shard int64 doc-values array holds each doc's n_chars; ranking is
    restricted to docs with n_chars in [150, 400] — the crawl-date /
    length-window query shape. The closed-range predicate is evaluated in
    the kernel at the decode choke point exactly like the dict filter;
    corpus stats stay whole-corpus. Oracle: full-corpus BM25 weights,
    ranking restricted by a BETWEEN join. Selected pairs re-scored with
    exact float64 relational weights as in bm25_index_topk."""
    import tempfile

    from similaripy_spark.fulltext.index_build import IndexBuilder
    from similaripy_spark.fulltext import retrieve
    from similaripy_spark.fulltext.docvalues import build_docvalues
    from similaripy_spark.fulltext.weights import bm25_weights

    docs = _docs(spark, sf_dir)
    queries = docs.filter(F.col("doc_id") % 25 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.slice(F.split(F.lower("text"), "[^a-z0-9]+"), 1, 3).alias("terms"),
    )
    d = tempfile.mkdtemp(prefix="entry_rng_")
    IndexBuilder(d, shard_size=1 << 14, n_groups=2).build(docs)
    build_docvalues(docs, d, [("n_chars", "numeric")])
    picked = retrieve.open_index(spark, d, cache=False).topk(
        queries, k=10, filter={"n_chars": (150, 400)}
    ).select("query_id", "doc_id")
    w = bm25_weights(_postings(spark, sf_dir))
    qterms = queries.select(
        "query_id", F.explode("terms").alias("term")
    ).filter(F.col("term") != "").distinct()
    exact = (
        qterms.join(w, "term")
        .groupBy("query_id", "doc_id")
        .agg(F.sum("weight").alias("score"))
    )
    return picked.join(exact, ["query_id", "doc_id"]).select(
        "query_id", "doc_id", _r6("score").alias("score")
    )


def _q_bm25_facet_stats(spark, sf_dir):
    """NUMERIC STATS over the match set (docvalues.facet_stats): per
    query, count/min/max/sum/avg of n_chars across matching docs — the
    stats aggregation panel (result-set size, value range, average
    length). Same relational plan as facet_counts with the int64
    positional array gathered; avg derives from the exact int64 sum in
    one double division (deterministic across plans). Oracle: the same
    aggregation off the documents table."""
    import tempfile

    from similaripy_spark.fulltext.index_build import IndexBuilder
    from similaripy_spark.fulltext.docvalues import (
        build_docvalues,
        facet_stats,
    )

    docs = _docs(spark, sf_dir)
    queries = docs.filter(F.col("doc_id") % 25 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.slice(F.split(F.lower("text"), "[^a-z0-9]+"), 1, 3).alias("terms"),
    )
    d = tempfile.mkdtemp(prefix="entry_fstat_")
    IndexBuilder(d, shard_size=1 << 14, n_groups=2).build(docs)
    build_docvalues(docs, d, [("n_chars", "numeric")])
    out = facet_stats(spark, queries, d, "n_chars")
    return out.select(
        "query_id",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("vmin").cast("long").alias("vmin"),
        F.col("vmax").cast("long").alias("vmax"),
        F.col("vsum").cast("long").alias("vsum"),
        _r6("vavg").alias("vavg"),
    )


def _q_bm25_collapse_topk(spark, sf_dir):
    """FIELD COLLAPSING (docvalues.collapse_topk — Lucene collapse): the
    BM25 top-10 with at most ONE doc per `source` value — one result per
    site. Every match is scored relationally with index stats (exact
    float64), the per-(query, value)
    row_number keeps each value's best doc, the global top-k ranks the
    survivors — a kernel top-k-then-collapse would be inexact. Oracle:
    the same double window off the documents table."""
    import tempfile

    from similaripy_spark.fulltext.index_build import IndexBuilder
    from similaripy_spark.fulltext.docvalues import (
        build_docvalues,
        collapse_topk,
    )

    docs = _docs(spark, sf_dir)
    queries = docs.filter(F.col("doc_id") % 25 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.slice(F.split(F.lower("text"), "[^a-z0-9]+"), 1, 3).alias("terms"),
    )
    d = tempfile.mkdtemp(prefix="entry_coll_")
    IndexBuilder(d, shard_size=1 << 14, n_groups=2).build(docs)
    build_docvalues(docs, d, ["source"])
    out = collapse_topk(spark, queries, d, "source", k=10, per_value=1)
    return out.select(
        "query_id", "doc_id", "value", _r6("score").alias("score")
    )


def _q_bm25_sort_topk(spark, sf_dir):
    """SORT-BY-ATTRIBUTE retrieval (docvalues.sort_topk — Lucene's
    sort-by-field): top-10 matches per query ordered by n_chars DESC
    (longest-first result page), doc_id tiebreak — relevance replaced by
    a doc attribute, no posting weight decoded. Relational plan: match
    set → per-shard int64 gather → distributed top-k. Oracle: the same
    ORDER BY off the documents table."""
    import tempfile

    from similaripy_spark.fulltext.index_build import IndexBuilder
    from similaripy_spark.fulltext.docvalues import (
        build_docvalues,
        sort_topk,
    )

    docs = _docs(spark, sf_dir)
    queries = docs.filter(F.col("doc_id") % 25 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.slice(F.split(F.lower("text"), "[^a-z0-9]+"), 1, 3).alias("terms"),
    )
    d = tempfile.mkdtemp(prefix="entry_sort_")
    IndexBuilder(d, shard_size=1 << 14, n_groups=2).build(docs)
    build_docvalues(docs, d, [("n_chars", "numeric")])
    out = sort_topk(spark, queries, d, "n_chars", k=10)
    return out.select(
        "query_id", "doc_id", F.col("value").cast("long").alias("value")
    )


def _q_bm25_not_topk(spark, sf_dir):
    """MUST_NOT exclusion (wand._score_batch not_terms): queries carry
    positive terms (tokens 1-3) and NOT terms (token 4); docs containing
    any NOT term are excluded from that query's ranking, survivors'
    scores unchanged — Lucene's BooleanQuery MUST_NOT. The SQL oracle is
    an anti-join of the BM25 score relation against the NOT-term match
    set. Selected pairs re-scored with exact float64 relational weights
    as in bm25_index_topk."""
    import tempfile

    from similaripy_spark.fulltext.index_build import IndexBuilder
    from similaripy_spark.fulltext import retrieve
    from similaripy_spark.fulltext.weights import bm25_weights

    docs = _docs(spark, sf_dir)
    toks = F.split(F.lower("text"), "[^a-z0-9]+")
    queries = docs.filter(F.col("doc_id") % 25 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.slice(toks, 1, 3).alias("terms"),
        F.slice(toks, 4, 1).alias("not_terms"),
    )
    d = tempfile.mkdtemp(prefix="entry_not_")
    IndexBuilder(d, shard_size=1 << 14, n_groups=2).build(docs)
    picked = retrieve.open_index(spark, d, cache=False).topk(
        queries, k=10
    ).select("query_id", "doc_id")
    w = bm25_weights(_postings(spark, sf_dir))
    qterms = queries.select(
        "query_id", F.explode("terms").alias("term")
    ).filter(F.col("term") != "").distinct()
    exact = (
        qterms.join(w, "term")
        .groupBy("query_id", "doc_id")
        .agg(F.sum("weight").alias("score"))
    )
    return picked.join(exact, ["query_id", "doc_id"]).select(
        "query_id", "doc_id", _r6("score").alias("score")
    )


def _q_bm25_search_topk(spark, sf_dir):
    """QUERY-STRING surface (querylang.search — the Lucene-flavored
    search-box grammar): each seed doc becomes the string
    ``"t1 t2" t3 -t4 n_chars:[100 TO 500]`` — a phrase constraint, a loose
    ranked term, a MUST_NOT, and a numeric doc-values range — composed by
    the phrase path: positional match set ∩ NOT anti-join ∩ range filter,
    survivors scored relationally over the distinct ranked terms with the
    index's own stats (float64). The
    SQL oracle states the same composition: adjacency regexp, NOT
    anti-join, BETWEEN, sum of whole-corpus BM25 weights."""
    import tempfile

    from functools import reduce

    from similaripy_spark.fulltext.index_build import IndexBuilder
    from similaripy_spark.fulltext.docvalues import build_docvalues
    from similaripy_spark.fulltext.positional import build_positions
    from similaripy_spark.fulltext.querylang import search

    docs = _docs(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="entry_qs_")
    IndexBuilder(d, shard_size=1 << 14, n_groups=2).build(docs)
    build_docvalues(docs, d, [("n_chars", "numeric")])
    build_positions(docs, d)
    toks_col = F.filter(
        F.split(F.lower("text"), "[^a-z0-9]+"), lambda t: t != ""
    )
    seeds = (
        docs.filter(F.col("doc_id") % 100 == 0)
        .select("doc_id", F.slice(toks_col, 1, 4).alias("t"))
        .filter(F.size("t") >= 4)
        .collect()
    )
    parts = [
        search(
            spark, d,
            f'"{r.t[0]} {r.t[1]}" {r.t[2]} -{r.t[3]} '
            "n_chars:[100 TO 500]",
            k=10, query_id=int(r.doc_id),
        )
        for r in seeds
    ]
    out = reduce(lambda a, b: a.unionByName(b), parts)
    return out.select(
        "query_id", "doc_id", _r6("score").alias("score")
    )


def _q_bm25_facet_counts(spark, sf_dir):
    """FACET COUNTS over the match set (docvalues.facet_counts): for each
    query, the number of matching live docs per ``lang`` value — the facet
    panel next to search results. Fully relational plan: term-pushdown
    segment scan → decoded postings ⋈ query terms → distinct match set →
    per-shard cogroup gather of each matched doc's dictionary code →
    partial-aggregated count ⋈ broadcast dictionary. The SQL oracle is the
    same aggregation straight off the documents table."""
    import tempfile

    from similaripy_spark.fulltext.index_build import IndexBuilder
    from similaripy_spark.fulltext.docvalues import (
        build_docvalues,
        facet_counts,
    )

    docs = _docs(spark, sf_dir)
    queries = docs.filter(F.col("doc_id") % 25 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.slice(F.split(F.lower("text"), "[^a-z0-9]+"), 1, 3).alias("terms"),
    )
    d = tempfile.mkdtemp(prefix="entry_facet_")
    IndexBuilder(d, shard_size=1 << 14, n_groups=2).build(docs)
    build_docvalues(docs, d, ["lang"])
    out = facet_counts(spark, queries, d, "lang")
    return out.select(
        "query_id", "value", F.col("n_docs").cast("long").alias("n_docs")
    )


def _q_bm25_mlt_topk(spark, sf_dir):
    """MORE-LIKE-THIS through the index engine (IndexHandle.more_like_this):
    seed docs become queries built from their top-10 tf×idf terms (index
    term_stats idf, ties term-asc), ranked by BM25 OR with the seed doc
    excluded without shorting the k. As with bm25_index_topk the selected
    (query_id, doc_id) pairs are re-scored with exact float64 relational
    weights over the SAME relationally re-derived term sets, so float32
    index storage can hash-match the oracle."""
    import tempfile

    from pyspark.sql.window import Window

    from similaripy_spark.fulltext.index_build import IndexBuilder
    from similaripy_spark.fulltext import retrieve
    from similaripy_spark.fulltext.weights import bm25_weights
    from similaripy_spark.functions.normalization import idf_expr

    docs = _docs(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="entry_idx_mlt_")
    IndexBuilder(d, shard_size=1 << 14, n_groups=2).build(docs)
    seeds = docs.filter(F.col("doc_id") % 25 == 0).select("doc_id")
    picked = (
        retrieve.open_index(spark, d, cache=False)
        .more_like_this(docs, seeds, k=10, max_terms=10)
        .select("query_id", "doc_id")
    )
    # exact float64 re-derivation of the engine's term selection + scores
    posts = _postings(spark, sf_dir)
    w = bm25_weights(posts)
    n_docs = posts.select("doc_id").distinct().count()
    idf = posts.groupBy("term").agg(F.count("*").alias("df")).select(
        "term",
        idf_expr(
            F.col("df").cast("double"), F.lit(float(n_docs)), "bm25", math.e
        ).alias("idf"),
    )
    tf = posts.join(
        seeds.select(F.col("doc_id")), "doc_id"
    ).select(F.col("doc_id").alias("query_id"), "term", "tf")
    win = Window.partitionBy("query_id").orderBy(
        (F.col("tf") * F.col("idf")).desc(), F.col("term").asc()
    )
    qterms = (
        tf.join(idf, "term")
        .withColumn("rn", F.row_number().over(win))
        .filter(F.col("rn") <= 10)
        .select("query_id", "term")
    )
    exact = (
        qterms.join(w, "term")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("weight").alias("score"))
    )
    return picked.join(exact, ["query_id", "doc_id"]).select(
        "query_id", "doc_id", _r6("score").alias("score")
    )


def _q_bm25_point_topk(spark, sf_dir):
    """BM25 top-10 through the term-major POINT path: build the raw
    SPIMI index, merge it to the term-major global layout
    (index_merge.merge_to_term_major), open it with the public handle and
    force ``path='term_major'`` — the Block-Max MaxScore kernel over
    partition-pruned per-term block buckets (wand._score_maxscore). This
    puts the point path (routing + merged layout + MaxScore pruning) under
    the hash-exact DuckDB gate; segment-path parity is pinned separately
    in tests. As with bm25_index_topk, the selected
    (query_id, doc_id) pairs are re-scored with exact float64 relational
    weights so float32 index storage can hash-match the oracle. Shares
    _SQL_BM25_TOPK (same query set, same rows)."""
    import tempfile

    from similaripy_spark.fulltext.index_build import IndexBuilder
    from similaripy_spark.fulltext.index_merge import merge_to_term_major
    from similaripy_spark.fulltext import retrieve
    from similaripy_spark.fulltext.weights import bm25_weights

    docs = _docs(spark, sf_dir)
    queries = docs.filter(F.col("doc_id") % 25 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.slice(F.split(F.lower("text"), "[^a-z0-9]+"), 1, 3).alias("terms"),
    )
    d = tempfile.mkdtemp(prefix="entry_idx_point_")
    IndexBuilder(d, shard_size=1 << 14, n_groups=2).build(docs)
    merge_to_term_major(spark, d, n_buckets=8)
    picked = retrieve.open_index(spark, d, cache=False).topk(
        queries, k=10, path="term_major"
    ).select("query_id", "doc_id")
    w = bm25_weights(_postings(spark, sf_dir))
    qterms = queries.select(
        "query_id", F.explode("terms").alias("term")
    ).filter(F.col("term") != "").distinct()
    exact = (
        qterms.join(w, "term")
        .groupBy("query_id", "doc_id")
        .agg(F.sum("weight").alias("score"))
    )
    return picked.join(exact, ["query_id", "doc_id"]).select(
        "query_id", "doc_id", _r6("score").alias("score")
    )


def _q_bm25_and_topk(spark, sf_dir):
    """Conjunctive BM25 top-10 through the full index engine: build the
    raw SPIMI index, query with ``retrieve.topk(mode='and')`` — only
    docs containing EVERY query term qualify (the batch scorer's
    distinct-term match-count grid; the point path is rarest-first
    posting-list intersection with per-block doc-range skipping,
    wand._score_intersect — the north star's 'posting-list intersection'
    made literal). Like bm25_index_topk, the selected (query_id, doc_id)
    pairs are re-scored with exact float64 relational weights so the
    float32-storage index can hash-match the SQL oracle."""
    import tempfile

    from similaripy_spark.fulltext.index_build import IndexBuilder
    from similaripy_spark.fulltext import retrieve
    from similaripy_spark.fulltext.weights import bm25_weights

    docs = _docs(spark, sf_dir)
    queries = docs.filter(F.col("doc_id") % 25 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.array_distinct(
            F.filter(
                F.slice(
                    F.split(F.lower("text"), "[^a-z0-9]+"), 1, 3
                ),
                lambda t: t != "",
            )
        ).alias("terms"),
    )
    d = tempfile.mkdtemp(prefix="entry_idx_and_")
    IndexBuilder(d, shard_size=1 << 14, n_groups=2).build(docs)
    picked = retrieve.topk(spark, d, queries, k=10, mode="and").select(
        "query_id", "doc_id"
    )
    w = bm25_weights(_postings(spark, sf_dir))
    qterms = queries.select(
        "query_id", F.explode("terms").alias("term")
    ).distinct()
    exact = (
        qterms.join(w, "term")
        .groupBy("query_id", "doc_id")
        .agg(F.sum("weight").alias("score"))
    )
    return picked.join(exact, ["query_id", "doc_id"]).select(
        "query_id", "doc_id", _r6("score").alias("score")
    )


def _q_bm25_append_topk(spark, sf_dir):
    """BM25 top-10 through APPEND-ONLY ingestion (fulltext/append.py —
    round 5): build an index over the first shard-aligned
    half of the documents table, append_to_index the rest, query through
    the public handle. Raw blocks store (tf, dl); the kernel derives the
    tf-part at the MERGED corpus avgdl and term_stats idf is recomputed, so
    build(A)+append(B) is exactly build(A∪B) — the oracle is therefore the
    plain whole-corpus BM25 SQL (_SQL_BM25_TOPK), nothing append-specific.
    The reference has no incremental path (normalization.py recomputes CSR
    stats per call); this is engine extension surface. As with
    bm25_index_topk, selected pairs are re-scored with exact float64
    relational weights so float32 index storage hash-matches the oracle."""
    import tempfile

    from similaripy_spark.fulltext.append import append_to_index
    from similaripy_spark.fulltext.index_build import IndexBuilder
    from similaripy_spark.fulltext import retrieve
    from similaripy_spark.fulltext.weights import bm25_weights

    docs = _docs(spark, sf_dir)
    queries = docs.filter(F.col("doc_id") % 25 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.slice(F.split(F.lower("text"), "[^a-z0-9]+"), 1, 3).alias("terms"),
    )
    shard = 128
    hi = docs.agg(F.max("doc_id").alias("m")).first()["m"] or 0
    # shard-aligned split near the middle (appends may only open NEW shards)
    b = max(((int(hi) + 1) // 2) // shard * shard, shard)
    d = tempfile.mkdtemp(prefix="entry_idx_append_")
    IndexBuilder(d, shard_size=shard, n_groups=2).build(
        docs.filter(F.col("doc_id") < b)
    )
    append_to_index(spark, d, pages=docs.filter(F.col("doc_id") >= b),
                    n_groups=2)
    picked = retrieve.open_index(spark, d, cache=False).topk(
        queries, k=10, path="segment"
    ).select("query_id", "doc_id")
    w = bm25_weights(_postings(spark, sf_dir))
    qterms = queries.select(
        "query_id", F.explode("terms").alias("term")
    ).filter(F.col("term") != "").distinct()
    exact = (
        qterms.join(w, "term")
        .groupBy("query_id", "doc_id")
        .agg(F.sum("weight").alias("score"))
    )
    return picked.join(exact, ["query_id", "doc_id"]).select(
        "query_id", "doc_id", _r6("score").alias("score")
    )


def _q_bm25_delete_topk(spark, sf_dir):
    """BM25 top-10 under DOCUMENT DELETION (fulltext/delete.py — round 5):
    build the raw index, tombstone every doc_id % 10 == 3, query
    through the public handle. Tombstones filter AT DECODE TIME inside the
    kernels (deleted docs can never crowd a local top-k or inflate the
    MaxScore θ) while corpus stats stay pre-deletion until compact_index —
    the Lucene live-docs model, which is exactly SQL-expressible: the
    oracle computes weights over the FULL corpus and filters deleted docs
    from the result side only. The reference has no deletion concept
    (rebuild-per-call CSR); extension surface. Selected pairs re-scored
    with exact float64 relational weights as in bm25_index_topk."""
    import tempfile

    from similaripy_spark.fulltext.delete import delete_docs
    from similaripy_spark.fulltext.index_build import IndexBuilder
    from similaripy_spark.fulltext import retrieve
    from similaripy_spark.fulltext.weights import bm25_weights

    docs = _docs(spark, sf_dir)
    queries = docs.filter(F.col("doc_id") % 25 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.slice(F.split(F.lower("text"), "[^a-z0-9]+"), 1, 3).alias("terms"),
    )
    d = tempfile.mkdtemp(prefix="entry_idx_delete_")
    IndexBuilder(d, shard_size=1 << 14, n_groups=2).build(docs)
    delete_docs(
        spark, d, docs.filter(F.col("doc_id") % 10 == 3).select("doc_id")
    )
    picked = retrieve.open_index(spark, d, cache=False).topk(
        queries, k=10, path="segment"
    ).select("query_id", "doc_id")
    w = bm25_weights(_postings(spark, sf_dir))
    qterms = queries.select(
        "query_id", F.explode("terms").alias("term")
    ).filter(F.col("term") != "").distinct()
    exact = (
        qterms.join(w, "term")
        .groupBy("query_id", "doc_id")
        .agg(F.sum("weight").alias("score"))
    )
    return picked.join(exact, ["query_id", "doc_id"]).select(
        "query_id", "doc_id", _r6("score").alias("score")
    )


def _q_bm25_phrase_topk(spark, sf_dir):
    """PHRASE retrieval through the index (retrieve.phrase_topk — round
    5): exact candidate-driven verification with no positional index —
    conjunctive posting-list intersection emits every AND match, a
    whole-stage-codegen token-adjacency regexp against the documents
    relation verifies consecutiveness under the build tokenizer, BM25
    (distinct phrase terms) ranks the survivors. Each query's phrase is
    the first two tokens of its own document. SQL-expressible end to end
    (DuckDB regexp_matches with the same pattern), so the whole phrase
    semantics sits under the hash-exact gate; picked pairs re-scored with
    exact float64 relational weights as in bm25_index_topk."""
    import tempfile

    from similaripy_spark.fulltext.index_build import IndexBuilder
    from similaripy_spark.fulltext.retrieve import phrase_topk
    from similaripy_spark.fulltext.tokenizer import tokenize_expr
    from similaripy_spark.fulltext.weights import bm25_weights

    docs = _docs(spark, sf_dir)
    toks = F.filter(
        F.split(F.lower("text"), "[^a-z0-9]+"), lambda t: t != ""
    )
    queries = (
        docs.filter(F.col("doc_id") % 25 == 0)
        .select(
            F.col("doc_id").alias("query_id"),
            F.slice(toks, 1, 2).alias("terms"),
        )
        .filter(F.size("terms") >= 2)
    )
    d = tempfile.mkdtemp(prefix="entry_idx_phrase_")
    IndexBuilder(d, shard_size=1 << 14, n_groups=2).build(docs)
    picked = phrase_topk(spark, d, docs, queries, k=10).select(
        "query_id", "doc_id"
    )
    w = bm25_weights(_postings(spark, sf_dir))
    qterms = queries.select(
        "query_id", F.explode("terms").alias("term")
    ).distinct()
    exact = (
        qterms.join(w, "term")
        .groupBy("query_id", "doc_id")
        .agg(F.sum("weight").alias("score"))
    )
    return picked.join(exact, ["query_id", "doc_id"]).select(
        "query_id", "doc_id", _r6("score").alias("score")
    )


def _q_bm25_phrase_pos_topk(spark, sf_dir):
    """PHRASE retrieval from the POSITIONAL SIDECAR (positional.
    phrase_topk_pos — round 5): same phrase semantics as
    bm25_phrase_topk but verified from stored token positions alone — no
    pages relation at serve time. AND candidates over the main index,
    term-pushed-down sidecar scan + block doc-range skipping, relational
    offset-join verification (count(distinct offset) == phrase length at
    a common base). Sharing the regexp entry's DuckDB oracle IS the
    claim: positions reproduce adjacency exactly. Picked pairs re-scored
    with exact float64 relational weights as in bm25_index_topk."""
    import tempfile

    from similaripy_spark.fulltext.index_build import IndexBuilder
    from similaripy_spark.fulltext.positional import (
        build_positions,
        phrase_topk_pos,
    )
    from similaripy_spark.fulltext.weights import bm25_weights

    docs = _docs(spark, sf_dir)
    toks = F.filter(
        F.split(F.lower("text"), "[^a-z0-9]+"), lambda t: t != ""
    )
    queries = (
        docs.filter(F.col("doc_id") % 25 == 0)
        .select(
            F.col("doc_id").alias("query_id"),
            F.slice(toks, 1, 2).alias("terms"),
        )
        .filter(F.size("terms") >= 2)
    )
    d = tempfile.mkdtemp(prefix="entry_idx_phrasepos_")
    IndexBuilder(d, shard_size=1 << 14, n_groups=2).build(docs)
    build_positions(docs, d)
    picked = phrase_topk_pos(spark, d, queries, k=10).select(
        "query_id", "doc_id"
    )
    w = bm25_weights(_postings(spark, sf_dir))
    qterms = queries.select(
        "query_id", F.explode("terms").alias("term")
    ).distinct()
    exact = (
        qterms.join(w, "term")
        .groupBy("query_id", "doc_id")
        .agg(F.sum("weight").alias("score"))
    )
    return picked.join(exact, ["query_id", "doc_id"]).select(
        "query_id", "doc_id", _r6("score").alias("score")
    )


def _q_bm25_phrase_slop_topk(spark, sf_dir):
    """ORDERED-WINDOW PROXIMITY retrieval (positional.phrase_topk_pos with
    slop=2 — round 5): the phrase's tokens must appear in order with at
    most 2 extra tokens intervening anywhere in the span
    (p_last − p_first ≤ n−1+slop). Verified by the greedy sequential
    min-join over the positional sidecar; the DuckDB oracle states the
    same semantics directly over token positions (zipped unnest + a
    windowed self-join), so the proximity definition itself sits under the
    hash-exact gate. Picked pairs re-scored with exact float64 relational
    weights as in bm25_index_topk."""
    import tempfile

    from similaripy_spark.fulltext.index_build import IndexBuilder
    from similaripy_spark.fulltext.positional import (
        build_positions,
        phrase_topk_pos,
    )
    from similaripy_spark.fulltext.weights import bm25_weights

    docs = _docs(spark, sf_dir)
    toks = F.filter(
        F.split(F.lower("text"), "[^a-z0-9]+"), lambda t: t != ""
    )
    queries = (
        docs.filter(F.col("doc_id") % 25 == 0)
        .select(
            F.col("doc_id").alias("query_id"),
            F.slice(toks, 1, 2).alias("terms"),
        )
        .filter(F.size("terms") >= 2)
    )
    d = tempfile.mkdtemp(prefix="entry_idx_slop_")
    IndexBuilder(d, shard_size=1 << 14, n_groups=2).build(docs)
    build_positions(docs, d)
    picked = phrase_topk_pos(spark, d, queries, k=10, slop=2).select(
        "query_id", "doc_id"
    )
    w = bm25_weights(_postings(spark, sf_dir))
    qterms = queries.select(
        "query_id", F.explode("terms").alias("term")
    ).distinct()
    exact = (
        qterms.join(w, "term")
        .groupBy("query_id", "doc_id")
        .agg(F.sum("weight").alias("score"))
    )
    return picked.join(exact, ["query_id", "doc_id"]).select(
        "query_id", "doc_id", _r6("score").alias("score")
    )


def _q_bm25_min_match_topk(spark, sf_dir):
    """QUORUM retrieval (min_match=2 over 3-token queries — round 5,
    Lucene's minimum_should_match): docs matching at least 2 distinct
    query terms, BM25-ranked. Served by the segment batch scorer's
    match-count grid through the public IndexHandle; the oracle is the
    relational HAVING count >= 2. Picked pairs re-scored with exact
    float64 relational weights as in bm25_index_topk."""
    import tempfile

    from similaripy_spark.fulltext.index_build import IndexBuilder
    from similaripy_spark.fulltext.retrieve import open_index
    from similaripy_spark.fulltext.weights import bm25_weights

    docs = _docs(spark, sf_dir)
    toks = F.filter(
        F.split(F.lower("text"), "[^a-z0-9]+"), lambda t: t != ""
    )
    queries = (
        docs.filter(F.col("doc_id") % 25 == 0)
        .select(
            F.col("doc_id").alias("query_id"),
            F.array_distinct(F.slice(toks, 1, 3)).alias("terms"),
        )
        .filter(F.size("terms") >= 2)
    )
    d = tempfile.mkdtemp(prefix="entry_idx_mm_")
    IndexBuilder(d, shard_size=1 << 14, n_groups=2).build(docs)
    with open_index(spark, d, cache=False) as h:
        picked = h.topk(queries, k=10, min_match=2).select(
            "query_id", "doc_id"
        )
        w = bm25_weights(_postings(spark, sf_dir))
        qterms = queries.select(
            "query_id", F.explode("terms").alias("term")
        ).distinct()
        exact = (
            qterms.join(w, "term")
            .groupBy("query_id", "doc_id")
            .agg(F.sum("weight").alias("score"))
        )
        return picked.join(exact, ["query_id", "doc_id"]).select(
            "query_id", "doc_id", _r6("score").alias("score")
        )


def _q_bm25_snippet_spans(spark, sf_dir):
    """SNIPPET SPANS (positional.best_window_spans — round 5): for each
    conjunctive top-10 pair, the best 8-token highlight window from the
    positional sidecar — among windows anchored at a query-term
    occurrence, the one covering the most distinct query terms, ties to
    the smallest start. The DuckDB oracle states the identical anchored-
    window argmax over zipped-unnest token positions. Pairs come from the
    exact relational AND top-10 (float64, standard tie rule) on both
    sides, so the entry isolates the span semantics."""
    import tempfile

    from pyspark.sql.window import Window

    from similaripy_spark.fulltext.index_build import IndexBuilder
    from similaripy_spark.fulltext.positional import (
        best_window_spans,
        build_positions,
    )
    from similaripy_spark.fulltext.weights import bm25_weights

    docs = _docs(spark, sf_dir)
    toks = F.filter(
        F.split(F.lower("text"), "[^a-z0-9]+"), lambda t: t != ""
    )
    queries = (
        docs.filter(F.col("doc_id") % 25 == 0)
        .select(
            F.col("doc_id").alias("query_id"),
            F.slice(toks, 1, 2).alias("terms"),
        )
        .filter(F.size("terms") >= 2)
    )
    w = bm25_weights(_postings(spark, sf_dir))
    qterms = queries.select(
        "query_id", F.explode("terms").alias("term")
    ).distinct()
    qn = qterms.groupBy("query_id").agg(F.count("*").alias("nreq"))
    scores = (
        qterms.join(w, "term")
        .groupBy("query_id", "doc_id")
        .agg(F.sum("weight").alias("score"), F.count("*").alias("nm"))
    )
    conj = scores.join(qn, "query_id").filter(F.col("nm") == F.col("nreq"))
    rn = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    pairs = (
        conj.withColumn("rn", F.row_number().over(rn))
        .filter(F.col("rn") <= 10)
        .select("query_id", "doc_id")
    )
    d = tempfile.mkdtemp(prefix="entry_idx_snip_")
    IndexBuilder(d, shard_size=1 << 14, n_groups=2).build(docs)
    build_positions(docs, d)
    return best_window_spans(spark, d, pairs, queries, window=8).select(
        "query_id", "doc_id",
        F.col("start").alias("span_start"),
        F.col("end").alias("span_end"),
        "n_terms",
    )


_SQL_BM25_AND_TOPK_TEMPLATE = """
  qn AS (SELECT query_id, COUNT(*) AS nreq FROM qterms GROUP BY 1),
  scores AS (
    SELECT q.query_id, w.doc_id, SUM(w.weight) AS score,
           COUNT(*) AS nmatch
    FROM qterms q JOIN weights w ON q.term = w.term
    GROUP BY 1, 2),
  conj AS (
    SELECT s.query_id, s.doc_id, s.score
    FROM scores s JOIN qn ON s.query_id = qn.query_id
    WHERE s.nmatch = qn.nreq),
  ranked AS (
    SELECT query_id, doc_id, score,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rn
    FROM conj)
SELECT query_id, doc_id, FLOOR((score) * 1000000 + 0.5) / 1000000 AS score FROM ranked WHERE rn <= 10
"""


_SQL_BM25_TOPK = f"""
WITH {_SQL_POSTINGS},
  stats AS (SELECT term, COUNT(*) AS df FROM postings WHERE tf > 0 GROUP BY 1),
  corpus AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs,
                    SUM(tf) / CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS avgdl
             FROM postings),
  weights AS (
    SELECT d.doc_id, d.term,
           ln((c.n_docs - s.df + 0.5) / (s.df + 0.5))
           * (d.tf * 2.2 / (d.tf + 1.2 * ((1 - 0.75) + 0.75 * d.dl / c.avgdl))) AS weight
    FROM doclen d JOIN stats s ON d.term = s.term CROSS JOIN corpus c),
  queries AS (
    SELECT doc_id AS query_id,
           unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')[1:3]) AS term
    FROM documents WHERE doc_id % 25 = 0),
  qterms AS (SELECT DISTINCT query_id, term FROM queries WHERE term <> ''),
  scores AS (
    SELECT q.query_id, w.doc_id, SUM(w.weight) AS score
    FROM qterms q JOIN weights w ON q.term = w.term
    GROUP BY 1, 2),
  ranked AS (
    SELECT query_id, doc_id, score,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rn
    FROM scores)
SELECT query_id, doc_id, FLOOR((score) * 1000000 + 0.5) / 1000000 AS score FROM ranked WHERE rn <= 10
"""


# filtered retrieval: full-corpus BM25 weights (filter-query semantics —
# idf/avgdl unchanged), ranking restricted to docs with lang IN (de, fr)
_SQL_BM25_FILTER_TOPK = f"""
WITH {_SQL_POSTINGS},
  stats AS (SELECT term, COUNT(*) AS df FROM postings WHERE tf > 0 GROUP BY 1),
  corpus AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs,
                    SUM(tf) / CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS avgdl
             FROM postings),
  weights AS (
    SELECT d.doc_id, d.term,
           ln((c.n_docs - s.df + 0.5) / (s.df + 0.5))
           * (d.tf * 2.2 / (d.tf + 1.2 * ((1 - 0.75) + 0.75 * d.dl / c.avgdl))) AS weight
    FROM doclen d JOIN stats s ON d.term = s.term CROSS JOIN corpus c),
  queries AS (
    SELECT doc_id AS query_id,
           unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')[1:3]) AS term
    FROM documents WHERE doc_id % 25 = 0),
  qterms AS (SELECT DISTINCT query_id, term FROM queries WHERE term <> ''),
  scores AS (
    SELECT q.query_id, w.doc_id, SUM(w.weight) AS score
    FROM qterms q JOIN weights w ON q.term = w.term
    JOIN documents dd ON dd.doc_id = w.doc_id AND dd.lang IN ('de', 'fr')
    GROUP BY 1, 2),
  ranked AS (
    SELECT query_id, doc_id, score,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rn
    FROM scores)
SELECT query_id, doc_id, FLOOR((score) * 1000000 + 0.5) / 1000000 AS score FROM ranked WHERE rn <= 10
"""

# numeric-range filter: full-corpus BM25 weights, ranking restricted to
# docs with n_chars in the closed [150, 400] window
_SQL_BM25_RANGE_TOPK = f"""
WITH {_SQL_POSTINGS},
  stats AS (SELECT term, COUNT(*) AS df FROM postings WHERE tf > 0 GROUP BY 1),
  corpus AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs,
                    SUM(tf) / CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS avgdl
             FROM postings),
  weights AS (
    SELECT d.doc_id, d.term,
           ln((c.n_docs - s.df + 0.5) / (s.df + 0.5))
           * (d.tf * 2.2 / (d.tf + 1.2 * ((1 - 0.75) + 0.75 * d.dl / c.avgdl))) AS weight
    FROM doclen d JOIN stats s ON d.term = s.term CROSS JOIN corpus c),
  queries AS (
    SELECT doc_id AS query_id,
           unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')[1:3]) AS term
    FROM documents WHERE doc_id % 25 = 0),
  qterms AS (SELECT DISTINCT query_id, term FROM queries WHERE term <> ''),
  scores AS (
    SELECT q.query_id, w.doc_id, SUM(w.weight) AS score
    FROM qterms q JOIN weights w ON q.term = w.term
    JOIN documents dd ON dd.doc_id = w.doc_id
      AND dd.n_chars BETWEEN 150 AND 400
    GROUP BY 1, 2),
  ranked AS (
    SELECT query_id, doc_id, score,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rn
    FROM scores)
SELECT query_id, doc_id, FLOOR((score) * 1000000 + 0.5) / 1000000 AS score FROM ranked WHERE rn <= 10
"""

# field collapsing: best doc per (query, source), then global top-10
_SQL_BM25_COLLAPSE_TOPK = f"""
WITH {_SQL_POSTINGS},
  stats AS (SELECT term, COUNT(*) AS df FROM postings WHERE tf > 0 GROUP BY 1),
  corpus AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs,
                    SUM(tf) / CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS avgdl
             FROM postings),
  weights AS (
    SELECT d.doc_id, d.term,
           ln((c.n_docs - s.df + 0.5) / (s.df + 0.5))
           * (d.tf * 2.2 / (d.tf + 1.2 * ((1 - 0.75) + 0.75 * d.dl / c.avgdl))) AS weight
    FROM doclen d JOIN stats s ON d.term = s.term CROSS JOIN corpus c),
  queries AS (
    SELECT doc_id AS query_id,
           unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')[1:3]) AS term
    FROM documents WHERE doc_id % 25 = 0),
  qterms AS (SELECT DISTINCT query_id, term FROM queries WHERE term <> ''),
  scores AS (
    SELECT q.query_id, w.doc_id, SUM(w.weight) AS score
    FROM qterms q JOIN weights w ON q.term = w.term
    GROUP BY 1, 2),
  with_val AS (
    SELECT s.query_id, s.doc_id, d.source AS value, s.score,
           ROW_NUMBER() OVER (PARTITION BY s.query_id, d.source
                              ORDER BY s.score DESC, s.doc_id ASC) AS vr
    FROM scores s JOIN documents d ON d.doc_id = s.doc_id),
  ranked AS (
    SELECT query_id, doc_id, value, score,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY score DESC, doc_id ASC) AS rn
    FROM with_val WHERE vr <= 1)
SELECT query_id, doc_id, value,
       FLOOR((score) * 1000000 + 0.5) / 1000000 AS score
FROM ranked WHERE rn <= 10
"""

# sort-by-attribute: top-10 matches per query by n_chars DESC, doc_id ties
_SQL_BM25_SORT_TOPK = f"""
WITH {_SQL_POSTINGS},
  queries AS (
    SELECT doc_id AS query_id,
           unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')[1:3]) AS term
    FROM documents WHERE doc_id % 25 = 0),
  qterms AS (SELECT DISTINCT query_id, term FROM queries WHERE term <> ''),
  matches AS (
    SELECT DISTINCT q.query_id, p.doc_id
    FROM qterms q JOIN postings p ON q.term = p.term),
  ranked AS (
    SELECT m.query_id, m.doc_id, d.n_chars AS value,
           ROW_NUMBER() OVER (PARTITION BY m.query_id
                              ORDER BY d.n_chars DESC, m.doc_id ASC) AS rn
    FROM matches m JOIN documents d ON d.doc_id = m.doc_id)
SELECT query_id, doc_id, CAST(value AS BIGINT) AS value
FROM ranked WHERE rn <= 10
"""

# numeric stats over the OR match set: n_chars count/min/max/sum/avg
_SQL_BM25_FACET_STATS = f"""
WITH {_SQL_POSTINGS},
  queries AS (
    SELECT doc_id AS query_id,
           unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')[1:3]) AS term
    FROM documents WHERE doc_id % 25 = 0),
  qterms AS (SELECT DISTINCT query_id, term FROM queries WHERE term <> ''),
  matches AS (
    SELECT DISTINCT q.query_id, p.doc_id
    FROM qterms q JOIN postings p ON q.term = p.term)
SELECT m.query_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(d.n_chars) AS BIGINT) AS vmin,
       CAST(MAX(d.n_chars) AS BIGINT) AS vmax,
       CAST(SUM(d.n_chars) AS BIGINT) AS vsum,
       FLOOR((CAST(SUM(d.n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) * 1000000 + 0.5) / 1000000 AS vavg
FROM matches m JOIN documents d ON d.doc_id = m.doc_id
GROUP BY 1
"""

# MUST_NOT: BM25 scores anti-joined against the NOT-term match set
_SQL_BM25_NOT_TOPK = f"""
WITH {_SQL_POSTINGS},
  stats AS (SELECT term, COUNT(*) AS df FROM postings WHERE tf > 0 GROUP BY 1),
  corpus AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs,
                    SUM(tf) / CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS avgdl
             FROM postings),
  weights AS (
    SELECT d.doc_id, d.term,
           ln((c.n_docs - s.df + 0.5) / (s.df + 0.5))
           * (d.tf * 2.2 / (d.tf + 1.2 * ((1 - 0.75) + 0.75 * d.dl / c.avgdl))) AS weight
    FROM doclen d JOIN stats s ON d.term = s.term CROSS JOIN corpus c),
  qtok AS (
    SELECT doc_id AS query_id,
           regexp_split_to_array(lower(text), '[^a-z0-9]+') AS toks
    FROM documents WHERE doc_id % 25 = 0),
  qterms AS (
    SELECT DISTINCT query_id, t.term
    FROM (SELECT query_id, unnest(toks[1:3]) AS term FROM qtok) t
    WHERE t.term <> ''),
  nqterms AS (
    SELECT DISTINCT query_id, t.term
    FROM (SELECT query_id, unnest(toks[4:4]) AS term FROM qtok) t
    WHERE t.term <> ''),
  excl AS (
    SELECT DISTINCT n.query_id, p.doc_id
    FROM nqterms n JOIN postings p ON n.term = p.term),
  scores AS (
    SELECT q.query_id, w.doc_id, SUM(w.weight) AS score
    FROM qterms q JOIN weights w ON q.term = w.term
    GROUP BY 1, 2),
  kept AS (
    SELECT s.query_id, s.doc_id, s.score
    FROM scores s LEFT JOIN excl e
      ON s.query_id = e.query_id AND s.doc_id = e.doc_id
    WHERE e.doc_id IS NULL),
  ranked AS (
    SELECT query_id, doc_id, score,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rn
    FROM kept)
SELECT query_id, doc_id, FLOOR((score) * 1000000 + 0.5) / 1000000 AS score FROM ranked WHERE rn <= 10
"""

# query-string composition: phrase adjacency + loose term + MUST_NOT +
# numeric range, scored over the distinct ranked terms
_SQL_BM25_SEARCH_TOPK = f"""
WITH {_SQL_POSTINGS},
  stats AS (SELECT term, COUNT(*) AS df FROM postings WHERE tf > 0 GROUP BY 1),
  corpus AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs,
                    SUM(tf) / CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS avgdl
             FROM postings),
  weights AS (
    SELECT d.doc_id, d.term,
           ln((c.n_docs - s.df + 0.5) / (s.df + 0.5))
           * (d.tf * 2.2 / (d.tf + 1.2 * ((1 - 0.75) + 0.75 * d.dl / c.avgdl))) AS weight
    FROM doclen d JOIN stats s ON d.term = s.term CROSS JOIN corpus c),
  q0 AS (
    SELECT doc_id AS query_id,
           list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                       x -> x <> '') AS l
    FROM documents WHERE doc_id % 100 = 0),
  q AS (SELECT query_id, l[1] AS t1, l[2] AS t2, l[3] AS t3, l[4] AS t4
        FROM q0 WHERE len(l) >= 4),
  qterms AS (SELECT query_id, t1 AS term FROM q
             UNION SELECT query_id, t2 FROM q
             UNION SELECT query_id, t3 FROM q),
  excl AS (
    SELECT DISTINCT q.query_id, p.doc_id
    FROM q JOIN postings p ON p.term = q.t4),
  scores AS (
    SELECT qt.query_id, w.doc_id, SUM(w.weight) AS score
    FROM qterms qt JOIN weights w ON qt.term = w.term GROUP BY 1, 2),
  ver AS (
    SELECT s.query_id, s.doc_id, s.score
    FROM scores s
    JOIN q ON q.query_id = s.query_id
    JOIN documents d ON d.doc_id = s.doc_id
    LEFT JOIN excl e ON e.query_id = s.query_id AND e.doc_id = s.doc_id
    WHERE e.doc_id IS NULL
      AND d.n_chars BETWEEN 100 AND 500
      AND regexp_matches(lower(d.text),
          '(^|[^a-z0-9])' || q.t1 || '[^a-z0-9]+' || q.t2 || '($|[^a-z0-9])')),
  ranked AS (
    SELECT query_id, doc_id, score,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rn
    FROM ver)
SELECT query_id, doc_id, FLOOR((score) * 1000000 + 0.5) / 1000000 AS score FROM ranked WHERE rn <= 10
"""

# facet counts: per query, matching docs per lang value (OR match set)
_SQL_BM25_FACET_COUNTS = f"""
WITH {_SQL_POSTINGS},
  queries AS (
    SELECT doc_id AS query_id,
           unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')[1:3]) AS term
    FROM documents WHERE doc_id % 25 = 0),
  qterms AS (SELECT DISTINCT query_id, term FROM queries WHERE term <> ''),
  matches AS (
    SELECT DISTINCT q.query_id, p.doc_id
    FROM qterms q JOIN postings p ON q.term = p.term)
SELECT m.query_id, d.lang AS value, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM matches m JOIN documents d ON d.doc_id = m.doc_id
GROUP BY 1, 2
"""

# more-like-this: seed docs % 25 become queries from their top-10 tf×idf
# terms (ties term-asc); BM25 OR ranking with the seed doc excluded
_SQL_BM25_MLT_TOPK = f"""
WITH {_SQL_POSTINGS},
  stats AS (SELECT term, COUNT(*) AS df FROM postings WHERE tf > 0 GROUP BY 1),
  corpus AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs,
                    SUM(tf) / CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS avgdl
             FROM postings),
  weights AS (
    SELECT d.doc_id, d.term,
           ln((c.n_docs - s.df + 0.5) / (s.df + 0.5))
           * (d.tf * 2.2 / (d.tf + 1.2 * ((1 - 0.75) + 0.75 * d.dl / c.avgdl))) AS weight
    FROM doclen d JOIN stats s ON d.term = s.term CROSS JOIN corpus c),
  idf AS (
    SELECT s.term, ln((c.n_docs - s.df + 0.5) / (s.df + 0.5)) AS idf
    FROM stats s CROSS JOIN corpus c),
  seedtf AS (
    SELECT p.doc_id AS query_id, p.term, p.tf
    FROM postings p WHERE p.doc_id % 25 = 0),
  picked_terms AS (
    SELECT query_id, term FROM (
      SELECT st.query_id, st.term,
             ROW_NUMBER() OVER (PARTITION BY st.query_id
                                ORDER BY st.tf * i.idf DESC, st.term ASC) AS rn
      FROM seedtf st JOIN idf i ON st.term = i.term)
    WHERE rn <= 10),
  scores AS (
    SELECT q.query_id, w.doc_id, SUM(w.weight) AS score
    FROM picked_terms q JOIN weights w ON q.term = w.term
    WHERE w.doc_id <> q.query_id
    GROUP BY 1, 2),
  ranked AS (
    SELECT query_id, doc_id, score,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rn
    FROM scores)
SELECT query_id, doc_id, FLOOR((score) * 1000000 + 0.5) / 1000000 AS score FROM ranked WHERE rn <= 10
"""


_SQL_BM25_PHRASE_TOPK = f"""
WITH {_SQL_POSTINGS},
  stats AS (SELECT term, COUNT(*) AS df FROM postings WHERE tf > 0 GROUP BY 1),
  corpus AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs,
                    SUM(tf) / CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS avgdl
             FROM postings),
  weights AS (
    SELECT d.doc_id, d.term,
           ln((c.n_docs - s.df + 0.5) / (s.df + 0.5))
           * (d.tf * 2.2 / (d.tf + 1.2 * ((1 - 0.75) + 0.75 * d.dl / c.avgdl))) AS weight
    FROM doclen d JOIN stats s ON d.term = s.term CROSS JOIN corpus c),
  q0 AS (
    SELECT doc_id AS query_id,
           list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                       x -> x <> '') AS l
    FROM documents WHERE doc_id % 25 = 0),
  q AS (SELECT query_id, l[1] AS t1, l[2] AS t2 FROM q0 WHERE len(l) >= 2),
  qterms AS (SELECT query_id, t1 AS term FROM q
             UNION SELECT query_id, t2 FROM q),
  qn AS (SELECT query_id, COUNT(*) AS nreq FROM qterms GROUP BY 1),
  scores AS (
    SELECT qt.query_id, w.doc_id, SUM(w.weight) AS score, COUNT(*) AS nm
    FROM qterms qt JOIN weights w ON qt.term = w.term GROUP BY 1, 2),
  conj AS (
    SELECT s.query_id, s.doc_id, s.score
    FROM scores s JOIN qn ON s.query_id = qn.query_id
    WHERE s.nm = qn.nreq),
  ver AS (
    SELECT c.query_id, c.doc_id, c.score
    FROM conj c JOIN q ON q.query_id = c.query_id
    JOIN documents d ON d.doc_id = c.doc_id
    WHERE regexp_matches(lower(d.text),
          '(^|[^a-z0-9])' || q.t1 || '[^a-z0-9]+' || q.t2 || '($|[^a-z0-9])')),
  ranked AS (
    SELECT query_id, doc_id, score,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rn
    FROM ver)
SELECT query_id, doc_id, FLOOR((score) * 1000000 + 0.5) / 1000000 AS score FROM ranked WHERE rn <= 10
"""


# ordered-window proximity (slop=2, 2-token phrases): positions p1 < p2 of
# the two tokens with p2 - p1 <= 1 + slop — the zipped unnest yields each
# doc's filtered token stream with 1-based positions
_SQL_BM25_PHRASE_SLOP_TOPK = f"""
WITH {_SQL_POSTINGS},
  stats AS (SELECT term, COUNT(*) AS df FROM postings WHERE tf > 0 GROUP BY 1),
  corpus AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs,
                    SUM(tf) / CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS avgdl
             FROM postings),
  weights AS (
    SELECT d.doc_id, d.term,
           ln((c.n_docs - s.df + 0.5) / (s.df + 0.5))
           * (d.tf * 2.2 / (d.tf + 1.2 * ((1 - 0.75) + 0.75 * d.dl / c.avgdl))) AS weight
    FROM doclen d JOIN stats s ON d.term = s.term CROSS JOIN corpus c),
  base AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                       x -> x <> '') AS l
    FROM documents),
  tpos AS (
    SELECT doc_id, unnest(l) AS tok, unnest(range(1, len(l)+1)) AS pos
    FROM base),
  q AS (SELECT doc_id AS query_id, l[1] AS t1, l[2] AS t2
        FROM base WHERE doc_id % 25 = 0 AND len(l) >= 2),
  qterms AS (SELECT query_id, t1 AS term FROM q
             UNION SELECT query_id, t2 FROM q),
  qn AS (SELECT query_id, COUNT(*) AS nreq FROM qterms GROUP BY 1),
  scores AS (
    SELECT qt.query_id, w.doc_id, SUM(w.weight) AS score, COUNT(*) AS nm
    FROM qterms qt JOIN weights w ON qt.term = w.term GROUP BY 1, 2),
  conj AS (
    SELECT s.query_id, s.doc_id, s.score
    FROM scores s JOIN qn ON s.query_id = qn.query_id
    WHERE s.nm = qn.nreq),
  ver AS (
    SELECT DISTINCT c.query_id, c.doc_id, c.score
    FROM conj c
    JOIN q ON q.query_id = c.query_id
    JOIN tpos a ON a.doc_id = c.doc_id AND a.tok = q.t1
    JOIN tpos b ON b.doc_id = c.doc_id AND b.tok = q.t2
    WHERE b.pos > a.pos AND b.pos - a.pos <= 1 + 2),
  ranked AS (
    SELECT query_id, doc_id, score,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rn
    FROM ver)
SELECT query_id, doc_id, FLOOR((score) * 1000000 + 0.5) / 1000000 AS score FROM ranked WHERE rn <= 10
"""


# quorum retrieval: >= 2 distinct matched terms of 3-token queries; the
# query-side filter (>= 2 distinct query terms) matches the Spark entry's
_SQL_BM25_MIN_MATCH_TOPK = f"""
WITH {_SQL_POSTINGS},
  stats AS (SELECT term, COUNT(*) AS df FROM postings WHERE tf > 0 GROUP BY 1),
  corpus AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs,
                    SUM(tf) / CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS avgdl
             FROM postings),
  weights AS (
    SELECT d.doc_id, d.term,
           ln((c.n_docs - s.df + 0.5) / (s.df + 0.5))
           * (d.tf * 2.2 / (d.tf + 1.2 * ((1 - 0.75) + 0.75 * d.dl / c.avgdl))) AS weight
    FROM doclen d JOIN stats s ON d.term = s.term CROSS JOIN corpus c),
  q0 AS (
    SELECT doc_id AS query_id,
           list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                       x -> x <> '') AS l
    FROM documents WHERE doc_id % 25 = 0),
  qterms AS (SELECT DISTINCT query_id, unnest(l[1:3]) AS term FROM q0),
  qn AS (SELECT query_id FROM qterms GROUP BY 1 HAVING COUNT(*) >= 2),
  scores AS (
    SELECT qt.query_id, w.doc_id, SUM(w.weight) AS score, COUNT(*) AS nm
    FROM qterms qt JOIN qn USING (query_id)
    JOIN weights w ON qt.term = w.term GROUP BY 1, 2),
  quorum AS (SELECT query_id, doc_id, score FROM scores WHERE nm >= 2),
  ranked AS (
    SELECT query_id, doc_id, score,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rn
    FROM quorum)
SELECT query_id, doc_id, FLOOR((score) * 1000000 + 0.5) / 1000000 AS score FROM ranked WHERE rn <= 10
"""


# snippet spans over the conjunctive top-10: anchored 8-token window argmax
# (most distinct query terms, ties to smallest start) over token positions;
# tpos is 1-based so the final projection shifts to the sidecar's 0-based
# token offsets
_SQL_BM25_SNIPPET_SPANS = f"""
WITH {_SQL_POSTINGS},
  stats AS (SELECT term, COUNT(*) AS df FROM postings WHERE tf > 0 GROUP BY 1),
  corpus AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs,
                    SUM(tf) / CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS avgdl
             FROM postings),
  weights AS (
    SELECT d.doc_id, d.term,
           ln((c.n_docs - s.df + 0.5) / (s.df + 0.5))
           * (d.tf * 2.2 / (d.tf + 1.2 * ((1 - 0.75) + 0.75 * d.dl / c.avgdl))) AS weight
    FROM doclen d JOIN stats s ON d.term = s.term CROSS JOIN corpus c),
  base AS (
    SELECT doc_id,
           list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                       x -> x <> '') AS l
    FROM documents),
  tpos AS (
    SELECT doc_id, unnest(l) AS tok, unnest(range(1, len(l)+1)) AS pos
    FROM base),
  q AS (SELECT doc_id AS query_id, l[1] AS t1, l[2] AS t2
        FROM base WHERE doc_id % 25 = 0 AND len(l) >= 2),
  qterms AS (SELECT query_id, t1 AS term FROM q
             UNION SELECT query_id, t2 FROM q),
  qn AS (SELECT query_id, COUNT(*) AS nreq FROM qterms GROUP BY 1),
  scores AS (
    SELECT qt.query_id, w.doc_id, SUM(w.weight) AS score, COUNT(*) AS nm
    FROM qterms qt JOIN weights w ON qt.term = w.term GROUP BY 1, 2),
  conj AS (
    SELECT s.query_id, s.doc_id, s.score
    FROM scores s JOIN qn ON s.query_id = qn.query_id
    WHERE s.nm = qn.nreq),
  pairs AS (
    SELECT query_id, doc_id FROM (
      SELECT query_id, doc_id,
             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rn
      FROM conj) WHERE rn <= 10),
  anchors AS (
    SELECT DISTINCT p.query_id, p.doc_id, t.pos AS s
    FROM pairs p
    JOIN qterms qt ON qt.query_id = p.query_id
    JOIN tpos t ON t.doc_id = p.doc_id AND t.tok = qt.term),
  counted AS (
    SELECT a.query_id, a.doc_id, a.s,
           COUNT(DISTINCT t2.tok) AS n_terms, MAX(t2.pos) AS e
    FROM anchors a
    JOIN qterms qt2 ON qt2.query_id = a.query_id
    JOIN tpos t2 ON t2.doc_id = a.doc_id AND t2.tok = qt2.term
                AND t2.pos >= a.s AND t2.pos < a.s + 8
    GROUP BY 1, 2, 3),
  best AS (
    SELECT query_id, doc_id, s, e, n_terms,
           ROW_NUMBER() OVER (PARTITION BY query_id, doc_id
                              ORDER BY n_terms DESC, s ASC) AS rn
    FROM counted)
SELECT query_id, doc_id, s - 1 AS span_start, e - 1 AS span_end, n_terms
FROM best WHERE rn = 1
"""


# deletion semantics: weights/stats over the FULL corpus (pre-deletion idf,
# N, avgdl — compaction refreshes them), deleted docs filtered from the
# RESULT side only, ranks over the survivors
_SQL_BM25_DELETE_TOPK = _SQL_BM25_TOPK.replace(
    """  ranked AS (
    SELECT query_id, doc_id, score,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rn
    FROM scores)""",
    """  ranked AS (
    SELECT query_id, doc_id, score,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rn
    FROM scores WHERE doc_id % 10 <> 3)""",
)
assert "doc_id % 10 <> 3" in _SQL_BM25_DELETE_TOPK


_SQL_BM25_AND_TOPK = f"""
WITH {_SQL_POSTINGS},
  stats AS (SELECT term, COUNT(*) AS df FROM postings WHERE tf > 0 GROUP BY 1),
  corpus AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs,
                    SUM(tf) / CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS avgdl
             FROM postings),
  weights AS (
    SELECT d.doc_id, d.term,
           ln((c.n_docs - s.df + 0.5) / (s.df + 0.5))
           * (d.tf * 2.2 / (d.tf + 1.2 * ((1 - 0.75) + 0.75 * d.dl / c.avgdl))) AS weight
    FROM doclen d JOIN stats s ON d.term = s.term CROSS JOIN corpus c),
  queries AS (
    SELECT doc_id AS query_id,
           unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')[1:3]) AS term
    FROM documents WHERE doc_id % 25 = 0),
  qterms AS (SELECT DISTINCT query_id, term FROM queries WHERE term <> ''),
{_SQL_BM25_AND_TOPK_TEMPLATE.lstrip()}"""


# --- similarity family over the lineitem matrix -----------------------------

def _q_sim(name, **kw):
    def run(spark, sf_dir):
        import similaripy_spark as sps

        m = _li_matrix(spark, sf_dir)
        fn = getattr(sps, name)
        return _emit_topk(fn(m, k=10, **kw))

    return run


_SQL_SIM = {
    "dot_product_topk": f"WITH {_SQL_LI_M}, {_SQL_XY}{_topk_sql('xy.xy')}",
    "cosine_topk": f"WITH {_SQL_LI_M}, {_SQL_XY}"
    + _topk_sql("xy.xy / (POW(xsq.xsq, 0.5) * POW(ysq.ysq, 0.5))"),
    "asymmetric_cosine_topk": f"WITH {_SQL_LI_M}, {_SQL_XY}"
    + _topk_sql("xy.xy / (POW(xsq.xsq, 0.2) * POW(ysq.ysq, 0.8))"),
    "jaccard_topk": f"WITH {_SQL_LI_M}, {_SQL_XY}"
    + _topk_sql("xy.xy / (1.0*(xsq.xsq - xy.xy) + 1.0*(ysq.ysq - xy.xy) + xy.xy)"),
    "dice_topk": f"WITH {_SQL_LI_M}, {_SQL_XY}"
    + _topk_sql("xy.xy / (0.5*(xsq.xsq - xy.xy) + 0.5*(ysq.ysq - xy.xy) + xy.xy)"),
    "tversky_topk": f"WITH {_SQL_LI_M}, {_SQL_XY}"
    + _topk_sql("xy.xy / (0.8*(xsq.xsq - xy.xy) + 0.4*(ysq.ysq - xy.xy) + xy.xy)"),
}

# p3alpha: L1-normalize rows of m and of m.T, pow alpha, then dot topk
_SQL_P3ALPHA = f"""
WITH {_SQL_LI_M},
  m1 AS (SELECT row, col, POW(value / SUM(value) OVER (PARTITION BY row), 0.7) AS value FROM m),
  m2 AS (SELECT col AS row, row AS col, value FROM
          (SELECT row, col, POW(value / SUM(value) OVER (PARTITION BY col), 0.7) AS value FROM m)),
  xy AS (SELECT a.row, b.col, SUM(a.value * b.value) AS xy
         FROM m1 a JOIN m2 b ON a.col = b.row GROUP BY 1, 2),
  ranked AS (
    SELECT row, col, xy AS score,
           ROW_NUMBER() OVER (PARTITION BY row
             ORDER BY FLOOR(xy * 1000000000 + 0.5) DESC, col ASC) AS rn
    FROM xy WHERE xy > 0)
SELECT row, col, FLOOR((score) * 1000000 + 0.5) / 1000000 AS score FROM ranked WHERE rn <= 10
"""

# rp3beta: p3alpha / pop(col)^beta, pop = col sums of m2 = row sums of m... of
# m2 BEFORE normalization; m2 = m.T so pop(col of m2) = col sums over m2 rows
# = Σ over l_partkey dimension? m2 cols are l_orderkey ⇒ pop = row sums of m.
_SQL_RP3BETA = f"""
WITH {_SQL_LI_M},
  pop AS (SELECT row AS col, SUM(value) AS p FROM m GROUP BY 1),
  m1 AS (SELECT row, col, POW(value / SUM(value) OVER (PARTITION BY row), 0.9) AS value FROM m),
  m2 AS (SELECT col AS row, row AS col, value FROM
          (SELECT row, col, POW(value / SUM(value) OVER (PARTITION BY col), 0.9) AS value FROM m)),
  xy AS (SELECT a.row, b.col, SUM(a.value * b.value) AS xy
         FROM m1 a JOIN m2 b ON a.col = b.row GROUP BY 1, 2),
  scored AS (SELECT xy.row, xy.col, xy.xy / POW(pop.p, 0.6) AS score
             FROM xy JOIN pop ON xy.col = pop.col),
  ranked AS (
    SELECT row, col, score,
           ROW_NUMBER() OVER (PARTITION BY row
             ORDER BY FLOOR(score * 1000000000 + 0.5) DESC, col ASC) AS rn
    FROM scored WHERE score > 0)
SELECT row, col, FLOOR((score) * 1000000 + 0.5) / 1000000 AS score FROM ranked WHERE rn <= 10
"""

_SQL_SPLUS = f"""
WITH {_SQL_LI_M}, {_SQL_XY}""" + _topk_sql(
    "xy.xy / (0.3*(1.0*(xsq.xsq - xy.xy) + 1.0*(ysq.ysq - xy.xy) + xy.xy)"
    " + 0.7*(POW(xsq.xsq, 0.5) * POW(ysq.ysq, 0.5)))"
)


def _q_p3alpha(spark, sf_dir):
    import similaripy_spark as sps

    # tie_round: p3alpha scores are non-integer float sums, so cross-engine
    # summation-order noise must be quantized before the top-k comparison
    return _emit_topk(
        sps.p3alpha(_li_matrix(spark, sf_dir), alpha=0.7, k=10, tie_round=9)
    )


def _q_rp3beta(spark, sf_dir):
    import similaripy_spark as sps

    return _emit_topk(sps.rp3beta(_li_matrix(spark, sf_dir), alpha=0.9,
                                  beta=0.6, k=10, tie_round=9))


def _q_s_plus(spark, sf_dir):
    import similaripy_spark as sps

    return _emit_topk(
        sps.s_plus(_li_matrix(spark, sf_dir), l1=0.3, l2=0.7, t1=1.0, t2=1.0,
                   c1=0.5, c2=0.5, k=10)
    )


def _q_dot_filter_target(spark, sf_dir):
    """dot_product with target_rows + filter_cols array knobs."""
    import similaripy_spark as sps

    m = _li_matrix(spark, sf_dir)
    targets = list(range(1, 400, 7))
    excluded = list(range(1, 200))
    return _emit_topk(
        sps.dot_product(m, k=10, target_rows=targets, filter_cols=excluded)
    )


_SQL_DOT_FT = f"""
WITH {_SQL_LI_M},
  xy AS (SELECT a.row, b.row AS col, SUM(a.value * b.value) AS xy
         FROM m a JOIN m b ON a.col = b.col
         WHERE a.row % 7 = 1 AND a.row BETWEEN 1 AND 399
           AND b.row NOT BETWEEN 1 AND 199
         GROUP BY 1, 2),
  ranked AS (
    SELECT row, col, xy AS score,
           ROW_NUMBER() OVER (PARTITION BY row ORDER BY xy DESC, col ASC) AS rn
    FROM xy WHERE xy > 0)
SELECT row, col, FLOOR((score) * 1000000 + 0.5) / 1000000 AS score FROM ranked WHERE rn <= 10
"""


# --- dedup family ------------------------------------------------------------

def _q_dedup_exact(spark, sf_dir):
    from similaripy_spark.operators.dedup import dedup_exact

    return dedup_exact(_docs(spark, sf_dir)).select(
        "doc_id", "canonical_id", F.col("group_size").cast("long").alias("group_size")
    )


_SQL_DEDUP_EXACT = """
SELECT doc_id,
       MIN(doc_id) OVER (PARTITION BY md5(lower(text))) AS canonical_id,
       CAST(COUNT(*) OVER (PARTITION BY md5(lower(text))) AS BIGINT) AS group_size
FROM documents
"""


def _q_shingles(spark, sf_dir):
    from similaripy_spark.operators.dedup import word_shingles

    return word_shingles(_docs(spark, sf_dir), n=3)


_SQL_SHINGLES = """
WITH post AS (
    SELECT doc_id, t.term, t.pos FROM (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term,
             generate_subscripts(regexp_split_to_array(lower(text), '[^a-z0-9]+'), 1) AS pos
      FROM documents) t
    WHERE t.term <> ''),
  led AS (
    SELECT doc_id, term,
           LEAD(term, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS t1,
           LEAD(term, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS t2
    FROM post)
SELECT DISTINCT doc_id, term || ' ' || t1 || ' ' || t2 AS shingle
FROM led WHERE t2 IS NOT NULL
"""


def _q_minhash(spark, sf_dir):
    from similaripy_spark.operators.dedup import minhash_signatures

    return minhash_signatures(_docs(spark, sf_dir), n_hashes=8).select(
        "doc_id", F.col("h").cast("long").alias("h"),
        F.col("minhash").cast("long").alias("minhash"),
    )


_SQL_MINHASH = f"""
WITH post AS (
    SELECT doc_id, t.term, t.pos FROM (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term,
             generate_subscripts(regexp_split_to_array(lower(text), '[^a-z0-9]+'), 1) AS pos
      FROM documents) t
    WHERE t.term <> ''),
  led AS (
    SELECT doc_id, term,
           LEAD(term, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS t1,
           LEAD(term, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS t2
    FROM post),
  shingles AS (
    SELECT DISTINCT doc_id, term || ' ' || t1 || ' ' || t2 AS shingle
    FROM led WHERE t2 IS NOT NULL),
  sh AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(shingle), 1, 7)) AS BIGINT) AS x1,
           CAST(('0x' || substr(md5(shingle), 9, 7)) AS BIGINT) AS x2
    FROM shingles),
  hashes AS (
    SELECT CAST(h AS BIGINT) AS h,
           ((h * 2 + 1) * 2654435761) % 2038074743 AS a,
           h * 40503 + 7 AS b,
           ((h * 2 + 2) * 2654435761) % 2038074743 AS c
    FROM range(8) t(h))
SELECT sh.doc_id, hashes.h,
       CAST(MIN((hashes.a * sh.x1 + hashes.c * sh.x2 + hashes.b) % 2038074743) AS BIGINT) AS minhash
FROM sh CROSS JOIN hashes
GROUP BY 1, 2
"""


def _q_simhash(spark, sf_dir):
    from similaripy_spark.operators.dedup import simhash

    # 48 bits: bit 63 would overflow BIGINT shifts in ANSI engines
    return simhash(_docs(spark, sf_dir), bits=48)


_SQL_SIMHASH = """
WITH toks AS (
    SELECT doc_id, t.term FROM (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
      FROM documents) t
    WHERE t.term <> ''),
  tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
  tfi AS (SELECT doc_id, tf,
                 CAST(('0x' || substr(md5(term), 1, 7)) AS BIGINT) AS x1,
                 CAST(('0x' || substr(md5(term), 9, 7)) AS BIGINT) AS x2
          FROM tf),
  bits AS (SELECT CAST(b AS BIGINT) AS bit FROM range(48) t(b)),
  x0 AS (SELECT doc_id, tf, bit,
               (x1 * 48271 + x2 * 16807 + (bit + 1) * 97) % 2147483647 AS x
        FROM tfi CROSS JOIN bits),
  x1 AS (SELECT doc_id, tf, bit, (xor(x, x >> 7) * 48271) % 2147483647 AS x FROM x0),
  x2 AS (SELECT doc_id, tf, bit, (xor(x, x >> 11) * 16807) % 2147483647 AS x FROM x1),
  g AS (SELECT doc_id, tf, bit, xor(x, x >> 5) % 2 AS g FROM x2),
  per_bit AS (
    SELECT doc_id, bit, SUM(CASE WHEN g = 1 THEN tf ELSE -tf END) AS s
    FROM g GROUP BY 1, 2)
SELECT doc_id,
       CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
FROM per_bit GROUP BY 1
"""


def _q_jaccard_pairs(spark, sf_dir):
    from similaripy_spark.operators.dedup import ngram_jaccard_pairs

    out = ngram_jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=0.02)
    return out.select("doc_a", "doc_b", _r6("jaccard").alias("jaccard"))


_SQL_JACCARD_PAIRS = """
WITH post AS (
    SELECT doc_id, t.term, t.pos FROM (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term,
             generate_subscripts(regexp_split_to_array(lower(text), '[^a-z0-9]+'), 1) AS pos
      FROM documents) t
    WHERE t.term <> ''),
  led AS (
    SELECT doc_id, term,
           LEAD(term, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS t1,
           LEAD(term, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS t2
    FROM post),
  shingles AS (
    SELECT DISTINCT doc_id, term || ' ' || t1 || ' ' || t2 AS shingle
    FROM led WHERE t2 IS NOT NULL),
  sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY 1),
  inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
    FROM shingles a JOIN shingles b ON a.shingle = b.shingle
    WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
  j AS (
    SELECT doc_a, doc_b,
           CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
    FROM inter JOIN sizes sa ON doc_a = sa.doc_id
               JOIN sizes sb ON doc_b = sb.doc_id)
SELECT doc_a, doc_b, FLOOR((jaccard) * 1000000 + 0.5) / 1000000 AS jaccard
FROM j WHERE jaccard >= 0.02
"""


def _q_lsh_pairs(spark, sf_dir):
    from similaripy_spark.operators.dedup import minhash_lsh_pairs

    return minhash_lsh_pairs(_docs(spark, sf_dir), n_hashes=8, bands=4)


_SQL_LSH_PAIRS = """
WITH post AS (
    SELECT doc_id, t.term, t.pos FROM (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term,
             generate_subscripts(regexp_split_to_array(lower(text), '[^a-z0-9]+'), 1) AS pos
      FROM documents) t
    WHERE t.term <> ''),
  led AS (
    SELECT doc_id, term,
           LEAD(term, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS t1,
           LEAD(term, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS t2
    FROM post),
  shingles AS (
    SELECT DISTINCT doc_id, term || ' ' || t1 || ' ' || t2 AS shingle
    FROM led WHERE t2 IS NOT NULL),
  sh AS (
    SELECT doc_id,
           CAST(('0x' || substr(md5(shingle), 1, 7)) AS BIGINT) AS x1,
           CAST(('0x' || substr(md5(shingle), 9, 7)) AS BIGINT) AS x2
    FROM shingles),
  hashes AS (
    SELECT CAST(h AS BIGINT) AS h,
           ((h * 2 + 1) * 2654435761) % 2038074743 AS a,
           h * 40503 + 7 AS b,
           ((h * 2 + 2) * 2654435761) % 2038074743 AS c
    FROM range(8) t(h)),
  sig AS (
    SELECT sh.doc_id, hashes.h, CAST(hashes.h // 2 AS INT) AS band,
           MIN((hashes.a * sh.x1 + hashes.c * sh.x2 + hashes.b) % 2038074743) AS minhash
    FROM sh CROSS JOIN hashes GROUP BY 1, 2, 3),
  band_sig AS (
    SELECT doc_id, band,
           string_agg(minhash::VARCHAR, ',' ORDER BY h) AS sig
    FROM sig GROUP BY 1, 2)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM band_sig a JOIN band_sig b ON a.band = b.band AND a.sig = b.sig
WHERE a.doc_id < b.doc_id
"""


def _q_dedup_components(spark, sf_dir):
    """Duplicate-cluster resolution (operators/dedup.py dedup_components):
    connected components over the LSH candidate-pair graph via alternating
    large-star/small-star contraction (Kiveris et al. SoCC'14) —
    (doc_id, component=min reachable id). Oracle: recursive CTE computing
    min reachable label over the identical pair SQL."""
    from similaripy_spark.operators.dedup import (
        dedup_components,
        minhash_lsh_pairs,
    )

    return dedup_components(
        minhash_lsh_pairs(_docs(spark, sf_dir), n_hashes=8, bands=4)
    )


def _q_dedup_canonical(spark, sf_dir):
    """Survivor selection over the resolved duplicate clusters
    (dedup_keep_canonical): one doc per component (min id), unpaired docs
    survive with n_dups = 0 — the keep-list a 100-TB dedup pass emits."""
    from similaripy_spark.operators.dedup import (
        dedup_keep_canonical,
        minhash_lsh_pairs,
    )

    docs = _docs(spark, sf_dir)
    return dedup_keep_canonical(
        docs, minhash_lsh_pairs(docs, n_hashes=8, bands=4)
    )


# reach = transitive closure over the symmetrized LSH pair graph (the UNION
# recursion deduplicates rows, so it terminates); component = min reachable
_SQL_DEDUP_COMPONENTS = f"""
WITH RECURSIVE pairs AS ({_SQL_LSH_PAIRS}),
  sym AS (SELECT doc_a AS u, doc_b AS v FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
  reach(node, r) AS (
    SELECT u, u FROM sym
    UNION
    SELECT reach.node, sym.v FROM reach JOIN sym ON sym.u = reach.r)
SELECT node AS doc_id, MIN(r) AS component FROM reach GROUP BY node
"""

_SQL_DEDUP_CANONICAL = f"""
WITH comp AS ({_SQL_DEDUP_COMPONENTS}),
  canon AS (
    SELECT component, MIN(doc_id) AS keep_id,
           COUNT(*) - 1 AS comp_dups
    FROM comp GROUP BY component)
SELECT d.doc_id, COALESCE(canon.comp_dups, 0) AS n_dups
FROM documents d
LEFT JOIN comp ON comp.doc_id = d.doc_id
LEFT JOIN canon ON canon.keep_id = d.doc_id
WHERE comp.doc_id IS NULL OR comp.doc_id = comp.component
"""


_HTML_PRE = ('<html><head><title>t</title><style>p{color:red}</style>'
             '<script>var x = 1 < 2;</script></head><body><p>')
_HTML_POST = '</p><br/>&amp; &quot;end&quot;</body></html>'


def _q_extract_text(spark, sf_dir):
    """HTML→text extraction (textstats.extract_html_text): wrap each
    document body in a synthetic page (script/style blocks, tags, the five
    XML entities) and recover the text — the input_hint's extraction stage,
    exact against the identical RE2-compatible chain in DuckDB."""
    from similaripy_spark.operators.textstats import extract_html_text

    pages = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(F.lit(_HTML_PRE), F.col("text"),
                 F.lit(_HTML_POST)).alias("html"),
    )
    return extract_html_text(pages)


_SQL_EXTRACT_TEXT = f"""
SELECT doc_id,
       trim(regexp_replace(
         replace(replace(replace(replace(replace(
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 '{_HTML_PRE.replace("'", "''")}' || text ||
                 '{_HTML_POST.replace("'", "''")}',
                 '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
               '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
             '<[^>]*>', ' ', 'g'),
           '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
           '&amp;', '&'),
         '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS text
FROM documents
"""


def _q_quality(spark, sf_dir):
    from similaripy_spark.operators.textstats import quality_score

    q = quality_score(_docs(spark, sf_dir))
    return q.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        _r6("uniq_ratio").alias("uniq_ratio"),
        _r6("quality").alias("quality"),
    )


_SQL_QUALITY = """
WITH toks AS (
    SELECT doc_id, t.term FROM (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
      FROM documents) t
    WHERE t.term <> ''),
  agg AS (
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT term) AS DOUBLE) AS n_uniq
    FROM toks GROUP BY 1),
  ws AS (
    SELECT doc_id,
           CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT)
             AS n_ws
    FROM documents),
  feat AS (
    SELECT a.doc_id, a.n_tokens,
           a.n_uniq / GREATEST(a.n_tokens, 1) AS uniq_ratio,
           CASE WHEN a.n_tokens BETWEEN 50 AND 1000 THEN 1.0
                WHEN a.n_tokens < 5 THEN 0.0 ELSE 0.5 END AS length_score,
           LEAST(CAST(a.n_tokens AS DOUBLE) / GREATEST(w.n_ws, 1), 1.0) AS alpha_ratio
    FROM agg a JOIN ws w ON a.doc_id = w.doc_id)
SELECT doc_id, n_tokens,
       FLOOR((uniq_ratio) * 1000000 + 0.5) / 1000000 AS uniq_ratio,
       FLOOR((0.4 * length_score + 0.3 * alpha_ratio + 0.3 * uniq_ratio) * 1000000 + 0.5) / 1000000 AS quality
FROM feat
"""


def _q_cosine_bayes(spark, sf_dir):
    import similaripy_spark as sps

    return _emit_topk(
        sps.cosine(_li_matrix(spark, sf_dir), k=10, shrink=5.0,
                   shrink_type="bayesian")
    )


_SQL_COSINE_BAYES = f"WITH {_SQL_LI_M}, {_SQL_XY}" + _topk_sql(
    "(xy.xy / (POW(xsq.xsq, 0.5) * POW(ysq.ysq, 0.5))) * (xy.xy / (xy.xy + 5.0))"
)


def _q_tfidf_logprob(spark, sf_dir):
    from similaripy_spark.functions.normalization import tfidf

    m = _postings(spark, sf_dir).select(
        F.col("doc_id").alias("row"),
        F.col("term").alias("col"),
        F.col("tf").cast("double").alias("value"),
    )
    out = tfidf(m, tf_mode="log", idf_mode="prob")
    return out.select(
        F.col("row").alias("doc_id"),
        F.col("col").alias("term"),
        _r6("value").alias("weight"),
    )


_SQL_TFIDF_LOGPROB = f"""
WITH {_SQL_POSTINGS},
  stats AS (SELECT term, COUNT(*) AS df FROM postings WHERE tf > 0 GROUP BY 1),
  corpus AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM postings)
SELECT d.doc_id, d.term,
       FLOOR((ln(1 + d.tf) * ln((c.n_docs - s.df) / s.df)) * 1000000 + 0.5) / 1000000 AS weight
FROM doclen d JOIN stats s ON d.term = s.term CROSS JOIN corpus c
"""


# --- text analysis -----------------------------------------------------------

def _q_token_stats(spark, sf_dir):
    from similaripy_spark.operators.textstats import token_stats

    st = token_stats(_docs(spark, sf_dir))
    return st.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_ws_tokens").cast("long").alias("n_ws_tokens"),
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("n_punct").cast("long").alias("n_punct"),
        F.col("n_subword_est").cast("long").alias("n_subword_est"),
        _r6("avg_token_len").alias("avg_token_len"),
        _r6("uniq_ratio").alias("uniq_ratio"),
    )


_SQL_TOKEN_STATS = f"""
WITH toks AS (
    SELECT doc_id, t.term FROM (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
      FROM documents) t
    WHERE t.term <> ''),
  agg AS (
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT term) AS BIGINT) AS n_uniq,
           SUM(CAST(LENGTH(term) AS DOUBLE)) AS tot_len,
           CAST(SUM((LENGTH(term) + 3) // 4) AS BIGINT) AS n_sub_tok
    FROM toks GROUP BY 1),
  ws AS (
    SELECT doc_id,
           CAST(LENGTH(text) AS BIGINT) AS n_chars,
           CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT)
             AS n_ws_tokens,
           CAST(LENGTH(regexp_replace(text, '[A-Za-z0-9[:space:]]', '', 'g')) AS BIGINT)
             AS n_punct
    FROM documents)
SELECT a.doc_id, a.n_tokens, w.n_ws_tokens, w.n_chars, w.n_punct,
       a.n_sub_tok + w.n_punct AS n_subword_est,
       FLOOR((a.tot_len / GREATEST(a.n_tokens, 1)) * 1000000 + 0.5) / 1000000 AS avg_token_len,
       FLOOR((CAST(a.n_uniq AS DOUBLE) / GREATEST(a.n_tokens, 1)) * 1000000 + 0.5) / 1000000 AS uniq_ratio
FROM agg a JOIN ws w ON a.doc_id = w.doc_id
"""


def _q_winnow(spark, sf_dir):
    from similaripy_spark.operators.textstats import winnow_fingerprints

    return winnow_fingerprints(_docs(spark, sf_dir))


_SQL_WINNOW = """
WITH post AS (
    SELECT doc_id, t.term, t.pos FROM (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term,
             generate_subscripts(regexp_split_to_array(lower(text), '[^a-z0-9]+'), 1) AS pos
      FROM documents) t
    WHERE t.term <> ''),
  p AS (SELECT doc_id, pos,
               CAST(('0x' || substr(md5(term), 1, 15)) AS BIGINT) AS term_id
        FROM post),
  kg AS (
    SELECT doc_id, pos,
      ((((((term_id % 2038074743) * 40503
         + LEAD(term_id, 1) OVER w) % 2038074743) * 40503
         + LEAD(term_id, 2) OVER w) % 2038074743) * 40503
         + LEAD(term_id, 3) OVER w) % 2038074743 AS kg0,
      LEAD(term_id, 4) OVER w AS last_id
    FROM p WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
  kg2 AS (
    SELECT doc_id, pos, (kg0 * 40503 + last_id) % 2038074743 AS kg_hash
    FROM kg WHERE last_id IS NOT NULL)
SELECT DISTINCT doc_id,
       MIN(kg_hash) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fingerprint
FROM kg2
"""


def _q_lang_guess(spark, sf_dir):
    from similaripy_spark.operators.textstats import stopword_lang_guess

    return stopword_lang_guess(_docs(spark, sf_dir)).select(
        "doc_id", "lang_guess", F.col("hits").cast("long").alias("hits")
    )


def _sql_lang_guess():
    from similaripy_spark.operators.textstats import STOPWORDS

    langs = sorted(STOPWORDS)
    cols = ",\n           ".join(
        "SUM(CASE WHEN term IN ({}) THEN 1 ELSE 0 END) AS c_{}".format(
            ", ".join(f"'{w}'" for w in STOPWORDS[l]), l
        )
        for l in langs
    )
    best = "GREATEST({})".format(", ".join(f"c_{l}" for l in langs))
    guess = "CASE "
    for l in langs:
        guess += f"WHEN best > 0 AND c_{l} = best THEN '{l}' "
    guess += "ELSE 'und' END"
    return f"""
WITH toks AS (
    SELECT doc_id, t.term FROM (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
      FROM documents) t
    WHERE t.term <> ''),
  counts AS (
    SELECT doc_id,
           {cols}
    FROM toks GROUP BY 1),
  withbest AS (SELECT *, {best} AS best FROM counts)
SELECT doc_id, {guess} AS lang_guess, CAST(best AS BIGINT) AS hits
FROM withbest
"""


# --- embeddings / ANN ---------------------------------------------------------

def _q_ann_cosine(spark, sf_dir):
    from similaripy_spark.operators.ann import ann_bruteforce_topk

    out = ann_bruteforce_topk(_emb(spark, sf_dir), k=5)
    return out.select(
        "row", F.col("col").alias("neighbor"), _r6("value").alias("score")
    )


def _q_pq_refine_topk(spark, sf_dir):
    """The FULL product-quantization machinery under the hash-exact gate:
    deterministic codebook fit → distributed encode → ADC lookup-table
    scan → global shortlist → exact double-precision re-rank. With the
    shortlist covering the whole corpus the result is exact brute force
    REGARDLESS of codebook quality (the ADC order only selects; re-rank
    scores every candidate with true vectors), so the same SQL oracle as
    ann_cosine_topk applies while every PQ stage still executes. Recall at
    production shortlists is measured separately in tests."""
    from similaripy_spark.operators.ann import pq_topk

    emb = _emb(spark, sf_dir)
    n = emb.count()
    out = pq_topk(emb, k=5, m=8, nbits=4, refine=-(-n // 5))
    return out.select(
        "row", F.col("col").alias("neighbor"), _r6("value").alias("score")
    )


_SQL_ANN_COSINE = """
WITH m AS (
    SELECT vec_id AS row, t.col - 1 AS col, CAST(t.v AS DOUBLE) AS value
    FROM (SELECT vec_id, unnest(embedding) AS v,
                 generate_subscripts(embedding, 1) AS col
          FROM embeddings) t
    WHERE t.v <> 0),
  xy AS (SELECT a.row, b.row AS col, SUM(a.value * b.value) AS xy
         FROM m a JOIN m b ON a.col = b.col GROUP BY 1, 2),
  nrm AS (SELECT row, SUM(value * value) AS sq FROM m GROUP BY 1),
  scored AS (
    SELECT xy.row, xy.col, xy.xy / (POW(x.sq, 0.5) * POW(y.sq, 0.5)) AS score
    FROM xy JOIN nrm x ON xy.row = x.row JOIN nrm y ON xy.col = y.row
    WHERE xy.row <> xy.col AND xy.xy / (POW(x.sq, 0.5) * POW(y.sq, 0.5)) > 0),
  ranked AS (
    SELECT row, col, score,
           ROW_NUMBER() OVER (PARTITION BY row ORDER BY score DESC, col ASC) AS rn
    FROM scored)
SELECT row, col AS neighbor, FLOOR((score) * 1000000 + 0.5) / 1000000 AS score FROM ranked WHERE rn <= 5
"""


def _q_knn_vote(spark, sf_dir):
    from similaripy_spark.operators.ann import ann_bruteforce_topk

    emb = _emb(spark, sf_dir)
    nn = ann_bruteforce_topk(emb, k=5)
    labels = emb.select(F.col("vec_id").alias("col"), F.col("label").cast("long").alias("nlabel"))
    votes = (
        nn.join(labels, "col")
        .groupBy("row", "nlabel")
        .agg(F.count("*").alias("votes"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("row").orderBy(F.desc("votes"), F.asc("nlabel"))
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .filter("rn = 1")
        .select("row", F.col("nlabel").alias("pred_label"), F.col("votes").cast("long").alias("votes"))
    )


_SQL_KNN_VOTE = """
WITH m AS (
    SELECT vec_id AS row, t.col - 1 AS col, CAST(t.v AS DOUBLE) AS value
    FROM (SELECT vec_id, unnest(embedding) AS v,
                 generate_subscripts(embedding, 1) AS col
          FROM embeddings) t
    WHERE t.v <> 0),
  xy AS (SELECT a.row, b.row AS col, SUM(a.value * b.value) AS xy
         FROM m a JOIN m b ON a.col = b.col GROUP BY 1, 2),
  nrm AS (SELECT row, SUM(value * value) AS sq FROM m GROUP BY 1),
  scored AS (
    SELECT xy.row, xy.col, xy.xy / (POW(x.sq, 0.5) * POW(y.sq, 0.5)) AS score
    FROM xy JOIN nrm x ON xy.row = x.row JOIN nrm y ON xy.col = y.row
    WHERE xy.row <> xy.col AND xy.xy / (POW(x.sq, 0.5) * POW(y.sq, 0.5)) > 0),
  ranked AS (
    SELECT row, col, score,
           ROW_NUMBER() OVER (PARTITION BY row ORDER BY score DESC, col ASC) AS rn
    FROM scored),
  nn AS (SELECT row, col FROM ranked WHERE rn <= 5),
  votes AS (
    SELECT nn.row, CAST(e.label AS BIGINT) AS nlabel, COUNT(*) AS votes
    FROM nn JOIN embeddings e ON nn.col = e.vec_id
    GROUP BY 1, 2),
  vr AS (SELECT row, nlabel, votes,
                ROW_NUMBER() OVER (PARTITION BY row ORDER BY votes DESC, nlabel ASC) AS rn
         FROM votes)
SELECT row, nlabel AS pred_label, CAST(votes AS BIGINT) AS votes FROM vr WHERE rn = 1
"""


# --- general relational breadth (sources, windows, decimal aggs) -------------

def _q_pricing_summary(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("decimal(18,2)").alias("_sq"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("_sp"),
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .cast("decimal(18,4)")
            ).alias("_sd"),
            F.count("*").alias("n_rows"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            F.col("_sq").cast("double").alias("sum_qty"),
            F.col("_sp").cast("double").alias("sum_base_price"),
            F.col("_sd").cast("double").alias("sum_disc_price"),
            F.col("n_rows").cast("long").alias("n_rows"),
        )
    )


_SQL_PRICING = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY 1, 2
"""


def _q_events_window(spark, sf_dir):
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.row_number().over(w).cast("long").alias("seq"),
        _r6(
            F.sum(F.col("value").cast("decimal(18,6)")).over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ).cast("double")
        ).alias("running_value"),
        F.lag("event_type", 1).over(w).alias("prev_type"),
    )


_SQL_EVENTS_WINDOW = f"""
SELECT event_id, user_id,
       CAST(ROW_NUMBER() OVER w AS BIGINT) AS seq,
       FLOOR((CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER
             (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)) * 1000000 + 0.5) / 1000000
         AS running_value,
       LAG(event_type, 1) OVER w AS prev_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def _q_order_priority(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
        )
    )


_SQL_ORDER_PRIORITY = """
SELECT c_mktsegment, o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1, 2
"""


def _q_pricing_rollup(spark, sf_dir):
    """ROLLUP aggregation (grouping-sets family) with exact decimal sums."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("l_linestatus"),
            "n_rows",
            "sum_qty",
        )
    )


_SQL_PRICING_ROLLUP = """
SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
       COALESCE(l_linestatus, 'ALL') AS l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def _q_events_sessionize(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity) — the batch form of a
    streaming session window: lag → gap marker → cumulative session id."""
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tsl = F.unix_timestamp(F.col("ts").cast("timestamp"))
    gap = tsl - F.lag(tsl, 1).over(w)
    marked = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > 1800), F.lit(1)).otherwise(F.lit(0)),
    )
    sessed = marked.withColumn(
        "session_seq",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).cast("long"),
    )
    tsl2 = F.unix_timestamp(F.col("ts").cast("timestamp"))
    return sessed.groupBy("user_id", "session_seq").agg(
        F.count("*").cast("long").alias("n_events"),
        F.min(tsl2).alias("session_start"),
        F.max(tsl2).alias("session_end"),
    )


_SQL_EVENTS_SESSIONIZE = """
WITH marked AS (
  SELECT user_id, event_id, ts, CAST(FLOOR(epoch(ts)) AS BIGINT) AS tsl,
         CASE WHEN CAST(FLOOR(epoch(ts)) AS BIGINT) - LAG(CAST(FLOOR(epoch(ts)) AS BIGINT), 1) OVER w IS NULL
                   OR CAST(FLOOR(epoch(ts)) AS BIGINT) - LAG(CAST(FLOOR(epoch(ts)) AS BIGINT), 1) OVER w > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
  sessed AS (
  SELECT user_id, tsl,
         CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_seq
  FROM marked)
SELECT user_id, session_seq,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(tsl) AS session_start,
       MAX(tsl) AS session_end
FROM sessed GROUP BY 1, 2
"""


def _q_bm25_weighted_topk(spark, sf_dir):
    """query_weighted dot-product composition: per-term weights 0.5·pos,
    duplicates NOT deduplicated (their qw mass adds)."""
    from similaripy_spark.fulltext.query import bm25_topk
    from similaripy_spark.fulltext.weights import bm25_weights

    docs = _docs(spark, sf_dir)
    queries = docs.filter(F.col("doc_id") % 25 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.slice(F.split(F.lower("text"), "[^a-z0-9]+"), 1, 3).alias("terms"),
    ).withColumn(
        "weights",
        F.expr("transform(sequence(1, size(terms)), i -> i * 0.5)"),
    )
    w = bm25_weights(_postings(spark, sf_dir))
    out = bm25_topk(w, queries, k=10, query_weighted=True)
    return out.select("query_id", "doc_id", _r6("score").alias("score"))


_SQL_BM25_WEIGHTED_TOPK = f"""
WITH {_SQL_POSTINGS},
  stats AS (SELECT term, COUNT(*) AS df FROM postings WHERE tf > 0 GROUP BY 1),
  corpus AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs,
                    SUM(tf) / CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS avgdl
             FROM postings),
  weights AS (
    SELECT d.doc_id, d.term,
           ln((c.n_docs - s.df + 0.5) / (s.df + 0.5))
           * (d.tf * 2.2 / (d.tf + 1.2 * ((1 - 0.75) + 0.75 * d.dl / c.avgdl))) AS weight
    FROM doclen d JOIN stats s ON d.term = s.term CROSS JOIN corpus c),
  qterms AS (
    SELECT doc_id AS query_id,
           unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')[1:3]) AS term,
           generate_subscripts(regexp_split_to_array(lower(text), '[^a-z0-9]+')[1:3], 1) * 0.5 AS qw
    FROM documents WHERE doc_id % 25 = 0),
  scores AS (
    SELECT q.query_id, w.doc_id, SUM(q.qw * w.weight) AS score
    FROM qterms q JOIN weights w ON q.term = w.term
    WHERE q.term <> ''
    GROUP BY 1, 2),
  ranked AS (
    SELECT query_id, doc_id, score,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rn
    FROM scores)
SELECT query_id, doc_id, FLOOR((score) * 1000000 + 0.5) / 1000000 AS score FROM ranked WHERE rn <= 10
"""


def _q_simhash_pairs(spark, sf_dir):
    """Near-dup pairs by Hamming distance over 24-bit SimHashes (small enough
    that same-distribution docs collide; the pigeonhole block prefilter
    runs with max_hamming+1 = 4 blocks of 6 bits)."""
    from similaripy_spark.operators.dedup import simhash_pairs

    out = simhash_pairs(_docs(spark, sf_dir), max_hamming=3, bits=24)
    return out.select(
        "doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming")
    )


_SQL_SIMHASH_PAIRS = """
WITH toks AS (
    SELECT doc_id, t.term FROM (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS term
      FROM documents) t
    WHERE t.term <> ''),
  tf AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2),
  tfi AS (SELECT doc_id, tf,
                 CAST(('0x' || substr(md5(term), 1, 7)) AS BIGINT) AS x1,
                 CAST(('0x' || substr(md5(term), 9, 7)) AS BIGINT) AS x2
          FROM tf),
  bits AS (SELECT CAST(b AS BIGINT) AS bit FROM range(24) t(b)),
  x0 AS (SELECT doc_id, tf, bit,
               (x1 * 48271 + x2 * 16807 + (bit + 1) * 97) % 2147483647 AS x
        FROM tfi CROSS JOIN bits),
  x1 AS (SELECT doc_id, tf, bit, (xor(x, x >> 7) * 48271) % 2147483647 AS x FROM x0),
  x2 AS (SELECT doc_id, tf, bit, (xor(x, x >> 11) * 16807) % 2147483647 AS x FROM x1),
  g AS (SELECT doc_id, tf, bit, xor(x, x >> 5) % 2 AS g FROM x2),
  per_bit AS (
    SELECT doc_id, bit, SUM(CASE WHEN g = 1 THEN tf ELSE -tf END) AS s
    FROM g GROUP BY 1, 2),
  sim AS (
    SELECT doc_id,
           CAST(SUM(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS sh
    FROM per_bit GROUP BY 1)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
FROM sim a JOIN sim b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh, b.sh)) <= 3
"""


def _q_embedding_dedup(spark, sf_dir):
    """Near-duplicate vectors: exact cosine >= 0.2 pairs over a 300-vector
    subset (k = subset size so the top-k truncation is inert — pair-exact)."""
    from similaripy_spark.operators.ann import embedding_dedup_pairs

    sub = _emb(spark, sf_dir).filter(F.col("vec_id") < 300)
    out = embedding_dedup_pairs(sub, threshold=0.2, k=300)
    return out.select("doc_a", "doc_b", _r6("cosine").alias("cosine"))


_SQL_EMBEDDING_DEDUP = """
WITH m AS (
    SELECT vec_id AS row, t.col - 1 AS col, CAST(t.v AS DOUBLE) AS value
    FROM (SELECT vec_id, unnest(embedding) AS v,
                 generate_subscripts(embedding, 1) AS col
          FROM embeddings WHERE vec_id < 300) t
    WHERE t.v <> 0),
  xy AS (SELECT a.row, b.row AS col, SUM(a.value * b.value) AS xy
         FROM m a JOIN m b ON a.col = b.col
         WHERE a.row < b.row GROUP BY 1, 2),
  nrm AS (SELECT row, SUM(value * value) AS sq FROM m GROUP BY 1)
SELECT xy.row AS doc_a, xy.col AS doc_b,
       FLOOR((xy.xy / (POW(x.sq, 0.5) * POW(y.sq, 0.5))) * 1000000 + 0.5) / 1000000 AS cosine
FROM xy JOIN nrm x ON xy.row = x.row JOIN nrm y ON xy.col = y.row
WHERE xy.xy / (POW(x.sq, 0.5) * POW(y.sq, 0.5)) >= 0.2
"""


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q = {
        # fulltext stack
        "postings": _q_postings,
        "term_df": _q_term_df,
        "bm25_weights": _q_bm25_weights,
        "bm25plus_weights": _q_bm25plus_weights,
        "tfidf_weights": _q_tfidf_weights,
        "bm25_topk": _q_bm25_topk,
        "bm25_index_topk": _q_bm25_index_topk,
        "bm25_filter_topk": _q_bm25_filter_topk,
        "bm25_facet_counts": _q_bm25_facet_counts,
        "bm25_facet_stats": _q_bm25_facet_stats,
        "bm25_sort_topk": _q_bm25_sort_topk,
        "bm25_collapse_topk": _q_bm25_collapse_topk,
        "bm25_not_topk": _q_bm25_not_topk,
        "bm25_range_topk": _q_bm25_range_topk,
        "bm25_search_topk": _q_bm25_search_topk,
        "bm25_point_topk": _q_bm25_point_topk,
        "bm25_and_topk": _q_bm25_and_topk,
        "bm25_append_topk": _q_bm25_append_topk,
        "bm25_delete_topk": _q_bm25_delete_topk,
        "bm25_phrase_topk": _q_bm25_phrase_topk,
        "bm25_phrase_pos_topk": _q_bm25_phrase_pos_topk,
        "bm25_phrase_slop_topk": _q_bm25_phrase_slop_topk,
        "bm25_snippet_spans": _q_bm25_snippet_spans,
        "bm25_min_match_topk": _q_bm25_min_match_topk,
        "bm25_mlt_topk": _q_bm25_mlt_topk,
        "bm25_weighted_topk": _q_bm25_weighted_topk,
        # normalizations (SURVEY §2 #1)
        "norm_l1_row": lambda s, d: _q_norm(s, d, "l1", 1),
        "norm_l2_row": lambda s, d: _q_norm(s, d, "l2", 1),
        "norm_max_row": lambda s, d: _q_norm(s, d, "max", 1),
        "norm_l2_col": lambda s, d: _q_norm(s, d, "l2", 0),
        # similarity family (SURVEY §2 #5-13)
        "dot_product_topk": _q_sim("dot_product"),
        "cosine_topk": _q_sim("cosine"),
        "asymmetric_cosine_topk": _q_sim("asymmetric_cosine", alpha=0.2),
        "jaccard_topk": _q_sim("jaccard"),
        "dice_topk": _q_sim("dice"),
        "tversky_topk": _q_sim("tversky", alpha=0.8, beta=0.4),
        "p3alpha_topk": _q_p3alpha,
        "rp3beta_topk": _q_rp3beta,
        "s_plus_topk": _q_s_plus,
        "dot_filter_target": _q_dot_filter_target,
        # dedup family
        "dedup_exact": _q_dedup_exact,
        "word_shingles": _q_shingles,
        "minhash_signatures": _q_minhash,
        "minhash_lsh_pairs": _q_lsh_pairs,
        "ngram_jaccard_pairs": _q_jaccard_pairs,
        "simhash": _q_simhash,
        "simhash_pairs": _q_simhash_pairs,
        "dedup_components": _q_dedup_components,
        "dedup_canonical_docs": _q_dedup_canonical,
        # text analysis
        "extract_text": _q_extract_text,
        "token_stats": _q_token_stats,
        "quality_score": _q_quality,
        "winnow_fingerprints": _q_winnow,
        "lang_guess": _q_lang_guess,
        # extra similarity knobs / weighting modes
        "cosine_bayes_shrink": _q_cosine_bayes,
        "tfidf_log_prob": _q_tfidf_logprob,
        # embeddings / ANN
        "ann_cosine_topk": _q_ann_cosine,
        "pq_refine_topk": _q_pq_refine_topk,
        "embedding_dedup_pairs": _q_embedding_dedup,
        "knn_label_vote": _q_knn_vote,
        # relational breadth
        "pricing_summary": _q_pricing_summary,
        "pricing_rollup": _q_pricing_rollup,
        "events_window": _q_events_window,
        "events_sessionize": _q_events_sessionize,
        "order_priority": _q_order_priority,
    }
    return q


def oracle_sql() -> dict[str, str]:
    return {
        "postings": f"WITH {_SQL_POSTINGS} SELECT doc_id, term, tf, CAST(dl AS BIGINT) AS dl FROM doclen",
        "term_df": f"WITH {_SQL_POSTINGS} SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM postings WHERE tf > 0 GROUP BY 1",
        "bm25_weights": f"""
WITH {_SQL_POSTINGS},
  stats AS (SELECT term, COUNT(*) AS df FROM postings WHERE tf > 0 GROUP BY 1),
  corpus AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs,
                    SUM(tf) / CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS avgdl
             FROM postings)
SELECT d.doc_id, d.term,
       FLOOR((ln((c.n_docs - s.df + 0.5) / (s.df + 0.5))
             * (d.tf * 2.2 / (d.tf + 1.2 * ((1 - 0.75) + 0.75 * d.dl / c.avgdl)))) * 1000000 + 0.5) / 1000000 AS weight
FROM doclen d JOIN stats s ON d.term = s.term CROSS JOIN corpus c
""",
        "bm25plus_weights": f"""
WITH {_SQL_POSTINGS},
  stats AS (SELECT term, COUNT(*) AS df FROM postings WHERE tf > 0 GROUP BY 1),
  corpus AS (SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs,
                    SUM(tf) / CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS avgdl
             FROM postings)
SELECT d.doc_id, d.term,
       FLOOR((ln((c.n_docs - s.df + 0.5) / (s.df + 0.5))
             * (d.tf * 2.2 / (d.tf + 1.2 * ((1 - 0.75) + 0.75 * d.dl / c.avgdl)) + 1.0)) * 1000000 + 0.5) / 1000000 AS weight
FROM doclen d JOIN stats s ON d.term = s.term CROSS JOIN corpus c
""",
        "tfidf_weights": _SQL_TFIDF,
        "bm25_topk": _SQL_BM25_TOPK,
        "bm25_index_topk": _SQL_BM25_TOPK,
        "bm25_filter_topk": _SQL_BM25_FILTER_TOPK,
        "bm25_facet_counts": _SQL_BM25_FACET_COUNTS,
        "bm25_facet_stats": _SQL_BM25_FACET_STATS,
        "bm25_sort_topk": _SQL_BM25_SORT_TOPK,
        "bm25_collapse_topk": _SQL_BM25_COLLAPSE_TOPK,
        "bm25_not_topk": _SQL_BM25_NOT_TOPK,
        "bm25_range_topk": _SQL_BM25_RANGE_TOPK,
        "bm25_search_topk": _SQL_BM25_SEARCH_TOPK,
        "bm25_point_topk": _SQL_BM25_TOPK,
        "bm25_and_topk": _SQL_BM25_AND_TOPK,
        # append == full build exactly, so the oracle is the plain
        # whole-corpus BM25 SQL — that IS the claim under test
        "bm25_append_topk": _SQL_BM25_TOPK,
        # deletion: full-corpus weights, survivors-only ranking
        "bm25_delete_topk": _SQL_BM25_DELETE_TOPK,
        # phrase: AND candidates + the same adjacency regexp, in SQL
        "bm25_phrase_topk": _SQL_BM25_PHRASE_TOPK,
        # positional variant must reproduce the SAME adjacency semantics
        "bm25_phrase_pos_topk": _SQL_BM25_PHRASE_TOPK,
        "bm25_phrase_slop_topk": _SQL_BM25_PHRASE_SLOP_TOPK,
        "bm25_snippet_spans": _SQL_BM25_SNIPPET_SPANS,
        "bm25_min_match_topk": _SQL_BM25_MIN_MATCH_TOPK,
        "bm25_mlt_topk": _SQL_BM25_MLT_TOPK,
        "bm25_weighted_topk": _SQL_BM25_WEIGHTED_TOPK,
        "norm_l1_row": _SQL_NORM[("l1", 1)],
        "norm_l2_row": _SQL_NORM[("l2", 1)],
        "norm_max_row": _SQL_NORM[("max", 1)],
        "norm_l2_col": _SQL_NORM[("l2", 0)],
        "dot_product_topk": _SQL_SIM["dot_product_topk"],
        "cosine_topk": _SQL_SIM["cosine_topk"],
        "asymmetric_cosine_topk": _SQL_SIM["asymmetric_cosine_topk"],
        "jaccard_topk": _SQL_SIM["jaccard_topk"],
        "dice_topk": _SQL_SIM["dice_topk"],
        "tversky_topk": _SQL_SIM["tversky_topk"],
        "p3alpha_topk": _SQL_P3ALPHA,
        "rp3beta_topk": _SQL_RP3BETA,
        "s_plus_topk": _SQL_SPLUS,
        "dot_filter_target": _SQL_DOT_FT,
        "dedup_exact": _SQL_DEDUP_EXACT,
        "word_shingles": _SQL_SHINGLES,
        "minhash_signatures": _SQL_MINHASH,
        "minhash_lsh_pairs": _SQL_LSH_PAIRS,
        "ngram_jaccard_pairs": _SQL_JACCARD_PAIRS,
        "simhash": _SQL_SIMHASH,
        "simhash_pairs": _SQL_SIMHASH_PAIRS,
        "dedup_components": _SQL_DEDUP_COMPONENTS,
        "dedup_canonical_docs": _SQL_DEDUP_CANONICAL,
        "extract_text": _SQL_EXTRACT_TEXT,
        "token_stats": _SQL_TOKEN_STATS,
        "quality_score": _SQL_QUALITY,
        "cosine_bayes_shrink": _SQL_COSINE_BAYES,
        "tfidf_log_prob": _SQL_TFIDF_LOGPROB,
        "winnow_fingerprints": _SQL_WINNOW,
        "lang_guess": _sql_lang_guess(),
        "ann_cosine_topk": _SQL_ANN_COSINE,
        "pq_refine_topk": _SQL_ANN_COSINE,
        "embedding_dedup_pairs": _SQL_EMBEDDING_DEDUP,
        "knn_label_vote": _SQL_KNN_VOTE,
        "pricing_summary": _SQL_PRICING,
        "pricing_rollup": _SQL_PRICING_ROLLUP,
        "events_window": _SQL_EVENTS_WINDOW,
        "events_sessionize": _SQL_EVENTS_SESSIONIZE,
        "order_priority": _SQL_ORDER_PRIORITY,
    }
