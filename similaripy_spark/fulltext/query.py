"""BM25 top-k retrieval — query path A (relational / oracle-grade).

The reference's retrieval composition is ``dot_product(query_matrix,
bm25_weighted_docs.T, k)`` (README.md:73-95); for a binarized query vector
that is textbook Okapi BM25 ranking. Relationally (SURVEY.md §2.4):

    queries ⋈ weighted postings ON term      -- posting-list lookup
      → groupBy(query_id, doc_id).sum(weight) -- the sparse accumulator
      → top-k (score DESC, doc_id ASC)         -- deterministic heap

Spark turns the window + rn<=k into WindowGroupLimit (per-partition top-k
before and after the shuffle) — the distributed twin of the reference's
per-row heap (s_plus.h:39-64).

Unlike the similarity API (threshold=0 drops negative scores, matching
s_plus defaults), retrieval keeps negative BM25 scores: a top-10 over a
corpus where every query term is a stopword must still return 10 docs.
Pass ``threshold=0.0`` to reproduce the reference composition exactly.

Scale: the exploded query-term side is usually tiny next to the index, but a
production query BATCH can be arbitrarily large — the join is therefore left
UNHINTED so AQE broadcast-converts it only when the measured size is small
(plan-pinned in tests/test_plans.py) and falls back to a shuffle join
otherwise (VERDICT r2 finding 1). The postings side is term-partitioned
parquet so the join prunes to exactly the touched terms (predicate pushdown
on ``term``).

The same composition over a BUILT index (its segment blocks, term_stats
and tombstones) is spelled by four helpers, shared by the relational
doc-values operators (docvalues.py), the query-string phrase composition
(querylang.py) and the phrase kernels' candidate scans: ``term_segments``
(the segment rows of a batch's terms), ``live_postings`` (those rows
decoded, tombstones dropped), ``bm25_scores`` (the exact float64 BM25
sum per (query, doc)) and ``all_terms`` (its AND filter).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from similaripy_spark.operators.topk import top_k

#: a query batch with at most this many distinct terms filters the segment
#: scan with a literal ``isin`` (the predicate reaches the parquet
#: row-group stats, and the optimizer carries it across a join on term); a
#: larger one semi-joins a broadcast of its terms
TERM_PUSHDOWN_CAP = 10000


def bm25_topk(
    weighted_postings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    threshold: float | None = None,
    query_weighted: bool = False,
) -> DataFrame:
    """queries(query_id, terms array<string>) × postings(doc_id, term, weight)
    → (query_id, doc_id, score, rank), rank 1..k by (score DESC, doc_id ASC).

    query_weighted=True is the general dot_product composition: queries must
    then carry a ``weights`` array<double> parallel to ``terms``, and the
    score is Σ qw·weight — duplicate terms are NOT deduplicated (their qw
    contributions add, exactly as repeated query-vector mass would in the
    reference's ``dot_product(q, W.T)``). Default is the binarized query
    vector of the README example (distinct terms, qw=1).
    """
    # the matched stream is explicitly clustered by query_id with the
    # configured shuffle parallelism BEFORE the score aggregate: the
    # aggregate and the top-k window then share that ONE exchange (same
    # single-exchange shape as the similarity kernel — an
    # ENSURE_REQUIREMENTS exchange here would be planned on (query_id,
    # doc_id) and the window would pay a second full shuffle + sort of
    # the same stream). Partial aggregation loses almost nothing: a
    # (query, doc) cell has at most |query terms| contributions.
    n_part = int(
        queries.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    if query_weighted:
        if "weights" not in queries.columns:
            raise ValueError(
                "query_weighted=True requires a `weights` array column "
                "parallel to `terms`"
            )
        qterms = queries.select(
            "query_id",
            F.explode(F.arrays_zip("terms", "weights")).alias("tw"),
        ).select(
            "query_id",
            F.col("tw.terms").alias("term"),
            F.col("tw.weights").cast("double").alias("qw"),
        )
        scores = (
            qterms.join(weighted_postings, "term")
            .repartition(n_part, F.col("query_id"))
            .groupBy("query_id", "doc_id")
            .agg(F.sum(F.col("qw") * F.col("weight")).alias("score"))
        )
    else:
        qterms = queries.select(
            "query_id", F.explode("terms").alias("term")
        ).distinct()
        scores = (
            qterms.join(weighted_postings, "term")
            .repartition(n_part, F.col("query_id"))
            .groupBy("query_id", "doc_id")
            .agg(F.sum("weight").alias("score"))
        )
    if threshold is not None:
        scores = scores.filter(
            (F.col("score") >= threshold) & (F.col("score") != 0.0)
        )
    out = top_k(
        scores, k, group="query_id", order_value="score", tiebreak="doc_id",
        keep_rank=True,
    )
    return out.select("query_id", "doc_id", "score", "rank")


def query_terms(queries: DataFrame) -> DataFrame:
    """The distinct non-empty (query_id, term) pairs of a query batch."""
    from similaripy_spark.fulltext.retrieve import _ensure_terms

    return (
        _ensure_terms(queries)
        .select("query_id", F.explode("terms").alias("term"))
        .filter(F.col("term") != "")
        .distinct()
    )


def term_segments(spark: SparkSession, index_dir: str,
                  terms: DataFrame) -> DataFrame:
    """The segment rows of the distinct ``terms`` (a one-column ``term``
    frame): a literal ``isin`` up to TERM_PUSHDOWN_CAP terms, a broadcast
    semi-join above it. Under the cap the optimizer carries the literal
    across a join on term, so a df join onto the result
    (``wand.segment_topk``) scans only those terms' term_stats rows."""
    from similaripy_spark.fulltext.index_build import read_segments

    seg = read_segments(spark, index_dir)
    lit = [r[0] for r in terms.limit(TERM_PUSHDOWN_CAP + 1).collect()]
    if len(lit) <= TERM_PUSHDOWN_CAP:
        return seg.filter(F.col("term").isin(lit))
    return seg.join(F.broadcast(terms), "term", "semi")


def live_postings(spark: SparkSession, index_dir: str, meta: dict,
                  terms: DataFrame) -> DataFrame:
    """Decoded postings (doc_id, term, tf, dl) of the distinct ``terms``
    over the LIVE corpus: the ``term_segments`` blocks, decoded, with
    tombstoned docs dropped."""
    from similaripy_spark.fulltext.index_merge import decode_segments

    posted = decode_segments(term_segments(spark, index_dir, terms))
    if meta.get("n_tombstone_epochs"):
        from similaripy_spark.fulltext.delete import read_tombstones

        posted = posted.join(
            read_tombstones(spark, index_dir), "doc_id", "left_anti"
        )
    return posted


def bm25_scores(qterms: DataFrame, postings: DataFrame, index_dir: str,
                meta: dict) -> DataFrame:
    """(query_id, doc_id, score, n_matched): the exact float64 reference
    BM25 of every (query, doc) pair that shares a term — distinct
    ``qterms`` (query_id, term) ⋈ ``bm25_tf_part`` of the decoded postings
    at the index's (k1, b, avgdl) ⋈ ``idf_table`` of its term_stats, then
    Σ weight·idf. ``n_matched`` counts the query terms the doc contains
    (``all_terms`` compares it with the query's term count)."""
    from similaripy_spark.fulltext.index_build import read_term_stats
    from similaripy_spark.fulltext.weights import bm25_tf_part, idf_table

    tfp = bm25_tf_part(
        postings, k1=float(meta["k1"]), b=float(meta["b"]),
        avgdl=float(meta["avgdl"]),
    )
    idf = idf_table(
        read_term_stats(postings.sparkSession, index_dir),
        int(meta["n_docs"]),
    )
    return (
        qterms.join(tfp, "term")
        .join(idf, "term")
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum(F.col("weight") * F.col("idf")).alias("score"),
            F.count("*").alias("n_matched"),
        )
    )


def all_terms(matched: DataFrame, qterms: DataFrame) -> DataFrame:
    """Keep the (query, doc) rows whose ``n_matched`` equals the query's
    distinct-term count (AND semantics — a HAVING)."""
    need = qterms.groupBy("query_id").agg(F.count("*").alias("__need"))
    return matched.join(need, "query_id").filter(
        F.col("n_matched") == F.col("__need")
    )
