"""BM25 weighting over postings: the relational weighting pass
(``bm25_weights`` — the path the index is checked against), plus the
tf-part and idf pieces the index applies at read time.

Reproduces the contract of ``inplace_normalize_csr_bm25plus``
(normalization.pyx:260-334, transcribed in SURVEY.md §2.3) on the postings
relation, structured for scale:

* ``dl`` already rides on every posting (map-side, postings.py) — no doc-side
  shuffle at all;
* ``term_stats`` (V rows) is joined UNHINTED: AQE broadcast-converts it when
  it is actually small (plan-pinned in tests/test_plans.py), but at web scale
  the vocabulary of 10^12 Common-Crawl docs is billions of junk terms and a
  forced broadcast would OOM every executor — the join must be allowed to
  fall back to a shuffle join. Only the 1-row corpus scalars keep an explicit
  broadcast (size-independent by construction).

The reference's N is the declared matrix shape incl. empty docs; pass
``n_docs`` to pin it (e.g. total pages before language filtering), else the
distinct doc count in the postings is used.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from similaripy_spark.functions.normalization import idf_expr, tf_expr
from similaripy_spark.fulltext.postings import corpus_stats, term_stats


def bm25_weights(
    postings: DataFrame,
    k1: float = 1.2,
    b: float = 0.75,
    delta: float = 0.0,
    tf_mode: str = "raw",
    idf_mode: str = "bm25",
    logbase: float = math.e,
    n_docs: int | None = None,
    avgdl: float | None = None,
) -> DataFrame:
    """postings(doc_id, term, tf, dl) → + (weight double).

    weight = idf * (tf*(k1+1) / (tf + k1*((1-b) + b*dl/avgdl)) + delta)

    When BOTH ``n_docs`` and ``avgdl`` are given (the index builder already
    computed them in its corpus-scalars pass) they become plan literals —
    no corpus agg, no crossJoin, one less pass over the postings.
    """
    p = postings.join(term_stats(postings), "term")
    if n_docs is not None and avgdl is not None:
        ndocs_col = F.lit(float(n_docs))
        avgdl_col = F.lit(float(avgdl))
    else:
        if n_docs is None:
            corpus = corpus_stats(postings, from_postings=True)
        else:
            corpus = postings.agg(
                (F.sum(F.col("tf").cast("double")) / float(n_docs)).alias("avgdl")
            ).withColumn("n_docs", F.lit(float(n_docs)))
        p = p.crossJoin(F.broadcast(corpus))
        ndocs_col = F.col("n_docs").cast("double")
        avgdl_col = F.col("avgdl")
    tf_ = tf_expr(F.col("tf").cast("double"), F.col("dl").cast("double"), tf_mode, logbase)
    idf_ = idf_expr(F.col("df").cast("double"), ndocs_col, idf_mode, logbase)
    norm_dl = (1.0 - b) + b * F.col("dl").cast("double") / avgdl_col
    weight = idf_ * (tf_ * (k1 + 1.0) / (tf_ + k1 * norm_dl) + delta)
    return p.select(
        "doc_id", "term", "tf", "dl", weight.alias("weight")
    )


def bm25_tf_part(
    postings: DataFrame,
    k1: float = 1.2,
    b: float = 0.75,
    delta: float = 0.0,
    tf_mode: str = "raw",
    avgdl: float = None,
    logbase: float = math.e,
) -> DataFrame:
    """postings(doc_id, term, tf, dl) → + (weight double), where weight is
    the DOC-LOCAL factor of BM25 only:

        weight = tf*(k1+1) / (tf + k1*((1-b) + b*dl/avgdl)) + delta

    The term-global idf factor is joined on separately (``idf_table``;
    BM25 = idf(t) × this value — same factoring as the reference's
    separate stats pass vs weighting pass, normalization.pyx:309-334).
    Its callers score decoded index postings relationally, in float64:
    ``docvalues.collapse_topk`` and the phrase composition of
    ``querylang.search``. ``avgdl`` must be supplied (the index meta has
    it); it is a corpus scalar, not a vocabulary-sized table."""
    if avgdl is None:
        raise ValueError("bm25_tf_part requires the avgdl corpus scalar")
    tf_ = tf_expr(
        F.col("tf").cast("double"), F.col("dl").cast("double"), tf_mode,
        logbase,
    )
    norm_dl = (1.0 - b) + b * F.col("dl").cast("double") / float(avgdl)
    weight = tf_ * (k1 + 1.0) / (tf_ + k1 * norm_dl) + delta
    return postings.select(
        "doc_id", "term", "tf", "dl", weight.alias("weight")
    )


def idf_table(
    term_stats: DataFrame,
    n_docs: int,
    idf_mode: str = "bm25",
    logbase: float = math.e,
) -> DataFrame:
    """term_stats(term, df, ...) → (term, idf double): the idf of an index
    for the relational scorers (``docvalues.collapse_topk``, the phrase
    composition of ``querylang.search``, more-like-this term selection).
    The query kernels compute theirs with ``idf_np`` instead."""
    return term_stats.select(
        "term",
        idf_expr(
            F.col("df").cast("double"), F.lit(float(n_docs)), idf_mode,
            logbase,
        ).alias("idf"),
    )


def idf_np(df: "np.ndarray", n_docs: int) -> "np.ndarray":
    """NumPy twin of ``idf_table``'s expression (bm25 idf mode):

        log((N - df + 0.5) / (df + 0.5))

    The one idf of both query kernels: the segment scorer and the
    term-major point path carry ``df`` and call this, so a term's idf is
    bit-identical on both sides of the route boundary (Spark's ``log`` and
    ``np.log`` can differ in the last bit, which would reorder exact ties).
    A NaN df (a term absent from the index) gives a NaN idf; callers map it
    to 0, since such a term matches no posting."""
    import numpy as np

    df = np.asarray(df, dtype=np.float64)
    return np.log((float(n_docs) - df + 0.5) / (df + 0.5))


def tf_part_np(
    tf: "np.ndarray",
    dl: "np.ndarray",
    k1: float = 1.2,
    b: float = 0.75,
    avgdl: float = None,
    delta: float = 0.0,
) -> "np.ndarray":
    """NumPy twin of ``bm25_tf_part``'s weight expression (raw tf mode):

        tf*(k1+1) / (tf + k1*((1-b) + b*dl/avgdl)) + delta

    Shared by the index's two consumers of the stored (tf, dl): the block
    encoder (per-block score BOUNDS, computed at the index's pinned
    ``bounds_avgdl``) and the query kernels (exact scores at the CURRENT
    ``avgdl`` — which is what makes append-without-rewrite exact: the
    corpus scalar is applied at read time). The result is rounded through
    float32, the engine's stored-weight dtype (s_plus.pyx:237-238), so the
    encoder's bounds and the kernels' scores round alike."""
    import numpy as np

    if avgdl is None:
        raise ValueError("tf_part_np requires the avgdl corpus scalar")
    tf = tf.astype(np.float64, copy=False)
    dl = dl.astype(np.float64, copy=False)
    norm_dl = (1.0 - b) + b * dl / float(avgdl)
    out = tf * (k1 + 1.0) / (tf + k1 * norm_dl) + delta
    return out.astype(np.float32)
