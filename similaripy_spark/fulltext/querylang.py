"""Query-string surface: a Lucene-flavored search-box grammar composed
onto the engine's retrieval primitives.

    foo bar                  ranked terms (BM25 OR union)
    -baz                     MUST_NOT (docs containing it are excluded)
    "exact phrase"           phrase constraint (consecutive tokens; needs
                             the positional sidecar)
    lang:en,de               doc-values IN-list filter (dict field)
    warc_ts:[A TO B]         doc-values closed-range filter (numeric
                             field; '*' or empty = open end; ints or ISO
                             timestamps)

Deliberately conjunctive-only (no OR / grouping): every clause narrows,
like a search box. The colon form always parses as a filter — quote a
literal colon token as a phrase. Bare and negated tokens are run through
the BUILD tokenizer ([a-z0-9]+ runs, lowercased), so a query can never
tokenize differently from the indexed corpus.

Execution (``search`` / ``IndexHandle.search``) — a POINT-query shape,
one string per call, the interactive-search server path:

* no phrases → one kernel call: the segment batch scorer with the
  not_terms column and the doc-values filter pushed to the decode choke
  point (topk with ``filter=``) — identical semantics and tie rule as
  ``IndexHandle.topk``.
* with phrases → candidate-driven composition: each phrase's FULL match
  set comes from the positional path (posting-list intersection +
  ordered-position verification, positional.phrase_topk_pos), phrase sets
  intersect, and the survivors are scored RELATIONALLY over all ranked
  terms with the index's own statistics, through the same two query.py
  helpers as docvalues.collapse_topk: the term scan (``live_postings`` —
  decoded (tf, dl) blocks of the ranked and NOT terms under term pushdown,
  tombstones dropped) and the float64 scorer (``bm25_scores`` —
  bm25_tf_part at the index's (k1, b, avgdl) ⋈ idf_table(term_stats, N)),
  exact reference BM25, independent of the kernels' float32 rounding
  (tf and dl ride in every block precisely so readers can re-derive
  weights). NOT terms anti-join, doc-values filters apply via
  docvalues.filter_docs (the relational twin of the kernel matcher),
  standard (score DESC, doc_id ASC) tie rule. Cost is linear in the
  phrase match sets and the ranked terms' posting sizes — the same
  candidate-driven shape as phrase/more-like-this.

Ranking semantics with phrases: docs must satisfy EVERY phrase; the score
is the BM25 sum over all DISTINCT ranked terms (loose + phrase tokens) —
phrase tokens contribute to ranking like Lucene's phrase clauses do.
Filter-only queries (no ranked terms) return empty: there is nothing to
rank by (use facet_counts / the postings relation for pure filters).

No similaripy counterpart (the reference consumes pre-built sparse
matrices); this is serve-surface extension like more-like-this.
"""

from __future__ import annotations

import re
from functools import reduce

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from similaripy_spark.fulltext.tokenizer import tokenize_str

_PHRASE_RE = re.compile(r'"([^"]*)"')
_RANGE_RE = re.compile(
    r'(-?)([A-Za-z_][\w.]*):\[([^\]]*?)\s+TO\s+([^\]]*?)\]', re.IGNORECASE
)
_FIELD_RE = re.compile(r"^([A-Za-z_][\w.]*):(\S+)$")

_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
        T.StructField("rank", T.IntegerType(), False),
    ]
)


def _bound(s: str):
    s = s.strip()
    if s in ("", "*"):
        return None
    try:
        return int(s)
    except ValueError:
        return s  # ISO timestamp — coerced by docvalues.to_epoch_micros


def parse_query(q: str) -> dict:
    """Parse the grammar above → ``{"terms", "not_terms", "phrases",
    "filters"}``. Pure function, unit-tested; negated filters/phrases are
    rejected (narrowing-only grammar keeps semantics obvious)."""
    phrases: list[list[str]] = []

    def grab_phrase(m):
        toks = tokenize_str(m.group(1))
        if toks:
            phrases.append(toks)
        return " "

    rest = _PHRASE_RE.sub(grab_phrase, q)
    filters: dict = {}

    def _narrow(field, pred):
        """Repeated clauses on one field INTERSECT (every clause narrows —
        Lucene's two MUST clauses), never silently replace: IN-lists
        intersect value sets, ranges intersect intervals. Mixed
        list/range on one field is a kind mismatch and errors."""
        old = filters.get(field)
        if old is None:
            filters[field] = pred
            return
        if isinstance(old, tuple) != isinstance(pred, tuple):
            raise ValueError(
                f"field {field!r} appears with both an IN-list and a "
                "range clause — one field has one kind"
            )
        if isinstance(pred, tuple):
            # bounds may mix ints and ISO strings; compare through the
            # same epoch-micros coercion resolve_filter applies
            from similaripy_spark.fulltext.docvalues import (
                to_epoch_micros,
            )

            lo = max(
                (b for b in (old[0], pred[0]) if b is not None),
                key=to_epoch_micros, default=None,
            )
            hi = min(
                (b for b in (old[1], pred[1]) if b is not None),
                key=to_epoch_micros, default=None,
            )
            filters[field] = (lo, hi)
        else:
            filters[field] = [v for v in old if v in set(pred)]

    def grab_range(m):
        if m.group(1):
            raise ValueError(
                f"negated range filter {m.group(0)!r} is not supported "
                "(the grammar is narrowing-only)"
            )
        _narrow(m.group(2), (_bound(m.group(3)), _bound(m.group(4))))
        return " "

    rest = _RANGE_RE.sub(grab_range, rest)
    terms: list[str] = []
    not_terms: list[str] = []
    for tok in rest.split():
        neg = tok.startswith("-")
        body = tok[1:] if neg else tok
        m = _FIELD_RE.match(body)
        if m:
            if neg:
                raise ValueError(
                    f"negated field filter {tok!r} is not supported "
                    "(the grammar is narrowing-only)"
                )
            field, vals = m.groups()
            _narrow(field, [v for v in vals.split(",") if v])
        elif neg:
            not_terms.extend(tokenize_str(body))
        else:
            terms.extend(tokenize_str(body))
    return {
        "terms": terms,
        "not_terms": not_terms,
        "phrases": phrases,
        "filters": filters,
    }


def search(
    spark: SparkSession,
    index_dir: str,
    q: str,
    k: int = 10,
    query_id: int = 0,
    handle=None,
) -> DataFrame:
    """Execute one query string → (query_id, doc_id, score, rank).
    See the module docstring for grammar and execution semantics.
    ``handle`` (an open IndexHandle) reuses its cached segment relation
    for the kernel path."""
    from similaripy_spark.fulltext.index_build import read_meta

    p = parse_query(q)
    ranked = list(
        dict.fromkeys(p["terms"] + [t for ph in p["phrases"] for t in ph])
    )
    if not ranked:
        return spark.createDataFrame([], _RESULT_SCHEMA)
    filters = p["filters"] or None

    if not p["phrases"]:
        if handle is None:
            from similaripy_spark.fulltext.retrieve import IndexHandle

            handle = IndexHandle(spark, index_dir, cache=False)
        # one-row frames come from pandas so they plan as LocalTableScan,
        # not a PythonRDD of Python tasks that only unpickle the row
        qdf = spark.createDataFrame(
            pd.DataFrame({
                "query_id": [int(query_id)],
                "terms": [p["terms"]],
                "not_terms": [p["not_terms"] or None],
            }),
            T.StructType(
                [
                    T.StructField("query_id", T.LongType(), False),
                    T.StructField(
                        "terms", T.ArrayType(T.StringType()), False
                    ),
                    T.StructField(
                        "not_terms", T.ArrayType(T.StringType()), True
                    ),
                ]
            ),
        )
        if not p["not_terms"]:
            qdf = qdf.drop("not_terms")
        return handle.topk(qdf, k=k, filter=filters, path="segment")

    # --- phrase composition (candidate-driven) ---------------------------
    from similaripy_spark.fulltext.docvalues import filter_docs
    from similaripy_spark.fulltext.positional import phrase_topk_pos
    from similaripy_spark.fulltext.query import bm25_scores, live_postings
    from similaripy_spark.operators.topk import top_k

    meta = read_meta(index_dir)
    phrase_sets = []
    for i, ph in enumerate(p["phrases"]):
        pq = spark.createDataFrame(
            pd.DataFrame({"query_id": [i], "terms": [ph]}),
            "query_id long, terms array<string>",
        )
        phrase_sets.append(
            phrase_topk_pos(spark, index_dir, pq, k=1 << 62)
            .select("doc_id")
            .distinct()
        )
    verified = reduce(lambda a, b: a.join(b, "doc_id"), phrase_sets)

    need = ranked + [t for t in p["not_terms"] if t not in ranked]
    decoded = live_postings(
        spark, index_dir, meta,
        spark.createDataFrame(pd.DataFrame({"term": need}), "term string"),
    )
    if p["not_terms"]:
        excl = (
            decoded.filter(F.col("term").isin(p["not_terms"]))
            .select("doc_id")
            .distinct()
        )
        verified = verified.join(excl, "doc_id", "left_anti")
    if filters:
        verified = filter_docs(spark, verified, index_dir, filters)

    # exploded from ONE row: its broadcast runs one task, not one per term
    qterms = spark.createDataFrame(
        pd.DataFrame({"query_id": [int(query_id)], "terms": [ranked]}),
        "query_id long, terms array<string>",
    ).select("query_id", F.explode("terms").alias("term"))
    scored = bm25_scores(
        qterms, decoded.join(verified, "doc_id", "left_semi"), index_dir,
        meta,
    )
    return top_k(
        scored, k, group="query_id", order_value="score",
        tiebreak="doc_id", keep_rank=True,
    ).select("query_id", "doc_id", "score", "rank")
