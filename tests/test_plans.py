"""Physical-plan regression tests: the optimizations the engine is designed
around must be visible in `.explain()` output (SURVEY.md §4)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

import similaripy_spark as sps
from similaripy_spark.plans.explain import (
    count_exchanges,
    has_broadcast_join,
    has_window_group_limit,
    pushed_filters,
    physical_plan,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def li_matrix(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    return (
        li.groupBy("l_orderkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("value"))
        .select(
            F.col("l_orderkey").alias("row"),
            F.col("l_partkey").alias("col"),
            F.col("value").cast("double").alias("value"),
        )
    )


def test_topk_uses_window_group_limit(spark, li_matrix):
    """The deterministic top-k compiles to WindowGroupLimit — the
    distributed equivalent of the reference's per-row heap (s_plus.h:39-64)."""
    assert has_window_group_limit(sps.cosine(li_matrix, k=10))


def test_filter_pushdown_reaches_parquet_scan(spark):
    """A predicate on a parquet scan must appear in PushedFilters (Catalyst
    predicate pushdown — the relational analog of the reference's
    eliminate_zeros-before-compute, s_plus.pyx:208-211). Uses a table no
    other test caches: a cached relation becomes InMemoryTableScan and
    hides the scan node."""
    sup = spark.read.parquet(f"{SF}/supplier.parquet").filter(
        F.col("s_nationkey") == 3
    )
    pf = pushed_filters(sup)
    assert "s_nationkey" in pf, pf


def test_column_pruning(spark):
    """A 2-column projection must not read all columns (ReadSchema)."""
    ords = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", "o_orderstatus"
    )
    plan = physical_plan(ords)
    assert "o_totalprice" not in plan.split("ReadSchema")[-1]


def test_bm25_weights_uses_broadcasts(spark):
    """Term stats and corpus scalars must ride in as broadcasts — the big
    postings relation is never shuffled by the weighting pass."""
    from similaripy_spark.fulltext.postings import build_postings
    from similaripy_spark.fulltext.weights import bm25_weights

    pages = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", F.col("text")
    )
    w = bm25_weights(build_postings(pages))
    assert has_broadcast_join(w)
    # and the weighting pass introduces no hash-exchange of the postings
    # beyond the two tiny aggregation sides
    assert count_exchanges(w) <= 3, physical_plan(w)


def test_s_plus_exchange_budget(spark, li_matrix):
    """The s_plus plan's only big shuffle is the (row, col) aggregate; the
    stats joins must not add full-relation exchanges beyond their own
    aggregations. Budget pinned so accidental de-optimizations fail here."""
    out = sps.cosine(li_matrix, k=10)
    n = count_exchanges(out)
    assert n <= 8, f"exchange count grew to {n}:\n{physical_plan(out)}"


def test_s_plus_exchange_budget_entry_input(spark):
    """Entry-shaped input: ``__spark_entry__._li_matrix`` clusters lineitem
    by orderkey below its aggregate at the session's
    ``spark.sql.shuffle.partitions``, the same count the kernel's own row
    repartition uses, so that repartition elides and the cosine plan has
    exactly 6 Exchange nodes (one full-matrix exchange per join side).
    Broadcast joins are disabled so the plan has the shape it takes once
    the join sides outgrow the broadcast threshold. Building the input at a
    different partition count than the kernel's brings exchanges back."""
    import __spark_entry__ as E

    conf = spark.conf
    n_part = conf.get("spark.sql.shuffle.partitions")
    bcast = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = sps.cosine(E._li_matrix(spark, SF), k=10)
        n = count_exchanges(out)
        assert n == 6, f"exchange count {n}, expected 6:\n{physical_plan(out)}"
        m = E._li_matrix(spark, SF)
        conf.set("spark.sql.shuffle.partitions", str(2 * int(n_part)))
        assert count_exchanges(sps.cosine(m, k=10)) > 6
    finally:
        conf.set("spark.sql.shuffle.partitions", n_part)
        conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)


def test_matrix_weighting_skew_safe_plan_shapes(spark, li_matrix):
    """tfidf/bm25/normalize never window-partition by a corpus-sized key:
    term stats are groupBy aggregates joined back (map-side combine + AQE
    skew splitting); the only window allowed is the doc-length one over the
    row key (document-length-bounded groups), and axis=0 plans — where the
    doc key is a column — contain no Window operator at all."""
    import re as _re

    for df in (sps.bm25(li_matrix), sps.tfidf(li_matrix)):
        specs = _re.findall(r"windowspecdefinition\((\w+)#", physical_plan(df))
        assert set(specs) <= {"row"}, specs
    for df in (
        sps.bm25(li_matrix, axis=0),
        sps.tfidf(li_matrix, axis=0),
        sps.normalize(li_matrix, "l2", axis=0),
    ):
        plan = physical_plan(df)
        assert "Window" not in plan, plan


def test_no_single_partition_exchange_in_hash_encodings(spark):
    """minhash/simhash/winnowing id assignment is a pure md5 projection —
    the plan must contain NO single-partition exchange. (The round-1
    dense_rank dictionary encoding compiled to `Exchange SinglePartition`
    + `Window`, moving the whole distinct term/shingle set through one
    task — the WindowExec warnings in BENCH_r01.json.)"""
    from similaripy_spark.operators import dedup, textstats

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for df in (
        dedup.minhash_signatures(docs, 8),
        dedup.minhash_lsh_pairs(docs, 8, 4),
        dedup.simhash(docs, bits=48),
        textstats.winnow_fingerprints(docs),
    ):
        plan = physical_plan(df)
        assert "Exchange SinglePartition" not in plan, plan


def test_jaccard_candidates_prune_before_aggregate(spark):
    """With LSH candidates supplied, the exact-Jaccard verifier must drive
    the intersection FROM the candidate pairs (semi-join under the groupBy)
    instead of materializing the quadratic shingle self-join."""
    from similaripy_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    cand = spark.createDataFrame([(1, 2), (3, 4)], "doc_a long, doc_b long")
    out = dedup.ngram_jaccard_pairs(docs, threshold=0.0, candidates=cand)
    plan = physical_plan(out)
    # the doc_b/shingle restriction is a semi-join, and the quadratic
    # all-pairs predicate (doc_a < doc_b over the full self-join) is absent
    import re as _re

    assert "LeftSemi" in plan, plan
    assert not _re.search(r"doc_a#\d+L? < doc_b#", plan), plan


def test_selector_pushdown_into_join(spark, li_matrix):
    """Array-form filter_cols must prune m2 BEFORE the join (reference
    pre-filters in Python: s_plus_utils.pyx:424-490); visible as a Filter
    above the scan side, not a post-aggregation filter."""
    out = sps.dot_product(li_matrix, k=5, filter_cols=list(range(50)))
    plan = physical_plan(out)
    assert "BroadcastHashJoin" in plan  # the anti-join of the selector


def test_factored_build_plan_has_no_stats_join(spark):
    """The build's weighting stage is a map-side projection — BM25 is
    factored into idf × tf-part and both are applied at query time, so
    blocks store (tf, dl): the shuffle build's physical plan contains
    exactly ONE exchange (the doc→shard repartition) and NO aggregate or
    join before it — no vocabulary-sized term-stats aggregate+join."""
    from similaripy_spark.fulltext.index_build import IndexBuilder
    from similaripy_spark.fulltext.postings import build_postings
    from similaripy_spark.sources.pages import generate_pages

    pages = generate_pages(spark, 500, vocab_size=400)
    b = IndexBuilder("/tmp/unused_plan_test", shard_size=256, n_groups=2)
    b._bounds_avgdl = 120.0
    w = b._weighted(build_postings(pages))
    plan = physical_plan(b._segment_plan(w, 2))
    assert plan.count("Exchange") == 1  # the doc→shard repartition only
    assert "Join" not in plan
    assert "Aggregate" not in plan


def test_dv_filter_adds_no_exchange(spark, tmp_path):
    """A doc-values filter must ride the EXISTING per-shard cogroup
    shuffle: its per-shard sentinel rows enter through a Union below the
    same exchange, so the filtered plan has exactly the plain plan's
    exchange count, one extra parquet scan (the codes sidecar), and one
    Union — no broadcast of corpus-sized state, no extra shuffle
    (docvalues.py delivery contract)."""
    from similaripy_spark.fulltext.docvalues import build_docvalues
    from similaripy_spark.fulltext.index_build import (
        IndexBuilder,
        read_segments,
    )
    from similaripy_spark.fulltext.wand import segment_topk
    from similaripy_spark.sources.pages import generate_pages

    pages = generate_pages(spark, 600, vocab_size=300, partitions=4)
    d = str(tmp_path / "idx")
    IndexBuilder(d, n_groups=2, shard_size=256).build(pages)
    build_docvalues(pages, d, ["lang"])
    q = pages.filter(F.col("doc_id") < 8).select(
        F.col("doc_id").alias("query_id"),
        F.split("text", " ").alias("terms"),
    )
    seg = read_segments(spark, d)
    plain = physical_plan(segment_topk(seg, q, k=5, index_dir=d))
    filt = physical_plan(
        segment_topk(seg, q, k=5, index_dir=d, dv_filter={"lang": ["en"]})
    )
    assert filt.count("Exchange") == plain.count("Exchange")
    assert filt.count("Scan parquet") == plain.count("Scan parquet") + 1
    assert "Union" in filt and "Union" not in plain


def test_point_topk_plan_ranks_in_kernel(spark, tmp_path):
    """A 16-query auto-routed point call on a warm handle is scored in the
    driver, eagerly inside ``topk()``: its plan is a ``LocalTableScan`` of
    the ranked rows — no exchange, no parquet scan, no Window."""
    from similaripy_spark.fulltext.index_build import IndexBuilder
    from similaripy_spark.fulltext.index_merge import merge_to_term_major
    from similaripy_spark.fulltext.retrieve import open_index
    from similaripy_spark.sources.pages import (
        generate_pages,
        generate_queries_pandas,
    )

    d = str(tmp_path / "idx")
    IndexBuilder(d, shard_size=128, n_groups=2).build(
        generate_pages(spark, 512, vocab_size=200)
    )
    merge_to_term_major(spark, d)
    q = spark.createDataFrame(generate_queries_pandas(16, vocab_size=200))
    with open_index(spark, d).warm() as h:
        df = h.topk(q, k=10)
        plan = physical_plan(df)
        assert "LocalTableScan" in plan, plan
        assert count_exchanges(df) == 0, plan
        assert "Scan parquet" not in plan, plan
        assert "Window" not in plan, plan
        assert df.count() > 0
