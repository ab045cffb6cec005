"""Positional sidecar: codec round-trip, phrase parity with the regexp
verifier, repeated-token phrases, append staleness, tombstone composition."""

from __future__ import annotations

import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from pyspark.sql import functions as F

from similaripy_spark.fulltext import codec
from similaripy_spark.fulltext import positional as P
from similaripy_spark.fulltext.index_build import IndexBuilder, read_segments
from similaripy_spark.fulltext.positional import (
    StalePositionsError,
    build_positions,
    phrase_topk_pos,
)
from similaripy_spark.fulltext.retrieve import phrase_topk
from similaripy_spark.sources.pages import generate_pages

N_DOCS, VOCAB = 900, 700


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("pidx"))
    pages = generate_pages(spark, N_DOCS, vocab_size=VOCAB)
    IndexBuilder(d, shard_size=256, n_groups=3).build(pages)
    build_positions(pages, d, block_size=64)
    return d, pages


def _phrase_queries(pages, every=25, n_tokens=2):
    toks = F.filter(
        F.split(F.lower("text"), "[^a-z0-9]+"), lambda t: t != ""
    )
    return (
        pages.filter(F.col("doc_id") % every == 0)
        .select(
            F.col("doc_id").alias("query_id"),
            F.slice(toks, 1, n_tokens).alias("terms"),
        )
        .filter(F.size("terms") >= n_tokens)
    )


def _sorted(df):
    return (
        df.toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )


def test_pos_payload_roundtrip():
    """Kernel-level: positions encode → block encode → long-form decode
    reproduces brute-force token positions exactly."""
    docs = {
        0: "The quick brown fox; the quick dog",
        1: "",
        5: "a b a b a  C c-c",
        7: "x",
        9: None,
    }
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array(list(docs.keys()), type=pa.int64()),
            pa.array(list(docs.values()), type=pa.string()),
        ],
        names=["doc_id", "text"],
    )

    def ref(text):
        out = {}
        toks = [t for t in re.split("[^a-z0-9]+", (text or "").lower()) if t]
        for i, t in enumerate(toks):
            out.setdefault(t, []).append(i)
        return out

    tbl = pa.Table.from_batches(list(P._pos_postings_arrow([batch])))
    for r in tbl.to_pylist():
        vals = codec.decode_varints(r["pos_deltas"], r["tf"]).astype(np.int64)
        assert np.cumsum(vals).tolist() == ref(docs[r["doc_id"]])[r["term"]]
    with_shard = tbl.append_column(
        "shard",
        pa.array(
            [int(x) // 4 for x in tbl.column("doc_id").to_pylist()],
            type=pa.int32(),
        ),
    )
    etbl = pa.Table.from_batches(
        list(P._encode_pos_partition(with_shard.to_batches(), block_size=2))
    )
    got = sorted(
        (r["doc_id"], r["term"], r["pos"])
        for b in P._decode_positions_arrow(etbl.to_batches())
        for r in pa.Table.from_batches([b]).to_pylist()
    )
    want = sorted(
        (d, t, p)
        for d, txt in docs.items()
        for t, ps in ref(txt).items()
        for p in ps
    )
    assert got == want


def test_sidecar_blocks_equal_index_blocks(spark, tmp_path):
    """Built at the index's block_size, the sidecar's doc and tf block
    columns equal the main index's for every (shard, term, block_id): one
    block codec writes both."""
    d = str(tmp_path / "idx")
    pages = generate_pages(spark, 600, vocab_size=300)
    IndexBuilder(d, shard_size=256, n_groups=2, block_size=16).build(pages)
    build_positions(pages, d, block_size=16)
    key = ["shard", "term", "block_id"]
    cols = key + ["n", "first_doc", "max_doc", "doc_deltas", "tfs"]

    def blocks(df):
        pdf = df.select(*cols).toPandas()
        pdf["doc_deltas"] = pdf["doc_deltas"].map(bytes)
        pdf["tfs"] = pdf["tfs"].map(bytes)
        return pdf.sort_values(key).reset_index(drop=True)

    main = blocks(read_segments(spark, d))
    side = blocks(P.read_positions(spark, d))
    assert (main["block_id"] > 0).any() and main["shard"].nunique() == 3
    pd.testing.assert_frame_equal(main, side)


def test_phrase_pos_matches_regex(spark, built):
    """The positional verifier and the adjacency-regexp verifier are two
    implementations of ONE semantics — rank and score identical."""
    d, pages = built
    queries = _phrase_queries(pages)
    a = _sorted(phrase_topk_pos(spark, d, queries, k=10))
    b = _sorted(phrase_topk(spark, d, pages, queries, k=10))
    assert list(a["query_id"]) == list(b["query_id"])
    assert list(a["doc_id"]) == list(b["doc_id"])
    np.testing.assert_allclose(a["score"], b["score"], rtol=1e-6)
    assert len(a) > 0


def test_phrase_pos_three_tokens(spark, built):
    d, pages = built
    queries = _phrase_queries(pages, every=40, n_tokens=3)
    a = _sorted(phrase_topk_pos(spark, d, queries, k=10))
    b = _sorted(phrase_topk(spark, d, pages, queries, k=10))
    assert a[["query_id", "doc_id"]].values.tolist() == \
        b[["query_id", "doc_id"]].values.tolist()


def test_repeated_token_phrase(spark, tmp_path):
    """'a b a' must match only docs with that exact token run — the
    repeated term must satisfy BOTH its offsets independently."""
    rows = [
        (0, "a b a zz"),        # match at 0
        (1, "a b c a b"),       # a..a present but never 'a b a'
        (2, "x a b a"),         # match at 1
        (3, "a a b a"),         # match at 1
        (4, "b a b"),           # no
        (5, "a b"),             # too short
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    d = str(tmp_path / "idx")
    IndexBuilder(d, shard_size=1 << 14, n_groups=1).build(df)
    build_positions(df, d, block_size=4)
    queries = spark.createDataFrame(
        [(0, "a b a")], "query_id long, phrase string"
    )
    got = phrase_topk_pos(spark, d, queries, k=10)
    assert sorted(r["doc_id"] for r in got.collect()) == [0, 2, 3]


def test_single_term_phrase(spark, tmp_path):
    rows = [(0, "hello world"), (1, "world hello world"), (2, "nothing")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    d = str(tmp_path / "idx1")
    IndexBuilder(d, shard_size=1 << 14, n_groups=1).build(df)
    build_positions(df, d)
    q = spark.createDataFrame([(7, "world")], "query_id long, phrase string")
    got = phrase_topk_pos(spark, d, q, k=10).collect()
    assert sorted(r["doc_id"] for r in got) == [0, 1]


def test_stale_after_append_and_rebuild(spark, tmp_path):
    """append_to_index grows the corpus without the sidecar → positional
    phrase REFUSES (never silently misses appended docs); a rebuild then
    finds matches in the appended docs."""
    from similaripy_spark.fulltext.append import append_to_index

    base = spark.createDataFrame(
        [(i, f"alpha beta w{i}") for i in range(64)],
        "doc_id long, text string",
    )
    d = str(tmp_path / "ridx")
    IndexBuilder(
        d, shard_size=64, n_groups=1
    ).build(base)
    build_positions(base, d)
    q = spark.createDataFrame(
        [(1, "alpha beta")], "query_id long, phrase string"
    )
    assert phrase_topk_pos(spark, d, q, k=100).count() == 64
    delta = spark.createDataFrame(
        [(64 + i, f"alpha beta x{i}") for i in range(8)],
        "doc_id long, text string",
    )
    append_to_index(spark, d, pages=delta, n_groups=1)
    with pytest.raises(StalePositionsError):
        phrase_topk_pos(spark, d, q, k=100)
    build_positions(base.unionAll(delta), d)
    assert phrase_topk_pos(spark, d, q, k=100).count() == 72


def test_tombstoned_docs_never_match(spark, tmp_path):
    from similaripy_spark.fulltext.delete import delete_docs

    df = spark.createDataFrame(
        [(i, "red green blue") for i in range(10)],
        "doc_id long, text string",
    )
    d = str(tmp_path / "didx")
    IndexBuilder(d, shard_size=1 << 14, n_groups=1).build(df)
    build_positions(df, d)
    delete_docs(spark, d, [3, 4])
    q = spark.createDataFrame(
        [(0, "green blue")], "query_id long, phrase string"
    )
    got = sorted(
        r["doc_id"] for r in phrase_topk_pos(spark, d, q, k=100).collect()
    )
    assert got == [0, 1, 2, 5, 6, 7, 8, 9]


def test_missing_sidecar_raises(spark, tmp_path):
    df = spark.createDataFrame(
        [(0, "just one doc")], "doc_id long, text string"
    )
    d = str(tmp_path / "nidx")
    IndexBuilder(d, shard_size=1 << 14, n_groups=1).build(df)
    q = spark.createDataFrame([(0, "one doc")], "query_id long, phrase string")
    with pytest.raises(StalePositionsError):
        phrase_topk_pos(spark, d, q, k=10)


def test_slop_constructed(spark, tmp_path):
    """Ordered-window semantics: up to ``slop`` extra tokens may intervene
    anywhere in the span; order is required."""
    rows = [
        (0, "alpha beta gamma"),          # exact
        (1, "alpha x beta gamma"),        # 1 gap before beta
        (2, "alpha beta x gamma"),        # 1 gap before gamma
        (3, "alpha x beta y gamma"),      # 2 gaps total
        (4, "alpha x y beta gamma"),      # 2 gaps, same place
        (5, "gamma beta alpha"),          # wrong order, all terms present
        (6, "alpha beta q q q gamma"),    # 3 gaps
        (7, "beta alpha gamma"),          # alpha..gamma ok but beta before
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    d = str(tmp_path / "sidx")
    IndexBuilder(d, shard_size=1 << 14, n_groups=1).build(df)
    build_positions(df, d, block_size=4)
    q = spark.createDataFrame(
        [(0, "alpha beta gamma")], "query_id long, phrase string"
    )

    def got(slop):
        return sorted(
            r["doc_id"]
            for r in phrase_topk_pos(spark, d, q, k=100, slop=slop).collect()
        )

    assert got(0) == [0]
    assert got(1) == [0, 1, 2]
    assert got(2) == [0, 1, 2, 3, 4]
    assert got(3) == [0, 1, 2, 3, 4, 6]


def test_slop_brute_force_parity(spark, built):
    """Randomized: the greedy relational sweep equals a brute-force
    ordered-window check over the true token streams, for mixed phrase
    lengths and several slop values."""
    d, pages = built
    q2 = _phrase_queries(pages, every=60, n_tokens=2)
    q3 = _phrase_queries(pages, every=75, n_tokens=3).withColumn(
        "query_id", F.col("query_id") + 100000
    )
    queries = q2.unionByName(q3)
    toks = {
        r["doc_id"]: [
            t for t in re.split("[^a-z0-9]+", r["text"].lower()) if t
        ]
        for r in pages.collect()
    }
    qterms = {r["query_id"]: list(r["terms"]) for r in queries.collect()}

    def brute(terms, stream, slop):
        n = len(terms)
        win = n - 1 + slop
        for i, t in enumerate(stream):
            if t != terms[0]:
                continue
            prev = i
            ok = True
            for j in range(1, n):
                nxt = next(
                    (p for p in range(prev + 1, min(i + win + 1, len(stream)))
                     if stream[p] == terms[j]),
                    None,
                )
                if nxt is None:
                    ok = False
                    break
                prev = nxt
            if ok:
                return True
        return False

    for slop in (1, 2):
        got = {
            (r["query_id"], r["doc_id"])
            for r in phrase_topk_pos(
                spark, d, queries, k=1 << 30, slop=slop
            ).collect()
        }
        want = {
            (qid, did)
            for qid, terms in qterms.items()
            for did, stream in toks.items()
            if brute(terms, stream, slop)
        }
        assert got == want, f"slop={slop}"


def test_slop_zero_brute_force(spark, built):
    """slop=0 (the base-grouping path) equals brute-force adjacency over
    the true token streams — anchoring the slop family's zero point."""
    d, pages = built
    queries = _phrase_queries(pages, every=50, n_tokens=2)
    toks = {
        r["doc_id"]: [
            t for t in re.split("[^a-z0-9]+", r["text"].lower()) if t
        ]
        for r in pages.collect()
    }
    qterms = {r["query_id"]: list(r["terms"]) for r in queries.collect()}
    want = set()
    for qid, terms in qterms.items():
        n = len(terms)
        for did, stream in toks.items():
            if any(
                stream[i:i + n] == terms
                for i in range(0, max(len(stream) - n + 1, 0))
            ):
                want.add((qid, did))
    got_all = {
        (r["query_id"], r["doc_id"])
        for r in phrase_topk_pos(
            spark, d, queries, k=1 << 30, slop=0
        ).collect()
    }
    assert got_all == want


def test_handle_routes_phrase_to_sidecar(spark, built):
    """IndexHandle.phrase_topk: with a fresh sidecar, verification needs no
    pages relation and supports slop; without one, slop>0 and pages=None
    are loud errors."""
    from similaripy_spark.fulltext.retrieve import open_index

    d, pages = built
    queries = _phrase_queries(pages, every=60)
    with open_index(spark, d, cache=False) as h:
        a = _sorted(h.phrase_topk(None, queries, k=10))
    b = _sorted(phrase_topk_pos(spark, d, queries, k=10))
    assert a[["query_id", "doc_id"]].values.tolist() == \
        b[["query_id", "doc_id"]].values.tolist()


def test_handle_phrase_without_sidecar_needs_pages(spark, tmp_path):
    from similaripy_spark.fulltext.retrieve import open_index

    df = spark.createDataFrame(
        [(0, "only doc here")], "doc_id long, text string"
    )
    d = str(tmp_path / "hidx")
    IndexBuilder(d, shard_size=1 << 14, n_groups=1).build(df)
    q = spark.createDataFrame([(0, "only doc")], "query_id long, phrase string")
    with open_index(spark, d, cache=False) as h:
        with pytest.raises(ValueError, match="pages relation"):
            h.phrase_topk(None, q, k=5)
        with pytest.raises(ValueError, match="slop"):
            h.phrase_topk(df, q, k=5, slop=1)
        assert h.phrase_topk(df, q, k=5).count() == 1


def test_append_positions_equals_rebuild(spark, tmp_path):
    """Sidecar append == full rebuild: same decoded (doc, term, pos) set,
    same phrase results, freshness restored — without re-tokenizing the
    committed corpus. Wrong deltas are rejected loudly."""
    from similaripy_spark.fulltext.append import append_to_index

    base = spark.createDataFrame(
        [(i, f"alpha beta w{i}") for i in range(64)],
        "doc_id long, text string",
    )
    d = str(tmp_path / "aidx")
    IndexBuilder(
        d, shard_size=64, n_groups=1
    ).build(base)
    build_positions(base, d, block_size=16)
    delta = spark.createDataFrame(
        [(64 + i, f"alpha x beta y{i}") for i in range(8)],
        "doc_id long, text string",
    )
    append_to_index(spark, d, pages=delta, n_groups=1)

    # wrong delta: count that doesn't close the gap
    with pytest.raises(ValueError, match="grew by"):
        P.append_positions(delta.limit(3), d)
    # wrong delta: reaches into committed shards
    bad = delta.withColumn("doc_id", F.col("doc_id") - 64)
    with pytest.raises(ValueError, match="immutable"):
        P.append_positions(bad, d)

    P.append_positions(delta, d)
    q = spark.createDataFrame(
        [(1, "alpha beta")], "query_id long, phrase string"
    )
    # appended docs have a gap token → only base matches exactly,
    # everything matches at slop=1
    assert phrase_topk_pos(spark, d, q, k=200).count() == 64
    assert phrase_topk_pos(spark, d, q, k=200, slop=1).count() == 72

    got = {
        (r["doc_id"], r["term"], r["pos"])
        for r in P.decode_positions_long(
            P.read_positions(spark, d)
        ).collect()
    }
    d2 = str(tmp_path / "aidx2")
    IndexBuilder(d2, shard_size=64, n_groups=1).build(
        base.unionAll(delta)
    )
    build_positions(base.unionAll(delta), d2, block_size=16)
    want = {
        (r["doc_id"], r["term"], r["pos"])
        for r in P.decode_positions_long(
            P.read_positions(spark, d2)
        ).collect()
    }
    assert got == want

    # already fresh → loud no-op
    with pytest.raises(ValueError, match="already fresh"):
        P.append_positions(delta, d)


def test_describe_reports_sidecar(spark, built, tmp_path):
    from similaripy_spark.fulltext.index_build import describe_index

    d, pages = built
    got = describe_index(spark, d)["positions"]
    assert got["fresh"] is True and got["block_size"] == 64

    df = spark.createDataFrame([(0, "bare doc")], "doc_id long, text string")
    d2 = str(tmp_path / "bare")
    IndexBuilder(d2, shard_size=1 << 14, n_groups=1).build(df)
    assert "positions" not in describe_index(spark, d2)


def test_best_window_constructed(spark, tmp_path):
    """Window argmax + tie rule: most distinct query terms wins; equal
    counts -> smallest start; end = last matched occurrence in-window."""
    rows = [
        (0, "q1 x x x x x x x x q1 q2 y"),   # best: [9,10] covers both
        (1, "q2 q1 z"),                      # best at 0: both terms
        (2, "q1 v v v v v v v v v v q1"),    # only q1; tie -> start 0
        (3, "none of them"),                 # no query term -> no row
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    d = str(tmp_path / "widx")
    IndexBuilder(d, shard_size=1 << 14, n_groups=1).build(df)
    build_positions(df, d, block_size=4)
    q = spark.createDataFrame([(5, "q1 q2")], "query_id long, phrase string")
    pairs = spark.createDataFrame(
        [(5, i) for i in range(4)], "query_id long, doc_id long"
    )
    got = {
        r["doc_id"]: (r["start"], r["end"], r["n_terms"])
        for r in P.best_window_spans(spark, d, pairs, q, window=4).collect()
    }
    assert got == {0: (9, 10, 2), 1: (0, 1, 2), 2: (0, 0, 1)}


def test_best_window_brute_force(spark, built):
    """Randomized parity with a Python brute force over true token
    streams (anchored-window semantics, both tie rules)."""
    d, pages = built
    queries = _phrase_queries(pages, every=90, n_tokens=3)
    qterms = {
        r["query_id"]: set(r["terms"]) for r in queries.collect()
    }
    toks = {
        r["doc_id"]: [
            t for t in re.split("[^a-z0-9]+", r["text"].lower()) if t
        ]
        for r in pages.collect()
    }
    W = 6
    pairs_py = [
        (qid, did)
        for qid, ts in qterms.items()
        for did, stream in toks.items()
        if did % 7 == 0 and ts & set(stream)
    ]
    pairs = spark.createDataFrame(
        pairs_py or [(0, 0)], "query_id long, doc_id long"
    )
    got = {
        (r["query_id"], r["doc_id"]): (r["start"], r["end"], r["n_terms"])
        for r in P.best_window_spans(
            spark, d, pairs, queries, window=W
        ).collect()
    }
    want = {}
    for qid, did in pairs_py:
        ts, stream = qterms[qid], toks[did]
        anchors = [i for i, t in enumerate(stream) if t in ts]
        best = None
        for a in anchors:
            hit = [p for p in anchors if a <= p < a + W]
            n = len({stream[p] for p in hit})
            key = (-n, a)
            if best is None or key < best[0]:
                best = (key, (a, max(hit), n))
        if best:
            want[(qid, did)] = best[1]
    assert got == want and len(want) > 0
