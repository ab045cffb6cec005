"""Randomized adversarial parity for the Block-Max MaxScore scorer vs the
exhaustive scorer — pure pandas/numpy (no Spark), heavy on the regime that
broke v1: dense hot terms with all-negative BM25 weights (negative idf).

Shards hold the index's (tf, dl) blocks with bounds over the tf-part at a
pinned ``BOUNDS_AVGDL``; the MaxScore parity runs at that avgdl and at
drifted ones (an append moved the corpus avgdl), where the kernel
ratio-widens the stored bounds."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from similaripy_spark.fulltext import codec
from similaripy_spark.fulltext.wand import (
    _ShardIndex,
    _local_topk,
    _score_batch,
    _score_exhaustive,
    _score_maxscore,
)
from similaripy_spark.fulltext.weights import tf_part_np

K1, B = 1.2, 0.75
#: the avgdl the block bounds are encoded at (meta bounds_avgdl)
BOUNDS_AVGDL = 100.0
#: current avgdl / BOUNDS_AVGDL: no drift, an append that raised the
#: corpus avgdl, one that lowered it
AVGDL_RATIOS = (1.0, 1.3, 0.75)


def raw_params(ratio=1.0):
    return {"k1": K1, "b": B, "avgdl": BOUNDS_AVGDL * ratio,
            "bounds_avgdl": BOUNDS_AVGDL}


def make_shard(rng, n_docs=2000, n_terms=25, hot_frac=0.3, neg_shift=0.0):
    """(segment rows, idf map) of one shard. Blocks store tf and dl, with
    bounds over the tf-part at BOUNDS_AVGDL. Hot terms get a negative idf
    (df > N/2, unclamped reference semantics); ``neg_shift`` lowers every
    term's idf."""
    dl = rng.integers(20, 400, size=n_docs).astype(np.float32)
    rows, idf = [], {}
    for ti in range(n_terms):
        term = f"t{ti:03d}"
        hot = rng.random() < hot_frac
        n = int(rng.integers(int(n_docs * 0.4), int(n_docs * 0.9))) if hot else int(
            rng.integers(3, 80)
        )
        docs = np.sort(rng.choice(n_docs, size=n, replace=False)).astype(np.int64)
        tf = rng.integers(1, 9, size=n).astype(np.uint64)
        idf[term] = float(rng.random() * 3 - neg_shift - (4.0 if hot else 0.0))
        bound = tf_part_np(tf, dl[docs], k1=K1, b=B, avgdl=BOUNDS_AVGDL)
        for bi, off in enumerate(range(0, n, 128)):
            sl = slice(off, off + 128)
            db = docs[sl]
            rows.append(
                dict(
                    shard=0,
                    term=term,
                    block_id=bi,
                    n=len(db),
                    first_doc=int(db[0]),
                    max_doc=int(db[-1]),
                    max_score=float(bound[sl].max()),
                    min_score=float(bound[sl].min()),
                    doc_deltas=codec.encode_varints(
                        codec.delta_encode(db, int(db[0]))
                    ),
                    tfs=codec.encode_varints(tf[sl]),
                    weights=codec.encode_f32(dl[db]),
                )
            )
    return pd.DataFrame(rows), idf


def _assert_bounds_hold(idx, term):
    """Every decoded weight of ``term`` lies within its term bounds and
    under its block's max — what MaxScore's block skipping relies on."""
    tmax, tmin, _, _, bmaxs = idx.term_meta(term)
    _, w = idx.decode_blocks(term)
    s, e = idx._slice[term]
    blocks = np.split(w, np.cumsum(idx._n[s:e])[:-1])
    assert tmin <= w.min() and w.max() <= tmax, term
    assert all(b.max() <= m for b, m in zip(blocks, bmaxs)), term


def _maxscore_parity(rng, seg, idf, n_queries, max_terms, max_k):
    terms = sorted(seg["term"].unique())
    for ratio in AVGDL_RATIOS:
        raw = raw_params(ratio)
        idx_e, idx_m = _ShardIndex(seg, idf, raw), _ShardIndex(seg, idf, raw)
        for t in terms:
            _assert_bounds_hold(idx_e, t)
        for _ in range(n_queries):
            qt = list(rng.choice(terms, size=int(rng.integers(1, max_terms)),
                                 replace=False))
            k = int(rng.integers(1, max_k))
            d1, s1 = _local_topk(*_score_exhaustive(idx_e, qt), k)
            d2, s2 = _local_topk(*_score_maxscore(idx_m, qt, k), k)
            assert np.array_equal(d1, d2), (
                f"ratio={ratio} qt={qt} k={k}: exh={list(zip(d1, s1))[:5]} "
                f"max={list(zip(d2, s2))[:5]}"
            )
            np.testing.assert_allclose(s1, s2, rtol=1e-6)


@pytest.mark.parametrize("neg_shift", [0.0, 1.5, 3.5])
@pytest.mark.parametrize("seed", [1, 2, 3])
def test_maxscore_matches_exhaustive(seed, neg_shift):
    """At the bounds' avgdl and at drifted ones (AVGDL_RATIOS)."""
    rng = np.random.default_rng(seed)
    seg, idf = make_shard(rng, neg_shift=neg_shift)
    _maxscore_parity(rng, seg, idf, n_queries=120, max_terms=7, max_k=20)


@pytest.mark.parametrize("neg_shift", [0.0, 3.5])
@pytest.mark.parametrize("seed", [4, 5])
def test_batch_matches_exhaustive(seed, neg_shift):
    """The pruned batch scorer (rare-exhaustive + hot-probe + fallback)
    must be exact for every query, including hot-only queries."""
    rng = np.random.default_rng(seed)
    seg, idf = make_shard(rng, neg_shift=neg_shift)
    terms = sorted(seg["term"].unique())
    idx = _ShardIndex(seg, idf, raw_params())
    qrows = []
    for qi in range(150):
        qt = list(rng.choice(terms, size=int(rng.integers(1, 7)), replace=False))
        qrows.append((qi, qt))
    q_pdf = pd.DataFrame(qrows, columns=["query_id", "terms"])
    k = 10
    got = _score_batch(_ShardIndex(seg, idf, raw_params()), q_pdf, k)
    for qi, qt in qrows:
        d1, s1 = _local_topk(*_score_exhaustive(idx, qt), k)
        sub = got[got.query_id == qi].sort_values(
            ["score", "doc_id"], ascending=[False, True]
        )
        assert list(sub["doc_id"]) == d1.tolist(), f"q{qi} terms={qt}"
        np.testing.assert_allclose(sub["score"], s1, rtol=1e-9)


def test_maxscore_unknown_and_single_term():
    rng = np.random.default_rng(9)
    seg, idf = make_shard(rng, n_terms=5)
    idx = _ShardIndex(seg, idf, raw_params())
    d, s = _score_maxscore(idx, ["zzz"], 10)
    assert len(d) == 0
    d1, s1 = _local_topk(*_score_exhaustive(idx, ["t001"]), 10)
    d2, s2 = _local_topk(*_score_maxscore(idx, ["t001"], 10), 10)
    assert np.array_equal(d1, d2)


@pytest.mark.parametrize("neg_shift", [0.0, 3.5])
@pytest.mark.parametrize("seed", [6, 7])
def test_intersect_matches_bruteforce_and(seed, neg_shift):
    """_score_intersect (rarest-first block-skip intersection) must equal
    the brute-force AND: exhaustive union scores restricted to docs present
    in EVERY query term's posting list."""
    from similaripy_spark.fulltext.wand import _score_intersect

    rng = np.random.default_rng(seed)
    seg, idf = make_shard(rng, neg_shift=neg_shift)
    terms = sorted(seg["term"].unique())
    idx = _ShardIndex(seg, idf, raw_params())
    for _ in range(60):
        qt = list(rng.choice(terms, size=int(rng.integers(1, 5)),
                             replace=False))
        docs_u, scores_u = _score_exhaustive(idx, qt)
        keep = np.ones(len(docs_u), bool)
        for t in qt:
            keep &= np.isin(docs_u, idx.decode_blocks(t)[0])
        exp_d, exp_s = docs_u[keep], scores_u[keep]
        got_d, got_s = _score_intersect(idx, qt)
        order_e, order_g = np.argsort(exp_d), np.argsort(got_d)
        assert np.array_equal(exp_d[order_e], got_d[order_g]), qt
        np.testing.assert_allclose(
            exp_s[order_e], got_s[order_g], rtol=1e-9
        )
        # absent term -> strict AND empties
        d0, _ = _score_intersect(idx, qt + ["zzz_absent"])
        assert len(d0) == 0


def test_batch_and_mode_matches_intersect():
    from similaripy_spark.fulltext.wand import _score_intersect

    rng = np.random.default_rng(11)
    seg, idf = make_shard(rng)
    terms = sorted(seg["term"].unique())
    idx = _ShardIndex(seg, idf, raw_params())
    qrows = []
    for qi in range(120):
        qt = list(rng.choice(terms, size=int(rng.integers(1, 5)),
                             replace=False))
        if qi % 7 == 0:
            qt.append("zzz_absent")  # strict-AND empty rows interleaved
        qrows.append((qi, qt))
    q_pdf = pd.DataFrame(qrows, columns=["query_id", "terms"])
    k = 10
    got = _score_batch(_ShardIndex(seg, idf, raw_params()), q_pdf, k,
                       mode="and")
    for qi, qt in qrows:
        d1, s1 = _local_topk(*_score_intersect(idx, qt), k)
        sub = got[got.query_id == qi].sort_values(
            ["score", "doc_id"], ascending=[False, True]
        )
        assert list(sub["doc_id"]) == d1.tolist(), f"q{qi} terms={qt}"
        np.testing.assert_allclose(sub["score"], s1, rtol=1e-9)


def test_maxscore_factored_negative_idf():
    """Block-Max MaxScore with the score factored into idf × the derived
    tf-part, negative idf multipliers on every third term whether hot or
    rare: term_meta flips the (ratio-widened) stored bounds (effective max
    = idf × stored min). Must equal the exhaustive scan at every avgdl."""
    rng = np.random.default_rng(9)
    seg, _ = make_shard(rng, neg_shift=0.0)
    terms = sorted(seg["term"].unique())
    idf = {t: (-2.5 if i % 3 == 0 else 1.0 + i * 0.01)
           for i, t in enumerate(terms)}
    _maxscore_parity(rng, seg, idf, n_queries=60, max_terms=6, max_k=15)
