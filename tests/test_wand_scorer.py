"""Randomized adversarial parity for the Block-Max MaxScore scorer vs the
exhaustive scorer — pure pandas/numpy (no Spark), heavy on the regime that
broke v1: dense hot terms with all-negative BM25 weights."""

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


def make_shard(rng, n_docs=2000, n_terms=25, hot_frac=0.3, neg_shift=0.0):
    rows = []
    for ti in range(n_terms):
        hot = rng.random() < hot_frac
        n = int(rng.integers(int(n_docs * 0.4), int(n_docs * 0.9))) if hot else int(
            rng.integers(3, 80)
        )
        docs = np.sort(rng.choice(n_docs, size=n, replace=False)).astype(np.int64)
        w = (rng.random(n) * 3 - neg_shift).astype(np.float32)
        if hot:
            w = w - np.float32(4.0)  # hot terms: negative idf regime
        for bi, off in enumerate(range(0, n, 128)):
            db, wb = docs[off : off + 128], w[off : off + 128]
            rows.append(
                dict(
                    shard=0,
                    term=f"t{ti:03d}",
                    block_id=bi,
                    n=len(db),
                    first_doc=int(db[0]),
                    max_doc=int(db[-1]),
                    max_score=float(wb.max()),
                    min_score=float(wb.min()),
                    doc_deltas=codec.encode_varints(
                        codec.delta_encode(db, int(db[0]))
                    ),
                    tfs=codec.encode_varints(np.ones(len(db), np.uint64)),
                    weights=codec.encode_f32(wb),
                )
            )
    return pd.DataFrame(rows)


@pytest.mark.parametrize("neg_shift", [0.0, 1.5, 3.5])
@pytest.mark.parametrize("seed", [1, 2, 3])
def test_maxscore_matches_exhaustive(seed, neg_shift):
    rng = np.random.default_rng(seed)
    seg = make_shard(rng, neg_shift=neg_shift)
    terms = sorted(seg["term"].unique())
    idx_e, idx_m = _ShardIndex(seg), _ShardIndex(seg)
    for _ in range(120):
        qt = list(rng.choice(terms, size=int(rng.integers(1, 7)), replace=False))
        k = int(rng.integers(1, 20))
        d1, s1 = _local_topk(*_score_exhaustive(idx_e, qt), k)
        d2, s2 = _local_topk(*_score_maxscore(idx_m, qt, k), k)
        assert np.array_equal(d1, d2), (
            f"qt={qt} k={k}: exh={list(zip(d1, s1))[:5]} "
            f"max={list(zip(d2, s2))[:5]}"
        )
        np.testing.assert_allclose(s1, s2, rtol=1e-6)


@pytest.mark.parametrize("neg_shift", [0.0, 3.5])
@pytest.mark.parametrize("seed", [4, 5])
def test_batch_matches_exhaustive(seed, neg_shift):
    """The pruned batch scorer (rare-exhaustive + hot-probe + fallback)
    must be exact for every query, including hot-only queries."""
    rng = np.random.default_rng(seed)
    seg = make_shard(rng, neg_shift=neg_shift)
    terms = sorted(seg["term"].unique())
    idx = _ShardIndex(seg)
    qrows = []
    for qi in range(150):
        qt = list(rng.choice(terms, size=int(rng.integers(1, 7)), replace=False))
        qrows.append((qi, qt))
    q_pdf = pd.DataFrame(qrows, columns=["query_id", "terms"])
    k = 10
    got = _score_batch(_ShardIndex(seg), q_pdf, k)
    for qi, qt in qrows:
        d1, s1 = _local_topk(*_score_exhaustive(idx, qt), k)
        sub = got[got.query_id == qi].sort_values(
            ["score", "doc_id"], ascending=[False, True]
        )
        assert list(sub["doc_id"]) == d1.tolist(), f"q{qi} terms={qt}"
        np.testing.assert_allclose(sub["score"], s1, rtol=1e-9)


def test_maxscore_unknown_and_single_term():
    rng = np.random.default_rng(9)
    seg = make_shard(rng, n_terms=5)
    idx = _ShardIndex(seg)
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
    seg = make_shard(rng, neg_shift=neg_shift)
    terms = sorted(seg["term"].unique())
    idx = _ShardIndex(seg)
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
    seg = make_shard(rng)
    terms = sorted(seg["term"].unique())
    idx = _ShardIndex(seg)
    qrows = []
    for qi in range(120):
        qt = list(rng.choice(terms, size=int(rng.integers(1, 5)),
                             replace=False))
        if qi % 7 == 0:
            qt.append("zzz_absent")  # strict-AND empty rows interleaved
        qrows.append((qi, qt))
    q_pdf = pd.DataFrame(qrows, columns=["query_id", "terms"])
    k = 10
    got = _score_batch(_ShardIndex(seg), q_pdf, k, mode="and")
    for qi, qt in qrows:
        d1, s1 = _local_topk(*_score_intersect(idx, qt), k)
        sub = got[got.query_id == qi].sort_values(
            ["score", "doc_id"], ascending=[False, True]
        )
        assert list(sub["doc_id"]) == d1.tolist(), f"q{qi} terms={qt}"
        np.testing.assert_allclose(sub["score"], s1, rtol=1e-9)


def test_maxscore_factored_negative_idf():
    """Block-Max MaxScore under a factored index with negative idf
    multipliers: term_meta flips the stored bounds (effective max = idf ×
    stored min). Must equal the exhaustive scan."""
    rng = np.random.default_rng(9)
    seg = make_shard(rng, neg_shift=0.0)
    # stored weights must be positive tf-parts for the factored contract
    terms = sorted(seg["term"].unique())
    idf = {t: (-2.5 if i % 3 == 0 else 1.0 + i * 0.01)
           for i, t in enumerate(terms)}
    idx_e, idx_m = _ShardIndex(seg, idf=idf), _ShardIndex(seg, idf=idf)
    for _ in range(60):
        qt = list(rng.choice(terms, size=int(rng.integers(1, 6)), replace=False))
        k = int(rng.integers(1, 15))
        d1, s1 = _local_topk(*_score_exhaustive(idx_e, qt), k)
        d2, s2 = _local_topk(*_score_maxscore(idx_m, qt, k), k)
        assert np.array_equal(d1, d2), f"qt={qt} k={k}"
        np.testing.assert_allclose(s1, s2, rtol=1e-6)
