"""Segment-based BM25 top-k: the engine's custom physical strategy (playing
the role s_plus.h plays in the reference).

Two query paths (``retrieve.route`` picks one):

* **Batches: doc-shard scatter, global merge** (``segment_topk``). Queries
  (tiny) are replicated to every shard of the doc-sharded index; a
  cogrouped ``applyInPandas`` scores ALL queries of a shard against that
  shard's posting blocks in one Arrow pass, each shard emits its local
  top-k per query (global top-k ⊆ union of shard top-k), and a windowed
  top-k merges them.
* **Point batches: in the driver** (``term_major_topk``). A
  ``pyarrow.dataset`` read of the term-major merged layout fetches only
  the queried terms' blocks, which hold every posting of those terms, so
  each query's kernel emits its final ranks. No Spark job runs; the
  result is a local frame.

Both paths take idf from one function (``weights.idf_np``) over the
index's ``df``, so exact ties rank alike across the route boundary. Each
path has its own exact scorer:

* ``_score_batch`` (``segment_topk``, batches): a dense sparse-accumulator —
  the distributed twin of the reference's SPA (s_plus.h:71-240) —
  scatter-adds every (query, term)'s posting weights into a (chunk ×
  shard-span) grid via one ``np.bincount``. The chunk is sized so all
  concurrent workers' grids stay L3-resident: the same kernel with a 25 MB
  grid is DRAM-bound and stops scaling past ~8 cores (measured; see
  BENCH/BASELINE.md).
* ``_score_maxscore`` (``term_major_topk``, point queries): Block-Max
  MaxScore (Turtle & Flood 1995; block-max variant after Ding & Suel,
  SIGIR 2011) — terms in descending max-weight order; once the k-th-best
  lower bound θ exceeds any unseen doc's best possible score (block
  max_score + suffix of term maxima), hot-term blocks are skipped for new
  candidates and only probed by binary search for existing ones. BM25 idf
  is unclamped (reference semantics) so weights can be NEGATIVE; bounds use
  positive-part maxima and negative-part minima to stay exact. AND queries
  on this path run ``_score_intersect`` instead.

``_score_exhaustive`` is the oracle-grade union-accumulate the scorers are
tested against. All are rank-identical (randomized adversarial parity
tests, hot-term and negative-weight regimes included). Scoring accumulates
float32 stored weights in float64, matching the relational SQL path within
1e-6 relative (tests pin rtol 1e-4, the reference's own tolerance:
tests/test_similarity.py:293-294).
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pandas as pd
import pyarrow.compute as pc
import pyarrow.dataset as pads

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from similaripy_spark.fulltext import codec
from similaripy_spark.fulltext.docvalues import dv_keep
from similaripy_spark.fulltext.weights import idf_np, tf_part_np
from similaripy_spark.operators.topk import top_k

_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.LongType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)


class _ShardIndex:
    """Per-shard lazy block store over the Arrow batch of segment rows.

    Construction is fully vectorized (factorize + lexsort — a pandas
    ``groupby`` materializing one sub-frame per term costs ~0.5 ms × 10^4
    terms per shard, which dominated the first implementation). Blocks of a
    term are stored as contiguous row slices in (shard, block_id) order, so
    docIDs stay globally ascending even in the term-major merged layout.

    Blocks store dl in the weights column and tf in every block.

    ``raw``: the kernel params (keys: k1, b, avgdl, bounds_avgdl, delta
    optional). Decode derives the doc-local tf-part from (tf, dl) at the
    CURRENT corpus ``avgdl`` — this is what makes append-only ingestion
    exact, committed blocks never go stale. Stored block bounds were
    encoded at the pinned ``bounds_avgdl``; the tf-part is monotone
    increasing in avgdl and its drift is bounded by the avgdl ratio r
    (worst case tf + k1*(1-b) → 0), so scaling stored maxima by max(1, r)
    and minima by min(1, r) keeps every bound valid — pruning stays exact,
    merely a little looser until a reweight re-pins the bounds.

    ``idf``: term → multiplier. Decoded tf-parts are scaled per term and
    block/term score bounds are adjusted — the tf-part is strictly
    positive, so a negative idf (unclamped reference semantics, df > N/2)
    flips each bound to the opposite extreme: effective max = idf ×
    stored_min, effective min = idf × stored_max. Every scorer then runs
    unchanged and stays exact.

    ``tomb``: SORTED int64 array of tombstoned doc_ids (delete.py).
    Deleted docs are dropped AT DECODE TIME — the single choke point every
    scorer reads through — so they can never enter a candidate set, inflate
    the MaxScore θ, crowd a local top-k, or match an AND intersection.
    Stored block/term bounds still include deleted docs' scores: they
    remain valid (superset) upper bounds for the survivors, so pruning
    stays exact, merely a little looser until delete.compact_index.
    """

    def __init__(self, seg: pd.DataFrame, idf: dict, raw: dict,
                 tomb=None, dv=None):
        self._idf = idf
        self._raw = raw
        self._tomb = tomb if tomb is not None and len(tomb) else None
        # dv: matcher entries (base, stored values, spec) — one per active
        # doc-values filter (docvalues.split_dv_rows / dv_keep).
        # Applied in _live_mask (the decode choke point), so every scorer
        # is exact over the filtered corpus, same argument as tombstones.
        self._dv = dv if dv else None
        r = float(raw["avgdl"]) / float(raw["bounds_avgdl"])
        self._bs_up, self._bs_dn = max(1.0, r), min(1.0, r)
        if r != 1.0:
            # stored bounds and kernel scores each round through float32
            # at DIFFERENT avgdls, so a decoded score can exceed the
            # exact-math-scaled bound by an ULP; widen by 1e-6 relative
            # (≈8 f32 ULPs) — bounds stay valid, just marginally looser
            # (values are positive tf-parts)
            self._bs_up *= 1.0 + 1e-6
            self._bs_dn *= 1.0 - 1e-6
        codes, uniques = pd.factorize(seg["term"], sort=False)
        order = np.lexsort(
            (seg["block_id"].to_numpy(), seg["shard"].to_numpy(), codes)
        )
        sc = codes[order]
        starts = np.flatnonzero(np.concatenate(([True], sc[1:] != sc[:-1])))
        ends = np.append(starts[1:], len(sc))
        self._slice = {
            uniques[sc[s]]: (int(s), int(e)) for s, e in zip(starts, ends)
        }
        self._n = seg["n"].to_numpy(np.int64)[order]
        self._first = seg["first_doc"].to_numpy(np.int64)[order]
        self._maxd = seg["max_doc"].to_numpy(np.int64)[order]
        self._maxs = seg["max_score"].to_numpy(np.float32)[order]
        self._mins = seg["min_score"].to_numpy(np.float32)[order]
        self._dd = seg["doc_deltas"].to_numpy(dtype=object)[order]
        self._ww = seg["weights"].to_numpy(dtype=object)[order]
        self._tt = seg["tfs"].to_numpy(dtype=object)[order]
        self._groups = self._slice  # membership checks elsewhere
        self._cache: dict[str, tuple[np.ndarray, np.ndarray]] = {}

    def terms(self):
        return self._slice.keys()

    def term_meta(self, term):
        """(tmax, tmin, block first_docs, max_docs, max_scores) or None.
        Bounds are idf-adjusted here so the MaxScore pruning logic stays
        oblivious to the storage format."""
        se = self._slice.get(term)
        if se is None:
            return None
        s, e = se
        # stored bounds were encoded at bounds_avgdl — the one-sided ratio
        # scaling keeps them valid at the current avgdl
        maxs = self._maxs[s:e].astype(np.float64) * self._bs_up
        mins = self._mins[s:e].astype(np.float64) * self._bs_dn
        i = float(self._idf.get(term, 0.0))
        # bounds stay float64: a float32 round-down of an upper bound could
        # make block skipping inexact
        if i >= 0.0:
            tmax = i * float(maxs.max())
            tmin = i * float(mins.min())
            bmaxs = i * maxs
        else:
            # stored bounds are positive tf-parts: a negative multiplier
            # maps stored min → effective max and vice versa
            tmax = i * float(mins.min())
            tmin = i * float(maxs.max())
            bmaxs = i * mins
        return (tmax, tmin, self._first[s:e], self._maxd[s:e], bmaxs)

    def _decode_rows(self, rows: np.ndarray):
        """Bulk-decode arbitrary block rows in one vectorized pass
        (codec.decode_blocks: one varint decode per column over the
        concatenated buffers + cumsum rebase — shared with
        index_merge.decode_segments and the positional sidecar)."""
        if len(rows) == 0:
            return np.zeros(0, np.int64), np.zeros(0, np.float64)
        docs, tfs = codec.decode_blocks(
            [self._dd[r] for r in rows], [self._tt[r] for r in rows],
            self._n[rows], self._first[rows],
        )
        dls = np.frombuffer(
            b"".join(self._ww[r] for r in rows), dtype=np.float32
        ).astype(np.float64)
        # stored weights are dl; derive the tf-part at the CURRENT avgdl
        # (float32-rounded, like every stored BM25 weight of the engine)
        weights = tf_part_np(
            tfs, dls,
            k1=float(self._raw["k1"]), b=float(self._raw["b"]),
            avgdl=float(self._raw["avgdl"]),
            delta=float(self._raw.get("delta", 0.0)),
        ).astype(np.float64)
        return docs, weights

    def _live_mask(self, docs: np.ndarray) -> "np.ndarray | None":
        """Boolean keep-mask against the sorted tombstone set AND any
        active doc-values filters, or None when everything survives (the
        common case — skip the copy)."""
        if len(docs) == 0:
            return None
        keep = None
        if self._tomb is not None:
            pos = np.searchsorted(self._tomb, docs)
            pos[pos == len(self._tomb)] = 0
            k = self._tomb[pos] != docs
            keep = k if not k.all() else None
        if self._dv is not None:
            for base, vals, spec in self._dv:
                k = dv_keep(spec, vals[docs - base])
                keep = k if keep is None else (keep & k)
        return None if keep is None or keep.all() else keep

    def decode_blocks(self, term, block_mask: np.ndarray | None = None):
        """→ (docs int64 asc, weights float64) for selected blocks; weights
        are idf-scaled. Full-term decodes are memoized (scaled — idf is
        fixed for this instance)."""
        s, e = self._slice[term]
        if block_mask is None:
            hit = self._cache.get(term)
            if hit is not None:
                return hit
            rows = np.arange(s, e)
        else:
            rows = np.arange(s, e)[block_mask]
        docs, weights = self._decode_rows(rows)
        weights = weights * float(self._idf.get(term, 0.0))
        keep = self._live_mask(docs)
        if keep is not None:
            docs, weights = docs[keep], weights[keep]
        out = (docs, weights)
        if block_mask is None:
            self._cache[term] = out
        return out

    def decode_terms(self, terms):
        """Bulk decode many terms at once → (docs, weights, spans) where
        spans[term] = (start, end) into the returned arrays; weights are
        idf-scaled per span."""
        spans = {}
        row_parts = []
        pos = 0
        for t in terms:
            se = self._slice.get(t)
            if se is None:
                continue
            s, e = se
            n = int(self._n[s:e].sum())
            spans[t] = (pos, pos + n)
            row_parts.append(np.arange(s, e))
            pos += n
        if not row_parts:
            return np.zeros(0, np.int64), np.zeros(0, np.float64), spans
        docs, weights = self._decode_rows(np.concatenate(row_parts))
        for t, (p0, p1) in spans.items():
            weights[p0:p1] *= float(self._idf.get(t, 0.0))
        keep = self._live_mask(docs)
        if keep is not None:
            # remap every span through the prefix-sum of the keep mask so
            # (start, end) still index the filtered arrays
            cum = np.zeros(len(keep) + 1, np.int64)
            np.cumsum(keep, out=cum[1:])
            spans = {
                t: (int(cum[p0]), int(cum[p1]))
                for t, (p0, p1) in spans.items()
            }
            docs, weights = docs[keep], weights[keep]
        return docs, weights, spans


def _score_exhaustive(idx: _ShardIndex, terms) -> tuple[np.ndarray, np.ndarray]:
    """Union-accumulate all postings of all terms (always exact): the
    oracle the pruning scorers are tested against."""
    d_parts, w_parts = [], []
    for t in terms:
        if t in idx._groups:
            d, w = idx.decode_blocks(t)
            d_parts.append(d)
            w_parts.append(w)
    if not d_parts:
        return np.zeros(0, np.int64), np.zeros(0, np.float64)
    docs = np.concatenate(d_parts)
    ws = np.concatenate(w_parts)
    udocs, inv = np.unique(docs, return_inverse=True)
    scores = np.bincount(inv, weights=ws, minlength=len(udocs))
    return udocs, scores


def _score_maxscore(idx: _ShardIndex, terms, k: int):
    """Block-Max MaxScore: exact top-k candidate set with block skipping."""
    metas = []
    for t in terms:
        m = idx.term_meta(t)
        if m is not None:
            metas.append((t, m))
    if not metas:
        return np.zeros(0, np.int64), np.zeros(0, np.float64)
    # descending by term max weight: rare, high-impact terms first
    metas.sort(key=lambda tm: -tm[1][0])
    tmaxs = np.array([m[1][0] for m in metas])
    tmins = np.array([m[1][1] for m in metas])
    # suffix sums of positive maxima: best future gain for any doc
    pos = np.maximum(tmaxs, 0.0)
    suffix_gain = np.concatenate([np.cumsum(pos[::-1])[::-1][1:], [0.0]])
    # worst future loss for a doc containing remaining terms
    neg = np.minimum(tmins, 0.0)
    suffix_loss = np.concatenate([np.cumsum(neg[::-1])[::-1][1:], [0.0]])

    acc_docs = np.zeros(0, np.int64)
    acc_scores = np.zeros(0, np.float64)
    for j, (t, (tmax, tmin, firsts, maxds, bmaxs)) in enumerate(metas):
        theta = None
        if len(acc_docs) >= k:
            # safe lower bound on the final k-th best score: candidates may
            # still lose term j's own negative contribution (it has not been
            # applied to them yet) plus every later term's
            lower = acc_scores + neg[j] + suffix_loss[j]
            theta = np.partition(lower, len(lower) - k)[len(lower) - k]

        if theta is None or tmax + suffix_gain[j] >= theta:
            # term may still create new entrants — but individual blocks
            # whose max can't reach θ are skipped for new candidates
            if theta is not None:
                entrant_mask = (bmaxs + suffix_gain[j]) >= theta
            else:
                entrant_mask = np.ones(len(bmaxs), dtype=bool)
        else:
            entrant_mask = np.zeros(len(bmaxs), dtype=bool)

        # blocks needed to update existing candidates (range overlap)
        if len(acc_docs):
            lo = np.searchsorted(acc_docs, firsts, side="left")
            hi = np.searchsorted(acc_docs, maxds, side="right")
            update_mask = hi > lo
        else:
            update_mask = np.zeros(len(bmaxs), dtype=bool)

        need = entrant_mask | update_mask
        if not need.any():
            continue
        if need.all():
            d, w = idx.decode_blocks(t)
        else:
            d, w = idx.decode_blocks(t, block_mask=need)

        if entrant_mask.all():
            # merge whole list
            docs = np.concatenate([acc_docs, d])
            ws = np.concatenate([acc_scores, w])
            acc_docs, inv = np.unique(docs, return_inverse=True)
            acc_scores = np.bincount(inv, weights=ws, minlength=len(acc_docs))
        else:
            # existing candidates: exact membership probe
            pos_idx = np.searchsorted(d, acc_docs)
            pos_idx = np.clip(pos_idx, 0, len(d) - 1) if len(d) else pos_idx
            if len(d):
                hitmask = d[pos_idx] == acc_docs
                acc_scores = acc_scores + np.where(hitmask, w[pos_idx], 0.0)
            # new entrants from allowed blocks only
            if entrant_mask.any():
                # restrict to docs not already candidates
                sel = np.isin(d, acc_docs, invert=True, assume_unique=False)
                # only docs from entrant blocks matter; d already filtered by
                # `need`, so drop docs that came from update-only blocks
                # (cheap conservative recheck: block ranges)
                nd, nw = d[sel], w[sel]
                if len(nd):
                    acc_docs2 = np.concatenate([acc_docs, nd])
                    acc_scores2 = np.concatenate([acc_scores, nw])
                    order = np.argsort(acc_docs2, kind="stable")
                    acc_docs = acc_docs2[order]
                    acc_scores = acc_scores2[order]
    return acc_docs, acc_scores


def _score_intersect(idx: _ShardIndex, terms) -> tuple[np.ndarray, np.ndarray]:
    """Conjunctive (AND) scoring by literal posting-list intersection —
    the classic rarest-first algorithm over the block-compressed lists
    (Manning/Raghavan/Schütze IR ch.1 intersection, plus block skipping):

    1. decode the rarest term's postings in full (the candidate set can
       only shrink from there);
    2. every other term, rarest first, decodes ONLY the blocks whose
       [first_doc, max_doc] range contains a surviving candidate (the
       per-block metadata doubles as a skip list — two searchsorted calls
       against the sorted candidate array select the blocks);
    3. candidates are intersected by binary search into the decoded docs
       (both sides doc-sorted) and accumulate the term's BM25 weight.

    A term absent from this shard (or from the whole index) empties the
    result — strict AND. Cost is O(df_rarest × Σ log df_t) plus only the
    overlapping blocks' decode, independent of the largest list's size."""
    metas = []
    for t in dict.fromkeys(terms):
        se = idx._slice.get(t)
        if se is None:
            return np.zeros(0, np.int64), np.zeros(0, np.float64)
        s, e = se
        metas.append((int(idx._n[s:e].sum()), t))
    metas.sort()
    docs, w = idx.decode_blocks(metas[0][1])
    scores = w.astype(np.float64, copy=True)  # decode may return the memo
    for _, t in metas[1:]:
        if len(docs) == 0:
            break
        s, e = idx._slice[t]
        lo = np.searchsorted(docs, idx._first[s:e], side="left")
        hi = np.searchsorted(docs, idx._maxd[s:e], side="right")
        mask = hi > lo
        if not mask.any():
            return np.zeros(0, np.int64), np.zeros(0, np.float64)
        td, tw = idx.decode_blocks(t, block_mask=mask)
        if len(td) == 0:
            # tombstone / doc-values filtering can empty the decoded
            # overlapping blocks even when the doc-range mask matched —
            # no surviving posting of this term ⇒ the intersection is
            # empty (indexing td[pos_c] here would be an IndexError)
            return np.zeros(0, np.int64), np.zeros(0, np.float64)
        pos = np.searchsorted(td, docs)
        pos_c = np.minimum(pos, len(td) - 1)
        hit = td[pos_c] == docs
        docs = docs[hit]
        scores = scores[hit] + tw[pos_c[hit]]
    return docs, scores


def _local_topk(docs, scores, k):
    if len(docs) == 0:
        return docs, scores
    if len(docs) > k:
        # top-k by (score desc, doc asc)
        order = np.lexsort((docs, -scores))[:k]
    else:
        order = np.lexsort((docs, -scores))
    return docs[order], scores[order]


def _group_topk_df(qids, uq, ud, scores, k):
    order = np.lexsort((ud, -scores, uq))
    uq, ud, scores = uq[order], ud[order], scores[order]
    starts = np.flatnonzero(np.concatenate(([True], uq[1:] != uq[:-1])))
    group_start = np.repeat(starts, np.diff(np.append(starts, len(uq))))
    rank = np.arange(len(uq)) - group_start
    keep = rank < k
    return pd.DataFrame(
        {"query_id": qids[uq[keep]], "doc_id": ud[keep], "score": scores[keep]}
    )


_EMPTY_RESULT = {
    "query_id": pd.Series(dtype="int64"),
    "doc_id": pd.Series(dtype="int64"),
    "score": pd.Series(dtype="float64"),
}

_RANKED_SCHEMA = T.StructType(
    _RESULT_SCHEMA.fields + [T.StructField("rank", T.IntegerType(), False)]
)

_EMPTY_RANKED = {**_EMPTY_RESULT, "rank": pd.Series(dtype="int32")}


def _idf_map(terms, dfs, n_docs: int) -> dict:
    """term → idf, computed by ``weights.idf_np`` (the one idf of both
    kernel paths) from each term's df; a null df (term absent from the
    index) maps to 0."""
    idf = np.nan_to_num(
        idf_np(np.asarray(dfs, dtype=np.float64), n_docs), nan=0.0
    )
    return dict(zip(terms, idf.tolist()))


def _tomb_for(index_dir: str, meta: dict) -> "np.ndarray | None":
    """Sorted tombstone doc_id array for kernel-side filtering, or None.
    Driver-side pyarrow read, gated on the meta flag so untombstoned
    indexes pay nothing."""
    if not meta.get("n_tombstone_epochs"):
        return None
    from similaripy_spark.fulltext.delete import tombstone_array

    return tombstone_array(index_dir)


def _raw_params_from_meta(meta: dict) -> dict:
    """Kernel params: the current corpus avgdl (applied to every decode)
    and the pinned bounds_avgdl the block bounds were encoded at."""
    return {
        "k1": float(meta["k1"]),
        "b": float(meta["b"]),
        "avgdl": float(meta["avgdl"]),
        "bounds_avgdl": float(meta["bounds_avgdl"]),
    }


def segments_with_idf(segments: DataFrame, index_dir: str) -> DataFrame:
    """Join each term's ``df`` onto the segment relation — the one source
    of the segment kernel's idf: the scorer computes its idf lookup from
    the shard's own rows (``_idf_map``). ``IndexHandle`` joins it ONCE, at
    load, and persists the result, so every batch an index server answers
    reuses it; ``segment_topk`` joins it itself onto segments that lack
    the column, which the one-shot phrase paths restrict to their batch's
    terms first (``query.term_segments``), so their join is query-sized.

    The join keys on term over the block-metadata-sized relation
    (~postings/block_size rows): AQE broadcast-converts the V-row
    term_stats when it is small; at a web-scale vocabulary it
    shuffle-joins."""
    from similaripy_spark.fulltext.index_build import read_term_stats

    term_stats = read_term_stats(segments.sparkSession, index_dir)
    return segments.join(term_stats.select("term", "df"), "term", "left")


#: score+match grid budget per worker (bytes): the two per-chunk dense
#: grids must stay L3-resident PER CORE on a fully loaded socket — 1.2 MB
#: lands chunk=16 at the default 4.7k-doc shard span (measured optimum;
#: sweep in _score_batch).
_GRID_TARGET_BYTES = 1_200_000

#: deep-paging auto-cutover: below this k the one-pass merge volume is cheap
#: (k=100 measured only +11% over k=10); at/above it the exact two-pass
#: threshold scheme in segment_topk wins (k=1000: 48.5 s one-pass).
DEEP_K_CUTOFF = 512


def _score_batch(
    idx: _ShardIndex, q_pdf: pd.DataFrame, k: int, chunk: int | None = None,
    query_weighted: bool = False, tau: np.ndarray | None = None,
    mode: str = "or", min_match: int | None = None,
) -> pd.DataFrame:
    """Dense-accumulator batch scorer — the distributed twin of the
    reference's SPA (s_plus.h:71-240), vectorized across a whole query
    chunk: every (query, term) pair scatter-adds the term's posting weights
    into a (chunk × shard_span) dense score grid via ONE np.bincount; a
    parallel unweighted bincount marks matched cells (absence ≠ score 0,
    scores can be negative). Top-k per row via argpartition + tie-exact
    refinement (all cells ≥ the k-th value re-ranked by (-score, doc)).

    No sorting of candidate lists, no np.unique — cost is linear in
    Σ_q Σ_t df_t(shard) plus one O(chunk·span) partition pass. Memory is
    bounded by ``chunk`` (L3-sized by default — see _GRID_TARGET_BYTES).

    Deep paging (measured, 300k docs / 3k queries / local[8]): k=10 →
    11.2 s, k=100 → 12.4 s (+11%), k=1000 → 48.5 s — sublinear in k (10×
    more k costs 3.9× while returning 10× the rows); the k=1000 cost is
    the k-per-shard merge volume (n_q × n_shards × k rows into the global
    top-k), inherent to exact distributed deep paging. Rank identity at
    k ∈ {100, 1000} is pinned in tests/test_index.py."""
    qids_all = q_pdf["query_id"].to_numpy(np.int64)
    n_q = len(q_pdf)
    if tau is not None:
        # per-query score floor (deep-paging pass 2): emit only candidates
        # scoring >= tau_q — rank-exact because tau is a lower bound on the
        # query's global k-th score. NaN (no bound established) -> -inf.
        # A relative epsilon widens the floor so float-addition-order noise
        # between the two passes (~1 ULP; the tau join reorders query rows
        # and with them the accumulation order) can never drop a row whose
        # exact score ties the bound — extra kept rows are sorted out by
        # the final top_k.
        tau = tau.astype(np.float64)
        tau = tau - (np.abs(tau) * 1e-9 + 1e-12)
        tau = np.where(np.isnan(tau), -np.inf, tau)
    # --- vectorized incidence build: explode (query, term), factorize the
    # terms, keep those present in this shard, dedupe (query, term) pairs —
    # the only remaining Python loops run over DISTINCT terms, not over
    # (query × term) pairs (this loop dominated query-side scaling) -------
    # null elements match nothing: drop them before pd.factorize, which
    # codes None as -1 (present[-1] would wrap to the last distinct term)
    term_lists = [np.asarray(t, dtype=object) for t in q_pdf["terms"]]
    nonnull = [pd.notna(t) for t in term_lists]
    term_lists = [t[m] for t, m in zip(term_lists, nonnull)]
    qlens = np.array([len(t) for t in term_lists], np.int64)
    if qlens.sum() == 0:
        return pd.DataFrame(_EMPTY_RESULT)
    # NOT terms (Lucene MUST_NOT): docs containing ANY of a query's
    # not_terms are excluded from that query's ranking. Shard-local
    # decidable (a doc's postings live wholly in its shard), applied by
    # writing -inf into the excluded (query, doc) score cells before
    # selection — the existing isfinite() emission filter then drops them,
    # so exclusion can never crowd the local top-k or survive the merge.
    nt_lists = None
    if "not_terms" in q_pdf.columns:
        nt_lists = [
            np.asarray(t, dtype=object) if t is not None
            else np.zeros(0, dtype=object)
            for t in q_pdf["not_terms"]
        ]
        nt_lists = [t[pd.notna(t)] for t in nt_lists]
        if sum(len(t) for t in nt_lists) == 0:
            nt_lists = None
    # AND mode: a doc qualifies only when its per-cell distinct-term match
    # count reaches the query's FULL distinct term count (terms absent from
    # the index or this shard can never be matched → strict AND empties)
    # min_match=m (quorum, mode='or'): a doc qualifies with >= m distinct
    # matched terms — the same match-count grid AND rides on, with a
    # constant requirement instead of the full distinct term count. A doc's
    # postings live wholly in its shard, so the quorum (like AND) is
    # shard-local decidable and the global merge is unchanged.
    nreq = (
        np.array([len(dict.fromkeys(t)) for t in term_lists], np.int64)
        if mode == "and"
        else (
            np.full(n_q, int(min_match), np.int64)
            if min_match is not None and min_match > 1
            else None
        )
    )
    all_terms = np.concatenate(term_lists)
    all_qi = np.repeat(np.arange(n_q, dtype=np.int64), qlens)
    nt_pair_qi = nt_pair_code = None
    if nt_lists is not None:
        # factorize positive and NOT terms together so both share one
        # code space (and one bulk decode below); split codes back after
        nt_lens = np.array([len(t) for t in nt_lists], np.int64)
        all_nt = np.concatenate(nt_lists)
        nt_qi = np.repeat(np.arange(n_q, dtype=np.int64), nt_lens)
        codes_all, uniq_terms = pd.factorize(
            np.concatenate([all_terms, all_nt])
        )
        codes, nt_codes = (
            codes_all[: len(all_terms)],
            codes_all[len(all_terms):],
        )
    else:
        codes, uniq_terms = pd.factorize(all_terms)
    present = np.array([t in idx._groups for t in uniq_terms], bool)
    keep = present[codes]
    if not keep.any():
        return pd.DataFrame(_EMPTY_RESULT)
    n_codes = len(uniq_terms)
    key = all_qi[keep] * n_codes + codes[keep]
    if nt_lists is not None:
        nt_keep = present[nt_codes]
        nt_key = np.unique(
            nt_qi[nt_keep] * n_codes + nt_codes[nt_keep]
        )
        nt_pair_qi = nt_key // n_codes  # ascending (qi-major unique)
        nt_pair_code = nt_key % n_codes
    if query_weighted:
        # duplicate (query, term) occurrences ADD their qw mass — exactly
        # the relational Σ qw·weight semantics (query.py). Per-row length
        # parity is validated here: a mismatch whose totals coincide would
        # otherwise silently shift qw mass across queries (ADVICE r2)
        wlens = np.array([len(w) for w in q_pdf["weights"]], np.int64)
        tlens = np.array([len(m) for m in nonnull], np.int64)
        if not np.array_equal(wlens, tlens):
            bad = int(np.flatnonzero(wlens != tlens)[0])
            raise ValueError(
                f"query_id={qids_all[bad]}: weights length {wlens[bad]} != "
                f"terms length {tlens[bad]}"
            )
        all_qw = np.concatenate(
            [np.asarray(w, np.float64)[m]
             for w, m in zip(q_pdf["weights"], nonnull)]
        )
        pair_key, inv = np.unique(key, return_inverse=True)
        pair_qw = np.bincount(inv, weights=all_qw[keep],
                              minlength=len(pair_key))
    else:
        pair_key = np.unique(key)
        pair_qw = None
    pair_qi = pair_key // n_codes  # ascending (qi-major unique)
    pair_code = pair_key % n_codes

    docs, weights, spans = idx.decode_terms(
        [t for t, p in zip(uniq_terms, present) if p]
    )
    if len(docs) == 0:
        return pd.DataFrame(_EMPTY_RESULT)
    # span arrays indexed by term code (absent codes keep 0-length spans)
    code_s = np.zeros(n_codes, np.int64)
    code_e = np.zeros(n_codes, np.int64)
    for ci in np.flatnonzero(present):
        se = spans.get(uniq_terms[ci])
        if se is not None:
            code_s[ci], code_e[ci] = se
    d_min = int(docs.min())
    span = int(docs.max()) - d_min + 1
    local = docs - d_min
    if chunk is None:
        # Cache-resident grids: the per-chunk score+match grids
        # (chunk × span × 8 B × 2) are zeroed, scattered into, and re-read
        # every chunk — total grid traffic is n_q × span, INDEPENDENT of
        # chunk size, so the only lever is where that traffic lands. Sized
        # per-core-L3-resident it never touches DRAM; at the old fixed
        # chunk=256 (≈19 MB of grid per worker at 4.7k-doc shards) it all
        # did, and the scorer was the engine's DRAM-bandwidth hog.
        # Measured, 300k-doc corpus, 30k queries: local[8] 118.8 s →
        # 78.5 s (chunk 256 → 16, +34% throughput); local[2] improves 21%,
        # and the 2→8-core query scaling pair goes 0.75 → ~0.90 because 8
        # concurrent workers no longer fight for the socket's memory
        # bandwidth. Sweep: 256→118.8, 64→85.2, 32→84.5, 16→78.5, 8→79.3,
        # 4→116.3 s.
        chunk = int(max(8, min(256, _GRID_TARGET_BYTES // (span * 16))))

    out_parts = []
    for c0 in range(0, n_q, chunk):
        c1 = min(c0 + chunk, n_q)
        nq = c1 - c0
        lo = np.searchsorted(pair_qi, c0)
        hi = np.searchsorted(pair_qi, c1)
        if lo == hi:
            continue
        # fully vectorized chunk assembly (no per-term Python loop):
        # for every (query, term) pair expand the term's posting span via
        # the ranges-from-starts/lengths trick, then one gather
        p_qi = pair_qi[lo:hi]
        p_s = code_s[pair_code[lo:hi]]
        p_e = code_e[pair_code[lo:hi]]
        p_qw = pair_qw[lo:hi] if pair_qw is not None else None
        lens = p_e - p_s
        nz = lens > 0
        if not nz.any():
            continue
        p_qi, p_s, lens = p_qi[nz], p_s[nz], lens[nz]
        if p_qw is not None:
            p_qw = p_qw[nz]
        ends = np.cumsum(lens)
        m = int(ends[-1])
        arena = (
            np.arange(m, dtype=np.int64)
            - np.repeat(ends - lens, lens)
            + np.repeat(p_s, lens)
        )
        flat = np.repeat((p_qi - c0) * span, lens) + local[arena]
        wts = weights[arena]
        if p_qw is not None:
            wts = wts * np.repeat(p_qw, lens)
        nbins = nq * span
        S = np.bincount(flat, weights=wts, minlength=nbins).reshape(nq, span)
        cnt = np.bincount(flat, minlength=nbins).reshape(nq, span)
        matched = cnt > 0
        S[~matched] = -np.inf
        if nt_pair_qi is not None:
            # MUST_NOT: write -inf into every (query, doc) cell touched by
            # a NOT term's postings — the isfinite() emission filter drops
            # them, so an excluded doc can never crowd the local top-k
            nlo = np.searchsorted(nt_pair_qi, c0)
            nhi = np.searchsorted(nt_pair_qi, c1)
            if nlo < nhi:
                e_qi = nt_pair_qi[nlo:nhi]
                e_s = code_s[nt_pair_code[nlo:nhi]]
                e_len = code_e[nt_pair_code[nlo:nhi]] - e_s
                enz = e_len > 0
                if enz.any():
                    e_qi, e_s, e_len = e_qi[enz], e_s[enz], e_len[enz]
                    e_ends = np.cumsum(e_len)
                    e_arena = (
                        np.arange(int(e_ends[-1]), dtype=np.int64)
                        - np.repeat(e_ends - e_len, e_len)
                        + np.repeat(e_s, e_len)
                    )
                    e_flat = (
                        np.repeat((e_qi - c0) * span, e_len)
                        + local[e_arena]
                    )
                    S.reshape(-1)[e_flat] = -np.inf
        if nreq is not None:
            # deduped (query, term) pairs scatter each matching term once
            # per doc, so cnt IS the distinct-term match count
            conj = cnt >= nreq[c0:c1, None]
            S[~conj] = -np.inf
            matched &= conj

        kk = min(k, span)
        if kk < span:
            part = np.argpartition(-S, kk - 1, axis=1)[:, :kk]
            kth = S[np.arange(nq)[:, None], part].min(axis=1)
            # exact tie handling: keep every cell >= the k-th value
            cand_mask = S >= kth[:, None]
        else:
            cand_mask = matched
        rows_i, cols_i = np.nonzero(cand_mask)
        sc = S[rows_i, cols_i]
        keep = np.isfinite(sc)
        if tau is not None:
            keep &= sc >= tau[c0:c1][rows_i]
        rows_i, cols_i, sc = rows_i[keep], cols_i[keep], sc[keep]
        out_parts.append(
            _group_topk_df(
                qids_all[c0:c1],
                rows_i.astype(np.int64),
                (cols_i + d_min).astype(np.int64),
                sc,
                k,
            )
        )
    if not out_parts:
        return pd.DataFrame(_EMPTY_RESULT)
    return pd.concat(out_parts, ignore_index=True)


def _shard_frame(spark: SparkSession, shard_ids: list) -> DataFrame:
    """The broadcast shard list of ``segment_topk`` as a ``LocalTableScan``.

    Keep it a pandas frame: a Python-list ``createDataFrame`` plans as
    ``Scan ExistingRDD`` (a PythonRDD), so every query batch would spend
    one Python task per core just to unpickle the shard ids, each paying
    the worker's ~0.2 CPU-s per-task fixed cost (index_build._segment_plan).
    """
    return spark.createDataFrame(
        pd.DataFrame({"shard": np.asarray(shard_ids, dtype=np.int32)}),
        "shard int",
    )


def segment_topk(
    segments: DataFrame,
    queries: DataFrame,
    k: int = 10,
    *,
    index_dir: str,
    query_weighted: bool = False,
    deep_paging: bool | None = None,
    mode: str = "or",
    min_match: int | None = None,
    dv_filter: dict | None = None,
) -> DataFrame:
    """queries(query_id, terms) × doc-sharded segments → global top-k
    (query_id, doc_id, score, rank).

    ``dv_filter={field: [values...]}`` restricts ranking to documents whose
    doc-values attribute is IN the list (AND across fields) — Lucene
    filter-query semantics: corpus statistics (idf/avgdl) stay
    whole-corpus, the surviving top-k is EXACT over the filtered set. The
    predicate is applied at the decode choke point inside the kernel
    (docvalues.py), delivered per shard as sentinel segment rows riding
    the existing cogroup — no broadcast of corpus-sized state. Requires a
    fresh docvalues sidecar beside the index (build_docvalues).

    ``mode='or'`` (default) ranks any doc matching ≥1 query term (the BM25
    union semantics of the reference's sparse dot products); ``mode='and'``
    keeps only docs containing EVERY query term — the batch scorer filters
    on its distinct-term match-count grid. AND is shard-local decidable (a
    doc's postings live wholly in its shard), so the global merge is
    unchanged.

    ``min_match=m`` (quorum retrieval, Lucene's minimum_should_match):
    with ``mode='or'``, keep only docs matching at least ``m`` DISTINCT
    query terms — m=1 is plain OR, m=len(terms) is AND; in between is the
    standard long-query recall/precision knob. Rides the batch scorer's
    match-count grid, shard-local decidable like AND. Queries with fewer
    than m distinct index-present terms return nothing (strict quorum,
    matching the relational HAVING semantics).

    ``not_terms`` (an optional array<string> column on ``queries`` —
    Lucene's MUST_NOT): docs containing ANY of a query's not_terms are
    excluded from that query's ranking; scores of survivors are unchanged
    (exclusion, not scoring). Shard-local decidable, composes with
    mode/min_match/filters.

    Every query of a shard is scored in one vectorized pass
    (``_score_batch``). Small selective batches belong on
    ``term_major_topk``, which ``retrieve.route`` picks for them.

    ``index_dir`` is the index ``segments`` were read from: its
    ``meta.json`` (a driver-side file read — no job) gives the shard list
    and the corpus scalars the kernel derives the tf-part at, and its
    term_stats each term's df, joined onto ``segments`` here unless they
    already carry it (``segments_with_idf``, as ``IndexHandle`` holds
    them). A caller passing plain segments should restrict them to the
    batch's terms (``query.term_segments``): the join, and the blocks the
    kernel receives, are then query-sized, not index-sized.
    """
    if mode not in ("or", "and"):
        raise ValueError(f"mode must be 'or' or 'and', got {mode!r}")
    if min_match is not None:
        if mode != "or":
            raise ValueError(
                "min_match only applies to mode='or' (mode='and' IS "
                "min_match = all terms)"
            )
        if int(min_match) < 1:
            raise ValueError(f"min_match must be >= 1, got {min_match}")
        min_match = int(min_match)
    if query_weighted and "weights" not in queries.columns:
        raise ValueError(
            "query_weighted=True requires a `weights` array column "
            "parallel to `terms`"
        )
    from similaripy_spark.fulltext.index_build import read_meta

    spark = segments.sparkSession
    meta = read_meta(index_dir)
    # the kernel derives the doc-local tf-part from the stored (tf, dl) at
    # the CURRENT corpus avgdl (exact under append-only ingestion — see
    # append.py) and applies the term-global idf
    raw_params = _raw_params_from_meta(meta)
    tomb = _tomb_for(index_dir, meta)
    # the kernel reads each term's df off the shard's own rows; the
    # sentinel rows below take a null df
    if "df" not in segments.columns:
        segments = segments_with_idf(segments, index_dir)
    dv_luts = None
    if dv_filter is not None:
        from similaripy_spark.fulltext import docvalues as _dvmod

        dv_luts = _dvmod.resolve_filter(index_dir, dv_filter)
        base_segments = segments
        for field in dv_filter:
            segments = segments.unionByName(
                _dvmod.sentinel_segments(
                    spark, index_dir, field, base_segments
                )
            )
    n_docs = int(meta["n_docs"])
    shards_list = list(range(int(meta["n_shards"])))
    shards = _shard_frame(spark, shards_list)
    qcols = (
        ["query_id", "terms"]
        + (["weights"] if query_weighted else [])
        + (["not_terms"] if "not_terms" in queries.columns else [])
    )
    def make_score_shard(k_emit: int, with_tau: bool):
        def score_shard(
            seg_pdf: pd.DataFrame, q_pdf: pd.DataFrame
        ) -> pd.DataFrame:
            if len(seg_pdf) == 0 or len(q_pdf) == 0:
                return pd.DataFrame(
                    {"query_id": pd.Series(dtype="int64"),
                     "doc_id": pd.Series(dtype="int64"),
                     "score": pd.Series(dtype="float64")}
                )
            dv = None
            if dv_luts:
                from similaripy_spark.fulltext.docvalues import (
                    split_dv_rows,
                )

                seg_pdf, dv = split_dv_rows(seg_pdf, dv_luts)
                if len(seg_pdf) == 0:
                    return pd.DataFrame(
                        {"query_id": pd.Series(dtype="int64"),
                         "doc_id": pd.Series(dtype="int64"),
                         "score": pd.Series(dtype="float64")}
                    )
            idf = _idf_map(seg_pdf["term"], seg_pdf["df"], n_docs)
            idx = _ShardIndex(
                seg_pdf, idf=idf, raw=raw_params, tomb=tomb, dv=dv
            )
            return _score_batch(
                idx, q_pdf, k_emit, query_weighted=query_weighted,
                tau=(
                    q_pdf["tau"].to_numpy(np.float64)
                    if with_tau else None
                ),
                mode=mode, min_match=min_match,
            )

        return score_shard

    def sweep(qdf: DataFrame, qdf_cols: list, k_emit: int,
              with_tau: bool, shard_subset: list | None = None) -> DataFrame:
        seg = segments
        sh = shards
        if shard_subset is not None:
            # pass-1 sampling: prune BOTH sides to the sampled shards so
            # the un-sampled shards' segment rows never reach Python
            seg = seg.filter(F.col("shard").isin(shard_subset))
            sh = _shard_frame(spark, shard_subset)
        qx = qdf.select(*qdf_cols).crossJoin(F.broadcast(sh))
        return (
            seg.groupby("shard")
            .cogroup(qx.groupby("shard"))
            .applyInPandas(
                make_score_shard(k_emit, with_tau), schema=_RESULT_SCHEMA
            )
        )

    n_shards = len(shards_list)
    if deep_paging is None:
        deep_paging = k >= DEEP_K_CUTOFF and n_shards >= 8
    k1 = max(32, -(-4 * k // max(n_shards, 1)))
    if deep_paging and k1 < k:
        # Exact two-pass deep paging. The one-pass merge ships
        # n_q × n_shards × k rows into the global top-k — at k=1000 that
        # volume IS the cost (measured 48.5 s vs 12.4 s at k=100, 300k
        # docs). Scoring itself is nearly k-independent (dense accumulator;
        # k only affects selection), so: pass 1 scores with a small
        # per-shard cap k1 ≈ 4k/n_shards (union ≥ 4k real candidates per
        # query), and tau_q = that union's k-th (score DESC, doc_id ASC)
        # — the k-th best of ANY ≥k real docs is a lower bound on the
        # global k-th, so filtering pass 2's emission to score >= tau_q
        # keeps every true top-k row. Pass 2 re-scores with the floor
        # applied INSIDE the kernel (before Arrow serialization), so the
        # big emission never exists. Queries with < k pass-1 candidates
        # get tau = null -> no floor (rare: only when most shards hold
        # < k1 matches). Rank identity vs the one-pass path is pinned in
        # tests/test_retrieve.py.
        # Pass-1 SHARD SAMPLING (round 5): tau only needs SOME ≥k real
        # candidate scores — the k-th best over any shard SUBSET is still
        # a valid lower bound on the global k-th (adding docs can only
        # raise the k-th), so pass 1 sweeps a deterministic stride sample
        # of ~1/4 of the shards at a proportionally larger per-shard cap.
        # The floor it yields is a little weaker (≈ the global 4k-th), so
        # pass 2 emits ~4k rows/query instead of ~k — still nothing next
        # to the k·n_shards one-pass volume — while pass 1 scores 1/4 of
        # the shards. MEASURED (100k Zipf docs, 98 shards, 2000 queries,
        # k=1000, local[8], warm, best-of-2): one-pass 24.1 s; two-pass
        # unsampled 9.5 s; sampled 8.8 s (pass 2's floored sweep dominates
        # the two-pass cost, so the pass-1 cut yields ~7%). Exactness is
        # unchanged (rank-identity pinned in tests/test_retrieve.py, for
        # the sampled pass at 16 shards and the unsampled one below them).
        sample_div = 4
        if n_shards >= 4 * sample_div:
            p = max(8, n_shards // sample_div)
            stride = max(1, n_shards // p)
            sample_ids = shards_list[::stride][:p]
            k1s = max(32, -(-4 * k // len(sample_ids)))
            cand = sweep(queries, qcols, k1s, with_tau=False,
                         shard_subset=sample_ids)
        else:
            cand = sweep(queries, qcols, k1, with_tau=False)
        cand_topk = top_k(
            cand, k, group="query_id", order_value="score",
            tiebreak="doc_id", keep_rank=True,
        )
        tau_df = cand_topk.filter(F.col("rank") == k).select(
            "query_id", F.col("score").alias("tau")
        )
        q2 = queries.join(tau_df, "query_id", "left")
        local = sweep(q2, qcols + ["tau"], k, with_tau=True)
    else:
        local = sweep(queries, qcols, k, with_tau=False)
    out = top_k(
        local, k, group="query_id", order_value="score", tiebreak="doc_id",
        keep_rank=True,
    )
    return out.select("query_id", "doc_id", "score", "rank")


#: the most queries a forced term-major call (``path='term_major'``,
#: ``term_major_topk``) collects to the driver; the point path scores in
#: the driver, so a larger batch belongs on the segment path
TERM_MAJOR_MAX_QUERIES = 1024


class TermMajorIndex:
    """The per-index state of the term-major point path, opened once.

    Opening reads ``meta.json`` and ``merged/_meta.json`` (the bucket
    count) and opens two ``pyarrow.dataset`` views, all in the driver:
    the merged layout (hive-partitioned on ``term_bucket``) and
    ``term_stats`` (through ``resolve_artifact``, so either commit backend
    reads). No Spark job runs, here or in ``topk``. Tombstones are re-read
    per call (``delete_docs`` leaves the layout in place and takes effect
    at once); an append renames ``merged/`` away, so an opened instance is
    a snapshot of one layout.

    The driver reads these files through the local filesystem (pyarrow on
    a plain path), as it reads ``meta.json``, not through Spark's Hadoop
    filesystem and its credentials.
    """

    def __init__(self, spark: SparkSession, index_dir: str):
        from similaripy_spark.fulltext.commit import resolve_artifact
        from similaripy_spark.fulltext.index_build import read_meta
        from similaripy_spark.fulltext.index_merge import merged_n_buckets

        self.spark = spark
        self.index_dir = index_dir
        meta = read_meta(index_dir)
        self.n_docs = int(meta["n_docs"])
        self.raw_params = _raw_params_from_meta(meta)
        self.n_buckets = merged_n_buckets(index_dir)
        self.merged = pads.dataset(
            os.path.join(index_dir, "merged"), format="parquet",
            partitioning="hive",
        )
        self.term_stats = pads.dataset(
            resolve_artifact(os.path.join(index_dir, "term_stats")),
            format="parquet",
        )

    def blocks_filter(self, terms: list) -> pc.Expression:
        """The filter that reads only ``terms``' blocks: ``term_bucket``
        IN their buckets (whole bucket directories are skipped) and
        ``term`` IN the terms."""
        buckets = sorted(
            {zlib.crc32(t.encode()) % self.n_buckets for t in terms}
        )
        return (pc.field("term_bucket").isin(buckets)
                & pc.field("term").isin(terms))

    def topk(
        self,
        queries: DataFrame,
        k: int = 10,
        *,
        mode: str = "or",
        rows: list | None = None,
    ) -> DataFrame:
        """See :func:`term_major_topk`. ``rows``: the batch's
        ``(query_id, terms)`` rows when the caller has already collected
        them (``IndexHandle.topk``'s route probe); otherwise this collects
        at most ``TERM_MAJOR_MAX_QUERIES`` of them and raises above."""
        from similaripy_spark.fulltext.index_build import read_meta

        if mode not in ("or", "and"):
            raise ValueError(f"mode must be 'or' or 'and', got {mode!r}")
        if rows is None:
            rows = queries.select("query_id", "terms").limit(
                TERM_MAJOR_MAX_QUERIES + 1
            ).collect()
            if len(rows) > TERM_MAJOR_MAX_QUERIES:
                raise ValueError(
                    "the term-major path scores in the driver and takes at "
                    f"most {TERM_MAJOR_MAX_QUERIES} queries; use "
                    "path='segment' for a larger batch"
                )
        # distinct non-null terms per query, in query order; rows sharing
        # a query_id are one query
        by_query: dict = {}
        for qid, ts in rows:
            by_query.setdefault(int(qid), {}).update(
                dict.fromkeys(t for t in ts or () if t is not None)
            )
        terms = sorted({t for ts in by_query.values() for t in ts})
        out = {c: [] for c in _EMPTY_RANKED}
        seg = self.merged.to_table(
            filter=self.blocks_filter(terms)
        ).to_pandas() if terms else ()
        if len(seg):
            st = self.term_stats.to_table(
                columns=["term", "df"], filter=pc.field("term").isin(terms)
            )
            idx = _ShardIndex(
                seg,
                idf=_idf_map(
                    st.column("term").to_pylist(),
                    st.column("df").to_numpy(), self.n_docs,
                ),
                raw=self.raw_params,
                tomb=_tomb_for(self.index_dir, read_meta(self.index_dir)),
            )
            for qid in sorted(by_query):
                uterms = list(by_query[qid])
                if not uterms:
                    continue
                if mode == "and":
                    # the strict-AND guard: uterms keeps every distinct
                    # query term, and _score_intersect returns nothing
                    # when one of them has no block in the index
                    docs, scores = _score_intersect(idx, uterms)
                else:
                    docs, scores = _score_maxscore(idx, uterms, k)
                # the index holds every block of this query's terms, so
                # its local top-k IS the query's top-k: rank it here
                docs, scores = _local_topk(docs, scores, k)
                out["query_id"].append(np.full(len(docs), qid, np.int64))
                out["doc_id"].append(docs)
                out["score"].append(scores)
                out["rank"].append(
                    np.arange(1, len(docs) + 1, dtype=np.int32)
                )
        pdf = (pd.DataFrame({c: np.concatenate(v) for c, v in out.items()})
               if out["rank"] else pd.DataFrame(_EMPTY_RANKED))
        # a pandas frame plans as a LocalTableScan: collecting it runs no
        # Spark job
        return self.spark.createDataFrame(pdf, schema=_RANKED_SCHEMA)


def term_major_topk(
    spark,
    index_dir: str,
    queries: DataFrame,
    k: int = 10,
    mode: str = "or",
) -> DataFrame:
    """Point-query path over the term-major merged layout, scored in the
    driver. Returns (query_id, doc_id, score, rank) like every path.

    Opens a :class:`TermMajorIndex` for this one call; a server holds one
    (``retrieve.IndexHandle`` does), and passes the rows its route probe
    collected. Here the batch's ``(query_id, terms)`` rows are collected
    once, capped at ``TERM_MAJOR_MAX_QUERIES`` (above it this raises and
    names the segment path). The rest runs no Spark job: a
    ``pyarrow.dataset`` read of only the queried terms' buckets and rows,
    their ``df`` from ``term_stats``, idf by ``weights.idf_np`` (the
    segment scorer's idf function, so exact ties rank alike on both
    paths), then per query ``_ShardIndex`` → ``_score_maxscore`` (OR) or
    ``_score_intersect`` (AND) → ``_local_topk``. The blocks hold every
    posting of each queried term, so a query's local top-k is its exact
    top-k in (score DESC, doc_id ASC) order. Tombstoned docs drop at
    decode; null terms match nothing; in AND mode a term absent from the
    index empties its query (strict AND). The result is a pandas-built
    ``LocalTableScan``, so collecting it runs no job.

    Best when the batch is small and selective; ``segment_topk``
    amortizes decode per shard for large ones. Block-Max WAND, run as
    best-first doc-range scoring, measured ~1.5× slower than MaxScore on
    the Zipf corpus (100k docs, k=10: 5.09 s vs 3.27 s): the unclamped idf
    makes hot terms' weights negative, so their blocks add 0 to every
    upper bound yet must still be decoded for every visited range.
    """
    return TermMajorIndex(spark, index_dir).topk(queries, k, mode=mode)
