"""pandas reference twins of the index build's Arrow kernels.

Each is the original pandas formulation of a kernel the package now runs
only in Arrow; the tests compare the two at kernel level:

* ``encode_partition_pandas`` — block encoder over (shard, term,
  doc_id)-SORTED pandas batches; reference for
  ``index_build._encode_partition_arrow_unsorted`` (byte-identical blocks).
* ``count_terms_pandas`` — tokenize + per-doc term counts over pandas
  batches of (doc_id, text); reference for ``postings._count_terms_arrow``
  (identical rows).

Nothing in the package imports this module.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd

from similaripy_spark.fulltext import codec
from similaripy_spark.fulltext.tokenizer import TOKEN_SPLIT_RE


def encode_partition_pandas(
    batches: Iterator[pd.DataFrame], block_size: int, bounds_fn=None
) -> Iterator[pd.DataFrame]:
    """One partition = whole shards, sorted by (shard, term, doc_id).
    Groups may span batches → carry the tail group over."""
    carry: pd.DataFrame | None = None

    def encode(pdf: pd.DataFrame) -> pd.DataFrame:
        """Vectorized block builder: per-block metadata via ``reduceat``,
        varints for the WHOLE partition in one encode pass, per-block bytes
        as offset slices — the only Python loop is the final cheap
        bytes-slicing over blocks (≈1 µs each)."""
        terms = pdf["term"].to_numpy()
        shards = pdf["shard"].to_numpy(np.int32)
        docs = pdf["doc_id"].to_numpy(np.int64)
        tfs = pdf["tf"].to_numpy(np.int64)
        w32 = pdf["weight"].to_numpy(np.float64).astype(np.float32)
        n = len(pdf)
        # group boundaries on (shard, term)
        change = np.empty(n, dtype=bool)
        change[0] = True
        change[1:] = (terms[1:] != terms[:-1]) | (shards[1:] != shards[:-1])
        gstart_idx = np.flatnonzero(change)
        pos_in_group = np.arange(n) - np.repeat(
            gstart_idx, np.diff(np.append(gstart_idx, n))
        )
        bstart = change | (pos_in_group % block_size == 0)
        block_starts = np.flatnonzero(bstart)
        block_ends = np.append(block_starts[1:], n)
        block_n = block_ends - block_starts
        block_id = (pos_in_group[block_starts] // block_size).astype(np.int32)
        first_doc = docs[block_starts]
        max_doc = docs[block_ends - 1]
        bscore = w32 if bounds_fn is None else bounds_fn(tfs, w32)
        max_score = np.maximum.reduceat(bscore, block_starts)
        min_score = np.minimum.reduceat(bscore, block_starts)
        # deltas with reset-to-0 at every block start
        deltas = np.empty(n, dtype=np.int64)
        deltas[0] = 0
        np.subtract(docs[1:], docs[:-1], out=deltas[1:])
        deltas[block_starts] = 0
        dbuf, dlens = codec.encode_varints_with_lens(deltas.astype(np.uint64))
        doff = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(dlens, out=doff[1:])
        tbuf, tlens = codec.encode_varints_with_lens(tfs.astype(np.uint64))
        toff = np.zeros(n + 1, dtype=np.int64)
        np.cumsum(tlens, out=toff[1:])
        wbuf = w32.tobytes()

        dd = [dbuf[doff[s]:doff[e]] for s, e in zip(block_starts, block_ends)]
        tt = [tbuf[toff[s]:toff[e]] for s, e in zip(block_starts, block_ends)]
        ww = [wbuf[4 * s:4 * e] for s, e in zip(block_starts, block_ends)]
        return pd.DataFrame(
            {
                "shard": shards[block_starts],
                "term": terms[block_starts],
                "block_id": block_id,
                "n": block_n.astype(np.int32),
                "first_doc": first_doc,
                "max_doc": max_doc,
                "max_score": max_score,
                "min_score": min_score,
                "doc_deltas": dd,
                "tfs": tt,
                "weights": ww,
            }
        )

    for b in batches:
        if len(b) == 0:
            continue
        if carry is not None:
            b = pd.concat([carry, b], ignore_index=True)
        # hold back the final (shard, term) group — it may continue
        last_term = b["term"].iloc[-1]
        last_shard = b["shard"].iloc[-1]
        tail_mask = (b["term"] == last_term) & (b["shard"] == last_shard)
        # the mask is a suffix because input is sorted by (shard, term)
        tail_start = len(b) - int(tail_mask.sum())
        carry = b.iloc[tail_start:].copy()
        head = b.iloc[:tail_start]
        if len(head):
            yield encode(head)
    if carry is not None and len(carry):
        yield encode(carry)


def count_terms_pandas(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """(doc_id, text) batches → (doc_id, term, tf, dl) rows."""
    for b in batches:
        if len(b) == 0:
            continue
        toks = (
            b["text"].fillna("").str.lower()
            .str.split(TOKEN_SPLIT_RE, regex=True)
        )
        lens = toks.map(len).to_numpy(np.int64)
        flat = (
            np.concatenate(toks.to_numpy()) if len(toks)
            else np.array([], dtype=object)
        )
        doc_idx = np.repeat(np.arange(len(b), dtype=np.int64), lens)
        keep = flat != ""
        flat, doc_idx = flat[keep], doc_idx[keep]
        # dl per doc = number of real tokens
        dl = np.bincount(doc_idx, minlength=len(b)).astype(np.int64)
        # unique (doc, term) pairs with counts — factorize tokens to int
        # codes (C-speed hash table), then one int64 np.unique pass
        codes, uniques = pd.factorize(pd.Series(flat), sort=False)
        key = doc_idx * np.int64(len(uniques)) + codes
        ukey, counts = np.unique(key, return_counts=True)
        u_doc = ukey // len(uniques)
        u_code = ukey % len(uniques)
        doc_ids = b["doc_id"].to_numpy(np.int64)
        yield pd.DataFrame(
            {
                "doc_id": doc_ids[u_doc],
                "term": uniques.take(u_code),
                "tf": counts.astype(np.int32),
                "dl": dl[u_doc],
            }
        )
