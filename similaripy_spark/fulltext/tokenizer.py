"""Deterministic tokenizer: the one tokenize rule of the engine.

The reference operates on pre-tokenized matrices (no string ops anywhere in
similaripy); the north rule adds the tokenize stage: a pure function of
``text`` (byte-identical text per url ⇒ deterministic postings).

Rule: lowercase, split on runs of non-[a-z0-9], drop empties; null text is
empty text. Three forms of it, tested for agreement:

* ``tokenize_expr`` — built-in Catalyst expression (JVM-side, codegen'd),
  used by every relational plan;
* ``arrow_tokens``  — the token stream of one Arrow batch, on Arrow string
  kernels (no per-row Python); the map-side ``mapInArrow`` kernels
  (postings, positional postings, word shingles and MinHash, SimHash,
  winnowing) all tokenize through it;
* ``tokenize_str``  — plain Python over one string, for driver-side query
  strings (querylang).

The SQL-oracle twin (DuckDB) is
``regexp_split_to_array(lower(text), '[^a-z0-9]+')`` filtered for ''.
"""

from __future__ import annotations

import re

import numpy as np

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = "[^a-z0-9]+"

#: complement of TOKEN_SPLIT_RE: one maximal token run. Counting
#: non-overlapping matches of this on LOWERED text equals the number of
#: non-empty tokens the split produces (lowering first matters: some
#: non-ASCII uppercase chars lower into [a-z], e.g. the Kelvin sign → k).
TOKEN_RUN_RE = "[a-z0-9]+"


def tokenize_expr(text: Column) -> Column:
    """text → array<string> of tokens (built-in functions only)."""
    return F.filter(
        F.split(F.lower(text), TOKEN_SPLIT_RE), lambda t: t != F.lit("")
    )


def arrow_tokens(batch):
    """Arrow batch of (doc_id, text) → ``(doc_ids, doc_idx, tokens)``:
    ``doc_ids`` the batch's doc_id column as numpy, ``tokens`` every token
    of the batch as one Arrow string array in text order, and ``doc_idx``
    (int64, non-decreasing) the batch row each token came from. Null text
    yields no tokens, like empty text (a null token list would make
    list_value_length null → NaN → garbage int64 counts)."""
    import pyarrow.compute as pc

    text = pc.fill_null(batch.column(batch.schema.get_field_index("text")), "")
    toks = pc.split_pattern_regex(pc.utf8_lower(text), TOKEN_SPLIT_RE)
    n_per = pc.list_value_length(toks).to_numpy(
        zero_copy_only=False
    ).astype(np.int64)
    flat = pc.list_flatten(toks)
    doc_idx = np.repeat(np.arange(batch.num_rows, dtype=np.int64), n_per)
    keep = pc.not_equal(flat, "")
    doc_ids = batch.column(
        batch.schema.get_field_index("doc_id")
    ).to_numpy(zero_copy_only=False)
    doc_idx = doc_idx[keep.to_numpy(zero_copy_only=False)]
    return doc_ids, doc_idx, flat.filter(keep)


def tokenize_str(s: str) -> list[str]:
    """One string → its tokens (plain Python)."""
    return [t for t in re.split(TOKEN_SPLIT_RE, s.lower()) if t]
