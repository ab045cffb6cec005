"""similaripy_spark — a PySpark-native sparse-similarity + BM25 fulltext engine.

A from-scratch re-expression of the capabilities of ``bogliosimone/similaripy``
(reference at /root/reference, studied for semantics only) on idiomatic PySpark:

* sparse matrices are long-form DataFrames ``(row: long, col: long, value: double)``
  — the relational encoding of the reference's CSR/COO arrays;
* normalizations (l1/l2/max, tfidf, bm25, bm25plus) are aggregations + column
  expressions (reference: similaripy/cython_code/normalization.pyx);
* the generalized top-k similarity kernel ``s_plus`` (reference:
  similaripy/cython_code/s_plus.h:129-156) is join → hash-aggregate → scalar
  expression → windowed top-k, fully inside Catalyst/Tungsten;
* on top of that sits a fulltext stack: tokenizer → postings → BM25 weights →
  SPIMI-style compressed index segments → Block-Max-WAND top-k query.

No code is copied from the reference; file:line citations in docstrings point at
the behavior being reproduced.
"""

import importlib

__version__ = "0.1.0"

_NORMALIZATION = ("normalize", "tfidf", "bm25", "bm25plus")
_SIMILARITY = (
    "dot_product",
    "cosine",
    "asymmetric_cosine",
    "tversky",
    "jaccard",
    "dice",
    "p3alpha",
    "rp3beta",
    "s_plus",
)
__all__ = [*_NORMALIZATION, *_SIMILARITY]


def __getattr__(name: str):
    """Lazy re-exports (PEP 562): importing the package (as the worker
    daemon ``similaripy_spark.pyworker`` does) loads no pyspark."""
    if name in _NORMALIZATION:
        module = "similaripy_spark.functions.normalization"
    elif name in _SIMILARITY:
        module = "similaripy_spark.functions.similarity"
    else:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    value = getattr(importlib.import_module(module), name)
    globals()[name] = value
    return value
