"""Fulltext index engine: SPIMI-style sharded postings build
(``index_build.IndexBuilder``), BM25-family weighting (``weights``),
exact top-k retrieval on two query paths (``wand``: the shard-scatter
batch scorer and the driver-side term-major point scorer), and the public
serve surface (``retrieve``):

* ``open_index(spark, index_dir)`` → :class:`IndexHandle` — the load-once
  query-server path (meta + idf-annotated segments + routing state loaded
  once, ``.topk()`` per batch);
* ``topk(spark, index_dir, queries)`` — one-shot convenience;
* ``append_to_index(spark, index_dir, pages)`` — exact append-only
  ingestion (blocks store (tf, dl); corpus scalars and idf applied at read
  time, so committed blocks never go stale — append.py);
* ``phrase_topk(spark, index_dir, pages, queries)`` — exact phrase
  retrieval: AND posting-list intersection for candidates, codegen
  token-adjacency regexp against the pages relation, BM25 ranking;
* ``delete_docs(spark, index_dir, doc_ids)`` / ``compact_index`` —
  tombstone deletion with exact surviving top-k on every query path
  (kernel-level decode filtering) and a compaction rewrite that refreshes
  corpus stats (delete.py);
* ``build_docvalues(pages, index_dir, fields)`` /
  ``topk(..., filter={field: values})`` / ``facet_counts`` — per-document
  metadata columns for exact filtered retrieval and facet counts
  (docvalues.py).
"""

from similaripy_spark.fulltext.append import (  # noqa: F401
    append_to_index,
)
from similaripy_spark.fulltext.docvalues import (  # noqa: F401
    append_docvalues,
    build_docvalues,
    collapse_topk,
    facet_counts,
    facet_stats,
    sort_topk,
)
from similaripy_spark.fulltext.querylang import (  # noqa: F401
    parse_query,
    search,
)
from similaripy_spark.fulltext.delete import (  # noqa: F401
    compact_index,
    delete_docs,
)
from similaripy_spark.fulltext.retrieve import (  # noqa: F401
    IndexHandle,
    open_index,
    phrase_topk,
    topk,
)
