"""spark-submit entry point: build or query a BM25 index.

Build:
  spark-submit --py-files dist/similaripy_spark.zip tools/index_job.py \
      build --pages /data/pages_parquet --index /data/index \
      [--shard-size auto|N] [--groups 64] [--lang en]

Query:
  spark-submit ... tools/index_job.py \
      query --index /data/index --queries /data/queries.parquet \
      --out /data/results [--k 10]

Resume is automatic: re-running `build` skips committed shard groups
(lineage manifests). The script only parses args and calls the library —
every run mode is the same code paths the tests pin.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession


def main(argv=None):
    p = argparse.ArgumentParser()
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build")
    b.add_argument(
        "--pages", required=True,
        help="parquet path or iceberg:<catalog.db.table>",
    )
    b.add_argument("--index", required=True)
    b.add_argument(
        "--snapshot-id", type=int, default=None,
        help="pin the Iceberg snapshot so resume re-reads the same state",
    )
    b.add_argument(
        "--commit", choices=["rename", "pointer"], default="rename",
        help="publish backend: POSIX rename (HDFS/local) or pointer-swap "
        "(S3/GCS-style object stores)",
    )
    b.add_argument(
        "--shard-size",
        type=lambda v: v if v == "auto" else int(v),
        default="auto",
        help="docs per shard; 'auto' derives a power of two holding the "
        "shard count at <=256 for any corpus size (bounds batch-query "
        "fan-out)",
    )
    b.add_argument("--groups", type=int, default=64)
    b.add_argument("--lang", default=None)
    b.add_argument("--no-resume", action="store_true")
    b.add_argument(
        "--positions", action="store_true",
        help="also build the positional sidecar (phrase / proximity / "
        "snippet serving without the crawl table)",
    )
    b.add_argument(
        "--docvalues", default=None,
        help="comma-separated page columns to store as dictionary-encoded "
        "doc-values (filtered retrieval / facets), e.g. 'lang'",
    )
    b.add_argument(
        "--docvalues-numeric", default=None,
        help="comma-separated numeric page columns for RANGE filters "
        "(timestamps stored as epoch micros), e.g. 'warc_ts'",
    )

    q = sub.add_parser("query")
    q.add_argument("--index", required=True)
    q.add_argument(
        "--queries", required=True,
        help="parquet with query_id + terms (array<string>) or raw "
        "text (string; tokenized with the build tokenizer)",
    )
    q.add_argument("--out", required=True)
    q.add_argument("--k", type=int, default=10)
    q.add_argument(
        "--mode", choices=["or", "and"], default="or",
        help="or: BM25 union ranking; and: posting-list intersection",
    )
    q.add_argument(
        "--min-match", type=int, default=None,
        help="quorum: keep docs matching >= m distinct query terms "
        "(mode='or' only)",
    )
    q.add_argument(
        "--phrase", action="store_true",
        help="treat each query as an exact phrase (needs the positional "
        "sidecar; combine with --slop for ordered-window proximity)",
    )
    q.add_argument("--slop", type=int, default=0)
    q.add_argument(
        "--filter", action="append", default=None, metavar="FIELD=V1,V2",
        help="doc-values IN-list filter (repeatable; fields AND together);"
        " needs the docvalues sidecar. A not_terms array column on the "
        "queries parquet is honored automatically (MUST_NOT)",
    )
    q.add_argument(
        "--filter-range", action="append", default=None,
        metavar="FIELD=LO:HI",
        help="numeric doc-values closed-range filter; empty LO or HI = "
        "open end; ints or ISO timestamps",
    )

    s = sub.add_parser(
        "search",
        help="one query string through the Lucene-flavored grammar: "
        'terms, -term, "phrase", field:v1,v2, field:[lo TO hi]',
    )
    s.add_argument("--index", required=True)
    s.add_argument("--q", required=True, help="the query string")
    s.add_argument("--out", required=True)
    s.add_argument("--k", type=int, default=10)

    fc = sub.add_parser(
        "facets",
        help="per-query match counts grouped by a doc-values field "
        "(or numeric statistics with --stats)",
    )
    fc.add_argument("--index", required=True)
    fc.add_argument("--queries", required=True)
    fc.add_argument("--field", required=True)
    fc.add_argument("--out", required=True)
    fc.add_argument("--mode", choices=["or", "and"], default="or")
    fc.add_argument(
        "--stats", action="store_true",
        help="numeric field: per-query count/min/max/sum/avg instead of "
        "per-value counts",
    )

    so = sub.add_parser(
        "sort",
        help="top-k matches per query ORDERED BY a numeric doc-values "
        "field (sort-by-attribute instead of BM25)",
    )
    so.add_argument("--index", required=True)
    so.add_argument("--queries", required=True)
    so.add_argument("--field", required=True)
    so.add_argument("--out", required=True)
    so.add_argument("--k", type=int, default=10)
    so.add_argument("--mode", choices=["or", "and"], default="or")
    so.add_argument("--ascending", action="store_true")

    ap = sub.add_parser(
        "append",
        help="exact append-only ingestion into a built index (committed "
        "blocks never rewritten); optionally catches "
        "the positional / doc-values sidecars up in the same run",
    )
    ap.add_argument("--index", required=True)
    ap.add_argument(
        "--pages", required=True,
        help="EXACTLY the pages appended since the last epoch "
        "(parquet path or iceberg:<catalog.db.table>)",
    )
    ap.add_argument(
        "--snapshot-id", type=int, default=None,
        help="pin the Iceberg snapshot of the delta read",
    )
    ap.add_argument("--positions", action="store_true",
                    help="also append the positional sidecar")
    ap.add_argument("--docvalues", action="store_true",
                    help="also append the doc-values sidecar (all fields)")

    m = sub.add_parser("merge")
    m.add_argument("--indexes", nargs="+", required=True)
    m.add_argument("--out", required=True)

    ml = sub.add_parser(
        "mlt",
        help="more-like-this: seed docs become queries from their top "
        "tf-idf terms; the seed doc is excluded without shorting k",
    )
    ml.add_argument("--index", required=True)
    ml.add_argument("--pages", required=True,
                    help="crawl table (only seed rows are tokenized)")
    ml.add_argument(
        "--seeds", required=True,
        help="comma-separated doc ids, or a parquet path with a doc_id "
        "column",
    )
    ml.add_argument("--out", required=True)
    ml.add_argument("--k", type=int, default=10)
    ml.add_argument("--max-terms", type=int, default=25)

    args = p.parse_args(argv)
    spark = SparkSession.builder.appName(f"index_job_{args.cmd}").getOrCreate()

    from similaripy_spark.fulltext.index_build import IndexBuilder

    if args.cmd == "build":
        from similaripy_spark.fulltext.commit import ObjectStoreCommitProtocol
        from similaripy_spark.sources.iceberg import read_pages_table

        builder = IndexBuilder(
            args.index,
            shard_size=args.shard_size,
            n_groups=args.groups,
            lang=args.lang,
            commit=(
                ObjectStoreCommitProtocol() if args.commit == "pointer"
                else None
            ),
        )
        pages = read_pages_table(spark, args.pages,
                                 snapshot_id=args.snapshot_id)
        meta = builder.build(pages, resume=not args.no_resume)
        if args.positions:
            from similaripy_spark.fulltext.positional import build_positions

            build_positions(pages, args.index, lang=args.lang)
        dv_fields = []
        if args.docvalues:
            dv_fields += [f for f in args.docvalues.split(",") if f]
        if args.docvalues_numeric:
            dv_fields += [
                (f, "numeric")
                for f in args.docvalues_numeric.split(",") if f
            ]
        if dv_fields:
            from similaripy_spark.fulltext.docvalues import build_docvalues

            build_docvalues(pages, args.index, dv_fields)
        print(json.dumps({"built": args.index, "positions": args.positions,
                          "docvalues": [
                              f if isinstance(f, str) else f[0]
                              for f in dv_fields
                          ],
                          **{k: meta[k] for k in ("n_docs", "n_shards", "avgdl")}}))
    elif args.cmd == "query":
        from similaripy_spark.fulltext.retrieve import topk

        queries = spark.read.parquet(args.queries)
        if args.phrase:
            from similaripy_spark.fulltext.positional import phrase_topk_pos

            out = phrase_topk_pos(spark, args.index, queries, k=args.k,
                                  slop=args.slop)
        else:
            filt = {}
            for spec in args.filter or []:
                field, _, vals = spec.partition("=")
                if not vals:
                    raise SystemExit(f"--filter expects FIELD=V1,V2: {spec}")
                filt[field] = [v for v in vals.split(",") if v]
            # the grammar's own bound parser: '' or '*' = open end, ints
            # pass through, ISO timestamps coerced by the library
            from similaripy_spark.fulltext.querylang import _bound

            for spec in args.filter_range or []:
                field, _, rng = spec.partition("=")
                lo, sep, hi = rng.partition(":")
                if not sep:
                    raise SystemExit(
                        f"--filter-range expects FIELD=LO:HI: {spec}"
                    )
                filt[field] = (_bound(lo), _bound(hi))
            # auto-routed front-end: shard list from meta.json, path chosen
            # from batch size + index layout (segment sweep / term-major)
            out = topk(spark, args.index, queries, k=args.k, mode=args.mode,
                       min_match=args.min_match, filter=filt or None)
        out.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"queried": args.index, "out": args.out}))
    elif args.cmd == "search":
        from similaripy_spark.fulltext.querylang import search as qsearch

        out = qsearch(spark, args.index, args.q, k=args.k)
        out.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"search": args.q, "out": args.out}))
    elif args.cmd == "facets":
        from similaripy_spark.fulltext.docvalues import (
            facet_counts,
            facet_stats,
        )

        queries = spark.read.parquet(args.queries)
        fn = facet_stats if args.stats else facet_counts
        out = fn(spark, queries, args.index, args.field, mode=args.mode)
        out.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"facets": args.index, "field": args.field,
                          "stats": args.stats, "out": args.out}))
    elif args.cmd == "sort":
        from similaripy_spark.fulltext.docvalues import sort_topk

        queries = spark.read.parquet(args.queries)
        out = sort_topk(spark, queries, args.index, args.field,
                        k=args.k, mode=args.mode,
                        ascending=args.ascending)
        out.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"sort": args.index, "field": args.field,
                          "out": args.out}))
    elif args.cmd == "append":
        from similaripy_spark.fulltext.append import append_to_index
        from similaripy_spark.sources.iceberg import read_pages_table

        delta = read_pages_table(spark, args.pages,
                                 snapshot_id=args.snapshot_id)
        meta = append_to_index(spark, args.index, delta)
        if args.positions:
            from similaripy_spark.fulltext.positional import (
                append_positions,
            )

            append_positions(delta, args.index)
        if args.docvalues:
            from similaripy_spark.fulltext.docvalues import (
                append_docvalues,
            )

            append_docvalues(delta, args.index)
        print(json.dumps({
            "appended": args.index,
            "positions": args.positions,
            "docvalues": args.docvalues,
            **{k: meta[k] for k in ("n_docs", "n_shards", "n_epochs")},
        }))
    elif args.cmd == "merge":
        from similaripy_spark.fulltext.index_merge import merge_indexes

        meta = merge_indexes(spark, args.indexes, args.out)
        print(json.dumps({"merged": args.indexes, "out": args.out,
                          "n_docs": meta["n_docs"]}))
    elif args.cmd == "mlt":
        from similaripy_spark.fulltext.retrieve import more_like_this
        from similaripy_spark.sources.iceberg import read_pages_table

        pages = read_pages_table(spark, args.pages)
        if args.seeds.replace(",", "").replace("-", "").isdigit():
            seeds = [int(s) for s in args.seeds.split(",") if s]
        else:
            seeds = spark.read.parquet(args.seeds).select("doc_id")
        out = more_like_this(spark, args.index, pages, seeds,
                             k=args.k, max_terms=args.max_terms)
        out.write.mode("overwrite").parquet(args.out)
        print(json.dumps({"mlt": args.index, "out": args.out}))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
