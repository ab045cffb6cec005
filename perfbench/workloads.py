"""The two workloads. Each is a closed loop driven by one client, the Spark
driver thread: the next op starts when the previous one returned.

A workload has ``setup(rep)``, run ``SETUP_REPS`` times; ``warm_up()``,
run once after it; ``prepare_oracle()``, untimed; and ``round(r)``,
repeated until the run's measuring time is spent. Every timed op goes
through ``Run.op``, which opens its span, times it and checks its output.

Sizes are scaled so one run takes about a minute on 4 cores: a full
measurement is 48 runs that must end within an hour, set-up included,
and a run spends half its time starting the session and running cold
code paths. The measuring
time is shorter than one round of either workload, so every run measures
exactly one round; a run that sometimes measured two would mix rounds at
two stages of JIT warm-up. At these sizes the ops' time is mostly fixed
per-job cost, which halving the inputs barely moves. The shard size
scales with the corpus so the index keeps eight shards.
"""

from __future__ import annotations

import os
import shutil

import numpy as np

from similaripy_spark.sources.pages import (
    generate_pages,
    generate_pages_pandas,
    generate_queries_pandas,
)

from perfbench import oracles

VOCAB = 100_000
K = 10
BATCH_QUERIES = 2_000
POINT_QUERIES = 16
POINTS_PER_ROUND = 1
SAMPLE_QUERIES = 4  # queries of each op checked against the oracle

SHARD = 512
BASE_DOCS = 8 * SHARD
EPOCH_DOCS = 2 * SHARD  # appended ids start at the next shard boundary
DELETES = 200

KERNEL_ORDERS = 25_000
KERNEL_PARTS = 12_500
KERNEL_DOCS = 2_000
KERNEL_VOCAB = 2_000
#: (op name, span name, input table, top-k (group, item) columns or None)
#: in the fixed order of a round
KERNEL_OPS = (
    ("cosine_topk", "similarity.cosine", "lineitem", ("row", "col")),
    ("rp3beta_topk", "similarity.rp3beta", "lineitem", ("row", "col")),
    ("bm25_topk", "query.bm25_topk", "documents", ("query_id", "doc_id")),
    ("minhash_signatures", "dedup.minhash_signatures", "documents", None),
    ("simhash", "dedup.simhash", "documents", None),
)


def sub_seed(seed: int, *parts: int) -> int:
    """Deterministic, well-spread seed for one input of the run."""
    x = seed & 0xFFFFFFFF
    for p in parts:
        x = (x * 0x9E3779B1 + p + 1) & 0x7FFFFFFF
    return x


def query_frame(seed: int, n: int):
    return generate_queries_pandas(n, vocab_size=VOCAB, seed=seed)


def sample_ids(seed: int, n: int, k: int = SAMPLE_QUERIES) -> list[int]:
    rng = np.random.default_rng(seed)
    return sorted(int(q) for q in rng.choice(n, size=min(k, n), replace=False))


def topk_op(run, name: str, handle, queries_pdf, oracle, check_seed: int,
            role: str, *, has_merged: bool | None = None, open_handle=None):
    """One ``IndexHandle.topk`` op: a ``retrieve.topk.call`` child until
    ``topk()`` returns, then the action child named by the path
    ``retrieve.route`` picks for the same inputs. With ``open_handle`` the
    op first opens the index, inside a ``retrieve.open_index`` child."""
    from similaripy_spark.fulltext.retrieve import route

    if has_merged is None:
        has_merged = handle.has_merged
    path = route(len(queries_pdf), has_merged)
    qdf = run.spark.createDataFrame(queries_pdf)
    sample = sample_ids(check_seed, len(queries_pdf))
    tr = run.tracer

    def body():
        h = handle
        if open_handle is not None:
            with tr.span("retrieve.open_index"):
                h = open_handle()
        with tr.span("retrieve.topk.call"):
            df = h.topk(qdf, k=K)
        with tr.span(f"wand.{path}_topk"):
            rows = df.collect()
        run.note_plan(df)
        return rows

    return run.op(
        name, body, role=role, queries=len(queries_pdf),
        check=lambda rows: oracles.check_queries(
            rows, queries_pdf, sample, oracle, K
        ),
    )


# ------------------------------------------------------------------- fulltext

class Fulltext:
    """BM25 retrieval and ingestion on one generated Zipf corpus.

    Set-up builds the serving index over the base docs, merges it to the
    term-major layout and opens it warm. Each round then runs

    * one 2,000-query batch on the serving handle, routed to ``segment``
      and served from the handle's in-memory segment cache (a cache hit);
    * one 16-query point op on it, routed to ``term_major``, which
      reads the merged parquet on every call (a cache miss);
    * the write path on a fresh index directory: ``IndexBuilder.build`` of
      the base docs, ``append_to_index`` of one epoch whose ids start at
      the next shard boundary, ``delete_docs`` of 200 ids, then a new
      ``open_index`` and one 2,000-query batch: a read after the writes,
      on cold program caches.
    """

    READ_ROLES = ("batch", "point", "fresh")  # query_* over these ops
    WORK_ROLES = ("build", "append")  # work_per_*: docs ingested
    #: the first set-up's index is the warm-up's write target, so the
    #: serving index is the second one
    SETUP_REPS = 2

    def __init__(self, run):
        self.run = run
        self.pages = None
        self.handle = None

    def _serve_dir(self, rep: int) -> str:
        return os.path.join(self.run.work_dir, f"serve-index-{rep}")

    def _base(self):
        from pyspark.sql import functions as F

        return self.pages.filter(F.col("doc_id") < BASE_DOCS)

    def _epoch(self):
        from pyspark.sql import functions as F

        return self.pages.filter(F.col("doc_id") >= BASE_DOCS)

    def setup(self, rep: int) -> None:
        from similaripy_spark.fulltext.index_build import IndexBuilder
        from similaripy_spark.fulltext.index_merge import merge_to_term_major
        from similaripy_spark.fulltext.retrieve import open_index

        run, spark, tr = self.run, self.run.spark, self.run.tracer
        self.close()
        self.pages = generate_pages(
            spark, BASE_DOCS + EPOCH_DOCS, vocab_size=VOCAB, seed=run.seed
        ).persist()
        self.pages.count()
        d = self._serve_dir(rep)
        with tr.span("index_build.build", role="setup"):
            IndexBuilder(d, shard_size=SHARD).build(self._base())
        with tr.span("index_merge.merge_to_term_major", role="setup"):
            merge_to_term_major(spark, d)
        with tr.span("retrieve.open_index", role="setup"):
            self.handle = open_index(spark, d).warm()

    def warm_up(self) -> None:
        """Every op kind once, on queries no timed op uses. The writes go
        to the first set-up's index, which nothing serves from."""
        from similaripy_spark.fulltext import append_to_index, delete_docs
        from similaripy_spark.fulltext.retrieve import open_index

        run, spark = self.run, self.run.spark
        # the point route on the serving handle; the read after the writes
        # below warms the batch route
        q = spark.createDataFrame(query_frame(sub_seed(run.seed, 9, 1),
                                              POINT_QUERIES))
        self.handle.topk(q, k=K).collect()
        d = self._serve_dir(0)
        append_to_index(spark, d, pages=self._epoch())
        delete_docs(spark, d, [1, 2, 3])
        q = spark.createDataFrame(query_frame(sub_seed(run.seed, 9), 200))
        with open_index(spark, d) as h:
            h.topk(q, k=K).collect()
        shutil.rmtree(d)

    def prepare_oracle(self) -> None:
        """The serving oracle holds the base docs; the write oracle adds
        the epoch and the deletes. Every round repeats the same writes, so
        both are built once."""
        run = self.run
        pdf = generate_pages_pandas(BASE_DOCS + EPOCH_DOCS, vocab_size=VOCAB,
                                    seed=run.seed)
        texts = dict(zip(pdf["doc_id"], pdf["text"]))
        self.serve_oracle = oracles.FulltextOracle()
        self.serve_oracle.add({d: t for d, t in texts.items() if d < BASE_DOCS})
        rng = np.random.default_rng(sub_seed(run.seed, 3))
        self.deletes = sorted(int(x) for x in rng.choice(
            BASE_DOCS + EPOCH_DOCS, size=DELETES, replace=False))
        self.write_oracle = oracles.FulltextOracle()
        self.write_oracle.add(texts)
        self.write_oracle.delete(self.deletes)
        run.text_bytes = int(pdf["text"].str.len().sum())

    def round(self, r: int) -> None:
        from similaripy_spark.fulltext import append_to_index, delete_docs
        from similaripy_spark.fulltext.index_build import IndexBuilder
        from similaripy_spark.fulltext.retrieve import open_index

        run, spark = self.run, self.run.spark
        s = sub_seed(run.seed, 1, r)
        topk_op(run, "retrieve.topk.batch", self.handle,
                query_frame(s, BATCH_QUERIES), self.serve_oracle, s, "batch")
        for j in range(POINTS_PER_ROUND):
            s = sub_seed(run.seed, 2, r, j)
            topk_op(run, "retrieve.topk.point", self.handle,
                    query_frame(s, POINT_QUERIES), self.serve_oracle, s,
                    "point")

        if run.index_dir and os.path.isdir(run.index_dir):
            shutil.rmtree(run.index_dir)
        d = run.index_dir = os.path.join(run.work_dir, f"write-index-{r}")
        ok, _ = run.op(
            "index_build.build",
            lambda: IndexBuilder(d, shard_size=SHARD).build(self._base()),
            role="build", items=BASE_DOCS,
        )
        ok = ok and run.op(
            "append.append_to_index",
            lambda: append_to_index(spark, d, pages=self._epoch()),
            role="append", items=EPOCH_DOCS,
        )[0]
        ok = ok and run.op(
            "delete.delete_docs", lambda: delete_docs(spark, d, self.deletes),
            role="delete",
        )[0]
        if not ok:
            return  # the index is incomplete; a read of it cannot be checked
        handles = []

        def open_handle():
            handles.append(open_index(spark, d))
            return handles[-1]

        s = sub_seed(run.seed, 4, r)
        # an append renames the merged layout away, so the read routes
        # as an unmerged index does
        topk_op(run, "retrieve.topk.fresh", None, query_frame(s, BATCH_QUERIES),
                self.write_oracle, s, "fresh", has_merged=False,
                open_handle=open_handle)
        for h in handles:
            h.close()

    def close(self) -> None:
        if self.handle is not None:
            self.handle.close()
            self.handle = None
        if self.pages is not None:
            self.pages.unpersist()
            self.pages = None


# -------------------------------------------------------------------- kernels

def write_kernel_tables(data_dir: str, seed: int) -> None:
    """``lineitem`` (order x part quantities) and ``documents`` parquet
    tables with the columns the entry's kernels read, generated from
    ``seed``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(data_dir, exist_ok=True)
    rng = np.random.default_rng(sub_seed(seed, 5))
    lines = rng.integers(1, 8, size=KERNEL_ORDERS)
    orders = np.repeat(np.arange(1, KERNEL_ORDERS + 1, dtype=np.int64), lines)
    parts = rng.integers(1, KERNEL_PARTS + 1, size=len(orders)).astype(np.int64)
    qty = rng.integers(1, 51, size=len(orders)).astype(np.float64)
    pq.write_table(pa.table({
        "l_orderkey": orders, "l_partkey": parts, "l_quantity": qty,
    }), os.path.join(data_dir, "lineitem.parquet"))
    docs = generate_pages_pandas(KERNEL_DOCS, vocab_size=KERNEL_VOCAB,
                                 seed=sub_seed(seed, 6))
    pq.write_table(pa.Table.from_pandas(docs, preserve_index=False),
                   os.path.join(data_dir, "documents.parquet"))


def kernel_input_rows(data_dir: str) -> dict[str, int]:
    import pyarrow.parquet as pq

    return {
        t: pq.ParquetFile(os.path.join(data_dir, f"{t}.parquet")).metadata.num_rows
        for t in ("lineitem", "documents")
    }


class Kernels:
    """The five ``__spark_entry__.queries()`` kernels ``cosine_topk``,
    ``rp3beta_topk``, ``bm25_topk``, ``minhash_signatures`` and
    ``simhash``, each written to the ``noop`` sink in fixed order, on
    tables generated from the seed."""

    READ_ROLES = ("query",)  # query_*: bm25_topk's queries
    WORK_ROLES = ("similarity", "query", "dedup")  # work_per_*: input rows
    SETUP_REPS = 3

    def __init__(self, run):
        self.run = run
        self.data_dir = os.path.join(run.work_dir, "kernel-data")

    def setup(self, rep: int) -> None:
        spark = self.run.spark
        write_kernel_tables(self.data_dir, self.run.seed)
        # the session warm-ups bench.py makes before its headline queries
        spark.read.parquet(f"{self.data_dir}/documents.parquet").count()
        spark.range(1000).selectExpr("sum(id)").collect()
        spark.range(1).mapInPandas(lambda it: it, "id long").count()

    def warm_up(self) -> None:
        """One pass of every kernel; its rows feed the output check."""
        import __spark_entry__ as E

        spark, qs = self.run.spark, E.queries()
        self.frames = {
            name: qs[name](spark, self.data_dir).toPandas()
            for name, *_ in KERNEL_OPS
        }

    def prepare_oracle(self) -> None:
        import __spark_entry__ as E

        sql = E.oracle_sql()
        self.ok, digests = {}, {}
        for name, _span, _table, topk in KERNEL_OPS:
            want = oracles.duckdb_oracle(
                self.data_dir, ["lineitem", "documents"], sql[name]
            )
            got = self.frames[name]
            self.ok[name] = oracles.frames_match(got, want) or (
                topk is not None
                and oracles.topk_frames_match(got, want, *topk)
            )
            digests[name] = {"engine": oracles.digest(got),
                             "oracle": oracles.digest(want)}
        self.run.extra["kernel_digests"] = digests
        self.rows = kernel_input_rows(self.data_dir)
        self.frames = None

    def round(self, r: int) -> None:
        import __spark_entry__ as E

        run, qs = self.run, E.queries()
        for name, span, table, _topk in KERNEL_OPS:

            def body(name=name):
                df = qs[name](run.spark, self.data_dir)
                df.write.format("noop").mode("overwrite").save()
                run.note_plan(df)

            # bm25_topk asks one query per 25th document
            queries = KERNEL_DOCS // 25 if name == "bm25_topk" else 0
            run.op(span, body, role=span.split(".")[0],
                   check=lambda _r, name=name: self.ok[name],
                   items=self.rows[table], queries=queries)

    def close(self) -> None:
        pass


WORKLOADS = {"fulltext": Fulltext, "kernels": Kernels}
