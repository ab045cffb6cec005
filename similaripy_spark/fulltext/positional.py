"""Positional sidecar index: per-term token POSITIONS next to the postings.

The round-5 phrase path (retrieve.phrase_topk) is candidate-driven: AND
intersection over the main index, then a token-adjacency regexp against the
pages relation. That keeps the committed index format untouched, but (a) it
needs the raw crawl table at serve time, (b) verification cost is linear in
the candidate DOCUMENT TEXT, not in the term's occurrence count, and (c) an
all-stopword phrase degenerates to regexp-scanning every co-occurring page.
The classical fix — what Lucene stores when a field is indexed with
positions — is a positional index. This module adds one as a SELF-CONTAINED
SIDECAR under ``<index_dir>/positions/``: the committed main index is never
rewritten, existing readers never see a schema change, and the sidecar can
be (re)built at any time from the pages relation.

Layout (parquet, one row per posting block):

    shard int32 | term string | block_id int32 | n int32 |
    first_doc int64 | max_doc int64 |
    doc_deltas binary  -- delta+varint docIDs, as in the main index
    tfs binary         -- varint per-posting occurrence counts, as in the
                          main index
    pos_deltas binary  -- varint positions: per posting, first value is the
                          ABSOLUTE token offset of the first occurrence,
                          the rest are gaps (standard positional posting
                          compression; positions are token indices in
                          the tokenizer's stream, 0-based)

The block columns are the main index's block format, written by the same
encoder (``codec.block_layout``) and read by the same bulk decoder
(``codec.decode_blocks``): built at the index's ``block_size``, a sidecar's
``(shard, term, block_id)`` blocks carry the main index's exact ``n``,
``first_doc``, ``max_doc``, ``doc_deltas`` and ``tfs`` (pinned by test).
``tfs`` rides in the sidecar too so a block is decodable WITHOUT a join:
tf values are the sub-list lengths that split the ``pos_deltas`` stream.
Sharding follows the main index (``shard = doc_id // shard_size`` from
meta.json), so candidate→positions lookups are shard-aligned and block
``[first_doc, max_doc]`` ranges support the same doc-range skipping the
main index uses.

Phrase verification is fully RELATIONAL (Catalyst does the matching): decode
the phrase terms' positions to long form ``(doc_id, term, pos)`` — the only
Python, an Arrow-batched vectorized kernel — then

    join phrase offsets (query_id, offset, term)  on term
    base = pos - offset
    group by (query_id, doc_id, base):
        count(distinct offset) == phrase length  ⇒  the phrase occurs with
        its first token at position ``base``

which is exactly "token j of the phrase occurs at base+j for every j", the
same semantics as the adjacency regexp (rank parity is pinned in
tests/test_positional.py). Repeated phrase tokens ("a b a") fall out
naturally: each offset must be matched independently.

Scale: the sidecar build is one tokenize pass (``tokenizer.arrow_tokens``
in a mapInArrow kernel, no per-row Python) + one hash repartition by shard
— the same shape as the main segment job. Query-time cost is proportional
to the PHRASE TERMS' posting sizes in the shards that hold candidates
(term-pushdown on the parquet scan, block doc-range skipping against the
candidates' per-shard doc ranges), never to document text size.

Staleness: ``_meta.json`` records the main index's ``index_build.epoch_pin``
(``n_epochs``, ``n_docs``) at sidecar build time. ``append_to_index`` grows
the corpus without touching the sidecar, so positional phrase raises
``StalePositionsError`` (listing both epochs) instead of silently missing
appended docs — rebuild with :func:`build_positions`. Tombstoned (deleted)
docs need no sidecar handling: candidates come from the main index, which
filters them at decode time, and verification only ever LOOKS AT
candidates.

Reference parity: similaripy has no phrase or positional structure (its
kernels are bag-of-words CSR products) — this is engine extension surface
in the same category as append/delete, required by a fulltext stack.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window as W

from similaripy_spark.fulltext import codec
from similaripy_spark.fulltext.commit import (
    LocalFSCommitProtocol,
    resolve_artifact,
)
from similaripy_spark.fulltext.index_build import epoch_pin, read_meta
from similaripy_spark.fulltext.tokenizer import (
    TOKEN_SPLIT_RE,
    arrow_tokens,
    tokenize_expr,
)

POS_POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("tf", T.IntegerType(), False),
        T.StructField("pos_deltas", T.BinaryType(), False),
    ]
)

POS_SEGMENT_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("block_id", T.IntegerType(), False),
        T.StructField("n", T.IntegerType(), False),
        T.StructField("first_doc", T.LongType(), False),
        T.StructField("max_doc", T.LongType(), False),
        T.StructField("doc_deltas", T.BinaryType(), False),
        T.StructField("tfs", T.BinaryType(), False),
        T.StructField("pos_deltas", T.BinaryType(), False),
    ]
)


class StalePositionsError(RuntimeError):
    """The positional sidecar predates the index's current epoch/corpus."""


# ---------------------------------------------------------------------------
# build side
# ---------------------------------------------------------------------------


def _pos_postings_arrow(batches):
    """pages(doc_id, text) → (doc_id, term, tf, pos_deltas) — the positional
    twin of postings._count_terms_arrow. Tokens from
    ``tokenizer.arrow_tokens``; positions are per-doc token indices (empty
    tokens removed BEFORE numbering, matching tokenize_expr's filtered
    stream), grouping via one stable int64 lexsort; all position lists
    varint-encoded in ONE codec pass with per-group byte slices."""
    import pyarrow as pa
    import pyarrow.compute as pc

    for b in batches:
        if b.num_rows == 0:
            continue
        doc_ids, doc_idx, flat = arrow_tokens(b)
        nt = len(doc_idx)
        if nt == 0:
            continue
        # token position within its doc: doc_idx is non-decreasing (tokens
        # arrive in doc order), so positions restart at each doc boundary
        starts = np.flatnonzero(np.diff(doc_idx, prepend=doc_idx[0] - 1))
        counts = np.diff(np.append(starts, nt))
        pos = np.arange(nt, dtype=np.int64) - np.repeat(starts, counts)
        denc = pc.dictionary_encode(flat)
        codes = denc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        # group by (doc, term); stable sort keeps positions ascending
        order = np.lexsort((pos, codes, doc_idx))
        g_doc, g_code, g_pos = doc_idx[order], codes[order], pos[order]
        change = np.empty(nt, dtype=bool)
        change[0] = True
        change[1:] = (g_code[1:] != g_code[:-1]) | (g_doc[1:] != g_doc[:-1])
        gstart = np.flatnonzero(change)
        tf = np.diff(np.append(gstart, nt))
        # per-group delta encoding: first value absolute, rest gaps
        deltas = np.empty(nt, dtype=np.int64)
        deltas[0] = g_pos[0]
        np.subtract(g_pos[1:], g_pos[:-1], out=deltas[1:])
        deltas[gstart] = g_pos[gstart]
        payload = codec.varint_slices(deltas, gstart, np.append(gstart[1:], nt))
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(doc_ids[g_doc[gstart]], type=pa.int64()),
                denc.dictionary.take(
                    pa.array(g_code[gstart], type=pa.int64())
                ).cast(pa.string()),
                pa.array(tf.astype(np.int32), type=pa.int32()),
                pa.array(payload, type=pa.binary()),
            ],
            names=["doc_id", "term", "tf", "pos_deltas"],
        )


def _encode_pos_partition(batches, block_size: int):
    """(shard, doc_id, term, tf, pos_deltas) partition → positional block
    rows. Same shape as index_build's lexsort encoder: buffer, dictionary-
    encode terms, one np.lexsort by (shard, term-code, doc_id), then the
    index's own block cut and doc/tf encode (``codec.block_layout``); the
    per-posting position payloads concatenate into the block payload (they
    are already independently decodable sub-streams — tf values give the
    split)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    got = [b for b in batches if b.num_rows]
    if not got:
        return
    t = pa.Table.from_batches(got)
    shard = t.column("shard").to_numpy(zero_copy_only=False).astype(np.int32)
    doc = t.column("doc_id").to_numpy(zero_copy_only=False).astype(np.int64)
    tf = t.column("tf").to_numpy(zero_copy_only=False).astype(np.int64)
    term = t.column("term").combine_chunks()
    pos_payload = t.column("pos_deltas").combine_chunks()
    codes = pc.dictionary_encode(term).indices.to_numpy(zero_copy_only=False)
    order = np.lexsort((doc, codes, shard))
    shard, doc, tf, codes = shard[order], doc[order], tf[order], codes[order]
    term = term.take(pa.array(order))
    pos_payload = pos_payload.take(pa.array(order))
    if isinstance(pos_payload, pa.ChunkedArray):
        pos_payload = pos_payload.combine_chunks()
    if isinstance(pos_payload, pa.ChunkedArray):  # 1-chunk CA on some versions
        pos_payload = (
            pos_payload.chunk(0)
            if pos_payload.num_chunks
            else pa.array([], type=pa.binary())
        )
    n = len(doc)
    starts, ends, block_id, dd, tt = codec.block_layout(
        shard, codes, doc, tf, block_size
    )
    # per-posting position payloads → one contiguous (offsets, data) pair
    # straight from the Arrow binary buffers, so a block's payload is a
    # single byte slice (no per-posting Python join). buffers() of a
    # BinaryArray = [validity, int32 offsets, data]; honor the array's own
    # slice offset.
    a0 = pos_payload.offset
    poff = np.frombuffer(
        pos_payload.buffers()[1], dtype=np.int32
    )[a0:a0 + n + 1].astype(np.int64)
    _pdata = pos_payload.buffers()[2]
    pbytes = _pdata.to_pybytes() if _pdata is not None else b""
    pp = [pbytes[poff[s]:poff[e]] for s, e in zip(starts, ends)]
    yield pa.RecordBatch.from_arrays(
        [
            pa.array(shard[starts], type=pa.int32()),
            term.take(pa.array(starts)).cast(pa.string()),
            pa.array(block_id, type=pa.int32()),
            pa.array((ends - starts).astype(np.int32), type=pa.int32()),
            pa.array(doc[starts], type=pa.int64()),
            pa.array(doc[ends - 1], type=pa.int64()),
            pa.array(dd, type=pa.binary()),
            pa.array(tt, type=pa.binary()),
            pa.array(pp, type=pa.binary()),
        ],
        names=[f.name for f in POS_SEGMENT_SCHEMA.fields],
    )


def _encode_position_blocks(
    pages: DataFrame,
    shard_size: int,
    block_size: int,
    n_partitions: int,
) -> DataFrame:
    """pages → positional block rows: one tokenize pass (Arrow kernel),
    hash repartition by the main index's shard mapping, lexsort encode."""
    pos_postings = pages.select("doc_id", "text").mapInArrow(
        _pos_postings_arrow, schema=POS_POSTINGS_SCHEMA
    ).withColumn(
        "shard", (F.col("doc_id") / F.lit(shard_size)).cast("int")
    )
    return pos_postings.repartition(n_partitions, "shard").mapInArrow(
        lambda it: _encode_pos_partition(it, block_size),
        schema=POS_SEGMENT_SCHEMA,
    )


def build_positions(
    pages: DataFrame,
    index_dir: str,
    block_size: int = 128,
    lang: str | None = None,
    n_partitions: int | None = None,
) -> dict:
    """Build (or rebuild) the positional sidecar for a committed index.

    One tokenize pass over ``pages`` (Arrow kernel), hash repartition by
    the MAIN index's shard mapping, lexsort block encode, atomic
    stage→commit publish of ``<index_dir>/positions`` with ``_meta.json``
    recording the main index's epoch/corpus identity. Idempotent: a rebuild
    replaces the sidecar in one pointer swap. Returns the sidecar meta."""
    meta = read_meta(index_dir)
    shard_size = int(meta["shard_size"])
    if lang is not None:
        pages = pages.filter(F.col("lang") == lang)
    # cheap corpus cross-check (append_positions validates its delta two
    # ways; the full build previously validated nothing): a pages relation
    # MISSING indexed docs would produce a sidecar stamped fresh whose
    # phrase verification silently reports false negatives forever.
    # Extra rows (unfiltered supersets, empty docs) are harmless — only
    # the too-few direction is dangerous.
    n_pages = pages.count()
    if n_pages < int(meta["n_docs"]):
        raise ValueError(
            f"pages holds {n_pages} docs but the index covers "
            f"{int(meta['n_docs'])} — a sidecar built from a partial "
            "crawl silently misses phrase matches; pass the same pages "
            "relation (and lang filter) the index was built from"
        )
    if n_partitions is None:
        n_partitions = max(int(meta["n_shards"]), 1)
    blocks = _encode_position_blocks(
        pages, shard_size, block_size, n_partitions
    )
    commit = LocalFSCommitProtocol()
    out = os.path.join(index_dir, "positions")
    staged = commit.stage_path(out)
    blocks.write.mode("overwrite").parquet(staged)
    side_meta = {
        "block_size": int(block_size),
        "n_epochs": int(meta.get("n_epochs", 1)),
        "n_docs": int(meta["n_docs"]),
        "n_shards": int(meta["n_shards"]),
        "shard_size": shard_size,
        "tokenizer": TOKEN_SPLIT_RE,
    }
    with open(os.path.join(staged, "_meta.json"), "w") as f:
        json.dump(side_meta, f)
    commit.commit_dir(staged, out)
    return side_meta


def append_positions(
    delta_pages: DataFrame,
    index_dir: str,
    n_partitions: int | None = None,
) -> dict:
    """Catch the sidecar up to an appended index WITHOUT re-tokenizing the
    committed corpus.

    ``append_to_index`` only ever opens NEW shards (committed shards are
    immutable), and the sidecar is doc-sharded the same way — so the delta
    encodes independently: no existing block is ever merged or rewritten.
    Publish is the same atomic stage→swap as a rebuild, with the committed
    parquet files HARDLINKED into the staged dir (zero copy; on the
    object-store protocol the new version's manifest would list the old
    objects instead). ``delta_pages`` must be exactly the pages appended to
    the main index since the sidecar was built; that is cross-checked two
    ways — the delta row count must close the sidecar→index doc-count gap
    exactly, and every delta doc must land in a shard the sidecar has never
    seen. Returns the merged sidecar meta (now fresh)."""
    meta = read_meta(index_dir)
    if not has_positions(index_dir):
        raise StalePositionsError(
            f"no positional sidecar under {index_dir}/positions — nothing "
            "to append to; run positional.build_positions first"
        )
    side = positions_meta(index_dir)
    if epoch_pin(side) == epoch_pin(meta):
        raise ValueError("positional sidecar is already fresh — nothing to append")
    if int(side["shard_size"]) != int(meta["shard_size"]):
        raise ValueError(
            "sidecar shard_size differs from the index — rebuild with "
            "build_positions"
        )
    if "n_shards" not in side:
        raise ValueError(
            "sidecar predates shard tracking — rebuild with build_positions"
        )
    shard_size = int(meta["shard_size"])
    n_delta = delta_pages.count()
    gap = int(meta["n_docs"]) - int(side["n_docs"])
    if n_delta != gap:
        raise ValueError(
            f"delta has {n_delta} docs but the index grew by {gap} since "
            "the sidecar was built — pass exactly the appended pages, or "
            "rebuild with build_positions"
        )
    min_doc = delta_pages.agg(F.min("doc_id")).first()[0]
    if min_doc is None:
        raise ValueError("delta_pages is empty")
    if min_doc // shard_size < int(side["n_shards"]):
        raise ValueError(
            f"delta doc_ids reach into shard {min_doc // shard_size} but "
            f"the sidecar already covers shards < {side['n_shards']} — "
            "committed shards are immutable; rebuild with build_positions"
        )
    if n_partitions is None:
        n_partitions = max(int(meta["n_shards"]) - int(side["n_shards"]), 1)
    blocks = _encode_position_blocks(
        delta_pages, shard_size, int(side["block_size"]), n_partitions
    )
    commit = LocalFSCommitProtocol()
    out = os.path.join(index_dir, "positions")
    cur = positions_dir(index_dir)
    staged = commit.stage_path(out)
    delta_dir = staged + "__delta"
    if os.path.isdir(delta_dir):
        shutil.rmtree(delta_dir)
    blocks.write.mode("overwrite").parquet(delta_dir)
    os.makedirs(staged, exist_ok=True)
    epoch = int(meta.get("n_epochs", 1))
    for name in os.listdir(cur):
        if name.endswith(".parquet"):
            os.link(os.path.join(cur, name), os.path.join(staged, name))
    for name in os.listdir(delta_dir):
        if name.endswith(".parquet"):
            os.replace(
                os.path.join(delta_dir, name),
                os.path.join(staged, f"epoch{epoch:05d}-{name}"),
            )
    side_meta = {
        **{k: side[k] for k in side if k != "n_epochs"},
        "n_epochs": epoch,
        "n_docs": int(meta["n_docs"]),
        "n_shards": int(meta["n_shards"]),
    }
    with open(os.path.join(staged, "_meta.json"), "w") as f:
        json.dump(side_meta, f)
    commit.commit_dir(staged, out)
    shutil.rmtree(delta_dir, ignore_errors=True)
    return side_meta


# ---------------------------------------------------------------------------
# read / decode side
# ---------------------------------------------------------------------------


def positions_dir(index_dir: str) -> str:
    return resolve_artifact(os.path.join(index_dir, "positions"))


def has_positions(index_dir: str) -> bool:
    try:
        return os.path.exists(
            os.path.join(positions_dir(index_dir), "_meta.json")
        )
    except FileNotFoundError:
        return False


def positions_meta(index_dir: str) -> dict:
    with open(os.path.join(positions_dir(index_dir), "_meta.json")) as f:
        return json.load(f)


def check_positions_fresh(index_dir: str) -> dict:
    """Raise StalePositionsError when the sidecar predates the index's
    current epoch or corpus size (append_to_index grows both). Returns the
    sidecar meta when fresh."""
    if not has_positions(index_dir):
        raise StalePositionsError(
            f"no positional sidecar under {index_dir}/positions — run "
            "positional.build_positions(pages, index_dir) first"
        )
    side = positions_meta(index_dir)
    meta = read_meta(index_dir)
    cur, got = epoch_pin(meta), epoch_pin(side)
    if got != cur:
        raise StalePositionsError(
            f"positional sidecar built at epoch/docs {got} but the index "
            f"is at {cur} (append_to_index does not rewrite the sidecar) "
            "— rebuild with positional.build_positions"
        )
    return side


def read_positions(spark: SparkSession, index_dir: str) -> DataFrame:
    return spark.read.schema(POS_SEGMENT_SCHEMA).parquet(
        positions_dir(index_dir)
    )


def _decode_positions_arrow(batches):
    """Positional block rows → long form (doc_id, term, pos). The doc and
    tf columns through the index's bulk decoder (``codec.decode_blocks``),
    then one varint decode of the positions; absolute positions restored
    with the cross-group cumsum-rebase (codec.decode_doc_blocks' trick
    applied to per-POSTING groups)."""
    import pyarrow as pa

    for b in batches:
        if b.num_rows == 0:
            continue
        ns = b.column(b.schema.get_field_index("n")).to_numpy(
            zero_copy_only=False
        ).astype(np.int64)
        first = b.column(b.schema.get_field_index("first_doc")).to_numpy(
            zero_copy_only=False
        ).astype(np.int64)
        dd = b.column(b.schema.get_field_index("doc_deltas")).to_pylist()
        tt = b.column(b.schema.get_field_index("tfs")).to_pylist()
        pp = b.column(b.schema.get_field_index("pos_deltas")).to_pylist()
        docs, tfs = codec.decode_blocks(dd, tt, ns, first)
        total = int(tfs.sum())
        deltas = codec.decode_varints(b"".join(pp), total).astype(np.int64)
        # per-posting groups: lengths = tfs; rebase cumsum per group
        gstart = np.concatenate(([0], np.cumsum(tfs)[:-1]))
        cs = np.cumsum(deltas)
        base = deltas[gstart] - cs[gstart]
        pos = cs + np.repeat(base, tfs)
        doc_rep = np.repeat(docs, tfs)
        terms = b.column(b.schema.get_field_index("term"))
        # block term → repeat per posting (ns) → per occurrence (tfs)
        post_term_idx = np.repeat(np.arange(len(ns), dtype=np.int64), ns)
        occ_term_idx = np.repeat(post_term_idx, tfs)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(doc_rep, type=pa.int64()),
                terms.take(pa.array(occ_term_idx)).cast(pa.string()),
                pa.array(pos, type=pa.int64()),
            ],
            names=["doc_id", "term", "pos"],
        )


def decode_positions_long(blocks: DataFrame) -> DataFrame:
    """Filtered positional blocks → (doc_id, term, pos) long form."""
    return blocks.mapInArrow(
        _decode_positions_arrow, schema="doc_id long, term string, pos long"
    )


def _vocabulary(term_lists) -> list:
    """The distinct terms of the collected ``terms`` arrays, in first-seen
    order (a null array holds none)."""
    return list(dict.fromkeys(t for ts in term_lists for t in ts or ()))


def _positions_for(
    spark: SparkSession,
    index_dir: str,
    shard_size: int,
    terms: list,
    docs_rel: DataFrame,
) -> DataFrame:
    """Long-form positions restricted to a term list (the query
    vocabulary, collected to the driver: it is tiny) and a doc set:
    parquet predicate pushdown of the terms on the sidecar scan; block
    doc-range skipping against the doc set's per-shard [min, max] ranges;
    Arrow decode of the surviving blocks only."""
    blocks = read_positions(spark, index_dir).filter(
        F.col("term").isin(terms)
    )
    ranges = (
        docs_rel.select("doc_id")
        .withColumn(
            "shard", (F.col("doc_id") / F.lit(shard_size)).cast("int")
        )
        .groupBy("shard")
        .agg(F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi"))
    )
    blocks = blocks.join(
        F.broadcast(ranges),
        on=[
            blocks["shard"] == ranges["shard"],
            blocks["max_doc"] >= ranges["lo"],
            blocks["first_doc"] <= ranges["hi"],
        ],
    ).select(blocks["*"])
    return decode_positions_long(blocks)


def best_window_spans(
    spark: SparkSession,
    index_dir: str,
    pairs: DataFrame,
    queries: DataFrame,
    window: int = 8,
) -> DataFrame:
    """SNIPPET SPANS from stored positions alone: for each retrieved
    (query_id, doc_id) pair, the best highlight window — among windows of
    ``window`` tokens anchored at a query-term occurrence, the one
    covering the MOST DISTINCT query terms; ties broken by the smallest
    start. Anchoring at occurrences is lossless for the max (shifting a
    window's start right to its first contained occurrence never drops a
    term) and makes ``start`` the first highlighted token, which is what a
    snippet renderer wants.

    Relational end to end: occurrences come from the sidecar via the same
    term-pushdown + block doc-range skipping as phrase verification, then
    one self-join bounded by the window width counts distinct terms per
    anchor, and a row_number picks the argmax per pair. Cost is
    occurrences × (occurrences within ``window``) per pair — independent
    of document length.

    Returns (query_id, doc_id, start, end, n_terms): token offsets
    (0-based, build-tokenizer stream) of the first and last matched
    occurrence in the chosen window, and how many distinct query terms it
    covers. Pairs whose doc contains no query term yield no row."""
    from similaripy_spark.fulltext.tokenizer import tokenize_expr

    check_positions_fresh(index_dir)
    meta = read_meta(index_dir)
    if "terms" not in queries.columns:
        if "phrase" not in queries.columns:
            raise ValueError(
                "queries need a 'phrase' string column or a 'terms' array; "
                f"got {queries.columns}"
            )
        queries = queries.withColumn("terms", tokenize_expr(F.col("phrase")))
    qterms = queries.select(
        "query_id", F.explode("terms").alias("term")
    ).distinct()
    p = pairs.select("query_id", "doc_id")
    long = _positions_for(
        spark, index_dir, int(meta["shard_size"]),
        _vocabulary(r[0] for r in queries.select("terms").collect()), p,
    )
    occ = long.join(qterms, "term").join(p, ["query_id", "doc_id"], "left_semi")
    a = occ.select(
        "query_id", "doc_id", F.col("pos").alias("start")
    )
    b = occ.select(
        F.col("query_id").alias("qb"), F.col("doc_id").alias("db"),
        F.col("term").alias("tb"), F.col("pos").alias("pb"),
    )
    counted = (
        a.join(
            b,
            on=[
                a["query_id"] == b["qb"],
                a["doc_id"] == b["db"],
                b["pb"] >= a["start"],
                b["pb"] < a["start"] + F.lit(int(window)),
            ],
        )
        .groupBy("query_id", "doc_id", "start")
        .agg(
            F.countDistinct("tb").alias("n_terms"),
            F.max("pb").alias("end"),
        )
    )
    w = W.partitionBy("query_id", "doc_id").orderBy(
        F.col("n_terms").desc(), F.col("start").asc()
    )
    return (
        counted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", "doc_id", "start", "end", "n_terms")
    )


# ---------------------------------------------------------------------------
# positional phrase retrieval
# ---------------------------------------------------------------------------


def phrase_topk_pos(
    spark: SparkSession,
    index_dir: str,
    queries: DataFrame,
    k: int = 10,
    slop: int = 0,
) -> DataFrame:
    """Exact phrase top-k from the index + positional sidecar ALONE — no
    pages relation at serve time.

    1. Candidates: conjunctive AND retrieval over the phrase's distinct
       terms (every match — the per-shard cap is disabled), scored with the
       standard BM25 sum. Tombstones are already excluded here.
    2. Positions: the sidecar scan is term-pushed-down to the phrase terms
       and block-skipped against the candidates' per-shard doc ranges, then
       decoded to (doc_id, term, pos) by the Arrow kernel.
    3. Verification (relational): for ``slop=0``, join phrase offsets on
       term, ``base = pos - offset``, and a (query_id, doc_id, base) group
       where count(distinct offset) == phrase length is a phrase
       occurrence. For ``slop>0`` (ordered-window proximity — Lucene-style
       sloppy phrase with in-order terms): a doc matches when positions
       p_0 < p_1 < … < p_{n-1} exist for the phrase's tokens in order with
       p_{n-1} − p_0 ≤ (n−1) + slop, i.e. up to ``slop`` extra tokens may
       intervene anywhere in the span. ``slop=0`` under this definition IS
       exact adjacency (strictly increasing integers spanning n−1 are
       consecutive) — parity is pinned in tests. Verified with a GREEDY
       sequential min-join per phrase offset: for a fixed anchor p_0,
       taking each p_j as the smallest position of token j greater than
       p_{j-1} minimizes p_{n-1}, so a window exists iff the greedy end
       fits — each step is one join + min aggregate, n−1 steps total
       (phrases are short), every step bounded by the p_0+window filter.
    4. Standard global top-k tie rule (score DESC, doc_id ASC).

    Queries carry ``phrase`` (raw string, build-tokenized) or an ordered
    ``terms`` array. Raises StalePositionsError if the sidecar predates the
    index's current epoch (see module docstring)."""
    from similaripy_spark.fulltext.query import term_segments
    from similaripy_spark.fulltext.wand import segment_topk
    from similaripy_spark.operators.topk import top_k

    check_positions_fresh(index_dir)
    if "terms" not in queries.columns:
        if "phrase" not in queries.columns:
            raise ValueError(
                "phrase queries need a 'phrase' string column or an "
                f"ordered 'terms' array; got {queries.columns}"
            )
        queries = queries.withColumn("terms", tokenize_expr(F.col("phrase")))
    q = queries.filter(F.size("terms") > 0).select("query_id", "terms")
    meta = read_meta(index_dir)
    shard_size = int(meta["shard_size"])
    # one driver collect of the phrase rows: their vocabulary filters both
    # scans (only its blocks reach the kernel, so the kernel's df join is
    # query-sized, and only its positions are decoded) and their lengths
    # drive the slop sweep. A local query frame collects without a job.
    phrases = [r["terms"] for r in q.collect()]
    terms = _vocabulary(phrases)
    cand = segment_topk(
        term_segments(
            spark, index_dir,
            spark.createDataFrame(
                pd.DataFrame({"term": terms}), "term string"
            ),
        ),
        q,
        k=1 << 62,
        mode="and",
        index_dir=index_dir,
        deep_paging=False,
    ).select("query_id", "doc_id", "score")
    # phrase offsets: (query_id, offset, term); n_off = phrase length
    offsets = q.select(
        "query_id", F.posexplode("terms").alias("offset", "term")
    )
    n_off = q.select(
        "query_id", F.size("terms").alias("n_off")
    )
    long = _positions_for(spark, index_dir, shard_size, terms, cand)
    occ = long.join(offsets, "term").join(
        cand.select("query_id", "doc_id"), ["query_id", "doc_id"],
        "left_semi",
    )
    if slop == 0:
        m = occ.withColumn("base", F.col("pos") - F.col("offset"))
        matched = (
            m.groupBy("query_id", "doc_id", "base")
            .agg(F.countDistinct("offset").alias("hit"))
            .join(n_off, "query_id")
            .filter(F.col("hit") == F.col("n_off"))
            .select("query_id", "doc_id")
            .distinct()
        )
    else:
        # greedy ordered-window sweep, one relational step per offset;
        # phrase lengths vary per query, so run each length group through
        # its own (n-1)-step chain
        occ = occ.join(n_off, "query_id")
        lengths = sorted({len(ph) for ph in phrases})
        parts = []
        for n in lengths:
            window = n - 1 + slop
            occ_n = occ.filter(F.col("n_off") == n)
            cur = occ_n.filter(F.col("offset") == 0).select(
                "query_id", "doc_id",
                F.col("pos").alias("p0"), F.col("pos").alias("prev"),
            )
            for j in range(1, n):
                pj = occ_n.filter(F.col("offset") == j).select(
                    "query_id", "doc_id", F.col("pos").alias("pj")
                )
                cur = (
                    cur.join(pj, ["query_id", "doc_id"])
                    .filter(
                        (F.col("pj") > F.col("prev"))
                        & (F.col("pj") <= F.col("p0") + F.lit(window))
                    )
                    .groupBy("query_id", "doc_id", "p0")
                    .agg(F.min("pj").alias("prev"))
                )
            parts.append(cur.select("query_id", "doc_id").distinct())
        if not parts:
            # empty batch / all-empty phrases: the slop=0 path returns
            # empty gracefully, this one indexed parts[0]
            return spark.createDataFrame(
                [], "query_id long, doc_id long, score double, rank int"
            )
        matched = parts[0]
        for p in parts[1:]:
            matched = matched.unionByName(p)
        matched = matched.distinct()
    verified = matched.join(cand, ["query_id", "doc_id"])
    out = top_k(
        verified, k, group="query_id", order_value="score",
        tiebreak="doc_id", keep_rank=True,
    )
    return out.select("query_id", "doc_id", "score", "rank")
