"""Deduplication operators for large-scale training-data pipelines.

All of these are compositions of built-in DataFrame ops (joins, windows,
aggregates) — no UDFs — so every one of them has an exact ANSI-SQL oracle
twin and scales through Catalyst/AQE:

* ``dedup_exact``        — hash-groupBy exact duplicate clustering
* ``word_shingles``      — word n-gram shingling (map-side Arrow kernel;
  windowed-``lead`` SQL twin pinned by test)
* ``ngram_jaccard_pairs``— exact n-gram Jaccard similarity join
* ``minhash_signatures`` / ``minhash_lsh_pairs`` — MinHash + banded LSH
* ``simhash``            — per-doc SimHash value + near-dup pairs by
  Hamming distance (``bit_count(xor)``)

Scale notes: the shingle self-join is the quadratic danger zone — LSH
(banding) is the scale path and the exact Jaccard join is the verifier run
on LSH candidates only (pass ``candidates``, which prunes the join input
*before* the intersection aggregate). Hash functions are explicit integer
polynomials over md5-derived shingle/term ids, so results are
engine-independent (the identical expression runs in ANSI SQL) and the id
assignment is a pure per-row projection — no global window, no shuffle, no
driver state. A 56-bit id pair (two md5 substrings) feeds each hash so the
effective universe stays far above the 31-bit modulus.
"""

from __future__ import annotations

import hashlib

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from similaripy_spark.fulltext.tokenizer import arrow_tokens

# deterministic LCG-style constants (Knuth multiplicative hashing)
_HA = 2654435761
_HB = 40503
_PRIME = 2038074743  # < 2^31, keeps a*x+b inside int64
_M31 = 2147483647  # Mersenne prime 2^31-1 (MINSTD modulus)


def _hash_pair(col):
    """(x1, x2): two independent 28-bit integer ids from md5 of a string.

    Pure projection (no shuffle) and engine-independent: the ANSI-SQL twin is
    ``CAST('0x' || substr(md5(s), 1, 7) AS BIGINT)`` etc. Two 28-bit halves
    give a 56-bit effective universe while keeping every downstream
    ``a*x1 + c*x2 + b`` polynomial inside int64 (a, c < 2^31 ⇒ products
    < 2^59 each)."""
    x1 = F.conv(F.substring(F.md5(col), 1, 7), 16, 10).cast("long")
    x2 = F.conv(F.substring(F.md5(col), 9, 7), 16, 10).cast("long")
    return x1, x2


def _hash_pair_np(strings) -> tuple[np.ndarray, np.ndarray]:
    """numpy twin of ``_hash_pair`` over Python strings (hashlib md5 ≡
    Spark md5): the int64 arrays (x1, x2), one entry per string."""
    hexes = [hashlib.md5(s.encode("utf-8")).hexdigest() for s in strings]
    return (
        np.array([int(h[:7], 16) for h in hexes], np.int64),
        np.array([int(h[8:15], 16) for h in hexes], np.int64),
    )


def _hash60(col):
    """60-bit integer id from md5 (ANSI twin:
    ``CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)``); always positive."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _mix_bit(x1, x2, bit):
    """Pseudo-random bit g(term, bit) via MINSTD steps interleaved with
    xor-shifts over the (x1, x2) md5 id pair (pure int64 arithmetic —
    identical in any SQL engine; plain modular multiplication alone is too
    linear and collapses patterns)."""
    x = (x1 * 48271 + x2 * 16807 + (bit + 1) * 97) % _M31
    x = (x.bitwiseXOR(F.shiftright(x, 7)) * 48271) % _M31
    x = (x.bitwiseXOR(F.shiftright(x, 11)) * 16807) % _M31
    return x.bitwiseXOR(F.shiftright(x, 5)) % 2


def dedup_exact(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """→ (doc_id, canonical_id, group_size): canonical = min id per
    normalized-text md5 group; rows with group_size == 1 are unique."""
    h = F.md5(F.lower(F.col(text_col)))
    w = Window.partitionBy("text_hash")
    return (
        docs.select(F.col(id_col).alias("doc_id"), h.alias("text_hash"))
        .withColumn("canonical_id", F.min("doc_id").over(w))
        .withColumn("group_size", F.count("*").over(w))
        .select("doc_id", "canonical_id", "group_size")
    )


def require_one_row_per_doc(doc_ids, kernel: str) -> None:
    """Precondition of the Arrow text kernels (``word_shingles``,
    ``minhash_signatures``, ``winnow_fingerprints``, ``simhash``): each doc
    is ONE row. The kernels shingle, dedup, vote and take minima per row,
    which is only the per-doc result when no doc spans two rows. Checked
    per batch with one hash pass over its doc ids (O(batch)); a doc split
    across two batches or partitions is not detected."""
    import pandas as pd

    ids = pd.Index(doc_ids)
    if ids.has_duplicates:
        raise ValueError(
            f"{kernel} requires one row per doc: doc_id "
            f"{ids[ids.duplicated()][0]} is on more than one row; "
            "concatenate each doc's text first"
        )


def word_shingles(
    docs: DataFrame, n: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """→ distinct (doc_id, shingle) word n-grams.

    Round-6 physical plan: a doc's tokens arrive together in its own row,
    so shingling AND the per-doc dedup are computed inside one
    ``mapInArrow`` kernel — ZERO shuffles (the old windowed-lead plan
    exploded every token through a (doc_id, pos) window exchange and paid
    a global distinct exchange on the shingle stream; per-doc distinct IS
    global distinct because the key contains doc_id). Identical rows to
    the windowed-lead/distinct plan — parity-pinned by test and by the
    unchanged SQL oracle twins.

    Precondition: each doc is one row of ``docs`` (the per-row dedup is
    only the per-doc dedup then). It must hold globally; the kernel checks
    it per Arrow batch and raises ValueError on a repeated doc_id
    (``require_one_row_per_doc``)."""
    src = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    return src.mapInArrow(
        _word_shingles_kernel(int(n)), schema="doc_id long, shingle string"
    )


def _word_shingles_kernel(n: int):
    """Arrow kernel: (doc_id, text) batches → distinct (doc_id, shingle).
    Tokens from ``tokenizer.arrow_tokens`` (the same stream as
    tokenize_expr), n-gram assembly by object-array concatenation over
    positions whose full window stays inside one doc, per-doc dedup via
    one int64 unique pass over (doc, shingle-code)."""

    def kernel(batches):
        import pandas as pd
        import pyarrow as pa

        for b in batches:
            if b.num_rows == 0:
                continue
            doc_ids, doc_idx, flat = arrow_tokens(b)
            require_one_row_per_doc(doc_ids, "word_shingles")
            nt = len(doc_idx)
            if nt < n:
                continue
            tok = np.asarray(flat.to_pylist(), dtype=object)
            sh = tok[: nt - n + 1].copy()
            for i in range(1, n):
                sh = sh + " "
                sh = sh + tok[i: nt - n + 1 + i]
            # a shingle is valid only when its whole window is in one doc
            valid = doc_idx[: nt - n + 1] == doc_idx[n - 1:]
            sh, sdoc = sh[valid], doc_idx[: nt - n + 1][valid]
            if len(sh) == 0:
                continue
            codes, uniques = pd.factorize(pd.Series(sh), sort=False)
            ukey = np.unique(sdoc * np.int64(max(len(uniques), 1)) + codes)
            u_doc = ukey // max(len(uniques), 1)
            u_code = ukey % max(len(uniques), 1)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(doc_ids[u_doc], type=pa.int64()),
                    pa.array(uniques.take(u_code), type=pa.string()),
                ],
                names=["doc_id", "shingle"],
            )

    return kernel


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """→ (doc_a, doc_b, jaccard) for pairs with n-gram Jaccard ≥ threshold.

    Without ``candidates`` this is the exact similarity self-join (quadratic
    in co-shingled docs — verifier-scale only); pass the LSH candidate pairs
    to make it the scale-path verification step.
    """
    sh = word_shingles(docs, n, text_col, id_col)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))

    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    if candidates is not None:
        # Verification mode: drive the intersection FROM the candidate pairs
        # so cost is linear in Σ_pairs |shingles(doc_a)| — the all-pairs
        # shingle self-join never materializes.
        cand = candidates.select("doc_a", "doc_b").distinct()
        inter = (
            cand.join(a, "doc_a")
            .join(b, ["doc_b", "shingle"], "left_semi")
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("inter"))
        )
    else:
        inter = (
            a.join(b, "shingle")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("inter"))
        )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("sa"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("sb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sa") + F.col("sb") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_signatures(
    docs: DataFrame,
    n_hashes: int = 32,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """→ (doc_id, h, minhash): h-th MinHash of the doc's shingle set with
    h_i(x1, x2) = (a_i·x1 + c_i·x2 + b_i) mod P over the md5 id pair —
    a_i/b_i/c_i fixed integer polynomials of i, everything inside int64.

    Round-6 physical plan: FULLY map-side — a doc's shingle set is known
    inside the shingling kernel, so the md5 id pair, the n_hashes
    polynomials and the per-doc mins all run in the same ``mapInArrow``
    pass with ZERO shuffles (the prior plan shipped the shingle strings
    back to the JVM for an n_hashes-min groupBy + unpivot). Identical
    integer arithmetic (hashlib md5 ≡ Spark md5; the polynomial and the
    min are exact int64) — pinned against the JVM expression pipeline by
    test and by the unchanged DuckDB oracle.

    Precondition: each doc is one row of ``docs``, as for
    ``word_shingles`` (whose kernel this one runs): a doc split over two
    rows would emit two signatures. It must hold globally and is checked
    per Arrow batch only (ValueError on a repeated doc_id)."""
    src = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    return src.mapInArrow(
        _minhash_arrow_kernel(int(n), int(n_hashes)),
        schema="doc_id long, h int, minhash long",
    )


def _minhash_arrow_kernel(n: int, n_hashes: int):
    """Arrow kernel: (doc_id, text) batches → (doc_id, h, minhash).
    Builds the distinct per-doc shingle sets with the word-shingle kernel
    machinery, hashes each DISTINCT shingle once, evaluates the n_hashes
    polynomials over the (V × H) grid and scatters per-doc minima with
    one np.minimum.at."""
    a = np.array(
        [(i * 2 + 1) * _HA % _PRIME for i in range(n_hashes)], np.int64
    )
    bco = np.array([i * _HB + 7 for i in range(n_hashes)], np.int64)
    c = np.array(
        [(i * 2 + 2) * _HA % _PRIME for i in range(n_hashes)], np.int64
    )
    shingler = _word_shingles_kernel(n)

    def kernel(batches):
        import pyarrow as pa

        for sh_batch in shingler(batches):
            u_doc_ids = sh_batch.column(0).to_numpy(zero_copy_only=False)
            shingles = sh_batch.column(1).to_pylist()
            # distinct shingles within the (already per-doc-distinct) rows
            uniq: dict[str, int] = {}
            codes = np.fromiter(
                (uniq.setdefault(s, len(uniq)) for s in shingles),
                count=len(shingles), dtype=np.int64,
            )
            x1, x2 = _hash_pair_np(uniq)
            hv = (a * x1[:, None] + c * x2[:, None] + bco) % _PRIME
            # per-doc minima: compact doc index over this shingle batch
            docs_u, doc_pos = np.unique(u_doc_ids, return_inverse=True)
            grid = np.full((len(docs_u), n_hashes), np.iinfo(np.int64).max,
                           dtype=np.int64)
            np.minimum.at(grid, doc_pos, hv[codes])
            nd = len(docs_u)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(docs_u, n_hashes), type=pa.int64()),
                    pa.array(
                        np.tile(
                            np.arange(n_hashes, dtype=np.int32), nd
                        ),
                        type=pa.int32(),
                    ),
                    pa.array(grid.reshape(-1), type=pa.int64()),
                ],
                names=["doc_id", "h", "minhash"],
            )

    return kernel


def minhash_lsh_pairs(
    docs: DataFrame,
    n_hashes: int = 32,
    bands: int = 8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Banded LSH: docs agreeing on ALL rows of any band become candidate
    pairs → (doc_a, doc_b). The band signature is an ordered concat of the
    band's minhashes; the pair join is on (band, signature) — the classic
    shingle→minhash→band→bucket-join pipeline, no quadratic step."""
    if n_hashes % bands:
        # a silent remainder would create an extra SHORT band (index ==
        # bands) whose few rows fire on far weaker agreement than the
        # caller's (bands, rows) S-curve math promises
        raise ValueError(
            f"n_hashes ({n_hashes}) must be divisible by bands ({bands})"
        )
    rows_per_band = n_hashes // bands
    sig = minhash_signatures(docs, n_hashes, n, text_col, id_col).withColumn(
        "band", (F.col("h") / rows_per_band).cast("int")
    )
    band_sig = sig.groupBy("doc_id", "band").agg(
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("h"), F.col("minhash")))
                ),
                lambda s: s["minhash"].cast("string"),
            ),
        ).alias("sig")
    )
    a = band_sig.select(
        F.col("doc_id").alias("doc_a"), "band", "sig"
    )
    b = band_sig.select(
        F.col("doc_id").alias("doc_b"), "band", "sig"
    )
    return (
        a.join(b, ["band", "sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def simhash(
    docs: DataFrame,
    bits: int = 64,
    n: int = 1,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """→ (doc_id, simhash): tf-weighted SimHash over md5-derived term ids
    (pure projection — no dictionary window/join); bit j set iff
    Σ_terms tf·(g(term,j) ? +1 : −1) > 0 with g = the xor-shift/MINSTD mix
    in ``_mix_bit`` — engine-independent.

    Executed as ONE groupBy pass with `bits` sum-aggregates (no bit-table
    crossJoin: that materializes bits× the tf rows and re-evaluates the md5
    ids under the collapsed join projection), then one bit-combine
    expression; fully map-side-combinable.

    ``n > 1`` hashes DISTINCT word n-gram SHINGLES (word_shingles, which
    dedups — so weights are binary) instead of tf-weighted unigrams:
    order-sensitive SimHash, scrambled documents stop hashing
    near-identical. The parameter was previously accepted and silently
    ignored.

    Round-6 physical plan: the unigram path is FULLY map-side — a doc's
    tokens arrive together in its own row, so tokenize, per-doc tf, the
    md5 ids, the per-bit mix and the signed-sum bit votes all run inside
    one ``mapInArrow`` kernel with ZERO shuffles and no `bits`-wide JVM
    aggregate (whose 48-plus-function expression tree dominated the old
    stage). Identical output by construction: the kernel evaluates the
    SAME integer arithmetic (hashlib md5 == Spark md5; the mix chain is
    pure int64; signed tf sums are exact) — pinned against the JVM
    expression path by test.

    Precondition: each doc is one row of ``docs`` (the kernel sums each
    row's votes into its own signature). It must hold globally; the
    unigram kernel checks it per Arrow batch and raises ValueError on a
    repeated doc_id (``require_one_row_per_doc``), and ``n > 1`` inherits
    the same check from ``word_shingles``."""
    if n > 1:
        toks = word_shingles(
            docs, n=n, text_col=text_col, id_col=id_col
        ).select(F.col("doc_id"), F.col("shingle").alias("term"))
        tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
        x1, x2 = _hash_pair(F.col("term"))
        tf = tf.select("doc_id", "tf", x1.alias("x1"), x2.alias("x2"))
        aggs = []
        for b in range(bits):
            g = _mix_bit(F.col("x1"), F.col("x2"), F.lit(b).cast("long"))
            signed = F.when(g == 1, F.col("tf")).otherwise(-F.col("tf"))
            aggs.append(F.sum(signed).alias(f"_s{b}"))
        per_doc = tf.groupBy("doc_id").agg(*aggs)
        sim = F.lit(0).cast("long")
        for b in range(bits):
            # bit 63 wraps to Long.MIN_VALUE, matching shiftleft(1L, 63)
            bitval = (1 << b) if b < 63 else -(1 << 63)
            sim = sim + F.when(
                F.col(f"_s{b}") > 0, F.lit(bitval).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        return per_doc.select("doc_id", sim.alias("simhash"))
    src = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    return src.mapInArrow(
        _simhash_arrow_kernel(int(bits)), schema="doc_id long, simhash long"
    )


def _simhash_arrow_kernel(bits: int):
    """Arrow kernel: (doc_id, text) batches → (doc_id, simhash). Exact
    twin of the JVM expression pipeline (tokenize_expr ≡ lower+regex split
    with empties dropped; _hash_pair ≡ md5 hex substrings; _mix_bit ≡ the
    MINSTD/xor-shift chain in int64), vectorized: md5 runs once per
    DISTINCT term per batch, the mix chain once per (distinct term × bit),
    and the per-doc signed votes are one np.add.at scatter."""
    bitvals = np.array(
        [(1 << b) if b < 63 else -(1 << 63) for b in range(bits)],
        dtype=np.int64,
    )
    bit_c = (np.arange(bits, dtype=np.int64) + 1) * 97

    def kernel(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            doc_ids, doc_idx, flat = arrow_tokens(b)
            require_one_row_per_doc(doc_ids, "simhash")
            if len(doc_idx) == 0:
                continue
            denc = pc.dictionary_encode(flat)
            codes = denc.indices.to_numpy(zero_copy_only=False).astype(
                np.int64
            )
            terms = denc.dictionary.to_pylist()
            V = max(len(terms), 1)
            # per-(doc, term) tf via one int64 unique pass
            key = doc_idx * V + codes
            ukey, tf = np.unique(key, return_counts=True)
            u_doc = ukey // V
            u_code = ukey % V
            # md5 id pair per DISTINCT term
            x1, x2 = _hash_pair_np(terms)
            # the mix chain over (V × bits), int64 throughout (== _mix_bit)
            x = (x1[:, None] * 48271 + x2[:, None] * 16807 + bit_c) % _M31
            x = ((x ^ (x >> 7)) * 48271) % _M31
            x = ((x ^ (x >> 11)) * 16807) % _M31
            g = (x ^ (x >> 5)) % 2
            sign = np.where(g == 1, np.int64(1), np.int64(-1))
            # signed votes scattered into the (doc × bits) grid
            grid = np.zeros((n, bits), dtype=np.int64)
            np.add.at(grid, u_doc, tf.astype(np.int64)[:, None] * sign[u_code])
            sim = ((grid > 0) * bitvals).sum(axis=1, dtype=np.int64)
            # only docs with ≥1 token appear (matches the groupBy plan)
            present = np.unique(doc_idx)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(doc_ids[present], type=pa.int64()),
                    pa.array(sim[present], type=pa.int64()),
                ],
                names=["doc_id", "simhash"],
            )

    return kernel


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    bits: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """→ (doc_a, doc_b, hamming ≤ max_hamming) via bit_count(a XOR b).
    Prefilter: the hash is split into ``max_hamming + 1`` contiguous blocks;
    pairs must share at least one block (pigeonhole: ≤ max_hamming differing
    bits across max_hamming+1 blocks ⇒ some block is identical) — the
    standard SimHash block-permutation trick, keeping the join linear-ish.
    The block count is derived from max_hamming so the prefilter is sound
    for ANY max_hamming < bits (the fixed-4-quadrant variant silently loses
    pairs for max_hamming ≥ 4)."""
    n_blocks = max_hamming + 1
    if n_blocks > bits:
        raise ValueError(
            f"max_hamming={max_hamming} needs {n_blocks} blocks > bits={bits}"
        )
    sh = simhash(docs, bits, 1, text_col, id_col)
    base, rem = divmod(bits, n_blocks)
    block_exprs, off = [], 0
    for q in range(n_blocks):
        width = base + (1 if q < rem else 0)
        v = F.shiftrightunsigned(F.col("simhash"), off)
        if width < 63:
            v = v.bitwiseAND(F.lit((1 << width) - 1))
        block_exprs.append(F.struct(F.lit(q).alias("q"), v.alias("qv")))
        off += width
    quads = sh.select(
        "doc_id",
        "simhash",
        F.explode(F.array(*block_exprs)).alias("quad"),
    ).select("doc_id", "simhash", F.col("quad.q"), F.col("quad.qv"))
    a = quads.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha"), "q", "qv"
    )
    b = quads.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb"), "q", "qv"
    )
    return (
        a.join(b, ["q", "qv"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "ha", "hb")
        .distinct()
        .withColumn(
            "hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def dedup_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_rounds: int = 50,
) -> DataFrame:
    """Connected components over a candidate-pair relation →
    ``(doc_id, component)`` where ``component`` is the smallest doc id
    reachable through the pair graph (every node in the input appears
    exactly once; singletons never enter ``pairs`` so callers union them
    back via :func:`dedup_keep_canonical`).

    Alternating large-star / small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC 2014): each round is two
    groupBy-min + join passes over the edge list — no per-node neighbor
    arrays are ever materialized (hub nodes with millions of duplicates
    stay a groupBy aggregate, not a ``collect_list``), and convergence is
    O(log^2 n) rounds on adversarial graphs, 2–3 rounds on the near-clique
    graphs duplicate detection actually produces. Each round ends in
    ``localCheckpoint`` to truncate the iterative lineage; on a real
    cluster prefer ``spark.sparkContext.setCheckpointDir`` + reliable
    checkpoints for executor-loss safety at very large component counts.

    Exactly SQL-expressible (recursive CTE computing min reachable label),
    so it sits under the hash-exact oracle gate like the rest of the dedup
    family.
    """
    edges = (
        pairs.select(
            F.col(a_col).cast("long").alias("u"),
            F.col(b_col).cast("long").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _large_star(e: DataFrame) -> DataFrame:
        # symmetric neighborhoods; connect strictly-larger neighbors to
        # min(N(u) ∪ {u})
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(
            F.min(F.least(F.col("v"), F.col("u"))).alias("m")
        )
        return (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        # direct every edge high→low, then connect each node's smaller
        # neighbors (and itself) to the neighborhood min
        d = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        ).distinct()
        mins = d.groupBy("u").agg(F.min("v").alias("m"))
        moved = (
            d.join(mins, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        kept = mins.select(F.col("u"), F.col("m").alias("v"))
        return moved.union(kept).filter(F.col("u") != F.col("v")).distinct()

    def _sig(e: DataFrame):
        # order-independent edge-set checksum: exact set-equality surrogate
        # that costs one aggregate, not an exceptAll shuffle
        row = e.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("x"),
        ).collect()[0]
        return row["n"], row["x"]

    converged = False
    for _ in range(max_rounds):
        stepped = _small_star(_large_star(edges)).localCheckpoint(eager=True)
        if _sig(stepped) == _sig(edges):
            edges = stepped
            converged = True
            break
        edges = stepped
    if not converged:
        # an un-converged edge set is NOT a star forest — a node can
        # carry two different component labels, silently corrupting
        # every downstream keep/drop decision. Loud beats wrong.
        raise RuntimeError(
            f"dedup_components did not reach a fixed point in "
            f"{max_rounds} rounds — raise max_rounds (contraction is "
            "O(log^2 n) rounds worst case)"
        )

    # fixed point is a star forest: u → component min; roots map to
    # themselves
    roots = edges.select(F.col("v").alias("u")).subtract(
        edges.select("u")
    ).select(F.col("u").alias("doc_id"), F.col("u").alias("component"))
    members = edges.select(
        F.col("u").alias("doc_id"), F.col("v").alias("component")
    )
    return members.union(roots).distinct()


def dedup_keep_canonical(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Survivor selection: resolve the pair graph into components and keep
    one document per component (the smallest id — deterministic, join-free
    tie rule). → ``(doc_id, n_dups)`` over ALL input docs: docs outside the
    pair graph survive with ``n_dups = 0``; a component's canonical doc
    carries ``n_dups = |component| - 1``. The components relation is tiny
    next to a 100-TB corpus (only docs with at least one candidate pair),
    so the survivor join broadcasts/AQE-converts."""
    comp = dedup_components(pairs, a_col=a_col, b_col=b_col)
    canon = comp.groupBy("component").agg(
        F.min("doc_id").alias("keep_id"),
        (F.count("*") - F.lit(1)).alias("n_dups"),
    )
    losers = comp.join(
        canon.select("component", "keep_id"), "component"
    ).filter(F.col("doc_id") != F.col("keep_id")).select("doc_id")
    return (
        docs.select(F.col(id_col).cast("long").alias("doc_id"))
        .join(losers, "doc_id", "left_anti")
        .join(
            canon.select(F.col("keep_id").alias("doc_id"), "n_dups"),
            "doc_id",
            "left",
        )
        .select("doc_id", F.coalesce("n_dups", F.lit(0)).alias("n_dups"))
    )
