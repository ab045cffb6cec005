"""Tests for the training-data pipeline operators: dedup family, ANN,
text analysis — python oracles + real testdata."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from similaripy_spark.operators import ann, dedup, textstats

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def dup_docs(spark, documents):
    """documents + planted exact and near duplicates."""
    base = documents.limit(40).select("doc_id", "text")
    exact = base.filter("doc_id < 5").select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text"
    )
    near = base.filter("doc_id >= 5").filter("doc_id < 10").select(
        (F.col("doc_id") + 20000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz")).alias("text"),
    )
    return base.union(exact).union(near).cache()


def test_dedup_exact(spark, dup_docs):
    out = dedup.dedup_exact(dup_docs).toPandas().set_index("doc_id")
    for d in range(5):
        assert out.loc[d + 10000, "canonical_id"] == d
        assert out.loc[d + 10000, "group_size"] == 2
        assert out.loc[d, "canonical_id"] == d
    assert out.loc[20005, "group_size"] == 1  # near-dup is NOT exact-dup


def _py_shingles(text, n=3):
    import re

    toks = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def test_ngram_jaccard_pairs(spark, dup_docs):
    out = dedup.ngram_jaccard_pairs(dup_docs, n=3, threshold=0.5).toPandas()
    texts = {r["doc_id"]: r["text"] for r in dup_docs.collect()}
    got = {(r.doc_a, r.doc_b): r.jaccard for r in out.itertuples()}
    # exact dups -> jaccard 1.0; near dups -> high but < 1
    for d in range(5):
        assert got[(d, d + 10000)] == 1.0
    for d in range(5, 10):
        j = got[(d, d + 20000)]
        s1, s2 = _py_shingles(texts[d]), _py_shingles(texts[d + 20000])
        expected = len(s1 & s2) / len(s1 | s2)
        np.testing.assert_allclose(j, expected, rtol=1e-9)
    # every reported pair is correct against the python oracle
    for (a, b), j in got.items():
        s1, s2 = _py_shingles(texts[a]), _py_shingles(texts[b])
        np.testing.assert_allclose(j, len(s1 & s2) / len(s1 | s2), rtol=1e-9)


def test_ngram_jaccard_candidates_mode_matches_full(spark, dup_docs):
    """The candidate-driven verifier path returns exactly the unrestricted
    result restricted to the candidate pairs."""
    full = dedup.ngram_jaccard_pairs(dup_docs, n=3, threshold=0.3).toPandas()
    want = {(r.doc_a, r.doc_b): r.jaccard for r in full.itertuples()}
    cand = spark.createDataFrame(
        [(int(a), int(b)) for a, b in want] + [(0, 99999)],  # + a non-pair
        "doc_a long, doc_b long",
    )
    out = dedup.ngram_jaccard_pairs(
        dup_docs, n=3, threshold=0.3, candidates=cand
    ).toPandas()
    got = {(r.doc_a, r.doc_b): r.jaccard for r in out.itertuples()}
    assert got.keys() == want.keys()
    for pair, j in want.items():
        np.testing.assert_allclose(got[pair], j, rtol=1e-12)


def test_minhash_lsh_finds_planted_dups(spark, dup_docs):
    pairs = dedup.minhash_lsh_pairs(dup_docs, n_hashes=32, bands=8).toPandas()
    got = {(r.doc_a, r.doc_b) for r in pairs.itertuples()}
    for d in range(5):
        assert (d, d + 10000) in got  # identical docs always collide
    # near-dups (J ~ 0.97): extremely likely; assert at least 4/5 found
    found = sum((d, d + 20000) in got for d in range(5, 10))
    assert found >= 4
    # signatures deterministic across runs
    s1 = dedup.minhash_signatures(dup_docs, 8).orderBy("doc_id", "h").collect()
    s2 = dedup.minhash_signatures(dup_docs, 8).orderBy("doc_id", "h").collect()
    assert s1 == s2


def test_minhash_kernel_matches_jvm_expressions(spark, dup_docs):
    """The round-6 map-side MinHash kernel must reproduce the JVM
    md5-polynomial/min-aggregate pipeline value-for-value."""
    from similaripy_spark.operators.dedup import (
        _HA,
        _HB,
        _PRIME,
        _hash_pair,
    )

    n_hashes = 8
    got = {
        (r.doc_id, r.h): r.minhash
        for r in dedup.minhash_signatures(dup_docs, n_hashes).collect()
    }
    sh = dedup.word_shingles(dup_docs, 3)
    x1e, x2e = _hash_pair(F.col("shingle"))
    ids = sh.select("doc_id", x1e.alias("x1"), x2e.alias("x2"))
    x1, x2 = F.col("x1"), F.col("x2")
    aggs = []
    for i in range(n_hashes):
        a = (i * 2 + 1) * _HA % _PRIME
        b = i * _HB + 7
        c = (i * 2 + 2) * _HA % _PRIME
        aggs.append(F.min((a * x1 + c * x2 + b) % _PRIME).alias(f"_m{i}"))
    per_doc = ids.groupBy("doc_id").agg(*aggs).collect()
    want = {
        (r.doc_id, i): r[f"_m{i}"]
        for r in per_doc
        for i in range(n_hashes)
    }
    assert got == want


def test_word_shingles_kernel_matches_windowed_lead(spark, dup_docs):
    """The round-6 map-side shingle kernel must reproduce the windowed-
    lead + distinct plan row-for-row (including n=1 and short docs)."""
    from pyspark.sql import Window

    from similaripy_spark.fulltext.tokenizer import tokenize_expr

    docs = dup_docs.union(
        spark.createDataFrame(
            [(90001, "one two"), (90002, ""), (90003, "  solo ")],
            "doc_id long, text string",
        )
    )
    for n in (1, 3):
        got = {
            (r.doc_id, r.shingle)
            for r in dedup.word_shingles(docs, n=n).collect()
        }
        toks = docs.select(
            "doc_id",
            F.posexplode(tokenize_expr(F.col("text"))).alias("pos", "term"),
        )
        w = Window.partitionBy("doc_id").orderBy("pos")
        parts = [F.col("term")] + [
            F.lead("term", i).over(w) for i in range(1, n)
        ]
        sh = toks.withColumn("shingle", F.concat_ws(" ", *parts))
        if n > 1:
            sh = sh.withColumn(
                "_c", F.lead("term", n - 1).over(w).isNotNull()
            ).filter(F.col("_c"))
        want = {
            (r.doc_id, r.shingle)
            for r in sh.select("doc_id", "shingle").distinct().collect()
        }
        assert got == want


def test_simhash_arrow_kernel_matches_jvm_expressions(spark, dup_docs):
    """The round-6 map-side Arrow simhash must reproduce the JVM
    expression pipeline (md5 id pair -> _mix_bit votes -> signed tf sums)
    bit-for-bit, including the bits=64 sign-bit wrap."""
    from similaripy_spark.fulltext.postings import build_postings
    from similaripy_spark.operators.dedup import _hash_pair, _mix_bit

    for bits in (16, 64):
        got = {
            r.doc_id: r.simhash
            for r in dedup.simhash(dup_docs, bits=bits).collect()
        }
        tf = build_postings(dup_docs.select("doc_id", "text")).select(
            "doc_id", "term", F.col("tf").cast("long").alias("tf")
        )
        x1, x2 = _hash_pair(F.col("term"))
        tf = tf.select("doc_id", "tf", x1.alias("x1"), x2.alias("x2"))
        aggs = []
        for b in range(bits):
            g = _mix_bit(F.col("x1"), F.col("x2"), F.lit(b).cast("long"))
            aggs.append(
                F.sum(
                    F.when(g == 1, F.col("tf")).otherwise(-F.col("tf"))
                ).alias(f"_s{b}")
            )
        per_doc = tf.groupBy("doc_id").agg(*aggs)
        sim = F.lit(0).cast("long")
        for b in range(bits):
            bitval = (1 << b) if b < 63 else -(1 << 63)
            sim = sim + F.when(
                F.col(f"_s{b}") > 0, F.lit(bitval).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        want = {
            r.doc_id: r.simhash
            for r in per_doc.select("doc_id", sim.alias("simhash")).collect()
        }
        assert got == want


def test_simhash_and_pairs(spark, dup_docs):
    sh = dedup.simhash(dup_docs).toPandas().set_index("doc_id")["simhash"]
    for d in range(5):
        assert sh[d] == sh[d + 10000]  # identical text -> identical simhash
    ham = lambda a, b: bin(int(a) ^ int(b)).count("1")
    for d in range(5, 10):
        assert ham(sh[d], sh[d + 20000]) <= 6  # one appended token
    pairs = dedup.simhash_pairs(dup_docs, max_hamming=6).toPandas()
    got = {(r.doc_a, r.doc_b) for r in pairs.itertuples()}
    for d in range(5):
        assert (d, d + 10000) in got


def test_ann_bruteforce_matches_numpy(spark, embeddings):
    sub = embeddings.filter("vec_id < 80")
    out = ann.ann_bruteforce_topk(sub, k=5).toPandas()
    E = np.array(
        sub.orderBy("vec_id").select("embedding").toPandas()["embedding"].tolist(),
        dtype=np.float64,
    )
    norms = np.linalg.norm(E, axis=1)
    S = (E @ E.T) / np.outer(norms, norms)
    np.fill_diagonal(S, -np.inf)
    for row in range(80):
        mine = out[out.row == row].sort_values("value", ascending=False)
        exp_order = np.lexsort((np.arange(80), -S[row]))[:5]
        assert set(mine["col"]) == set(exp_order.tolist()), f"row {row}"
        np.testing.assert_allclose(
            sorted(mine["value"], reverse=True),
            sorted(S[row][exp_order], reverse=True),
            rtol=1e-6,
        )


def test_ann_blocked_gemm_matches_broadcast_gemm(spark, embeddings):
    """The distributed blocked GEMM returns exactly the broadcast-GEMM
    result, including deterministic tie resolution, even with tiny blocks
    (many grid cells)."""
    sub = embeddings.filter("vec_id < 120")
    a = ann.ann_bruteforce_topk(sub, k=5).toPandas()
    b = ann.ann_bruteforce_topk(
        sub, k=5, method="blocked", index_block_rows=17, query_block_rows=29
    ).toPandas()
    a = a.sort_values(["row", "col"]).reset_index(drop=True)
    b = b.sort_values(["row", "col"]).reset_index(drop=True)
    assert (a.row == b.row).all() and (a.col == b.col).all()
    np.testing.assert_allclose(a.value, b.value, rtol=1e-12)


def test_ann_gemm_never_collects_above_cap(spark, embeddings, monkeypatch):
    """Above broadcast_cap_rows the gemm path must not move the index side
    to the driver: pin it by making toPandas explode."""
    from pyspark.sql import DataFrame as _DF

    sub = embeddings.filter("vec_id < 100")
    want = ann.ann_bruteforce_topk(sub, k=3).toPandas()

    def _boom(self):
        raise AssertionError("driver-side collect above the broadcast cap")

    monkeypatch.setattr(_DF, "toPandas", _boom)
    got_df = ann.ann_bruteforce_topk(sub, k=3, broadcast_cap_rows=10)
    got = pd.DataFrame(
        [r.asDict() for r in got_df.collect()]
    )
    a = want.sort_values(["row", "col"]).reset_index(drop=True)
    b = got.sort_values(["row", "col"]).reset_index(drop=True)
    assert (a.row.to_numpy() == b.row.to_numpy()).all()
    assert (a.col.to_numpy() == b.col.to_numpy()).all()
    np.testing.assert_allclose(a.value, b.value, rtol=1e-12)


def test_token_stats_and_quality(spark, documents):
    out = textstats.token_stats(documents.limit(20)).toPandas().set_index("doc_id")
    texts = {r["doc_id"]: r["text"] for r in documents.limit(20).collect()}
    import re

    for d, t in texts.items():
        toks = [x for x in re.split(r"[^a-z0-9]+", t.lower()) if x]
        assert out.loc[d, "n_tokens"] == len(toks)
        assert out.loc[d, "n_chars"] == len(t)
        np.testing.assert_allclose(
            out.loc[d, "uniq_ratio"], len(set(toks)) / len(toks), rtol=1e-9
        )
    q = textstats.quality_score(documents.limit(20)).toPandas()
    assert ((q["quality"] >= 0) & (q["quality"] <= 1)).all()


def test_langid(spark):
    samples = [
        (0, "the quick brown fox and the lazy dog of the north"),
        (1, "der schnelle braune fuchs und die faule katze nicht ein"),
        (2, "le renard brun et rapide dans les bois est une merveille"),
        (3, "el zorro marrón rápido y el perro perezoso es una maravilla"),
    ]
    df = spark.createDataFrame(samples, "doc_id long, text string")
    sw = textstats.stopword_lang_guess(df).toPandas().set_index("doc_id")["lang_guess"]
    assert sw[0] == "en" and sw[1] == "de" and sw[2] == "fr" and sw[3] == "es"


def test_winnow_kernel_matches_jvm_windows(spark, dup_docs):
    """The round-6 map-side winnowing kernel must reproduce the JVM
    posexplode + lead-polynomial + rolling-min + distinct pipeline
    row-for-row, for both default and non-default (kgram, window)."""
    from pyspark.sql import Window

    from similaripy_spark.fulltext.tokenizer import tokenize_expr
    from similaripy_spark.operators.textstats import _HB, _PRIME

    docs = dup_docs.union(
        spark.createDataFrame(
            [(91001, "just four words here"), (91002, "")],
            "doc_id long, text string",
        )
    )
    for kgram, window in ((5, 4), (3, 2)):
        got = {
            (r.doc_id, r.fingerprint)
            for r in textstats.winnow_fingerprints(
                docs, kgram=kgram, window=window
            ).collect()
        }
        toks = docs.select(
            "doc_id",
            F.posexplode(tokenize_expr(F.col("text"))).alias("pos", "term"),
        ).withColumn(
            "term_id",
            F.conv(F.substring(F.md5("term"), 1, 15), 16, 10).cast("long"),
        )
        w = Window.partitionBy("doc_id").orderBy("pos")
        h = F.col("term_id") % _PRIME
        for i in range(1, kgram):
            h = (h * _HB + F.lead("term_id", i).over(w)) % _PRIME
        kg = (
            toks.withColumn("kg_hash", h)
            .withColumn(
                "_c", F.lead("term_id", kgram - 1).over(w).isNotNull()
            )
            .filter(F.col("_c"))
        )
        wmin = (
            Window.partitionBy("doc_id")
            .orderBy("pos")
            .rowsBetween(0, window - 1)
        )
        want = {
            (r.doc_id, r.fingerprint)
            for r in kg.withColumn("win_min", F.min("kg_hash").over(wmin))
            .select("doc_id", F.col("win_min").alias("fingerprint"))
            .distinct()
            .collect()
        }
        assert got == want


def test_winnow_fingerprints(spark, dup_docs):
    fp = textstats.winnow_fingerprints(dup_docs).toPandas()
    by_doc = fp.groupby("doc_id")["fingerprint"].apply(set)
    for d in range(5):  # identical docs -> identical fingerprint sets
        assert by_doc[d] == by_doc[d + 10000]
    # determinism
    fp2 = textstats.winnow_fingerprints(dup_docs).toPandas()
    assert set(map(tuple, fp.values.tolist())) == set(map(tuple, fp2.values.tolist()))


@pytest.mark.parametrize("kernel", [
    lambda d: dedup.word_shingles(d, n=2),
    lambda d: dedup.minhash_signatures(d, 4, n=2),
    lambda d: textstats.winnow_fingerprints(d, kgram=2, window=2),
    lambda d: dedup.simhash(d),
], ids=["word_shingles", "minhash_signatures", "winnow_fingerprints",
        "simhash"])
def test_text_kernels_reject_multi_row_docs(spark, kernel):
    """The per-row dedup of the Arrow text kernels is only per-doc when
    each doc is one row: a batch carrying a doc_id twice must raise, not
    emit a second shingle set / signature / fingerprint set / simhash
    for it."""
    rows = [(1, "alpha beta gamma"), (2, "beta gamma delta"),
            (1, "gamma delta epsilon")]
    multi = spark.createDataFrame(rows, "doc_id long, text string")
    with pytest.raises(Exception, match="requires one row per doc"):
        kernel(multi.coalesce(1)).collect()
    # the same text as one row per doc passes
    one = multi.groupBy("doc_id").agg(
        F.concat_ws(" ", F.collect_list("text")).alias("text")
    )
    assert {r["doc_id"] for r in kernel(one.coalesce(1)).collect()} == {1, 2}


def test_extract_html_text(spark):
    """HTML→text extraction: script/style blocks dropped, tags stripped,
    entities decoded in XML order (&amp; last), whitespace collapsed; binary
    and string html columns both accepted."""
    from similaripy_spark.operators.textstats import extract_html_text

    cases = [
        (0, "<html><body><p>Hello   world</p></body></html>", "Hello world"),
        (1, "<script>var a = '<p>';</script>text", "text"),
        (2, "<style type='text/css'>p { color: red }</style>x", "x"),
        (3, "a&amp;b &lt;tag&gt; &quot;q&quot; &#39;s&#39;",
         "a&b <tag> \"q\" 's'"),
        (4, "&amp;lt; stays literal", "&lt; stays literal"),
        (5, "<ScRiPt>u</sCrIpT>case<BR/>insensitive", "case insensitive"),
        (6, "<script>\nmulti\nline\n</script>kept", "kept"),
        # \x0B (vertical tab): Java \s would collapse it but RE2's \s would
        # not — the chain uses an explicit class so Spark and the DuckDB
        # oracle twin agree byte-for-byte.
        (7, "a\x0bb\tc", "a b c"),
    ]
    df = spark.createDataFrame(
        [(i, h) for i, h, _ in cases], "doc_id long, html string"
    )
    got = {
        r["doc_id"]: r["text"]
        for r in extract_html_text(df).collect()
    }
    for i, _, want in cases:
        assert got[i] == want, (i, got[i], want)

    # binary html column (the pages-table type) decodes identically
    bdf = spark.createDataFrame(
        [(i, h.encode()) for i, h, _ in cases], "doc_id long, html binary"
    )
    bgot = {r["doc_id"]: r["text"] for r in extract_html_text(bdf).collect()}
    assert bgot == got

    # generated pages round-trip: extraction recovers the text column
    from similaripy_spark.sources.pages import generate_pages
    from pyspark.sql import functions as F

    pages = generate_pages(spark, 100, vocab_size=200)
    n_bad = (
        extract_html_text(pages)
        .join(pages.select("doc_id", F.col("text").alias("want")), "doc_id")
        .filter(F.col("text") != F.col("want"))
        .count()
    )
    assert n_bad == 0


def test_pq_refine_all_equals_bruteforce(spark, embeddings):
    """PQ with a shortlist covering the whole corpus is EXACT brute force —
    the ADC order only selects candidates, the refine step re-scores them
    with true vectors under the same deterministic tie rule."""
    import pandas as pd

    sub = embeddings.filter("vec_id < 120")
    n = sub.count()
    want = (
        ann.ann_bruteforce_topk(sub, k=5)
        .toPandas().sort_values(["row", "col"]).reset_index(drop=True)
    )
    got = (
        ann.pq_topk(sub, k=5, m=8, nbits=4, refine=-(-n // 5))
        .toPandas().sort_values(["row", "col"]).reset_index(drop=True)
    )
    assert list(got["row"]) == list(want["row"])
    assert list(got["col"]) == list(want["col"])
    np.testing.assert_allclose(got["value"], want["value"], rtol=1e-9)


def test_pq_recall_and_determinism(spark, embeddings):
    """Default shortlist (refine=4): measure recall@10 vs brute force —
    approximate by design, must clear a floor; two fits produce identical
    codebooks (hash init, no RNG) and identical codes."""
    sub = embeddings.filter("vec_id < 400")
    exact = ann.ann_bruteforce_topk(sub, k=10).toPandas()
    books1 = ann.pq_fit(sub, m=8, nbits=6)
    books2 = ann.pq_fit(sub, m=8, nbits=6)
    np.testing.assert_array_equal(
        np.nan_to_num(books1, nan=-1), np.nan_to_num(books2, nan=-1)
    )
    c1 = ann.pq_encode(sub, books1).toPandas().sort_values("id")
    c2 = ann.pq_encode(sub, books2).toPandas().sort_values("id")
    assert [list(x) for x in c1["codes"]] == [list(x) for x in c2["codes"]]
    approx = ann.pq_topk(sub, k=10, refine=4, codebooks=books1).toPandas()
    truth = {
        r: set(g["col"]) for r, g in exact.groupby("row")
    }
    hits = sum(
        len(set(g["col"]) & truth[r]) for r, g in approx.groupby("row")
    )
    total = sum(len(v) for v in truth.values())
    recall = hits / total
    assert recall >= 0.6, recall


def test_pq_encode_shape_and_range(spark, embeddings):
    sub = embeddings.filter("vec_id < 100")
    books = ann.pq_fit(sub, m=8, nbits=4)
    assert books.shape == (8, 16, 8)  # 64-dim embeddings
    codes = ann.pq_encode(sub, books).toPandas()
    assert len(codes) == 100
    arr = np.array([list(c) for c in codes["codes"]])
    assert arr.shape == (100, 8)
    assert arr.min() >= 0 and arr.max() < 16


def _uf_components(edges):
    """Union-find reference: node -> min reachable node."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _pairs_df(spark, edges):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "doc_a long, doc_b long"
    )


def test_dedup_components_random_graphs(spark):
    rng = np.random.default_rng(42)
    for trial in range(4):
        n_nodes = int(rng.integers(10, 60))
        n_edges = int(rng.integers(5, 80))
        edges = [
            (int(rng.integers(0, n_nodes)), int(rng.integers(0, n_nodes)))
            for _ in range(n_edges)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            continue
        want = _uf_components(edges)
        got = {
            r["doc_id"]: r["component"]
            for r in dedup.dedup_components(_pairs_df(spark, edges)).collect()
        }
        assert got == want, f"trial {trial}: {got} != {want}"


def test_dedup_components_long_chain(spark):
    # path graph 0-1-2-...-25: worst case for naive propagation; the
    # star-contraction rounds must still collapse it to component 0
    edges = [(i, i + 1) for i in range(25)]
    got = dedup.dedup_components(_pairs_df(spark, edges)).collect()
    assert len(got) == 26
    assert all(r["component"] == 0 for r in got)


def test_dedup_components_empty_and_swapped(spark):
    empty = _pairs_df(spark, []).filter("doc_a > doc_b")
    assert dedup.dedup_components(empty).count() == 0
    # orientation-independent: (a,b) vs (b,a) give the same labels
    e = [(3, 9), (9, 1), (7, 5)]
    lab1 = {
        (r["doc_id"], r["component"])
        for r in dedup.dedup_components(_pairs_df(spark, e)).collect()
    }
    lab2 = {
        (r["doc_id"], r["component"])
        for r in dedup.dedup_components(
            _pairs_df(spark, [(b, a) for a, b in e])
        ).collect()
    }
    assert lab1 == lab2 == {(3, 1), (9, 1), (1, 1), (7, 5), (5, 5)}


def test_dedup_keep_canonical(spark, dup_docs):
    pairs = dedup.minhash_lsh_pairs(dup_docs, n_hashes=16, bands=8)
    kept = dedup.dedup_keep_canonical(dup_docs, pairs).collect()
    kept_ids = {r["doc_id"] for r in kept}
    # every doc survives exactly once or is dropped; planted exact dups
    # (doc_id+10000 copies of 0..4) must lose to their originals
    assert kept_ids <= {r["doc_id"] for r in dup_docs.collect()}
    for d in range(5):
        assert d in kept_ids and (d + 10000) not in kept_ids
    # survivor count + dup counts conserve the corpus
    total = dup_docs.count()
    assert len(kept) + sum(r["n_dups"] for r in kept) == total
    # docs with no candidate pair survive with n_dups = 0
    paired = {r["doc_a"] for r in pairs.collect()} | {
        r["doc_b"] for r in pairs.collect()
    }
    for r in kept:
        if r["doc_id"] not in paired:
            assert r["n_dups"] == 0
