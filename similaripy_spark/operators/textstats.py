"""Text analysis operators: token counting, quality scoring, language ID,
document fingerprinting.

``token_stats`` / ``quality_score`` / ``stopword_lang_guess`` /
``winnow_fingerprints`` are pure column-expression pipelines with exact SQL
oracle twins (the stopword profiles are public knowledge, embedded as
constants).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from similaripy_spark.fulltext.tokenizer import arrow_tokens, tokenize_expr
from similaripy_spark.operators.dedup import (
    _HB,
    _PRIME,
    require_one_row_per_doc,
)

# small public stopword marker sets (top function words per language)
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "for", "was"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "den"],
    "fr": ["le", "la", "et", "les", "des", "est", "un", "une", "que", "dans"],
    "es": ["el", "la", "los", "las", "es", "una", "que", "por", "con"],
    "it": ["il", "di", "che", "la", "per", "una", "sono", "con", "del"],
}


def extract_html_text(
    pages: DataFrame, html_col: str = "html", id_col: str = "doc_id"
) -> DataFrame:
    """html (binary or string) → extracted text; the input_hint's extraction
    stage (pages carry html:binary alongside the extracted text:string —
    this operator is how the text column is produced from the html one).

    Pure Catalyst expressions, deliberately RE2-compatible (no
    backreferences) so the SQL oracle twin runs the identical chain in
    DuckDB: drop <script>/<style> blocks (separate non-greedy passes — RE2
    has no \\1), strip remaining tags, decode the five predefined XML
    entities (&amp; last, so '&amp;lt;' decodes to the literal '&lt;'),
    collapse whitespace, trim. Full DOM parsing would need a parser
    library; this is the exact-contract core that covers
    machine-generated page bodies.
    """
    x = F.col(html_col).cast("string")
    x = F.regexp_replace(x, r"(?is)<script[^>]*>.*?</script>", " ")
    x = F.regexp_replace(x, r"(?is)<style[^>]*>.*?</style>", " ")
    x = F.regexp_replace(x, r"<[^>]*>", " ")
    for ent, ch in (("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'),
                    ("&#39;", "'"), ("&amp;", "&")):
        x = F.replace(x, F.lit(ent), F.lit(ch))
    # Explicit whitespace class, not \s: Java's \s includes vertical tab
    # (\x0B) but RE2's does not — the explicit class keeps Spark and the
    # DuckDB oracle twin byte-identical on pages containing \x0B.
    x = F.trim(F.regexp_replace(x, "[ \\t\\n\\x0B\\f\\r]+", " "))
    return pages.select(F.col(id_col).alias("doc_id"), x.alias("text"))


def token_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-doc token statistics: regex tokens, whitespace tokens, chars,
    avg token length, distinct-token ratio, plus a BPE-ish subword-count
    estimate: Σ ceil(len(token)/4) + punctuation marks — the public ~4
    chars/subword rule of thumb, integer-exact (engine-independent)."""
    toks = tokenize_expr(F.col(text_col))
    ws = F.filter(F.split(F.col(text_col), " "), lambda t: t != F.lit(""))
    punct = F.length(
        F.regexp_replace(F.col(text_col), r"[A-Za-z0-9\s]", "")
    ).cast("long")
    subword = (
        F.aggregate(
            F.transform(
                toks, lambda t: ((F.length(t) + F.lit(3)) / 4).cast("long")
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        + punct
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(toks).alias("n_tokens"),
        F.size(ws).alias("n_ws_tokens"),
        F.length(text_col).alias("n_chars"),
        punct.alias("n_punct"),
        subword.alias("n_subword_est"),
        (
            F.aggregate(
                F.transform(toks, lambda t: F.length(t).cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / F.greatest(F.size(toks), F.lit(1))
        ).alias("avg_token_len"),
        (
            F.size(F.array_distinct(toks))
            / F.greatest(F.size(toks), F.lit(1)).cast("double")
        ).alias("uniq_ratio"),
    )


def quality_score(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Heuristic quality score in [0,1]: length band, alpha ratio,
    distinct-token ratio — the usual web-text pre-filter features."""
    st = token_stats(docs, text_col, id_col)
    length_score = F.when(
        (F.col("n_tokens") >= 50) & (F.col("n_tokens") <= 1000), 1.0
    ).when(F.col("n_tokens") < 5, 0.0).otherwise(0.5)
    alpha_ratio = F.col("n_tokens") / F.greatest(F.col("n_ws_tokens"), F.lit(1))
    uniq = F.col("uniq_ratio")
    score = (0.4 * length_score + 0.3 * F.least(alpha_ratio, F.lit(1.0)) + 0.3 * uniq)
    return st.select(
        "doc_id", "n_tokens", "uniq_ratio", score.alias("quality")
    )


def stopword_lang_guess(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """SQL-oracle-able language guess: argmax of stopword-marker hit counts
    (ties → lexicographically smallest language code; no hits → 'und')."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokenize_expr(F.col(text_col))).alias("term"),
    )
    counts = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.col("term").isin(words), 1).otherwise(0)
            ).alias(f"c_{lang}")
            for lang, words in sorted(STOPWORDS.items())
        ]
    )
    langs = sorted(STOPWORDS)
    best = F.greatest(*[F.col(f"c_{l}") for l in langs])
    guess = F.lit("und")
    for l in reversed(langs):  # earlier langs win ties → apply in reverse
        guess = F.when((best > 0) & (F.col(f"c_{l}") == best), F.lit(l)).otherwise(guess)
    return counts.select("doc_id", guess.alias("lang_guess"), best.alias("hits"))


def winnow_fingerprints(
    docs: DataFrame,
    kgram: int = 5,
    window: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al., SIGMOD 2003, simplified):
    polynomial rolling hash over md5-derived 60-bit token ids (a pure
    projection — no dictionary window/join, no shuffle for id assignment),
    keep the distinct window-minimum hashes per doc → (doc_id, fingerprint).
    The ANSI twin of the id is CAST('0x' || substr(md5(term),1,15) AS BIGINT);
    the rolling polynomial reduces mod P first so every intermediate stays
    inside int64 (h < 2^31, h·B < 2^47, + id < 2^60).

    Round-6 physical plan: FULLY map-side — a doc's tokens arrive together
    in its own row, so tokenize, the md5 term ids, the rolling k-gram
    polynomial, the per-doc window minima and the distinct all run inside
    one ``mapInArrow`` kernel with ZERO shuffles (the old plan exploded
    every token through a (doc_id, pos) window exchange plus a global
    distinct). Identical int64 arithmetic (hashlib md5 ≡ Spark md5);
    parity-pinned against the JVM window pipeline by test.

    Precondition: each doc is one row of ``docs`` (the per-row distinct is
    only the per-doc distinct then). It must hold globally; the kernel
    checks it per Arrow batch and raises ValueError on a repeated doc_id
    (``dedup.require_one_row_per_doc``)."""
    src = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    return src.mapInArrow(
        _winnow_arrow_kernel(int(kgram), int(window)),
        schema="doc_id long, fingerprint long",
    )


def _winnow_arrow_kernel(kgram: int, window: int):
    """Arrow kernel: (doc_id, text) batches → distinct (doc_id, win-min
    fingerprint). md5 once per DISTINCT term per batch; the rolling
    polynomial and the width-`window` minima are shifted-array reductions
    masked at doc boundaries (the JVM twin's windows are partitioned by
    doc, so a window never crosses into the next doc)."""
    import hashlib

    def kernel(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        for b in batches:
            if b.num_rows == 0:
                continue
            doc_ids, doc_idx, flat = arrow_tokens(b)
            require_one_row_per_doc(doc_ids, "winnow_fingerprints")
            nt = len(doc_idx)
            if nt < kgram:
                continue
            denc = pc.dictionary_encode(flat)
            codes = denc.indices.to_numpy(zero_copy_only=False).astype(
                np.int64
            )
            terms = denc.dictionary.to_pylist()
            tid = np.array(
                [
                    int(hashlib.md5(t.encode("utf-8")).hexdigest()[:15], 16)
                    for t in terms
                ],
                dtype=np.int64,
            )
            ids = tid[codes]
            # rolling k-gram polynomial over positions whose whole window
            # stays inside one doc
            m = nt - kgram + 1
            h = ids[:m] % _PRIME
            for j in range(1, kgram):
                h = (h * _HB + ids[j: m + j]) % _PRIME
            valid = doc_idx[:m] == doc_idx[kgram - 1:]
            kg, kdoc = h[valid], doc_idx[:m][valid]
            nk = len(kg)
            if nk == 0:
                continue
            # width-`window` forward minima, masked at doc boundaries
            win_min = kg.copy()
            big = np.iinfo(np.int64).max
            for j in range(1, window):
                if j >= nk:
                    break
                shifted = np.full(nk, big, dtype=np.int64)
                same = kdoc[: nk - j] == kdoc[j:]
                shifted[: nk - j][same] = kg[j:][same]
                np.minimum(win_min, shifted, out=win_min)
            ukey = np.unique(kdoc * np.int64(1 << 31) + win_min)
            u_doc = ukey >> 31
            u_fp = ukey & ((1 << 31) - 1)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(doc_ids[u_doc], type=pa.int64()),
                    pa.array(u_fp, type=pa.int64()),
                ],
                names=["doc_id", "fingerprint"],
            )

    return kernel
