"""Output checks. Every check runs outside the timed ops.

* Fulltext ops are compared, for a fixed sample of queries, against the
  pure-Python BM25 oracle of ``tests/oracle_fulltext.py`` built on the
  driver-side twin of the generated corpus. Doc ids must be rank-identical
  and scores must agree within ``RTOL`` relative to the score's scale, the
  sum of its terms' absolute contributions. (The index stores each term's
  tf part as float32, so a score whose terms cancel carries the rounding
  of the terms, not of the sum.) Two docs whose oracle scores agree within
  that tolerance are a tie and may come in either order.
* Kernel ops are compared with their DuckDB oracle from
  ``__spark_entry__.oracle_sql()``, run the way ``tools/driver_check.py``
  runs it: one view per parquet table, then the oracle SQL.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd

from tests import oracle_fulltext

#: relative score tolerance of the fulltext check
RTOL = 1e-6

#: extra oracle ranks fetched beyond k, so a near-tie at rank k may be
#: filled by any doc of the tie
TIE_DEPTH = 10


def close(a: float, b: float, scale: float, rtol: float = RTOL) -> bool:
    return abs(a - b) <= rtol * max(scale, abs(a), abs(b), 1e-12)


class FulltextOracle:
    """BM25 over the docs ingested so far. Corpus statistics count every
    ingested doc, deleted ones too; deleted docs never rank. That is the
    engine's delete contract (``fulltext/delete.py``, pinned by
    ``tests/test_delete.py``): stats stay as of the last build or compact."""

    def __init__(self):
        self.postings: dict[str, dict[int, int]] = {}
        self.dl: dict[int, int] = {}
        self.deleted: set[int] = set()

    def add(self, texts: dict[int, str]) -> None:
        postings, dl, *_ = oracle_fulltext.build_index(texts)
        self.dl.update(dl)
        for term, docs in postings.items():
            self.postings.setdefault(term, {}).update(docs)

    def delete(self, doc_ids) -> None:
        self.deleted.update(int(d) for d in doc_ids)

    def search(self, terms: list[str], k: int) -> list[tuple[int, float, float]]:
        """[(doc_id, score, scale)] of the top k + TIE_DEPTH live docs."""
        n_docs = len(self.dl)
        avgdl = sum(self.dl.values()) / n_docs
        df = {t: len(self.postings.get(t, ())) for t in set(terms)}
        live = {
            t: {d: tf for d, tf in self.postings[t].items()
                if d not in self.deleted}
            for t in df if t in self.postings
        }
        index = (live, self.dl, df, n_docs, avgdl)
        out = []
        for _rank, doc, score in oracle_fulltext.search(
            index, terms, k=k + TIE_DEPTH
        ):
            scale = sum(
                abs(oracle_fulltext.bm25_weight(
                    live[t][doc], self.dl[doc], df[t], n_docs, avgdl))
                for t in live if doc in live[t]
            )
            out.append((doc, score, scale))
        return out


def ranking_ok(got: list[tuple[int, float]],
               want_ext: list[tuple[int, float, float]], k: int) -> bool:
    """Engine ranking ``got`` [(doc, score)] in rank order against the
    oracle's extended ranking ``want_ext`` [(doc, score, scale)]."""
    want = want_ext[:k]
    if len(got) != len(want):
        return False
    if len({d for d, _ in got}) != len(got):
        return False
    for (gd, gs), (wd, ws, scale) in zip(got, want):
        if not close(gs, ws, scale):
            return False
        if gd != wd and not any(
            d == gd and close(s, ws, max(scale, sc)) for d, s, sc in want_ext
        ):
            return False
    return True


def rankings_by_query(rows) -> dict[int, list[tuple[int, float]]]:
    """(query_id, doc_id, score, rank) rows -> {query: [(doc, score)]}."""
    out: dict[int, list[tuple[int, int, float]]] = {}
    for r in rows:
        out.setdefault(int(r["query_id"]), []).append(
            (int(r["rank"]), int(r["doc_id"]), float(r["score"]))
        )
    return {q: [(d, s) for _, d, s in sorted(v)] for q, v in out.items()}


def check_queries(rows, queries: pd.DataFrame, sample: list[int],
                  oracle: FulltextOracle, k: int) -> bool:
    """True when every sampled query's engine ranking matches the oracle
    and no returned doc is deleted."""
    got = rankings_by_query(rows)
    if any(d in oracle.deleted for v in got.values() for d, _ in v):
        return False
    terms = dict(zip(queries["query_id"], queries["terms"]))
    return all(
        ranking_ok(got.get(q, []), oracle.search(list(terms[q]), k), k)
        for q in sample
    )


# ------------------------------------------------------------------ kernels

def normalize_frame(df: pd.DataFrame) -> pd.DataFrame:
    """Column-sorted, row-sorted frame with floats rounded to 9 places —
    the normalisation ``tools/driver_check.py`` compares under."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].round(9)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
        else:
            df[c] = df[c].astype(np.int64)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def frames_match(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """driver_check's comparison: same shape, exact non-float columns,
    float columns within 2e-9."""
    if len(got) != len(want) or sorted(got.columns) != sorted(want.columns):
        return False
    a, b = normalize_frame(got), normalize_frame(want)
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if np.issubdtype(av.dtype, np.floating) or np.issubdtype(bv.dtype, np.floating):
            if not np.allclose(av.astype(float), bv.astype(float),
                               rtol=0, atol=2e-9, equal_nan=True):
                return False
        elif not (av == bv).all():
            return False
    return True


def topk_frames_match(got: pd.DataFrame, want: pd.DataFrame, group: str,
                      item: str, atol: float = 2e-9) -> bool:
    """Top-k rows per ``group`` agree: same count per group, same score for
    every item both sides return, and an item only one side returns sits
    at its group's k-th score on that side (a tie at the cut-off, which two
    engines may break differently after rounding)."""
    if len(got) != len(want):
        return False
    sizes = (got.groupby(group).size(), want.groupby(group).size())
    if not sizes[0].sort_index().equals(sizes[1].sort_index()):
        return False
    m = got.merge(want, on=[group, item], how="outer", suffixes=("_g", "_w"),
                  indicator=True)
    both = m[m["_merge"] == "both"]
    if not np.allclose(both["score_g"], both["score_w"], rtol=0, atol=atol):
        return False
    for side, frame in (("left_only", got), ("right_only", want)):
        only = m[m["_merge"] == side]
        col = "score_g" if side == "left_only" else "score_w"
        cut = frame.groupby(group)["score"].min()
        if not np.allclose(only[col].to_numpy(),
                           cut.loc[only[group]].to_numpy(), rtol=0, atol=atol):
            return False
    return True


def digest(df: pd.DataFrame) -> str:
    """sha256 of the normalised frame, floats at 6 decimals (the entries'
    own output rounding)."""
    n = normalize_frame(df)
    h = hashlib.sha256(",".join(n.columns).encode())
    for c in n.columns:
        col = n[c]
        if np.issubdtype(col.dtype, np.floating):
            col = col.map(lambda x: "nan" if math.isnan(x) else f"{x:.6f}")
        h.update("\x1f".join(map(str, col.tolist())).encode())
    return h.hexdigest()


def duckdb_oracle(data_dir: str, tables: list[str], sql: str) -> pd.DataFrame:
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{data_dir}/{t}.parquet')"
            )
        return con.execute(sql).fetchdf()
    finally:
        con.close()
