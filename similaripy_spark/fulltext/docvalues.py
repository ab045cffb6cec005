"""Doc-values sidecar: per-document metadata columns for FILTERED retrieval
and FACET COUNTS over the fulltext index — Lucene's doc values + filter
queries, recast for the doc-sharded Spark index.

A web-scale query mix is rarely "rank the whole corpus": it is "rank the
ENGLISH pages", "count this query's matches per source domain". Both need a
per-document attribute readable at SCORING time. This module stores each
low-cardinality attribute (lang, source, ...) as a dictionary-encoded
POSITIONAL array per shard:

    <index_dir>/docvalues/<field>/dict.parquet   -- code -> value (tiny)
    <index_dir>/docvalues/<field>/codes/         -- one row per shard:
        shard int32 | base_doc int64 | n int32 | codes binary
        (codes = little-endian uint16 per doc offset; doc_id = base_doc +
         offset, exactly the main index's shard mapping; code 0 = NULL /
         doc absent — an IN-list filter never matches it, SQL semantics)

Cost: 2 bytes per doc per field (dict-compressed further by parquet), built
in ONE column-pruned pass over the crawl table — at 10^12 docs a field is
~2 TB spread over n_shards rows, never driver- or broadcast-resident.

Filtered retrieval (``segment_topk(dv_filter=...)`` /
``IndexHandle.topk(filter=...)``) applies the predicate INSIDE the scoring
kernel at the decode choke point (wand._ShardIndex._live_mask — the same
place tombstones filter), so excluded docs can never enter a candidate set,
inflate a MaxScore theta, crowd a per-shard local top-k, or match an AND
intersection: the surviving top-k is EXACT over the filtered corpus. Stored
block/term bounds still include excluded docs' scores — they remain valid
(superset) upper bounds, so pruning stays exact, merely looser under very
selective filters. Corpus statistics (idf, avgdl) deliberately stay
WHOLE-corpus: a filter restricts the result set, not the collection —
Lucene's filter-query semantics, and the only reading that keeps scores
stable across filters. One predicate function (:func:`dv_keep`) states
the filter semantics for both the kernel and the relational
:func:`filter_docs`.

Delivery to the kernel needs no broadcast: each shard's codes row is
reshaped into ONE sentinel segment row (term = ``"\\x00dv:<field>"``,
payload in ``doc_deltas``) and unioned into the segment relation, riding
the existing per-shard cogroup shuffle — per-shard state travels to
exactly the task that scores that shard. The allowed-code lookup table
(bool array the size of the field's dictionary) ships in the task closure.

The relational operators (:func:`filter_docs`, :func:`facet_counts`,
:func:`facet_stats`, :func:`sort_topk`, :func:`collapse_topk`) share one
per-shard cogroup gather (``_gather``) that appends each row's stored
value from the positional array (traffic ∝ rows + sidecar size, never
corpus text), and score or match through query.py's index helpers (the
term scan ``live_postings``: the query batch's terms filter the segment
scan, decoded, tombstones dropped; the float64 BM25 scorer
``bm25_scores``). Everything after the gather — aggregates, rankings —
is Spark expressions; filter_docs applies :func:`dv_keep` inside it.

Staleness: ``_meta.json`` pins the main index's (n_epochs, n_docs); a
sidecar older than the index (``append_to_index`` grows both) raises
:class:`StaleDocValuesError` instead of silently mislabeling appended docs.

No similaripy counterpart (the reference scores bare CSR matrices —
similaripy/normalization.py has no notion of document attributes); this is
engine-extension surface in the same category as deletion and append.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from similaripy_spark.fulltext.commit import (
    LocalFSCommitProtocol,
    detect_commit_protocol,
    resolve_artifact,
)
from similaripy_spark.fulltext.index_build import epoch_pin, read_meta
from similaripy_spark.fulltext.query import (
    all_terms,
    bm25_scores,
    live_postings,
    query_terms,
)

#: sentinel term prefix for doc-values rows unioned into a segment relation
#: ("\\x00" sorts before every real token and can never be produced by the
#: tokenizer, whose tokens are [a-z0-9]+ runs)
DV_TERM_PREFIX = "\x00dv:"

#: uint16 codes; 0 is reserved for NULL / doc-absent
MAX_CARDINALITY = 65534

#: numeric doc-values: int64 per doc; NULL / doc-absent stores the int64
#: minimum, which no closed [lo, hi] range with lo > INT64_MIN matches
NUMERIC_NULL = np.iinfo(np.int64).min

#: the column ``_gather`` appends: the stored dictionary code (int) or
#: numeric value (long) of each row's document
DV_COL = "__dv"

CODES_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType(), False),
        T.StructField("base_doc", T.LongType(), False),
        T.StructField("n", T.IntegerType(), False),
        T.StructField("codes", T.BinaryType(), False),
    ]
)


class StaleDocValuesError(RuntimeError):
    """The docvalues sidecar predates the index's current epoch/corpus."""


def _dv_dir(index_dir: str) -> str:
    return os.path.join(index_dir, "docvalues")


def _field_dir(index_dir: str, field: str) -> str:
    return resolve_artifact(os.path.join(_dv_dir(index_dir), field))


def build_docvalues(
    pages: DataFrame,
    index_dir: str,
    fields,
    id_col: str = "doc_id",
    max_cardinality: int = MAX_CARDINALITY,
) -> dict:
    """Build (or rebuild) the doc-values sidecar for ``fields`` of
    ``pages``. Each entry is a column name (dictionary-encoded 'dict'
    kind, for low-cardinality strings) or a ``(name, 'numeric')`` pair
    (int64 per doc — timestamps stored as epoch microseconds — for RANGE
    filters: crawl-date windows, length bounds).

    One column-pruned pass per field: for 'dict', a dictionary job
    (distinct values — a partial-aggregated shuffle of at most
    ``max_cardinality`` rows) then a codes job (broadcast dict join + one
    hash repartition by the MAIN index's shard mapping into dense
    per-shard uint16 arrays); 'numeric' skips the dictionary and packs
    int64 directly (NULL → NUMERIC_NULL sentinel). Atomic stage→commit
    publish per field; ``_meta.json`` pins the index epoch. Idempotent —
    a rebuild is one pointer swap per field."""
    spark = pages.sparkSession
    meta = read_meta(index_dir)
    shard_size = int(meta["shard_size"])
    # same partial-crawl guard as positional.build_positions: a pages
    # relation MISSING indexed docs would stamp a 'fresh' sidecar in which
    # the absent docs carry code 0 / NUMERIC_NULL and are silently excluded
    # from every filtered ranking, facet count and sort. Extra rows
    # (supersets) are harmless — only the too-few direction is dangerous.
    n_pages = pages.count()
    if n_pages < int(meta["n_docs"]):
        raise ValueError(
            f"pages holds {n_pages} docs but the index covers "
            f"{int(meta['n_docs'])} — a sidecar built from a partial "
            "crawl silently drops the missing docs from every filtered "
            "ranking; pass the same pages relation (and lang filter) the "
            "index was built from"
        )
    cur = epoch_pin(meta)
    prior = docvalues_meta(index_dir) or {}
    if prior:
        got = epoch_pin(prior)
        names = {s if isinstance(s, str) else s[0] for s in fields}
        untouched = set(prior.get("fields", [])) - names
        if got != cur and untouched:
            # rebuilding a SUBSET against a grown index would stamp the
            # sidecar-global freshness pin over fields whose codes arrays
            # still stop at the old corpus — the exact silent staleness
            # the pin exists to prevent
            raise StaleDocValuesError(
                f"index moved to epoch/docs {cur} since the sidecar was "
                f"built at {got}: rebuild ALL sidecar fields "
                f"(missing {sorted(untouched)}) or use append_docvalues"
            )
    # commit through the SAME backend that committed the index: a rename-
    # committed sidecar beside pointer-committed groups is invisible to
    # pointer-reading resolvers (mirrors append.py / delete.py)
    commit = detect_commit_protocol(index_dir)
    field_meta = dict(prior.get("field_meta", {}))
    for spec in fields:
        field, kind = (spec, "dict") if isinstance(spec, str) else spec
        if kind not in ("dict", "numeric"):
            raise ValueError(
                f"unknown doc-values kind {kind!r} for field {field!r} "
                "(use 'dict' or 'numeric')"
            )
        out = os.path.join(_dv_dir(index_dir), field)
        staged = commit.stage_path(out)
        if kind == "numeric":
            codes = _pack_numeric_codes(pages, field, id_col, shard_size)
            field_meta[field] = {"kind": "numeric"}
        else:
            vals = sorted(_distinct_values(pages, field, max_cardinality))
            codes = _pack_dict_codes(
                pages, field, id_col, shard_size, vals, spark
            )
            field_meta[field] = {"kind": "dict", "cardinality": len(vals)}
        codes.write.mode("overwrite").parquet(os.path.join(staged, "codes"))
        if kind == "dict":
            _write_dict(staged, vals)
        commit.commit_dir(staged, out)
    return _write_side_meta(index_dir, meta, field_meta)


def _distinct_values(pages: DataFrame, field: str,
                     max_cardinality: int) -> list:
    """The field's distinct non-null values as strings, collected with a
    bound: an accidentally high-cardinality column fails with the
    cardinality error, not a driver OOM."""
    vals = [
        r[0]
        for r in (
            pages.select(F.col(field).cast("string"))
            .filter(F.col(field).isNotNull())
            .distinct()
            .limit(max_cardinality + 1)
            .collect()
        )
    ]
    if len(vals) > max_cardinality:
        raise ValueError(
            f"field {field!r} exceeds {max_cardinality} distinct "
            "values — doc-values dictionaries are for low-cardinality "
            "attributes (lang, source, content-type); bucket or hash "
            "the column at build time for high-cardinality use"
        )
    return vals


def _dict_frame(spark: SparkSession, vals: list) -> DataFrame:
    """(code, value) rows of a dictionary (code i+1 = vals[i]). Built from
    pandas so it plans as a LocalTableScan, not a PythonRDD of Python
    tasks that only unpickle the dictionary."""
    return spark.createDataFrame(
        pd.DataFrame({
            "code": np.arange(1, len(vals) + 1, dtype=np.int32),
            "value": pd.Series(vals, dtype=object),
        }),
        T.StructType(
            [
                T.StructField("code", T.IntegerType(), False),
                T.StructField("value", T.StringType(), False),
            ]
        ),
    )


def _write_dict(staged: str, vals: list) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "code": pa.array(range(1, len(vals) + 1), type=pa.int32()),
                "value": pa.array(vals, type=pa.string()),
            }
        ),
        os.path.join(staged, "dict.parquet"),
    )


def _write_side_meta(index_dir: str, meta: dict, field_meta: dict) -> dict:
    """Publish the sidecar's ``_meta.json`` (atomic replace), pinned to
    the index's current (n_epochs, n_docs)."""
    side_meta = {
        "n_epochs": int(meta.get("n_epochs", 1)),
        "n_docs": int(meta["n_docs"]),
        "shard_size": int(meta["shard_size"]),
        "field_meta": field_meta,
        "fields": sorted(field_meta),
    }
    os.makedirs(_dv_dir(index_dir), exist_ok=True)
    tmp = os.path.join(_dv_dir(index_dir), "_meta.json.tmp")
    with open(tmp, "w") as f:
        json.dump(side_meta, f)
    os.replace(tmp, os.path.join(_dv_dir(index_dir), "_meta.json"))
    return side_meta


def _pack_codes(coded: DataFrame, shard_size: int, fill, dtype) -> DataFrame:
    """(shard, off, code) rows → one (shard, base_doc, n, codes) row per
    shard: a dense ``dtype`` array over the shard's offsets, ``fill`` where
    no row lands."""

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(pdf["shard"].iloc[0])
        arr = np.full(shard_size, fill, dtype)
        arr[pdf["off"].to_numpy(np.int64)] = pdf["code"].to_numpy(dtype)
        return pd.DataFrame(
            {
                "shard": np.array([shard], np.int32),
                "base_doc": np.array([shard * shard_size], np.int64),
                "n": np.array([len(pdf)], np.int32),
                "codes": [arr.tobytes()],
            }
        )

    return coded.groupBy("shard").applyInPandas(pack, schema=CODES_SCHEMA)


def _shard_off(id_col: str, shard_size: int, code: Column) -> list:
    doc = F.col(id_col).cast("long")
    return [
        (doc / shard_size).cast("int").alias("shard"),
        (doc % shard_size).cast("int").alias("off"),
        code.alias("code"),
    ]


def _pack_dict_codes(
    pages: DataFrame, field: str, id_col: str, shard_size: int,
    vals: list, spark: SparkSession,
) -> DataFrame:
    """Dense per-shard uint16 arrays coding ``field`` against the given
    ordered dictionary (code i+1 = vals[i]; 0 = NULL / absent)."""
    coded = pages.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.col(field).cast("string").alias("value"),
    ).join(F.broadcast(_dict_frame(spark, vals)), "value", "left")
    return _pack_codes(
        coded.select(
            *_shard_off("doc_id", shard_size, F.coalesce("code", F.lit(0)))
        ),
        shard_size, 0, np.uint16,
    )


def _pack_numeric_codes(
    pages: DataFrame, field: str, id_col: str, shard_size: int,
) -> DataFrame:
    """Dense per-shard int64 arrays. Timestamps become epoch microseconds;
    anything else is cast to long. NULL / absent docs store
    NUMERIC_NULL."""
    ftype = dict(pages.dtypes).get(field)
    if ftype is None:
        raise ValueError(f"pages has no column {field!r}")
    src = F.col(field)
    val = (
        F.unix_micros(src) if ftype.startswith("timestamp")
        else src.cast("long")
    )
    return _pack_codes(
        pages.select(*_shard_off(
            id_col, shard_size, F.coalesce(val, F.lit(int(NUMERIC_NULL)))
        )),
        shard_size, NUMERIC_NULL, np.int64,
    )


def field_kind(index_dir: str, field: str) -> str:
    side = docvalues_meta(index_dir) or {}
    return (
        side.get("field_meta", {}).get(field, {}).get("kind", "dict")
    )


def to_epoch_micros(v) -> int:
    """Range-bound coercion: ints pass through; datetime / date /
    ISO-string bounds become epoch microseconds (what numeric timestamp
    doc-values store)."""
    if isinstance(v, (int, np.integer)):
        return int(v)
    return int(pd.Timestamp(v).value // 1000)


def append_docvalues(
    delta_pages: DataFrame,
    index_dir: str,
    fields=None,
    id_col: str = "doc_id",
    max_cardinality: int = MAX_CARDINALITY,
) -> dict:
    """Catch the doc-values sidecar up to an appended index WITHOUT
    re-scanning the committed corpus (the docvalues twin of
    positional.append_positions).

    ``append_to_index`` only ever opens NEW shards, and the sidecar is
    positioned by the same shard mapping — so the delta packs its own
    shards' arrays and no committed row is rewritten. Dictionary fields
    grow APPEND-ONLY: delta values missing from the dictionary get codes
    AFTER the existing ones, so committed codes arrays stay valid and an
    open reader's lookup table is never invalidated. Publish per field is
    the same atomic stage→swap with the committed codes parquet files
    HARDLINKED into the staged dir (zero copy). ``delta_pages`` must be
    exactly the pages appended since the sidecar was built — cross-checked
    by closing the sidecar→index doc-count gap exactly and requiring every
    delta doc to land past the covered shard range. Returns the merged
    sidecar meta (now fresh)."""
    import shutil

    meta = read_meta(index_dir)
    side = docvalues_meta(index_dir)
    if side is None:
        raise StaleDocValuesError(
            f"no docvalues sidecar under {index_dir}/docvalues — nothing "
            "to append to; run build_docvalues first"
        )
    if fields is not None and set(fields) != set(side.get("fields", [])):
        raise ValueError(
            "append_docvalues must cover every sidecar field (freshness "
            f"is sidecar-global): sidecar has {side.get('fields')}, got "
            f"{sorted(fields)}"
        )
    fields = list(side.get("fields", []))
    if epoch_pin(side) == epoch_pin(meta):
        raise ValueError("docvalues sidecar is already fresh — nothing "
                         "to append")
    shard_size = int(meta["shard_size"])
    if int(side["shard_size"]) != shard_size:
        raise ValueError(
            "sidecar shard_size differs from the index — rebuild with "
            "build_docvalues"
        )
    n_delta = delta_pages.count()
    gap = int(meta["n_docs"]) - int(side["n_docs"])
    if n_delta != gap:
        raise ValueError(
            f"delta has {n_delta} docs but the index grew by {gap} since "
            "the sidecar was built — pass exactly the appended pages, or "
            "rebuild with build_docvalues"
        )
    min_doc = delta_pages.agg(F.min(id_col)).first()[0]
    if min_doc is None:
        raise ValueError("delta_pages is empty")
    covered = -(-int(side["n_docs"]) // shard_size)  # ceil
    if min_doc // shard_size < covered:
        raise ValueError(
            f"delta doc_ids reach into shard {min_doc // shard_size} but "
            f"the sidecar already covers shards < {covered} — committed "
            "shards are immutable; rebuild with build_docvalues"
        )
    spark = delta_pages.sparkSession
    commit = detect_commit_protocol(index_dir)
    if not isinstance(commit, LocalFSCommitProtocol):
        # the delta pack below stitches epochs together with hardlinks —
        # a local-filesystem mechanism with no pointer-backend analog.
        # Refuse loudly rather than commit a sidecar the pointer-reading
        # resolvers cannot see; a pointer-committed index rebuilds with
        # build_docvalues instead.
        raise NotImplementedError(
            "append_docvalues supports rename-committed (local FS) "
            "indexes only; rebuild with build_docvalues on this backend"
        )
    epoch = int(meta.get("n_epochs", 1))
    field_meta = dict(side.get("field_meta", {}))
    for field in fields:
        kind = field_meta.get(field, {}).get("kind", "dict")
        out = os.path.join(_dv_dir(index_dir), field)
        cur_dir = _field_dir(index_dir, field)
        staged = commit.stage_path(out)
        delta_dir = staged + "__delta"
        if os.path.isdir(delta_dir):
            shutil.rmtree(delta_dir)
        if kind == "numeric":
            codes = _pack_numeric_codes(
                delta_pages, field, id_col, shard_size
            )
        else:
            old_vals = load_dict(index_dir, field)
            known = set(old_vals)
            new_vals = sorted(
                v for v in _distinct_values(
                    delta_pages, field, max_cardinality
                ) if v not in known
            )
            vals = old_vals + new_vals  # append-only: old codes stable
            if len(vals) > max_cardinality:
                raise ValueError(
                    f"field {field!r} exceeds {max_cardinality} distinct "
                    "values after the append"
                )
            codes = _pack_dict_codes(
                delta_pages, field, id_col, shard_size, vals, spark
            )
            field_meta[field] = {"kind": "dict", "cardinality": len(vals)}
        codes.write.mode("overwrite").parquet(delta_dir)
        os.makedirs(os.path.join(staged, "codes"), exist_ok=True)
        # retry idempotence: a crash between this field's commit and the
        # sidecar _meta.json write leaves THIS epoch's files already
        # committed; hardlinking them and adding a fresh pack would
        # duplicate every delta shard's row forever. Skip same-epoch
        # files — the retry replaces them.
        epoch_prefix = f"epoch{epoch:05d}-"
        for name in os.listdir(os.path.join(cur_dir, "codes")):
            if name.endswith(".parquet") and not name.startswith(
                epoch_prefix
            ):
                os.link(
                    os.path.join(cur_dir, "codes", name),
                    os.path.join(staged, "codes", name),
                )
        for name in os.listdir(delta_dir):
            if name.endswith(".parquet"):
                os.replace(
                    os.path.join(delta_dir, name),
                    os.path.join(
                        staged, "codes", f"epoch{epoch:05d}-{name}"
                    ),
                )
        if kind == "dict":
            _write_dict(staged, vals)
        commit.commit_dir(staged, out)
        shutil.rmtree(delta_dir, ignore_errors=True)
    return _write_side_meta(index_dir, meta, field_meta)


def docvalues_meta(index_dir: str) -> dict | None:
    p = os.path.join(_dv_dir(index_dir), "_meta.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def check_docvalues_fresh(index_dir: str, fields) -> dict:
    """Raise :class:`StaleDocValuesError` when the sidecar is missing a
    requested field or predates the index's epoch/corpus size. Returns the
    sidecar meta when fresh."""
    side = docvalues_meta(index_dir)
    if side is None:
        raise StaleDocValuesError(
            f"no docvalues sidecar under {index_dir}/docvalues — run "
            "docvalues.build_docvalues(pages, index_dir, fields) first"
        )
    missing = [f for f in fields if f not in side.get("fields", [])]
    if missing:
        raise StaleDocValuesError(
            f"docvalues sidecar has no field(s) {missing} (built: "
            f"{side.get('fields')}) — rebuild with build_docvalues"
        )
    meta = read_meta(index_dir)
    cur, got = epoch_pin(meta), epoch_pin(side)
    if got != cur:
        raise StaleDocValuesError(
            f"docvalues sidecar built at epoch/docs {got} but the index "
            f"is at {cur} (append_to_index does not rewrite sidecars) — "
            "rebuild with docvalues.build_docvalues"
        )
    return side


def load_dict(index_dir: str, field: str) -> list:
    """code i+1 -> values[i]; driver-side pyarrow read (tiny by the
    cardinality contract)."""
    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(_field_dir(index_dir, field), "dict.parquet")
    )
    order = np.argsort(t["code"].to_numpy())
    return [t["value"][int(i)].as_py() for i in order]


def read_codes(spark: SparkSession, index_dir: str, field: str) -> DataFrame:
    return spark.read.schema(CODES_SCHEMA).parquet(
        os.path.join(_field_dir(index_dir, field), "codes")
    )


def build_lut(index_dir: str, field: str, values) -> np.ndarray:
    """Allowed-code lookup: bool array of size cardinality+1. Code 0
    (NULL / absent doc) never matches, and requested values missing from
    the dictionary simply match nothing — IN-list semantics."""
    vals = load_dict(index_dir, field)
    lut = np.zeros(len(vals) + 1, bool)
    want = {str(v) for v in values}
    for i, v in enumerate(vals):
        if v in want:
            lut[i + 1] = True
    return lut


def sentinel_segments(
    spark: SparkSession, index_dir: str, field: str, like: DataFrame
) -> DataFrame:
    """The field's per-shard codes reshaped into segment-schema sentinel
    rows (term = DV_TERM_PREFIX + field, codes in ``doc_deltas``), with
    every extra column of ``like`` (df, ...) null-filled so a
    ``unionByName`` is exact. One row per shard."""
    width = 8 if field_kind(index_dir, field) == "numeric" else 2
    dv = read_codes(spark, index_dir, field).select(
        F.col("shard"),
        F.lit(DV_TERM_PREFIX + field).alias("term"),
        F.lit(-1).cast("int").alias("block_id"),
        F.col("n"),
        F.col("base_doc").alias("first_doc"),
        (F.col("base_doc") + F.length("codes") / width - 1)
        .cast("long")
        .alias("max_doc"),
        F.lit(0.0).cast("float").alias("max_score"),
        F.lit(0.0).cast("float").alias("min_score"),
        F.col("codes").alias("doc_deltas"),
        F.lit(bytearray()).cast("binary").alias("tfs"),
        F.lit(bytearray()).cast("binary").alias("weights"),
    )
    for f_ in like.schema.fields:
        if f_.name not in dv.columns:
            dv = dv.withColumn(
                f_.name, F.lit(None).cast(f_.dataType)
            )
    return dv.select(*like.columns)


def resolve_filter(index_dir: str, dv_filter: dict) -> dict:
    """{field: predicate} -> {sentinel_term: matcher spec}; validates
    freshness and kind. Predicates: a list/set of values (IN — 'dict'
    fields) or a 2-tuple ``(lo, hi)`` closed range ('numeric' fields;
    datetime / ISO-string bounds accepted, ``None`` for open ends).
    Matcher specs: ``('dict', lut)`` or ``('range', lo, hi)``."""
    if not isinstance(dv_filter, dict) or not dv_filter:
        raise ValueError(
            "dv_filter must be a non-empty dict {field: [values...] | "
            f"(lo, hi)}}, got {dv_filter!r}"
        )
    check_docvalues_fresh(index_dir, list(dv_filter))
    specs = {}
    for field, pred in dv_filter.items():
        kind = field_kind(index_dir, field)
        if kind == "numeric":
            if not (isinstance(pred, tuple) and len(pred) == 2):
                raise ValueError(
                    f"field {field!r} is numeric — pass a (lo, hi) range "
                    f"tuple, got {pred!r}"
                )
            lo = (
                np.iinfo(np.int64).min + 1 if pred[0] is None
                else to_epoch_micros(pred[0])
            )
            hi = (
                np.iinfo(np.int64).max if pred[1] is None
                else to_epoch_micros(pred[1])
            )
            specs[DV_TERM_PREFIX + field] = ("range", int(lo), int(hi))
        else:
            if isinstance(pred, tuple):
                raise ValueError(
                    f"field {field!r} is dictionary-encoded — pass a list "
                    f"of values, got range {pred!r} (build the field with "
                    "kind='numeric' for range filters)"
                )
            if isinstance(pred, (str, bytes)):
                # iterating a bare string would explode it into single
                # characters and silently match nothing
                raise ValueError(
                    f"field {field!r} filter must be a LIST of values; "
                    f"got the bare string {pred!r} — write "
                    f"{{{field!r}: [{pred!r}]}}"
                )
            specs[DV_TERM_PREFIX + field] = (
                "dict", build_lut(index_dir, field, pred),
            )
    return specs


def dv_keep(spec: tuple, vals: np.ndarray) -> np.ndarray:
    """Keep mask of a ``resolve_filter`` matcher spec over an array of
    stored values — the kernel's (wand._ShardIndex._live_mask) and
    :func:`filter_docs`'s (inside ``_gather``). A range is closed; a LUT
    never allows code 0, and NUMERIC_NULL lies below every range's lo, so
    a NULL attribute never matches."""
    if spec[0] == "range":
        return (vals >= spec[1]) & (vals <= spec[2])
    return spec[1][vals]


def split_dv_rows(seg_pdf: pd.DataFrame, dv_luts: dict):
    """Pop the sentinel rows out of a shard's segment frame → (clean
    frame, kernel matcher entries ``(base, stored values, spec)``).
    Raises when a filter field's sentinel row is missing for a shard that
    has postings — a missing row means the sidecar and segment relations
    went out of sync (never silently rank unfiltered)."""
    is_dv = seg_pdf["term"].str.startswith(DV_TERM_PREFIX, na=False)
    if not is_dv.any():
        if dv_luts:
            raise StaleDocValuesError(
                "dv_filter is active but this shard's segment rows carry "
                "no doc-values sentinel — sidecar/segment relation mismatch"
            )
        return seg_pdf, []
    dv_rows = seg_pdf[is_dv]
    clean = seg_pdf[~is_dv]
    dv = []
    for sent_term, spec in dv_luts.items():
        hit = dv_rows[dv_rows["term"] == sent_term]
        if len(hit) == 0:
            if len(clean) == 0:
                continue
            raise StaleDocValuesError(
                f"no doc-values sentinel for {sent_term[len(DV_TERM_PREFIX):]!r} "
                "in a shard that has postings"
            )
        r = hit.iloc[0]
        dtype = np.int64 if spec[0] == "range" else np.uint16
        dv.append((
            int(r["first_doc"]), np.frombuffer(r["doc_deltas"], dtype), spec
        ))
    return clean, dv


def _with_shard(frame: DataFrame, meta: dict) -> DataFrame:
    return frame.withColumn(
        "shard", (F.col("doc_id") / int(meta["shard_size"])).cast("int")
    )


def _gather(frame: DataFrame, index_dir: str, field: str,
            keep: tuple | None = None) -> DataFrame:
    """``frame`` (any rows carrying ``doc_id`` and ``shard``) + ``DV_COL``:
    each row's stored value of ``field`` — the uint16 dictionary code as
    int (0 = NULL), or the int64 numeric value (NUMERIC_NULL = NULL).
    ``keep`` (a ``resolve_filter`` matcher spec) drops the rows whose
    value fails :func:`dv_keep`, in the same numpy step.

    One per-shard cogroup against the field's positional codes rows, so
    the traffic is the frame's rows plus the sidecar bytes. Rows of a
    shard without a codes row are dropped."""
    numeric = field_kind(index_dir, field) == "numeric"
    dtype = np.int64 if numeric else np.uint16
    schema = T.StructType(frame.schema.fields + [T.StructField(
        DV_COL, T.LongType() if numeric else T.IntegerType(), False
    )])

    # exactly TWO positional args — pyspark's cogroup dispatch inspects
    # the arity and a third (even defaulted) parameter flips it to
    # (key, left, right) mode
    def gather(m_pdf: pd.DataFrame, dv_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(m_pdf) == 0 or len(dv_pdf) == 0:
            return pd.DataFrame()
        vals = np.frombuffer(dv_pdf["codes"].iloc[0], dtype=dtype)[
            m_pdf["doc_id"].to_numpy(np.int64)
            - int(dv_pdf["base_doc"].iloc[0])
        ]
        out = m_pdf.assign(**{DV_COL: vals.astype(
            np.int64 if numeric else np.int32
        )})
        return out if keep is None else out[dv_keep(keep, vals)]

    codes = read_codes(frame.sparkSession, index_dir, field)
    return (
        frame.groupBy("shard")
        .cogroup(codes.groupBy("shard"))
        .applyInPandas(gather, schema=schema)
    )


def _check_field(index_dir: str, field: str, kind: str, op: str,
                 mode: str = "or", hint: str = "") -> None:
    """An operator's shared prologue: a valid ``mode``, a fresh sidecar
    and a field of ``kind``; ``hint`` ends the wrong-kind error with what
    to do instead."""
    if mode not in ("or", "and"):
        raise ValueError(f"mode must be 'or' or 'and', got {mode!r}")
    check_docvalues_fresh(index_dir, [field])
    actual = field_kind(index_dir, field)
    if actual != kind:
        names = {"dict": "dictionary-encoded", "numeric": "numeric"}
        raise ValueError(
            f"{op} needs a {names[kind]} field; {field!r} is "
            f"{names[actual]}" + (f" ({hint})" if hint else "")
        )


def filter_docs(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    dv_filter: dict,
    id_col: str = "doc_id",
) -> DataFrame:
    """Relational twin of the kernel dv matcher: keep rows of ``docs``
    whose attributes satisfy ``dv_filter`` (same predicate forms as
    ``resolve_filter``, same :func:`dv_keep` semantics). Candidate-driven
    — per field, the CANDIDATE docs' values are gathered from the
    positional arrays and filtered in the same step (``_gather`` with
    ``keep``), and the survivors semi-joined back. Used by the
    query-string phrase composition (querylang.py) and the ``dv_filter``
    of sort_topk / collapse_topk; parity with the kernel path is pinned
    in tests."""
    specs = resolve_filter(index_dir, dv_filter)
    meta = read_meta(index_dir)
    out = docs
    for sent_term, spec in specs.items():
        ids = _with_shard(
            out.select(F.col(id_col).cast("long").alias("doc_id"))
            .distinct(),
            meta,
        )
        kept = _gather(
            ids, index_dir, sent_term[len(DV_TERM_PREFIX):], keep=spec
        )
        out = out.join(
            kept.select(F.col("doc_id").alias(id_col)), id_col, "left_semi"
        )
    return out


def match_set(
    spark: SparkSession,
    queries: DataFrame,
    index_dir: str,
    mode: str = "or",
) -> DataFrame:
    """The DISTINCT live (query_id, doc_id, shard) match set of a query
    batch — the relation every facet/stats aggregation runs over: the
    batch's live postings (``query.live_postings``) ⋈ its distinct terms;
    ``mode='and'`` keeps docs matching every distinct query term (HAVING
    on the matched-term count)."""
    if mode not in ("or", "and"):
        raise ValueError(f"mode must be 'or' or 'and', got {mode!r}")
    meta = read_meta(index_dir)
    qterms = query_terms(queries)
    posted = live_postings(
        spark, index_dir, meta, qterms.select("term").distinct()
    )
    matches = qterms.join(posted.select("term", "doc_id"), "term")
    if mode == "and":
        matches = all_terms(
            matches.groupBy("query_id", "doc_id")
            .agg(F.count("*").alias("n_matched")),
            qterms,
        )
    matches = matches.select("query_id", "doc_id")
    if mode == "or":
        matches = matches.distinct()
    return _with_shard(matches, meta)


def facet_counts(
    spark: SparkSession,
    queries: DataFrame,
    index_dir: str,
    field: str,
    mode: str = "or",
) -> DataFrame:
    """Per-query match counts grouped by a doc-values field →
    (query_id, value, n_docs) — the facet panel next to search results.

    Fully relational plan: the match set (:func:`match_set` — term
    pushdown, OR/AND, tombstones dropped), the gathered uint16 code of
    each matched doc (``_gather``), then a partial-aggregated
    ``groupBy(query_id, code).count()`` ⋈ the broadcast dictionary.

    Corpus-stat semantics match filtered retrieval: counts are over the
    LIVE corpus (tombstones excluded), values NULL for docs with no
    dictionary entry."""
    _check_field(
        index_dir, field, "dict", "facet_counts", mode,
        hint="bucket it into a dict field at build time to facet",
    )
    return (
        _gather(match_set(spark, queries, index_dir, mode=mode),
                index_dir, field)
        .groupBy("query_id", F.col(DV_COL).alias("code"))
        .agg(F.count("*").alias("n_docs"))
        .join(
            F.broadcast(_dict_frame(spark, load_dict(index_dir, field))),
            "code", "left",
        )
        .select("query_id", "value", "n_docs")
    )


def sort_topk(
    spark: SparkSession,
    queries: DataFrame,
    index_dir: str,
    field: str,
    k: int = 10,
    mode: str = "or",
    ascending: bool = False,
    dv_filter: dict | None = None,
) -> DataFrame:
    """Top-k matches per query ORDERED BY a numeric doc-values field
    (Lucene's sort-by-field — newest-first / longest-first result pages)
    → (query_id, doc_id, value, rank). Ties break doc_id ASC, the
    engine-wide rule. Docs with a NULL attribute never rank (SQL ORDER BY
    over an inner attribute join). ``dv_filter`` composes (filter_docs).

    Relational, candidate-driven: the match set (:func:`match_set`) → the
    gathered int64 value (``_gather``) → exact distributed top-k. At web
    scale the cost is the match set + sidecar traffic — no posting weight
    is even decoded."""
    _check_field(index_dir, field, "numeric", "sort_topk", mode)
    from similaripy_spark.operators.topk import top_k

    matches = match_set(spark, queries, index_dir, mode=mode)
    if dv_filter:
        matches = filter_docs(spark, matches, index_dir, dv_filter)
    gathered = _gather(matches, index_dir, field).select(
        "query_id", "doc_id", F.col(DV_COL).alias("value")
    ).filter(F.col("value") != int(NUMERIC_NULL))
    # top_k keeps the LARGEST ordering key; ascending sorts negate it.
    # The key STAYS int64 — a double cast would collapse values differing
    # above 2^53 (epoch nanos, snowflake IDs) into spurious doc_id-ordered
    # ties. Negation is safe: NUMERIC_NULL (int64 min, the only
    # non-negatable value) was filtered out above.
    signed = (-F.col("value")) if ascending else F.col("value")
    ranked = top_k(
        gathered.withColumn("__ord", signed),
        k, group="query_id", order_value="__ord",
        tiebreak="doc_id", keep_rank=True,
    )
    return ranked.select("query_id", "doc_id", "value", "rank")


def collapse_topk(
    spark: SparkSession,
    queries: DataFrame,
    index_dir: str,
    field: str,
    k: int = 10,
    per_value: int = 1,
    mode: str = "or",
    dv_filter: dict | None = None,
) -> DataFrame:
    """BM25 top-k with at most ``per_value`` docs per dictionary value of
    ``field`` (Lucene's field collapsing — one result per site/domain) →
    (query_id, doc_id, value, score, rank).

    Exact by construction: every live match is scored RELATIONALLY with
    the index's own statistics (``query.live_postings`` →
    ``query.bm25_scores``, float64; ``mode='and'`` keeps docs with every
    query term), the gathered dictionary code (``_gather``) keys a
    per-value row_number that keeps the best ``per_value`` docs of each
    (query, value) group under the engine tie rule, and the global top-k
    ranks the survivors.
    A kernel top-k then collapse would be INEXACT (a value's second doc
    could crowd out another value's best); scoring the full match set is
    the honest cost, the same Σ df(query terms) every facet aggregation
    pays. NULL-attribute docs (no dictionary entry) collapse as their own
    group per doc (never suppressed by each other). ``dv_filter``
    composes via filter_docs."""
    if per_value < 1:
        raise ValueError(f"per_value must be >= 1, got {per_value}")
    _check_field(index_dir, field, "dict", "collapse_topk", mode)
    from pyspark.sql import Window

    from similaripy_spark.operators.topk import top_k

    meta = read_meta(index_dir)
    qterms = query_terms(queries)
    scored = bm25_scores(
        qterms,
        live_postings(
            spark, index_dir, meta, qterms.select("term").distinct()
        ),
        index_dir, meta,
    )
    if mode == "and":
        scored = all_terms(scored, qterms)
    scored = scored.select("query_id", "doc_id", "score")
    if dv_filter:
        scored = filter_docs(spark, scored, index_dir, dv_filter)
    with_code = _gather(_with_shard(scored, meta), index_dir, field)
    # NULL-attribute docs (code 0) form per-doc singleton groups
    code = F.col(DV_COL)
    grp = F.when(code == 0, -F.col("doc_id") - 1).otherwise(
        code.cast("long")
    )
    w = Window.partitionBy("query_id", grp).orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    best = with_code.withColumn("__vr", F.row_number().over(w)).filter(
        F.col("__vr") <= per_value
    )
    ranked = top_k(
        best.select("query_id", "doc_id", "score", code.alias("code")),
        k, group="query_id", order_value="score", tiebreak="doc_id",
        keep_rank=True,
    )
    return ranked.join(
        F.broadcast(_dict_frame(spark, load_dict(index_dir, field))),
        "code", "left",
    ).select("query_id", "doc_id", "value", "score", "rank")


def facet_stats(
    spark: SparkSession,
    queries: DataFrame,
    index_dir: str,
    field: str,
    mode: str = "or",
) -> DataFrame:
    """Per-query numeric statistics of a doc-values field over the match
    set → (query_id, n_docs, vmin, vmax, vsum, vavg) — the stats
    aggregation next to search results (result-set size, value range,
    average length / recency). Same relational plan as facet_counts with
    the int64 value gathered instead of the dictionary code; NULL-valued
    docs (NUMERIC_NULL sentinel) are excluded from every statistic,
    tombstones from the match set."""
    _check_field(
        index_dir, field, "numeric", "facet_stats", mode,
        hint="use facet_counts for value counts",
    )
    v = F.col(DV_COL)
    gathered = _gather(
        match_set(spark, queries, index_dir, mode=mode), index_dir, field
    ).filter(v != int(NUMERIC_NULL))
    # the sum accumulates in decimal(38,0): a LongType F.sum silently
    # WRAPS on overflow in non-ANSI Spark, and epoch-microsecond values
    # (~1.75e15/doc, the documented crawl-date use) overflow int64 once a
    # match set passes ~5,300 docs. decimal(38,0) is exact to 10^38 —
    # unreachable — and vavg derives from it in ONE division, so the
    # result is also deterministic across plans (F.avg's double
    # accumulation is partial-agg-order dependent above 2^53).
    return gathered.groupBy("query_id").agg(
        F.count("*").alias("n_docs"),
        F.min(v).alias("vmin"),
        F.max(v).alias("vmax"),
        F.sum(v.cast("decimal(38,0)")).alias("vsum"),
    ).withColumn(
        # round the exact sum to double FIRST, then one double division —
        # the same expression shape as the SQL oracle's
        # CAST(SUM(v) AS DOUBLE) / COUNT(*), bit-identical across engines
        "vavg",
        F.col("vsum").cast("double") / F.col("n_docs").cast("double"),
    )
