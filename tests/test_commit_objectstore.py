"""Object-store commit backend: pointer-swap publishes (no directory
rename), backend-transparent reads, crash/resume, and garbage reclaim.

The reference publishes its model as an in-memory scipy matrix (no commit
story: similaripy/similarity.py returns the result directly); the commit
protocol is engine infrastructure the north rule adds (checkpoint-resumable
build with per-partition lineage). ``ObjectStoreCommitProtocol`` realizes
the same interface with S3/GCS-compatible semantics: immutable versioned
prefixes + atomic pointer swap, the Iceberg metadata-pointer design.
"""

from __future__ import annotations

import json
import os

import pytest

from similaripy_spark.fulltext.commit import (
    LocalFSCommitProtocol,
    ObjectStoreCommitProtocol,
    pointer_path,
    vacuum_versions,
)
from similaripy_spark.fulltext.index_build import (
    IndexBuilder,
    read_meta,
    read_segments,
    read_term_stats,
)
from similaripy_spark.fulltext.wand import segment_topk
from similaripy_spark.sources.pages import generate_pages, generate_queries_pandas

N_DOCS, VOCAB = 800, 900


def _build(spark, d, commit, **kw):
    pages = generate_pages(spark, N_DOCS, vocab_size=VOCAB)
    b = IndexBuilder(d, shard_size=256, n_groups=3, commit=commit)
    b.build(pages, **kw)
    return b


def _query_pdf(spark, d):
    q = spark.createDataFrame(generate_queries_pandas(40, vocab_size=VOCAB))
    return (
        segment_topk(read_segments(spark, d), q, k=10, index_dir=d)
        .orderBy("query_id", "rank")
        .toPandas()
    )


def test_objectstore_build_parity_with_localfs(spark, tmp_path):
    """Same corpus through both backends ⇒ identical query results, and the
    pointer-committed index contains NO renamed directories — every data
    prefix is immutable and pointer-referenced."""
    d_os, d_fs = str(tmp_path / "os"), str(tmp_path / "fs")
    _build(spark, d_os, ObjectStoreCommitProtocol())
    _build(spark, d_fs, LocalFSCommitProtocol())

    r_os, r_fs = _query_pdf(spark, d_os), _query_pdf(spark, d_fs)
    assert r_os.equals(r_fs)

    # physical layout really is pointer-swap: segments/ holds only pointers
    seg = os.path.join(d_os, "segments")
    entries = sorted(os.listdir(seg))
    assert entries and all(e.endswith(".ptr.json") for e in entries)
    for e in entries:
        loc = json.load(open(os.path.join(seg, e)))["location"]
        assert "_versions" in loc and os.path.isdir(loc)
    # stats tables resolve through their pointers too
    assert read_term_stats(spark, d_os).count() == \
        read_term_stats(spark, d_fs).count()
    assert read_meta(d_os)["n_docs"] == N_DOCS


def test_objectstore_crash_resume(spark, tmp_path, monkeypatch):
    """Crash after one committed group: resume publishes only the missing
    groups (lineage is authoritative), and the finished index matches a
    clean one-shot build."""
    d = str(tmp_path / "crash")
    commit = ObjectStoreCommitProtocol()
    orig = IndexBuilder._publish_lineage
    calls = {"n": 0}

    def boom(self, *args):
        if calls["n"] >= 1:
            raise RuntimeError("injected failure after 1 group")
        calls["n"] += 1
        return orig(self, *args)

    with monkeypatch.context() as mp:
        mp.setattr(IndexBuilder, "_publish_lineage", boom)
        with pytest.raises(RuntimeError, match="injected failure"):
            _build(spark, d, commit)
    b = IndexBuilder(d, shard_size=256, n_groups=3, commit=commit)
    done_before = b.committed_groups()
    assert len(done_before) == 1
    b.build(generate_pages(spark, N_DOCS, vocab_size=VOCAB))
    assert b.committed_groups() == {0, 1, 2}

    d_ref = str(tmp_path / "ref")
    _build(spark, d_ref, ObjectStoreCommitProtocol())
    assert _query_pdf(spark, d).equals(_query_pdf(spark, d_ref))


def test_objectstore_rebuild_and_vacuum(spark, tmp_path):
    """A full rebuild swaps pointers to new prefixes; the superseded
    prefixes survive until vacuum (so concurrent readers of the old version
    never see a hole), then vacuum reclaims exactly the unreferenced ones
    and reads still work."""
    d = str(tmp_path / "rb")
    commit = ObjectStoreCommitProtocol()
    _build(spark, d, commit)
    before = _query_pdf(spark, d)

    _build(spark, d, commit, resume=False)  # rebuild: new version prefixes
    removed = vacuum_versions(d)
    assert removed > 0  # the superseded build's prefixes
    after = _query_pdf(spark, d)
    assert before.equals(after)
    assert vacuum_versions(d) == 0  # idempotent


def test_torn_pointer_reads_as_uncommitted(tmp_path):
    """A torn pointer object (crashed conditional PUT) must read as 'not
    committed', never as an error."""
    commit = ObjectStoreCommitProtocol()
    final = str(tmp_path / "art")
    staged = commit.stage_path(final)
    os.makedirs(staged, exist_ok=True)
    with open(pointer_path(final), "w") as f:
        f.write('{"locat')  # torn write
    assert commit.resolve(final) == final  # falls back: no committed version
    commit.commit_dir(staged, final)
    assert commit.resolve(final) == os.path.realpath(staged)


def test_vacuum_path_spelling_independent(spark, tmp_path):
    """Liveness must not depend on path spelling: build under one spelling
    of index_dir, vacuum through a SYMLINKED spelling. A raw string
    comparison between pointer locations (recorded under the build
    spelling) and walked candidates (under the vacuum spelling) would
    match nothing and delete every committed prefix — the reads after
    vacuum are the data-loss check."""
    commit = ObjectStoreCommitProtocol()
    real = str(tmp_path / "idx")
    _build(spark, real, commit)
    before = _query_pdf(spark, real)
    link = str(tmp_path / "idx_link")
    os.symlink(real, link)
    assert vacuum_versions(link) == 0  # every committed prefix is live
    after = _query_pdf(spark, real)
    assert before.equals(after)


def test_pointer_read_segments_has_group_column(spark, tmp_path):
    """Both commit backends must yield the same segment schema: pointer-mode
    reads resolve leaves under _versions/ where partition discovery can't
    see group=G, so read_segments reconstructs the column."""
    d_ptr = str(tmp_path / "ptr")
    d_fs = str(tmp_path / "fs")
    _build(spark, d_ptr, ObjectStoreCommitProtocol())
    _build(spark, d_fs, LocalFSCommitProtocol())
    seg_ptr = read_segments(spark, d_ptr)
    seg_fs = read_segments(spark, d_fs)
    assert sorted(seg_ptr.columns) == sorted(seg_fs.columns)
    tp = dict(seg_ptr.dtypes)["group"]
    tf = dict(seg_fs.dtypes)["group"]
    assert tp == tf, (tp, tf)
    g_ptr = sorted(r["group"] for r in seg_ptr.select("group").distinct().collect())
    g_fs = sorted(r["group"] for r in seg_fs.select("group").distinct().collect())
    assert g_ptr == g_fs == [0, 1, 2]
