"""Commit protocol: atomic-publish abstraction for index artifacts.

The build writes three kinds of artifacts — JSON manifests (meta, lineage),
parquet directories (segments, stats tables) — and needs exactly one
guarantee from the storage layer: *publish is all-or-nothing*, so a crashed
build never leaves a half-visible artifact and resume can trust what it
reads (write-then-commit, FIXTURES.md §6).

``LocalFSCommitProtocol`` realizes that with POSIX rename (atomic on one
filesystem). An object store (S3/GCS) has no atomic directory rename — its
implementation of this same interface instead writes each artifact under a
unique staged prefix and publishes by atomically swapping a small pointer
object (conditional PUT), the standard table-format commit design (e.g.
Iceberg's metadata-pointer swap). The engine only ever calls the methods
below, so that backend is a drop-in: nothing in index_build.py or
index_merge.py knows about rename.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from typing import Optional


class CommitProtocol:
    """Interface. Paths are engine-level logical paths (strings); whether
    they are POSIX paths or object-store keys is the implementation's
    business."""

    # --- reads -------------------------------------------------------------
    def exists(self, path: str) -> bool:
        raise NotImplementedError

    def read_json(self, path: str) -> dict:
        raise NotImplementedError

    def try_read_json(self, path: str) -> Optional[dict]:
        """None on missing OR torn/corrupt artifact (a torn manifest must
        read as 'not committed', never as an error)."""
        raise NotImplementedError

    def list_committed_json(self, directory: str, prefix: str) -> list[dict]:
        raise NotImplementedError

    # --- writes ------------------------------------------------------------
    def ensure_dir(self, path: str) -> None:
        raise NotImplementedError

    def publish_json(self, path: str, obj: dict) -> None:
        """Atomically make `obj` visible at `path` (readers see the old
        content or the new content, never a prefix)."""
        raise NotImplementedError

    def stage_path(self, final_path: str) -> str:
        """A scratch location for writing a directory artifact destined for
        `final_path`; cleared of any torn previous attempt."""
        raise NotImplementedError

    def commit_dir(self, staged_path: str, final_path: str) -> None:
        """Atomically publish the staged directory at `final_path`,
        replacing any previous committed version."""
        raise NotImplementedError

    def discard(self, staged_path: str) -> None:
        """Drop leftover staged scratch (idempotent; missing path is fine)."""
        raise NotImplementedError


    # --- resolution ---------------------------------------------------------
    def resolve(self, path: str) -> str:
        """Physical location of a committed directory artifact. Identity for
        rename-based backends; pointer-swap backends follow the pointer."""
        return path


def pointer_path(final_path: str) -> str:
    return final_path.rstrip("/") + ".ptr.json"


def detect_commit_protocol(index_dir: str) -> "CommitProtocol":
    """The protocol that committed this index's segments. Detection is
    unambiguous (pointer objects are only ever written by the pointer
    backend) and MATTERS for writers that add sibling artifacts later
    (append_to_index delta groups, delete_docs tombstone epochs):
    ``resolve_artifact_multi`` reads ONLY pointer entries once any exist,
    so a rename-committed delta beside pointer-committed groups would be
    silently invisible to every reader."""
    seg = os.path.join(index_dir, "segments")
    try:
        if any(n.endswith(".ptr.json") for n in os.listdir(seg)):
            return ObjectStoreCommitProtocol()
    except OSError:
        pass
    return LocalFSCommitProtocol()


def resolve_artifact(path: str) -> str:
    """Backend-independent reader-side resolution: if a pointer object
    exists for `path`, the committed data lives at the location it names;
    otherwise `path` itself is the data (rename backend). Pointer files are
    only ever written by ``ObjectStoreCommitProtocol``, so detection is
    unambiguous."""
    try:
        with open(pointer_path(path)) as f:
            return json.load(f)["location"]
    except (OSError, json.JSONDecodeError, KeyError):
        return path


def resolve_artifact_multi(
    directory: str, glob_prefix: str = ""
) -> list[tuple[str, str]] | None:
    """For a directory of sibling artifacts (segments/group=G): the list of
    (artifact_name, committed physical location) pairs if this directory is
    pointer-committed, else None (rename backend — read the directory
    itself). ``artifact_name`` is the pointer stem (e.g. ``group=3``) so
    callers can reconstruct partition-column values that rename-mode
    partition discovery would have provided."""
    if not os.path.isdir(directory):
        return None
    ptrs = sorted(
        f for f in os.listdir(directory)
        if f.startswith(glob_prefix) and f.endswith(".ptr.json")
    )
    if not ptrs:
        return None
    out = []
    for f in ptrs:
        try:
            with open(os.path.join(directory, f)) as fh:
                out.append((f[: -len(".ptr.json")], json.load(fh)["location"]))
        except (OSError, json.JSONDecodeError, KeyError):
            continue  # torn pointer ⇒ that artifact is not committed
    return out


class LocalFSCommitProtocol(CommitProtocol):
    """POSIX implementation: temp + rename. Suffix-based staging keeps the
    temp on the same filesystem so `os.replace` stays atomic."""

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def read_json(self, path: str) -> dict:
        with open(path) as f:
            return json.load(f)

    def try_read_json(self, path: str) -> Optional[dict]:
        try:
            with open(path) as f:
                return json.load(f)
        except (OSError, json.JSONDecodeError):
            return None

    def list_committed_json(self, directory: str, prefix: str) -> list[dict]:
        if not os.path.isdir(directory):
            return []
        out = []
        for f in sorted(os.listdir(directory)):
            if f.startswith(prefix) and f.endswith(".json"):
                rec = self.try_read_json(os.path.join(directory, f))
                if rec is not None:
                    out.append(rec)
        return out

    def ensure_dir(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def publish_json(self, path: str, obj: dict) -> None:
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(obj, f, indent=1)
        os.replace(tmp, path)

    def stage_path(self, final_path: str) -> str:
        staged = final_path + "__tmp"
        if os.path.isdir(staged):
            shutil.rmtree(staged)  # torn previous attempt
        return staged

    def commit_dir(self, staged_path: str, final_path: str) -> None:
        if os.path.isdir(final_path):
            shutil.rmtree(final_path)  # replace previous committed version
        os.replace(staged_path, final_path)

    def discard(self, staged_path: str) -> None:
        if os.path.isdir(staged_path):
            shutil.rmtree(staged_path)


class ObjectStoreCommitProtocol(CommitProtocol):
    """Object-store commit semantics: immutable versioned prefixes + an
    atomic pointer swap — the table-format commit design (Iceberg's
    metadata-pointer swap), because S3/GCS have no atomic directory rename.

    * ``stage_path`` hands out a UNIQUE versioned prefix per attempt
      (``_versions/<name>__v<uuid>``). A crashed attempt is unreferenced
      garbage — correctness never requires deleting it (object-store
      lifecycle rules or ``vacuum`` reclaim space).
    * ``commit_dir`` publishes by writing a small pointer object
      ``<final>.ptr.json`` naming the versioned prefix. On a real object
      store this is one conditional PUT (If-None-Match / x-goog-if-
      generation-match) — atomic, and detecting concurrent committers; the
      local simulation uses the same single-object atomic replace.
    * Readers resolve through ``resolve``/``resolve_artifact`` — the
      engine's ``read_segments``/``read_term_stats`` auto-detect pointer
      files, so an index committed by THIS backend is readable by the
      same code that reads a rename-committed one.

    The filesystem here stands in for the store (keys = paths); swapping the
    open/replace calls for S3 Get/PutObject is mechanical and the interface
    boundary is exactly this class — nothing in index_build.py changes.
    """

    def exists(self, path: str) -> bool:
        return os.path.exists(path) or os.path.exists(pointer_path(path))

    def read_json(self, path: str) -> dict:
        with open(path) as f:
            return json.load(f)

    def try_read_json(self, path: str) -> Optional[dict]:
        try:
            with open(path) as f:
                return json.load(f)
        except (OSError, json.JSONDecodeError):
            return None

    def list_committed_json(self, directory: str, prefix: str) -> list[dict]:
        if not os.path.isdir(directory):
            return []
        out = []
        for f in sorted(os.listdir(directory)):
            if f.startswith(prefix) and f.endswith(".json"):
                rec = self.try_read_json(os.path.join(directory, f))
                if rec is not None:
                    out.append(rec)
        return out

    def ensure_dir(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def publish_json(self, path: str, obj: dict) -> None:
        # single-object PUT is atomic on an object store; local twin below
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + f".put-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            json.dump(obj, f, indent=1)
        os.replace(tmp, path)

    def stage_path(self, final_path: str) -> str:
        final_path = final_path.rstrip("/")
        staged = os.path.join(
            os.path.dirname(final_path),
            "_versions",
            os.path.basename(final_path) + "__v" + uuid.uuid4().hex[:12],
        )
        os.makedirs(os.path.dirname(staged), exist_ok=True)
        return staged

    def commit_dir(self, staged_path: str, final_path: str) -> None:
        # Record the location in canonical form so liveness checks
        # (vacuum_versions) never depend on the spelling the builder used
        # for index_dir (relative vs absolute vs symlinked).
        self.publish_json(
            pointer_path(final_path),
            {"location": os.path.realpath(staged_path), "committed": True},
        )

    def discard(self, staged_path: str) -> None:
        """No-op BY DESIGN: a staged prefix may be (partially) referenced by
        pointers — the batched build commits subdirectories of one staged
        parent, then discards the parent handle. On an object store you
        never synchronously delete around a commit; unreferenced prefixes
        are reclaimed asynchronously (``vacuum_versions`` / lifecycle
        rules), which is also what makes a crashed committer harmless."""

    def resolve(self, path: str) -> str:
        return resolve_artifact(path)


def vacuum_versions(index_dir: str) -> int:
    """Reclaim unreferenced versioned prefixes under an index committed with
    ``ObjectStoreCommitProtocol``: collect every location referenced by any
    ``*.ptr.json`` under the tree, then remove ``_versions`` entries that
    neither are referenced nor contain a referenced location. Returns the
    number of prefixes removed. Safe at any time — pointers are the single
    source of truth for liveness.

    Both sides of the liveness comparison are canonicalized with
    ``os.path.realpath``: pointer locations were recorded with whatever
    spelling of index_dir the builder used (possibly relative, or through a
    symlink), while candidates come from walking the index_dir spelling the
    CALLER used — a raw string comparison between the two would miss every
    live prefix and delete committed data."""
    live: set[str] = set()
    for root, _dirs, files in os.walk(index_dir):
        for f in files:
            if f.endswith(".ptr.json"):
                try:
                    with open(os.path.join(root, f)) as fh:
                        live.add(os.path.realpath(json.load(fh)["location"]))
                except (OSError, json.JSONDecodeError, KeyError):
                    continue
    removed = 0
    for root, dirs, _files in os.walk(index_dir):
        if os.path.basename(root) != "_versions":
            continue
        for d in list(dirs):
            p = os.path.realpath(os.path.join(root, d))
            if p in live or any(loc.startswith(p + os.sep) for loc in live):
                continue
            shutil.rmtree(p, ignore_errors=True)
            removed += 1
        dirs.clear()  # don't descend into version payloads
    return removed
